package graft

import org.apache.spark.sql.functions._
import graft.ops.Ops
import graft.expr.Exprs

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def events = Seq(
    // (id, key, ts)
    (1L, "a@x", "2024-01-01 10:00:00"),
    (2L, "a@x", "2024-01-02 10:00:00"), // latest for a@x
    (3L, "b@x", "2024-01-01 09:00:00"),
    (4L, "b@x", "2024-01-01 09:00:00"), // tie: higher id wins
    (5L, "c@x", null),                  // null ts loses to nothing => kept
    (6L, null, "2024-01-05 00:00:00"))  // null key
    .toDF("id", "email", "ts_raw")
    .withColumn("ts", col("ts_raw").cast("timestamp")).drop("ts_raw")

  test("W1 dedupKeepLatest: max ts per key, ties by id desc, nulls lose") {
    val out = events.transform(Ops.dropNullKeys(Seq("email")))
      .transform(Ops.dedupKeepLatest(Seq("email"), "ts", "id"))
      .select("id", "email").as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "a@x", 4L -> "b@x", 5L -> "c@x"))
  }

  test("W1 dedup keep modes: last == keep-latest, first keeps null-ts row, all passes through") {
    val nonNullKeys = events.transform(Ops.dropNullKeys(Seq("email")))
    assert(nonNullKeys.transform(Ops.dedup(Seq("email"), "ts", "id", keep = "last")).collect().toSet ==
      nonNullKeys.transform(Ops.dedupKeepLatest(Seq("email"), "ts", "id")).collect().toSet)
    // pandas sorts NaT first then drop_duplicates keep='first': earliest
    // real ts wins, and a null ts would win its key outright
    val first = nonNullKeys.transform(Ops.dedup(Seq("email"), "ts", "id", keep = "first"))
      .select("id", "email").as[(Long, String)].collect().toMap
    assert(first == Map(1L -> "a@x", 3L -> "b@x", 5L -> "c@x"))
    assert(events.transform(Ops.dedup(Seq("email"), "ts", "id", keep = "all")).count() ==
      events.count(), "keep='all' is a passthrough")
    intercept[IllegalArgumentException] {
      Ops.dedup(Seq("email"), "ts", "id", keep = "weird")(events)
    }
  }

  test("W1 dedupStats: per-key count, kept id matches dedupKeepLatest, sorted members") {
    val stats = events.transform(Ops.dropNullKeys(Seq("email")))
      .transform(Ops.dedupStats(Seq("email"), "ts", "id"))
    val byKey = stats.select("email", "dup_count", "removed_count", "kept_id", "ids")
      .as[(String, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(byKey.keySet == Set("a@x", "b@x"), "only duplicated keys reported")
    assert(byKey("a@x") == (("a@x", 2L, 1L, 2L, "1,2")))
    assert(byKey("b@x") == (("b@x", 2L, 1L, 4L, "3,4")), "tie keeps higher id")
  }

  test("W1 property: output keys distinct; kept ts is partition max (seeded random)") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 500).map { i =>
      (i.toLong, s"k${rnd.nextInt(40)}", f"2024-01-${1 + rnd.nextInt(28)}%02d 00:00:00")
    }
    val df = rows.toDF("id", "k", "t").withColumn("ts", col("t").cast("timestamp"))
    val out = df.transform(Ops.dedupKeepLatest(Seq("k"), "ts", "id"))
    assert(out.groupBy("k").count().filter(col("count") > 1).count() == 0)
    val maxes = df.groupBy("k").agg(max("ts").as("mx"))
    assert(out.join(maxes, "k").filter(col("ts") =!= col("mx")).count() == 0)
  }

  test("P6 coalesceAliases: fallback keys, missing sources => null") {
    val raw = Seq(("u1", null, "Bob", "p.png"), ("u2", "Alice", null, null))
      .toDF("id", "name", "displayName", "photoURL")
    val out = raw.transform(Ops.coalesceAliases(Seq(
      "id" -> Seq("id"),
      "name" -> Seq("name", "displayName"),
      "photo" -> Seq("photo", "photoURL"),
      "city" -> Seq("city"))))
    assert(out.columns.toSeq == Seq("id", "name", "photo", "city"))
    val m = out.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(m("u1") == (("Bob", "p.png", null)))
    assert(m("u2") == (("Alice", null, null)))
  }

  test("J1 enrichFromAuth: left-outer overlay, provider logic, broadcast plan") {
    val users = Seq(("u1", "db@x"), ("u2", null), ("u3", null))
      .toDF("uid", "email")
    val auth = Seq(("u1", "auth1@x", true, Seq("password")),
      ("u2", "g@x", false, Seq("google.com")))
      .toDF("uid", "email", "email_verified", "provider_ids")
    val out = Ops.enrichFromAuth(users, auth, "uid")
    val m = out.collect().map(r => r.getAs[String]("uid") ->
      ((r.getAs[String]("email"), r.getAs[String]("provider"), r.getAs[String]("authSource")))).toMap
    assert(m("u1") == (("db@x", "CREDENTIALS", "database")))
    assert(m("u2") == (("g@x", "google.com", "auth")))
    assert(m("u3") == ((null, "google.com", "none"))) // left-outer null-fill
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small auth side must broadcast")
  }

  test("J2 resolveIdConflicts: conflicting ids rewritten, others pass, count preserved") {
    val incoming = Seq("a", "b", "c", "d").toDF("id")
    val existing = Seq("b", "d", "zz").toDF("id")
    val out = Ops.resolveIdConflicts(incoming, existing, "id").as[String].collect().toSet
    assert(out.size == 4)
    assert(out.contains("a") && out.contains("c"))
    assert(!out.contains("b") && !out.contains("d"))
    assert((out -- Set("a", "c")).forall(_.length == 20)) // uuid-20 rewrites

    // idCol not first, duplicate and NULL keys in existing, a NULL id in
    // incoming: against the anti/semi/union form the flagged join replaced
    val wide = Seq[(Long, Option[String], String)](
      (1L, Some("a"), "p"), (2L, Some("b"), "q"), (3L, None, "r"),
      (4L, Some("d"), "s"), (5L, Some("b"), "t"))
      .toDF("n", "id", "tag")
    val known = Seq[Option[String]](Some("b"), Some("b"), None, Some("d"), Some("zz"))
      .toDF("id")
    val newId = Exprs.deterministicKey20(concat(lit("conflict:"), col("n").cast("string")))
    val got = Ops.resolveIdConflicts(wide, known, "id", newId)
    assert(got.columns.toSeq == wide.columns.toSeq, "incoming's column order is kept")
    val keys = broadcast(known.select(col("id")).distinct())
    val reference = wide.join(keys, Seq("id"), "left_anti")
      .unionByName(wide.join(keys, Seq("id"), "left_semi")
        .withColumn("id", newId.cast("string")))
      .select(wide.columns.map(col): _*)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(reference))
    val byN = got.select("n", "id").as[(Long, String)].collect().toMap
    assert(byN(3L) == null, "a NULL id passes through unchanged")
    assert(byN(1L) == "a" && byN(4L) != "d" && byN(2L) != byN(5L))

    // incoming is read once: one scan of a parquet-backed input, not two
    val dir = java.nio.file.Files.createTempDirectory("j2_scan_").toString + "/in"
    wide.write.parquet(dir)
    val plan = Ops.resolveIdConflicts(spark.read.parquet(dir), known, "id", newId)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("§2.8 validateSplit: rows fail, not the job; report counts") {
    val df = Seq((1L, "ok", 10.0), (2L, "error", 10.0), (3L, "ok", 999.0))
      .toDF("id", "typ", "v")
    val checks = Seq("bad_type" -> (col("typ") === "error"), "range" -> (col("v") > 100))
    val (valid, invalid) = Ops.validateSplit(checks)(df)
    assert(valid.select("id").as[Long].collect().toSet == Set(1L))
    val errs = invalid.select(col("id"), concat_ws(";", col("errors")).as("e"))
      .as[(Long, String)].collect().toMap
    assert(errs == Map(2L -> "bad_type", 3L -> "range"))
    val rep = Ops.validationReport(Ops.withErrors(checks)(df)).collect()(0)
    assert(rep.getAs[Long]("total") == 3 && rep.getAs[Long]("valid") == 1)
    assert(math.abs(rep.getAs[Double]("success_rate") - 100.0 / 3) < 1e-9)
  }

  test("A1 duplicateKeyStats") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "k")
    val out = Ops.duplicateKeyStats(df, "k", "id").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("k") == "x" && out(0).getAs[Long]("cnt") == 2)
    assert(out(0).getAs[String]("ids") == "1,2")
  }

  test("A8 summaryStats matches exact formulas") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val r = Ops.summaryStats(df, "x", 2).collect()(0)
    assert(r.getAs[Long]("cnt") == 4 && r.getAs[Double]("mean_v") == 2.5)
    assert(math.abs(r.getAs[Double]("std_v") - math.sqrt(5.0 / 3)) < 1e-12)
  }

  private def tsDf(rows: Seq[(Long, Long, String)], cols: (String, String, String)) =
    rows.toDF(cols._1, cols._2, "t")
      .withColumn(cols._3, col("t").cast("timestamp")).drop("t")

  test("asofJoin: latest right at-or-before left ts; inclusive tie; null when none") {
    val left = tsDf(Seq(
      (10L, 1L, "2024-01-01 10:00:00"),   // after r1, before r2
      (11L, 1L, "2024-01-01 12:00:00"),   // exactly r2's ts -> inclusive match
      (12L, 1L, "2024-01-01 08:00:00"),   // before any right row -> null
      (13L, 2L, "2024-01-01 10:00:00")),  // key with no right rows -> null
      ("event_id", "user_id", "ts"))
    val right = tsDf(Seq(
      (101L, 1L, "2024-01-01 09:00:00"),
      (102L, 1L, "2024-01-01 12:00:00")),
      ("rid", "user_id", "ts"))
    val out = Ops.asofJoin(left, right, Seq("user_id"), "ts", "ts", Seq("rid"))
      .select("event_id", "rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out == Map(10L -> Some(101L), 11L -> Some(102L), 12L -> None, 13L -> None))
  }

  test("asofJoinTolerance: stale matches null out; exact boundary is fresh") {
    val left = tsDf(Seq(
      (10L, 1L, "2024-01-01 10:00:00"),   // match 30 min old -> fresh
      (11L, 1L, "2024-01-01 11:30:00"),   // match exactly 1h old -> fresh (<=)
      (12L, 1L, "2024-01-01 11:30:01"),   // match 1h1s old -> STALE -> null
      (13L, 2L, "2024-01-01 10:00:00")),  // no right rows -> null
      ("event_id", "user_id", "ts"))
    val right = tsDf(Seq(
      (101L, 1L, "2024-01-01 09:30:00"),
      (102L, 1L, "2024-01-01 10:30:00")),
      ("rid", "user_id", "ts"))
    val out = Ops.asofJoinTolerance(left, right, Seq("user_id"), "ts", "ts",
        Seq("rid"), toleranceSeconds = 3600L)
      .select("event_id", "rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out == Map(10L -> Some(101L), 11L -> Some(102L), 12L -> None,
      13L -> None), s"got $out")
    // tolerance 0: only exact-timestamp matches survive
    val zero = Ops.asofJoinTolerance(left, right, Seq("user_id"), "ts", "ts",
        Seq("rid"), toleranceSeconds = 0L)
      .select("event_id", "rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(zero.values.forall(_.isEmpty), s"got $zero")
    intercept[IllegalArgumentException](Ops.asofJoinTolerance(left, right,
      Seq("user_id"), "ts", "ts", Seq("rid"), toleranceSeconds = -1L))
  }

  test("asofJoinForward: earliest right at-or-after; inclusive tie lowest id; null past end") {
    val left = tsDf(Seq(
      (10L, 1L, "2024-01-01 10:00:00"),   // before r2 -> next is r2
      (11L, 1L, "2024-01-01 12:00:00"),   // exactly r2/r3 ts -> ties to LOWEST rid
      (12L, 1L, "2024-01-01 13:00:00"),   // after all right rows -> null
      (13L, 2L, "2024-01-01 10:00:00")),  // key with no right rows -> null
      ("event_id", "user_id", "ts"))
    val right = tsDf(Seq(
      (101L, 1L, "2024-01-01 09:00:00"),  // behind every left row
      (102L, 1L, "2024-01-01 12:00:00"),
      (103L, 1L, "2024-01-01 12:00:00")), // equal-ts tie
      ("rid", "user_id", "ts"))
    val out = Ops.asofJoinForward(left, right, Seq("user_id"), "ts", "ts",
        Seq("rid"), tieBreak = Some("rid"))
      .select("event_id", "rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out == Map(10L -> Some(102L), 11L -> Some(102L), 12L -> None, 13L -> None))
  }

  test("asofJoin: a null payload value in the matching right row is NOT skipped") {
    // two payload columns, null-interleaved: the as-of match must take
    // BOTH values from the single matching right row — per-column
    // last(ignoreNulls) would resurrect v='x' from the older row and
    // stitch (v=x, u=y), a combined row that never existed
    val left = tsDf(Seq((10L, 1L, "2024-01-01 13:00:00")), ("event_id", "user_id", "ts"))
    val right = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "x", null),
        org.apache.spark.sql.Row(1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), null, "y"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.StringType))))
    val out = Ops.asofJoin(left, right, Seq("user_id"), "ts", "ts", Seq("v", "u"))
      .select("v", "u").collect()(0)
    assert(out.isNullAt(0) && out.getString(1) == "y",
      s"must take (null, y) from the 12:00 row, got $out")
  }

  test("asofJoin and sessionize plans have exactly one exchange (scale property)") {
    val left = tsDf(Seq((1L, 1L, "2024-01-01 10:00:00")), ("event_id", "user_id", "ts"))
    val right = tsDf(Seq((2L, 1L, "2024-01-01 09:00:00")), ("rid", "user_id", "ts"))
    // AQE hides children behind AdaptiveSparkPlanExec; count shuffle
    // exchanges from the printed plan instead.
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(nExchanges(Ops.asofJoin(left, right, Seq("user_id"), "ts", "ts", Seq("rid"))) == 1)
    assert(nExchanges(Ops.sessionize(Seq("user_id"), "ts", 1800L)(left)) == 1)
  }

  test("sessionize: new session strictly beyond the gap; per-key numbering") {
    val df = tsDf(Seq(
      (1L, 7L, "2024-01-01 10:00:00"),
      (2L, 7L, "2024-01-01 10:30:00"),    // exactly gap -> same session
      (3L, 7L, "2024-01-01 11:00:01"),    // gap + 1s -> new session
      (4L, 8L, "2024-01-01 10:00:00")),   // separate key restarts numbering
      ("event_id", "user_id", "ts"))
    val out = Ops.sessionize(Seq("user_id"), "ts", 1800L)(df)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("rangeJoinBinned: half-open intervals, overlap allowed, bin-crossing ranges") {
    val fact = Seq((1L, 5.0), (2L, 25.0), (3L, 30.0), (4L, 99.0)).toDF("id", "v")
    val ranges = Seq(("lo", 0.0, 30.0), ("hi", 25.0, 100.0), ("all", 0.0, 100.0))
      .toDF("band", "lo", "hi")
    val out = Ops.rangeJoinBinned(fact, ranges, "v", "lo", "hi", 10.0)
      .select("id", "band").as[(Long, String)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(out == Map(
      1L -> Set("lo", "all"),
      2L -> Set("lo", "hi", "all"),   // overlapping bands both match
      3L -> Set("hi", "all"),         // 30.0 excluded from [0,30)
      4L -> Set("hi", "all")))
  }

  test("rangeJoinBinned: no epsilon loss when hi sits just above a bin boundary") {
    // regression: an epsilon-adjusted upper bin once dropped facts whose
    // value fell within the epsilon above a bin boundary
    val fact = Seq((1L, 20.0000000001)).toDF("id", "v")
    val ranges = Seq(("r", 0.0, 20.0000000005)).toDF("band", "lo", "hi")
    assert(Ops.rangeJoinBinned(fact, ranges, "v", "lo", "hi", 10.0).count() == 1)
  }

  test("connectedComponents: chain + clique + isolate pair, min-id labels, fixpoint") {
    // 1-2-3-4-5 chain (diameter 4 forces real propagation), 10-11-12
    // triangle, 20-21 pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("a", "b")
    val labels = Ops.connectedComponents(edges, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // fixpoint: an extra iteration changes nothing
    val more = Ops.connectedComponents(edges, iters = 6).as[(Long, Long)].collect().toMap
    assert(more == labels)
  }

  test("connectedComponents: one action per round (checksum fused via observe) + early stop") {
    // Two already-min-labeled pairs: round 1 reaches the fixpoint, round
    // 2 confirms it (equal checksum) and the loop must stop there even
    // with iters = 8. Expected SQL executions: edge checkpoint + ONE
    // per round (the convergence checksum rides the checkpoint job via
    // observe; sym is a plain union over the edge blocks, no second
    // checkpoint) = 3. A separate checksum action would make 5; no
    // early stop would make 9.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val edges = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      val labels = Ops.connectedComponents(edges, iters = 8)
        .as[(Long, Long)].collect().toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
      // listener bus is async: poll until the count stabilizes
      var last = -1
      var stable = 0
      while (stable < 3 && last < 20) {
        val now = execs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      // 3 loop executions + 1 for the final collect above
      assert(execs.get() == 4,
        s"expected 4 SQL executions (edge checkpoint + 2 fused rounds + collect), got ${execs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("saltedJoin rejects right/full outer (replicated small side would duplicate)") {
    val df = Seq((1L, 1L)).toDF("id", "k")
    intercept[IllegalArgumentException] {
      Ops.saltedJoin(df, df, "k", shardBy = "id", joinType = "full_outer")
    }
  }

  test("preferencePairs: extremes with margin; ties and singletons drop") {
    val log = Seq(
      (1L, 10L, 5.0), (1L, 11L, 1.0), (1L, 12L, 3.0), // normal pair
      (2L, 20L, 2.0),                                  // single event: no pair
      (3L, 30L, 4.0), (3L, 31L, 4.0),                  // zero margin: no pair
      (4L, 40L, 7.0), (4L, 41L, 7.0), (4L, 42L, 2.0))  // tie on best: low id wins
      .toDF("user_id", "event_id", "value")
    val out = Ops.preferencePairs(log, "user_id", "event_id", "value")
      .orderBy("user_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 10L, 11L, 4.0), (4L, 40L, 42L, 5.0)), s"got $out")
  }

  test("exactCorr: +1 on linear, -1 on anti-linear, partitioning-independent") {
    val xs = (1L to 200L).map(i => (i.toDouble, 3.0 * i + 7, -2.0 * i + 9))
      .toDF("x", "y_pos", "y_neg")
    val up = Ops.exactCorr(xs, "x", "y_pos", 2).collect()(0).getDouble(1)
    val dn = Ops.exactCorr(xs, "x", "y_neg", 2).collect()(0).getDouble(1)
    assert(math.abs(up - 1.0) < 1e-12 && math.abs(dn + 1.0) < 1e-12, s"$up $dn")
    val a = Ops.exactCorr(xs, "x", "y_pos", 2).collect()(0).getDouble(1)
    val b = Ops.exactCorr(xs.repartition(17), "x", "y_pos", 2).collect()(0).getDouble(1)
    assert(a == b, "exact sums must make corr partition-order independent")
  }

  test("funnel: strict ordering, earliest-completion, monotone counts") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val log = Seq(
      (1L, "a", ts(1)), (1L, "b", ts(2)), (1L, "c", ts(3)),   // completes a,b,c
      (2L, "a", ts(5)), (2L, "b", ts(4)),                     // b BEFORE a: stops at a
      (3L, "b", ts(1)), (3L, "a", ts(2)), (3L, "b", ts(3)),   // later b counts
      (4L, "a", ts(1)), (4L, "c", ts(2)))                     // skips b: stops at a
      .toDF("user_id", "event_type", "ts")
    val out = Ops.funnel(log, "user_id", "event_type", "ts", Seq("a", "b", "c"))
      .orderBy("step_idx").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((0L, "a", 4L), (1L, "b", 2L), (2L, "c", 1L)), s"got $out")
    assert(out.map(_._3) == out.map(_._3).sorted.reverse, "funnel must be monotone")
  }

  test("funnel maxGap: window bites, greedy anchor does not re-anchor") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val gap = Some(expr("INTERVAL 2 MINUTES"))
    val log = Seq(
      (1L, "a", ts(1)), (1L, "b", ts(2)),                    // b inside window
      (2L, "a", ts(1)), (2L, "b", ts(10)),                   // b expired
      // greedy anchor: earliest a at :01 opens (:01,:03]; the :05 b
      // misses it even though anchoring on the LATER a at :04 would
      // catch it — the documented deterministic convention
      (3L, "a", ts(1)), (3L, "a", ts(4)), (3L, "b", ts(5)),
      (4L, "a", ts(1)), (4L, "b", ts(3)))                    // boundary: t = prev+gap included
      .toDF("user_id", "event_type", "ts")
    val out = Ops.funnel(log, "user_id", "event_type", "ts", Seq("a", "b"), gap)
      .orderBy("step_idx").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((0L, "a", 4L), (1L, "b", 2L)), s"got $out")
  }

  test("funnelSinglePass: differential equal to the k-scan funnel, windowed and not") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val log = Seq(
      (1L, "a", ts(1)), (1L, "b", ts(2)), (1L, "c", ts(3)),
      (2L, "a", ts(5)), (2L, "b", ts(4)),
      (3L, "b", ts(1)), (3L, "a", ts(2)), (3L, "b", ts(3)),
      (4L, "a", ts(1)), (4L, "c", ts(2)),
      (5L, "a", ts(1)), (5L, "a", ts(4)), (5L, "b", ts(5)), (5L, "c", ts(6)),
      (6L, "x", ts(1)), (6L, "a", ts(2)))                    // non-step noise
      .toDF("user_id", "event_type", "ts")
    for (gap <- Seq(None, Some(expr("INTERVAL 2 MINUTES")))) {
      val kScan = Ops.funnel(log, "user_id", "event_type", "ts",
        Seq("a", "b", "c"), gap).orderBy("step_idx")
        .as[(Long, String, Long)].collect().toSeq
      val onePass = Ops.funnelSinglePass(log, "user_id", "event_type", "ts",
        Seq("a", "b", "c"), gap).orderBy("step_idx")
        .as[(Long, String, Long)].collect().toSeq
      assert(onePass == kScan, s"gap=$gap: $onePass vs $kScan")
    }
    // empty log still reports every step at 0, like the k-scan shape
    val empty = Ops.funnelSinglePass(log.filter(col("user_id") < 0),
        "user_id", "event_type", "ts", Seq("a", "b"))
      .as[(Long, String, Long)].collect().toSeq
    assert(empty == Seq((0L, "a", 0L), (1L, "b", 0L)))
  }

  test("pageRank: hand-computed exact integer ranks, partitioning-independent") {
    // A -> B, A -> C, B -> C, C -> A (unit weights); base = 1e9/3
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L), ("C", "A", 1L))
      .toDF("src", "dst", "w")
    val b = 333333333L
    // iter 1 by hand: contrib(B) = b div 2; contrib(C) = b div 2 + b;
    // contrib(A) = b; update = (15b + 85c) div 100
    val expected = Map(
      "A" -> (15 * b + 85 * b) / 100,
      "B" -> (15 * b + 85 * (b / 2)) / 100,
      "C" -> (15 * b + 85 * (b / 2 + b)) / 100)
    val got = Ops.pageRank(edges, "src", "dst", Some("w"), iters = 1)
      .as[(String, Long)].collect().toMap
    assert(got == expected, s"got $got")
    // exact integer chain => identical under any partitioning
    val again = Ops.pageRank(edges.repartition(7), "src", "dst", Some("w"), iters = 1)
      .as[(String, Long)].collect().toMap
    assert(again == got)
    // more iterations keep total mass bounded by scale (dangling-free
    // graph here; leak comes only from floor rounding)
    val r3 = Ops.pageRank(edges, "src", "dst", Some("w"), iters = 3)
      .as[(String, Long)].collect().toMap
    assert(r3.values.sum <= 1000000000L && r3.values.forall(_ > 0))
    // unweighted defaults to weight 1 == explicit unit weights
    val unw = Ops.pageRank(edges.drop("w"), "src", "dst", None, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(unw == got)
  }

  test("funnelTimings: exact micros from step-0 completion, unreached steps zeroed") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val min = 60L * 1000000L
    val log = Seq(
      (1L, "a", ts(1)), (1L, "b", ts(3)), (1L, "c", ts(6)), // b +2min, c +5min
      (2L, "a", ts(2)), (2L, "b", ts(3)),                   // b +1min
      (3L, "a", ts(5)))                                     // a only
      .toDF("user_id", "event_type", "ts")
    val out = Ops.funnelTimings(log, "user_id", "event_type", "ts",
        Seq("a", "b", "c")).orderBy("step_idx")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, "a", 3L, 0L, 0L),
      (1L, "b", 2L, 3 * min, 2 * min),
      (2L, "c", 1L, 5 * min, 5 * min)), s"got $out")
    // a conversion window prunes the slow key's timing row too
    val gated = Ops.funnelTimings(log, "user_id", "event_type", "ts",
        Seq("a", "b", "c"), maxGap = Some(expr("INTERVAL 1 MINUTES")))
      .orderBy("step_idx").as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(gated == Seq(
      (0L, "a", 3L, 0L, 0L),
      (1L, "b", 1L, min, min),
      (2L, "c", 0L, 0L, 0L)), s"got $gated")
  }

  test("runtime bloom filter: selective dim filter injects might_contain on the fact side") {
    // the third runtime-pruning pillar next to DPP (LlmSpec) and the
    // AQE skew split (below): when the dim side of a SHUFFLE join is
    // selectively filtered, Catalyst builds a bloom filter from it and
    // injects might_contain() ABOVE the fact scan — at 100 TB the
    // fact rows that cannot join die before the exchange instead of
    // shuffling. Only the application-side scan threshold (10 GB
    // default — sized for clusters, not fixtures) needs lowering to
    // see it locally; bloom injection itself is on by default.
    val keys = Seq("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "0")
      spark.conf.set(keys(1), "-1") // force a shuffle join (BHJ needs no bloom)
      val dir = graft.util.Scratch.dir("bloomspec")
      spark.range(100000).selectExpr("id", "id % 1000 as k")
        .write.parquet(dir + "/fact")
      spark.range(50).selectExpr("id as k", "id * 2 as v")
        .write.parquet(dir + "/dim")
      val fact = spark.read.parquet(dir + "/fact")
      val dim = spark.read.parquet(dir + "/dim").filter(col("v") < 20)
      val j = fact.join(dim, "k")
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter:\n${opt.take(2000)}")
      // and the filtered join is still exactly right: k in 0..9, 100
      // fact rows each
      assert(j.count() === 1000L)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("AQE skew join: the hot key splits at runtime without salting") {
    // the other half of the skew story (saltedJoin is the manual
    // tool): a sort-merge join whose build keys are zipfian must get
    // its hot partition SPLIT by AQE's OptimizeSkewedJoin at runtime
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // incompressible per-row payload: shuffle sizes are COMPRESSED
      // bytes, and a constant pad compresses below any skew threshold
      def pad(i: Int) = java.util.UUID.nameUUIDFromBytes(
        BigInt(i).toByteArray).toString * 3
      val left = ((1 to 20000).map(i => (0L, pad(i))) ++
        (1 to 200).map(i => (i.toLong, pad(i)))).toDF("k", "pl")
      val right = ((0L to 200L).map(i => (i, pad(i.toInt)))).toDF("k", "pr")
      val joined = left.join(right, "k")
      // materialize THIS dataset's QueryExecution (count() would plan a
      // separate aggregate query and leave this one un-finalized)
      assert(joined.collect().length === 20200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to mark the join:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("joinBlowupEstimate: exact per-key cardinalities, shares, top-k cut") {
    val left = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")       // counts: 1->3, 2->1, 3->1
    val right = Seq(1L, 1L, 2L, 2L, 2L, 9L).toDF("k")  // counts: 1->2, 2->3, 9->1
    val out = Ops.joinBlowupEstimate(left, right, "k", "k", k = 2)
      .select("key", "nl", "nr", "out_rows", "share_pm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // key 1: 3*2=6; key 2: 1*3=3; key 3/9 unmatched; total 9
    assert(out === Seq((1L, 3L, 2L, 6L, 666L), (2L, 1L, 3L, 3L, 333L)), s"got $out")
  }

  test("triangleCounts: K4 + chain + star, dirty edges canonicalized, random vs naive") {
    // K4 on {1,2,3,4}: C(3,2)=3 triangles per node, 4 total; chain
    // 4-5-6 adds none; star center 7 with leaves 8,9,10 adds none.
    // Edges arrive dirty: duplicates, both directions, a self-loop.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 2L), (2L, 2L), (1L, 2L), // reverse dup + self-loop + dup
      (4L, 5L), (5L, 6L), (7L, 8L), (7L, 9L), (7L, 10L)).toDF("s", "d")
    val out = Ops.triangleCounts(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L,
      6L -> 0L, 7L -> 0L, 8L -> 0L, 9L -> 0L, 10L -> 0L), s"got $out")
    // random graph: degree-ordered algorithm equals naive enumeration
    val rnd = new scala.util.Random(3)
    val rand = Seq.fill(120)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .toDF("s", "d")
    val fast = Ops.triangleCounts(rand, "s", "d")
    val und = rand.select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .filter(col("a") =!= col("b")).distinct().cache()
    val naive = und.as("e1")
      .join(und.as("e2"), col("e2.a") === col("e1.a") && col("e2.b") > col("e1.b"))
      .join(und.as("e3"), col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b"))).distinct()
    val naiveFull = nodes.join(naive, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
    assert(fast.except(naiveFull).count() === 0 &&
      naiveFull.except(fast).count() === 0)
    und.unpersist()
  }

  test("sftConversations: ordered transcript hash, alternation audit, null content") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val events = Seq(
      // user 1: alternates cleanly; a same-second tie ordered by id
      (1L, ts(10), 1L, "user", "hi"),
      (1L, ts(20), 2L, "assistant", "hello"),
      (1L, ts(20), 3L, "user", "bye"),
      // user 2: adjacent same-role turns + NULL content
      (2L, ts(10), 4L, "user", "a"),
      (2L, ts(20), 5L, "user", null: String),
      (2L, ts(30), 6L, "assistant", "b")
    ).toDF("uid", "t", "eid", "role", "content")
    val out = Ops.sftConversations(events, "uid", "t", "eid", "role", "content")
      .orderBy("uid").collect()
    def h(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 0L &&
      out(0).getBoolean(4), "user 1 alternates")
    assert(out(0).getString(3) === h("user: hi\nassistant: hello\nuser: bye"))
    assert(out(1).getLong(1) === 3L && out(1).getLong(2) === 1L &&
      !out(1).getBoolean(4), "user 2 has one same-role repeat")
    assert(out(1).getString(3) === h("user: a\nuser: \nassistant: b"),
      "NULL content renders as empty, not lost")
    // one hash exchange serves the lag window and the rollup
    val plan = Ops.sftConversations(events, "uid", "t", "eid", "role", "content")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected one hash exchange:\n$plan")
  }

  test("observedGate: per-gate counters ride the job, chained gates each account") {
    val df = (1L to 100L).map(i => (i, i % 10)).toDF("id", "m")
    val gated = Ops.observedGate(
      Ops.observedGate(df, "g1", col("m") =!= 0), "g2", col("m") > 4)
    // the metrics ride the SAME execution as the data: collect() runs
    // this dataset's own QueryExecution (count() would plan a new one
    // whose metrics this handle never sees)
    assert(gated.collect().length === 50)
    val metrics = gated.queryExecution.observedMetrics
    val g1 = metrics("g1"); val g2 = metrics("g2")
    assert(g1.getLong(0) === 100L && g1.getLong(1) === 90L,
      s"g1 sees all input rows: $g1")
    assert(g2.getLong(0) === 90L && g2.getLong(1) === 50L,
      s"g2 sees g1's survivors: $g2")
    // zero extra passes: the whole chain is one plan, no caching —
    // the gated result itself is correct
    assert(gated.select(min(col("m"))).as[Long].head() === 5L)
  }
}
