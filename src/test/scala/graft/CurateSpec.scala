package graft

import org.apache.spark.sql.functions._
import graft.llm.Curate

class CurateSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** The naive token-budget cut: a running token sum per group in
    * (score desc, salted hash, id) order, kept while it fits. */
  private def naiveBudgetCut(df: org.apache.spark.sql.DataFrame, groupCol: String,
                             budget: Long): Set[Long] = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__h", graft.llm.Text.md5Hash(concat(lit("sel:"), col("doc_id"))))
      .withColumn("cum", sum("tokens").over(Window.partitionBy(groupCol)
        .orderBy(col("score").desc, col("__h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget).select("doc_id").as[Long].collect().toSet
  }

  /** Spark SQL executions started while `body` runs (the listener bus
    * is async, so the count is polled until it settles). */
  private def sqlExecutions(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart if e.time >= t0 => execs.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 3) {
        val now = execs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("packSequences: within-shard token stream is gapless and budget-aligned") {
    val df = docs((0L until 40L).map(i =>
      i -> (1 to (i % 7 + 1).toInt * 3).map(j => s"w$j").mkString(" ")): _*)
    val out = Curate.packSequences(df, budget = 10, shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == 40)
    for ((_, shard, tokens, first, last) <- out) {
      assert(shard == shard % 4 && tokens >= 1)
      // a doc spans exactly the windows its token range touches
      assert(first <= last && last - first <= tokens / 10 + 1)
    }
    // per shard: pack ids tile the stream — total tokens determine max pack
    out.groupBy(_._2).foreach { case (_, rows) =>
      val total = rows.map(_._3).sum
      assert(rows.map(_._5).max == (total - 1) / 10)
    }
  }

  test("packSequences: a doc straddles a boundary iff pack_first != pack_last") {
    // 3 docs of 6 tokens (5 words + EOS) in one shard, budget 8:
    // tokens 0-5, 6-11, 12-17 → doc 2 straddles windows 0/1, doc 3 window 1/2
    val df = docs(0L -> "a b c d e", 8L -> "a b c d e", 16L -> "a b c d e")
    val byOrd = Curate.packSequences(df, budget = 8, shards = 8)
      .orderBy("pack_first").collect()
    val spans = byOrd.map(r => (r.getLong(3), r.getLong(4))).toSeq
    assert(spans == Seq((0L, 0L), (0L, 1L), (1L, 2L)))
  }

  test("packBoundaries: segments tile every window exactly and sum to each doc's tokens") {
    val df = docs((0L until 40L).map(i =>
      i -> (1 to (i % 7 + 1).toInt * 3).map(j => s"w$j").mkString(" ")): _*)
    val counts = df.select(col("doc_id"),
      graft.llm.Text.wsTokenCount(col("text")).as("n"))
    val budget = 10
    val segs = Curate.packBoundaries(counts, "doc_id", "n",
        budget = budget, shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // per doc: Σ seg_len == tokens + separator slot (nothing lost at
    // window boundaries)
    val packs = Curate.packByTokens(counts, "doc_id", "n",
        budget = budget, shards = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    segs.groupBy(_._3).foreach { case (doc, rows) =>
      assert(rows.map(_._5).sum === packs(doc)._1, s"doc $doc loses tokens")
      // and the segment pack ids are exactly the packer's range
      assert(rows.map(_._2).min === packs(doc)._2 &&
        rows.map(_._2).max === packs(doc)._3, s"doc $doc pack range drifts")
    }
    // per (shard, pack): sorted segments tile [0, budget) with no gap
    // or overlap (the attention-mask invariant); the shard's LAST
    // window may end short
    segs.groupBy(s => (s._1, s._2)).foreach { case ((sh, p), rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.head._4 === 0L, s"($sh, $p) does not start at 0")
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4 + a._5 === b._4, s"($sh, $p) gap/overlap at ${b._4}")
        case _ => ()
      }
      val end = sorted.last._4 + sorted.last._5
      val lastPack = segs.filter(_._1 == sh).map(_._2).max
      if (p < lastPack) assert(end === budget.toLong,
        s"($sh, $p) interior window not fully tiled: $end")
      else assert(end <= budget.toLong)
    }
  }

  test("packByTokens: precomputed counts pack identically to the text path") {
    val df = docs((0L until 24L).map(i =>
      i -> (1 to (i % 5 + 1).toInt * 2).map(j => s"w$j").mkString(" ")): _*)
    // the whitespace path IS packByTokens over wsTokenCount — the
    // delegation is spec'd here so the two can never drift
    val viaText = Curate.packSequences(df, budget = 7, shards = 3)
      .orderBy("doc_id").collect().toSeq
    val counts = df.select(col("doc_id"),
      graft.llm.Text.wsTokenCount(col("text")).as("n"))
    val viaCounts = Curate.packByTokens(counts, "doc_id", "n",
      budget = 7, shards = 3).orderBy("doc_id").collect().toSeq
    assert(viaText === viaCounts)
    // tokenizer-aware path: BPE counts (not whitespace) drive the
    // windows — "low" is ONE token under the trained merges, so three
    // 2-token docs (token + separator) fit a 6-budget window exactly
    val bdocs = docs(0L -> "low", 8L -> "low", 16L -> "low", 24L -> "low")
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", graft.llm.Bpe.EndMark))
    val packed = Curate.packByTokens(
        graft.llm.Bpe.tokenCounts(bdocs, "doc_id", "text", merges),
        "doc_id", "n_bpe_tokens", budget = 6, shards = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // every doc = 1 BPE token + 1 separator = 2; 4 docs = 8 tokens ->
    // windows [0,0,0],[1]-ish: the first three land in pack 0, the
    // fourth starts pack 1; none straddles (2 divides 6)
    assert(packed.map(_._2) === Seq(2L, 2L, 2L, 2L))
    assert(packed.forall(p => p._3 === p._4), s"no straddlers expected: $packed")
    assert(packed.map(_._3).sorted === Seq(0L, 0L, 0L, 1L))
  }

  test("importanceSample: deterministic, weights are exact 1/p") {
    val df = (1L to 500L).map(i => (i, i * 7 % 1300)).toDF("doc_id", "n_chars")
    val w = least(lit(1000L), col("n_chars"))
    val kept = Curate.importanceSample(df, "doc_id", w).collect()
    assert(kept.nonEmpty && kept.length < 500)
    kept.foreach { r =>
      val pm = math.min(1000L, r.getLong(1))
      assert(r.getDouble(2) == 1000.0 / pm)
    }
    // pure function of the key: a rerun keeps exactly the same rows
    val again = Curate.importanceSample(df, "doc_id", w)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.map(_.getLong(0)).toSet)
    // zero-weight rows can never be kept
    assert(Curate.importanceSample(df, "doc_id", lit(0L)).count() == 0)
    // super-unit weights saturate: p = 1 keeps everything at weight
    // EXACTLY 1 (an unclamped 1000/1500 would bias weighted sums low)
    val sat = Curate.importanceSample(df, "doc_id", lit(1500L)).collect()
    assert(sat.length == 500 && sat.forall(_.getDouble(2) == 1.0))
  }

  test("chunkSliding: stride/overlap tiling covers every word exactly") {
    val n = 520 // 3 chunks at 200/150: [0,200) [150,350) [300,500) [450,520)
    val text = (0 until n).map(i => s"t$i").mkString(" ")
    val out = Curate.chunkSliding(docs(1L -> text))
      .orderBy("chunk_idx").collect()
    assert(out.length == 4) // 1 + ceil((520-200)/150) = 1 + 3
    val spans = out.map(r => (r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq((0L, 200L), (150L, 200L), (300L, 200L), (450L, 70L)))
    // consecutive chunks overlap by chunk - stride = 50 words
    assert(spans.sliding(2).forall { case Array((s1, _), (s2, _)) => s2 - s1 == 150 })
    // identical windows hash identically; shifted ones don't
    val h = out.map(_.getLong(4))
    assert(h.distinct.length == h.length)
  }

  test("selectByTokenBudget: exactly matches the naive global-window selection") {
    import org.apache.spark.sql.expressions.Window
    // skewed scores (few fat tie bands) force the L2/L3 refinement path;
    // varying tokens make the cut land mid-bucket
    val df = (1L to 400L).map(i => (i, (i * i) % 5, i % 17 + 1))
      .toDF("doc_id", "score", "tokens")
    for (budget <- Seq(0L, 37L, 500L, 1500L, 10000L)) {
      val naive = df
        .withColumn("__h", graft.llm.Text.md5Hash(concat(lit("sel:"), col("doc_id"))))
        .withColumn("cum", sum("tokens").over(Window.orderBy(col("score").desc,
          col("__h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") <= budget).select("doc_id").as[Long].collect().toSet
      val got = Curate.selectByTokenBudget(df, "doc_id", "score", "tokens", budget,
          buckets = 7) // tiny bucket count → boundary bucket is fat, L3 non-trivial
        .select("doc_id").as[Long].collect().toSet
      assert(got == naive, s"budget=$budget: got ${got.size}, want ${naive.size}")
    }
  }

  test("token-budget selections: 2/3/2 SQL executions at budgets 0/1500/10000") {
    // L1 collect + the final count; a cut inside a score band adds the
    // one L2 collect (budget 1500 also reaches L3, which rides the
    // final plan). Global form and the grouped literal-predicate path.
    val df = (1L to 400L).map(i => (i, s"g${i % 2}", (i * i) % 5, i % 17 + 1))
      .toDF("doc_id", "grp", "score", "tokens")
    for ((budget, want) <- Seq(0L -> 2, 1500L -> 3, 10000L -> 2)) {
      val global = sqlExecutions(Curate.selectByTokenBudget(df, "doc_id", "score",
        "tokens", budget, buckets = 7).count())
      val grouped = sqlExecutions(Curate.selectByTokenBudgetGrouped(df, "grp",
        "doc_id", "score", "tokens", budget, buckets = 7).count())
      assert((global, grouped) == ((want, want)),
        s"budget=$budget: SQL executions global=$global grouped=$grouped, want $want")
    }
  }

  test("token-budget selections refuse bad scores, NULL or zero tokens, NULL groups") {
    // four docs share score 5; each input spoils doc 2 only, so the
    // score group's other rows still have min(tokens) >= 1
    val ok = (1L to 4L).map(i => (i, "a", 5L, 3L)).toDF("doc_id", "grp", "score", "tokens")
    def spoil(c: String, v: org.apache.spark.sql.Column) =
      ok.withColumn(c, when(col("doc_id") === 2L, v).otherwise(col(c)))
    val bad = Seq(
      "non-integral score" -> ok.withColumn("score", col("score").cast("double")),
      "NULL score" -> spoil("score", lit(null)),
      "NULL tokens" -> spoil("tokens", lit(null)),
      "zero tokens" -> spoil("tokens", lit(0L)))
    def global(df: org.apache.spark.sql.DataFrame) =
      Curate.selectByTokenBudget(df, "doc_id", "score", "tokens", 10L).count()
    def grouped(df: org.apache.spark.sql.DataFrame) =
      Curate.selectByTokenBudgetGrouped(df, "grp", "doc_id", "score", "tokens", 10L).count()
    assert(global(ok) == 3L && grouped(ok) == 3L)
    for ((what, df) <- bad) {
      withClue(s"global form, $what: ") { intercept[IllegalArgumentException](global(df)) }
      withClue(s"grouped form, $what: ") { intercept[IllegalArgumentException](grouped(df)) }
    }
    withClue("grouped form, NULL group: ") {
      intercept[IllegalArgumentException](grouped(spoil("grp", lit(null))))
    }
  }

  test("token-budget selections: one body, the only def that calls walkBudget") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root.resolve("graft/llm/Curate.scala")),
      s"run from the repository root: $root has no graft/llm/Curate.scala")
    // a call belongs to its OUTERMOST enclosing def: a local helper def
    // nested in a body (by indentation) counts as that body
    val defLine = "^(\\s*)(?:(?:private|protected|override|final|implicit|lazy)(?:\\[\\w+\\])? )*def (\\w+)".r
    def isComment(l: String) = Seq("*", "/*", "//").exists(l.trim.startsWith)
    val stream = Files.walk(root)
    val callers = try stream.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        var defs = List.empty[(Int, String)] // (indent, name), innermost first
        Files.readAllLines(p).asScala.flatMap { l =>
          defLine.findFirstMatchIn(l).foreach { m =>
            val indent = m.group(1).length
            defs = (indent, m.group(2)) :: defs.dropWhile(_._1 >= indent)
          }
          if (isComment(l) || !l.contains("walkBudget(") || l.contains("def walkBudget")) None
          else defs.lastOption.map(d => s"${root.relativize(p)}#${d._2}")
        }
      }.toSet
    finally stream.close()
    assert(callers.size == 1,
      s"walkBudget is called from ${callers.size} defs, want one body: ${callers.mkString(", ")}")
  }

  test("bloomSemiFilter: exact-semi-join superset, composed equality, map-side plan") {
    val df = (0L until 2000L).map(i => (i, i % 501)).toDF("id", "h")
    val keys = Seq(3L, 7L, 123L, 444L, 500L).toDF("h")
    val pruned = Curate.bloomSemiFilter(df, col("h"), keys, "h", estItems = 1000L)
    val prunedIds = pruned.select("id").as[Long].collect().toSet
    val exactIds = df.join(keys, "h").select("id").as[Long].collect().toSet
    // no false negatives, ever
    assert(exactIds.subsetOf(prunedIds), "bloom dropped a real match")
    // false positives bounded: 1% nominal fpp over ~1990 non-matching
    // rows; allow 10x nominal before calling the sizing broken
    assert(prunedIds.size - exactIds.size <= 200,
      s"fp blowup: ${prunedIds.size - exactIds.size} extra rows")
    // the intended composition reproduces the exact semi-join exactly
    val composed = pruned.join(keys, "h").select("id").as[Long].collect().toSet
    assert(composed == exactIds)
    // plan: the probe is a might_contain FILTER, and the pruned frame
    // itself crosses no exchange — the prune is map-side; the Bloom
    // build lives in a scalar subquery, not in this frame's shuffles
    val plan = pruned.queryExecution.executedPlan
    assert(plan.toString.contains("might_contain"), plan.toString)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "bloomSemiFilter must not shuffle the pruned side")
  }

  test("bloomSemiFilter: rejects bad sizing parameters") {
    val df = Seq((1L, 2L)).toDF("id", "h")
    val keys = Seq(2L).toDF("h")
    intercept[IllegalArgumentException] {
      Curate.bloomSemiFilter(df, col("h"), keys, "h", estItems = 0L)
    }
    intercept[IllegalArgumentException] {
      Curate.bloomSemiFilter(df, col("h"), keys, "h", fpp = 1.5)
    }
  }

  test("bloomSemiFilter: refuses a filter the conf cap would silently saturate") {
    // 1e8 items at 1% fpp needs ~959M bits; BloomFilterAggregate would
    // clamp to the 67108864-bit conf default and ship a useless filter
    val df = Seq((1L, 2L)).toDF("id", "h")
    val keys = Seq(2L).toDF("h")
    val e = intercept[IllegalArgumentException] {
      Curate.bloomSemiFilter(df, col("h"), keys, "h", estItems = 100000000L)
    }
    assert(e.getMessage.contains("maxNumBits"))
    // raising the conf makes the same sizing legal (and correct)
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    spark.conf.set(key, (1L << 30).toString)
    try {
      val ids = Curate.bloomSemiFilter(df, col("h"), keys, "h",
        estItems = 100000000L).select("id").as[Long].collect().toSeq
      assert(ids == Seq(1L))
    } finally spark.conf.unset(key)
  }

  test("leakFreeSplit: clusters are atomic across splits; solo docs keep coverage") {
    val sentence = "the quick brown fox jumps over the lazy dog again and again"
    val all = (1L to 60L).map { i =>
      // 20 docs form 10 two-doc exact-dup clusters; the rest are solo
      if (i <= 20L) (i, sentence + " v" + ((i - 1) / 2)) else (i, s"unique doc number $i with its own words")
    }.toDF("doc_id", "text")
    val pairs = graft.llm.Dedup.minHashLshPairs(all, "doc_id", "text", threshold = 0.5)
    val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b")
    val split = Curate.leakFreeSplit(all.select("doc_id"), comp, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == 60 && split.values.toSet.subsetOf(Set("train", "val")))
    // every cluster is single-split: paired docs (2k-1, 2k) agree
    for (k <- 1L to 10L)
      assert(split(2 * k - 1) == split(2 * k), s"cluster $k split apart")
    // both splits exist at 900 per mille over 50 clusters (deterministic)
    assert(split.values.toSet == Set("train", "val"))
    // rerun-stable
    val again = Curate.leakFreeSplit(all.select("doc_id"), comp, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == split)
  }

  test("mixCorpus: water-filling keeps small sources whole, caps the rest fairly") {
    // sources: tiny (40 tokens), small (100), two large (400 each)
    val rows = Seq.tabulate(4)(i => (100L + i, "tiny", 10L)) ++
      Seq.tabulate(10)(i => (200L + i, "small", 10L)) ++
      Seq.tabulate(40)(i => (300L + i, "bigA", 10L)) ++
      Seq.tabulate(40)(i => (400L + i, "bigB", 10L))
    val df = rows.toDF("doc_id", "source", "tokens")
    // budget 340: walk asc (tiny 40, small 100, bigA 400, bigB 400):
    // fair=85 -> tiny whole; fair=100 -> small whole; fair=100 -> bigA
    // caps at level 100 (rate 250pm), bigB same
    val out = Curate.mixCorpus(df, "source", "tokens", "doc_id", 340L)
    val rates = out.select("source", "rate_pm").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("tiny") == 1000L && rates("small") == 1000L)
    // direct lookups: at 250 per mille over 40 deterministic hashes both
    // sources keep rows, so a missing key means the capped arm broke
    assert(rates("bigA") == 250L && rates("bigB") == 250L)
    // whole sources keep every row; capped sources keep a strict subset
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("tiny") == 4L && kept("small") == 10L)
    assert(kept.getOrElse("bigA", 0L) < 40L)
    // rerun-stable
    assert(Curate.mixCorpus(df, "source", "tokens", "doc_id", 340L)
      .select("doc_id").as[Long].collect().toSet ==
      out.select("doc_id").as[Long].collect().toSet)
    // budget >= total keeps everything at rate 1000
    assert(Curate.mixCorpus(df, "source", "tokens", "doc_id", 10000L).count() == 94)
    // budget 0 keeps nothing
    assert(Curate.mixCorpus(df, "source", "tokens", "doc_id", 0L).count() == 0)
  }

  test("mixCorpus: a source over 1000x the water level still gets rate 1, not 0") {
    // small: 10 tokens; dom: 5000 docs x 20 = 100k tokens. Budget 60:
    // small is under fair share (30) -> whole; dom's water level is the
    // remaining 50, and 50*1000/100000 floors to 0 -- the starvation
    // case. The clamp must allocate rate 1 per mille instead.
    val rows = Seq((1L, "small", 10L)) ++
      Seq.tabulate(5000)(i => (100L + i, "dom", 20L))
    val out = Curate.mixCorpus(rows.toDF("doc_id", "source", "tokens"),
      "source", "tokens", "doc_id", 60L)
    val bySrc = out.groupBy("source").agg(
        max("rate_pm").as("rate_pm"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySrc("small") == ((1000L, 1L)))
    // ~5 of 5000 ids pass a 1-per-mille deterministic hash; the exact
    // set is fixed, the point is it is NON-empty at rate exactly 1
    assert(bySrc.contains("dom"), "dominant source starved to zero rows")
    assert(bySrc("dom")._1 == 1L && bySrc("dom")._2 >= 1L)
    // a zero water level (fair share rounds to 0 tokens) still yields
    // rate 0 -- the clamp only fires when level > 0
    val out0 = Curate.mixCorpus(rows.toDF("doc_id", "source", "tokens"),
      "source", "tokens", "doc_id", 1L)
    assert(out0.count() == 0L)
  }

  test("selectByTokenBudgetGrouped: equals the per-group loop of the global method") {
    // skewed scores + varying tokens + uneven group sizes force every
    // refinement level (L2/L3) in at least one group per budget
    val df = (1L to 600L).map(i =>
      (i, s"g${i % 5}", (i * i) % 4, i % 13 + 1))
      .toDF("doc_id", "grp", "score", "tokens")
    for (budget <- Seq(0L, 41L, 300L, 1200L, 99999L)) {
      val grouped = Curate.selectByTokenBudgetGrouped(df, "grp", "doc_id",
          "score", "tokens", budget, buckets = 7)
        .select("doc_id").as[Long].collect().toSet
      val looped = (0 until 5).map { k =>
        Curate.selectByTokenBudget(df.filter(col("grp") === s"g$k"),
          "doc_id", "score", "tokens", budget, buckets = 7)
      }.reduce(_ unionByName _).select("doc_id").as[Long].collect().toSet
      assert(grouped == looped,
        s"budget=$budget: grouped=${grouped.size} looped=${looped.size}")
      val naive = naiveBudgetCut(df, "grp", budget)
      assert(grouped == naive,
        s"budget=$budget: grouped=${grouped.size} naive=${naive.size}")
    }
    // NULL group fails fast
    intercept[IllegalArgumentException] {
      Curate.selectByTokenBudgetGrouped(
        df.withColumn("grp", when(col("doc_id") === 1L, lit(null))
          .otherwise(col("grp"))),
        "grp", "doc_id", "score", "tokens", 100L)
    }
  }

  test("selectByTokenBudgetGrouped: broadcast threshold path (>64 groups) equals the loop") {
    // 80 groups forces the threshold-table join (the literal-predicate
    // path caps at 64 groups); small per-group data keeps the loop fast
    val df = (1L to 800L).map(i => (i, s"g${i % 80}", (i * 3) % 4, i % 5 + 1))
      .toDF("doc_id", "grp", "score", "tokens")
    for (budget <- Seq(7L, 25L, 99999L)) {
      val grouped = Curate.selectByTokenBudgetGrouped(df, "grp", "doc_id",
          "score", "tokens", budget, buckets = 5)
        .select("doc_id").as[Long].collect().toSet
      val looped = (0 until 80).map { k =>
        Curate.selectByTokenBudget(df.filter(col("grp") === s"g$k"),
          "doc_id", "score", "tokens", budget, buckets = 5)
      }.reduce(_ unionByName _).select("doc_id").as[Long].collect().toSet
      assert(grouped == looped,
        s"budget=$budget: grouped=${grouped.size} looped=${looped.size}")
      val naive = naiveBudgetCut(df, "grp", budget)
      assert(grouped == naive,
        s"budget=$budget: grouped=${grouped.size} naive=${naive.size}")
    }
  }

  test("budgetThenMix: per-source quality cut feeds the water-fill") {
    // two sources, 30 docs x 10 tokens each; scores 0..2 cycle. A
    // 120-token per-source budget keeps the best ~12 docs per source;
    // the 150-token total then water-fills across the survivors.
    val rows = (1L to 60L).map(i =>
      (i, if (i <= 30) "s1" else "s2", (i % 3), 10L))
    val df = rows.toDF("doc_id", "source", "score", "tokens")
    val out = Curate.budgetThenMix(df, "source", "score", "tokens", "doc_id",
      perSourceBudget = 120L, totalBudget = 150L)
    val kept = out.select("doc_id", "source", "rate_pm").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(kept.nonEmpty)
    // stage 1: only score-2 docs (10 per source) plus the best score-1
    // docs fit 120 tokens; no score-0 doc can survive
    val score = rows.map(r => r._1 -> r._3).toMap
    assert(kept.forall { case (id, _, _) => score(id) >= 1 }, "a score-0 doc survived the cut")
    // stage 2: equal survivors (120 tokens each) -> equal capped rates
    val rates = kept.map(k => k._2 -> k._3).distinct.toMap
    assert(rates("s1") == rates("s2") && rates("s1") < 1000L,
      s"symmetric sources must cap at the same rate: $rates")
    // deterministic end to end
    val again = Curate.budgetThenMix(df, "source", "score", "tokens", "doc_id",
      120L, 150L).select("doc_id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet)
    // NULL sources fail fast, mirroring mixCorpus
    val withNull = rows.toDF("doc_id", "source", "score", "tokens")
      .withColumn("source", when(col("doc_id") === 1L, lit(null)).otherwise(col("source")))
    intercept[IllegalArgumentException] {
      Curate.budgetThenMix(withNull, "source", "score", "tokens", "doc_id", 120L, 150L)
    }
  }

  test("chunkSliding: short and empty docs yield exactly one chunk") {
    val out = Curate.chunkSliding(docs(1L -> "a b c", 2L -> ""))
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 0L))
    assert(out(0).getLong(3) == 3L)
  }

  test("snapshotDelta: all four arms; NULL text in both snapshots is unchanged") {
    val prev = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("gone")),
      (4L, None: Option[String])).toDF("doc_id", "text")
    val cur = Seq((1L, Some("a")), (2L, Some("b2")), (5L, Some("fresh")),
      (4L, None: Option[String])).toDF("doc_id", "text")
    val got = Curate.snapshotDelta(prev, cur, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "deleted",
      4L -> "unchanged", 5L -> "new"))
  }

  test("keepBestPerCluster: highest score survives, ties break low-id, singletons kept") {
    import graft.llm.Dedup
    // clusters {1,2,3} and {10,11}; 7 unclustered
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("node", "label")
    val df = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 1L), (10L, 2L), (11L, 2L))
      .toDF("doc_id", "score")
    val kept = Dedup.keepBestPerCluster(df, "doc_id", "score", comp)
      .select("doc_id").as[Long].collect().toSet
    // cluster 1: max score 9 tie between 2 and 3 -> 2; cluster 10: tie -> 10
    assert(kept === Set(2L, 7L, 10L))
  }

  test("temperatureMix: sqrt-share rates exact; small source caps at 1000 per-mille") {
    // totals: A=100 (w=10), B=10000 (w=100), C=5 (w=2); sumW=112
    // budget 1000 -> allocA = floor(1000*10/112)=89  -> rate 890
    //               allocB = floor(1000*100/112)=892 -> rate  89
    //               allocC = min(5, 17)=5            -> rate 1000 (capped)
    val docs =
      (1 to 100).map(i => (s"a$i", "A", 1L)) ++
      (1 to 100).map(i => (s"b$i", "B", 100L)) ++
      (1 to 5).map(i => (s"c$i", "C", 1L))
    val df = docs.toDF("doc_id", "source", "tokens")
    val out = Curate.temperatureMix(df, "source", "tokens", "doc_id",
      budgetTokens = 1000L, alpha = 0.5)
    // the documented output contract: input columns plus the rate_pm
    // audit column, nothing else (no leaked working columns)
    assert(out.columns.toSeq == df.columns.toSeq :+ "rate_pm",
      s"temperatureMix output schema: ${out.columns.toSeq}")
    assert(Curate.mixCorpus(df, "source", "tokens", "doc_id", 1000L)
      .columns.toSeq == df.columns.toSeq :+ "rate_pm",
      "mixCorpus shares the same output-schema convention")
    val bySource = out.groupBy("source")
      .agg(max("rate_pm").as("r"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(bySource("A")._1 == 890L)
    assert(bySource("B")._1 == 89L)
    assert(bySource("C") == (1000L, 5L), "capped source keeps every doc")
    // deterministic rerun
    val again = Curate.temperatureMix(df, "source", "tokens", "doc_id",
      budgetTokens = 1000L, alpha = 0.5)
    assert(out.select("doc_id").as[String].collect().sorted.toSeq ==
      again.select("doc_id").as[String].collect().sorted.toSeq)
    // zero budget -> nothing; alpha out of range -> refused
    assert(Curate.temperatureMix(df, "source", "tokens", "doc_id", 0L).count() == 0)
    intercept[IllegalArgumentException] {
      Curate.temperatureMix(df, "source", "tokens", "doc_id", 10L, alpha = 0.0)
    }
  }

  test("leakFreeFolds: cluster-atomic K folds, all folds populated, k<2 refused") {
    val sentence = "the quick brown fox jumps over the lazy dog again and again"
    val all = (1L to 60L).map { i =>
      if (i <= 20L) (i, sentence + " v" + ((i - 1) / 2))
      else (i, s"unique doc number $i with its own words")
    }.toDF("doc_id", "text")
    val pairs = graft.llm.Dedup.minHashLshPairs(all, "doc_id", "text", threshold = 0.5)
    val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b")
    val folds = Curate.leakFreeFolds(all.select("doc_id"), comp, "doc_id", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folds.size == 60 && folds.values.forall(f => f >= 0 && f < 4))
    for (k <- 1L to 10L)
      assert(folds(2 * k - 1) == folds(2 * k), s"cluster $k folded apart")
    assert(folds.values.toSet.size == 4, "50 clusters must populate all 4 folds")
    intercept[IllegalArgumentException] {
      Curate.leakFreeFolds(all.select("doc_id"), comp, "doc_id", k = 1)
    }
  }

  test("capPerGroup: cap enforced, quality order keeps best, map-side WindowGroupLimit") {
    val docs = (1L to 100L).map(i => (i, s"g${i % 3}", i)).toDF("doc_id", "g", "q")
    val capped = Curate.capPerGroup(docs, "g", "doc_id", cap = 5)
    val sizes = capped.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(sizes.values.forall(_ == 5) && sizes.size == 3)
    // quality order: top-5 q per group are kept
    val best = Curate.capPerGroup(docs, "g", "doc_id", cap = 5,
        orderBy = Some(col("q").desc))
      .select("doc_id").as[Long].collect().toSet
    assert(best == (1L to 100L).sortBy(-_).groupBy(_ % 3).values.flatMap(_.take(5)).toSet)
    // the scale property: a partial WindowGroupLimit above the scan,
    // below the exchange — hot groups forward at most cap rows per task
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial WindowGroupLimit:\n$plan")
  }

  test("contaminationReport: exact per-mille, zero-hit items reported at 0") {
    val bench = Seq((1L, "h1"), (1L, "h2"), (1L, "h3"), (2L, "x1"), (2L, "x2"))
      .toDF("doc_id", "h")
    val corpus = Seq((10L, "h1"), (11L, "h1"), (12L, "h3"), (13L, "zz"))
      .toDF("doc_id", "h")
    val out = Curate.contaminationReport(bench, corpus, "doc_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1: 2 of 3 hashes in corpus -> floor(2000/3) = 666; doc 2: none
    assert(out == Seq((1L, 3L, 2L, 666L), (2L, 2L, 0L, 0L)))
  }

  test("isqrt: exact at boundaries, including near Long.MaxValue") {
    // BigInt assertion arithmetic: (r+1)^2 itself overflows Long at the
    // top of the range — exactly the overflow the implementation avoids
    val top = 3037000499L // floor(sqrt(Long.MaxValue))
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 15L, 16L, 17L, 99L, 100L,
        (1L << 31) - 1, 1L << 40, (1L << 40) + 1,
        top * top - 1, top * top, top * top + 1, Long.MaxValue)) {
      val r = BigInt(Curate.isqrt(n))
      assert(r * r <= n && (r + 1) * (r + 1) > n, s"isqrt($n) = $r")
    }
  }

  test("weightedSampleTopN: exactly n, deterministic, weight-biased, reserved name") {
    val docs = ((1L to 100L).map(i => (i, 1000L)) ++
      (101L to 200L).map(i => (i, 10L))).toDF("id", "w")
    val out = Curate.weightedSampleTopN(docs, "id", "w", n = 50).cache()
    assert(out.count() === 50)
    // heavy rows (w=1000) dominate a 50-slot sample 100:100 vs w=10
    val heavy = out.filter(col("id") <= 100L).count()
    assert(heavy >= 40, s"expected heavy-row dominance, got $heavy/50")
    // deterministic: re-run bit-identical; different salt differs
    val again = Curate.weightedSampleTopN(docs, "id", "w", n = 50)
    assert(out.except(again).count() === 0 && again.except(out).count() === 0)
    val other = Curate.weightedSampleTopN(docs, "id", "w", n = 50, salt = "x:")
    assert(out.select("id").except(other.select("id")).count() > 0)
    intercept[IllegalArgumentException](
      Curate.weightedSampleTopN(docs.withColumn("priority", lit(1)), "id", "w", 5))
    // backtick-needing weight names work (no SQL-string interpolation)
    val tick = docs.withColumnRenamed("w", "w.eird")
    assert(Curate.weightedSampleTopN(tick, "id", "w.eird", n = 50)
      .select("id").except(out.select("id")).count() === 0)
    // the weights >= 1 contract is ENFORCED: a zero weight errors
    // instead of silently sorting last (div-by-zero NULL)
    val zero = docs.withColumn("w",
      when(col("id") === 5L, lit(0L)).otherwise(col("w")))
    val err = intercept[Exception](
      Curate.weightedSampleTopN(zero, "id", "w", n = 50).collect())
    assert(err.getMessage.contains("weights must be >= 1"), err.getMessage)
    out.unpersist()
  }

  test("hashSplit: deterministic, append-stable, contract-enforced") {
    val docs = (1L to 1000L).toDF("id")
    val splits = Seq(("train", 800), ("val", 100), ("test", 100))
    val full = Curate.hashSplit(docs, "id", splits)
      .as[(Long, String)].collect().toMap
    val counts = full.values.groupBy(identity).view.mapValues(_.size).toMap
    // hash-uniform: fractions concentrate at 800/100/100 per mille
    assert(math.abs(counts("train") - 800) < 60, s"train: ${counts("train")}")
    assert(math.abs(counts("val") - 100) < 40 &&
      math.abs(counts("test") - 100) < 40, s"$counts")
    // append-stability: a doc's label computed on a SUBSET equals its
    // label in the full corpus — the no-leak-on-growth property
    val sub = Curate.hashSplit(docs.filter(col("id") <= 300), "id", splits)
      .as[(Long, String)].collect().toMap
    assert(sub.forall { case (k, v) => full(k) == v },
      "labels must not drift when the corpus grows")
    // contract: fractions must sum to 1000; split name reserved
    intercept[IllegalArgumentException](
      Curate.hashSplit(docs, "id", Seq(("a", 500))))
    intercept[IllegalArgumentException](
      Curate.hashSplit(docs.withColumn("split", lit("x")), "id", splits))
    // single-bucket degenerate case labels everything
    assert(Curate.hashSplit(docs, "id", Seq(("all", 1000)))
      .filter(col("split") === "all").count() === 1000)
  }

  test("weightedSampleTopN ln boundary guard: fixture draws sit >2e-8 from integers") {
    // same contract as the lp_micro guard: a draw whose ln(u)*1e6 is
    // within libm's cross-engine ulp band of an integer could floor
    // differently; prove the fixtures never get that close.
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf/documents.parquet"
      assume(new java.io.File(dir).exists(), s"$dir missing")
      val docs = spark.read.parquet(dir)
      val h = graft.llm.Text.md5Hash(concat(lit("wsr:"), col("doc_id").cast("string")))
      val x = log((h.cast("double") + lit(0.5)) /
        lit(graft.llm.Text.HashP.toDouble)) * lit(1000000.0)
      val frac = x - floor(x)
      val tooClose = docs.select(least(frac, lit(1.0) - frac).as("dist"))
        .filter(col("dist") < 2e-8)
      assert(tooClose.count() === 0, s"$sf has boundary-adjacent draws")
    }
  }

  test("qualityLrTrain: step-1 closed form, separable toy generalizes, empty doc scores bias") {
    import graft.llm.Curate
    // perfectly separable vocabulary: positives say "good", negatives
    // say "bad"; shared filler words carry no signal
    val labeled = Seq(
      (1L, "good good filler one", 1L), (2L, "good filler two", 1L),
      (3L, "bad bad filler one", 0L), (4L, "bad filler two", 0L))
      .toDF("doc_id", "text", "y")
    val (w1, bias1) = Curate.qualityLrTrain(labeled, "doc_id", "text", "y",
      nBuckets = 64, steps = 1, lrPpm = 500000L)
    // step 1 from zero weights: p == 0.5 exactly, so per bucket
    // w = (lrPpm * sum(c * (y*1e6 - 5e5))) div (1e6 * N) — verify the
    // closed form for the "good" bucket (count 3 across positives)
    val goodBucket = Seq(("good", 0L)).toDF("w", "z")
      .select((graft.llm.Text.md5Hash(col("w")) % 64).as("h"))
      .head().getLong(0)
    val wMap1 = w1.toMap
    assert(wMap1(goodBucket) === (500000L * (3L * 500000L)) / (1000000L * 4L),
      s"step-1 closed form broke: $wMap1")
    assert(bias1 === 0L, "balanced labels: step-1 bias gradient cancels")
    // two steps, then score HELD-OUT docs: the learned signal must
    // order them, and a token-free doc must score exactly the bias
    val (w2, bias2) = Curate.qualityLrTrain(labeled, "doc_id", "text", "y",
      nBuckets = 64, steps = 2, lrPpm = 500000L)
    val held = Seq((10L, "good filler"), (11L, "bad filler"), (12L, ""))
      .toDF("doc_id", "text")
    val scores = Curate.qualityLrScore(held, "doc_id", "text", w2, bias2,
        nBuckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scores(10L)._2 > scores(11L)._2,
      s"positive-vocabulary doc must outscore negative: $scores")
    assert(scores(12L) === ((0L, bias2)),
      "a token-free doc scores exactly the bias")
  }

  test("gopherRepetition: hand-computed line dups, top-n coverage with pinned ties, dup-n coverage union, empty doc") {
    val docs = Seq(
      (1L, "x\naa bb\naa bb"),
      // period-5 word stream: the 5-gram and 6-gram repeat, 7+ don't
      (2L, "aa bb cc dd ee aa bb cc dd ee aa"),
      (3L, "")).toDF("doc_id", "text")
    val out = Curate.gopherRepetition(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val cols = out.head.schema.fieldNames
    def m(i: Int) = cols.zip(out(i).toSeq.map(Option(_))).toMap
    val d1 = m(0)
    // lines [x, aa bb, aa bb]: 1 dup of 3 -> 333; chars 5 of 11 -> 454
    assert(d1("n_chars") === Some(9L))
    assert(d1("dup_line_pm") === Some(333L))
    assert(d1("dup_line_char_pm") === Some(454L))
    // top2 "aa bb" x2 covers 8 of 9 chars; top3 all-tie -> smallest
    // gram "aa bb aa" (6 chars); top4 smallest "aa bb aa bb" (8)
    assert(d1("top2_char_pm") === Some(888L))
    assert(d1("top3_char_pm") === Some(666L))
    assert(d1("top4_char_pm") === Some(888L))
    // the single 5-gram occurs once; no 6+-grams exist
    (5 to 10).foreach(n => assert(d1(s"dup${n}_char_pm") === Some(0L)))
    val d2 = m(1)
    assert(d2("n_chars") === Some(22L))
    assert(d2("dup_line_pm") === Some(0L))
    // dup5: pairs (g0,g5) AND (g1,g6) both repeat -> positions 0..10,
    // full coverage; dup6: (g0,g5) -> 0..10 too
    assert(d2("dup5_char_pm") === Some(1000L))
    assert(d2("dup6_char_pm") === Some(1000L))
    (7 to 10).foreach(n => assert(d2(s"dup${n}_char_pm") === Some(0L),
      s"period-5 stream has no duplicate $n-grams"))
    assert(d2("top2_char_pm") === Some(363L)) // "aa bb" x2, tie pinned
    val d3 = m(2)
    // wordless doc: n-gram per-milles NULL; one empty line -> 0 dups,
    // NULL char ratio (0-char denominator)
    assert(d3("n_chars") === Some(0L))
    assert(d3("dup_line_pm") === Some(0L))
    assert(d3("dup_line_char_pm") === None)
    assert(d3("top2_char_pm") === None && d3("dup10_char_pm") === None)
  }
}
