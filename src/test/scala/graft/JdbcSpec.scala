package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Jdbc

/** K3-K7 / S9-S15 against a real in-memory Derby database (the JDBC
  * driver ships with Spark). */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("K7 create-if-absent, K3 batch append, S9/S10/S13/S14 reads, K4/K5 mutations, K6 batch") {
    Jdbc.createTableIfAbsent(url, "users",
      "id VARCHAR(20) PRIMARY KEY, email VARCHAR(255), score INT")
    Jdbc.createTableIfAbsent(url, "users", "ignored INT") // second call: no-op

    val df = Seq(("u1", "a@x.com", 10), ("u2", "b@x.com", 20), ("u3", "c@x.com", 30))
      .toDF("id", "email", "score")
    Jdbc.append(df, url, "users")

    // S9 full scan
    val back = Jdbc.readTable(spark, url, "users")
    assert(back.count() == 3)
    assert(back.columns.map(_.toLowerCase).toSet == Set("id", "email", "score"))

    // S10 ad-hoc query pushed down
    val hi = Jdbc.readQuery(spark, url, "SELECT id FROM users WHERE score >= 20")
    assert(hi.count() == 2)

    // S11 ordered
    assert(Jdbc.readOrdered(spark, url, "users", "score")
      .select(col("ID")).as[String].collect().toSeq == Seq("u1", "u2", "u3"))

    // S13 keys snapshot feeds J2
    val keys = Jdbc.readKeys(spark, url, "users", "id")
    assert(keys.as[String].collect().toSet == Set("u1", "u2", "u3"))

    // S14 stats probe
    val (cnt, cols) = Jdbc.tableStats(spark, url, "users")
    assert(cnt == 3 && cols.size == 3)

    // S15 sample + cached full (single fetch)
    val (sample, full) = Jdbc.sampleAndFull(spark, url, "users", 2)
    assert(sample.count() == 2 && full.count() == 3)

    // K4 update
    assert(Jdbc.updateById(url, "users", "id", "u1",
      Seq("email" -> "new@x.com", "score" -> Int.box(99))) == 1)
    assert(Jdbc.readQuery(spark, url, "SELECT email FROM users WHERE id = 'u1'")
      .as[String].collect()(0) == "new@x.com")

    // K5 delete with rowcount
    assert(Jdbc.deleteById(url, "users", "id", "u3") == 1)
    assert(Jdbc.deleteById(url, "users", "id", "u3") == 0)

    // K6 batch in one transaction, rollback on error
    Jdbc.executeBatch(url, Seq(
      "INSERT INTO users VALUES ('u4', 'd@x.com', 40)",
      "INSERT INTO users VALUES ('u5', 'e@x.com', 50)"))
    assert(Jdbc.readTable(spark, url, "users").count() == 4)
    intercept[Throwable] {
      Jdbc.executeBatch(url, Seq(
        "INSERT INTO users VALUES ('u6', 'f@x.com', 60)",
        "THIS IS NOT SQL"))
    }
    assert(Jdbc.readTable(spark, url, "users").count() == 4, "failed batch must roll back")
  }

  test("K3 error isolation: mixed batch -> good rows land, bad rows reported") {
    val iurl = "jdbc:derby:memory:graftiso;create=true"
    Jdbc.createTableIfAbsent(iurl, "accounts",
      "id VARCHAR(20) PRIMARY KEY, email VARCHAR(255), score INT")
    Jdbc.append(Seq(("u2", "pre@x.com", 5)).toDF("id", "email", "score"), iurl, "accounts")

    // u1 new, u2 conflicts with the table, u3 duplicated within the batch
    val mixed = Seq(
      ("u1", "a@x.com", 10), ("u2", "b@x.com", 20),
      ("u3", "c@x.com", 30), ("u3", "d@x.com", 31))
      .toDF("id", "email", "score")
    val (inserted, conflicts) = Jdbc.appendIsolated(mixed, iurl, "accounts", "id")
    assert(inserted == 2, "u1 and first u3 land")
    val errs = conflicts.select("id", "error").as[(String, String)].collect().toSet
    assert(errs == Set(
      "u2" -> "key already exists",
      "u3" -> "duplicate key within batch"))
    assert(Jdbc.readTable(spark, iurl, "accounts").count() == 3, "u2(pre), u1, u3")

    // against the anti/semi form the labelled join replaced: a key column
    // that is not unique (k = 1 twice in the table), a key both in the
    // table and twice in the batch (k = 2), NULL keys twice in the batch
    // and once in the table, and a key twice in the batch only (k = 4)
    def referenceIsolated(df: DataFrame, table: String, keyCol: String): (Long, DataFrame) = {
      val existing = Jdbc.readKeys(spark, iurl, table, keyCol).toDF(keyCol)
        .select(col(keyCol).cast(df.schema(keyCol).dataType)).localCheckpoint(true)
      val w = Window.partitionBy(col(keyCol)).orderBy(df.columns.toIndexedSeq.map(col): _*)
      val ranked = df.withColumn("__rn", row_number().over(w)).localCheckpoint(true)
      val firstPerKey = ranked.filter(col("__rn") === 1).drop("__rn")
      val dupInBatch = ranked.filter(col("__rn") > 1).drop("__rn")
        .withColumn("error", lit("duplicate key within batch"))
      val clean = firstPerKey.join(broadcast(existing), Seq(keyCol), "left_anti")
        .localCheckpoint(true)
      val conflicts = firstPerKey.join(broadcast(existing), Seq(keyCol), "left_semi")
        .withColumn("error", lit("key already exists"))
        .unionByName(dupInBatch)
      Jdbc.append(clean, iurl, table)
      (clean.count(), conflicts)
    }
    val pre = Seq[(String, Option[Int], Int)](
      ("t1", Some(1), 1), ("t2", Some(1), 2), ("t3", Some(2), 3), ("t4", None, 4))
      .toDF("id", "k", "score")
    val batch = Seq[(String, Option[Int], Int)](
      ("b1", Some(1), 10), ("b2", Some(2), 11), ("b3", Some(2), 12),
      ("b4", None, 13), ("b5", None, 14), ("b6", Some(3), 15),
      ("b7", Some(4), 16), ("b8", Some(4), 17))
      .toDF("id", "k", "score")
    Seq("multi_got", "multi_ref").foreach { tb =>
      Jdbc.createTableIfAbsent(iurl, tb, "id VARCHAR(20), k INT, score INT")
      Jdbc.append(pre, iurl, tb)
    }
    def rows(df: DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val (gotN, gotConf) = Jdbc.appendIsolated(batch, iurl, "multi_got", "k")
    val (refN, refConf) = referenceIsolated(batch, "multi_ref", "k")
    assert(gotN === refN && gotN === 3L, "the first NULL, b6 and b7 land")
    assert(rows(Jdbc.readTable(spark, iurl, "multi_got"), "ID", "K", "SCORE") ===
      rows(Jdbc.readTable(spark, iurl, "multi_ref"), "ID", "K", "SCORE"))
    assert(gotConf.columns.toSeq === batch.columns.toSeq :+ "error",
      "the original columns plus error")
    assert(rows(gotConf, "id", "k", "score", "error") ===
      rows(refConf, "id", "k", "score", "error"))
    assert(rows(gotConf, "k", "error") === Seq(
      "[1,key already exists]", "[2,duplicate key within batch]",
      "[2,key already exists]", "[4,duplicate key within batch]",
      "[null,duplicate key within batch]"))

    // tripwire: one eager snapshot of the labelled frame, then the append
    // and the count — 6 jobs here, where the anti/semi form's three
    // snapshots ran 8
    Jdbc.createTableIfAbsent(iurl, "multi_jobs", "id VARCHAR(20), k INT, score INT")
    Jdbc.append(pre, iurl, "multi_jobs")
    assert(graft.SparkJobs.count(spark)(
      Jdbc.appendIsolated(batch, iurl, "multi_jobs", "k")) === 6)

    // per-row fallback: the reference's one-transaction-per-row semantics
    val residue = Seq(("u4", "e@x.com", 40), ("u1", "dup@x.com", 41))
      .toDF("id", "email", "score")
    val rowErrs = Jdbc.appendRowIsolated(residue, iurl, "accounts", "id")
    assert(rowErrs.select("id").as[String].collect().toSeq == Seq("u1"),
      "only the duplicate key errors")
    assert(Jdbc.readTable(spark, iurl, "accounts").count() == 4, "u4 landed despite u1 failing")
  }

  test("key-conflict checks: one labelled join each, no anti/semi split, one snapshot in appendIsolated") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def code(file: String): List[String] = {
      val p = Paths.get("src/main/scala/graft", file)
      assert(Files.exists(p), s"run from the repository root: no $p")
      Files.readAllLines(p).asScala.toList
        .filterNot(l => Seq("*", "/*", "//").exists(l.trim.startsWith))
    }
    // a member's body runs from its first line to the next line at its
    // own indentation or less
    def body(lines: List[String], first: String, indent: Int): List[String] = {
      val start = lines.indexWhere(_.contains(first))
      assert(start >= 0, s"$first is gone")
      val end = lines.indexWhere(l => l.trim.nonEmpty &&
        l.takeWhile(_ == ' ').length <= indent, start + 1)
      lines.slice(start, if (end < 0) lines.size else end)
    }
    def sites(lines: Seq[String], pat: String) =
      lines.map(_.sliding(pat.length).count(_ == pat)).sum
    val jdbc = code("io/Jdbc.scala")
    val resolve = body(code("ops/Ops.scala"), "def resolveIdConflicts(", 2)
    val j2 = body(code("queries/CoreQueries.scala"),
      "\"j2_anti_conflict_rewrite\" -> ((s, dir)", 4)
    Seq("io/Jdbc.scala" -> jdbc, "Ops.resolveIdConflicts" -> resolve,
        "j2_anti_conflict_rewrite" -> j2).foreach { case (where, lines) =>
      assert(sites(lines, "left_semi") === 0, s"an anti/semi split is back in $where")
    }
    assert(sites(j2, "Ops.resolveIdConflicts(") === 1, "J2's query runs the module code")
    assert(sites(body(jdbc, "def appendIsolated(", 2), "localCheckpoint") === 1,
      "one eager snapshot in appendIsolated")
  }

  test("W2 in-DB cleanup: DELETE keeps newest per key, ties break on id") {
    val curl = "jdbc:derby:memory:graftw2;create=true"
    Jdbc.createTableIfAbsent(curl, "profiles",
      "id VARCHAR(20) PRIMARY KEY, email VARCHAR(255), created_at TIMESTAMP")
    Jdbc.append(Seq(
      ("p1", "a@x.com", "2024-01-01 10:00:00"),
      ("p2", "a@x.com", "2024-01-03 10:00:00"), // newest a@x.com
      ("p3", "b@x.com", "2024-01-02 10:00:00"),
      ("p4", "b@x.com", "2024-01-02 10:00:00"), // tie: higher id wins
      ("p5", "c@x.com", "2024-01-01 10:00:00")) // singleton untouched
      .toDF("id", "email", "created")
      .withColumn("created_at", col("created").cast("timestamp")).drop("created"),
      curl, "profiles")
    val removed = Jdbc.deleteDuplicatesKeepNewest(curl, "profiles", "email", "created_at", "id")
    assert(removed == 2)
    assert(Jdbc.readTable(spark, curl, "profiles")
      .select(col("ID")).as[String].collect().toSet == Set("p2", "p4", "p5"))
    assert(Jdbc.deleteDuplicatesKeepNewest(curl, "profiles", "email", "created_at", "id") == 0,
      "idempotent once clean")
  }

  test("F13 timestamped path shape") {
    val p = Jdbc.timestampedPath("export", "csv")
    assert(p.matches("export_\\d{8}_\\d{6}\\.csv"))
  }

  test("streaming foreachBatch -> JDBC append (K3 streaming twin)") {
    import graft.streaming.Streams
    val surl = "jdbc:derby:memory:graftstream;create=true"
    Jdbc.createTableIfAbsent(surl, "sunk",
      "event_id BIGINT, user_id BIGINT, event_type VARCHAR(20)")
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.Event]
    stream.addData(Seq(
      Streams.Event(1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.0),
      Streams.Event(2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 8L, "view", 2.0)))
    val ckpt = graft.util.Scratch.dir("ckpt")
    val q = Streams.toJdbc(
      stream.toDS().toDF().select("event_id", "user_id", "event_type"),
      surl, "sunk", ckpt)
    q.processAllAvailable()
    stream.addData(Seq(
      Streams.Event(3L, java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), 7L, "click", 3.0)))
    q.processAllAvailable(); q.stop()
    val back = Jdbc.readTable(spark, surl, "sunk")
    assert(back.count() == 3, "both micro-batches appended")
  }
}
