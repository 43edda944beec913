package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Facade smoke: every Graft entry point drives its real implementation. */
class GraftFacadeSpec extends SparkSpec {
  import spark.implicits._

  test("facade delegations work end to end") {
    val df = Seq((1L, "k1", "2024-01-01 00:00:00"), (2L, "k1", "2024-01-02 00:00:00"))
      .toDF("id", "k", "t").withColumn("ts", col("t").cast("timestamp"))
    assert(Graft.dedupKeepLatest(df, Seq("k"), "ts", "id")
      .select("id").as[Long].collect().toSeq == Seq(2L))

    val (ok, bad) = Graft.validateSplit(df, Seq("neg" -> (col("id") < 0)))
    assert(ok.count() == 2 && bad.count() == 0)

    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "z y x w v u t s"))
      .toDF("doc_id", "text")
    assert(Graft.exactDedup(docs, "text", "doc_id").count() == 2)
    assert(Graft.nearDupPairs(docs, "doc_id", "text", 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet == Set((1L, 2L)))

    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val nn = Graft.annTopK(emb.filter(col("vec_id") > 0), emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", 1)
    assert(nn.select("cid").as[Long].collect().toSeq == Seq(1L))

    val fixed = Graft.resolveIdConflicts(Seq("a", "b").toDF("id"), Seq("b").toDF("id"), "id")
    assert(fixed.count() == 2)
  }

  test("facade: temporal + LLM additions stay wired") {
    import spark.implicits._
    val ev = Seq((1L, 7L, "2024-01-01 10:00:00"), (2L, 7L, "2024-01-01 20:00:00"))
      .toDF("event_id", "user_id", "t")
      .withColumn("ts", col("t").cast("timestamp")).drop("t")
    assert(Graft.sessionize(ev, Seq("user_id"), "ts", 3600L)
      .select("session_id").as[Long].collect().toSet == Set(1L, 2L))
    val right = ev.select(col("user_id"), col("ts"), col("event_id").as("rid"))
    assert(Graft.asofJoin(ev, right, Seq("user_id"), "ts", "ts", Seq("rid")).count() == 2)
    // tieBreak reaches Ops.asofJoin through the facade: two right rows at
    // the same timestamp resolve to the highest rid deterministically
    val tied = Seq((7L, "2024-01-01 10:00:00", 100L), (7L, "2024-01-01 10:00:00", 200L))
      .toDF("user_id", "t", "rid")
      .withColumn("ts", col("t").cast("timestamp")).drop("t")
    val won = Graft.asofJoin(ev, tied, Seq("user_id"), "ts", "ts", Seq("rid"),
      tieBreak = Some("rid"))
      .filter(col("event_id") === 1L).select("rid").as[Long].collect()
    assert(won.toSeq == Seq(200L), "deterministic tie-break picks max rid")
    assert(Graft.scrubPii(Seq("x@y.co ok").toDF("text"), "text")
      .as[String].collect()(0) == "<EMAIL> ok")
    val grouped = Seq((1, 5L), (1, 9L), (1, 2L)).toDF("g", "v")
      .groupBy("g").agg(Graft.topK(col("v"), 2).as("t"))
    assert(grouped.select("t").as[Seq[Long]].collect()(0) == Seq(9L, 5L))
  }

  test("facade: dedup modes, stats, pair generators, stratified sampling") {
    val df = Seq((1L, "k1", "2024-01-01 00:00:00"), (2L, "k1", "2024-01-02 00:00:00"),
        (3L, "k2", "2024-01-03 00:00:00"))
      .toDF("id", "k", "t").withColumn("ts", col("t").cast("timestamp"))
    assert(Graft.dedup(df, Seq("k"), "ts", "id", keep = "first")
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    assert(Graft.dedup(df, Seq("k"), "ts", "id", keep = "all").count() == 3)
    val stats = Graft.dedupStats(df, Seq("k"), "ts", "id").collect()
    assert(stats.length == 1 && stats(0).getAs[Long]("dup_count") == 2L
      && stats(0).getAs[Long]("kept_id") == 2L)

    val sentence = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, sentence), (2L, sentence),
      (3L, "completely different text about spark physical plans here"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    assert(Graft.simHashPairs(docs, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    assert(Graft.ngramJaccardPairs(docs, "doc_id", "text", blockExpr = col("lang"),
        n = 2, threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet == Set((1L, 2L)))

    val many = (1L to 50L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val sampled = Graft.stratifiedSample(many, Seq("lang"), "doc_id", 5)
    assert(sampled.groupBy("lang").count().as[(String, Long)].collect().toMap ==
      Map("en" -> 5L, "fr" -> 5L))
    // deterministic: same input -> same sample
    assert(Graft.stratifiedSample(many, Seq("lang"), "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet ==
      sampled.select("doc_id").as[Long].collect().toSet)
  }

  test("facade: curation ops (packing, importance sampling, chunking) stay wired") {
    val docs = (1L to 30L).map(i => (i, (1 to 20).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Graft.packSequences(docs, budget = 64, shards = 2)
    assert(packed.count() == 30)
    assert(packed.select("shard").distinct().count() == 2)
    val kept = Graft.importanceSample(docs.withColumn("pm", lit(500L)), "doc_id", col("pm"))
    assert(kept.count() > 0 && kept.count() < 30)
    assert(kept.select("weight").distinct().as[Double].collect().toSeq == Seq(2.0))
    val chunks = Graft.chunkSliding(docs, chunkWords = 8, strideWords = 6)
    assert(chunks.count() == 30 * 3) // 20 words -> chunks at 0, 6, 12
  }

  test("facade: shard emission writers stay wired") {
    val docs = (1L to 60L).map(i => (i, s"alpha beta w${i % 9} w${i % 4}"))
      .toDF("doc_id", "text")
    val d1 = graft.util.Scratch.dir("fshards") + "/s"
    Graft.writeShuffledShards(docs, "doc_id", "seed", shards = 2, path = d1)
    assert(spark.read.parquet(d1).count() == 60)
    val d2 = graft.util.Scratch.dir("fshards") + "/c"
    Graft.writeCurriculumShards(docs, "doc_id", "text", d2, files = 2)
    assert(spark.read.parquet(d2).count() == 60)
  }

  test("round-12 facade entries delegate faithfully") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val log = Seq((1L, "a", ts(1)), (1L, "b", ts(2)), (2L, "a", ts(3)))
      .toDF("user_id", "event_type", "ts")
    assert(Graft.funnel(log, "user_id", "event_type", "ts", Seq("a", "b"))
      .orderBy("step_idx").as[(Long, String, Long)].collect().toSeq ==
      Seq((0L, "a", 2L), (1L, "b", 1L)))
    assert(Graft.funnelSinglePass(log, "user_id", "event_type", "ts", Seq("a", "b"))
      .orderBy("step_idx").as[(Long, String, Long)].collect().toSeq ==
      Seq((0L, "a", 2L), (1L, "b", 1L)))
    val edges = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("s", "d", "w")
    assert(Graft.pageRank(edges, "s", "d", Some("w"), iters = 1)
      .as[(String, Long)].collect().toMap.values.toSet == Set(500000000L))
    val docs = Seq((1L, "spark rocks"), (2L, "other words")).toDF("doc_id", "text")
    assert(Graft.bm25(docs, "doc_id", "text", Seq("spark"))
      .filter(col("doc_id") === 2L).as[(Long, Double)].collect().head._2 == 0.0)
    assert(Graft.tfIdfTopTerms(docs, "doc_id", "text", k = 1).count() == 2)
    val imgs = Seq(
      (1L, graft.llm.Multimodal.syntheticImage(3L, 64, 64, "png")),
      (2L, graft.llm.Multimodal.syntheticImage(3L, 64, 64, "bmp")))
      .toDF("doc_id", "content")
    assert(Graft.imageNearDupPairs(spark, imgs, "doc_id", "content")
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 0L)))
    assert(Graft.weightedQuantiles(
        Seq((1L, 10L, 1L), (2L, 20L, 9L)).toDF("id", "v", "w"),
        "v", "w", Seq(500)).as[(Long, Long)].collect().toSeq ==
      Seq((500L, 20L)))
  }

  test("dedupNearDuplicates keeps one survivor per duplicate cluster") {
    val sentence = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, sentence), (2L, sentence),                        // exact dup cluster
      (3L, "completely different text about spark physical plans here"))
      .toDF("doc_id", "text")
    val kept = Graft.dedupNearDuplicates(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), "cluster min id survives, distinct doc untouched")
  }

  test("every Graft entry point has a caller in the specs or the benchmark") {
    val facade = Paths.get("src/main/scala/graft/Graft.scala")
    assert(Files.exists(facade), s"run from the repository root: no $facade")
    val defs = "(?m)^\\s+def (\\w+)".r
      .findAllMatchIn(Files.readString(facade)).map(_.group(1)).toSet
    val roots = Seq("src/test/scala", "perfbench/src").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repository root: no $r"))
    val called = roots.flatMap { r =>
      val stream = Files.walk(r)
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    }.flatMap { p =>
      "\\bGraft\\.(\\w+)".r.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    val uncalled = (defs -- called).toSeq.sorted
    assert(uncalled.isEmpty, s"${uncalled.size} Graft methods have no caller under " +
      s"${roots.mkString(" or ")} — call the module method directly and delete " +
      s"the forwarder: ${uncalled.mkString(", ")}")
  }
}
