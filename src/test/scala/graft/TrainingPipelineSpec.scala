package graft

import org.apache.spark.sql.functions._

/** The full training-data curation pipeline composed end to end from
  * the facade and the module methods — raw crawl to shard files — with
  * ground truth injected at every stage: exact duplicates,
  * near-duplicates, benchmark contamination, and PII, each of which
  * exactly one stage must
  * remove, so the final corpus is a known id set and any stage
  * regression shows as a precise diff. The per-operator semantics are
  * oracle-checked elsewhere; this spec proves the stages COMPOSE (the
  * thing a user of the engine actually runs). */
class TrainingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def words(i: Int, n: Int = 40) =
    (1 to n).map(j => s"d${i}w$j").mkString(" ")
  private def benchText(k: Int) =
    (1 to 10).map(j => s"bench${k}w$j").mkString(" ")

  test("raw crawl -> dedup -> decontaminate -> scrub -> split/mix -> shards") {
    val corpus = (
      (1 to 40).map(i => (i.toLong, words(i), if (i % 4 == 0) "books" else "web")) ++
        // exact duplicates of docs 1-5 (exact dedup must drop, min id wins)
        (101 to 105).map(i => (i.toLong, words(i - 100), "web")) ++
        // near-duplicates of docs 6-10, one word appended (LSH must drop)
        (111 to 115).map(i => (i.toLong, words(i - 105) + " extraword", "web")) ++
        // contaminated: embed a benchmark text verbatim (decontamination must drop)
        (121 to 123).map(i => (i.toLong, benchText(i - 120) + " " + words(i), "web"))
      ).toDF("doc_id", "text", "source")
      // PII in two otherwise-clean WEB docs (scrub must redact, not
      // drop; web ids so the books token total stays within its fair
      // share in step 5)
      .withColumn("text", when(col("doc_id").isin(11L, 13L),
        concat(col("text"), lit(" contact bob@example.com now")))
        .otherwise(col("text")))
    val bench = (1 to 3).map(k => (k.toLong, benchText(k))).toDF("bench_id", "text")

    // 1. exact dedup: byte-identical copies collapse to the min id
    val exact = Graft.exactDedup(corpus, "text", "doc_id")
    assert(exact.select("doc_id").as[Long].collect().toSet ==
      ((1 to 40) ++ (111 to 115) ++ (121 to 123)).map(_.toLong).toSet)

    // 2. near-dup dedup, and the clusters feeding it are split-atomic
    val pairs = Graft.nearDupPairs(exact, "doc_id", "text", threshold = 0.8)
    val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b")
    val split = graft.llm.Curate.leakFreeSplit(exact, comp, "doc_id")
    val leaky = split.join(comp, split("doc_id") === comp("node"))
      .groupBy("label").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(leaky == 0, "a duplicate cluster must never span train and val")
    // one survivor per cluster: the non-representative members drop
    val deduped = graft.llm.Dedup.keepOnePerCluster(exact, "doc_id", comp)
    assert(deduped.select("doc_id").as[Long].collect().toSet ==
      ((1 to 40) ++ (121 to 123)).map(_.toLong).toSet,
      "near-dup copies drop; their originals and all distinct docs survive")

    // 3. decontamination: trigram shingle-hash overlap vs the benchmark
    val shingleHashes = (df: org.apache.spark.sql.DataFrame, id: String) => df
      .withColumn("w", graft.llm.Text.words(col("text")))
      .filter(size(col("w")) >= 3)
      .withColumn("h", explode(array_distinct(
        transform(graft.llm.Text.shingles(col("w")), x => graft.llm.Text.md5Hash(x)))))
      .select(col(id), col("h"))
    val contaminated = shingleHashes(deduped, "doc_id")
      .join(shingleHashes(bench, "bench_id").select("h").distinct(), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= 3)
      .select("doc_id")
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    assert(clean.select("doc_id").as[Long].collect().toSet ==
      (1 to 40).map(_.toLong).toSet,
      "only the docs embedding benchmark text are removed")

    // 4. PII scrub redacts in place — same rows, no addresses left
    val scrubbed = clean.withColumn("text", graft.llm.Text.scrubPii(col("text")))
    assert(scrubbed.count() == 40)
    assert(scrubbed.filter(col("text").contains("@")).count() == 0)
    assert(scrubbed.filter(col("doc_id") === 11L)
      .select("text").as[String].head().contains("d11w40"),
      "non-PII content must survive the scrub")

    // 5. mixture balancing: web dominates the token mass, so max-min
    // fair water-filling downsamples web and keeps all of books
    val withTokens = scrubbed.withColumn("tokens",
      graft.llm.Text.wsTokenCount(col("text")))
    val total = withTokens.agg(sum("tokens")).as[Long].head()
    val mixed = graft.llm.Curate.mixCorpus(withTokens, "source", "tokens", "doc_id", total / 2)
    val rates = mixed.groupBy("source").agg(max("rate_pm").as("r"))
      .as[(String, Long)].collect().toMap
    assert(rates("books") == 1000L, "the small source is never starved")
    assert(rates("web") < 1000L, "the dominant source pays the budget cut")

    // 6. emission: the curated corpus lands as disjoint-range shard
    // files holding every surviving doc exactly once
    val dir = graft.util.Scratch.dir("e2eshards") + "/t"
    Graft.writeShuffledShards(scrubbed, "doc_id", seed = "e2e", shards = 3, path = dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 40 &&
      back.select("doc_id").distinct().count() == 40)
    // and a mid-run resume reads the exact remainder
    val cursor = back.orderBy("shard", "pos")
      .select("shard", "pos").as[(Long, Long)].collect()(19)
    assert(graft.llm.Order.readShardsFrom(spark, dir, cursor._1, cursor._2).count() == 20)
  }
}
