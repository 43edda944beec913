package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Graft
import graft.llm.Dedup
import graft.ops.Ops

/** LLM-data curation: exact dedup → LSH near-dup pairs → connected
  * components → keep one per cluster → Gopher quality filter + bigram
  * LM score → token-budget selection → sequence packing → shuffled
  * training shards. */
final class CorpusWorkload(ctx: Ctx) extends Workload {
  import CorpusWorkload._
  private val spark = ctx.spark
  private val docsPath = ctx.dataFile("docs.parquet")
  private val outPath = ctx.workDir("out") + "/shards"
  /** Half the base documents' tokens: the budget binds, so selection
    * has to rank. */
  private val budget = ctx.metaLong("base_tokens") / 2
  private def docs = spark.read.parquet(docsPath)
  private def truth = spark.read.parquet(ctx.dataFile("truth.parquet"))

  val records: Long = ctx.metaLong("docs")
  val spanNames: Seq[String] = Seq("dedup.exact", "dedup.lsh_pairs", "ops.components",
    "dedup.keep_one", "text.quality", "curate.select", "curate.pack", "tables.write_shards")

  private var candidatePairs = 0L
  private var verifiedPairs = 0L
  /** The last pass's dedup survivors, kept cached until the next pass so
    * the check can score them. */
  private var lastKept: DataFrame = _
  private var planted = 0L
  private var removed = 0L

  def touch(): Unit = docs.schema

  override def prepare(): Unit = {
    spark.catalog.clearCache()
    Ctx.deleteTree(outPath)
  }

  /** The dedup stage: survivors of exact and near-duplicate removal. */
  private def dedup(t: Tracer): DataFrame = {
    val exact = t.frame("dedup.exact")(Graft.exactDedup(docs, "text", "doc_id")).persist()
    val pairs = t.frame("dedup.lsh_pairs")(Graft.nearDupPairs(exact, "doc_id", "text", Threshold))
    if (t.enabled) {
      candidatePairs = t.bookkeeping(Plans.maxJoinRows(pairs))
      verifiedPairs = t.bookkeeping(pairs.count())
    }
    val comps = t.frame("ops.components")(Ops.connectedComponents(pairs, "a", "b"))
    t.frame("dedup.keep_one")(Dedup.keepOnePerCluster(exact, "doc_id", comps))
  }

  def pass(t: Tracer): Unit = {
    val kept = dedup(t)
    lastKept = kept
    // token-budget selection runs several jobs over its input, so the job
    // keeps the scored frame rather than recomputing its lineage per job
    val scored = t.frame("text.quality") {
      val flagged = kept.withColumn("g", Graft.gopherFlags(col("text"), 50L, 100000L, 3.0, 10.0, 2L))
        .filter(col("g.keep"))
      val lm = Graft.ngramLmScore(flagged, "doc_id", "text")
      flagged.join(lm, "doc_id").select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("g.n_words").as("tokens"),
        (col("lp_micro") / greatest(col("n_bigrams"), lit(1L))).cast("long").as("score"))
    }.persist()
    // the selection feeds both the packer and the shard writer
    val selected = t.frame("curate.select")(
      Graft.selectByTokenBudget(scored, "doc_id", "score", "tokens", budget)).persist()
    try {
      val packed = t.frame("curate.pack")(Graft.packSequences(selected, "text", "doc_id", 512, Shards))
      t.span("tables.write_shards")(Graft.writeShuffledShards(
        selected.join(packed.select("doc_id", "pack_first", "pack_last"), "doc_id"),
        "doc_id", s"seed${ctx.seed}", Shards, outPath))(_ => spark.read.parquet(outPath).count())
    } finally selected.unpersist()
  }

  override def extras(t: Tracer): Map[String, Double] = Map(
    "dedup.lsh_pairs.candidate_pairs" -> candidatePairs.toDouble,
    "dedup.lsh_pairs.pair_yield" -> verifiedPairs.toDouble / math.max(1L, candidatePairs))

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val out = spark.read.parquet(outPath)
    val r = out.agg(count(lit(1)), countDistinct(col("doc_id")),
      countDistinct(md5(col("text"))), coalesce(sum(col("tokens")), lit(0L))).head()
    val (rows, ids, texts, tokens) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    if (rows == 0) errs += "no documents selected"
    if (ids != rows) errs += s"duplicate doc ids in the shards: $ids distinct of $rows"
    if (texts != rows) errs += s"planted exact duplicates survived: $texts distinct texts of $rows"
    if (tokens > budget) errs += s"token budget exceeded: $tokens > $budget"
    if (tokens < budget * 9 / 10) errs += s"token budget underused: $tokens of $budget"
    val kinds = out.select("doc_id").join(truth, "doc_id", "left")
      .groupBy(col("kind")).count().collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    if (kinds.contains("null")) errs += s"${kinds("null")} output ids not in the input"
    if (kinds.contains("boiler")) errs += s"${kinds("boiler")} boilerplate docs passed the quality filter"
    val (p, d) = dupRecall()
    if (p == 0) errs += "no planted duplicates to score"
    planted += p
    removed += d
    errs.result()
  }

  def corrupt(): Unit =
    spark.read.parquet(outPath).limit(1).write.mode("append").parquet(outPath)

  /** Planted duplicate documents (copies and near variants beyond one
    * per planted group) and how many of them the last pass's dedup
    * stage removed. */
  private def dupRecall(): (Long, Long) = {
    val kept = lastKept.select(col("doc_id"), lit(1).as("kept"))
    val g = truth.filter(col("grp") >= 0).join(kept, Seq("doc_id"), "left")
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), count(col("kept")).as("k"))
      .filter(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0L)),
        coalesce(sum(col("n") - greatest(col("k"), lit(1L))), lit(0L)))
      .head()
    (g.getLong(0), g.getLong(1))
  }

  /** dup_recall over every checked pass. */
  def quality(): Double = if (planted == 0) 0.0 else removed.toDouble / planted
}

object CorpusWorkload {
  val Threshold = 0.6
  val Shards = 8
}
