package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Public facade — the entry points the reference pipeline's lifecycle
  * and the benchmark call, and nothing else. Thin delegations; each
  * capability lives in its own package and is called there directly
  * for everything else (see README / COVERAGE.md).
  *
  * The reference's `main.py` lifecycle (SURVEY.md §3.1) becomes:
  * {{{
  * val raw    = Graft.readRtdbSharded(spark, "export.json", 8)   // EXTRACT (S1)
  * val users  = Graft.transformUsers(fields(raw))                // VALIDATE+TRANSFORM+DEDUP
  * val (ok, bad) = Graft.validateSplit(users, model.User.checks) // §2.8 split
  * val fixed  = Graft.resolveIdConflicts(ok, existingIds, "id")  // J2
  * Graft.writeCsv(fixed, "out")                                  // LOAD (K2)
  * }}}
  */
object Graft {

  // -- sources / sinks ------------------------------------------------
  /** Key-range-sharded DSv2 variant for big snapshots. */
  def readRtdbSharded(spark: SparkSession, path: String, partitions: Int): DataFrame =
    spark.read.format("graft.sources.RtdbSnapshotSource")
      .option("path", path).option("numPartitions", partitions.toString).load()

  def writeCsv(df: DataFrame, path: String): Unit = io.Tables.writeCsv(df, path)

  // -- the ETL operator set ------------------------------------------
  /** `keepInvalidEmails = true` diverges from the reference: null-email
    * rows survive for the typed error channel instead of being dropped
    * pre-dedup (see model.User.transform). */
  def transformUsers(raw: DataFrame, keepInvalidEmails: Boolean = false): DataFrame =
    model.User.transform(raw, keepInvalidEmails = keepInvalidEmails)

  def validateSplit(df: DataFrame, checks: Seq[(String, Column)]): (DataFrame, DataFrame) =
    ops.Ops.validateSplit(checks)(df)

  def enrichFromAuth(users: DataFrame, auth: DataFrame, key: String = "uid"): DataFrame =
    ops.Ops.enrichFromAuth(users, auth, key)

  def resolveIdConflicts(incoming: DataFrame, existing: DataFrame, idCol: String): DataFrame =
    ops.Ops.resolveIdConflicts(incoming, existing, idCol)

  // -- LLM-data curation ---------------------------------------------
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    llm.Dedup.exactDedup(df, textCol, idCol)

  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame =
    llm.Dedup.minHashLshPairs(df, idCol, textCol, threshold)

  /** Sequence packing (concat-and-chunk into fixed token windows,
    * hash-shuffled within shards). */
  def packSequences(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", budget: Int = 512,
                    shards: Int = 8): DataFrame =
    llm.Curate.packSequences(docs, textCol, idCol, budget, shards)

  /** Exact token-budget corpus selection (best scores first) via
    * hierarchical prefix refinement — no global sort. Tokens must be
    * >= 1 per row. */
  def selectByTokenBudget(docs: DataFrame, idCol: String, scoreCol: String,
                          tokensCol: String, budget: Long): DataFrame =
    llm.Curate.selectByTokenBudget(docs, idCol, scoreCol, tokensCol, budget)

  /** Emit the corpus as disjoint-range training shard files in the
    * seeded `llm.Order.globalShuffle` order; reading files in name order
    * reproduces the exact permutation. */
  def writeShuffledShards(docs: DataFrame, idCol: String, seed: String,
                          shards: Int, path: String): Unit =
    llm.Order.writeShuffledShards(docs, idCol, seed, shards, path)

  /** Count-based bigram-LM quality scoring (add-one smoothing,
    * micro-nat integer log-probs). */
  def ngramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    llm.NgramLm.score(docs, idCol, textCol)

  def gopherFlags(text: Column, minWords: Long, maxWords: Long,
                  minMeanWordLen: Double, maxMeanWordLen: Double,
                  minStopwords: Long): Column =
    llm.Text.gopherFlags(text, minWords, maxWords, minMeanWordLen,
      maxMeanWordLen, minStopwords)

  // -- ANN index -----------------------------------------------------
  /** Build the FAISS-shape IVFPQ index: PQ codes partitioned by coarse
    * cluster + centroid/codebook tables. */
  def persistIvfPqIndex(df: DataFrame, idCol: String, embCol: String,
                        labelCol: String, path: String, m: Int = 4,
                        dim: Int = 64): Unit =
    llm.Similarity.persistIvfPqIndex(df, idCol, embCol, labelCol, path, m, dim)

  /** IVFPQ serving from a persisted index: nprobe cluster probe →
    * DPP-pruned code-column ADC scan → exact rescore against `store`
    * (a (cid, ce) milli-quantized frame, e.g. the original corpus). */
  def annIvfPqTopK(spark: SparkSession, indexPath: String, store: DataFrame,
                   queries: DataFrame, qId: String, embCol: String, k: Int,
                   m: Int = 4, dim: Int = 64, coarse: Int = 20,
                   nprobe: Int = 1): DataFrame = {
    val (cent, byLabel, codes) = llm.Similarity.readIvfPqIndex(spark, indexPath)
    llm.Similarity.ivfPqTopK(cent, byLabel, codes, store, queries, qId,
      embCol, k, m, dim, coarse, nprobe)
  }

}
