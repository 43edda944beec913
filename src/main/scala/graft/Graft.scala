package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public facade — the entry points the reference pipeline's lifecycle
  * and the benchmark call. Thin delegations; each capability lives in
  * its own package and is called there directly for everything else
  * (see README / COVERAGE.md).
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

  def dedupKeepLatest(df: DataFrame, keys: Seq[String], ts: String, tieBreak: String): DataFrame =
    ops.Ops.dedupKeepLatest(keys, ts, tieBreak)(df)

  /** W1 keep-mode dispatcher (`keep = "last" | "first" | "all"`) —
    * the reference's drop_duplicates keep= parameter. */
  def dedup(df: DataFrame, keys: Seq[String], ts: String, tieBreak: String,
            keep: String = "last"): DataFrame =
    ops.Ops.dedup(keys, ts, tieBreak, keep)(df)

  /** W1 stats detail channel: per duplicated key — count, removed
    * count, kept id, sorted member list. */
  def dedupStats(df: DataFrame, keys: Seq[String], ts: String, tieBreak: String): DataFrame =
    ops.Ops.dedupStats(keys, ts, tieBreak)(df)

  /** Per-stratum quota sampling in a deterministic md5 order (map-side
    * group limit; shuffle carries ~quota×|strata| rows). */
  def stratifiedSample(df: DataFrame, stratCols: Seq[String], idCol: String,
                       perStratum: Int): DataFrame =
    ops.Ops.stratifiedSample(stratCols, idCol, perStratum)(df)

  def validateSplit(df: DataFrame, checks: Seq[(String, Column)]): (DataFrame, DataFrame) =
    ops.Ops.validateSplit(checks)(df)

  def enrichFromAuth(users: DataFrame, auth: DataFrame, key: String = "uid"): DataFrame =
    ops.Ops.enrichFromAuth(users, auth, key)

  def resolveIdConflicts(incoming: DataFrame, existing: DataFrame, idCol: String): DataFrame =
    ops.Ops.resolveIdConflicts(incoming, existing, idCol)

  // -- temporal / interval operators ---------------------------------
  /** As-of backward join (one-shuffle union+window composition). Pass
    * `tieBreak` to break equal-timestamp right rows deterministically —
    * without it, which tied row wins is plan-dependent. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               tieBreak: Option[String] = None): DataFrame =
    ops.Ops.asofJoin(left, right, keys, leftTs, rightTs, payload, tieBreak)

  /** Gap-based sessionization: adds a per-key `session_id` column. */
  def sessionize(df: DataFrame, keys: Seq[String], ts: String, gapSeconds: Long): DataFrame =
    ops.Ops.sessionize(keys, ts, gapSeconds)(df)

  // -- LLM-pipeline operators ----------------------------------------
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    llm.Dedup.exactDedup(df, textCol, idCol)

  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame =
    llm.Dedup.minHashLshPairs(df, idCol, textCol, threshold)

  /** SimHash near-dup pairs (banded 48-bit signatures, exact Hamming
    * verify) — the cheaper-signature alternative to MinHash LSH. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 2): DataFrame =
    llm.Dedup.simHashPairs(df, idCol, textCol, maxHamming)

  /** Blocked n-gram Jaccard near-dup pairs: quadratic work confined to
    * `blockExpr` blocks (e.g. language × length band), hot blocks
    * capped. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockExpr: Column, n: Int = 2,
                        threshold: Double = 0.15): DataFrame =
    llm.Dedup.ngramJaccardPairs(df, idCol, textCol, blockExpr, n, threshold)

  /** Full near-dup dedup: LSH pairs → connected components → drop
    * non-representative cluster members (one survivor per cluster). */
  def dedupNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.8): DataFrame = {
    val pairs = llm.Dedup.minHashLshPairs(df, idCol, textCol, threshold)
    llm.Dedup.keepOnePerCluster(df, idCol, ops.Ops.connectedComponents(pairs, "a", "b"))
  }

  def annTopK(data: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int): DataFrame =
    llm.Similarity.bruteForceTopKQ(queries, data, idCol, idCol, embCol, k)

  def scrubPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, llm.Text.scrubPii(col(textCol)))

  /** Sequence packing (concat-and-chunk into fixed token windows,
    * hash-shuffled within shards). */
  def packSequences(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", budget: Int = 512,
                    shards: Int = 8): DataFrame =
    llm.Curate.packSequences(docs, textCol, idCol, budget, shards)

  /** Hash-deterministic Bernoulli sampling with Horvitz–Thompson
    * weights; `weightPerMille` is the integer keep-probability ×1000. */
  def importanceSample(df: DataFrame, keyCol: String,
                       weightPerMille: Column): DataFrame =
    llm.Curate.importanceSample(df, keyCol, weightPerMille)

  /** Exact token-budget corpus selection (best scores first) via
    * hierarchical prefix refinement — no global sort. Tokens must be
    * >= 1 per row. */
  def selectByTokenBudget(docs: DataFrame, idCol: String, scoreCol: String,
                          tokensCol: String, budget: Long): DataFrame =
    llm.Curate.selectByTokenBudget(docs, idCol, scoreCol, tokensCol, budget)

  /** Corpus mixture balancing: max-min fair token allocation across
    * sources, applied as deterministic per-source hash sampling. Rows
    * return with a rate_pm column (the source's acceptance per-mille). */
  def mixCorpus(docs: DataFrame, sourceCol: String, tokensCol: String,
                idCol: String, budgetTokens: Long): DataFrame =
    llm.Curate.mixCorpus(docs, sourceCol, tokensCol, idCol, budgetTokens)

  /** Leakage-free train/val split: duplicate clusters stay in one
    * split; decision is a pure hash of the cluster label. */
  def leakFreeSplit(docs: DataFrame, components: DataFrame, idCol: String,
                    trainPerMille: Int = 900): DataFrame =
    llm.Curate.leakFreeSplit(docs, components, idCol, trainPerMille)

  /** Sliding-window document chunking with overlap. */
  def chunkSliding(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", chunkWords: Int = 200,
                   strideWords: Int = 150): DataFrame =
    llm.Curate.chunkSliding(docs, textCol, idCol, chunkWords, strideWords)

  /** Emit the corpus as disjoint-range training shard files in the
    * seeded `llm.Order.globalShuffle` order; reading files in name order
    * reproduces the exact permutation. */
  def writeShuffledShards(docs: DataFrame, idCol: String, seed: String,
                          shards: Int, path: String): Unit =
    llm.Order.writeShuffledShards(docs, idCol, seed, shards, path)

  /** Emit training shard files in curriculum order (best LM-quality
    * buckets first, seeded shuffle within each bucket). */
  def writeCurriculumShards(docs: DataFrame, idCol: String, textCol: String,
                            path: String, files: Int): Unit =
    llm.Order.writeCurriculumShards(docs, idCol, textCol, path, files)

  /** Resume a training read of [[writeShuffledShards]] output strictly
    * after a (shard, pos) cursor; the pushed predicate skips
    * fully-consumed row groups via parquet footer stats. */
  def readShardsFrom(spark: SparkSession, path: String,
                     shard: Long, pos: Long): DataFrame =
    llm.Order.readShardsFrom(spark, path, shard, pos)

  /** Count-based bigram-LM quality scoring (add-one smoothing,
    * micro-nat integer log-probs). */
  def ngramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    llm.NgramLm.score(docs, idCol, textCol)

  /** Bounded top-k aggregate (custom TypedImperativeAggregate). */
  def topK(c: Column, k: Int): Column = _root_.graft.expr.kernels.NativeFns.topK(c, k)

  // -- round-12 additions --------------------------------------------
  /** Perceptual media dedup over the real JDK decoders. */
  def imageNearDupPairs(spark: SparkSession, df: DataFrame, idCol: String,
                        binCol: String, maxHamming: Int = 6): DataFrame =
    llm.Dedup.imageNearDupPairs(
      llm.Multimodal.dHashes(spark, df, idCol, binCol), idCol,
      maxHamming = maxHamming)

  /** Funnel family: k-scan and one-scan (`ops.Ops` also has the
    * conversion-windowed and timing forms). */
  def funnel(events: DataFrame, keyCol: String, stepCol: String,
             tsCol: String, steps: Seq[String],
             maxGap: Option[Column] = None): DataFrame =
    ops.Ops.funnel(events, keyCol, stepCol, tsCol, steps, maxGap)

  def funnelSinglePass(events: DataFrame, keyCol: String, stepCol: String,
                       tsCol: String, steps: Seq[String],
                       maxGap: Option[Column] = None): DataFrame =
    ops.Ops.funnelSinglePass(events, keyCol, stepCol, tsCol, steps, maxGap)

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: Option[String] = None, iters: Int = 3): DataFrame =
    ops.Ops.pageRank(edges, srcCol, dstCol, weightCol, iters)

  /** Text retrieval / keyword surface. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String]): DataFrame =
    llm.Text.bm25(docs, idCol, textCol, terms)

  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame =
    llm.CorpusStats.tfIdfTopTerms(docs, idCol, textCol, k)

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

  def gopherFlags(text: org.apache.spark.sql.Column, minWords: Long,
                  maxWords: Long, minMeanWordLen: Double,
                  maxMeanWordLen: Double,
                  minStopwords: Long): org.apache.spark.sql.Column =
    llm.Text.gopherFlags(text, minWords, maxWords, minMeanWordLen,
      maxMeanWordLen, minStopwords)

  def weightedQuantiles(docs: DataFrame, valueCol: String, weightCol: String,
                        quantilesPm: Seq[Int] = Seq(250, 500, 750)): DataFrame =
    llm.CorpusStats.weightedQuantiles(docs, valueCol, weightCol, quantilesPm)
}
