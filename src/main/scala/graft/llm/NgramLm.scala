package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Count-based n-gram language-model scoring — the CCNet-style quality
  * gate: score each document by how surprising its bigrams are under a
  * bigram LM trained on the corpus itself (add-one smoothing). Junk
  * (lorem spam, mojibake, keyword stuffing) scores far from the bulk
  * of the corpus; hapax-heavy docs are novel or noisy.
  *
  * All outputs are exact integers: counts, hapax counts, and the
  * log-probability in MICRO-NATS (`floor(1e6 * ln p)` per bigram,
  * summed as longs) — order-independent under any partitioning, so a
  * given engine always reproduces itself exactly, and a plain double
  * sum's merge-order dependence never appears. One residual
  * cross-engine caveat, unlike this repo's md5/integer-only scores:
  * `ln` comes from the platform's libm (Java Math.log vs DuckDB's C
  * libm), which are both <=1-ulp but not correctly rounded — a ratio
  * whose `ln(p)*1e6` lands within ~1 ulp of an integer could floor
  * differently across engines. The oracle gate exercises every
  * (c_bg, c_w1, V) triple in the fixtures at both SFs; no divergence
  * observed, but the risk is inherent to any transcendental in an
  * exact-compare contract. GUARDED in-repo, not just recorded:
  * OrderStatsSpec ("lp_micro floor boundaries") recomputes every
  * fixture triple at sf0.001 AND sf0.01 and asserts `ln(p)*1e6` sits
  * >2e-8 (≫2 ulp) from the nearest integer, so a platform libm change
  * cannot silently flip a floor and masquerade as a regression — it
  * would first have to fail that named spec.
  *
  * Scale: the full exploded bigram stream crosses exactly ONE
  * stream-wide hash operation — the (doc, bigram, multiplicity)
  * aggregation — and is tokenized exactly once (the two consumers of
  * that aggregate share its exchange, which Catalyst de-duplicates via
  * ReuseExchange; plan-asserted in NgramLmSpec). Everything after is
  * DISTINCT-PAIR-sized: the model derives from the pair frame (C(bg)
  * sums the multiplicities; the prefix count C(w1) is the sum of
  * C(bg) over bigrams starting with w1, so nothing ever needs a
  * second pass over the stream), the model joins back onto the pair
  * frame, and the per-doc sums weight by the multiplicity. No driver
  * collect, no broadcast of the model (a 100 TB corpus has billions
  * of distinct bigrams; the model JOINS, it does not ship — the one
  * broadcast is the single-row vocabulary count).
  */
object NgramLm {

  /** Exploded (id, bigram) stream; docs with <2 words contribute
    * nothing (explode of an empty shingle array). The word array is
    * materialized as a column BEFORE shingling: interpreted HOF
    * lambdas get no common-subexpression elimination, so an inline
    * `shingles(words(text))` would re-run the regex split per element
    * access — O(words^2) splits per document. */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), Text.words(col(textCol)).as("w"))
      .select(col(idCol), explode(Text.shingles(col("w"), 2)).as("bg"))

  /** Per-document LM score under the corpus's own bigram model.
    *
    * Output (one row per input doc, including <2-word docs at 0):
    *  - n_bigrams: bigram tokens in the doc
    *  - n_hapax: doc bigrams occurring exactly once in the corpus
    *  - sum_bg_count: sum of corpus frequencies of the doc's bigrams
    *  - lp_micro: add-one-smoothed log-prob in micro-nats,
    *    sum over bigrams of floor(1e6 * ln((C(bg)+1)/(C(w1)+V)))
    *    where C(w1) counts w1 as a bigram prefix and V = |prefixes|.
    */
  def score(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // collapse the exploded stream to distinct (doc, bigram) pairs with
    // a multiplicity FIRST — the partial aggregation absorbs repeats
    // map-side, and every later operation (model build, model join,
    // per-doc sums) runs at distinct-pair scale instead of token scale
    // the explicit filter is a no-op (concat_ws never yields null) but
    // makes the two consumers' inferred null filters IDENTICAL below
    // the aggregation, so their exchanges canonicalize equal and
    // ReuseExchange plans one explode instead of one per consumer
    val pairs = docBigrams(docs, idCol, textCol)
      .filter(col("bg").isNotNull && split(col("bg"), " ").getItem(0).isNotNull)
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
    val bgCounts = pairs.groupBy("bg").agg(sum(col("c")).as("c_bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    // prefix counts and vocabulary derive from the MODEL table:
    // C(w1) = sum of C(bg) over bigrams with prefix w1
    val w1Counts = bgCounts.groupBy("w1").agg(sum(col("c_bg")).as("c_w1"))
    // count(c_w1), not count(1): referencing the aggregated column
    // keeps RemoveRedundantAggregates from collapsing this branch into
    // a distinct-w1 scan of the RAW stream, which would re-explode the
    // corpus instead of reusing the shared pair/bigram exchanges
    // (c_w1 is never null, so the two counts are identical)
    val vocab = w1Counts.agg(count(col("c_w1")).as("v"))
    val model = bgCounts
      .join(w1Counts, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("bg"), col("c_bg"),
        floor(log((col("c_bg") + lit(1L)).cast("double") /
          (col("c_w1") + col("v")).cast("double")) * lit(1000000.0)).as("lp_micro"))
    val scored = pairs
      .join(model, "bg")
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_bigrams"),
        sum(when(col("c_bg") === 1, col("c")).otherwise(lit(0L))).as("n_hapax"),
        sum(col("c_bg") * col("c")).as("sum_bg_count"),
        sum(col("lp_micro") * col("c")).as("lp_micro"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).cast(LongType).as("n_bigrams"),
        coalesce(col("n_hapax"), lit(0L)).cast(LongType).as("n_hapax"),
        coalesce(col("sum_bg_count"), lit(0L)).cast(LongType).as("sum_bg_count"),
        coalesce(col("lp_micro"), lit(0L)).cast(LongType).as("lp_micro"))
  }

  // ---- Reference-trained stupid-backoff trigram LM (the FULL CCNet
  // recipe: Wenzek et al. 2020 score with a model trained on a
  // CURATED reference slice, then cut by per-language percentile;
  // smoothing per Brants et al. 2007, built for exactly this
  // distributed trillion-token setting — no tuned discounting, one
  // fixed 0.4 back-off multiplier, score = count ratio at the deepest
  // matching order). Complements [[score]]'s self-trained bigram
  // surprise: that one finds intra-corpus outliers; this one measures
  // distance FROM A REFERENCE. Same micro-nat determinism discipline:
  // every DISTINCT gram's score quantizes ONCE in the model table,
  // each back-off ADDS the constant floor(1e6·ln 0.4), document NLL
  // is an exact order-independent Long sum.
  //
  // Why NOT interpolated Kneser-Ney: stupid backoff quantizes because
  // it is purely MULTIPLICATIVE (one count ratio per token, α per
  // step — log space makes it a Long sum). KN's discounted
  // probability is a recursive SUM of terms, and additive mixing
  // breaks the exact-integer discipline both ways: quantize-then-add
  // needs log-sum-exp (unpinnable float order across Spark/DuckDB),
  // and the exact-rational form overflows Decimal(38) at corpus-scale
  // context counts with ulp-unstable BigInt→double floors at the
  // final quantization. Full analysis: PLANS.md "Kneser-Ney vs stupid
  // backoff — the quantization decision". Brants 2007 reached the
  // same conclusion at trillion-token scale.

  /** floor(1e6 · ln 0.4) — one back-off step's micro-nat penalty. */
  val BackoffPenaltyMicro: Long =
    math.floor(1000000.0 * math.log(0.4)).toLong

  /** A trained stupid-backoff model: per-gram micro-nat score tables
    * (uni (w, s1), bi (w1, w, s2), tri (w2, w1, w, s3)) and the
    * reference token total. `oovMicro` scores a token the reference
    * never saw — a pseudo-count of 1 over (total + 1). */
  case class BackoffModel(uni: DataFrame, bi: DataFrame, tri: DataFrame,
                          total: Long) {
    def oovMicro: Long =
      math.floor(1000000.0 * math.log(1.0 / (total + 1).toDouble)).toLong
  }

  private def microLnRatio(num: Column, den: Column): Column =
    floor(lit(1000000.0) *
      log(num.cast("double") / den.cast("double"))).cast("long")

  /** Shuffle-free context stream: (idCol, pos, w, w1, w2) with w1/w2
    * the one/two-back tokens (NULL at the document head) — element_at
    * lags over the per-document word array, no window exchange. */
  private def ctxStream(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs
      .select(col(idCol),
        filter(Text.words(col(textCol)), w => length(w) > 0).as("__ws"))
      .select(col(idCol), posexplode(col("__ws")).as(Seq("pos", "w")),
        col("__ws"))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("w"),
        when(col("pos") >= 1, element_at(col("__ws"), col("pos"))).as("w1"),
        when(col("pos") >= 2, element_at(col("__ws"), col("pos") - 1)).as("w2"))

  /** Train the trigram stupid-backoff model on `ref` (the curated
    * reference slice). Each gram table carries its quantized
    * micro-nat score; denominators are the context's own count table
    * (bigram ctx for trigrams, unigram ctx for bigrams, the token
    * total for unigrams), so every stored score is ≤ 0 and exact.
    * Distinct-gram-scale outputs from one aggregation per order. */
  def trainBackoff(ref: DataFrame, textCol: String): BackoffModel = {
    val (uniC, biC, triC) = gramCounts(ref, textCol)
    deriveModel(uniC, biC, triC)
  }

  /** Exact gram count frames (uni (w, __c1), bi (w1, w, __c2), tri
    * (w2, w1, w, __c3)) — one aggregation per order over the
    * shuffle-free context stream. N-grams never cross documents, so
    * these counts are ADDITIVE across any doc partition of the
    * corpus — the incremental store's merge is exact. */
  private def gramCounts(ref: DataFrame,
                         textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val tok = ctxStream(ref.select(lit(0L).as("__d"), col(textCol)),
      "__d", textCol).localCheckpoint(false)
    val uniC = tok.groupBy(col("w")).agg(count(lit(1)).as("__c1"))
      .localCheckpoint(false)
    val biC = tok.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w")).agg(count(lit(1)).as("__c2"))
      .localCheckpoint(false)
    val triC = tok.filter(col("w2").isNotNull)
      .groupBy(col("w2"), col("w1"), col("w")).agg(count(lit(1)).as("__c3"))
    (uniC, biC, triC)
  }

  /** Quantized score tables from count frames — shared by the direct
    * trainer and the incremental counts store, so the two paths
    * cannot drift. */
  private def deriveModel(uniC: DataFrame, biC: DataFrame,
                          triC: DataFrame): BackoffModel = {
    val total = uniC.agg(coalesce(sum(col("__c1")), lit(0L)))
      .head().getLong(0)
    require(total > 0L,
      "NgramLm.trainBackoff: the reference slice has no tokens")
    val uni = uniC.select(col("w"),
      microLnRatio(col("__c1"), lit(total)).as("s1"))
    val bi = biC
      .join(uniC.select(col("w").as("w1"), col("__c1").as("__ctx")), "w1")
      .select(col("w1"), col("w"),
        microLnRatio(col("__c2"), col("__ctx")).as("s2"))
    val tri = triC
      .join(biC.select(col("w1").as("w2"), col("w").as("w1"),
        col("__c2").as("__ctx")), Seq("w2", "w1"))
      .select(col("w2"), col("w1"), col("w"),
        microLnRatio(col("__c3"), col("__ctx")).as("s3"))
    BackoffModel(uni.localCheckpoint(false), bi.localCheckpoint(false),
      tri.localCheckpoint(false), total)
  }

  /** Flat (n, w2, w1, w, c) count rows for one reference batch. */
  private def flatCounts(ref: DataFrame, textCol: String): DataFrame = {
    val (uniC, biC, triC) = gramCounts(ref, textCol)
    uniC.select(lit(1L).as("n"), lit(null).cast("string").as("w2"),
        lit(null).cast("string").as("w1"), col("w"), col("__c1").as("c"))
      .unionByName(biC.select(lit(2L).as("n"),
        lit(null).cast("string").as("w2"), col("w1"), col("w"),
        col("__c2").as("c")))
      .unionByName(triC.select(lit(3L).as("n"), col("w2"), col("w1"),
        col("w"), col("__c3").as("c")))
  }

  /** Create the incremental COUNTS store: unlike
    * [[persistBackoffModel]] (frozen scores, serving-only) this
    * persists the raw gram counts, which are ADDITIVE across doc
    * batches (n-grams never cross documents), so the reference model
    * can grow as curated data arrives. One flat atomic-swap table
    * published in the store's locked replace window
    * ([[graft.io.Tables.replacePublish]]) with the batch tag as its
    * fresh ledger, for exactly-once batch replay (the graph-store
    * recipe). Scores derive at read time via
    * the SAME [[deriveModel]] as the direct trainer. */
  def persistBackoffCounts(ref: DataFrame, textCol: String, path: String,
                           batchTag: Option[String] = None): Unit = {
    val spark = ref.sparkSession
    graft.io.Tables.replacePublish(spark, s"$path/counts", batchTag) {
      // refuse to clobber a live store — an overwrite here would
      // silently reset the applied ledger, losing every previously
      // merged batch's replay guard
      val store = new org.apache.hadoop.fs.Path(s"$path/counts")
      require(!store.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(store),
        s"persistBackoffCounts: a counts store already exists at $path/counts " +
          "— overwriting would reset its applied ledger and drop merged " +
          "batches; use appendToBackoffCounts/upsertBackoffCounts")
      flatCounts(ref, textCol)
    }
  }

  /** Merge one more reference batch into the counts store: union +
    * per-gram Long sum + swap through
    * [[graft.io.Tables.readMergePublish]]; a replayed tag no-ops.
    * Vocabulary-scale rewrite (distinct grams), never corpus-scale. */
  def appendToBackoffCounts(ref: DataFrame, textCol: String, path: String,
                            batchTag: Option[String] = None): Unit =
    graft.io.Tables.readMergePublish(ref.sparkSession, s"$path/counts",
        batchTag) { _ =>
      mergeCounts(ref, textCol, path)
    }

  /** Create-or-merge in ONE lock acquisition — the entry point for
    * unattended writers (the streaming counts maintenance): the
    * create-vs-append decision happens INSIDE the
    * [[graft.io.Tables.readMergePublish]] window, so two writers
    * racing the first batch serialize correctly (one creates, the
    * other appends) instead of both choosing create and one batch's
    * counts silently vanishing under the other's swap. */
  def upsertBackoffCounts(ref: DataFrame, textCol: String, path: String,
                          batchTag: Option[String] = None): Unit =
    graft.io.Tables.readMergePublish(ref.sparkSession, s"$path/counts",
        batchTag) {
      case None => flatCounts(ref, textCol)
      case Some(_) => mergeCounts(ref, textCol, path)
    }

  /** The stored gram counts summed with the batch's. */
  private def mergeCounts(ref: DataFrame, textCol: String,
                          path: String): DataFrame =
    ref.sparkSession.read.parquet(s"$path/counts")
      .unionByName(flatCounts(ref, textCol))
      .groupBy(col("n"), col("w2"), col("w1"), col("w"))
      .agg(sum(col("c")).as("c"))
      // the swap overwrites the dir this plan reads
      .localCheckpoint(true)

  /** Sweep crash residue (swap leftovers) from the backoff stores.
    * Unlike the ANN index families — whose writers stage SIBLING
    * stores under the index lock, needing
    * [[graft.llm.Similarity.vacuumIndexStores]] — every writer of these two stores holds exactly its own store
    * lock, so the bare [[graft.io.Tables.vacuumStore]] (which takes
    * that same lock) is already race-free here. Covers the
    * frozen-scores store and the incremental counts store (whichever
    * exist at `path`). */
  def vacuumBackoffStores(spark: org.apache.spark.sql.SparkSession,
                          path: String): Seq[String] = {
    def sweep(store: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$store")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else graft.io.Tables.vacuumStore(spark, s"$path/$store")
    }
    sweep("backoff") ++ sweep("counts")
  }

  /** Derive the scoring model from the counts store — bit-identical
    * to training directly on the union of every applied batch. */
  def readBackoffModelFromCounts(spark: org.apache.spark.sql.SparkSession,
                                 path: String): BackoffModel = {
    val flat = spark.read.parquet(s"$path/counts")
    deriveModel(
      flat.filter(col("n") === 1L).select(col("w"), col("c").as("__c1")),
      flat.filter(col("n") === 2L).select(col("w1"), col("w"),
        col("c").as("__c2")),
      flat.filter(col("n") === 3L).select(col("w2"), col("w1"), col("w"),
        col("c").as("__c3")))
  }

  /** Score every document against a trained reference model: (idCol,
    * n_tokens, nll_micro, nll_micro_per_token). Per token the deepest
    * matching order wins; each back-off level adds
    * [[BackoffPenaltyMicro]]; a document-head token starts at the
    * deepest order its position allows, penalty-free (there is
    * nothing to back off FROM). Tokenless documents report (0, 0,
    * NULL). The per-token figure is exact integer division — CCNet's
    * quality-ordering statistic (lower = closer to the reference).
    *
    * Scale: the corpus crosses as the shuffle-free context stream,
    * takes three gram-table joins (a CURATED reference's tables are
    * small — broadcast; a corpus-scale reference would flip these to
    * shuffle joins by removing the hints) and one per-doc fold. */
  def scoreBackoff(docs: DataFrame, idCol: String, textCol: String,
                   model: BackoffModel): DataFrame = {
    val p = lit(BackoffPenaltyMicro)
    val unk = lit(model.oovMicro)
    val scored = ctxStream(docs, idCol, textCol)
      .join(broadcast(model.uni), Seq("w"), "left")
      .join(broadcast(model.bi), Seq("w1", "w"), "left")
      .join(broadcast(model.tri), Seq("w2", "w1", "w"), "left")
      .select(col(idCol),
        when(col("pos") >= 2,
          coalesce(col("s3"), col("s2") + p, col("s1") + p + p,
            unk + p + p))
          .when(col("pos") === 1,
            coalesce(col("s2"), col("s1") + p, unk + p))
          .otherwise(coalesce(col("s1"), unk)).as("__s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), (-sum(col("__s"))).as("nll_micro"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"),
        when(col("n_tokens") > 0L,
          expr("nll_micro div n_tokens")).as("nll_micro_per_token"))
  }

  /** Persist a trained backoff model as ONE flat table — (n, w2, w1,
    * w, s): n = gram order with the token total at n = 0 — so the
    * publish is a single atomic swap (three separate tables could be
    * read half-swapped), published in the store's locked replace
    * window as [[Bpe.persistTokenizer]] is. */
  def persistBackoffModel(model: BackoffModel, path: String): Unit = {
    val spark = model.uni.sparkSession
    import spark.implicits._
    val flat = Seq((0L, null: String, null: String, null: String, model.total))
      .toDF("n", "w2", "w1", "w", "s")
      .unionByName(model.uni.select(lit(1L).as("n"),
        lit(null).cast("string").as("w2"), lit(null).cast("string").as("w1"),
        col("w"), col("s1").as("s")))
      .unionByName(model.bi.select(lit(2L).as("n"),
        lit(null).cast("string").as("w2"), col("w1"), col("w"),
        col("s2").as("s")))
      .unionByName(model.tri.select(lit(3L).as("n"), col("w2"), col("w1"),
        col("w"), col("s3").as("s")))
    graft.io.Tables.replacePublish(spark, s"$path/backoff")(flat)
  }

  /** Reload a persisted backoff model. The gram tables come back as
    * plain scans of the flat store (no collect — model size is
    * reference-vocabulary scale but need not fit the driver);
    * reload-then-score is bit-identical to train-then-score. */
  def readBackoffModel(spark: org.apache.spark.sql.SparkSession,
                       path: String): BackoffModel = {
    val flat = spark.read.parquet(s"$path/backoff")
    val total = flat.filter(col("n") === 0L).select(col("s"))
      .head().getLong(0)
    BackoffModel(
      flat.filter(col("n") === 1L).select(col("w"), col("s").as("s1")),
      flat.filter(col("n") === 2L).select(col("w1"), col("w"),
        col("s").as("s2")),
      flat.filter(col("n") === 3L).select(col("w2"), col("w1"), col("w"),
        col("s").as("s3")),
      total)
  }

  /** CCNet's head/middle/tail cut: per `langCol`, rank documents by
    * per-token NLL (ascending — lower is closer to the reference;
    * tokenless docs last) via [[Curate.rankNormalize]]'s exact
    * per-mille discipline (ties by id, so buckets are deterministic),
    * then label pm_rank < `headMille` "head", < `middleMille`
    * "middle", the rest "tail". Pipelines keep head+middle and drop
    * or down-sample the tail. */
  def ccnetBuckets(scores: DataFrame, idCol: String, langCol: String,
                   headMille: Int = 330,
                   middleMille: Int = 660): DataFrame = {
    require(0 < headMille && headMille < middleMille && middleMille <= 1000,
      s"need 0 < head < middle <= 1000 mille, got $headMille/$middleMille")
    Curate.rankNormalize(
        scores.withColumn("__npt",
          coalesce(col("nll_micro_per_token"), lit(Long.MaxValue))),
        langCol, "__npt", idCol)
      .select(col(idCol), col(langCol), col("nll_micro_per_token"),
        col("pm_rank"),
        when(col("pm_rank") < headMille, lit("head"))
          .when(col("pm_rank") < middleMille, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }
}
