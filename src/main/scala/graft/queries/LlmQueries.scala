package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.llm.{Bpe, CorpusStats, Curate, Dedup, Multimodal, NgramLm, Order, Similarity, Text, Unigram}

/** Harness queries for the LLM-training-data operators (dedup,
  * similarity search, text analysis, multimodal columns) over
  * `documents` / `embeddings`. All hash-derived arithmetic is
  * md5-based with literal constants so the DuckDB oracle replays the
  * identical computation (`Dedup.Seeds`, `Similarity.planeDirs`). */
object LlmQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String) = Tables.read(s, dir, name)

  private val P = Text.HashP

  /** Harness cap for llm_dedup_simhash_pairs, shared with its oracle SQL
    * so the two can't drift. 16 straddles the real sf0.01 band sizes
    * (max 57): hot template bands are dropped, organic ones survive —
    * 17 of 18 uncapped pairs remain, so the cap semantics are exercised
    * non-trivially by the oracle compare. */
  private val SimHashPairsCap = 16

  /** Embedding near-dup threshold, shared with the oracle SQL. 0.3 (not
    * a token 0.4): the synthetic embeddings' max in-bucket cosine is
    * 0.37 at sf0.01, so 0.3 yields real pairs and the whole
    * bucket->dot->cosine pipeline is oracle-checked non-vacuously
    * (at 0.4 the query matched on 0 rows — a vacuous oracle). */
  private val EmbDedupThreshold = 0.3

  /** SemDeDup degenerate-cell cap (Similarity.semanticNearDupPairs
    * maxCluster), shared with the oracle SQL. */
  private val SemMaxCluster = 4096

  /** ONE persisted kNN-graph store per sf dir, shared by the
    * llm_knn_graph_store / llm_knn_store_audit pair — built at the
    * production cadence (build 90% of the corpus with cells trained
    * on ALL of it, append the 10% delta, compact), memoized per JVM
    * so the family pays for one store instead of re-persisting a
    * fresh one per query per sweep (the r18/r19 fixture-economics
    * finding: 16.6 s / 6.3% of the bench priced the rebuild path).
    * Append == full rebuild bit-for-bit (frozen full-corpus cells),
    * so readers see exactly the from-scratch probe-2 store and both
    * queries keep their existing oracles. Lives under [[graft.util
    * .Scratch]] (shutdown-cleaned); keyed by the data dir, so Verify
    * and Bench sessions against different sf dirs never share. */
  private val knnStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def knnFamilyStore(s: SparkSession, dir: String): String =
    knnStoreCache.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings")
      val path = graft.util.Scratch.dir("graft_knn_family")
      Similarity.persistKnnGraphStore(emb.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", path, k = 3,
        nlist = Similarity.autoNlist(emb), iters = 2,
        maxCluster = SemMaxCluster, nprobe = 2, train = Some(emb))
      Similarity.appendToKnnGraphStore(emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", path, batchTag = Some("delta-1"))
      Similarity.compactIndex(s, path)
      path
    })

  /** ONE trained unigram piece table per sf dir, shared by the 7-query
    * unigram family (train/encode/bytefallback/store/prune/
    * prune_encode/tokenizer_compare — the [[knnFamilyStore]] pattern
    * applied to the bench's largest fixture-economics target):
    * training is DETERMINISTIC (hard-EM with a pinned total order), so
    * every consumer's oracle — each of which replays training from the
    * raw parquet — is unchanged bit-for-bit; the family pays for one
    * training instead of seven. llm_unigram_nbest (kBest = 2) trains
    * its own variant and is not in this cache. Keyed by the data dir
    * (Verify/Bench sessions against different sf dirs never share). */
  private val unigramCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, Long, Long)]]()
  private def unigramFamilyPieces(s: SparkSession,
                                  dir: String): Seq[(String, Long, Long)] =
    unigramCache.computeIfAbsent(dir, _ =>
      // the COLLECT-FREE trainer (differential-spec'd bit-identical to
      // trainLocal): the family's bench path no longer holds the
      // corpus word table on the driver — at raw-web scale the vocab
      // outgrows any driver cap and trainLocal dies at its guard by
      // design. llm_unigram_nbest (kBest = 2, driver-local top-k DP)
      // keeps trainLocal on its own variant.
      Unigram.trainDistributed(t(s, dir, "documents"), "text", rounds = 2,
        maxPieceLen = 4, minCount = 2L, seedSize = 1000))

  /** ONE trained BPE merge table per sf dir, shared by the BPE family
    * (encode/decode/store/bytefallback/fertility/pack/
    * tokenizer_compare) — same rationale as [[unigramFamilyPieces]]:
    * [[Bpe.trainMergesLocal]] is deterministic (exact Long pair
    * counts, (count desc, UTF-8 pair asc) argmax), so every oracle
    * replay is unchanged and the family pays for one corpus
    * word-vocabulary collect + merge loop instead of seven. */
  private val bpeMergesCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Int, String, String, Long)]]()
  private def bpeFamilyMerges(s: SparkSession,
                              dir: String): Seq[(Int, String, String, Long)] =
    bpeMergesCache.computeIfAbsent(dir, _ =>
      // the COLLECT-FREE incremental trainer (differential-spec'd
      // bit-identical to trainMergesLocal): no corpus word-vocabulary
      // collect in the BPE bench path — trainMergesLocal stays the
      // curated-slice fast path behind its loud capacity guard.
      Bpe.trainDistributed(t(s, dir, "documents"), "text", BpeEncodeMerges))

  /** The trained tokenizer's id tables (plain + byte-fallback layout)
    * — deterministic functions of (corpus, merges), i.e. part of the
    * trained artifact, each otherwise re-deriving a corpus-scale
    * merged-vocab pass per query. Memoized like the merges. */
  private val bpeIdsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, Long)]]()
  private def bpeFamilyIds(s: SparkSession,
                           dir: String): Seq[(String, Long)] =
    bpeIdsCache.computeIfAbsent(s"plain|$dir", _ =>
      Bpe.symbolIds(t(s, dir, "documents"), "text",
        bpeFamilyMerges(s, dir).map { case (_, a, b, _) => (a, b) }))
  private def bpeFamilyIdsFallback(s: SparkSession,
                                   dir: String): Seq[(String, Long)] =
    bpeIdsCache.computeIfAbsent(s"fallback|$dir", _ =>
      Bpe.symbolIdsFallback(t(s, dir, "documents"), "text",
        bpeFamilyMerges(s, dir).map { case (_, a, b, _) => (a, b) }))

  /** ONE trained Lloyd geometry (the coarse-quantizer centroids over
    * the full embeddings table at autoNlist / 2 iters) per sf dir,
    * shared by the kNN-graph / SemDeDup family (graph, recall
    * ledgers, label propagation, semantic pairs/dedup, both probe
    * widths) — the r20 verdict's ask #4: [[Similarity.kmeansTrain]]
    * is deterministic in (input, nlist, iters), so every consumer's
    * oracle (each replays the unrolled Lloyd rounds from raw parquet)
    * is unchanged bit-for-bit; the family pays one per-iteration
    * collect loop instead of ~8. Geometries that must differ
    * (llm_kmeans_clusters' literal k = 4) stay independent. */
  private val knnCentsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, Seq[Long])]]()
  private def knnFamilyCents(s: SparkSession,
                             dir: String): Seq[(Long, Seq[Long])] =
    knnCentsCache.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings")
      Similarity.kmeansTrain(
        emb.select(col("vec_id").as("vid"),
          Similarity.quantize(col("embedding")).as("eq")),
        Similarity.autoNlist(emb), 2)
    })

  /** ONE persisted ANN index store per (family, sf dir), shared by
    * each codec family's lifecycle queries (full-build / append /
    * compact serve rows) — the [[knnFamilyStore]] production cadence
    * applied to the ANN stores: every family's append and compact are
    * oracle-held to answer IDENTICALLY to the full build (the shared-
    * oracle contract each family already declares), so ONE store
    * built as build-half → tagged-append-half → compact serves all of
    * them bit-for-bit; the suite pays one build per family instead of
    * one per query per sweep. The one-time build lands in sweep 1
    * (min-is-steady-state prices the serving read); build scale stays
    * priced by the isolated BenchScale rows (ivfpq_serve run1,
    * sq8_serve run1, knn_store_delta_append). Lifecycle correctness
    * (append/compact vs rebuild, crash replay) stays spec'd in
    * LlmSpec/StoreConcurrencySpec where it does not bill the bench. */
  private val annStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def annFamilyStore(dir: String, fam: String)
                            (build: String => Unit): String =
    annStoreCache.computeIfAbsent(s"$fam|$dir", _ => {
      val path = graft.util.Scratch.dir(s"graft_${fam}_family")
      build(path)
      path
    })

  /** IVF-SQ8 family store: build evens (grid + cells trained on ALL
    * candidates), tagged-append odds, compact — the union of the
    * family's three declared lifecycles in one artifact. */
  private def ivfSq8FamilyStore(s: SparkSession, dir: String): String =
    annFamilyStore(dir, "ivfsq8") { p =>
      val cands = t(s, dir, "embeddings").filter(col("vec_id") >= 3)
      Similarity.persistIvfSq8Index(cands.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", "label", p, train = Some(cands))
      Similarity.appendToIvfSq8Index(cands.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p, labelCol = Some("label"),
        batchTag = Some("delta-1"))
      Similarity.compactIndex(s, p)
    }

  /** IVFPQ family store: build evens (codebooks trained on ALL
    * candidates), append odds. */
  private def ivfPqFamilyStore(s: SparkSession, dir: String): String =
    annFamilyStore(dir, "ivfpq") { p =>
      val cands = t(s, dir, "embeddings").filter(col("vec_id") >= 3)
      Similarity.persistIvfPqIndex(cands.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", "label", p, train = Some(cands))
      Similarity.appendToIvfPqIndex(cands.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", "label", p)
    }

  /** SQ8 family store: build evens (grid trained on ALL candidates),
    * append odds against the frozen grid, compact to the file
    * budget. */
  private def sq8FamilyStore(s: SparkSession, dir: String): String =
    annFamilyStore(dir, "sq8") { p =>
      val cands = t(s, dir, "embeddings").filter(col("vec_id") >= 3)
      Similarity.persistSq8Index(cands.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, train = Some(cands))
      Similarity.appendToSq8Index(cands.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p)
      Similarity.compactIndex(s, p)
    }

  /** PQ family store: build evens (codebooks trained on ALL
    * candidates), append odds against the frozen codebooks. */
  private def pqFamilyStore(s: SparkSession, dir: String): String =
    annFamilyStore(dir, "pq") { p =>
      val cands = t(s, dir, "embeddings").filter(col("vec_id") >= 3)
      Similarity.persistPqIndex(cands.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", "label", p, train = Some(cands))
      Similarity.appendToPqIndex(cands.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p)
    }

  /** Raw-vector IVF family store: build evens, append odds (exact
    * additive centroid merge == full build). */
  private def ivfFamilyStore(s: SparkSession, dir: String): String =
    annFamilyStore(dir, "ivf") { p =>
      val e = t(s, dir, "embeddings")
      Similarity.persistIvfIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", "label", p)
      Similarity.appendToIvfIndex(e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", "label", p)
    }

  /** Residual-IVFPQ family store: one full build per dir (the residual
    * variant deliberately has NO append — centroid drift would corrupt
    * residual codes — so the store is a single deterministic build;
    * llm_ann_ivfpq_residual's oracle replays train+encode+serve from
    * the raw parquet unchanged). */
  private def ivfPqResFamilyStore(s: SparkSession, dir: String): String =
    annFamilyStore(dir, "ivfpqres") { p =>
      Similarity.persistIvfPqResidualIndex(
        t(s, dir, "embeddings").filter(col("vec_id") >= 3),
        "vec_id", "embedding", "label", p)
    }

  /** ONE persisted MinHash signature frame (doc_id, __hs, __sig) of
    * the raw documents table per sf dir, shared by the MinHash-LSH
    * dedup family (minhash_lsh, lsh_tightcap, components,
    * cluster_sizes, keep_one/best/fluent, multisignal, incremental,
    * leakfree split/folds, e2e_curate) — the r21-verdict-blessed
    * boundary: the signature is a DETERMINISTIC pure per-row transform
    * of the document (an index-like artifact, the [[Dedup.bandIndex]]
    * production shape), so one persisted frame serves every consumer
    * bit-for-bit, while the pair join, Jaccard verification and
    * connected components stay computed per query (those are query
    * RESULTS — sharing them would be result caching). Parquet under
    * [[graft.util.Scratch]] (shutdown-deleted), keyed by the data dir;
    * the one-time build lands in sweep 1, the per-query min prices the
    * shared-frame scan. llm_dedup_eval mutates the text column and
    * keeps its own per-query signature pass. */
  private val dedupSigCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dedupFamilySignatures(s: SparkSession, dir: String): DataFrame = {
    val p = dedupSigCache.computeIfAbsent(dir, _ => {
      val path = graft.util.Scratch.dir("graft_dedup_sigs")
      Dedup.signaturesPlan(t(s, dir, "documents"), "doc_id", "text", 3)
        .write.mode("overwrite").parquet(path)
      path
    })
    s.read.parquet(p)
  }

  /** Shared deterministic models of the RECALL-LEDGER split (cands =
    * vec_id >= 100): the seven quality ledgers each train the same
    * coarse centroids / PQ codebooks / SQ8 grid on the same split
    * before measuring different dials; the trainers are deterministic
    * and every ledger oracle replays training from raw parquet, so
    * sharing the trained artifacts changes nothing. The exact brute-
    * force ground truth stays computed per query (it is a result
    * table, not a model). */
  private val ledgerModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def ledgerCands(s: SparkSession, dir: String) =
    t(s, dir, "embeddings").filter(col("vec_id") >= 100)
  private def ledgerIvfStore(s: SparkSession, dir: String): String =
    ledgerModelCache.computeIfAbsent(s"ivf|$dir", _ => {
      val p = graft.util.Scratch.dir("graft_ledger_ivf")
      Similarity.persistIvfIndex(ledgerCands(s, dir), "vec_id", "embedding",
        "label", p)
      p
    }).asInstanceOf[String]
  private def ledgerPqBooks(s: SparkSession,
                            dir: String): Map[Long, IndexedSeq[Long]] =
    ledgerModelCache.computeIfAbsent(s"pq|$dir", _ =>
      Similarity.pqCodebooks(ledgerCands(s, dir), "embedding", "label"))
      .asInstanceOf[Map[Long, IndexedSeq[Long]]]
  private def ledgerPqBooksRefined(s: SparkSession,
                                   dir: String): Map[Long, IndexedSeq[Long]] = {
    // the init books are computed BEFORE entering computeIfAbsent: a
    // ConcurrentHashMap mapping function must not update other
    // mappings of the same map (same-bin recursion can corrupt or
    // throw) — previously safe only because every caller happened to
    // warm the 'pq|dir' key first
    val init = ledgerPqBooks(s, dir)
    ledgerModelCache.computeIfAbsent(s"pqit|$dir", _ =>
      Similarity.pqCodebooksRefined(ledgerCands(s, dir), "vec_id",
        "embedding", "label", m = 4, dim = 64, rounds = 2,
        init = Some(init)))
      .asInstanceOf[Map[Long, IndexedSeq[Long]]]
  }

  /** Residual-PQ codebooks of the recall-ledger split (plain + 2-round
    * refined) — deterministic functions of the shared [[ledgerIvfStore]]
    * coarse index, trained once per dir like the other ledger models
    * (the sanctioned trained-artifact class); the residual CODES frames
    * stay derived per query (map-side encode against the frozen books). */
  private def ledgerResidBooks(s: SparkSession,
                               dir: String): Map[Long, IndexedSeq[Long]] = {
    val store = ledgerIvfStore(s, dir) // warmed outside the lambda
    ledgerModelCache.computeIfAbsent(s"resid|$dir", _ => {
      val (cent, eqIdx) = Similarity.readIvfIndex(s, store)
      Similarity.buildIvfPqResidualFrom(cent, eqIdx)._2
    }).asInstanceOf[Map[Long, IndexedSeq[Long]]]
  }
  private def ledgerResidBooksRefined(s: SparkSession,
                                      dir: String): Map[Long, IndexedSeq[Long]] = {
    val store = ledgerIvfStore(s, dir)
    val init = ledgerResidBooks(s, dir) // outside the lambda (no recursion)
    ledgerModelCache.computeIfAbsent(s"residit|$dir", _ => {
      val (cent, eqIdx) = Similarity.readIvfIndex(s, store)
      Similarity.buildIvfPqResidualFrom(cent, eqIdx, refineRounds = 2,
        init = Some(init))._2
    }).asInstanceOf[Map[Long, IndexedSeq[Long]]]
  }
  private def ledgerSq8Quant(s: SparkSession,
                             dir: String): IndexedSeq[(Long, Long)] =
    ledgerModelCache.computeIfAbsent(s"sq8|$dir", _ =>
      Similarity.sq8Train(ledgerCands(s, dir), "embedding"))
      .asInstanceOf[IndexedSeq[(Long, Long)]]

  /** DSIR hashed-unigram feature buckets, shared with the oracle. */
  private val DsirBuckets = 1024

  /** Heavy-hitter occurrence threshold, shared with the oracle SQL. */
  private val HeavyHitterThreshold = 6L

  /** Merge rounds for llm_bpe_encode, shared with its unrolled oracle
    * (one CTE round per merge). 12 keeps the oracle SQL bounded while
    * exercising multi-level merges (merged symbols re-merging, e.g.
    * er + </w>) and both greedy edge shapes (a==b runs, a!=b). */
  private val BpeEncodeMerges = 12

  /** One unrolled BPE training+application round for the
    * llm_bpe_encode oracle, over the row representation
    * s{k}(w, freq, pos, sym). Greedy leftmost-first application is
    * closed-form: positions where (sym, next) equals the round's best
    * pair can only be ADJACENT when a == b (for a != b a match at i
    * forces s[i+1] = b != a, so no match at i+1), and within each
    * maximal run of consecutive match positions greedy merges exactly
    * the even offsets — the islands (isl) + offset-parity (mg) shape
    * below. A merged position consumes its right neighbour
    * (lag(mg) = 1 rows drop); a consumed position is never itself
    * merged (its offset in the island is odd). MATERIALIZED is
    * load-bearing: each round references its predecessor three times,
    * so inlined CTEs would expand the chain exponentially. An empty
    * best (no pair with count >= 2) makes the round the identity —
    * matching trainMergesLocal's early stop. */
  private def bpeRoundCte(k: Int): String =
    s"""p$k AS MATERIALIZED (SELECT a, b, sum(freq) AS n FROM (
       |  SELECT freq, sym AS a, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS b
       |  FROM s$k) t WHERE b IS NOT NULL GROUP BY a, b HAVING sum(freq) >= 2),
       |b$k AS MATERIALIZED (SELECT a, b FROM p$k ORDER BY n DESC, a || ' ' || b LIMIT 1),
       |f$k AS (SELECT w, freq, pos, sym,
       |  CASE WHEN sym = (SELECT a FROM b$k)
       |        AND lead(sym) OVER (PARTITION BY w ORDER BY pos) = (SELECT b FROM b$k)
       |       THEN 1 ELSE 0 END AS m FROM s$k),
       |g$k AS (SELECT *, pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) AS isl FROM f$k),
       |h$k AS (SELECT *, CASE WHEN m = 1
       |    AND (pos - min(pos) OVER (PARTITION BY w, m, isl)) % 2 = 0
       |  THEN 1 ELSE 0 END AS mg FROM g$k),
       |s${k + 1} AS MATERIALIZED (SELECT w, freq,
       |  row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
       |  CASE WHEN mg = 1 THEN sym || nx ELSE sym END AS sym
       |  FROM (SELECT w, freq, pos, sym, mg,
       |          lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nx,
       |          lag(mg, 1, 0) OVER (PARTITION BY w ORDER BY pos) AS pmg
       |        FROM h$k) t WHERE pmg = 0)""".stripMargin

  /** Shared CTE prefix for the BPE oracles (encode + pack): the
    * word-frequency vocab, initial symbol rows, one unrolled
    * [[bpeRoundCte]] per trained merge, and the merged word→symbols
    * map — factored so the two replays cannot drift. */
  private lazy val BpeMergedVocabCtes: String =
    s"""wf AS (SELECT w, count(*)::BIGINT AS freq FROM (
       |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents) t WHERE len(w) > 0 GROUP BY w),
       |sy AS (SELECT w, freq,
       |  list_append([w[i] for i in range(1, len(w) + 1)], '</w>') AS s FROM wf),
       |s0 AS MATERIALIZED (SELECT w, freq,
       |  unnest(range(1, len(s) + 1)) AS pos, unnest(s) AS sym FROM sy),
       |${(0 until BpeEncodeMerges).map(bpeRoundCte).mkString(",\n")},
       |wsyms AS MATERIALIZED (SELECT w, list(sym ORDER BY pos) AS syms
       |  FROM s$BpeEncodeMerges GROUP BY w)""".stripMargin

  /** The encode-stream replay — shared by llm_bpe_encode (direct
    * train+encode) and llm_bpe_store (persist → reload → encode; the
    * round-trip must be bit-identical, so it shares this oracle the
    * way the index append rows share their full-build oracles). */
  private lazy val BpeEncodeOracleSql: String =
    s"""WITH $BpeMergedVocabCtes,
       |ids AS (SELECT sym, row_number() OVER (ORDER BY sym) AS token_id
       |        FROM (SELECT DISTINCT sym FROM s$BpeEncodeMerges) t),
       |dw AS (SELECT doc_id, unnest(range(0, len(ws))) AS word_pos,
       |         unnest(ws) AS w
       |       FROM (SELECT doc_id,
       |               list_filter(string_split_regex(lower(text), '\\s+'),
       |                 x -> len(x) > 0) AS ws FROM documents) t),
       |enc AS (SELECT doc_id, word_pos,
       |          unnest(range(0, len(syms))) AS sym_pos, unnest(syms) AS sym
       |        FROM dw JOIN wsyms USING (w))
       |SELECT doc_id, word_pos, sym_pos, CAST(token_id AS BIGINT) AS token_id
       |FROM enc JOIN ids USING (sym)
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin

  // ---- Unigram-LM tokenizer oracle (Kudo 2018 hard-EM replay) ----
  // The unrolled-SQL replay of Unigram.trainLocal + Unigram.encode:
  // seed substring counts, then per EM round one bounded-depth
  // Viterbi DP (MaxWordLen chained CTEs — the DP depth is a CONSTANT
  // because words chunk to MaxWordLen chars first) + recount + prune,
  // sharing Spark's exact total order (score desc, piece-count asc,
  // UTF-8 segmentation-string asc) and the one floor'd micro-ln
  // quantization per piece per round.
  private val UnigramRounds = 2
  private val UnigramMaxPieceLen = 4
  private val UnigramMinCount = 2
  private val UnigramSeedSize = 1000

  /** Scores CTE us{t} from counts CTE uc{t}. */
  private def unigramScoreCte(t: Int): String =
    s"""us$t AS MATERIALIZED (SELECT piece, CAST(floor(1000000.0 *
       |    ln(CAST(cnt AS DOUBLE) / CAST(tt.total AS DOUBLE))) AS BIGINT) AS s
       |  FROM uc$t, (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uc$t) tt)""".stripMargin

  /** One Viterbi pass (pass `t`): DP frontier CTEs
    * udp{t}_0..MaxWordLen over `wordsCte`, scored by `scoreCte`
    * (defaults: the training word table and the previous round's
    * scores), final states useg{t} (w, freq, seg). `k` > 1 keeps the
    * top-k states per word at every step — the exact k-best Viterbi
    * (additive scores: the global top k live inside the per-position
    * top k), so useg{t} carries up to k segmentation rows per word,
    * each with the word's full freq — the l-best E-step's replay. */
  private def unigramDpCtes(t: Int, wordsCte: String = "uwf",
                            scoreCte: String = "", k: Int = 1): String = {
    val sc0 = if (scoreCte.isEmpty) s"us${t - 1}" else scoreCte
    val L = graft.llm.Unigram.MaxWordLen
    val steps = (1 to L).map { j =>
      val cands = (1 to math.min(UnigramMaxPieceLen, j)).map { l =>
        s"""SELECT d.w, d.freq, d.sc + p.s AS sc, d.np + 1 AS np,
           |  CASE WHEN d.seg = '' THEN p.piece
           |       ELSE d.seg || ' ' || p.piece END AS seg
           |FROM udp${t}_${j - l} d JOIN $sc0 p
           |  ON len(d.w) >= $j AND p.piece = substr(d.w, ${j - l + 1}, $l)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""udp${t}_$j AS MATERIALIZED (SELECT w, freq, sc, np, seg FROM (
         |  SELECT *, row_number() OVER (PARTITION BY w
         |    ORDER BY sc DESC, np, seg) AS rn FROM (
         |$cands) c) r WHERE rn <= $k)""".stripMargin
    }
    val fin = (1 to L)
      .map(j => s"SELECT w, freq, seg FROM udp${t}_$j WHERE len(w) = $j")
      .mkString("\nUNION ALL\n")
    s"""udp${t}_0 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS sc, 0 AS np,
       |  '' AS seg FROM $wordsCte),
       |${steps.mkString(",\n")},
       |useg$t AS MATERIALIZED (SELECT w, freq, seg FROM (
       |$fin) f)""".stripMargin
  }

  /** Recount + prune: uraw{t} from useg{t}, uc{t} from uc{t-1}. */
  private def unigramRoundTail(t: Int): String =
    s"""uraw$t AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |  SELECT freq, unnest(string_split(seg, ' ')) AS piece
       |  FROM useg$t) x GROUP BY piece),
       |uc$t AS MATERIALIZED (
       |  SELECT c.piece AS piece,
       |    CAST(greatest(coalesce(r.cnt, 0), 1) AS BIGINT) AS cnt
       |  FROM uc${t - 1} c LEFT JOIN uraw$t r USING (piece)
       |  WHERE len(c.piece) = 1
       |  UNION ALL
       |  SELECT c.piece AS piece, r.cnt AS cnt
       |  FROM uc${t - 1} c JOIN uraw$t r USING (piece)
       |  WHERE len(c.piece) > 1 AND r.cnt >= $UnigramMinCount)""".stripMargin

  /** Seed CTEs: chunked word frequencies, substring counts, uc0. */
  private lazy val UnigramSeedCtes: String = {
    val L = graft.llm.Unigram.MaxWordLen
    s"""uwf AS MATERIALIZED (SELECT w, count(*)::BIGINT AS freq FROM (
       |  SELECT unnest([substr(w0, $L*i + 1, $L)
       |      for i in range(0, (len(w0) + ${L - 1}) // $L)]) AS w
       |  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w0
       |        FROM documents) t0
       |  WHERE len(w0) > 0) t GROUP BY w),
       |usub AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |  SELECT freq, unnest([substr(w, i, l)
       |      for i in range(1, len(w) - l + 2)]) AS piece
       |  FROM (SELECT w, freq,
       |          unnest(range(1, least($UnigramMaxPieceLen, len(w)) + 1)) AS l
       |        FROM uwf) t0) t1 GROUP BY piece),
       |uc0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM usub WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM usub WHERE len(piece) > 1 AND cnt >= $UnigramMinCount) t
       |  WHERE rn <= $UnigramSeedSize)""".stripMargin
  }

  /** Full training chain up to the final counts uc{UnigramRounds}. */
  private lazy val UnigramTrainCtes: String =
    (UnigramSeedCtes +:
      (1 to UnigramRounds).map(t =>
        s"""${unigramScoreCte(t - 1)},
           |${unigramDpCtes(t)},
           |${unigramRoundTail(t)}""".stripMargin)).mkString(",\n")

  /** Final piece-table projection over a training chain's last uc. */
  private def unigramTrainOracle(ctes: String): String =
    s"""WITH $ctes
       |SELECT piece, cnt, CAST(floor(1000000.0 *
       |    ln(CAST(cnt AS DOUBLE) / CAST(tt.total AS DOUBLE))) AS BIGINT)
       |  AS logp_micro
       |FROM uc$UnigramRounds,
       |  (SELECT CAST(sum(cnt) AS BIGINT) AS total
       |   FROM uc$UnigramRounds) tt
       |ORDER BY piece""".stripMargin

  private lazy val UnigramTrainOracleSql: String =
    unigramTrainOracle(UnigramTrainCtes)

  /** l-best EM replay: the SAME chain with k-best DP frontiers. */
  private val UnigramNbestK = 2
  private lazy val UnigramNbestOracleSql: String =
    unigramTrainOracle((UnigramSeedCtes +:
      (1 to UnigramRounds).map(t =>
        s"""${unigramScoreCte(t - 1)},
           |${unigramDpCtes(t, k = UnigramNbestK)},
           |${unigramRoundTail(t)}""".stripMargin)).mkString(",\n"))

  private lazy val UnigramEncodeOracleSql: String = {
    val L = graft.llm.Unigram.MaxWordLen
    val enc = UnigramRounds + 1 // the encode-time DP pass
    s"""WITH $UnigramTrainCtes,
       |${unigramScoreCte(UnigramRounds)},
       |${unigramDpCtes(enc)},
       |uids AS (SELECT piece,
       |    row_number() OVER (ORDER BY piece) AS token_id
       |  FROM uc$UnigramRounds),
       |udw AS (SELECT doc_id, unnest(range(0, len(ws))) AS word_pos,
       |    unnest(ws) AS w0
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |            x -> len(x) > 0) AS ws FROM documents) t),
       |uchk AS (SELECT w0, unnest(range(0, (len(w0) + ${L - 1}) // $L)) AS ci
       |  FROM (SELECT DISTINCT w0 FROM udw) t),
       |uwseg AS (SELECT w0, string_agg(seg, ' ' ORDER BY ci) AS seg FROM (
       |  SELECT c.w0, c.ci, g.seg
       |  FROM (SELECT w0, ci, substr(w0, $L*ci + 1, $L) AS w FROM uchk) c
       |  JOIN useg$enc g USING (w)) t GROUP BY w0),
       |uenc AS (SELECT doc_id, word_pos,
       |    unnest(range(0, len(ps))) AS sym_pos, unnest(ps) AS piece
       |  FROM (SELECT doc_id, word_pos, string_split(seg, ' ') AS ps
       |        FROM udw JOIN uwseg USING (w0)) t)
       |SELECT doc_id, word_pos, sym_pos, CAST(token_id AS BIGINT) AS token_id
       |FROM uenc JOIN uids USING (piece)
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin
  }

  /** vocabSize target for the prune query — the trained table holds
    * ~24 chars + ~36 multi-char pieces at both verified fixture
    * scales, so 40 keeps a ~16-piece multi-char tail and the rule
    * actually DROPS pieces (a target above ~60 would make the query
    * an oracle-green no-op). */
  private val UnigramPruneVocab = 40

  /** The prune oracle: replay training, then for each multi-char
    * piece run the alt-segmentation DP (the same bounded Viterbi with
    * the full-span candidate EXCLUDED — `p.piece <> d.w` — which is
    * exactly "segment p without p" since proper substrings can't
    * equal the whole), score-only (max per position, no tie-break),
    * rank by the pinned (loss desc, cnt desc, piece asc) order, keep
    * chars + top (vocabSize − #chars), re-quantize logp over the kept
    * counts. */
  private lazy val UnigramPruneOracleSql: String =
    s"""WITH $UnigramPruneCtes
       |SELECT piece, cnt, loss_micro, logp_micro
       |FROM upruned ORDER BY piece""".stripMargin

  /** CTE chain ending in `upruned` (piece, cnt, loss_micro,
    * logp_micro) — reused by the prune-encode composition. */
  private lazy val UnigramPruneCtes: String = {
    val R = UnigramRounds
    val steps = (1 to UnigramMaxPieceLen).map { j =>
      val cands = (1 to math.min(UnigramMaxPieceLen, j)).map { l =>
        s"""SELECT d.w, d.sc + p.s AS sc
           |FROM uadp${j - l} d JOIN us$R p
           |  ON len(d.w) >= $j AND p.piece = substr(d.w, ${j - l + 1}, $l)
           |  AND p.piece <> d.w""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""uadp$j AS MATERIALIZED (SELECT w, max(sc) AS sc FROM (
         |$cands) c GROUP BY w)""".stripMargin
    }
    val fin = (2 to UnigramMaxPieceLen)
      .map(j => s"SELECT w, sc FROM uadp$j WHERE len(w) = $j")
      .mkString("\nUNION ALL\n")
    s"""$UnigramTrainCtes,
       |${unigramScoreCte(R)},
       |uadp0 AS (SELECT piece AS w, CAST(0 AS BIGINT) AS sc
       |  FROM uc$R WHERE len(piece) > 1),
       |${steps.mkString(",\n")},
       |ualt AS (SELECT w, sc FROM ($fin) f),
       |uloss AS (SELECT c.piece, c.cnt,
       |    CAST(c.cnt * (s.s - a.sc) AS BIGINT) AS loss_micro
       |  FROM uc$R c JOIN us$R s USING (piece) JOIN ualt a ON a.w = c.piece
       |  WHERE len(c.piece) > 1),
       |ukeep AS (
       |  SELECT piece, cnt, CAST(NULL AS BIGINT) AS loss_micro
       |  FROM uc$R WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt, loss_micro FROM (
       |    SELECT piece, cnt, loss_micro, row_number()
       |        OVER (ORDER BY loss_micro DESC, cnt DESC, piece) AS rn
       |    FROM uloss) t
       |  WHERE rn <= $UnigramPruneVocab -
       |    (SELECT count(*) FROM uc$R WHERE len(piece) = 1)),
       |upruned AS (SELECT piece, cnt, loss_micro, CAST(floor(1000000.0 *
       |    ln(CAST(cnt AS DOUBLE) / CAST(tt.total AS DOUBLE))) AS BIGINT)
       |  AS logp_micro
       |FROM ukeep, (SELECT CAST(sum(cnt) AS BIGINT) AS total
       |             FROM ukeep) tt)""".stripMargin
  }

  /** Prune → encode composition oracle: the corpus encoded with the
    * PRUNED piece table — one more DP pass scored by the pruned
    * logp_micro (chars are never pruned, so the DP stays feasible),
    * ids dense over the pruned set in UTF-8 order. The encode
    * assembly CTEs mirror [[UnigramEncodeOracleSql]]. */
  private lazy val UnigramPruneEncodeOracleSql: String = {
    val L = graft.llm.Unigram.MaxWordLen
    val enc = UnigramRounds + 1
    s"""WITH $UnigramPruneCtes,
       |uprs AS (SELECT piece, logp_micro AS s FROM upruned),
       |${unigramDpCtes(enc, scoreCte = "uprs")},
       |uids AS (SELECT piece,
       |    row_number() OVER (ORDER BY piece) AS token_id
       |  FROM upruned),
       |udw AS (SELECT doc_id, unnest(range(0, len(ws))) AS word_pos,
       |    unnest(ws) AS w0
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |            x -> len(x) > 0) AS ws FROM documents) t),
       |uchk AS (SELECT w0, unnest(range(0, (len(w0) + ${L - 1}) // $L)) AS ci
       |  FROM (SELECT DISTINCT w0 FROM udw) t),
       |uwseg AS (SELECT w0, string_agg(seg, ' ' ORDER BY ci) AS seg FROM (
       |  SELECT c.w0, c.ci, g.seg
       |  FROM (SELECT w0, ci, substr(w0, $L*ci + 1, $L) AS w FROM uchk) c
       |  JOIN useg$enc g USING (w)) t GROUP BY w0),
       |uenc AS (SELECT doc_id, word_pos,
       |    unnest(range(0, len(ps))) AS sym_pos, unnest(ps) AS piece
       |  FROM (SELECT doc_id, word_pos, string_split(seg, ' ') AS ps
       |        FROM udw JOIN uwseg USING (w0)) t)
       |SELECT doc_id, word_pos, sym_pos, CAST(token_id AS BIGINT) AS token_id
       |FROM uenc JOIN uids USING (piece)
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin
  }

  /** The reference slice the stupid-backoff LM trains on — one
    * curated feed, the CCNet "Wikipedia" stand-in. */
  private val BackoffRefSource = "src0"

  /** Shared CTE chain for the stupid-backoff LM oracles: context
    * streams (pos, w, w1, w2 — NULL at the head) for the reference
    * slice and the full corpus, exact gram counts, per-gram micro-nat
    * score tables with the context's own count as denominator, the
    * back-off constant and OOV score derived IN SQL from the same
    * formulas, then the deepest-match CASE and the per-doc fold. */
  private lazy val BackoffScoreCtes: String = backoffScoreCtes("documents")

  /** The same chain over any (doc_id, source, text) relation — reused
    * by the e2e quality chain over its gated corpus. */
  private def backoffScoreCtes(docsRel: String): String =
    s"""nws AS (SELECT doc_id, source,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM $docsRel),
       |ntok AS (SELECT doc_id, source, i - 1 AS pos, ws[i] AS w,
       |    CASE WHEN i >= 2 THEN ws[i-1] END AS w1,
       |    CASE WHEN i >= 3 THEN ws[i-2] END AS w2
       |  FROM (SELECT doc_id, source, ws,
       |          unnest(range(1, len(ws) + 1)) AS i FROM nws) t),
       |rtok AS (SELECT * FROM ntok WHERE source = '$BackoffRefSource'),
       |nuni AS (SELECT w, count(*)::BIGINT AS c1 FROM rtok GROUP BY w),
       |ntot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM nuni),
       |nbi AS (SELECT w1, w, count(*)::BIGINT AS c2 FROM rtok
       |  WHERE w1 IS NOT NULL GROUP BY w1, w),
       |ntri AS (SELECT w2, w1, w, count(*)::BIGINT AS c3 FROM rtok
       |  WHERE w2 IS NOT NULL GROUP BY w2, w1, w),
       |nuniS AS (SELECT w, CAST(floor(1000000.0 *
       |    ln(CAST(c1 AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT) AS s1
       |  FROM nuni, ntot),
       |nbiS AS (SELECT b.w1, b.w, CAST(floor(1000000.0 *
       |    ln(CAST(b.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE))) AS BIGINT) AS s2
       |  FROM nbi b JOIN nuni u ON u.w = b.w1),
       |ntriS AS (SELECT t.w2, t.w1, t.w, CAST(floor(1000000.0 *
       |    ln(CAST(t.c3 AS DOUBLE) / CAST(b.c2 AS DOUBLE))) AS BIGINT) AS s3
       |  FROM ntri t JOIN nbi b ON b.w1 = t.w2 AND b.w = t.w1),
       |nk AS (SELECT CAST(floor(1000000.0 * ln(0.4)) AS BIGINT) AS np,
       |    CAST(floor(1000000.0 *
       |      ln(1.0 / CAST(total + 1 AS DOUBLE))) AS BIGINT) AS unk
       |  FROM ntot),
       |nsc AS (SELECT s.doc_id,
       |    CASE WHEN s.pos >= 2 THEN coalesce(t.s3, b.s2 + nk.np,
       |        u.s1 + 2 * nk.np, nk.unk + 2 * nk.np)
       |      WHEN s.pos = 1 THEN coalesce(b.s2, u.s1 + nk.np,
       |        nk.unk + nk.np)
       |      ELSE coalesce(u.s1, nk.unk) END AS sc
       |  FROM ntok s
       |  CROSS JOIN nk
       |  LEFT JOIN nuniS u ON u.w = s.w
       |  LEFT JOIN nbiS b ON b.w1 = s.w1 AND b.w = s.w
       |  LEFT JOIN ntriS t ON t.w2 = s.w2 AND t.w1 = s.w1 AND t.w = s.w),
       |ndoc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |    CAST(-sum(sc) AS BIGINT) AS nll_micro
       |  FROM nsc GROUP BY doc_id),
       |nout AS (SELECT d.doc_id,
       |    coalesce(x.n_tokens, 0)::BIGINT AS n_tokens,
       |    coalesce(x.nll_micro, 0)::BIGINT AS nll_micro,
       |    CASE WHEN coalesce(x.n_tokens, 0) > 0
       |      THEN x.nll_micro // x.n_tokens END AS nll_micro_per_token
       |  FROM $docsRel d LEFT JOIN ndoc x USING (doc_id))""".stripMargin

  private lazy val BackoffScoreOracleSql: String =
    s"""WITH $BackoffScoreCtes
       |SELECT doc_id, n_tokens, nll_micro, nll_micro_per_token
       |FROM nout ORDER BY doc_id""".stripMargin

  private lazy val CcnetBucketsOracleSql: String =
    s"""WITH $BackoffScoreCtes,
       |nrk AS (SELECT o.doc_id, d.lang, o.nll_micro_per_token,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY
       |      coalesce(o.nll_micro_per_token, 9223372036854775807),
       |      o.doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY d.lang) AS cnt
       |  FROM nout o JOIN documents d USING (doc_id)),
       |npm AS (SELECT doc_id, lang, nll_micro_per_token,
       |    CASE WHEN cnt = 1 THEN 0
       |      ELSE (rnk - 1) * 1000 // (cnt - 1) END AS pm_rank
       |  FROM nrk)
       |SELECT doc_id, lang, nll_micro_per_token, CAST(pm_rank AS BIGINT)
       |    AS pm_rank,
       |  CASE WHEN pm_rank < 330 THEN 'head'
       |    WHEN pm_rank < 660 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM npm ORDER BY doc_id""".stripMargin

  /** Duplicate-line suffix for the Gopher-repetition query (the
    * boilerplate-injection convention): the fixture has no newlines
    * and its word soup never repeats a 5-gram within a doc, so every
    * 6th document gets TWO identical appended 12-word lines — the
    * line rules AND the dup-{5..10} coverage rules all become
    * non-vacuous (every n ≤ 12 gram in the repeated line occurs
    * twice). */
  private val RepLineSuffix =
    "\nshared boiler plate sentence with twelve words exactly for coverage of repeats" * 2

  /** Oracle for the Gopher repetition battery: same injected lines,
    * same word/line splits, per-mille via integer `//`; top-n grams
    * ranked (count desc, gram asc); dup-n coverage as a DISTINCT
    * position union joined back to word lengths (1-based inside the
    * SQL, matching itself). */
  private lazy val GopherRepetitionOracleSql: String =
    s"""WITH $GopherRepCtes
       |SELECT doc_id, n_chars, dup_line_pm, dup_line_char_pm,
       |  top2_char_pm, top3_char_pm, top4_char_pm, dup5_char_pm,
       |  dup6_char_pm, dup7_char_pm, dup8_char_pm, dup9_char_pm,
       |  dup10_char_pm
       |FROM grep ORDER BY doc_id""".stripMargin

  /** CTE chain ending in `grep` (per-doc repetition metrics over the
    * line-injected corpus `gd`, which also carries source/lang for
    * the e2e chain). */
  private lazy val GopherRepCtes: String = {
    val sqlSuffix = "e'" + RepLineSuffix.replace("\n", "\\n") + "'"
    val tops = (2 to 4).map { n =>
      s"""gtop$n AS (SELECT doc_id,
         |    (c * (len(g) - ${n - 1}))::BIGINT AS topn FROM (
         |  SELECT doc_id, g, count(*)::BIGINT AS c, row_number()
         |      OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) AS rn
         |  FROM (SELECT doc_id, unnest([array_to_string(ws[i:i+${n - 1}], ' ')
         |      for i in range(1, len(ws) - $n + 2)]) AS g FROM gw) t
         |  GROUP BY doc_id, g) r WHERE rn = 1)""".stripMargin
    }
    val dups = (5 to 10).map { n =>
      s"""gocc$n AS (SELECT doc_id, i AS p,
         |    array_to_string(ws[i:i+${n - 1}], ' ') AS g
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - $n + 2)) AS i
         |        FROM gw) t),
         |gdup$n AS (SELECT c.doc_id, CAST(sum(len(w.ws[c.wp])) AS BIGINT)
         |    AS dupn FROM (
         |    SELECT DISTINCT o.doc_id, o.p + jj.j AS wp
         |    FROM gocc$n o
         |    JOIN (SELECT doc_id, g FROM gocc$n GROUP BY doc_id, g
         |          HAVING count(*) >= 2) q
         |      ON q.doc_id = o.doc_id AND q.g = o.g
         |    CROSS JOIN (SELECT unnest(range(0, $n)) AS j) jj) c
         |  JOIN gw w ON w.doc_id = c.doc_id
         |  GROUP BY c.doc_id)""".stripMargin
    }
    val topCols = (2 to 4).map(n =>
      s"""CASE WHEN ch.n_chars > 0 THEN CAST(coalesce(t$n.topn, 0) * 1000
         |    // ch.n_chars AS BIGINT) END AS top${n}_char_pm""".stripMargin)
    val dupCols = (5 to 10).map(n =>
      s"""CASE WHEN ch.n_chars > 0 THEN CAST(coalesce(d$n.dupn, 0) * 1000
         |    // ch.n_chars AS BIGINT) END AS dup${n}_char_pm""".stripMargin)
    val topJoins = (2 to 4)
      .map(n => s"LEFT JOIN gtop$n t$n ON t$n.doc_id = d.doc_id")
    val dupJoins = (5 to 10)
      .map(n => s"LEFT JOIN gdup$n d$n ON d$n.doc_id = d.doc_id")
    s"""gd AS (SELECT doc_id, source, lang, text ||
       |    (CASE WHEN doc_id % 6 = 0 THEN $sqlSuffix ELSE '' END) AS text
       |  FROM documents),
       |gw AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM gd),
       |gchars AS (SELECT doc_id, CAST(coalesce(
       |    list_sum(list_transform(ws, x -> len(x))), 0) AS BIGINT)
       |  AS n_chars FROM gw),
       |glines AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nl,
       |    CAST(sum(c - 1) AS BIGINT) AS dl,
       |    CAST(sum(c * len(l)) AS BIGINT) AS nlc,
       |    CAST(sum((c - 1) * len(l)) AS BIGINT) AS dlc
       |  FROM (SELECT doc_id, l, count(*)::BIGINT AS c FROM
       |    (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
       |     FROM gd) t0 GROUP BY doc_id, l) t1
       |  GROUP BY doc_id),
       |${tops.mkString(",\n")},
       |${dups.mkString(",\n")},
       |grep AS (SELECT d.doc_id, ch.n_chars,
       |  CASE WHEN l.nl > 0 THEN CAST(coalesce(l.dl, 0) * 1000
       |      // l.nl AS BIGINT) END AS dup_line_pm,
       |  CASE WHEN l.nlc > 0 THEN CAST(coalesce(l.dlc, 0) * 1000
       |      // l.nlc AS BIGINT) END AS dup_line_char_pm,
       |  ${(topCols ++ dupCols).mkString(",\n  ")}
       |FROM gd d
       |JOIN gchars ch ON ch.doc_id = d.doc_id
       |LEFT JOIN glines l ON l.doc_id = d.doc_id
       |${(topJoins ++ dupJoins).mkString("\n")})""".stripMargin
  }

  /** E2E quality chain oracle: repetition gate (Gopher thresholds
    * 300/200/150 per-mille — all three rules bite on the fixture) →
    * stupid-backoff LM trained on the GATED reference slice →
    * per-language per-mille buckets over survivors → keep
    * head+middle. */
  private lazy val E2eQualityChainOracleSql: String =
    s"""WITH $GopherRepCtes,
       |gsurv AS (SELECT doc_id FROM grep
       |  WHERE coalesce(dup_line_pm, 0) < 300
       |    AND coalesce(top2_char_pm, 0) < 200
       |    AND coalesce(dup5_char_pm, 0) < 150),
       |qd AS (SELECT d.doc_id, d.source, d.lang, d.text
       |  FROM gd d JOIN gsurv s USING (doc_id)),
       |${backoffScoreCtes("qd")},
       |nrk AS (SELECT o.doc_id, d.lang, o.nll_micro_per_token,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY
       |      coalesce(o.nll_micro_per_token, 9223372036854775807),
       |      o.doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY d.lang) AS cnt
       |  FROM nout o JOIN qd d USING (doc_id)),
       |npm AS (SELECT doc_id, lang,
       |    CASE WHEN cnt = 1 THEN 0
       |      ELSE (rnk - 1) * 1000 // (cnt - 1) END AS pm_rank
       |  FROM nrk)
       |SELECT doc_id, lang, CAST(pm_rank AS BIGINT) AS pm_rank,
       |  CASE WHEN pm_rank < 330 THEN 'head' ELSE 'middle' END AS bucket
       |FROM npm WHERE pm_rank < 660 ORDER BY doc_id""".stripMargin

  /** Funnel oracle: the same waterfall in SQL — marginal drops per
    * rule from the repetition metrics, then the tail count over gate
    * survivors via the parameterized backoff chain. */
  private lazy val QualityFunnelOracleSql: String =
    s"""WITH $GopherRepCtes,
       |gflag AS (SELECT doc_id,
       |    (coalesce(dup_line_pm, 0) >= 300) AS f1,
       |    (coalesce(top2_char_pm, 0) >= 200) AS f2,
       |    (coalesce(dup5_char_pm, 0) >= 150) AS f3
       |  FROM grep),
       |gcnt AS (SELECT count(*)::BIGINT AS n0,
       |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(sum(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
       |    CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS d3
       |  FROM gflag),
       |gsurv AS (SELECT doc_id FROM gflag WHERE NOT f1 AND NOT f2 AND NOT f3),
       |qd AS (SELECT d.doc_id, d.source, d.lang, d.text
       |  FROM gd d JOIN gsurv s USING (doc_id)),
       |${backoffScoreCtes("qd")},
       |nrk AS (SELECT o.doc_id, d.lang, o.nll_micro_per_token,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY
       |      coalesce(o.nll_micro_per_token, 9223372036854775807),
       |      o.doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY d.lang) AS cnt
       |  FROM nout o JOIN qd d USING (doc_id)),
       |d4c AS (SELECT count(*)::BIGINT AS d4 FROM (
       |  SELECT CASE WHEN cnt = 1 THEN 0
       |      ELSE (rnk - 1) * 1000 // (cnt - 1) END AS pm_rank
       |  FROM nrk) t WHERE pm_rank >= 660)
       |SELECT CAST(1 AS BIGINT) AS stage_no, 'gate_dup_line' AS stage,
       |  n0 AS n_in, d1 AS n_dropped, n0 - d1 AS n_out FROM gcnt
       |UNION ALL SELECT 2, 'gate_top2', n0 - d1, d2, n0 - d1 - d2 FROM gcnt
       |UNION ALL SELECT 3, 'gate_dup5', n0 - d1 - d2, d3,
       |  n0 - d1 - d2 - d3 FROM gcnt
       |UNION ALL SELECT 4, 'bucket_tail', n0 - d1 - d2 - d3, d4,
       |  n0 - d1 - d2 - d3 - d4 FROM gcnt, d4c
       |ORDER BY stage_no""".stripMargin

  private lazy val BackoffDriftOracleSql: String =
    s"""WITH $BackoffScoreCtes
       |SELECT d.source, count(*)::BIGINT AS n_docs,
       |  CAST(sum(o.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(o.nll_micro) AS BIGINT) AS nll_micro,
       |  CASE WHEN sum(o.n_tokens) > 0 THEN CAST(sum(o.nll_micro)
       |      // sum(o.n_tokens) AS BIGINT) END AS mean_nll_micro_per_token
       |FROM nout o JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** The injected boilerplate for the repeated-span queries — an
    * 11-word suffix on every 7th document, so k=8 windows fully inside
    * it recur corpus-wide while windows straddling the document/suffix
    * boundary stay document-unique (df = 1, correctly not flagged). */
  private val SpanBoilerplate =
    " common license header boilerplate repeated across every seventh document here verbatim"

  private def withSpanBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(SpanBoilerplate)).otherwise(lit(""))))

  /** The span-key CTE chain shared by the two span oracles: suffixed
    * documents → filtered word lists → per-window md5 keys (1-based
    * starts) → qualifying keys with df >= 2. */
  private lazy val SpanKeyCtes: String =
    s"""d AS (SELECT doc_id,
       |    text || (CASE WHEN doc_id % 7 = 0 THEN '$SpanBoilerplate' ELSE '' END) AS text
       |  FROM documents),
       |wsx AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM d),
       |ks AS (SELECT doc_id, i AS start,
       |    md5(array_to_string(ws[i:i+7], ' ')) AS h
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
       |        FROM wsx WHERE len(ws) >= 8) t1),
       |q AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS df,
       |    count(*)::BIGINT AS n_occ
       |  FROM ks GROUP BY h HAVING count(DISTINCT doc_id) >= 2)""".stripMargin

  /** One unrolled merge-APPLICATION round for the byte-fallback
    * oracle: [[bpeRoundCte]]'s closed-form greedy application (islands
    * + offset parity) driven by the TRAINING chain's b$k winner, over
    * the serving corpus's distinct-word symbol rows e$k — frozen-merge
    * application to a corpus the trainer never saw. An empty b$k
    * (training stopped early) makes the round the identity (NULL
    * scalar subquery → no match), matching encodeWith. */
  private def bpeApplyRoundCte(k: Int): String =
    s"""fe$k AS (SELECT w, pos, sym,
       |  CASE WHEN sym = (SELECT a FROM b$k)
       |        AND lead(sym) OVER (PARTITION BY w ORDER BY pos) = (SELECT b FROM b$k)
       |       THEN 1 ELSE 0 END AS m FROM e$k),
       |ge$k AS (SELECT *, pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) AS isl FROM fe$k),
       |he$k AS (SELECT *, CASE WHEN m = 1
       |    AND (pos - min(pos) OVER (PARTITION BY w, m, isl)) % 2 = 0
       |  THEN 1 ELSE 0 END AS mg FROM ge$k),
       |e${k + 1} AS MATERIALIZED (SELECT w,
       |  row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
       |  CASE WHEN mg = 1 THEN sym || nx ELSE sym END AS sym
       |  FROM (SELECT w, pos, sym, mg,
       |          lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nx,
       |          lag(mg, 1, 0) OVER (PARTITION BY w ORDER BY pos) AS pmg
       |        FROM he$k) t WHERE pmg = 0)""".stripMargin

  /** The OOV suffix llm_bpe_bytefallback appends to every document —
    * '~' and '%' are absent from the fixture alphabet, so their
    * symbols must byte-fall-back. ASCII by design: the oracle expands
    * unknown symbols per CHARACTER with token 1 + ascii (byte value ==
    * codepoint below 0x80); the Spark side is general UTF-8 and the
    * multibyte round-trip is covered in BpeSpec. */
  private val BpeOovSuffix = " zz~end x%y"

  /** Byte-fallback oracle: train on the ORIGINAL corpus
    * ([[BpeMergedVocabCtes]]), apply the frozen merges to the SUFFIXED
    * corpus's vocabulary (one [[bpeApplyRoundCte]] per round), number
    * the learned alphabet at +259 (after UNK 0, 256 byte tokens, 3
    * specials), emit known symbols at fb_pos 0 and unknown symbols as
    * per-byte tokens. */
  private lazy val BpeByteFallbackOracleSql: String =
    s"""WITH $BpeMergedVocabCtes,
       |ew AS (SELECT DISTINCT w FROM (
       |  SELECT unnest(string_split_regex(lower(text || '$BpeOovSuffix'), '\\s+')) AS w
       |  FROM documents) t WHERE len(w) > 0),
       |e0 AS MATERIALIZED (SELECT w,
       |  unnest(range(1, len(s) + 1)) AS pos, unnest(s) AS sym FROM (
       |  SELECT w, list_append([w[i] for i in range(1, len(w) + 1)], '</w>') AS s
       |  FROM ew) t),
       |${(0 until BpeEncodeMerges).map(bpeApplyRoundCte).mkString(",\n")},
       |ewsyms AS MATERIALIZED (SELECT w, list(sym ORDER BY pos) AS syms
       |  FROM e$BpeEncodeMerges GROUP BY w),
       |idsf AS (SELECT sym, row_number() OVER (ORDER BY sym) + 259 AS token_id
       |         FROM (SELECT DISTINCT sym FROM s$BpeEncodeMerges) t),
       |dw AS (SELECT doc_id, unnest(range(0, len(ws))) AS word_pos,
       |         unnest(ws) AS w
       |       FROM (SELECT doc_id,
       |               list_filter(string_split_regex(lower(text || '$BpeOovSuffix'), '\\s+'),
       |                 x -> len(x) > 0) AS ws FROM documents) t),
       |enc AS (SELECT doc_id, word_pos,
       |          unnest(range(0, len(syms))) AS sym_pos, unnest(syms) AS sym
       |        FROM dw JOIN ewsyms USING (w)),
       |known AS (SELECT doc_id, word_pos, sym_pos, 0 AS fb_pos, token_id
       |          FROM enc JOIN idsf USING (sym)),
       |unk AS (SELECT doc_id, word_pos, sym_pos, i - 1 AS fb_pos,
       |          1 + ascii(sym[CAST(i AS INT)]) AS token_id
       |        FROM (SELECT doc_id, word_pos, sym_pos, sym,
       |                unnest(range(1, len(sym) + 1)) AS i
       |              FROM enc ANTI JOIN idsf USING (sym)) t)
       |SELECT doc_id, word_pos, sym_pos, CAST(fb_pos AS BIGINT) AS fb_pos,
       |  CAST(token_id AS BIGINT) AS token_id
       |FROM (SELECT * FROM known UNION ALL SELECT * FROM unk) u
       |ORDER BY doc_id, word_pos, sym_pos, fb_pos""".stripMargin

  /** Dedup-eval injected variants, shared with the oracle. 12-word
    * base; v1 changes the LAST word only, putting the (base, v1)
    * 3-gram Jaccard at 7/13 ≈ 0.538 — a BORDERLINE true pair exactly
    * where LSH banding recall is weakest; v2 changes the last two
    * words (6/14 ≈ 0.43 — a true negative just under threshold). */
  private val DedupEvalBase =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val DedupEvalV1 =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
  private val DedupEvalV2 =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa nu xi"

  val queries: Seq[(String, Q)] = Seq(

    // Fixture texts are 500 UNIQUE non-NULL sentences, so both arms the
    // operator exists for are INJECTED deterministically (the
    // boilerplate-footer pattern, mirrored in the oracle): a slice of
    // docs becomes an exact-duplicate group (min id must win) and a
    // disjoint slice gets NULL content (every row must survive — NULLs
    // are not duplicates of each other).
    "llm_dedup_exact" -> ((s, dir) => {
      val content = when(col("doc_id") % 53 === 7, lit(null).cast("string"))
        .when(col("doc_id") % 41 === 5, lit("SHARED DUPLICATE BLOCK"))
        .otherwise(col("text"))
      Dedup.exactDedup(
          t(s, dir, "documents").withColumn("content", content), "content", "doc_id")
        .select(col("doc_id"), col("content_hash")).orderBy(col("doc_id"))
    }),

    // Same arms, but the duplicate slice differs in case/punctuation/
    // whitespace across two sub-slices — raw md5s differ, normalized
    // hashes collapse, so the normalization itself is oracle-checked
    // non-vacuously.
    "llm_dedup_normalized" -> ((s, dir) => {
      val content = when(col("doc_id") % 53 === 7, lit(null).cast("string"))
        .when(col("doc_id") % 41 === 5, lit("Shared, Duplicate. Block!"))
        .when(col("doc_id") % 41 === 6, lit("shared   duplicate block"))
        .otherwise(col("text"))
      Dedup.normalizedDedup(
          t(s, dir, "documents").withColumn("content", content), "content", "doc_id")
        .select(col("doc_id"), col("content_hash")).orderBy(col("doc_id"))
    }),

    // Corpus-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    // step): any sentence appearing in 2+ distinct docs drops from ALL
    // of them. Fixture texts are single unique sentences, so the
    // boilerplate is INJECTED deterministically (the multimodal magic
    // pattern): ~20% of docs gain a shared footer sentence (must drop,
    // prose must survive) and a small slice becomes footer-only (must
    // come back empty, not disappear) — both arms non-vacuous at every
    // sf, mirrored in the oracle.
    "llm_boilerplate_drop" -> ((s, dir) => {
      val footer = "COMMON FOOTER SENTENCE"
      val content = when(col("doc_id") % 97 === 3, lit(footer))
        .when(col("doc_id") % 5 === 0, concat(col("text"), lit(". " + footer)))
        .otherwise(col("text"))
      Dedup.dropBoilerplate(
          t(s, dir, "documents").withColumn("content", content), "doc_id", "content")
        .select(col("doc_id"), col("n_kept"), md5(col("cleaned")).as("cleaned_hash"))
        .orderBy(col("doc_id"))
    }),

    // Bag-of-words dedup: token-sorted content hash, so REORDERED
    // boilerplate (shuffled sentence templates, reordered list items)
    // collapses where raw/normalized hashing cannot. Injected arms:
    // two docs with the same tokens in different orders must share a
    // hash; the null arm must survive untouched.
    "llm_dedup_bow" -> ((s, dir) => {
      val content = when(col("doc_id") % 53 === 7, lit(null).cast("string"))
        .when(col("doc_id") % 41 === 5, lit("alpha beta gamma shared"))
        .when(col("doc_id") % 41 === 6, lit("shared gamma beta alpha"))
        .otherwise(col("text"))
      // concat_ws would fold NULL content to "" — guard it back to
      // NULL so null docs keep the never-a-duplicate contract
      val bag = when(content.isNull, lit(null).cast("string"))
        .otherwise(concat_ws(" ", sort_array(Text.words(content))))
      Dedup.exactDedup(
          t(s, dir, "documents").withColumn("bag", bag), "bag", "doc_id")
        .select(col("doc_id"), col("content_hash")).orderBy(col("doc_id"))
    }),

    // Weighted sampling WITHOUT replacement: exactly 100 docs, longer
    // docs more likely — the fixed-size counterpart of the Bernoulli
    // importanceSample. Priorities are integer micro-nat quantized by
    // design, so the oracle replays the identical ranking.
    "llm_weighted_sample" -> ((s, dir) =>
      Curate.weightedSampleTopN(t(s, dir, "documents"), "doc_id", "n_chars",
          n = 100)
        .select(col("doc_id"), col("n_chars"), col("priority"))
        .orderBy(col("priority").desc, col("doc_id"))),

    // Column-association audit: exact mutual information between two
    // categorical columns (lang × source) — "is language correlated
    // with feed?" before stratifying on either. Count-weighted
    // micro-nat MI: every probability ratio is an exact-integer
    // fraction evaluated in ONE double ln then floor-quantized, and
    // the cell sum is integer (the drift-monitor discipline), so the
    // statistic is partition-order-independent. mi_micro = the sum
    // div N (average nats·1e6 per doc).
    "llm_mi_lang_source" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val cells = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("__nxy"))
      val mx = d.groupBy(col("lang")).agg(count(lit(1)).as("__nx"))
      val my = d.groupBy(col("source")).agg(count(lit(1)).as("__ny"))
      val tot = d.agg(count(lit(1)).as("__N"))
      cells.join(mx, "lang").join(my, "source").crossJoin(broadcast(tot))
        .withColumn("__term", col("__nxy") *
          floor(log((col("__nxy") * col("__N")).cast("double") /
            (col("__nx") * col("__ny")).cast("double")) * lit(1000000.0))
            .cast("long"))
        .agg(count(lit(1)).as("n_cells"),
          max(col("__N")).as("n_docs"),
          sum(col("__term")).as("mi_weighted_micro"))
        .withColumn("mi_micro", expr("mi_weighted_micro div n_docs"))
    }),

    // Unicode NFC normalization dedup: a decomposed (e + combining
    // acute) and a precomposed (é) variant are different byte strings
    // that normalize to ONE canonical form — injected deterministically
    // and collapsed by keep-min on md5(nfc(text)). ASCII docs must
    // pass through unchanged (changed = false).
    "llm_unicode_nfc" -> ((s, dir) => {
      val content = when(col("doc_id") % 41 === 5, lit("cafe\u0301 menu plan"))
        .when(col("doc_id") % 41 === 6, lit("caf\u00e9 menu plan"))
        .otherwise(col("text"))
      val norm = graft.expr.kernels.NativeFns.nfc(content)
      t(s, dir, "documents")
        .withColumn("changed", norm =!= content)
        .withColumn("norm_hash", md5(norm))
        .withColumn("kept", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy(col("norm_hash"))))
        .select(col("doc_id"), col("changed"), col("norm_hash"), col("kept"))
        .orderBy(col("doc_id"))
    }),

    // Fuzzy linkage: blocked exact edit distance. Injected arms: two
    // templates at distance 1 and 2 from the base must pair (all in
    // one block — the edit is past the first token and inside one
    // length band); organic same-block near-misses surface too, and
    // the oracle replays the identical blocking + levenshtein.
    "llm_fuzzy_linkage" -> ((s, dir) => {
      val content = when(col("doc_id") % 41 === 5,
          lit("the quick brown fox jumps over the lazy dog"))
        .when(col("doc_id") % 41 === 6,
          lit("the quick brown fix jumps over the lazy dog"))
        .when(col("doc_id") % 41 === 7,
          lit("the quick brown fox jumped over the lazy dog"))
        .otherwise(col("text"))
      Dedup.editDistancePairs(
          t(s, dir, "documents").withColumn("content", content),
          "doc_id", "content", maxDist = 2)
        .orderBy(col("a"), col("b"))
    }),

    // The dedup quality ledger (the recall-ledger principle applied to
    // dedup itself): exact all-pairs Jaccard truth on a BOUNDED eval
    // subset vs what the banded MinHash-LSH path finds — measured
    // per-mille recall/precision before anyone trusts the banding at
    // scale. Injected borderline variants (see DedupEvalBase) put true
    // pairs exactly where banding recall is weakest.
    "llm_dedup_eval" -> ((s, dir) => {
      val content = when(col("doc_id") % 37 === 5,
          when(col("doc_id") % 3 === 0, lit(DedupEvalBase))
            .when(col("doc_id") % 3 === 1, lit(DedupEvalV1))
            .otherwise(lit(DedupEvalV2)))
        .otherwise(col("text"))
      val sub = t(s, dir, "documents")
        .filter(col("doc_id") % 37 === 5 || col("doc_id") < 150)
        .withColumn("content", content)
      // exact truth: same shingle-hash sets the LSH path verifies with.
      // Measured NOT worth folding into one checkpointed signature
      // pass (tried in r22, reverted): the truth sets fuse into the
      // self-join's scan for free, while the one-pass variant stalls
      // both branches on a materialized (__hs, __sig) checkpoint and
      // re-reads the wide arrays — interleaved A/B at sf0.1 read it
      // +0.2–0.5 s per run. The mutated content keeps this query OUT
      // of the shared per-corpus frame either way.
      val sets = sub
        .withColumn("__w", Text.words(col("content")))
        .filter(size(col("__w")) >= 3)
        .select(col("doc_id"), array_distinct(
          transform(Text.shingles(col("__w"), 3), x => Text.md5Hash(x))).as("g"))
      val truth = sets.as("x").join(sets.as("y"),
          col("x.doc_id") < col("y.doc_id"))
        .filter(Dedup.jaccard(col("x.g"), col("y.g")) >= 0.5)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      val found = Dedup.minHashLshPairs(sub, "doc_id", "content",
        threshold = 0.5).select(col("a"), col("b"))
      val matched = truth.join(found, Seq("a", "b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .crossJoin(matched.agg(count(lit(1)).as("n_matched")))
        .select(col("n_truth"), col("n_found"), col("n_matched"),
          expr("n_matched * 1000 div n_truth").as("recall_pm"),
          expr("n_matched * 1000 div n_found").as("precision_pm"))
    }),

    "llm_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir), "doc_id",
          threshold = 0.5)
        .orderBy(col("a"), col("b"))),

    "llm_dedup_simhash" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("wh", transform(Text.words(col("text")), w => Text.md5Hash(w)))
        .select(col("doc_id"),
          graft.expr.kernels.NativeFns.simHash(col("wh")).as("simhash"))
        .orderBy(col("doc_id"))),

    // SimHash dedup completed: banded candidate buckets + exact Hamming
    // verify, with a straddling bucket cap (see SimHashPairsCap).
    "llm_dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 2,
        maxBucket = SimHashPairsCap)
        .orderBy(col("a"), col("b"))),

    "llm_text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("q", Text.qualityFeatures(col("text")))
        .select(col("doc_id"), col("q.n_chars").as("n_chars"), col("q.n_words").as("n_words"),
          col("q.avg_word_len").as("avg_word_len"), col("q.stopword_ratio").as("stopword_ratio"),
          col("q.punct_count").as("punct_count"), col("q.upper_ratio").as("upper_ratio"))
        .orderBy(col("doc_id"))),

    // Canonical-URL dedup: four deterministic surface variants of each
    // logical URL (host case + fragment, tracking params, trailing
    // slash) must collapse to one canonical form — min doc_id wins;
    // distinct logical URLs must not collapse.
    "llm_url_canonical" -> ((s, dir) => {
      val k = (col("doc_id") % 50).cast("string")
      def base(h: String, p: String) =
        concat(lit(s"$h://example"), k, lit(".com/path"), k, lit(p))
      val url = when(col("doc_id") % 4 === 0, base("https", ""))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTPS://EXAMPLE"), k, lit(".COM/path"), k, lit("#frag")))
        .when(col("doc_id") % 4 === 2,
          base("https", "?utm_source=x&utm_campaign=y"))
        .otherwise(base("https", "/"))
      t(s, dir, "documents").withColumn("url", url)
        .withColumn("canon", Text.canonicalUrl(col("url")))
        .withColumn("kept", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy(col("canon"))))
        .select(col("doc_id"), col("canon"), col("kept"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end WEB curation chain (the composition check, like
    // llm_e2e_curate for the text path): canonical-URL dedup (min doc
    // per canonical key) -> Gopher rule gate -> char-entropy floor,
    // all three stages replayed by ONE oracle. URL groups use
    // doc_id % 250 (not % 50) so each later stage still sees enough
    // survivors to reject some — every stage bites.
    "llm_e2e_web" -> ((s, dir) => {
      val k = (col("doc_id") % 250).cast("string")
      def base(p: String) =
        concat(lit("https://example"), k, lit(".com/path"), k, lit(p))
      val url = when(col("doc_id") % 4 === 0, base(""))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTPS://EXAMPLE"), k, lit(".COM/path"), k, lit("#frag")))
        .when(col("doc_id") % 4 === 2, base("?utm_source=x&utm_campaign=y"))
        .otherwise(base("/"))
      val docs = t(s, dir, "documents").withColumn("url", url)
        .withColumn("canon", Text.canonicalUrl(col("url")))
      val urlKept = docs
        .withColumn("__mn", min(col("doc_id")).over(Window.partitionBy(col("canon"))))
        .filter(col("doc_id") === col("__mn")).drop("__mn")
      val gated = urlKept
        .withColumn("g", Text.gopherFlags(col("text"),
          minWords = 20L, maxWords = 90L,
          minMeanWordLen = 3.8, maxMeanWordLen = 5.2, minStopwords = 2L))
        .filter(col("g.keep"))
      // native entropy kernel: the third stage is a projection +
      // filter in the same plan, not a join against an aggregate
      gated
        .withColumn("__e", graft.expr.kernels.NativeFns.charEntropy(col("text")))
        .withColumn("h_micro", element_at(col("__e"), 2))
        .filter(col("h_micro") >= 2750000L)
        .select(col("doc_id"), col("canon"), col("g.n_words").as("n_words"),
          col("h_micro"))
        .orderBy(col("doc_id"))
    }),

    // HTML-to-text extraction — the missing FIRST stage of the web
    // chain: deterministic synthetic markup wraps each document's text
    // (head+title+style, script, comment, link-only nav/footer chrome,
    // an h1, the body paragraph, a mixed prose+link div with an
    // entity), and the extractor must drop exactly the boilerplate:
    // comments/script/style/head stripped, blocks segmented at block
    // tags, majority-anchor-text blocks cut by link density, entities
    // decoded (&amp; last), whitespace collapsed. Pure map-side
    // projection; the oracle replays every rewrite verbatim.
    "llm_html_extract" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("html", syntheticHtml(col("doc_id"), col("text")))
        .select(col("doc_id"), Text.htmlToText(col("html")).as("extracted"))
        .orderBy(col("doc_id"))),

    // The web chain FROM MARKUP: synthetic HTML -> htmlToText ->
    // Gopher gate -> entropy floor (llm_e2e_web starts from already-
    // extracted text; a real crawl pipeline starts here). Thresholds
    // re-centered on the extracted profile (markup adds the heading
    // and the surviving prose block) so every stage still bites both
    // ways on the fixture.
    "llm_e2e_web_html" -> ((s, dir) => {
      val ext = t(s, dir, "documents")
        .withColumn("html", syntheticHtml(col("doc_id"), col("text")))
        .select(col("doc_id"), Text.htmlToText(col("html")).as("extracted"))
      val gated = ext
        .withColumn("g", Text.gopherFlags(col("extracted"),
          minWords = 45L, maxWords = 110L,
          minMeanWordLen = 4.0, maxMeanWordLen = 5.1, minStopwords = 7L))
        .filter(col("g.keep"))
      gated
        .withColumn("__e", graft.expr.kernels.NativeFns.charEntropy(col("extracted")))
        .withColumn("h_micro", element_at(col("__e"), 2))
        .filter(col("h_micro") >= 2934000L)
        .select(col("doc_id"), col("g.n_words").as("n_words"), col("h_micro"))
        .orderBy(col("doc_id"))
    }),

    // Inverted-index build: per-term df / occurrences / postings range
    // + order-independent XOR postings checksum (never a collect_list
    // — a stop-term's postings are corpus-sized at 100 TB).
    "llm_inverted_index" -> ((s, dir) =>
      Text.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("term"))),

    // Gopher-rule quality gate with per-rule flags. Thresholds chosen
    // to bite BOTH ways on the fixture profile (words 10-99, mean word
    // length 3.7-5.3, stopwords 0-14): each flag rejects some docs and
    // passes others, so every rule is oracle-checked non-vacuously.
    "llm_gopher_rules" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("g", Text.gopherFlags(col("text"),
          minWords = 20L, maxWords = 90L,
          minMeanWordLen = 3.8, maxMeanWordLen = 5.2, minStopwords = 2L))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.n_stopwords").as("n_stopwords"),
          col("g.ok_words").as("ok_words"),
          col("g.ok_word_len").as("ok_word_len"),
          col("g.ok_stopwords").as("ok_stopwords"), col("g.keep").as("keep"))
        .orderBy(col("doc_id"))),

    // Character-distribution entropy in integer micro-nats (the
    // gibberish / compression-proxy quality signal). Served by the
    // NATIVE one-pass kernel (pure map-side, no exchange); the
    // explode+agg formulation it is differential-equal to keeps the
    // same oracle honest. Per-term floor quantization keeps every sum
    // an integer — the lp_micro/bm25 ln discipline.
    "llm_char_entropy" -> ((s, dir) =>
      Text.charEntropyNativeFrame(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "llm_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), Text.langGuess(col("text")).as("guess"))
        .withColumn("agree", col("guess") === col("lang"))
        .orderBy(col("doc_id"))),

    "llm_token_counts" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.wsTokenCount(col("text")).as("ws_tokens"),
        Text.subwordCount(col("text")).as("subword_tokens"),
        (length(col("text")).cast("double") / Text.wsTokenCount(col("text")))
          .as("chars_per_token"))
        .orderBy(col("doc_id"))),

    "llm_fingerprints" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("w", Text.words(col("text")))
        .withColumn("sh", Text.shingles(col("w")))
        .withColumn("hs", transform(col("sh"), x => Text.md5Hash(x)))
        .withColumn("fp", Text.fingerprintsFromHashes(col("hs")))
        .select(col("doc_id"), size(col("fp")).cast("long").as("fp_count"),
          array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
        .orderBy(col("doc_id"))),

    "llm_ann_topk_exact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopKQ(
        e.filter(col("vec_id") < 3), e.filter(col("vec_id") >= 3),
        "vec_id", "vec_id", "embedding", k = 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // Int8 quantization of the embedding store (Similarity.quantizeInt8):
    // per-vector amax scale + rounded bytes, emitted as a CSV string
    // (both engines join lists identically; raw array columns compare
    // brittlely across drivers). qsum is a redundant integer checksum.
    "llm_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8Frame(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("amax"),
          array_join(transform(col("q8"), _.cast("string")), ",").as("q8_csv"),
          aggregate(transform(col("q8"), _.cast("long")), lit(0L), _ + _).as("qsum"))
        .orderBy(col("vec_id"))),

    // ANN over the quantized store: integer dots rescaled by candidate
    // amax; same contract as llm_ann_topk_exact but on 8-bit vectors.
    "llm_ann_int8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.int8TopK(
        e.filter(col("vec_id") < 3), e.filter(col("vec_id") >= 3),
        "vec_id", "vec_id", "embedding", k = 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // Two-stage serving: int8 coarse top-20 re-ranked exactly to
    // top-5 — the production recall/cost dial (rerank cost per query
    // is m·dim regardless of corpus size).
    "llm_ann_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.rerankTopK(
        e.filter(col("vec_id") < 3), e.filter(col("vec_id") >= 3),
        "vec_id", "vec_id", "embedding", k = 5, m = 20)
        .orderBy(col("qid"), col("rank"))
    }),

    // Product-quantization serving: 4-code ADC coarse pass (the scan
    // reads codes, not vectors) + exact rescore. Training is the
    // deterministic label-init Lloyd half-step, so codebooks, codes,
    // ADC scores and the final ranking all replay in the oracle.
    "llm_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(
        e.filter(col("vec_id") < 3), e.filter(col("vec_id") >= 3),
        "vec_id", "vec_id", "embedding", "label", k = 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // Quantizer-health diagnostic: the per-(subspace, code) population
    // histogram of the PQ code store. A collapsed codeword (one code
    // absorbing a subspace) or a dead one (zero rows) is how a bad
    // codebook shows up in production — this is the monitoring row.
    "llm_pq_code_balance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val byLabel = Similarity.pqCodebooks(cands, "embedding", "label")
      Similarity.pqEncodeFrame(cands, "vec_id", "embedding", byLabel,
          m = 4, dim = 64)
        .select(posexplode(col("codes")).as(Seq("s", "code")))
        .groupBy(col("s").cast("long").as("s"), col("code"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("s"), col("code"))
    }),

    // PQ SERVING from the persisted index: codebooks + code store
    // written once, reloaded, and answered with NO training in the
    // plan; the coarse scan reads only (cid, codes) — at 100 TB the
    // per-query pass touches the m-byte code column, never the
    // vectors (ReadSchema plan-asserted in RetrievalSpec). Same oracle
    // as llm_ann_pq: the index changes where the work happens, never
    // the answer.
    "llm_ann_pq_indexed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (byLabel, codes) = Similarity.readPqIndex(s, pqFamilyStore(s, dir))
      Similarity.pqServe(byLabel, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, m = 4, dim = 64, coarse = 20)
        .orderBy(col("qid"), col("rank"))
    }),

    "llm_ann_lsh_bucketed" -> ((s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        nPlanes = 8, dim = 64, k = 1)
        .select(col("vid"), col("bucket"), col("nn"), col("dot"))
        .orderBy(col("vid"))),

    "llm_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", "label", k = 3)
        .orderBy(col("qid"), col("rank"))
    }),

    // The IVF SERVING path: persist the index (assignments partitioned
    // by cluster + centroid table), reload, and answer the same query
    // batch from the index alone — no training in the plan, and the
    // assignments scan partition-prunes to the probed clusters
    // (dynamic partition pruning; plan-asserted in LlmSpec). Same
    // oracle as llm_ann_ivf: the index changes WHERE the work happens,
    // never the answer.
    "llm_ann_ivf_indexed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cent, eq) = Similarity.readIvfIndex(s, ivfFamilyStore(s, dir))
      Similarity.ivfTopKIndexed(cent, eq, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 3)
        .orderBy(col("qid"), col("rank"))
    }),

    // Multi-probe SERVING: the persisted index answered at nprobe = 2
    // — fine search the union of each query's two best clusters. The
    // assignments scan still partition-prunes dynamically (the pruned
    // frame just carries two labels per query; plan-asserted in
    // LlmSpec). Oracle is the shared IVF SQL with the probe rank
    // widened to 2; boundary queries whose neighbors sit in the
    // runner-up cluster now find them.
    "llm_ann_ivf_probe2" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cent, eq) = Similarity.readIvfIndex(s, ivfFamilyStore(s, dir))
      Similarity.ivfTopKIndexed(cent, eq, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 3, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // Incremental index maintenance: build the index on HALF the
    // corpus, append the other half (new files under the touched
    // cluster partitions + additive exact-integer centroid merge — the
    // base index is never rewritten), then serve. Sums and counts are
    // exact integers, so the appended index answers IDENTICALLY to a
    // full build — the shared IVF oracle checks exactly that.
    "llm_ann_ivf_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cent, eq) = Similarity.readIvfIndex(s, ivfFamilyStore(s, dir))
      Similarity.ivfTopKIndexed(cent, eq, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 3)
        .orderBy(col("qid"), col("rank"))
    }),

    // The nprobe quality ledger: recall@3 of IVF serving at nprobe=1
    // vs nprobe=2 against exact brute force, on a disjoint
    // query/candidate split — proves the multi-probe knob buys recall
    // (0.17 -> 0.30 at sf0.01) before anyone pays its candidate-volume
    // cost. Same in-engine-measurement principle as llm_ann_recall.
    "llm_ann_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val (cent, eq) = Similarity.readIvfIndex(s, ledgerIvfStore(s, dir))
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      def recallOf(approx: DataFrame, method: String) =
        exact.join(approx.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as("total_matches"))
          .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
          .select(lit(method).as("method"), col("n_queries"),
            col("total_matches"),
            (col("total_matches").cast("double") /
              (lit(3.0) * col("n_queries"))).as("recall"))
      recallOf(Similarity.ivfTopKIndexed(cent, eq, qs, "vec_id", "embedding",
          k = 3, nprobe = 1), "ivf_probe1")
        .unionByName(recallOf(Similarity.ivfTopKIndexed(cent, eq, qs,
          "vec_id", "embedding", k = 3, nprobe = 2), "ivf_probe2"))
        .orderBy(col("method"))
    }),

    // The PQ quality ledger (same in-engine-measurement principle as
    // llm_ann_ivf_recall): recall@3 of ADC serving at coarse=5 vs
    // coarse=20 against exact brute force on a disjoint query /
    // candidate split — proves the coarse-width dial buys recall
    // before anyone pays its candidate-volume cost.
    "llm_ann_pq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      def recallOf(approx: DataFrame, method: String) =
        exact.join(approx.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as("total_matches"))
          .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
          .select(lit(method).as("method"), col("n_queries"),
            col("total_matches"),
            (col("total_matches").cast("double") /
              (lit(3.0) * col("n_queries"))).as("recall"))
      // train ONCE, serve at both widths: codebooks + codes are shared
      // (codes localCheckpointed — 1,900 tiny rows — so the second
      // serve doesn't re-run the argmin encode)
      val byLabel = ledgerPqBooks(s, dir)
      val codes = Similarity.pqEncodeFrame(cands, "vec_id", "embedding",
        byLabel, m = 4, dim = 64).localCheckpoint()
      val store = cands.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("ce"))
      def serve(c: Int) = Similarity.pqServe(byLabel, codes, store, qs,
        "vec_id", "embedding", k = 3, m = 4, dim = 64, coarse = c)
      // the codebook-QUALITY dial: 2 Lloyd refinement rounds on the
      // same init, served at the same coarse-20 — identical serving
      // cost, only the codeword positions move (the FAISS practice;
      // the oracle replays the refinement rounds like the kmeans CTEs)
      val byIt = ledgerPqBooksRefined(s, dir)
      val codesIt = Similarity.pqEncodeFrame(cands, "vec_id", "embedding",
        byIt, m = 4, dim = 64).localCheckpoint()
      val serveIt = Similarity.pqServe(byIt, codesIt, store, qs,
        "vec_id", "embedding", k = 3, m = 4, dim = 64, coarse = 20)
      recallOf(serve(5), "pq_coarse5")
        .unionByName(recallOf(serve(20), "pq_coarse20"))
        .unionByName(recallOf(serveIt, "pq_it2_coarse20"))
        .orderBy(col("method"))
    }),

    // Incremental PQ maintenance mirroring llm_ann_ivf_append:
    // codebooks train ONCE on the representative sample (here the
    // full candidate set — the production shape is a held-out sample
    // that later corpora resemble), the initial build writes codes
    // for half the corpus, and the other half APPENDS against the
    // FROZEN books — new files only, the base code store is never
    // rewritten. Encoding is a pure per-row function of the
    // codebooks, so the appended index answers IDENTICALLY to a full
    // build: the shared PQ oracle checks exactly that.
    "llm_ann_pq_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (byLabel, codes) = Similarity.readPqIndex(s, pqFamilyStore(s, dir))
      Similarity.pqServe(byLabel, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, m = 4, dim = 64, coarse = 20)
        .orderBy(col("qid"), col("rank"))
    }),

    // SQ8 — the trained-scalar-quantizer member of the index family
    // (FAISS ScalarQuantizer QT_8bit shape): per-dim [vmin, vmax]
    // learned over the corpus, one byte per dimension, frozen after
    // training. vs per-vector int8 (llm_ann_rerank): no per-row scale
    // column, appends encode against the same grid; vs PQ: dim bytes
    // instead of m, but no codebook argmin at encode time. Build +
    // persist + reload + ADC-coarse-20 + exact rescore top-5.
    "llm_ann_sq8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (quant, codes) = Similarity.readSq8Index(s, sq8FamilyStore(s, dir))
      Similarity.sq8Serve(quant, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, coarse = 20)
        .orderBy(col("qid"), col("rank"))
    }),

    // Incremental SQ8 maintenance mirroring llm_ann_pq_append: the
    // quantizer trains ONCE on the representative sample, the initial
    // build writes codes for half the corpus, the other half APPENDS
    // against the FROZEN grid — new files only. Encoding is a pure
    // per-row function of the quantizer, so the appended index answers
    // IDENTICALLY to a full build: the shared SQ8 oracle checks that.
    "llm_ann_sq8_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (quant, codes) = Similarity.readSq8Index(s, sq8FamilyStore(s, dir))
      Similarity.sq8Serve(quant, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, coarse = 20)
        .orderBy(col("qid"), col("rank"))
    }),

    // The FLAT-store maintenance lifecycle (llm_ann_ivfsq8_compact's
    // mold for the family without cluster dirs): build half, append
    // half against the frozen grid, COMPACT the accumulated per-batch
    // files to the file budget, serve — answers must equal the
    // never-compacted build's, so the shared SQ8 oracle checks the
    // whole chain.
    "llm_ann_sq8_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (quant, codes) = Similarity.readSq8Index(s, sq8FamilyStore(s, dir))
      Similarity.sq8Serve(quant, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, coarse = 20)
        .orderBy(col("qid"), col("rank"))
    }),

    // The SQ8 quality ledger (the llm_ann_pq_recall principle): ADC
    // serving at coarse=5 vs coarse=20 against exact brute force on a
    // disjoint query/candidate split — prices the 8×-narrower scalar
    // code's recall next to the PQ ledger's at the same dial widths.
    "llm_ann_sq8_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      def recallOf(approx: DataFrame, method: String) =
        exact.join(approx.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as("total_matches"))
          .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
          .select(lit(method).as("method"), col("n_queries"),
            col("total_matches"),
            (col("total_matches").cast("double") /
              (lit(3.0) * col("n_queries"))).as("recall"))
      val quant = ledgerSq8Quant(s, dir)
      val codes = Similarity.sq8EncodeFrame(cands, "vec_id", "embedding",
        quant).localCheckpoint()
      val store = cands.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("ce"))
      def serve(c: Int) = Similarity.sq8Serve(quant, codes, store, qs,
        "vec_id", "embedding", k = 3, coarse = c)
      recallOf(serve(5), "sq8_coarse5")
        .unionByName(recallOf(serve(20), "sq8_coarse20"))
        .orderBy(col("method"))
    }),

    // IVF-SQ8 — the FAISS IndexIVFScalarQuantizer composition: coarse
    // cells + dim-byte scalar codes partitioned by cluster. Serving
    // probes each query's best 2 cells (broadcast centroids), DPP-
    // scans only those cells' code files, decodes once, integer-ADC,
    // coarse-20, exact rescore top-5 — the middle point between IVFPQ
    // (m bytes, lower recall) and raw-vector IVF (8x the I/O).
    "llm_ann_ivfsq8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val path = ivfSq8FamilyStore(s, dir)
      val (cent, quant, codes) = Similarity.readIvfSq8Index(s, path)
      Similarity.ivfSq8TopK(cent, quant, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, coarse = 20, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // Incremental IVF-SQ8 maintenance: grid trained ONCE on the
    // representative sample, half the corpus builds, the other half
    // APPENDS (frozen grid encode + new files under the touched
    // cluster partitions + exact-integer additive centroid merge
    // under the store lock). With labels carried on the data the
    // appended index answers IDENTICALLY to a full build — the shared
    // IVF-SQ8 oracle checks exactly that.
    "llm_ann_ivfsq8_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val path = ivfSq8FamilyStore(s, dir)
      val (cent, quant, codes) = Similarity.readIvfSq8Index(s, path)
      Similarity.ivfSq8TopK(cent, quant, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, coarse = 20, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // Persist -> tagged appends -> COMPACT -> serve: the small-files
    // maintenance op (each tagged append adds one file per touched
    // cluster forever; compaction rewrites each cluster to ONE file
    // under the index's own lock). Rows, partition layout and serving
    // must be IDENTICAL after compaction — this row SHARES the
    // full-build serve oracle, the append-shares-oracle contract
    // extended one more lifecycle stage.
    "llm_ann_ivfsq8_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val path = ivfSq8FamilyStore(s, dir)
      val (cent, quant, codes) = Similarity.readIvfSq8Index(s, path)
      Similarity.ivfSq8TopK(cent, quant, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, coarse = 20, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // The IVF-SQ8 quality ledger (the family's recall symmetry):
    // recall@3 at nprobe=1 vs nprobe=2 against exact brute force on
    // the disjoint 100-split — prices the probe dial for the scalar
    // codec exactly as llm_ann_ivf_recall does for raw vectors and
    // llm_ann_ivfpq_recall for PQ codes. One build, one grid; the
    // codes frame is checkpointed so the second probe width re-scans
    // codes, not the encode.
    "llm_ann_ivfsq8_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      def recallOf(approx: DataFrame, method: String) =
        exact.join(approx.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as("total_matches"))
          .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
          .select(lit(method).as("method"), col("n_queries"),
            col("total_matches"),
            (col("total_matches").cast("double") /
              (lit(3.0) * col("n_queries"))).as("recall"))
      val (cent, _) = Similarity.readIvfIndex(s, ledgerIvfStore(s, dir))
      val quant = ledgerSq8Quant(s, dir)
      val codes = Similarity.sq8EncodeFrame(cands, "vec_id", "embedding", quant)
        .join(cands.select(col("vec_id").as("cid"), col("label")), "cid")
        .localCheckpoint()
      val store = cands.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("ce"))
      def serve(np: Int) = Similarity.ivfSq8TopK(cent, quant, codes, store,
        qs, "vec_id", "embedding", k = 3, coarse = 20, nprobe = np)
      recallOf(serve(1), "ivfsq8_probe1")
        .unionByName(recallOf(serve(2), "ivfsq8_probe2"))
        .orderBy(col("method"))
    }),

    // IVFPQ — the FAISS-shape composition of the two index halves the
    // engine already serves separately: PQ codes persisted PARTITIONED
    // BY COARSE CLUSTER, serving = probe each query's best 2 clusters
    // (broadcast centroid table) -> dynamic-partition-pruned scan of
    // ONLY those clusters' code files -> ADC coarse-20 -> exact
    // rescore top-5. Plain PQ serving ADC-scans every code row per
    // query batch; plain IVF rescans raw vectors inside probed
    // clusters; this path scans ~nprobe/nlist of the m-byte code
    // column and touches vectors only in the bounded rescore.
    "llm_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (cent, byLabel, codes) =
        Similarity.readIvfPqIndex(s, ivfPqFamilyStore(s, dir))
      Similarity.ivfPqTopK(cent, byLabel, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, m = 4, dim = 64, coarse = 20, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // The end-to-end TRAIN-PREP chain — the split primitive in its
    // production position: Gopher quality gate -> deterministic
    // stratified split (keep the train fraction; val/test never leak
    // into selection) -> token-budget selection with hash tie-breaks,
    // ONE lazy plan whose oracle replays all three stages. Every
    // stage bites at sf0.01 (500 -> gate -> ~4/5 of survivors ->
    // budget cut).
    "llm_e2e_train_prep" -> ((s, dir) => {
      val gated = t(s, dir, "documents")
        .withColumn("g", Text.gopherFlags(col("text"),
          minWords = 20L, maxWords = 90L,
          minMeanWordLen = 3.8, maxMeanWordLen = 5.2, minStopwords = 2L))
        .filter(col("g.keep"))
      val train = Curate.hashSplit(gated, "doc_id",
          Seq(("train", 800), ("val", 100), ("test", 100)))
        .filter(col("split") === "train")
      val scored = train
        .withColumn("score", expr("n_chars div 64"))
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
      Curate.selectByTokenBudget(scored, "doc_id", "score", "tokens", 8000L)
        .select(col("doc_id"), col("score"), col("tokens"))
        .orderBy(col("doc_id"))
    }),

    // Per-language compression/fertility profile — the tokenizer-cost
    // proxy a multilingual budget needs (chars per whitespace word
    // varies ~2x across scripts; token budgets priced on one language
    // misprice the others): exact integer counts, micro-char ratio
    // via the DECIMAL product discipline.
    "llm_fertility_by_lang" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          size(filter(Text.words(col("text")), w => length(w) > 0))
            .cast("long").as("nw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          expr("(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000) div sum(nw)")
            .as("chars_per_word_micro"))
        .orderBy(col("lang"))),

    // Deterministic stratified 80/10/10 split: hash-per-mille against
    // cumulative boundaries — append-stable (a doc's label never
    // drifts as the corpus grows), and every source stratum
    // concentrates at the global fractions without a per-stratum
    // pass; the per-mille share column measures exactly that.
    "llm_split_stratified" -> ((s, dir) =>
      Curate.hashSplit(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", Seq(("train", 800), ("val", 100), ("test", 100)))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
        .withColumn("pm_of_source",
          expr("(n * 1000) div sum(n) OVER (PARTITION BY source)"))
        .orderBy(col("source"), col("split"))),

    // The corpus data card — the one-frame summary a dataset release
    // ships (and the reference's diagnostics print piecemeal): doc /
    // token / char totals, source and language breadth, length range,
    // exact mean length in micro-chars (DECIMAL product, the
    // mergeStats overflow discipline), and the exact-duplicate group
    // count — as a tall (metric, value) frame via the SQL stack()
    // surface. Three bounded aggregations, no corpus joins.
    "llm_datacard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val basic = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars_total"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"),
        expr("(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000) div count(1)")
          .as("mean_chars_micro"))
      val tall = basic.selectExpr(
        """stack(7,
          |  'max_chars', max_chars,
          |  'mean_chars_micro', mean_chars_micro,
          |  'min_chars', min_chars,
          |  'n_chars_total', n_chars_total,
          |  'n_docs', n_docs,
          |  'n_langs', n_langs,
          |  'n_sources', n_sources) AS (metric, value)""".stripMargin)
      val toks = docs.select(explode(Text.words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .agg(count(lit(1)).as("value"))
        .select(lit("n_tokens").as("metric"), col("value"))
      val dups = docs.withColumn("__h", Text.contentHash(col("text")))
        .groupBy(col("__h")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1)
        .agg(count(lit(1)).as("value"))
        .select(lit("n_dup_groups").as("metric"), col("value"))
      tall.unionByName(toks).unionByName(dups).orderBy(col("metric"))
    }),

    // Embedding-store QA: per-dimension exact n/sum/sumsq/min/max over
    // the quantized store — dead dimensions, per-batch scale drift and
    // variance collapse show up here before they poison an index
    // build. One explode into one map-side-combined agg; the shuffle
    // carries 64 cells. sumsq rides as DECIMAL(38,0) internally and
    // fits BIGINT at fixture scale for transport.
    "llm_embed_dimstats" -> ((s, dir) =>
      CorpusStats.embedDimStats(t(s, dir, "embeddings"), "embedding")
        .withColumn("sumsq", col("sumsq").cast("long"))
        .orderBy(col("pos"))),

    // Deterministic ±1 JL sign projection: 64 -> 16 dims, exact
    // integer outputs, sign matrix from md5 parity — the r/d-sized
    // coarse store. Exploded to (vec_id, pos, v) rows for transport.
    "llm_jl_project" -> ((s, dir) =>
      Similarity.jlProject(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "v")))
        .withColumn("pos", col("pos").cast("long"))
        .orderBy(col("vec_id"), col("pos"))),

    // The JL quality ledger: recall@3 of brute-force search in the
    // 16-dim projected space vs exact 64-dim truth on the disjoint
    // split — prices the 4x store shrink before anyone serves coarse
    // search from it (the same in-engine-measurement principle as
    // every other ANN ledger here).
    "llm_jl_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      val pq = Similarity.jlProject(qs, "vec_id", "embedding")
        .select(col("vec_id").as("qid"), col("proj").as("qp"))
      val pc = Similarity.jlProject(cands, "vec_id", "embedding")
        .select(col("vec_id").as("cid"), col("proj").as("cp"))
      val scored = pc.crossJoin(broadcast(pq))
        .withColumn("dot", Similarity.dotQ(col("qp"), col("cp")))
      val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
      val approx = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).select(col("qid"), col("cid"))
      exact.join(approx, Seq("qid", "cid"), "left_semi")
        .agg(count(lit(1)).as("total_matches"))
        .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
        .select(lit("jl_r16").as("method"), col("n_queries"),
          col("total_matches"),
          (col("total_matches").cast("double") /
            (lit(3.0) * col("n_queries"))).as("recall"))
    }),

    // JL two-stage serving: coarse top-20 in the 16-dim projected
    // space, exact re-rank to top-3 from the full store — the
    // rerankTopK recall/cost dial applied to the JL store (coarse
    // scans 16-long arrays; the exact pass touches 20 vectors per
    // query). Compare against llm_jl_recall's direct row: the rescore
    // buys back most of the projection's distortion.
    "llm_jl_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      val pq = Similarity.jlProject(qs, "vec_id", "embedding")
        .select(col("vec_id").as("qid"), col("proj").as("qp"))
      val pc = Similarity.jlProject(cands, "vec_id", "embedding")
        .select(col("vec_id").as("cid"), col("proj").as("cp"))
      val wP = Window.partitionBy(col("qid")).orderBy(col("pdot").desc, col("cid"))
      val coarse = pc.crossJoin(broadcast(pq))
        .withColumn("pdot", Similarity.dotQ(col("qp"), col("cp")))
        .withColumn("rk", row_number().over(wP)).filter(col("rk") <= 20)
        .select(col("qid"), col("cid"))
      val qe = qs.select(col("vec_id").as("qid"),
        Similarity.quantize(col("embedding")).as("qe"))
      val ce = cands.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("ce"))
      val wD = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
      val approx = coarse.join(qe, "qid").join(ce, "cid")
        .withColumn("dot", Similarity.dotQ(col("qe"), col("ce")))
        .withColumn("rk", row_number().over(wD)).filter(col("rk") <= 3)
        .select(col("qid"), col("cid"))
      exact.join(approx, Seq("qid", "cid"), "left_semi")
        .agg(count(lit(1)).as("total_matches"))
        .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
        .select(lit("jl_rerank20").as("method"), col("n_queries"),
          col("total_matches"),
          (col("total_matches").cast("double") /
            (lit(3.0) * col("n_queries"))).as("recall"))
    }),

    // Count-min sketch: depth-4 exact-integer cells over the corpus
    // tokens at TWO widths — 64 (collision-free for these terms: est
    // == exact) and a deliberately tight 8 (collisions force visible
    // overestimates, exercising the est >= exact guarantee
    // non-vacuously) — point estimates (min over rows) for the BM25
    // term set plus an absent control term, with the exact count in
    // the same row so the oracle value-checks the bound rather than
    // eyeballing it. Merge == full is spec'd.
    "llm_cms_estimate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = Seq("spark", "vector", "hash", "zzz_absent")
      val exact = docs.select(explode(Text.words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .filter(col("w").isin(terms: _*))
        .groupBy(col("w").as("term")).agg(count(lit(1)).as("exact_n"))
      def ledger(width: Int) =
        CorpusStats.cmsEstimate(
            CorpusStats.countMinSketch(docs, "text", depth = 4, width = width),
            terms, depth = 4, width = width)
          .withColumn("width", lit(width.toLong))
      ledger(64).unionByName(ledger(8))
        .join(exact, Seq("term"), "left")
        .select(col("width"), col("term"), col("est"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"))
        .orderBy(col("width"), col("term"))
    }),

    // Incremental IVFPQ maintenance — the daily-crawl delta against
    // the SERVING index, composing the two proven append paths:
    // frozen-codebook code encode (new partition-dir files only) +
    // additive exact-integer centroid merge. Build on half, append
    // the other half, serve: answers IDENTICAL to a full build — the
    // shared IVFPQ oracle checks exactly that.
    "llm_ann_ivfpq_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (cent, byLabel, codes) =
        Similarity.readIvfPqIndex(s, ivfPqFamilyStore(s, dir))
      Similarity.ivfPqTopK(cent, byLabel, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, m = 4, dim = 64, coarse = 20, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // Residual IVFPQ — FAISS by_residual=true, the full IVFPQ shape:
    // PQ encodes each vector's residual against its own coarse
    // centroid (exact integer floor-mean), codebook init cid % 8 over
    // residuals (the label init degenerates there: per-label residual
    // means are ~zero), serving adds each probed cluster's exact
    // dot(query, centroid) to the residual ADC. Same partitioned
    // layout and DPP pruning as llm_ann_ivfpq; the oracle replays
    // centroid means, residuals, codebooks, codes, LUTs, the
    // centroid-dot offset, coarse-20 and the exact top-5 rescore.
    "llm_ann_ivfpq_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 3)
      val (cent, byCode, codes) =
        Similarity.readIvfPqIndex(s, ivfPqResFamilyStore(s, dir))
      Similarity.ivfPqResidualTopK(cent, byCode, codes,
        cands.select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("ce")),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, m = 4, dim = 64, coarse = 20, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // The residual-vs-raw quality ledger: recall@3 of non-residual
    // vs residual IVFPQ at the SAME nprobe=2 / coarse=20 / scanned
    // fraction — prices FAISS's by_residual knob in-engine before
    // anyone flips it (residual bits describe within-cluster
    // structure; raw bits re-describe cluster position).
    "llm_ann_ivfpq_res_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      val store = cands.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("ce"))
      // non-residual pipeline (the llm_ann_ivfpq_recall machinery);
      // each codes frame feeds exactly ONE serving arm, so the frames
      // stay LAZY plans (map-side encode against frozen books inside
      // the one final job) — the former eager localCheckpoints ran a
      // separate materialization job per arm for nothing
      val byLabel = ledgerPqBooks(s, dir)
      val rawCodes = Similarity.pqEncodeFrame(cands, "vec_id", "embedding",
        byLabel, m = 4, dim = 64)
        .join(cands.select(col("vec_id").as("cid"), col("label")), "cid")
      // ONE coarse build shared by the raw arm and BOTH residual
      // variants (cent is deterministic, so per-arm rebuilds were
      // identical work — the oracle already derives every arm from one
      // coarse chain; this matches it); the residual books are the
      // shared ledger-trained artifacts (ledgerResidBooks*), so no
      // per-query codebook training job runs at all
      val (cent, eqIdx) = Similarity.readIvfIndex(s, ledgerIvfStore(s, dir))
      val byCode = ledgerResidBooks(s, dir)
      val (centR, _, residCodes) = Similarity.buildIvfPqResidualFrom(
        cent, eqIdx, init = Some(byCode))
      def ledgerRow(approx: DataFrame, method: String) =
        exact.join(approx.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as("total_matches"))
          .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
          .select(lit(method).as("method"), col("n_queries"),
            col("total_matches"),
            (col("total_matches").cast("double") /
              (lit(3.0) * col("n_queries"))).as("recall"))
      val raw = Similarity.ivfPqTopK(cent, byLabel, rawCodes, store, qs,
        "vec_id", "embedding", k = 3, m = 4, dim = 64, coarse = 20,
        nprobe = 2)
      val res = Similarity.ivfPqResidualTopK(centR, byCode, residCodes,
        store, qs, "vec_id", "embedding", k = 3, m = 4, dim = 64,
        coarse = 20, nprobe = 2)
      // residual + REFINED books: 2 Lloyd rounds on the cid%8 init,
      // served at the same nprobe/coarse/scan — the codebook-quality
      // dial measured on the full FAISS shape (raw-path twin:
      // ivfpq_probe2_it2 in llm_ann_ivfpq_recall). Shares the coarse
      // build AND the trained init with the plain residual arm; the
      // refined books themselves come pre-trained from the ledger memo
      // (passing them as init with refineRounds=0 yields the identical
      // codes frame the in-query 2-round refinement produced).
      val byCodeIt = ledgerResidBooksRefined(s, dir)
      val (_, _, residCodesIt) = Similarity.buildIvfPqResidualFrom(
        cent, eqIdx, init = Some(byCodeIt))
      val resIt = Similarity.ivfPqResidualTopK(centR, byCodeIt,
        residCodesIt, store, qs, "vec_id", "embedding", k = 3, m = 4,
        dim = 64, coarse = 20, nprobe = 2)
      ledgerRow(raw, "ivfpq_raw_probe2")
        .unionByName(ledgerRow(res, "ivfpq_res_probe2"))
        .unionByName(ledgerRow(resIt, "ivfpq_res_probe2_it2"))
        .orderBy(col("method"))
    }),

    // The IVFPQ quality/cost ledger: recall@3 AND scanned-code volume
    // of (a) plain PQ full-scan ADC, (b) IVFPQ at nprobe=1, (c) IVFPQ
    // at nprobe=2, all at coarse=20 against exact brute force on the
    // disjoint query/candidate split — proves the cluster pruning's
    // recall price against its scan savings before anyone deploys the
    // knob (pq_full scans |queries|×|cands| codes; ivfpq scans only
    // the probed clusters' codes). Same in-engine-measurement
    // principle as llm_ann_ivf_recall / llm_ann_pq_recall.
    "llm_ann_ivfpq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
      val byLabel = ledgerPqBooks(s, dir)
      // LAZY checkpoints: every consumer sits inside the one final
      // job, so the frames still materialize exactly once — the former
      // eager pins each ran a separate construction-time job
      val codes = Similarity.pqEncodeFrame(cands, "vec_id", "embedding",
        byLabel, m = 4, dim = 64).localCheckpoint(false)
      val store = cands.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("ce"))
      val (cent, _) = Similarity.readIvfIndex(s, ledgerIvfStore(s, dir))
      val codesLab = codes.join(
        cands.select(col("vec_id").as("cid"), col("label")), "cid")
        .localCheckpoint(false)
      val clusterSizes = codesLab.groupBy(col("label"))
        .agg(count(lit(1)).as("csz"))
      val q = qs.select(col("vec_id").as("qid"),
        Similarity.quantize(col("embedding")).as("qe"))
      def ledgerRow(approx: DataFrame, method: String,
                    scanned: DataFrame) =
        exact.join(approx.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as("total_matches"))
          .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
          .crossJoin(scanned)
          .select(lit(method).as("method"), col("n_queries"),
            col("total_matches"),
            (col("total_matches").cast("double") /
              (lit(3.0) * col("n_queries"))).as("recall"),
            col("scanned_codes"))
      val scannedFull = codes.agg(count(lit(1)).as("nc"))
        .crossJoin(qs.agg(count(lit(1)).as("nq")))
        .select((col("nc") * col("nq")).as("scanned_codes"))
      def scannedProbe(nprobe: Int) =
        Similarity.ivfProbe(cent, q, nprobe)
          .join(clusterSizes, "label")
          .agg(coalesce(sum(col("csz")), lit(0L)).as("scanned_codes"))
      def serveIvfPq(nprobe: Int) = Similarity.ivfPqTopK(cent, byLabel,
        codesLab, store, qs, "vec_id", "embedding", k = 3, m = 4,
        dim = 64, coarse = 20, nprobe = nprobe)
      val pqFull = Similarity.pqServe(byLabel, codes, store, qs,
        "vec_id", "embedding", k = 3, m = 4, dim = 64, coarse = 20)
      // codebook quality at fixed scan budget: 2 Lloyd refinement
      // rounds, served at the SAME nprobe=2 / coarse=20 / scanned
      // volume — the ledger prices the training dial separately from
      // the probing dial
      val byIt = ledgerPqBooksRefined(s, dir)
      // single consumer (serveIt) — a lazy plan, no checkpoint needed
      val codesItLab = Similarity.pqEncodeFrame(cands, "vec_id", "embedding",
        byIt, m = 4, dim = 64)
        .join(cands.select(col("vec_id").as("cid"), col("label")), "cid")
      val serveIt = Similarity.ivfPqTopK(cent, byIt, codesItLab, store, qs,
        "vec_id", "embedding", k = 3, m = 4, dim = 64, coarse = 20,
        nprobe = 2)
      ledgerRow(pqFull, "pq_full", scannedFull)
        .unionByName(ledgerRow(serveIvfPq(1), "ivfpq_probe1", scannedProbe(1)))
        .unionByName(ledgerRow(serveIvfPq(2), "ivfpq_probe2", scannedProbe(2)))
        .unionByName(ledgerRow(serveIt, "ivfpq_probe2_it2", scannedProbe(2)))
        .orderBy(col("method"))
    }),

    // The full IVFPQ serving-tuning GRID — the artifact a deployment
    // reads before picking its knobs: recall@3 and scanned-code volume
    // at every (nprobe in {1,2,4}) x (coarse in {10,20,40}) cell, one
    // shared index build. nprobe prices the DPP scan fraction (1/2/4
    // of the fixture's ~10 clusters -> ~10/20/40% of the code bytes),
    // coarse prices the exact-rescore set; the grid separates the two
    // dials — at sf0.01 the widest cell (4, 40) reads 0.327 recall@3
    // on 40% of the scan pq_full pays for 0.270.
    "llm_ann_ivfpq_grid" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cands = e.filter(col("vec_id") >= 100)
      val qs = e.filter(col("vec_id") < 100)
      // LAZY checkpoints (the `scored` convention below): all nine
      // cells run in the one final job, so the ground truth and the
      // code store materialize once inside it instead of as separate
      // construction-time jobs
      val exact = Similarity.bruteForceTopKQ(qs, cands, "vec_id", "vec_id",
        "embedding", k = 3).select(col("qid"), col("cid"))
        .localCheckpoint(false)
      val byLabel = ledgerPqBooks(s, dir)
      val codesLab = Similarity.pqEncodeFrame(cands, "vec_id", "embedding",
        byLabel, m = 4, dim = 64)
        .join(cands.select(col("vec_id").as("cid"), col("label")), "cid")
        .localCheckpoint(false)
      val clusterSizes = codesLab.groupBy(col("label"))
        .agg(count(lit(1)).as("csz"))
      val store = cands.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("ce"))
      val (cent, _) = Similarity.readIvfIndex(s, ledgerIvfStore(s, dir))
      val q = qs.select(col("vec_id").as("qid"),
        Similarity.quantize(col("embedding")).as("qe"))
      val nq = qs.agg(count(lit(1)).as("n_queries"))
      def cells(nprobe: Int): DataFrame = {
        val scanned = Similarity.ivfProbe(cent, q, nprobe)
          .join(clusterSizes, "label")
          .agg(coalesce(sum(col("csz")), lit(0L)).as("scanned_codes"))
        // score ONCE per nprobe (probe + DPP scan + ADC are identical
        // across coarse widths; LAZY checkpoint — it materializes
        // inside the one final job, so the three nprobe arms still
        // run concurrently; an eager pin here serialized them, the
        // same synchronization-point trap as the CMS guard), then
        // cut/rescore the same frame at each coarse setting
        val scored = Similarity.ivfPqScoredCandidates(cent, byLabel,
          codesLab, qs, "vec_id", "embedding", m = 4, dim = 64,
          nprobe = nprobe).localCheckpoint(false)
        Seq(10, 20, 40).map { coarse =>
          val approx = Similarity.coarseRescore(scored, qs, "vec_id",
            "embedding", store, k = 3, coarse = coarse)
          exact.join(approx.select(col("qid"), col("cid")),
              Seq("qid", "cid"), "left_semi")
            .agg(count(lit(1)).as("total_matches"))
            .crossJoin(nq).crossJoin(scanned)
            .select(lit(nprobe.toLong).as("nprobe"),
              lit(coarse.toLong).as("coarse"),
              col("n_queries"), col("total_matches"),
              (col("total_matches").cast("double") /
                (lit(3.0) * col("n_queries"))).as("recall"),
              col("scanned_codes"))
        }.reduce(_.unionByName(_))
      }
      // the KNEE-PICK makes the grid directly actionable: `chosen`
      // marks the cheapest cell (min scanned codes, ties to smaller
      // nprobe/coarse) whose recall is within 10% of the grid's best
      // — the (nprobe, coarse) a deployment should serve with. The
      // qualification is EXACT integer arithmetic (matches*10 >=
      // 9*max_matches — every cell shares n_queries, so the recall
      // ratio reduces to match counts) and the argmin is a packed
      // long key, so the oracle replays it bit-exactly; the global
      // window folds 9 rows (tiny by construction).
      val grid = Seq(1, 2, 4).map(cells).reduce(_.unionByName(_))
      val w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val key = col("scanned_codes") * lit(1000000L) +
        col("nprobe") * lit(1000L) + col("coarse")
      grid
        .withColumn("__mm", max(col("total_matches")).over(w))
        .withColumn("__kmin", min(when(
          col("total_matches") * lit(10L) >= col("__mm") * lit(9L), key)).over(w))
        .withColumn("chosen",
          col("total_matches") * lit(10L) >= col("__mm") * lit(9L) &&
            key === col("__kmin"))
        .select(col("nprobe"), col("coarse"), col("n_queries"),
          col("total_matches"), col("recall"), col("scanned_codes"),
          col("chosen"))
        .orderBy(col("nprobe"), col("coarse"))
    }),

    "llm_dedup_embedding" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = EmbDedupThreshold)
        .orderBy(col("a"), col("b"))),

    // End-to-end embedding dedup: cosine near-dup pairs -> connected
    // components -> keep the cluster-min vector (same composition as
    // llm_dedup_keep_one on the text path)
    "llm_dedup_embedding_keep" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = EmbDedupThreshold)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      Dedup.keepOnePerCluster(emb.select(col("vec_id")), "vec_id", comp)
        .orderBy(col("vec_id"))
    }),

    // SemDeDup (Abbas et al. 2023): near-dup pairs found within
    // k-means cells instead of LSH buckets — data-driven partitioning
    // of the embedding space. Same exact-integer cosine and zero-norm
    // guard as llm_dedup_embedding; the oracle replays the 2-iteration
    // k-means (shared CTE with llm_kmeans_clusters) plus the capped
    // within-cell self-join.
    "llm_semdedup_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticNearDupPairsTrained(emb, "vec_id",
          "embedding", threshold = EmbDedupThreshold,
          cents = knnFamilyCents(s, dir),
          maxCluster = SemMaxCluster)
        .orderBy(col("a"), col("b"))
    }),

    // End-to-end SemDeDup: pairs -> connected components -> keep the
    // cluster-min id (same representative rule as the text and LSH
    // embedding paths).
    "llm_semdedup_keep" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticDedupTrained(emb, "vec_id",
          "embedding", threshold = EmbDedupThreshold,
          cents = knnFamilyCents(s, dir),
          maxCluster = SemMaxCluster)
        .orderBy(col("vec_id"))
    }),

    // Bulk kNN-graph construction: every vector's top-3 cosine
    // neighbors within its k-means cell — the SemDeDup bucketing
    // applied to the similarity-JOIN problem (the neighborhood graph
    // diversity sampling / graph curation consume). Directed edges,
    // no threshold: sparse neighborhoods still get their k best.
    "llm_knn_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnGraphTrained(emb, "vec_id", "embedding",
          k = 3, cents = knnFamilyCents(s, dir),
          maxCluster = SemMaxCluster)
        .orderBy(col("a"), col("rank"))
    }),

    // The graph's recall ledger (the ann-recall principle applied to
    // the similarity join): in-cell top-3 vs the EXACT top-3 over the
    // whole corpus for a bounded eval subset — prices what the cell
    // boundary loses. The exact side is linear in the corpus (eval
    // rows broadcast), never all-pairs.
    "llm_knn_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cell = Similarity.knnGraphTrained(emb, "vec_id", "embedding", k = 3,
          cents = knnFamilyCents(s, dir),
          maxCluster = SemMaxCluster)
        .filter(col("a") < 150L)
      val exact = Similarity.knnGraphExact(emb, col("vid") < 150L,
        "vec_id", "embedding", k = 3)
      val matches = cell.select(col("a"), col("b"))
        .join(exact.select(col("a"), col("b")), Seq("a", "b"))
        .agg(count(lit(1)).as("total_matches"))
      exact.agg(countDistinct(col("a")).as("n_eval")).crossJoin(matches)
        .select(col("n_eval"), col("total_matches"),
          (col("total_matches").cast("double") /
            (lit(3.0) * col("n_eval"))).as("recall"))
    }),

    // Label propagation over the kNN graph (Zhu & Ghahramani 2002):
    // semi-supervised quality bootstrapping — a seeded subset carries
    // known scores (here: label 0 => 10^6 micro, label 1 => 0 among
    // vec_id < 100), every other vector iteratively takes the cosine-
    // weighted integer mean of its neighbors', seeds clamped, 2
    // unrolled rounds. The curation move that turns a few thousand
    // human-rated documents into a corpus-wide quality signal.
    "llm_graph_labelprop" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val graph = Similarity.knnGraphTrained(emb, "vec_id", "embedding",
        k = 3, cents = knnFamilyCents(s, dir),
        maxCluster = SemMaxCluster)
      val seeds = emb.filter(col("vec_id") < 100 && col("label").isin(0L, 1L))
        .select(col("vec_id"),
          when(col("label") === 0L, lit(1000000L)).otherwise(lit(0L)).as("q"))
      Similarity.knnLabelPropagation(graph, seeds, "vec_id", "q", iters = 2)
        .orderBy(col("vid"))
    }),

    // The multi-probe dial applied to the other two products the
    // graph feeds (the r16 verdict's "lifts three at once"): label
    // propagation over the probe-2 graph — boundary vectors now
    // receive scores from their true neighbors across the cell edge...
    "llm_graph_labelprop_probe2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the probe-2 graph comes from the SHARED family store
      // (knnFamilyStore): append == full rebuild bit-for-bit on
      // frozen full-corpus cells, so the store's edges ARE the
      // from-scratch probe-2 graph this query propagated over before
      // (the oracle replays the full build + propagation from raw
      // parquet and is unchanged)
      val (_, graph, _) =
        Similarity.readKnnGraphStore(s, knnFamilyStore(s, dir))
      val seeds = emb.filter(col("vec_id") < 100 && col("label").isin(0L, 1L))
        .select(col("vec_id"),
          when(col("label") === 0L, lit(1000000L)).otherwise(lit(0L)).as("q"))
      Similarity.knnLabelPropagation(graph, seeds, "vec_id", "q", iters = 2)
        .orderBy(col("vid"))
    }),

    // ...and SemDeDup pair search in each vector's 2 nearest cells —
    // near-duplicates split across a cell boundary (invisible at
    // nprobe=1) now pair. Undirected a<b pairs, deduped across shared
    // cells, same threshold as llm_semdedup_pairs.
    "llm_semdedup_pairs_probe2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticNearDupPairsTrained(emb, "vec_id",
          "embedding", threshold = EmbDedupThreshold,
          cents = knnFamilyCents(s, dir),
          maxCluster = SemMaxCluster, nprobe = 2)
        .orderBy(col("a"), col("b"))
    }),

    // Multi-probe kNN graph: each vector searched in its 2 nearest
    // cells (kmeansClustersProbe) — the IVF nprobe recall dial applied
    // to the similarity-join side; a boundary vector stops missing the
    // neighbors that sit just across its cell edge. Candidate pairs
    // that meet in both shared cells dedup to one edge.
    "llm_knn_graph_probe2" -> ((s, dir) => {
      // the SHARED family store's edges ARE the from-scratch probe-2
      // graph (append == full rebuild bit-for-bit on frozen
      // full-corpus cells — the contract llm_knn_graph_store's shared
      // oracle already holds): read them instead of re-running Lloyd
      // + the multi-probe self-join a third time in the suite (the
      // r20 verdict's family-store pattern, ask #4). The oracle
      // replays the full multi-probe build from raw parquet.
      val (_, edges, _) =
        Similarity.readKnnGraphStore(s, knnFamilyStore(s, dir))
      edges.select(col("a"), col("b"), col("rank"), col("cosine"))
        .orderBy(col("a"), col("rank"))
    }),

    // The graph as a persisted STORE with an incremental append —
    // ONE store per sf dir, shared by this query and the audit below
    // (knnFamilyStore): built at the PRODUCTION cadence — build-most
    // (90%), append-small-delta (10%), compact — instead of the
    // 50/50 merge the family used to re-persist per query (16.6 s,
    // 6.3% of the r19 bench, pricing the rebuild path instead of the
    // production path; the 50%-merge coverage lives in
    // StoreConcurrencySpec where it doesn't bill the bench). New
    // vectors pair against (new ∪ old) probed-cell members only; old
    // vectors' stored top-k merge the new candidates. Append == full
    // rebuild bit-for-bit, so the lifecycle shares the probe-2 graph
    // oracle.
    "llm_knn_graph_store" -> ((s, dir) => {
      val (_, edges, _) = Similarity.readKnnGraphStore(s, knnFamilyStore(s, dir))
      edges.select(col("a"), col("b"), col("rank"), col("cosine"))
        .orderBy(col("a"), col("rank"))
    }),

    // The graph store's maintenance ledger (the k11 file-audit
    // convention): partition/file/row counts + residue dirs per
    // store, on the SHARED family store (post-append, post-compact) —
    // one file per cell/home (the build writes one file per dir, the
    // append's edge rewrite repartitions per home, and the compaction
    // folds the append's staged vector files), zero residue. The
    // oracle derives every row count from the probe-assignment CTEs
    // (vectors = probe rows, edges = the in-cell top-3 graph) and
    // every file count from the one-file-per-dir write contract.
    // Compaction-debt detection (n_files > n_parts after appends) is
    // spec'd in StoreConcurrencySpec.
    "llm_knn_store_audit" -> ((s, dir) => {
      Similarity.knnGraphStoreAudit(s, knnFamilyStore(s, dir))
        .orderBy(col("store"))
    }),

    // BOTH sides of the multi-probe dial in one ledger (the grid
    // principle): per nprobe ∈ {1, 2}, recall vs the exact graph on
    // the bounded eval subset AND the corpus-wide candidate-pair
    // volume the cell join evaluated — the cost that buys the recall.
    // The exact side is computed ONCE (localCheckpoint) and shared.
    "llm_knn_recall_probes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.knnGraphExact(emb, col("vid") < 150L,
          "vec_id", "embedding", k = 3)
        .select(col("a"), col("b")).localCheckpoint(false)
      val nEval = exact.select(countDistinct(col("a")).as("n_eval"))
      // ONE Lloyd training shared by both probe widths AND the whole
      // graph family (knnFamilyCents — the ledger compares assignment
      // widths over the SAME trained cells)
      val cents = knnFamilyCents(s, dir)
      Seq(1, 2).map { np =>
        // decide with metadata, score only what gets ranked (guide
        // §2.3): the capped assignment frame materializes ONCE per
        // width; the candidate VOLUME is a pure count over (vid,
        // cluster) metadata — identical to counting the scored pair
        // frame, since the zero-norm guard is per-endpoint and the
        // nprobe=2 dedup key (a, b, cosine) is functional in (a, b) —
        // and cosines are computed only for the eval slice the graph
        // actually ranks (a < 150), not for every candidate pair.
        val cells = Similarity.cappedCells(
          emb.select(col("vec_id").as("vid"),
            Similarity.quantize(col("embedding")).as("eq")),
          cents, SemMaxCluster, np)
        // the zero-norm guard per endpoint, as the pair scorer applies it
        val nz = cells.filter(Similarity.dotQ(col("eq"), col("eq")) > 0)
        val vol =
          if (np == 1)
            nz.groupBy(col("cluster")).agg(count(lit(1)).as("__m"))
              .agg(coalesce(sum(col("__m") * (col("__m") - 1)), lit(0L))
                .as("n_pairs"))
          else
            nz.select(col("cluster"), col("vid").as("a"))
              .join(nz.select(col("cluster"), col("vid").as("b")),
                Seq("cluster"))
              .filter(col("a") =!= col("b"))
              .select(col("a"), col("b")).distinct()
              .agg(count(lit(1)).as("n_pairs"))
        val scored0 = Similarity.cosinePairs(cells.filter(col("vid") < 150L),
          cells, col("x.cluster") === col("y.cluster") && col("x.vid") =!= col("y.vid"))
        // nprobe=2: a pair meeting in both shared cells dedups, same
        // key as cellPairsTrained's distinct
        val scored = if (np == 1) scored0 else scored0.distinct()
        val graph = Similarity.knnTopK(scored, 3)
        val matches = graph.select(col("a"), col("b"))
          .join(exact, Seq("a", "b"))
          .agg(count(lit(1)).as("total_matches"))
        nEval.crossJoin(matches).crossJoin(vol)
          .select(lit(np.toLong).as("nprobe"), col("n_eval"),
            col("total_matches"),
            (col("total_matches").cast("double") /
              (lit(3.0) * col("n_eval"))).as("recall"),
            col("n_pairs"))
      }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
    }),

    // Image near-dup over REAL pixels: deterministic synthetic images
    // (3 variants per group: PNG, BMP re-encode, 2x-resolution render —
    // this container has no image corpus) -> real JDK decode -> dHash
    // -> 8x8-bit banded pair search -> exact Hamming verify. The
    // oracle states the ground truth BY CONSTRUCTION (variants of one
    // group must pair, nothing else may): DuckDB cannot decode pixels,
    // but the pair set it predicts is exact, so the whole
    // decode->hash->band->verify chain is value-checked.
    "llm_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 90).as[Long]
      val imgs = ids.mapPartitions(_.map { id =>
        val gid = id / 3
        val bytes = (id % 3) match {
          case 0 => Multimodal.syntheticImage(gid, 64, 64, "png")
          case 1 => Multimodal.syntheticImage(gid, 64, 64, "bmp")
          case _ => Multimodal.syntheticImage(gid, 128, 128, "png")
        }
        (id, bytes)
      }).toDF("doc_id", "content")
      Dedup.imageNearDupPairs(
          Multimodal.dHashes(s, imgs, "doc_id", "content"), "doc_id")
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))
    }),

    // Audio near-dup over REAL PCM decode: deterministic synthetic
    // WAVs (3 variants per group: original, half-volume re-master,
    // ±1 LSB dithered) -> javax.sound decode -> amplitude-invariant
    // energy-envelope fingerprint -> banded Hamming pair search. Same
    // construction-ground-truth oracle contract as llm_image_neardup.
    "llm_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 90).as[Long]
      val wavs = ids.mapPartitions(_.map { id =>
        val gid = id / 3
        val bytes = (id % 3) match {
          case 0 => Multimodal.syntheticWav(gid)
          case 1 => Multimodal.syntheticWav(gid, ampDiv = 2)
          case _ => Multimodal.syntheticWav(gid, dither = true)
        }
        (id, bytes)
      }).toDF("doc_id", "content")
      Dedup.audioNearDupPairs(
          Multimodal.audioFingerprints(s, wavs, "doc_id", "content"), "doc_id")
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))
    }),

    // The media dedup quality ledger (llm_dedup_eval's method applied
    // to the image and audio banded paths): exact construction truth
    // (the 3 variants of each fixture group must pair, nothing else
    // may) vs what each decode->fingerprint->band->verify chain FINDS,
    // as measured per-mille recall/precision rows. The oracle computes
    // the same counts from the construction — a banded miss (recall)
    // or a cross-group false pair (precision) lands as a value
    // mismatch, not just a failed eyeball.
    "llm_media_dedup_eval" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 90).as[Long]
      val idf = ids.toDF("doc_id").withColumn("g", expr("doc_id div 3"))
      val truth = idf.as("x").join(idf.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      val imgs = ids.mapPartitions(_.map { id =>
        val gid = id / 3
        val bytes = (id % 3) match {
          case 0 => Multimodal.syntheticImage(gid, 64, 64, "png")
          case 1 => Multimodal.syntheticImage(gid, 64, 64, "bmp")
          case _ => Multimodal.syntheticImage(gid, 128, 128, "png")
        }
        (id, bytes)
      }).toDF("doc_id", "content")
      val wavs = ids.mapPartitions(_.map { id =>
        val gid = id / 3
        val bytes = (id % 3) match {
          case 0 => Multimodal.syntheticWav(gid)
          case 1 => Multimodal.syntheticWav(gid, ampDiv = 2)
          case _ => Multimodal.syntheticWav(gid, dither = true)
        }
        (id, bytes)
      }).toDF("doc_id", "content")
      def ledger(found: DataFrame, method: String) = {
        val matched = truth.join(found, Seq("a", "b"), "left_semi")
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(found.agg(count(lit(1)).as("n_found")))
          .crossJoin(matched.agg(count(lit(1)).as("n_matched")))
          .select(lit(method).as("method"), col("n_truth"), col("n_found"),
            col("n_matched"),
            expr("n_matched * 1000 div n_truth").as("recall_pm"),
            expr("n_matched * 1000 div n_found").as("precision_pm"))
      }
      val imgFound = Dedup.imageNearDupPairs(
        Multimodal.dHashes(s, imgs, "doc_id", "content"), "doc_id")
        .select(col("a"), col("b"))
      val audFound = Dedup.audioNearDupPairs(
        Multimodal.audioFingerprints(s, wavs, "doc_id", "content"), "doc_id")
        .select(col("a"), col("b"))
      ledger(audFound, "audio_energy")
        .unionByName(ledger(imgFound, "image_dhash"))
        .orderBy(col("method"))
    }),

    "llm_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        blockExpr = concat(col("lang"), lit("_"), expr("n_chars div 25").cast("string")),
        n = 2, threshold = 0.15)
        .orderBy(col("a"), col("b"))),

    // Tight-cap twins: same pipelines with caps chosen so real
    // harness-scale buckets/blocks straddle them (some survive, some
    // are dropped), so the drop-degenerate semantics (count-window then
    // filter) are exercised non-trivially by the oracle compare — at
    // the default 1000 the caps never fire at sf0.01 and a Spark/DuckDB
    // divergence would go undetected. At sf0.01: LSH cap 2 keeps 23 of
    // 25 pairs; ngram cap 10 keeps 3 of 4.
    "llm_dedup_lsh_tightcap" -> ((s, dir) =>
      Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir), "doc_id",
        threshold = 0.5, maxBucket = 2)
        .orderBy(col("a"), col("b"))),

    "llm_ngram_jaccard_tightcap" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        blockExpr = concat(col("lang"), lit("_"), expr("n_chars div 25").cast("string")),
        n = 2, threshold = 0.15, maxBlock = 10)
        .orderBy(col("a"), col("b"))),

    // Stratified (per-language quota) sampling — the curation move that
    // balances a corpus: keep at most N docs per language, chosen by a
    // deterministic md5 order so reruns and incremental builds agree
    // (same rationale as llm_consistent_sample). rank <= k compiles to
    // WindowGroupLimit: each map task forwards at most k rows per lang
    // BEFORE the exchange, so the shuffle carries ~k×|langs| rows at
    // any corpus size.
    "llm_stratified_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .transform(graft.ops.Ops.stratifiedSample(Seq("lang"), "doc_id", 20))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Temperature-upsampling factors for multilingual balance: the
    // alpha = 0.5 recipe's per-language weight, sqrt(N / n_lang) —
    // low-resource languages get proportionally larger repetition
    // factors. alpha is fixed at 0.5 deliberately: sqrt is correctly
    // rounded (IEEE), so the result is bit-identical in any engine,
    // where pow(x, alpha) is only faithfully rounded and could diverge
    // from the oracle in the last ulp.
    "llm_lang_upsample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .crossJoin(docs.agg(count(lit(1)).as("__N")))
        .select(col("lang"), col("n_docs"),
          sqrt(col("__N").cast("double") / col("n_docs").cast("double"))
            .as("upsample_factor"))
        .orderBy(col("lang"))
    }),

    // ANN quality measurement: recall@3 of the LSH-bucketed search
    // against exact top-3 on the same query/candidate split. The
    // approximation is only as good as its measured recall — this
    // keeps the metric in the engine, not in a notebook.
    "llm_ann_recall" -> ((s, dir) => {
      val planes = Similarity.planeDirs(8, 64)
      val eq = t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("eq"))
      val q = eq.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("eq").as("qe"),
          Similarity.lshBucket(col("eq"), planes).as("bucket"))
      val c = eq.filter(col("vec_id") >= 100)
        .select(col("vec_id").as("cid"), col("eq").as("ce"),
          Similarity.lshBucket(col("eq"), planes).as("bucket"))
      val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
      def top3(df: DataFrame) = df
        .withColumn("dot", graft.expr.kernels.NativeFns.longDot(col("qe"), col("ce")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("qid"), col("cid"))
      val exact = top3(c.drop("bucket").crossJoin(broadcast(q.drop("bucket"))))
      val single = top3(q.join(c, "bucket"))
      // multi-probe: also search every Hamming-1 bucket (explode probes
      // then equi-join — the scale path, not a fuzzy join predicate)
      val multi = top3(q
        .withColumn("probe", explode(Similarity.probeBuckets(col("bucket"), 8)))
        .drop("bucket")
        .join(c.withColumnRenamed("bucket", "probe"), "probe"))
      def recallOf(approx: DataFrame, method: String) =
        exact.join(approx, Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as("total_matches"))
          .crossJoin(q.agg(count(lit(1)).as("n_queries")))
          .select(lit(method).as("method"), col("n_queries"), col("total_matches"),
            (col("total_matches").cast("double") / (lit(3.0) * col("n_queries")))
              .as("recall"))
      recallOf(single, "single_probe")
        .unionByName(recallOf(multi, "multi_probe_1"))
        .orderBy(col("method"))
    }),

    // Duplicate clusters: connected components over the MinHash+LSH
    // near-dup pairs. The oracle computes the EXACT closure, so the
    // iteration count must exceed any component's diameter — near-dup
    // components are quasi-cliques (threshold-chaining paths stay
    // short), and 8 rounds leaves real margin where 4 would gamble.
    // Output = doc -> cluster-min-id; keep-one-per-cluster is then
    // `filter(node === label)`.
    "llm_dedup_components" -> ((s, dir) => {
      val pairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5)
      graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
        .withColumnRenamed("node", "doc_id").withColumnRenamed("label", "component")
        .orderBy(col("doc_id"))
    }),

    // Corpus mixture balancing: water-fill a 26k-token budget across
    // the 20 sources — at sf0.01 four sources sit under the running
    // fair share (kept whole, rate 1000‰) and the rest cap at the
    // water level, so BOTH allocation arms are oracle-checked.
    "llm_domain_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
      Curate.mixCorpus(d, "source", "tokens", "doc_id", budgetTokens = 26000L)
        .groupBy(col("source"), col("rate_pm"))
        .agg(count(lit(1)).as("n_kept"), sum(col("tokens")).as("kept_tokens"))
        .orderBy(col("source"))
    }),

    // Domain provenance + blocklist curation. The fixture text carries
    // no URLs, so the query injects a deterministic link per doc
    // (source-derived host, doc_id-derived path) — same convention as
    // llm_substring_dedup's injected self-repeats: the operator under
    // test is the extraction/filter, not the corpus.
    "llm_domain_counts" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" see https://"), col("source"),
        lit(".example"), (col("doc_id") % 3).cast("string"),
        lit(".com/page/"), col("doc_id").cast("string"))
      Text.domainCounts(
          t(s, dir, "documents").withColumn("text", aug), "doc_id", "text")
        .orderBy(col("host"))
    }),

    "llm_domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      val aug = concat(col("text"), lit(" see https://"), col("source"),
        lit(".example"), (col("doc_id") % 3).cast("string"),
        lit(".com/page/"), col("doc_id").cast("string"))
      val blocked = Seq("src3.example0.com", "src7.example1.com",
        "src12.example2.com").toDF("host")
      Text.dropByDomainBlocklist(
          t(s, dir, "documents").withColumn("text", aug),
          "doc_id", "text", blocked)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // END-TO-END curation chain — the composition proof: quality gate
    // (>= 20 words) -> near-dup keep-one over the survivors ->
    // per-source cap 15 -> temperature mix to a 12k-token budget. One
    // oracle replays the whole chain, so the operators are shown to
    // compose, not just to work in isolation.
    "llm_e2e_curate" -> ((s, dir) => {
      val q = t(s, dir, "documents")
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
        .filter(col("tokens") >= 21)
      // signatures are a pure per-row transform, so the gate's
      // signature frame == the shared corpus frame semi-joined to the
      // surviving ids (no per-query re-signaturing)
      val pairs = Dedup.minHashLshPairsFrom(
        dedupFamilySignatures(s, dir)
          .join(q.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        "doc_id", threshold = 0.5)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      val kept = Dedup.keepOnePerCluster(
        q.select("doc_id", "source", "tokens"), "doc_id", comp)
      val capped = Curate.capPerGroup(kept, "source", "doc_id", cap = 15)
      Curate.temperatureMix(capped, "source", "tokens", "doc_id",
          budgetTokens = 12000L)
        .groupBy(col("source"), col("rate_pm"))
        .agg(count(lit(1)).as("n_kept"), sum(col("tokens")).as("kept_tokens"))
        .orderBy(col("source"))
    }),

    // Per-source token profile: integer sums only (token counts are
    // exact longs), so every engine agrees bit-for-bit; the one
    // partial+final aggregation any per-group report costs.
    "llm_source_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          min(col("tokens")).as("min_t"),
          max(col("tokens")).as("max_t"),
          sum(col("tokens")).as("sum_t"),
          sum(col("tokens") * col("tokens")).as("sum_sq"))
        .select(col("source"), col("n_docs"), col("min_t"), col("max_t"),
          col("sum_t"),
          (col("sum_t").cast("double") / col("n_docs")).as("mean_t"),
          // doubles from the exact integer sums; sum_t is cast BEFORE
          // squaring so a petascale sum cannot overflow the long
          sqrt(greatest(lit(0.0),
            (col("sum_sq").cast("double") -
              col("sum_t").cast("double") * col("sum_t").cast("double") /
                col("n_docs").cast("double"))
              / (col("n_docs") - 1).cast("double"))).as("std_t"))
        .orderBy(col("source"))),

    // Per-source cap: at most 7 docs per source by the salted-hash
    // lottery — the per-domain ceiling; WindowGroupLimit partial runs
    // map-side before the exchange.
    "llm_cap_per_source" -> ((s, dir) =>
      Curate.capPerGroup(t(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", cap = 7)
        .orderBy(col("doc_id"))),

    // Temperature mixture (alpha = 0.5): budget share per source
    // ∝ sqrt(total tokens) — exact-integer weights (isqrt + BigInt),
    // so the per-mille rates replay exactly in the oracle. Both arms
    // exercised at this budget: small sources cap at their own size
    // (rate 1000), large ones land fractional rates.
    "llm_temperature_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
      Curate.temperatureMix(d, "source", "tokens", "doc_id",
        budgetTokens = 26000L, alpha = 0.5)
        .groupBy(col("source"), col("rate_pm"))
        .agg(count(lit(1)).as("n_kept"), sum(col("tokens")).as("kept_tokens"))
        .orderBy(col("source"))
    }),

    // Exact substring dedup (window-granular span removal): every
    // 20-token window content keeps only its first corpus-wide
    // occurrence; other occurrences' spans are cut from their docs.
    // Self-repeats are injected (doc_id % 7 == 2 doubled) so same-doc
    // removal fires alongside the corpus's natural cross-doc dups.
    "llm_substring_dedup" -> ((s, dir) => {
      val aug = when(col("doc_id") % 7 === 2,
        concat_ws(" ", col("text"), col("text"))).otherwise(col("text"))
      Dedup.dropDuplicateSpans(
          t(s, dir, "documents").withColumn("text", aug), "doc_id", "text",
          windowTokens = 20)
        .orderBy(col("doc_id"))
    }),

    // Quality-aware mixing, composed: best 2000 tokens per source
    // (per-source token-budget selection), then water-fill the
    // survivors to an 8000-token budget — the two-stage curation recipe
    // (quality-rank within source, then balance across sources).
    "llm_budget_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("score", expr("n_chars div 64"))
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
      Curate.budgetThenMix(d.select(col("doc_id"), col("source"), col("score"),
          col("tokens")), "source", "score", "tokens", "doc_id",
          perSourceBudget = 2000L, totalBudget = 8000L)
        .groupBy(col("source"), col("rate_pm"))
        .agg(count(lit(1)).as("n_kept"), sum(col("tokens")).as("kept_tokens"))
        .orderBy(col("source"))
    }),

    // Incremental dedup: the doc_id % 10 == 9 slice plays the "new
    // batch"; the rest is the standing corpus contributing only its
    // precomputed band index (no re-signaturing). Must equal the full
    // recomputation's pairs that touch the new batch — the oracle IS
    // that full recomputation, filtered.
    "llm_dedup_incremental" -> ((s, dir) => {
      val isNew = col("doc_id") % 10 === 9
      // the shared frame is per-row, so filtering it by the batch
      // split IS signatures(batch) / signatures(corpus); the corpus
      // band index derives from the corpus half the same way
      val sigs = dedupFamilySignatures(s, dir)
      val idx = Dedup.bandIndexFrom(sigs.filter(!isNew), "doc_id")
      Dedup.incrementalNearDupPairsFrom(sigs.filter(isNew),
          candIds => sigs.filter(!isNew)
            .join(candIds, Seq("doc_id"), "left_semi"),
          idx, "doc_id", threshold = 0.5)
        .orderBy(col("a"), col("b"))
    }),

    // Leakage-free split: near-dup clusters are split atomically by a
    // hash of the CLUSTER label, so no validation doc has a training
    // near-duplicate. Same pairs + components pipeline as
    // llm_dedup_components; the split itself is one left join + a pure
    // hash projection.
    "llm_leakfree_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      Curate.leakFreeSplit(docs.select("doc_id"), comp, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Cluster-atomic 5-fold assignment (cross-validation form of the
    // leak-free split): near-dup clusters land whole in one fold.
    "llm_leakfree_folds" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      Curate.leakFreeFolds(docs.select("doc_id"), comp, "doc_id", k = 5)
        .orderBy(col("doc_id"))
    }),

    // End-to-end corpus dedup: the doc ids that survive near-dup
    // clustering — every doc except non-representative cluster members
    "llm_dedup_keep_one" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      Dedup.keepOnePerCluster(docs.select("doc_id"), "doc_id", comp)
        .orderBy(col("doc_id"))
    }),

    // Multi-signal ensemble dedup: the MinHash-LSH text pairs and the
    // embedding-cosine pairs (doc_id ≡ vec_id) merge into ONE
    // duplicate graph — a near-dup caught by EITHER signal collapses
    // its cluster.
    "llm_dedup_multisignal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val textPairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5).select(col("a"), col("b"))
      val embPairs = Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", EmbDedupThreshold).select(col("a"), col("b"))
      Dedup.multiSignalKeepOne(docs.select(col("doc_id")), "doc_id",
          Seq(textPairs, embPairs))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: flag corpus docs sharing >= 3 distinct
    // 3-gram shingle hashes with the benchmark set (doc_id < 10 stands
    // in for the held-out suite). The join is an equi-join on the
    // shingle hash — shuffle linear in total shingles, never pairwise.
    "llm_decontaminate" -> ((s, dir) => {
      val hs = t(s, dir, "documents")
        .withColumn("w", Text.words(col("text")))
        .filter(size(col("w")) >= 3)
        .withColumn("sh", Text.shingles(col("w")))
        .withColumn("h", explode(array_distinct(transform(col("sh"), x => Text.md5Hash(x)))))
        .select(col("doc_id"), col("h"))
      val bench = hs.filter(col("doc_id") < 10).select(col("h")).distinct()
      // (doc_id, h) pairs are already unique — hashes are
      // array_distinct'd per doc before the explode and bench is
      // distinct — so a plain count equals count(DISTINCT h) without
      // the extra dedup pass inside the aggregation.
      hs.filter(col("doc_id") >= 10)
        .join(bench, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap") >= 3)
        .orderBy(col("doc_id"))
    }),

    // The audit direction of decontamination: per BENCH item, what
    // fraction (exact integer per-mille) of its distinct shingles the
    // training corpus contains — "which eval items are compromised".
    "llm_contamination_report" -> ((s, dir) => {
      val hs = t(s, dir, "documents")
        .withColumn("w", Text.words(col("text")))
        .filter(size(col("w")) >= 3)
        .withColumn("sh", Text.shingles(col("w")))
        .withColumn("h", explode(array_distinct(transform(col("sh"), x => Text.md5Hash(x)))))
        .select(col("doc_id"), col("h"))
      Curate.contaminationReport(
          hs.filter(col("doc_id") < 10), hs.filter(col("doc_id") >= 10), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Same decontamination through the two-phase scale path: a Bloom
    // filter of the benchmark hashes prunes the corpus shingle stream
    // map-side (scalar-subquery might_contain — no exchange reaches
    // dropped rows), then the exact equi-join on the survivors removes
    // the Bloom false positives. Output — and oracle — identical to
    // llm_decontaminate; only the plan differs.
    "llm_decontaminate_bloom" -> ((s, dir) => {
      val hs = t(s, dir, "documents")
        .withColumn("w", Text.words(col("text")))
        .filter(size(col("w")) >= 3)
        .withColumn("sh", Text.shingles(col("w")))
        .withColumn("h", explode(array_distinct(transform(col("sh"), x => Text.md5Hash(x)))))
        .select(col("doc_id"), col("h"))
      val bench = hs.filter(col("doc_id") < 10).select(col("h")).distinct()
      Curate.bloomSemiFilter(hs.filter(col("doc_id") >= 10), col("h"),
          bench, "h", estItems = 200000L, fpp = 0.01)
        .join(bench, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap") >= 3)
        .orderBy(col("doc_id"))
    }),

    // Consistent (hash-based) sampling: the keep/drop decision is a
    // pure function of the key, so reruns, retries and incremental
    // loads agree on the sample — unlike rand()-based sampling.
    "llm_consistent_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(Text.md5Hash(concat(lit("sample:"), col("doc_id").cast("string"))) % 100 < 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))),

    // Sequence packing (GPT-style concat-and-chunk): hash-shuffled
    // order within shards, token stream cut into 512-token windows;
    // each doc reports the window range it lands in. Window PARTITION
    // BY shard — packing parallelism scales with the shard count.
    // The WINDOW-side packing view — the sample-mask metadata a
    // trainer consumes: one row per (shard, pack, document SEGMENT)
    // with the segment's offset and length inside its context window
    // (a straddling document contributes one segment per window).
    // Pure integer interval arithmetic off the packer's own cumulative
    // sums, so the two views can never disagree; per (shard, pack) the
    // segments tile [0, budget) exactly (spec'd invariant).
    "llm_pack_boundaries" -> ((s, dir) =>
      Curate.packBoundaries(t(s, dir, "documents").select(col("doc_id"),
          coalesce(Text.wsTokenCount(col("text")), lit(0L)).as("__toks")),
        "doc_id", "__toks", budget = 512, shards = 8)
        .orderBy(col("shard"), col("pack_id"), col("seg_start"), col("doc_id"))),

    "llm_pack_sequences" -> ((s, dir) =>
      Curate.packSequences(t(s, dir, "documents")).orderBy(col("doc_id"))),

    // Packing utilization report — the fill metric trainers watch:
    // per shard, pack count, straddling docs, and total tokens vs
    // window capacity in exact integer per-mille. Derived entirely
    // from the packSequences frame (last window cut by ceil division).
    "llm_pack_stats" -> ((s, dir) => {
      val p = Curate.packSequences(t(s, dir, "documents"))
      p.groupBy(col("shard")).agg(
          (max(col("pack_last")) + lit(1L)).as("n_packs"),
          count(lit(1)).as("n_docs"),
          sum((col("pack_first") =!= col("pack_last")).cast("long")).as("n_straddlers"),
          sum(col("tokens")).as("tokens"))
        .withColumn("fill_pm", expr("tokens * 1000 div (n_packs * 512)"))
        .orderBy(col("shard"))
    }),

    // Importance-weighted Bernoulli sampling (length-proportional
    // here): keep-probability = min(1, n_chars/1000), decided by a
    // pure key hash. kept_permille (an exact integer sum of the
    // per-row keep probabilities) oracle-checks the weight column's
    // numerators without a float sum; the 1/p weights themselves are
    // row-wise-asserted in CurateSpec.
    "llm_importance_sample" -> ((s, dir) =>
      Curate.importanceSample(t(s, dir, "documents"), "doc_id",
          least(lit(1000L), col("n_chars")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"),
          sum(least(lit(1000L), col("n_chars"))).as("kept_permille"))
        .orderBy(col("source"))),

    // Token-budget corpus selection: best-scores-first until 12k tokens
    // (~43% of the sf0.01 corpus — the boundary band is one of 9 fat
    // coarse-score tie groups, so the L2/L3 refinement levels are
    // exercised non-vacuously). Exact vs the oracle's global ordered
    // cumsum, but computed with broadcast prefix tables + one
    // bucket-sized window — no global sort anywhere.
    "llm_select_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("score", expr("n_chars div 64"))
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
      Curate.selectByTokenBudget(d, "doc_id", "score", "tokens", 12000L)
        .select(col("doc_id"), col("score"), col("tokens"))
        .orderBy(col("doc_id"))
    }),

    // Sliding-window chunking: 200-word chunks advancing by 150 (50
    // words of trailing overlap). Pure explode — map-side, chunk count
    // proportional to the document's own length. Fixture docs max out
    // at 99 words (always one chunk), so the multi-chunk arm is
    // injected: every doc_id % 9 == 3 is 6×-repeated (~540 words → 4
    // chunks), mirrored in the oracle.
    "llm_chunk_sliding" -> ((s, dir) => {
      val aug = when(col("doc_id") % 9 === 3,
        concat_ws(" ", col("text"), col("text"), col("text"),
          col("text"), col("text"), col("text"))).otherwise(col("text"))
      Curate.chunkSliding(t(s, dir, "documents").withColumn("text", aug))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // PII scrubbing — emails / IPv4 / long digit runs redacted and
    // counted. PII is injected deterministically (the corpus is
    // synthetic) so every pattern fires; patterns live in
    // Text.PiiPatterns and stay inside the Java∩RE2 regex subset.
    "llm_pii_scrub" -> ((s, dir) => {
      val aug = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@example.com or 5551234567 at 10.0.0.1 now")))
        .otherwise(col("text"))
      t(s, dir, "documents").withColumn("aug", aug)
        .select(col("doc_id"),
          Text.piiCounts(col("aug")).getField("n_email").as("n_email"),
          Text.piiCounts(col("aug")).getField("n_ip").as("n_ip"),
          Text.piiCounts(col("aug")).getField("n_digits").as("n_digits"),
          md5(Text.scrubPii(col("aug"))).as("scrubbed_hash"))
        .orderBy(col("doc_id"))
    }),

    // BM25 keyword relevance over the corpus — the retrieval scorer as
    // an engine surface. Corpus stats (N, total dl, per-term df) are
    // exact integers from one broadcast row; the float fold runs in
    // fixed term order, so DuckDB replays the identical IEEE sequence
    // (constants forced to DOUBLE in the oracle — DuckDB decimal
    // literals would otherwise pre-fold 1.2 + 1 exactly).
    "llm_bm25" -> ((s, dir) =>
      Text.bm25(t(s, dir, "documents"), "doc_id", "text", BmQueryTerms)
        .orderBy(col("doc_id"))),

    // Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    // top-50 and the embedding-cosine top-50 (query = vector 0, which
    // shares the documents' id space) fused by Text.rrfFuse — the
    // fused score is EXACT integer ppm (1e6 div (60 + rank)), so the
    // hybrid order replays in DuckDB bit-identically. Both rank lists
    // come off TakeOrdered top-ks; the unpartitioned rank windows run
    // over ≤50-row frames (bounded by construction, never the corpus).
    "llm_rrf_hybrid" -> ((s, dir) => {
      val lexW = Window.orderBy(col("bm25").desc, col("doc_id"))
      val lex = Text.bm25(t(s, dir, "documents"), "doc_id", "text", BmQueryTerms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(50)
        .withColumn("rank", row_number().over(lexW).cast("long"))
        .select(col("doc_id"), col("rank"))
      val eq = t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("eq"))
      val q = eq.filter(col("vec_id") === 0).select(col("eq").as("qe"))
      val semW = Window.orderBy(col("sim").desc, col("vec_id"))
      val sem = eq.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.dotQ(col("qe"), col("eq")).cast("double").as("__dot"),
          Similarity.dotQ(col("eq"), col("eq")).cast("double").as("__na"))
        .filter(col("__na") > 0)
        .select(col("vec_id"), (col("__dot") / sqrt(col("__na"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(50)
        .withColumn("rank", row_number().over(semW).cast("long"))
        .select(col("vec_id").as("doc_id"), col("rank"))
      Text.rrfFuse(Seq(lex, sem), "doc_id")
        .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(20)
    }),

    // DSIR-style hashed-unigram importance weights: target = the
    // src0 slice (the "quality seed"), source = the whole corpus.
    // Per-bucket micro-nat log-ratios, exact Long per-doc sums.
    "llm_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curate.dsirWeights(docs, docs.filter(col("source") === "src0"),
          "doc_id", "text", nBuckets = DsirBuckets)
        .orderBy(col("doc_id"))
    }),

    // Model-based quality filter (the fastText/DCLM recipe): a hashed-
    // feature logistic regression trained IN-ENGINE on a labeled seed
    // (doc_id < 250; y = membership in five target sources) with two
    // unrolled exact-replay gradient steps — weights/bias in micro
    // fixed point, ONE sigmoid quantization per doc per step, exact
    // Long gradient sums, truncating-division updates. Output: the
    // learned weight table (bias as bucket -1).
    "llm_quality_lr" -> ((s, dir) => {
      import s.implicits._
      val (w, bias) = trainQualityLrFixture(s, dir)
      ((-1L, bias) +: w).toDF("bucket", "w_micro").orderBy(col("bucket"))
    }),

    // ...and the corpus scored with it: per-doc exact-integer
    // score_micro = bias + sum(count_b * w_b) — the signal a
    // keep/drop gate or rank-normalized budget selection consumes.
    "llm_quality_lr_score" -> ((s, dir) => {
      val (w, bias) = trainQualityLrFixture(s, dir)
      Curate.qualityLrScore(t(s, dir, "documents"), "doc_id", "text",
          w, bias, nBuckets = 256)
        .orderBy(col("doc_id"))
    }),

    // fastText's word-bigram feature space (n-grams up to 2) with a
    // third gradient step — the generated N-step oracle replays every
    // weight: unigram + adjacent-pair features hash into the same 256
    // buckets, so only the extraction widens, not the algebra.
    "llm_quality_lr_bigram" -> ((s, dir) => {
      import s.implicits._
      val (w, bias) = Curate.qualityLrTrain(qualityLrSeed(s, dir),
        "doc_id", "text", "y", nBuckets = 256, steps = 3,
        lrPpm = 500000L, bigrams = true)
      ((-1L, bias) +: w).toDF("bucket", "w_micro").orderBy(col("bucket"))
    }),

    // Calibration of the trained filter on its own seed: per
    // score-rank decile, the observed positive-label rate — the
    // monotonicity check a model-based gate needs before its
    // threshold means anything. Integer per-mille end to end.
    "llm_quality_lr_calibration" -> ((s, dir) => {
      val labeled = qualityLrSeed(s, dir)
      val (w, bias) = trainQualityLrFixture(s, dir)
      Curate.qualityLrCalibration(labeled, "doc_id", "text", "y",
          w, bias, nBuckets = 256)
        .orderBy(col("decile"))
    }),

    // The full MODEL-BASED curation chain (the DCLM shape): train the
    // seed classifier -> score the corpus -> per-source rank
    // normalization (raw scores are not comparable across sources) ->
    // gate the top 40% of every source -> deterministic token-budget
    // selection over the survivors. Four operators composed; one
    // oracle replays every stage.
    "llm_e2e_model_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (w, bias) = trainQualityLrFixture(s, dir)
      val scored = Curate.qualityLrScore(docs, "doc_id", "text", w, bias,
          nBuckets = 256)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val ranked = Curate.rankNormalize(
        scored.select(col("doc_id"), col("source"), col("score_micro")),
        "source", "score_micro", "doc_id")
      // narrow to the four output columns and LAZY-pin before the
      // budget selection: selectByTokenBudget executes its input in
      // each refinement job (L1 agg, L2 band agg, final filter), which
      // re-ran the whole scoring+ranking+text-join pipeline ~4x per
      // query — the pin materializes the gated slice once inside L1
      val gated = ranked.filter(col("pm_rank") >= 600)
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .withColumn("tokens",
          coalesce(Text.wsTokenCount(col("text")), lit(0L)) + lit(1L))
        .select(col("doc_id"), col("pm_rank"), col("score_micro"),
          col("tokens"))
        .localCheckpoint(false)
      Curate.selectByTokenBudget(gated, "doc_id", "score_micro", "tokens",
          budget = 6000L)
        .select(col("doc_id"), col("pm_rank"), col("score_micro"),
          col("tokens"))
        .orderBy(col("doc_id"))
    }),

    // BPE training statistic: top-20 adjacent symbol pairs over the
    // initial character vocabulary (chars + </w>), weighted by word
    // frequency — the argmax stream the merge loop consumes. The
    // corpus collapses to the word-frequency table first; the pair
    // explode runs at vocab scale.
    "llm_bpe_pairs" -> ((s, dir) =>
      Bpe.pairCounts(Bpe.wordVocab(t(s, dir, "documents"), "text"))
        .orderBy(col("n").desc, col("pair")).limit(20)),

    // The tokenizer's PRODUCT: train BpeEncodeMerges greedy merges,
    // then emit the corpus's ordered token-id stream — one row per
    // (doc, word_pos, sym_pos) with the dense 1-based token id. The
    // oracle replays TRAINING AND ENCODING from the raw parquet: one
    // unrolled CTE round per merge (the kmeans/IVFPQ oracle pattern;
    // greedy leftmost-first application is closed-form per round —
    // match positions at even offset within each run of consecutive
    // matches — so no recursion or boundary-broken replace() tricks;
    // the separator-joined replace() formulation is WRONG at symbol
    // boundaries, see PLANS.md round-14 analysis).
    "llm_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeFamilyMerges(s, dir)
        .map { case (_, a, b, _) => (a, b) }
      Bpe.encode(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"), col("word_pos"), col("sym_pos"))
    }),

    // Encode -> DECODE round-trip, hash-checked against the ORIGINAL
    // corpus: the oracle does not replay BPE at all — it just
    // normalizes the source text (lowercase, whitespace-split, drop
    // empties, single-space join), so ANY losslessness bug anywhere
    // in train/encode/decode breaks the hash. Detokenization is the
    // eval/debug face of a deployed tokenizer.
    "llm_bpe_decode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeFamilyMerges(s, dir)
        .map { case (_, a, b, _) => (a, b) }
      val ids = bpeFamilyIds(s, dir)
      Bpe.decode(Bpe.encodeWith(docs, "doc_id", "text", merges, ids),
          "doc_id", ids)
        .orderBy(col("doc_id"))
    }),

    // Train -> PERSIST -> reload -> encode: the tokenizer STORE
    // round-trip (train once, encode anywhere — the IVF/PQ
    // index-store discipline). The persisted artifact is one atomic
    // swap-published table (merges + id table together, so the pair
    // can never tear); encoding with the reloaded tokenizer must
    // equal direct training+encoding bit-for-bit — this row SHARES
    // llm_bpe_encode's oracle, the append-shares-full-build contract
    // shape.
    "llm_bpe_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = graft.util.Scratch.dir("graft_bpe")
      Bpe.persistTokenizerTrained(docs, "text", path, bpeFamilyMerges(s, dir),
        precomputedIds = Some(bpeFamilyIds(s, dir)))
      val (merges, ids) = Bpe.readTokenizer(s, path)
      Bpe.encodeWith(docs, "doc_id", "text", merges, ids)
        .orderBy(col("doc_id"), col("word_pos"), col("sym_pos"))
    }),

    // Byte-fallback encode (the SentencePiece byte_fallback contract):
    // the id layout reserves 0 (UNK), 1..256 (UTF-8 byte tokens),
    // then the specials, then the learned alphabet — and serving text
    // carrying characters the training corpus never saw (here: an
    // appended " zz~end x%y" suffix; '~' and '%' are OOV) encodes
    // their symbols as byte tokens instead of collapsing to UNK. The
    // oracle replays training on the ORIGINAL corpus, merge
    // application on the SUFFIXED corpus, and the byte expansion
    // (ASCII fixture: byte value == codepoint; the Spark side is
    // general UTF-8 — multibyte round-trip is spec'd in BpeSpec).
    "llm_bpe_bytefallback" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeFamilyMerges(s, dir)
        .map { case (_, a, b, _) => (a, b) }
      val ids = bpeFamilyIdsFallback(s, dir)
      val oov = docs.withColumn("text",
        concat(col("text"), lit(BpeOovSuffix)))
      Bpe.encodeFallback(oov, "doc_id", "text", merges, ids)
        .orderBy(col("doc_id"), col("word_pos"), col("sym_pos"),
          col("fb_pos"))
    }),

    // Cross-document EXACT repeated k-token spans (Lee et al. 2021 —
    // the substring-dedup signal document-level MinHash cannot see):
    // a shared 11-word boilerplate suffix is injected on every 7th
    // document, and the detector must surface exactly the windows
    // whose text recurs across >= 2 documents (the injected spans plus
    // whatever repeats naturally). Window keys are md5 of the joined
    // window — exact semantics, engine-portable.
    "llm_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(withSpanBoilerplate(t(s, dir, "documents")),
          "doc_id", "text", k = 8, minDf = 2L)
        .orderBy(col("doc_id"), col("start"), col("h"))),

    // The REMOVAL face: tokens covered by any qualifying window drop,
    // survivors rejoin in order — cut the shared paragraph, keep both
    // documents (the Lee et al. treatment, vs dropping a whole doc
    // for one boilerplate block). Fully-covered docs surface as ''.
    "llm_span_trim" -> ((s, dir) =>
      Dedup.trimRepeatedSpans(withSpanBoilerplate(t(s, dir, "documents")),
          "doc_id", "text", k = 8, minDf = 2L)
        .orderBy(col("doc_id"))),

    // MAXIMAL spans: overlapping/adjacent qualifying windows fused
    // into (doc, start, len) intervals — the 11-word boilerplate
    // suffix surfaces as ONE interval of len 11 (4 fused windows at
    // k=8), not 4 overlapping window rows; the suffix-array maximal-
    // match answer at fixed k. Gaps-and-islands on both sides.
    "llm_repeated_spans_maximal" -> ((s, dir) =>
      Dedup.maximalRepeatedSpans(withSpanBoilerplate(t(s, dir, "documents")),
          "doc_id", "text", k = 8, minDf = 2L)
        .orderBy(col("doc_id"), col("span_start"))),

    // Tokenizer FERTILITY ledger: chars-per-token by source in exact
    // per-mille — the compression-ratio metric a tokenizer team
    // watches per language/source (a source whose fertility collapses
    // is being byte-sprayed by a vocabulary trained elsewhere; the
    // signal that drives retraining). Vocab-scale merge application
    // (tokenCounts) + one corpus-scale aggregate.
    "llm_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeFamilyMerges(s, dir)
        .map { case (_, a, b, _) => (a, b) }
      val counts = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      docs.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("__chars"))
        .join(counts, "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("__chars")).as("n_chars"),
          sum(col("n_bpe_tokens")).as("n_tokens"))
        .select(col("source"), col("n_chars"), col("n_tokens"),
          when(col("n_tokens") > 0L,
            expr("n_chars * 1000L div n_tokens")).as("chars_per_token_mille"))
        .orderBy(col("source"))
    }),

    // Train -> encode -> PACK: the tokenizer story closed end-to-end.
    // The packer consumes the TRAINED tokenizer's per-document token
    // counts (Bpe.tokenCounts under the same merges llm_bpe_encode
    // emits — spec'd equal to the emitted stream's counts), not
    // whitespace counts: context-window budgets are token budgets.
    // Same concat-and-chunk semantics as llm_pack_sequences
    // (separator slot, hash-shuffled shard order, 512-token windows).
    "llm_bpe_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeFamilyMerges(s, dir)
        .map { case (_, a, b, _) => (a, b) }
      Curate.packByTokens(Bpe.tokenCounts(docs, "doc_id", "text", merges),
          "doc_id", "n_bpe_tokens", budget = 512, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // The OTHER tokenizer family (Kudo 2018 unigram LM, the
    // SentencePiece algorithm) — hard-EM over a substring seed with
    // the pinned Viterbi total order; every count, prune decision and
    // floor'd micro-ln score of the final piece table is replayed by
    // the unrolled-SQL oracle (seed -> 2 EM rounds).
    "llm_unigram_train" -> ((s, dir) => {
      import s.implicits._
      unigramFamilyPieces(s, dir)
        .toDF("piece", "cnt", "logp_micro").orderBy(col("piece"))
    }),

    // NOTE: the raw-web-scale trainer (Unigram.trainDistributed — every
    // corpus-vocabulary step distributed, driver holds only
    // vocab-budget-bounded tables) is deliberately NOT registered as
    // its own query: it is differential-spec'd bit-identical to
    // trainLocal (UnigramSpec, four configs incl. the frequency
    // floor), and trainLocal is already held to the fully-unrolled
    // SQL oracle here — so the distributed trainer is
    // oracle-consistent TRANSITIVELY, and registering it would bill
    // the bench ~7 s (two distributed DP rounds over distinct chunks)
    // for evidence the spec chain already provides (the r19
    // fixture-economics lesson).

    // The unigram tokenizer's PRODUCT: the corpus token-id stream via
    // the DISTRIBUTED Viterbi (bounded MaxWordLen-step DP over
    // distinct chunks + one corpus-scale join) — the oracle replays
    // training AND the encode-time segmentation pass, so the
    // driver-local trainer and the distributed DP are held to the
    // same total order.
    "llm_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Unigram.encode(docs, "doc_id", "text", unigramFamilyPieces(s, dir))
        .orderBy(col("doc_id"), col("word_pos"), col("sym_pos"))
    }),

    // SentencePiece byte_fallback for the unigram family (the
    // llm_bpe_bytefallback convention): train on the ORIGINAL corpus,
    // encode the OOV-suffixed corpus with the frozen pieces — unseen
    // characters expand into reserved <0xNN> byte tokens (ids 1..256,
    // specials next, learned pieces from 260) instead of UNK, zero
    // information loss.
    "llm_unigram_bytefallback" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pieces = unigramFamilyPieces(s, dir)
      val ids = Unigram.symbolIdsFallback(pieces)
      val oov = docs.withColumn("text",
        concat(col("text"), lit(BpeOovSuffix)))
      Unigram.encodeFallback(oov, "doc_id", "text", pieces, ids)
        .orderBy(col("doc_id"), col("word_pos"), col("sym_pos"),
          col("fb_pos"))
    }),

    // Cross-tokenizer fertility: per source, chars-per-token for BPE
    // and unigram side by side — the eval that picks a tokenizer for
    // a corpus. Both trainers run in-engine; both token counts are
    // distinct-word-scale joins; integer per-mille end to end.
    "llm_tokenizer_compare" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeFamilyMerges(s, dir)
        .map { case (_, a, b, _) => (a, b) }
      val bpe = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      val uni = Unigram.tokenCounts(docs, "doc_id", "text",
        unigramFamilyPieces(s, dir))
      docs.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("__chars"))
        .join(bpe, "doc_id").join(uni, "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("__chars")).as("n_chars"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(col("n_unigram_tokens")).as("n_unigram_tokens"))
        .select(col("source"), col("n_chars"), col("n_bpe_tokens"),
          col("n_unigram_tokens"),
          when(col("n_bpe_tokens") > 0L,
            expr("n_chars * 1000L div n_bpe_tokens")).as("bpe_cpt_mille"),
          when(col("n_unigram_tokens") > 0L,
            expr("n_chars * 1000L div n_unigram_tokens"))
            .as("unigram_cpt_mille"))
        .orderBy(col("source"))
    }),

    // Persist -> reload -> encode round-trip (the llm_bpe_store
    // convention): shares the direct train+encode oracle, so the
    // store layer is held to bit-identity.
    "llm_unigram_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = graft.util.Scratch.dir("graft_unigram_store")
      Unigram.persistPieces(s, unigramFamilyPieces(s, dir), path)
      Unigram.encode(docs, "doc_id", "text", Unigram.readTokenizer(s, path))
        .orderBy(col("doc_id"), col("word_pos"), col("sym_pos"))
    }),

    // Gopher's within-document repetition battery (Rae 2021 Table A1
    // — MassiveWeb's filters BEFORE any model-based score): duplicate
    // lines by count and chars, top-{2,3,4}-gram char coverage,
    // dup-{5..10}-gram char coverage union; exact per-mille. Every
    // 6th doc carries two injected identical lines so the line rules
    // are non-vacuous on this newline-free fixture.
    "llm_gopher_repetition" -> ((s, dir) =>
      Curate.gopherRepetition(
          t(s, dir, "documents").withColumn("text",
            concat(col("text"), when(col("doc_id") % 6 === 0,
              lit(RepLineSuffix)).otherwise(lit("")))),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    // The round's operators COMPOSED as one curation chain: Gopher
    // repetition gate (thresholds 300/200/150 pm — each rule bites) →
    // backoff LM trained on the gated reference slice → per-language
    // CCNet buckets over survivors → keep head+middle. One lazy plan.
    "llm_e2e_quality_chain" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("text",
        concat(col("text"), when(col("doc_id") % 6 === 0,
          lit(RepLineSuffix)).otherwise(lit(""))))
      val surv = Curate.gopherRepetition(injected, "doc_id", "text")
        .filter(coalesce(col("dup_line_pm"), lit(0L)) < 300 &&
          coalesce(col("top2_char_pm"), lit(0L)) < 200 &&
          coalesce(col("dup5_char_pm"), lit(0L)) < 150)
        .select(col("doc_id"))
        // id-scale checkpoint: three consumers (trainer total, score
        // join, lang join) would otherwise each re-run the 6
        // coverage-union joins of the repetition gate
        .localCheckpoint(false)
      // corpus-rows checkpoint: the trainer's internal actions, the
      // score stream, and the lang join each consume `gated`
      val gated = injected.join(surv, "doc_id").localCheckpoint(false)
      val model = NgramLm.trainBackoff(
        gated.filter(col("source") === "src0"), "text")
      NgramLm.ccnetBuckets(
          NgramLm.scoreBackoff(gated, "doc_id", "text", model)
            .join(gated.select(col("doc_id"), col("lang")), "doc_id"),
          "doc_id", "lang")
        .filter(col("bucket") =!= "tail")
        .select(col("doc_id"), col("lang"), col("pm_rank"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Curation funnel report: SEQUENTIAL (waterfall) drop attribution
    // through the quality chain's rules — dup-line gate, top-2 gate,
    // dup-5 gate, then the CCNet tail cut over gate survivors. Each
    // stage charges only its MARGINAL drops, so the stages sum to the
    // total and ops can see which rule is doing the work.
    "llm_quality_funnel" -> ((s, dir) => {
      import s.implicits._
      val injected = t(s, dir, "documents").withColumn("text",
        concat(col("text"), when(col("doc_id") % 6 === 0,
          lit(RepLineSuffix)).otherwise(lit(""))))
      val rep = Curate.gopherRepetition(injected, "doc_id", "text")
        .select(col("doc_id"),
          (coalesce(col("dup_line_pm"), lit(0L)) >= 300).as("f1"),
          (coalesce(col("top2_char_pm"), lit(0L)) >= 200).as("f2"),
          (coalesce(col("dup5_char_pm"), lit(0L)) >= 150).as("f3"))
        .localCheckpoint(false)
      val g = rep.agg(count(lit(1)),
        sum(when(col("f1"), 1L).otherwise(0L)),
        sum(when(!col("f1") && col("f2"), 1L).otherwise(0L)),
        sum(when(!col("f1") && !col("f2") && col("f3"), 1L).otherwise(0L)))
        .head()
      val (n0, d1, d2, d3) =
        (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3))
      val surv = rep.filter(!col("f1") && !col("f2") && !col("f3"))
        .select(col("doc_id"))
      val gated = injected.join(surv, "doc_id").localCheckpoint(false)
      val model = NgramLm.trainBackoff(
        gated.filter(col("source") === "src0"), "text")
      val d4 = NgramLm.ccnetBuckets(
          NgramLm.scoreBackoff(gated, "doc_id", "text", model)
            .join(gated.select(col("doc_id"), col("lang")), "doc_id"),
          "doc_id", "lang")
        .filter(col("bucket") === "tail").count()
      val s1 = n0 - d1; val s2 = s1 - d2; val s3 = s2 - d3
      Seq((1L, "gate_dup_line", n0, d1, s1),
          (2L, "gate_top2", s1, d2, s2),
          (3L, "gate_dup5", s2, d3, s3),
          (4L, "bucket_tail", s3, d4, s3 - d4))
        .toDF("stage_no", "stage", "n_in", "n_dropped", "n_out")
        .orderBy(col("stage_no"))
    }),

    // The FULL CCNet recipe's scoring half (Wenzek et al. 2020):
    // stupid-backoff trigram LM (Brants 2007) trained on a curated
    // reference feed, every document scored by exact micro-nat NLL
    // per token — distance FROM THE REFERENCE, the quality signal
    // between extraction and mixing at web scale.
    "llm_backoff_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      NgramLm.scoreBackoff(docs, "doc_id", "text",
          backoffFamilyModel(s, dir))
        .orderBy(col("doc_id"))
    }),

    // Per-source drift under the reference model: mean micro-nat
    // NLL/token by source — the dashboard metric that says WHICH feed
    // is drifting away from the curated reference (a rising value =
    // vocabulary/domain shift or quality decay). Exact integer
    // division over exact sums.
    "llm_backoff_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      NgramLm.scoreBackoff(docs, "doc_id", "text",
          backoffFamilyModel(s, dir))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("nll_micro")).as("nll_micro"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("nll_micro"),
          when(col("n_tokens") > 0L,
            expr("nll_micro div n_tokens")).as("mean_nll_micro_per_token"))
        .orderBy(col("source"))
    }),

    // Incremental counts store: the reference model GROWS as curated
    // data arrives — n-gram counts never cross documents, so merging
    // per-batch counts is exactly additive. Persist half the
    // reference, append the other half (tagged), derive scores from
    // the merged store — SHARES the direct train+score oracle, so the
    // merge is held to bit-identity with one-shot training.
    "llm_backoff_lm_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("source") === "src0")
      val path = graft.util.Scratch.dir("graft_backoff_inc")
      NgramLm.persistBackoffCounts(ref.filter(col("doc_id") % 2 === 0),
        "text", path, batchTag = Some("half-even"))
      NgramLm.appendToBackoffCounts(ref.filter(col("doc_id") % 2 === 1),
        "text", path, batchTag = Some("half-odd"))
      // a replayed batch must not double-count
      NgramLm.appendToBackoffCounts(ref.filter(col("doc_id") % 2 === 1),
        "text", path, batchTag = Some("half-odd"))
      NgramLm.scoreBackoff(docs, "doc_id", "text",
          NgramLm.readBackoffModelFromCounts(s, path))
        .orderBy(col("doc_id"))
    }),

    // Persist -> reload -> score round-trip for the backoff model
    // (the llm_unigram_store convention): one flat atomic-swap table
    // (n, w2, w1, w, s), read back as plain scans — SHARES the direct
    // train+score oracle, so the store layer is held to bit-identity.
    "llm_backoff_lm_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = graft.util.Scratch.dir("graft_backoff_store")
      // persist -> reload -> score round-trip kept intact; the model
      // fed to the persist is the shared family training
      NgramLm.persistBackoffModel(backoffFamilyModel(s, dir), path)
      NgramLm.scoreBackoff(docs, "doc_id", "text",
          NgramLm.readBackoffModel(s, path))
        .orderBy(col("doc_id"))
    }),

    // ...and its cutting half: per-language head/middle/tail buckets
    // by exact per-mille rank of the per-token NLL (rankNormalize's
    // integer discipline) — keep head+middle, drop the tail.
    "llm_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      NgramLm.ccnetBuckets(
          NgramLm.scoreBackoff(docs, "doc_id", "text",
            backoffFamilyModel(s, dir))
            .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
          "doc_id", "lang")
        .orderBy(col("doc_id"))
    }),

    // Prune -> encode composition: the corpus encoded with the
    // 40-piece PRUNED vocabulary — the end-to-end vocab-size control
    // a deployed tokenizer ships with. Chars survive pruning, so
    // every word still segments; dropped pieces simply stop winning
    // the DP.
    "llm_unigram_prune_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pruned = Unigram.pruneToVocab(
        unigramFamilyPieces(s, dir),
        vocabSize = UnigramPruneVocab)
      Unigram.encode(docs, "doc_id", "text",
          pruned.map(p => (p._1, p._2, p._4)))
        .orderBy(col("doc_id"), col("word_pos"), col("sym_pos"))
    }),

    // The l-best EM variant (Kudo 2018's n-best approximation of the
    // soft E-step, integer-weighted so it stays deterministic): each
    // word's top-2 segmentations by the pinned total order BOTH feed
    // the recount — credit reaches competitive alternatives the pure
    // Viterbi E-step starves, with zero float sums. Oracle: the same
    // unrolled chain with k-best DP frontiers (rn <= 2).
    "llm_unigram_nbest" -> ((s, dir) => {
      import s.implicits._
      Unigram.trainLocal(t(s, dir, "documents"), "text",
          rounds = 2, maxPieceLen = 4, minCount = 2L, seedSize = 1000,
          kBest = 2)
        .toDF("piece", "cnt", "logp_micro").orderBy(col("piece"))
    }),

    // SentencePiece's vocabSize-targeted prune: rank every multi-char
    // piece by the exact micro-nat likelihood drop its removal would
    // cost (cnt · (own score − best alt segmentation)), keep chars +
    // top-N — the ACTUAL SentencePiece prune rule next to the
    // trainer's minCount support rule. Oracle replays the loss DP
    // with the full-span candidate excluded.
    "llm_unigram_prune" -> ((s, dir) => {
      import s.implicits._
      Unigram.pruneToVocab(
          unigramFamilyPieces(s, dir),
          vocabSize = UnigramPruneVocab)
        .toDF("piece", "cnt", "loss_micro", "logp_micro")
        .orderBy(col("piece"))
    }),

    // Pairwise exact shingle-Jaccard between sources — the
    // double-ingestion / mirror-feed audit. Exact integer set sizes;
    // the jaccard double is one IEEE division.
    "llm_source_overlap" -> ((s, dir) =>
      CorpusStats.sourceOverlap(t(s, dir, "documents"), "source", "text")
        .orderBy(col("src_a"), col("src_b"))),

    // Hard-negative mining (contrastive/retrieval training data): per
    // anchor, the top-2 most similar DIFFERENT-label vectors from its
    // LSH bucket — the same-bucket near-misses a DPR-style trainer
    // wants.
    "llm_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", k = 2)
        .orderBy(col("vid"), col("rank"))),

    // Per-source rank normalization in exact per-mille — makes
    // quality thresholds take the same top fraction of EVERY source
    // instead of draining low-scoring sources.
    "llm_rank_normalize" -> ((s, dir) =>
      Curate.rankNormalize(t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars", "doc_id")
        .orderBy(col("doc_id"))),

    // The full DSIR resample loop: importance weights -> per-source
    // rank normalization (acceptance per-milles) -> hash-deterministic
    // Bernoulli resample — three operators composed, replayed by ONE
    // oracle.
    "llm_dsir_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wts = Curate.dsirWeights(docs,
        docs.filter(col("source") === "src0"), "doc_id", "text",
        nBuckets = DsirBuckets)
      val ranked = Curate.rankNormalize(
        wts.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source", "dsir_micro", "doc_id")
      Curate.importanceSample(ranked, "doc_id", col("pm_rank"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("pm_rank")).as("kept_pm"))
        .orderBy(col("source"))
    }),

    // Sequence-length bucketing efficiency: per length band, the
    // exact per-mille of padding a pad-to-bucket-max batcher emits.
    "llm_padding_stats" -> ((s, dir) =>
      Curate.paddingStats(t(s, dir, "documents"), "n_chars",
          Seq(150L, 300L, 450L))
        .orderBy(col("bucket"))),

    // Contrastive triplet export: hardest same-bucket positive +
    // hardest same-bucket negative per anchor, with the exact-integer
    // margin triplet loss penalizes.
    "llm_triplets" -> ((s, dir) =>
      Similarity.tripletMine(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label")
        .orderBy(col("vid"))),

    // Per-document top-3 TF-IDF terms: exact integer tf/df, micro-nat
    // quantized idf, EXACT integer ranking score — keyword extraction
    // with a fully replayable order.
    "llm_tfidf_topterms" -> ((s, dir) =>
      CorpusStats.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // PMI collocations: bigrams co-occurring above chance (phrase /
    // tokenizer-merge candidates), exact counts + fixed-order double
    // sequence + micro-nat quantization.
    "llm_pmi_bigrams" -> ((s, dir) =>
      CorpusStats.pmiBigrams(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5, k = 20)),

    // Corpus drift report: top tokens by add-one-smoothed KL(base||cur)
    // contribution between the base corpus and the snapshot-delta
    // mutation (same fixture as llm_snapshot_delta) — the drift
    // monitor for a continuously-crawled corpus. Contributions are
    // EXACT integers (count-weighted micro-nat log-ratios), so the
    // ranking replays identically.
    "llm_corpus_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cur = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" [edit]"))).otherwise(col("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .withColumn("doc_id", -(col("doc_id") + lit(1L))))
      CorpusStats.tokenDistributionDrift(docs, cur, "text", k = 15)
    }),

    // Token-weighted exact length quantiles: "half the TOKENS live in
    // documents shorter than X" — the statistic a packing/budget
    // decision needs (the unweighted median over-represents short
    // docs). Driver-walked exact boundaries, bounded by the value
    // domain like exactQuantileHistogram.
    "llm_weighted_quantiles" -> ((s, dir) =>
      CorpusStats.weightedQuantiles(
        t(s, dir, "documents")
          .withColumn("__w", Text.wsTokenCount(col("text"))),
        "n_chars", "__w", Seq(250, 500, 750))),

    // Repetition/boilerplate ratio over 2-gram shingles.
    "llm_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("w", Text.words(col("text")))
        .withColumn("sh", Text.shingles(col("w"), 2))
        .withColumn("hs", transform(col("sh"), x => Text.md5Hash(x)))
        .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
          Text.repetitionRatio(col("hs")).as("rep_ratio"))
        .orderBy(col("doc_id"))),

    // Frame-sampling index math over synthetic per-doc frame counts
    // (every stride-th frame, capped) — the multimodal sampling plan
    // minus the stubbed codec.
    "llm_frame_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_frames", (col("n_chars") % 240 + 1).cast("int"))
        .withColumn("idx", Multimodal.sampleFrameIndexes(col("n_frames"), stride = 10, maxFrames = 8))
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          size(col("idx")).cast("long").as("n_sampled"),
          col("idx").getItem(0).cast("long").as("first_idx"),
          element_at(col("idx"), -1).cast("long").as("last_idx"))
        .orderBy(col("doc_id"))),

    // End-to-end curation pipeline: normalized dedup -> length filter
    // -> language ID -> per-language corpus stats. The composition a
    // training-data pipeline actually runs, as ONE lazy plan.
    "llm_curation_stats" -> ((s, dir) =>
      Dedup.normalizedDedup(t(s, dir, "documents"), "text", "doc_id")
        .withColumn("nw", Text.wsTokenCount(col("text")))
        .filter(col("nw") >= 10)
        .withColumn("guess", Text.langGuess(col("text")))
        .groupBy(col("guess"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("total_tokens"))
        .orderBy(col("guess"))),

    "llm_kmeans_clusters" -> ((s, dir) =>
      Similarity.kmeansClusters(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2)
        .withColumnRenamed("vid", "vec_id")
        .orderBy(col("vec_id"))),

    "llm_multimodal_meta" -> ((s, dir) => {
      val bin = encode(col("text"), "UTF-8")
      // Inject a different magic number per doc_id bucket so EVERY
      // sniffMime branch is exercised (and mirrored in the oracle).
      val content = when(col("doc_id") % 10 === 0,
          concat(unhex(lit(LlmQueries.MagicPng)), bin))
        .when(col("doc_id") % 10 === 1, concat(unhex(lit(LlmQueries.MagicJpeg)), bin))
        .when(col("doc_id") % 10 === 2, concat(unhex(lit(LlmQueries.MagicGif)), bin))
        .when(col("doc_id") % 10 === 3, concat(unhex(lit(LlmQueries.MagicWav)), bin))
        .when(col("doc_id") % 10 === 4, concat(unhex(lit(LlmQueries.MagicMp3)), bin))
        .when(col("doc_id") % 10 === 5, concat(unhex(lit(LlmQueries.MagicMp4)), bin))
        .when(col("doc_id") % 10 === 6, concat(unhex(lit(LlmQueries.MagicWebp)), bin))
        .when(col("doc_id") % 10 === 7, concat(unhex(lit(LlmQueries.MagicAvi)), bin))
        .otherwise(bin)
      Multimodal.withMediaMeta(
        t(s, dir, "documents").withColumn("content", content), "content")
        .select(col("doc_id"), col("n_bytes"), col("mime"),
          // DuckDB's md5 takes VARCHAR only, so the portable content
          // fingerprint hashes the hex rendering of the bytes.
          md5(upper(hex(col("content")))).as("content_hash"))
        .orderBy(col("doc_id"))
    }),

    // Count-based bigram-LM quality gate (the CCNet shape): the corpus
    // is its own model; outputs are exact integers (log-probs in
    // micro-nats) so the score is partitioning-independent and the
    // oracle replays it bit-for-bit.
    "llm_ngram_lm_score" -> ((s, dir) =>
      NgramLm.score(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Deterministic corpus shuffle: seed-keyed (shard, pos) permutation
    // with no global ordering step anywhere in the plan.
    "llm_global_shuffle" -> ((s, dir) =>
      Order.globalShuffle(t(s, dir, "documents"), "doc_id", seed = "r9",
        shards = ShuffleShards)
        .orderBy(col("shard"), col("pos"))),

    // The shard-resume ROUND-TRIP oracle-checked: write the seeded
    // permutation as range-partitioned shard files (writeShuffledShards
    // — disjoint (shard, pos) slices, tight parquet footer min/max),
    // then resume from a mid-stream cursor with readShardsFrom's ONE
    // pushed predicate. The result must be the exact suffix of the
    // declared permutation — holding the sink's disjoint-files
    // contract AND the source's cursor semantics to the same SQL
    // replay that checks the order itself (llm_global_shuffle).
    // Row-group skipping via the pushed filter is plan-asserted in
    // BucketingSpec, where it doesn't need a second write.
    "llm_shard_resume" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = graft.util.Scratch.dir("graft_shards") + "/sh"
      Order.writeShuffledShards(docs, "doc_id", seed = "r9",
        shards = ShuffleShards, path = path)
      Order.readShardsFrom(s, path, ResumeShard, ResumePos)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // Exact quartile histogram of document lengths: driver-walked
    // integer boundaries + codegen'd binary-search bucketing — the
    // exact, oracle-replayable counterpart of approxQuantile.
    "llm_quantile_hist" -> ((s, dir) =>
      CorpusStats.exactQuantileHistogram(t(s, dir, "documents"), "n_chars",
        quantilesPm = Seq(250, 500, 750))),

    // Winsorized lengths: clip n_chars at its exact 10/990 per-mille
    // boundary values — outlier treatment before any length-weighted
    // decision; map-side clip, boundaries from the exact driver walk.
    "llm_winsorize" -> ((s, dir) =>
      CorpusStats.winsorize(
          t(s, dir, "documents").select("doc_id", "n_chars"), "n_chars",
          loPm = 100, hiPm = 900)
        .orderBy(col("doc_id"))),

    // Shard integrity manifest over the shuffled permutation: per
    // shard, rows + order-independent XOR checksum over (doc_id, pos)
    // — pins membership AND the permutation itself.
    "llm_shard_checksums" -> ((s, dir) =>
      Order.shardChecksums(
        Order.globalShuffle(t(s, dir, "documents"), "doc_id", seed = "r9",
          shards = ShuffleShards),
        "shard", Seq("doc_id", "pos"))
        .orderBy(col("shard"))),

    // Weighted source interleave: fair-queueing virtual-finish-time
    // keys. src0..src9 carry weights 1..5 cyclically; src10+ have no
    // weight and must be dropped — both arms oracle-checked.
    "llm_interleave" -> ((s, dir) =>
      Order.interleaveBySource(t(s, dir, "documents"), "source", "doc_id",
        weights = InterleaveWeights)
        .orderBy(col("okey"), col("source"), col("doc_id"))),

    // Same operator through its OTHER plan: 90 synthetic sources
    // (pmod of doc_id) exceed the 64-entry literal cutoff, so the
    // weight lookup is the broadcast table join — results must still
    // replay from the identical fair-queueing arithmetic.
    "llm_interleave_wide" -> ((s, dir) =>
      Order.interleaveBySource(
        t(s, dir, "documents").withColumn("wsrc",
          concat(lit("s"), lpad(pmod(col("doc_id"), lit(100)).cast("string"),
            3, "0"))),
        "wsrc", "doc_id", weights = WideInterleaveWeights)
        .orderBy(col("okey"), col("wsrc"), col("doc_id"))),

    // Heavy-hitter bigrams with occurrence + distinct-doc counts;
    // deterministic total order makes the top-k cut stable.
    "llm_top_ngrams" -> ((s, dir) =>
      CorpusStats.topNgrams(t(s, dir, "documents"), "doc_id", "text",
        n = 2, k = 20)),

    // Incremental stats maintenance: per-(source, shard) partial rows
    // merged back to per-source totals — the oracle computes the same
    // numbers DIRECTLY from the corpus, proving merge == full rescan
    // (all fields exact monoids; shard = doc_id % 8 mimics 8 ingestion
    // batches).
    "llm_shard_stats_merge" -> ((s, dir) => {
      val parts = CorpusStats.partialStats(t(s, dir, "documents"),
        "source", "n_chars", pmod(col("doc_id"), lit(8)))
      CorpusStats.mergeStats(parts, "source")
        // harness transport: DECIMAL(38,0) round-trips as object-vs-
        // float across the two engines' pandas bridges; the fixture
        // values fit BIGINT exactly, so compare there
        .withColumn("sumsq", col("sumsq").cast("long"))
        .orderBy(col("source"))
    }),

    // Per-source robust outlier report: exact integer median/MAD
    // (doubled/quadrupled order statistics — no fractional averaging)
    // with the |v - med| > k*MAD flag at k = 2 (k = 3 flags almost
    // nothing on the tight synthetic length profile; 2 yields both
    // zero and non-zero groups, so the flag is checked in both
    // directions). One hash exchange on source serves both rank
    // windows and the rollup.
    "llm_robust_outliers" -> ((s, dir) =>
      CorpusStats.robustOutliers(t(s, dir, "documents"), "source", "n_chars",
        "doc_id", k = 2)
        .orderBy(col("source"))),

    // EXACT threshold heavy hitters at bounded memory: Misra-Gries
    // candidates + exact recount (CorpusStats.heavyHitters). The
    // oracle replays the equivalent plain GROUP BY ... HAVING — the MG
    // pass changes memory, never the answer (its completeness guard is
    // driver-checked against the exact corpus total; eviction behavior
    // is exercised separately in OrderStatsSpec with a tiny capacity).
    // threshold/capacity are chosen so the guard holds at every
    // fixture sf: N(sf0.1) = 260,704 trigrams, 260704/65537 = 3.98 <
    // 6 = threshold, and sf0.01's max trigram count is 8, so the
    // HAVING cut is non-vacuous in both directions.
    "llm_heavy_hitters" -> ((s, dir) =>
      CorpusStats.heavyHitters(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = HeavyHitterThreshold, capacity = 65536)
        .orderBy(col("ngram"))),

    // Document-length profile in 100-char buckets over the n_chars
    // column — pure integer bucket arithmetic on both sides.
    "llm_length_histogram" -> ((s, dir) =>
      CorpusStats.lengthHistogram(t(s, dir, "documents"), "n_chars",
        width = 100L)),

    // Curriculum ordering: per-bigram-mean LM quality floored to
    // 250k-micro-nat buckets, seeded shuffle inside each bucket;
    // bigram-less docs sort last via an explicit NULLS LAST on both
    // engines.
    "llm_curriculum" -> ((s, dir) =>
      Order.curriculumOrder(t(s, dir, "documents"), "doc_id", "text",
        width = 250000L, seed = "cur")
        .orderBy(col("bucket_lo").desc_nulls_last, col("skey"), col("doc_id"))),

    // Per-source distinct-bigram profile via the ENGINE-NATIVE
    // md5-convention HLL: registers, the raw estimate and the
    // small-range linear-counting branch all replay bit-exactly in
    // DuckDB, so this row is rows+schema+hash green like every other
    // sketch (it was the suite's one rows-only query while it rode
    // Datasketches, whose serialized sketch only the JVM can read —
    // that estimator stays available as CorpusStats.sourceNgramSketch
    // with its mergeability spec). Register-merge incrementality is
    // spec'd (shard-union == full build, cell-wise max monoid).
    "llm_sketch_profile" -> ((s, dir) =>
      CorpusStats.sourceNgramHll(t(s, dir, "documents"), "source",
        "text", n = 2)
        .orderBy(col("source"))),

    // The incremental-profile face of the native HLL: union the
    // per-source register frames to ONE corpus-level register set
    // (cell-wise max — no document is rescanned; yesterday's registers
    // union with today's the same way) and estimate. The oracle
    // replays the same registers grouped globally — max-of-maxes ==
    // global max, so the merged estimate is hash-exact too.
    "llm_hll_union" -> ((s, dir) =>
      CorpusStats.hllEstimate(
        CorpusStats.hllMergeRegisters(
          CorpusStats.hllNgramRegisters(t(s, dir, "documents"), "source",
              "text", n = 2)
            .withColumn("source", lit("all")),
          "source"),
        "source")),

    // The persisted incremental HLL profile — the daily-crawl sketch
    // STORE: build the register profile from half the corpus, merge
    // the other half in (cell-wise max, atomically published, base
    // never rescanned), estimate from the store. Register max is
    // order-independent, so store-after-append == build-from-scratch
    // bit-for-bit: this row SHARES llm_sketch_profile's full-build
    // oracle — the same contract shape as the IVF/PQ append rows.
    "llm_hll_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = graft.util.Scratch.dir("graft_hll") + "/profile"
      CorpusStats.persistHllProfile(docs.filter(col("doc_id") % 2 === 0),
        "source", "text", path)
      CorpusStats.appendToHllProfile(docs.filter(col("doc_id") % 2 === 1),
        "source", "text", path)
      CorpusStats.hllEstimate(CorpusStats.readHllProfile(s, path))
        .orderBy(col("source"))
    }),

    // Log-linear quantile sketch — the distribution member of the
    // sketch trio (HLL = distinct, CMS = frequency): per-source
    // doc-length quantiles from bounded register frames (<= 64·2^5
    // rows per source at ANY corpus size; the shuffle carries
    // registers, never documents). Every step is exact integer —
    // octave via bin-length, sub-bucket via shifts, rank via
    // floor-division — so the DuckDB oracle replays the estimates
    // hash-identically, and each estimate is an [est_lo, est_hi]
    // ENCLOSURE the true order statistic provably lies in.
    "llm_qsketch_profile" -> ((s, dir) =>
      CorpusStats.logHistQuantileProfile(t(s, dir, "documents"), "source",
          length(col("text")), Seq(500, 900, 990))
        .orderBy(col("source"), col("q_mille"))),

    // Shard-merge face: registers built independently per shard fold
    // by cell-wise SUM to the full build bit-for-bit (the monoid
    // contract, same shape as llm_hll_union). The oracle never sees
    // shards — it replays the direct global build; equality IS the
    // mergeability check. q=1000 exercises the max-rank edge.
    "llm_qsketch_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("source", lit("all"))
      val len = length(col("text"))
      val shards = CorpusStats.logHistRegisters(
          docs.filter(col("doc_id") % 2 === 0), "source", len)
        .unionByName(CorpusStats.logHistRegisters(
          docs.filter(col("doc_id") % 2 === 1), "source", len))
      CorpusStats.logHistQuantiles(CorpusStats.logHistMerge(shards),
          Seq(250, 500, 750, 900, 990, 1000))
        .orderBy(col("q_mille"))
    }),

    // The persisted incremental quantile store — register SUM is NOT
    // replay-idempotent (unlike HLL max), so each batch's applied-
    // marker publishes inside the SAME atomic rename as the merged
    // data (Tables.swapInParquet ledger): the second delta-1 append
    // below is a deliberate replay and must be a no-op — if the
    // exactly-once marker failed, counts double and every quantile
    // shifts, so the shared full-build oracle hash-catches it.
    "llm_qsketch_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val len = length(col("text"))
      val path = graft.util.Scratch.dir("graft_qsketch") + "/profile"
      CorpusStats.persistLogHist(docs.filter(col("doc_id") % 2 === 0),
        "source", len, path, batchTag = Some("base"))
      CorpusStats.appendToLogHist(docs.filter(col("doc_id") % 2 === 1),
        "source", len, path, batchTag = Some("delta-1"))
      CorpusStats.appendToLogHist(docs.filter(col("doc_id") % 2 === 1),
        "source", len, path, batchTag = Some("delta-1")) // replay: no-op
      CorpusStats.logHistQuantiles(CorpusStats.readLogHist(s, path),
          Seq(500, 900, 990))
        .orderBy(col("source"), col("q_mille"))
    }),

    // Weighted quantile sketch — the sketch twin of the exact
    // llm_weighted_quantiles: each document's length contributes its
    // TOKEN COUNT of mass, so q500 answers "the median token sits in
    // a document of length X" (the token-centric view a training run
    // cares about) from the same bounded registers; the sum monoid,
    // markers and rank walk are unchanged, n is total weight.
    "llm_qsketch_weighted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusStats.logHistQuantiles(
        CorpusStats.logHistRegistersWeighted(docs, "source",
          length(col("text")), Text.wsTokenCount(col("text"))),
        Seq(500, 990))
        .orderBy(col("source"), col("q_mille"))
    }),

    // Geometry tuning grid (the ivfpq-grid principle applied to the
    // sketch family): the same profile at subBits {3, 5, 7} — each
    // cell prices its enclosure width (accuracy, bounded by relative
    // 2^-sb) against its register count (the storage/shuffle cost,
    // bounded by 64·2^sb rows). The artifact a deployment reads to
    // pick the sketch geometry for a target error budget. Register
    // frames are lazily checkpointed: each is tiny by contract and
    // consumed twice (rank walk + count).
    "llm_qsketch_grid" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("source", lit("all"))
      val len = length(col("text"))
      val grid = Seq(3, 5, 7).map { sb =>
        val regs = CorpusStats.logHistRegisters(docs, "source", len, sb)
          .localCheckpoint(false)
        val nregs = regs.agg(count(lit(1)).as("n_regs"))
        CorpusStats.logHistQuantiles(regs, Seq(500, 990))
          .crossJoin(nregs)
          .select(lit(sb.toLong).as("sub_bits"), col("q_mille"), col("n"),
            col("est_lo"), col("est_hi"),
            (col("est_hi") - col("est_lo")).as("width"), col("n_regs"))
      }.reduce(_.unionByName(_))
      // the KNEE-PICK (the ivfpq-grid rule applied to the sketch
      // family): per quantile target, `chosen` marks the CHEAPEST
      // geometry (min registers, ties to smaller subBits) whose
      // enclosure width is within ~11% of the target's best — exact
      // integer qualification (width·9 <= best·10; a best of 0 admits
      // only exact cells) over a packed argmin key, so the oracle
      // replays the pick bit-exactly. The window folds 3 rows per
      // target — tiny by construction.
      val wq = Window.partitionBy(col("q_mille"))
      val key = col("n_regs") * lit(1000L) + col("sub_bits")
      grid
        .withColumn("__bw", min(col("width")).over(wq))
        .withColumn("__kmin", min(when(
          col("width") * lit(9L) <= col("__bw") * lit(10L), key)).over(wq))
        .withColumn("chosen",
          col("width") * lit(9L) <= col("__bw") * lit(10L) &&
            key === col("__kmin"))
        .select(col("sub_bits"), col("q_mille"), col("n"), col("est_lo"),
          col("est_hi"), col("width"), col("n_regs"), col("chosen"))
        .orderBy(col("sub_bits"), col("q_mille"))
    }),

    // Accuracy ledger (the ann-recall principle applied to quantiles):
    // sketch enclosure vs the EXACT order statistic per (source, q) —
    // bound_ok must be uniformly true (the sketch's guarantee, value-
    // checked row by row), and the enclosure width column prices the
    // sketch's error against its 2^-5 relative bound.
    "llm_qsketch_accuracy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sk = CorpusStats.logHistQuantileProfile(docs, "source",
        length(col("text")), Seq(500, 990))
      val vals = docs.filter(col("text").isNotNull)
        .select(col("source"), length(col("text")).cast("long").as("v"))
      val byS = Window.partitionBy(col("source"))
      val exact = vals
        .withColumn("rn", row_number().over(byS.orderBy(col("v"))))
        .withColumn("__n", count(lit(1)).over(byS))
        .select(col("source"), col("rn"), col("__n"), col("v"),
          explode(array(lit(500L), lit(990L))).as("q_mille"))
        .filter(col("rn") ===
          greatest(lit(1L), expr("(__n * q_mille + 999L) div 1000L")))
        .select(col("source"), col("q_mille"), col("v").as("exact"))
      sk.join(exact, Seq("source", "q_mille"))
        .select(col("source"), col("q_mille"), col("n"), col("exact"),
          col("est_lo"), col("est_hi"),
          (col("est_lo") <= col("exact") && col("exact") <= col("est_hi"))
            .as("bound_ok"),
          (col("est_hi") - col("est_lo")).as("width"))
        .orderBy(col("source"), col("q_mille"))
    }),

    // Exact n-gram occurrence counts per source, through the
    // Datasketches estimator's own plan (Catalyst prunes the unused
    // sketch aggregate — plan-verified): keeps the retained
    // Datasketches path exercised end-to-end now that the profile row
    // itself rides the native HLL.
    "llm_sketch_counts" -> ((s, dir) =>
      CorpusStats.sourceNgramSketch(t(s, dir, "documents"), "source",
        "doc_id", "text", n = 2, lgK = 12)
        .select(col("source"), col("occurrences"))
        .orderBy(col("source"))),

    // Quality-priority dedup: keep the LONGEST member of each near-dup
    // cluster (score = n_chars) instead of the min-id representative.
    "llm_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      Dedup.keepBestPerCluster(docs.select("doc_id", "n_chars"), "doc_id",
          "n_chars", comp)
        .select("doc_id").orderBy(col("doc_id"))
    }),

    // Fluency-priority dedup: keep the member of each near-dup
    // cluster CLOSEST TO THE REFERENCE (lowest backoff NLL/token) —
    // when a crawl yields near-identical variants, keep the cleanest
    // one, not the longest or the min-id one. Model-based keep-best:
    // the composition every modern pipeline runs.
    "llm_dedup_keep_fluent" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fluency = NgramLm.scoreBackoff(docs, "doc_id", "text",
          backoffFamilyModel(s, dir))
        .select(col("doc_id"),
          (-col("nll_micro_per_token")).as("fluency"))
      val pairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      Dedup.keepBestPerCluster(fluency, "doc_id", "fluency", comp)
        .select("doc_id").orderBy(col("doc_id"))
    }),

    // Dedup diagnostic: histogram of near-dup cluster sizes (shares
    // the LSH-pairs + components prefix with keep_one/keep_best).
    "llm_cluster_sizes" -> ((s, dir) => {
      val pairs = Dedup.minHashLshPairsFrom(dedupFamilySignatures(s, dir),
        "doc_id", threshold = 0.5)
      val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 8)
      CorpusStats.clusterSizeHistogram(comp)
    }),

    // Incremental-crawl snapshot diff: cur is a deterministic mutation
    // of documents (drop %7 docs, rewrite %5 texts, add %11 clones at
    // -(id+1) — negated so the synthetic namespace stays disjoint from
    // real non-negative ids at ANY scale factor) so all four status
    // arms are non-vacuous.
    "llm_snapshot_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cur = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" [edit]"))).otherwise(col("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .withColumn("doc_id", -(col("doc_id") + lit(1L))))
      Curate.snapshotDelta(docs, cur, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // The streaming re-crawl delta gate as a batch fixture (the same
    // Streams.deltaGate the delta-gated stream runs per micro-batch):
    // the standing corpus holds every doc at its original content PLUS
    // a second stored version for %9 ids, and the re-crawl batch
    // redelivers %7 ids changed (' v3' — kept), %9 ids at their stored
    // v2 content (dropped: the gate matches ANY stored version), the
    // rest unchanged (dropped), plus new ids at -(id+1) (kept). The
    // %7 arm precedes %9 in the when-chain, so ids divisible by both
    // are the changed arm — mirrored in the oracle's CASE order.
    "llm_delta_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text")))
        .withColumn(graft.streaming.Streams.HashCol, Text.contentHash(col("text")))
      val batch = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v3")))
            .when(pmod(col("doc_id"), lit(9)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((-col("doc_id") - lit(1L)).as("doc_id"), col("text")))
      graft.streaming.Streams.deltaGate(batch, corpus, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // The span-gate index-debt metric as a batch fixture — the SAME
    // arithmetic Streams.spanTrimIndexDebt polls over the streaming
    // catalog tables (shared via spanTrimIndexDebtFrames), so the
    // rebuild-cadence signal is oracle-checked, not just spec'd. The
    // corpus holds every doc at its original content (seq 1) plus a
    // CHANGED second version for %9 ids ('v2 ' PREFIX — every window
    // shifts by a word, so the superseded version's keys genuinely go
    // stale; a suffix change would leave v1's keys inside v2's and
    // the debt would read zero); the append-only index holds the
    // union of BOTH versions' window keys, exactly what the
    // delta-gated stream accumulates. One row: index/latest/stale
    // counts + exact per-mille.
    "llm_span_index_debt" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select(col("doc_id"), concat(lit("v2 "), col("text")).as("text"))
      val corpus = docs
        .withColumn(graft.streaming.Streams.SeqCol, lit(1L))
        .unionByName(v2.withColumn(graft.streaming.Streams.SeqCol, lit(2L)))
      val index = graft.llm.Dedup.spanKeys(docs, "doc_id", "text", 8)
        .unionByName(graft.llm.Dedup.spanKeys(v2, "doc_id", "text", 8))
      graft.streaming.Streams.spanTrimIndexDebtFrames(corpus, index,
        "doc_id", "text", 8)
    }))

  /** Shard count for llm_global_shuffle, shared with its oracle. */
  val ShuffleShards = 8

  /** Resume cursor for llm_shard_resume, shared with its oracle —
    * mid-stream in both dimensions so the suffix is non-trivial at
    * every SF (shard 4 of 8; pos 20 is inside every shard even at
    * sf0.001's ~62 rows/shard). */
  val ResumeShard = 4L
  val ResumePos = 20L

  /** Interleave weights for llm_interleave, shared with its oracle:
    * src0..src9 get cyclic weights 1..5; the fixture's other ten
    * sources are deliberately unweighted (drop arm). */
  val InterleaveWeights: Map[String, Long] =
    (0 until 10).map(i => s"src$i" -> ((i % 5) + 1).toLong).toMap

  /** 90 weighted synthetic sources for llm_interleave_wide — above
    * [[graft.llm.Curate.LiteralPredicateMaxGroups]] (64), so the Map
    * overload auto-switches to the broadcast weight-table join: the
    * oracle gate covers BOTH interleave code paths, not just the
    * literal when-chain. Sources s009, s019, … stay unweighted so the
    * drop-unweighted rule is non-vacuous on this path too. */
  val WideInterleaveWeights: Map[String, Long] =
    (0 until 100).filter(_ % 10 != 9)
      .map(i => f"s$i%03d" -> ((i % 5) + 1).toLong).toMap

  // Magic-number prefixes injected by llm_multimodal_meta; one per
  // sniffMime branch (graft.llm.Multimodal.sniffMime).
  val MagicPng = "89504E470D0A1A0A"
  val MagicJpeg = "FFD8FFE000104A46"
  val MagicGif = "4749463839610A00"
  val MagicWav = "52494646AA00000057415645"  // RIFF....WAVE
  val MagicWebp = "52494646AA00000057454250" // RIFF....WEBP
  val MagicMp3 = "4944330300000000"
  val MagicMp4 = "0000001866747970"
  val MagicAvi = "52494646AA00000041564920" // RIFF....AVI(sp)

  // ---- DuckDB oracle SQL (generated so constants match the library) ----

  /** Per-shingle/word 60-bit md5 hash reduced mod P — DuckDB rendering
    * of Text.md5Hash. */
  private def duckHash(v: String) =
    s"(('0x' || substr(md5($v), 1, 15))::BIGINT % $P)"

  private def shingleCteFor(docWhere: String): String =
    s"""pre AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
       |    s -> ${duckHash("s")})) AS hs
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
       |        FROM documents WHERE $docWhere) t0
       |  WHERE len(w) >= 3)""".stripMargin

  private val minhashExprs = Dedup.Seeds.map { case (a, b) =>
    s"list_min(list_transform(hs, h -> ($a * h + $b) % $P))"
  }

  private val bandExprs = (0 until Dedup.numBands).map { bnd =>
    val parts = (1 to Dedup.BandRows).map(r => s"mh[${bnd * Dedup.BandRows + r}]::VARCHAR")
    s"'${bnd}_' || " + parts.mkString(" || '_' || ")
  }

  /** N-gram Jaccard oracle with the block cap as a parameter — shared
    * by the default-cap and tight-cap variants so blocking, hashing and
    * the cap window can't drift between them. */
  private def ngramJaccardOracle(cap: Int): String =
    s"""WITH pre AS (
       |  SELECT doc_id, lang || '_' || (n_chars // 25)::VARCHAR AS blk,
       |    list_distinct(list_transform(
       |      [w[i] || ' ' || w[i+1] for i in range(1, len(w))],
       |      s -> ${duckHash("s")})) AS g
       |  FROM (SELECT doc_id, lang, n_chars, string_split_regex(lower(text), '\\s+') AS w FROM documents) t
       |  WHERE len(w) >= 2),
       |capped AS (SELECT doc_id, blk, g FROM (
       |  SELECT doc_id, blk, g, count(*) OVER (PARTITION BY blk) AS bc FROM pre) t0
       |  WHERE bc BETWEEN 2 AND $cap)
       |SELECT a, b, jaccard FROM (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |    CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
       |      / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS jaccard
       |  FROM capped x JOIN capped y ON x.blk = y.blk AND x.doc_id < y.doc_id) t
       |WHERE jaccard >= 0.15 ORDER BY a, b""".stripMargin

  /** Shared CTE chain for the embedding near-dup pipeline (`escored` =
    * thresholded cosine pairs) — used by llm_dedup_embedding and
    * llm_dedup_embedding_keep so buckets, caps, zero-norm guard and
    * threshold can't drift apart. */
  private lazy val embPairsCtes: String =
    s"""e AS (SELECT vec_id AS vid,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |b0 AS (SELECT vid, eq, $bucketExpr AS bucket FROM e),
       |b AS (SELECT vid, eq, bucket FROM (
       |  SELECT vid, eq, bucket, count(*) OVER (PARTITION BY bucket) AS bc FROM b0) t0
       |  WHERE bc BETWEEN 2 AND ${Similarity.DefaultMaxBucket}),
       |p AS (SELECT x.vid AS a, y.vid AS b,
       |  CAST((SELECT sum((x.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot,
       |  CAST((SELECT sum((x.eq)[i] * (x.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS na,
       |  CAST((SELECT sum((y.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS nb
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vid < y.vid),
       |escored AS (SELECT a, b, cosine FROM (
       |  SELECT a, b, dot / (sqrt(na) * sqrt(nb)) AS cosine FROM p
       |  WHERE na > 0 AND nb > 0) t
       |  WHERE cosine >= $EmbDedupThreshold)""".stripMargin

  /** The labeled quality seed shared by every quality-LR query:
    * doc_id < 250, y = membership in the five target sources. */
  private def qualityLrSeed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 250)
      .withColumn("y", when(col("source")
        .isin("src0", "src1", "src2", "src3", "src4"), 1L).otherwise(0L))

  /** The llm_quality_lr fixture trainer shared by the weight and score
    * queries: 256 buckets, 2 steps, lr 0.5 (ppm). */
  // memoized per sf dir (the unigramFamilyPieces rationale): the
  // trainer is deterministic (exact-Long gradient steps), four
  // queries consume the same fixture weights, and each oracle replays
  // training from raw parquet — so the shared weights change nothing.
  private val qualityLrCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Long, Long)], Long)]()
  private def trainQualityLrFixture(s: SparkSession,
                                    dir: String): (Seq[(Long, Long)], Long) =
    qualityLrCache.computeIfAbsent(dir, _ =>
      Curate.qualityLrTrain(qualityLrSeed(s, dir), "doc_id", "text", "y",
        nBuckets = 256, steps = 2, lrPpm = 500000L))

  /** ONE trained src0-reference backoff model per sf dir, persisted to
    * scratch and read back as plain scans (reload-then-score is
    * bit-identical to train-then-score — the readBackoffModel
    * contract), shared by the five queries that train the identical
    * reference model (score/drift/ccnet/keep_fluent/store). Training
    * is deterministic; every consumer's oracle replays it from raw
    * parquet unchanged. The quality-chain/funnel models train on the
    * GATED slice and stay independent. */
  private val backoffModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def backoffFamilyModel(s: SparkSession,
                                 dir: String): NgramLm.BackoffModel =
    NgramLm.readBackoffModel(s,
      backoffModelCache.computeIfAbsent(dir, _ => {
        val p = graft.util.Scratch.dir("graft_backoff_family")
        NgramLm.persistBackoffModel(
          NgramLm.trainBackoff(
            t(s, dir, "documents").filter(col("source") === "src0"), "text"),
          p)
        p
      }))

  /** GENERATED N-step quality-LR replay (the kmeans unrolled-CTE
    * convention applied to gradient steps): emits a self-contained
    * prefixed CTE chain — seed labels, hashed features (optionally
    * fastText-style word bigrams), then per step the exact-Long z,
    * ONE floor'd sigmoid per doc, exact gradient sums and truncating
    * `//` updates (DuckDB `//` truncates toward zero like Java).
    * Step 1 needs no special case: the empty w0/zero b0 give z = 0
    * and the general sigmoid formula lands on exactly 500000.
    * Final weights live in `{p}w{steps}`, bias in `{p}b{steps}`. */
  private def qualityLrGenCtes(p: String, steps: Int,
                               bigrams: Boolean): String = {
    val feats =
      if (!bigrams)
        s"""${p}ft AS (SELECT doc_id, w FROM (
           |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
           |  FROM documents WHERE doc_id < 250) t0 WHERE len(w) > 0)""".stripMargin
      else
        s"""${p}ws AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\\s+'),
           |      x -> len(x) > 0) AS ws
           |  FROM documents WHERE doc_id < 250),
           |${p}ft AS (
           |  SELECT doc_id, unnest(ws) AS w FROM ${p}ws
           |  UNION ALL
           |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1]
           |      for i in range(1, len(ws))]) AS w FROM ${p}ws)""".stripMargin
    val stepCtes = (1 to steps).map { st =>
      s"""${p}z$st AS (SELECT l.doc_id AS doc_id, y,
         |    (SELECT bias FROM ${p}b${st - 1}) + coalesce(q.zz, 0) AS z
         |  FROM ${p}lab l LEFT JOIN (SELECT doc_id,
         |      CAST(sum(c * wm) AS BIGINT) AS zz
         |    FROM ${p}db JOIN ${p}w${st - 1} USING (h)
         |    GROUP BY doc_id) q USING (doc_id)),
         |${p}r$st AS (SELECT doc_id, y * 1000000 -
         |    CAST(floor(1000000.0 /
         |      (1.0 + exp(-CAST(z AS DOUBLE) / 1000000.0))) AS BIGINT) AS rm
         |  FROM ${p}z$st),
         |${p}g$st AS (SELECT h, CAST(sum(c * rm) AS BIGINT) AS g
         |  FROM ${p}db JOIN ${p}r$st USING (doc_id) GROUP BY h),
         |${p}w$st AS (SELECT coalesce(w.h, g.h) AS h,
         |    CAST(coalesce(w.wm, 0) +
         |      (500000 * coalesce(g.g, 0)) // (1000000 * n) AS BIGINT) AS wm
         |  FROM ${p}w${st - 1} w FULL JOIN ${p}g$st g ON w.h = g.h, ${p}nn),
         |${p}b$st AS (SELECT (SELECT bias FROM ${p}b${st - 1}) +
         |    (500000 * (SELECT CAST(sum(rm) AS BIGINT) FROM ${p}r$st))
         |      // (1000000 * n) AS bias
         |  FROM ${p}nn)""".stripMargin
    }.mkString(",\n")
    s"""${p}lab AS (SELECT doc_id,
       |  (CASE WHEN source IN ('src0','src1','src2','src3','src4')
       |   THEN 1 ELSE 0 END)::BIGINT AS y
       |  FROM documents WHERE doc_id < 250),
       |$feats,
       |${p}db AS (SELECT doc_id, ${duckHash("w")} % 256 AS h,
       |    count(*)::BIGINT AS c
       |  FROM ${p}ft GROUP BY doc_id, h),
       |${p}nn AS (SELECT count(*)::BIGINT AS n FROM ${p}lab),
       |${p}w0 AS (SELECT CAST(NULL AS BIGINT) AS h,
       |  CAST(NULL AS BIGINT) AS wm WHERE false),
       |${p}b0 AS (SELECT CAST(0 AS BIGINT) AS bias),
       |$stepCtes""".stripMargin
  }

  /** Unrolled 2-step logistic-regression replay shared by the two
    * quality-LR oracles: exact Long z, ONE floor'd sigmoid per doc per
    * step, exact Long gradient sums, truncating `//` updates — the
    * mirror of [[graft.llm.Curate.qualityLrTrain]]'s discipline. */
  private lazy val QualityLrCtes: String =
    s"""lab AS (SELECT doc_id,
       |  (CASE WHEN source IN ('src0','src1','src2','src3','src4')
       |   THEN 1 ELSE 0 END)::BIGINT AS y
       |  FROM documents WHERE doc_id < 250),
       |ltok AS (SELECT doc_id, w FROM (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents WHERE doc_id < 250) t0 WHERE len(w) > 0),
       |ldb AS (SELECT doc_id, ${duckHash("w")} % 256 AS h, count(*)::BIGINT AS c
       |  FROM ltok GROUP BY doc_id, h),
       |nn AS (SELECT count(*)::BIGINT AS n FROM lab),
       |r1 AS (SELECT doc_id, y * 1000000 - 500000 AS rm FROM lab),
       |g1 AS (SELECT h, CAST(sum(c * rm) AS BIGINT) AS g
       |  FROM ldb JOIN r1 USING (doc_id) GROUP BY h),
       |w1 AS (SELECT h, (500000 * g) // (1000000 * n) AS wm FROM g1, nn),
       |b1 AS (SELECT (500000 * (SELECT CAST(sum(rm) AS BIGINT) FROM r1))
       |    // (1000000 * n) AS bias
       |  FROM nn),
       |z2 AS (SELECT lab.doc_id AS doc_id, y,
       |    (SELECT bias FROM b1) + coalesce(q.zz, 0) AS z
       |  FROM lab LEFT JOIN (SELECT doc_id, CAST(sum(c * wm) AS BIGINT) AS zz
       |    FROM ldb JOIN w1 USING (h) GROUP BY doc_id) q USING (doc_id)),
       |r2 AS (SELECT doc_id, y * 1000000 -
       |    CAST(floor(1000000.0 / (1.0 + exp(-CAST(z AS DOUBLE) / 1000000.0))) AS BIGINT) AS rm
       |  FROM z2),
       |g2 AS (SELECT h, CAST(sum(c * rm) AS BIGINT) AS g
       |  FROM ldb JOIN r2 USING (doc_id) GROUP BY h),
       |w2 AS (SELECT w1.h AS h,
       |    wm + (500000 * coalesce(g2.g, 0)) // (1000000 * n) AS wm
       |  FROM w1 LEFT JOIN g2 USING (h), nn),
       |b2 AS (SELECT (SELECT bias FROM b1) +
       |    (500000 * (SELECT CAST(sum(rm) AS BIGINT) FROM r2)) // (1000000 * n) AS bias
       |  FROM nn)""".stripMargin

  /** Corpus scoring against the trained w2/b2: `scored` = one row per
    * document (doc_id, n_toks, score_micro) — shared by the score and
    * e2e-curate oracles. */
  private lazy val QualityLrScoreCtes: String =
    s"""ctok AS (SELECT doc_id, w FROM (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents) t0 WHERE len(w) > 0),
       |cdb AS (SELECT doc_id, ${duckHash("w")} % 256 AS h, count(*)::BIGINT AS c
       |  FROM ctok GROUP BY doc_id, h),
       |scsum AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
       |    CAST(sum(c * coalesce(wm, 0)) AS BIGINT) AS s
       |  FROM cdb LEFT JOIN w2 USING (h) GROUP BY doc_id),
       |scored AS (SELECT d.doc_id AS doc_id, coalesce(n_toks, 0) AS n_toks,
       |    (SELECT bias FROM b2) + coalesce(s, 0) AS score_micro
       |  FROM documents d LEFT JOIN scsum USING (doc_id))""".stripMargin

  /** DSIR CTE chain (`wsum` = per-doc (n_toks, dsir_micro) for docs
    * with ≥1 token) — shared by llm_dsir_weights and llm_dsir_sample
    * so hashing, smoothing and the micro-nat quantization can't
    * drift. Target = the src0 slice. */
  private lazy val dsirCtes: String =
    s"""tok AS (SELECT doc_id, w FROM (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents) t WHERE len(w) > 0),
       |hb AS (SELECT doc_id, ${duckHash("w")} % $DsirBuckets AS h FROM tok),
       |db AS (SELECT doc_id, h, count(*)::BIGINT AS c FROM hb GROUP BY doc_id, h),
       |src AS (SELECT h, CAST(sum(c) AS BIGINT) AS s_h FROM db GROUP BY h),
       |ttok AS (SELECT w FROM (
       |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents WHERE source = 'src0') t WHERE len(w) > 0),
       |tgt AS (SELECT ${duckHash("w")} % $DsirBuckets AS h, count(*)::BIGINT AS t_h
       |  FROM ttok GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(sum(s_h) AS BIGINT) FROM src) AS S,
       |  (SELECT coalesce(CAST(sum(t_h) AS BIGINT), 0) FROM tgt) AS T),
       |lr AS (SELECT src.h,
       |  CAST(floor(ln(
       |    (CAST(coalesce(t_h, 0) + 1 AS DOUBLE) / CAST(T + $DsirBuckets AS DOUBLE)) *
       |    (CAST(S + $DsirBuckets AS DOUBLE) / CAST(s_h + 1 AS DOUBLE))
       |  ) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS lr_micro
       |  FROM src LEFT JOIN tgt ON src.h = tgt.h, tot),
       |wsum AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
       |  CAST(sum(c * lr_micro) AS BIGINT) AS dsir_micro
       |  FROM db JOIN lr ON db.h = lr.h GROUP BY doc_id)""".stripMargin

  /** Deterministic 2-iteration k-means CTE chain (`a2` = final
    * (vec_id, cluster)) — the unrolled-SQL replay of
    * Similarity.kmeansClusters(k, iters = 2). Shared by
    * llm_kmeans_clusters and the SemDeDup oracles so seeding, exact
    * integer L2² distances, floor-mean centroid updates and cid
    * tie-breaks can't drift between them. `k` is a SQL expression so
    * the autoNlist-driven oracles can derive the cell count from the
    * SAME n/500 rule as the engine ([[AutoNlistSql]]) instead of
    * hardcoding the small-fixture geometry. */
  private def kmeansCtes(k: String): String =
    s"""eq AS (SELECT vec_id,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |seed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, eq
       |  FROM (SELECT vec_id, eq FROM eq ORDER BY vec_id LIMIT $k) s),
       |a1 AS (SELECT vec_id, cid AS cluster FROM (
       |  SELECT e.vec_id, s.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    (SELECT sum((e.eq[i] - s.eq[i]) * (e.eq[i] - s.eq[i])) FROM range(1, 65) r(i)),
       |    s.cid) AS rn
       |  FROM eq e, seed s) t WHERE rn = 1),
       |c1 AS (SELECT cluster AS cid, list(c ORDER BY pos) AS ceq FROM (
       |  SELECT a1.cluster AS cluster, i AS pos,
       |    CAST(floor(CAST(sum(e.eq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS c
       |  FROM a1 JOIN eq e USING (vec_id), range(1, 65) r(i)
       |  GROUP BY a1.cluster, i) t GROUP BY cluster),
       |a2 AS (SELECT vec_id, cid AS cluster FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    (SELECT sum((e.eq[i] - c.ceq[i]) * (e.eq[i] - c.ceq[i])) FROM range(1, 65) r(i)),
       |    c.cid) AS rn
       |  FROM eq e, c1 c) t WHERE rn = 1)""".stripMargin

  /** The DuckDB face of [[graft.llm.Similarity.autoNlist]]: the same
    * max(minNlist, n / targetCell) rule over the embeddings table
    * (both sides truncate the division), so the SemDeDup / kNN-graph
    * oracles track the engine's corpus-scaled cell geometry at ANY
    * fixture size instead of silently hash-diverging the moment the
    * fixture outgrows the 4-cell floor (n > 2499). */
  private val AutoNlistSql: String =
    "greatest(4, (SELECT count(*) FROM embeddings) // 500)"

  /** SemDeDup oracle CTE chain (`semscored` = thresholded within-
    * k-means-cluster cosine pairs) — kmeansCtes plus the same capped
    * self-join / zero-norm-guard / exact dot structure as
    * embPairsCtes, with the k-means cell as the bucket. */
  private lazy val semPairsCtes: String =
    s"""${kmeansCtes(AutoNlistSql)},
       |cl AS (SELECT e.vec_id AS vid, e.eq, a2.cluster
       |  FROM eq e JOIN a2 ON e.vec_id = a2.vec_id),
       |clc AS (SELECT vid, eq, cluster FROM (
       |  SELECT vid, eq, cluster, count(*) OVER (PARTITION BY cluster) AS bc FROM cl) t0
       |  WHERE bc BETWEEN 2 AND $SemMaxCluster),
       |sp AS (SELECT x.cluster AS cluster, x.vid AS a, y.vid AS b,
       |  CAST((SELECT sum((x.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot,
       |  CAST((SELECT sum((x.eq)[i] * (x.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS na,
       |  CAST((SELECT sum((y.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS nb
       |  FROM clc x JOIN clc y ON x.cluster = y.cluster AND x.vid < y.vid),
       |semscored AS (SELECT cluster, a, b, cosine FROM (
       |  SELECT cluster, a, b, dot / (sqrt(na) * sqrt(nb)) AS cosine FROM sp
       |  WHERE na > 0 AND nb > 0) t
       |  WHERE cosine >= $EmbDedupThreshold)""".stripMargin

  /** kNN-graph oracle CTE chain (`kg` = the directed in-cell top-3
    * neighbor graph) — kmeansCtes plus the capped cell join WITHOUT a
    * threshold and a per-vector rank window; shared by llm_knn_graph
    * and llm_knn_recall so the cell, cap, cosine and tie-break can't
    * drift between the graph and its recall ledger. */
  private lazy val knnCellCtes: String =
    s"""${kmeansCtes(AutoNlistSql)},
       |cl AS (SELECT e.vec_id AS vid, e.eq, a2.cluster
       |  FROM eq e JOIN a2 ON e.vec_id = a2.vec_id),
       |clc AS (SELECT vid, eq, cluster FROM (
       |  SELECT vid, eq, cluster, count(*) OVER (PARTITION BY cluster) AS bc FROM cl) t0
       |  WHERE bc BETWEEN 2 AND $SemMaxCluster),
       |kp AS (SELECT x.vid AS a, y.vid AS b,
       |  CAST((SELECT sum((x.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot,
       |  CAST((SELECT sum((x.eq)[i] * (x.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS na,
       |  CAST((SELECT sum((y.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS nb
       |  FROM clc x JOIN clc y ON x.cluster = y.cluster AND x.vid <> y.vid),
       |kcos AS (SELECT a, b, dot / (sqrt(na) * sqrt(nb)) AS cosine FROM kp
       |  WHERE na > 0 AND nb > 0),
       |kg AS (SELECT a, b, CAST(rn AS BIGINT) AS rank, cosine FROM (
       |  SELECT a, b, cosine, row_number() OVER (
       |    PARTITION BY a ORDER BY cosine DESC, b) AS rn FROM kcos) t
       |  WHERE rn <= 3)""".stripMargin

  /** Deterministic synthetic HTML around a document's text — the
    * llm_html_extract fixture, built with concat so the DuckDB oracle
    * constructs the IDENTICAL string with `||`. Exercises every
    * extractor stage: head (title+style) drop, script drop, comment
    * drop, link-only nav and footer (cut by link density), a kept
    * heading, the kept body paragraph, and a kept mixed prose+anchor
    * div with a double-escapable entity plus the numeric/hex
    * character-reference gamut: decimal (`&#65;`), hex (`&#x42;`), an
    * em-dash, an ASTRAL-plane emoji (`&#x1F600;`), the numeric
    * apostrophe spellings, a malformed reference (`&#xZZ;` — must
    * pass through verbatim), and a double-escaped numeric
    * (`&amp;#70;` — must survive as the literal `&#70;`). */
  private def syntheticHtml(docId: Column, text: Column): Column = {
    val k = docId.cast("string")
    concat(
      lit("<html><head><title>t"), k,
      lit("</title><style>p{color:red}</style></head><body>" +
        "<script>var x = 1 < 2;</script><!-- hidden "), k,
      lit(" --><nav><a href=\"/home\">Home</a> <a href=\"/about\">About page</a></nav>" +
        "<h1>Doc "), k,
      lit("</h1><p>"), text,
      lit("</p><div>See <a href=\"/more\">more docs &amp; info</a> and plenty " +
        "of surrounding prose so that this block stays well under the " +
        "link-density cut. Refs &#65;&#x42; &#8212; &#x1F600; " +
        "&#x27;q&#39; &#xZZ; &amp;#70;</div>" +
        "<footer><a href=\"/a\">A</a><a href=\"/b\">B</a></footer></body></html>"))
  }

  /** The [[syntheticHtml]] construction as a DuckDB expression over
    * `doc_id` and `text` columns. */
  private val SyntheticHtmlSql: String =
    """'<html><head><title>t' || CAST(doc_id AS VARCHAR) ||
      |'</title><style>p{color:red}</style></head><body>' ||
      |'<script>var x = 1 < 2;</script><!-- hidden ' || CAST(doc_id AS VARCHAR) ||
      |' --><nav><a href="/home">Home</a> <a href="/about">About page</a></nav>' ||
      |'<h1>Doc ' || CAST(doc_id AS VARCHAR) ||
      |'</h1><p>' || text ||
      |'</p><div>See <a href="/more">more docs &amp; info</a> and plenty ' ||
      |'of surrounding prose so that this block stays well under the ' ||
      |'link-density cut. Refs &#65;&#x42; &#8212; &#x1F600; ' ||
      |'&#x27;q&#39; &#xZZ; &amp;#70;</div>' ||
      |'<footer><a href="/a">A</a><a href="/b">B</a></footer></body></html>'"""
      .stripMargin.replace("\n", "\n  ")

  /** The [[graft.expr.kernels.HtmlEntityKernel]] numeric/hex
    * character-reference decode as a DuckDB expression over `e`: every
    * `&#` occurrence is a decode site (split on `&#`), a site decodes
    * iff 1..7 digits of its base + `;` follow and the value is a
    * Unicode scalar (1..0x10FFFF, non-surrogate) — chr() for the
    * codepoint — else the site re-emits itself verbatim. Split-and-
    * reassemble replays the kernel's single left-to-right input pass
    * exactly (produced characters are never rescanned on either
    * side). */
  private def sqlHtmlNumeric(e: String): String = {
    val num = "TRY_CAST(regexp_extract(pc, '^([0-9]{1,7});', 1) AS BIGINT)"
    val hx = "TRY_CAST('0x' || regexp_extract(pc, '^[xX]([0-9A-Fa-f]{1,7});', 1) AS BIGINT)"
    s"""(string_split($e, '&#')[1] || coalesce(list_aggr(list_transform(string_split($e, '&#')[2:], pc -> CASE
       |  WHEN regexp_matches(pc, '^[0-9]{1,7};') THEN (CASE
       |    WHEN $num BETWEEN 1 AND 1114111 AND $num NOT BETWEEN 55296 AND 57343
       |    THEN chr(CAST($num AS INTEGER)) || regexp_replace(pc, '^[0-9]{1,7};', '')
       |    ELSE '&#' || pc END)
       |  WHEN regexp_matches(pc, '^[xX][0-9A-Fa-f]{1,7};') THEN (CASE
       |    WHEN $hx BETWEEN 1 AND 1114111 AND $hx NOT BETWEEN 55296 AND 57343
       |    THEN chr(CAST($hx AS INTEGER)) || regexp_replace(pc, '^[xX][0-9A-Fa-f]{1,7};', '')
       |    ELSE '&#' || pc END)
       |  ELSE '&#' || pc END), 'string_agg', ''), ''))""".stripMargin
  }

  /** The [[graft.llm.Text.htmlVisibleText]] computation as a DuckDB
    * expression over `e`: tag strip, entity decodes in the contract
    * order (named, then numeric/hex references, &amp; LAST),
    * horizontal-whitespace collapse, trim. */
  private def sqlHtmlVisible(e: String): String = {
    val noTags = s"regexp_replace($e, '<[^>]*>', '', 'g')"
    val named = graft.llm.Text.HtmlNamedEntities.foldLeft(noTags) {
      case (c, (k, v)) => s"replace($c, '$k', '${v.replace("'", "''")}')"
    }
    val decoded = s"replace(${sqlHtmlNumeric(named)}, '&amp;', '&')"
    s"trim(regexp_replace($decoded, '[ \\t\\r]+', ' ', 'g'))"
  }

  /** Full htmlToText replay: CTEs `h` (markup) → `ex` (doc_id,
    * extracted) over the documents table. */
  private lazy val HtmlExtractCtes: String = {
    val noAnchor = """regexp_replace(b, '(?is)<a\b[^>]*>.*?</a>', '', 'g')"""
    val visB = sqlHtmlVisible("b")
    val visNoA = sqlHtmlVisible(noAnchor)
    s"""h AS (SELECT doc_id, $SyntheticHtmlSql AS html FROM documents),
       |hb AS (SELECT doc_id, string_split(
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    html,
       |    '(?s)<!--.*?-->', '', 'g'),
       |    '(?is)<head[^>]*>.*?</head>', '', 'g'),
       |    '(?is)<script[^>]*>.*?</script>', '', 'g'),
       |    '(?is)<style[^>]*>.*?</style>', '', 'g'),
       |    '${graft.llm.Text.BlockTagRe}', chr(10), 'g'),
       |  chr(10)) AS bl FROM h),
       |hk AS (SELECT doc_id, list_filter(bl, b ->
       |    length($visB) > 0 AND
       |    NOT (2 * (length($visB) - length($visNoA)) > length($visB))) AS kl
       |  FROM hb),
       |ex AS (SELECT doc_id, coalesce(array_to_string(
       |    list_transform(kl, b -> $visB), chr(10)), '') AS extracted
       |  FROM hk)""".stripMargin
  }

  /** Multi-probe kNN-graph oracle CTE chain, SUFFIXED so two nprobe
    * variants can share one WITH (and the one kmeans replay): the
    * [[knnCellCtes]] structure with the final assignment widened to
    * rn <= nprobe against the SAME trained c1 centroids (training
    * stays argmin — only graph-building assignment multi-probes,
    * mirroring kmeansClustersProbe), and candidate pairs deduped with
    * DISTINCT (a pair meeting in 2 shared cells must contribute one
    * edge). Produces ap/cl/clc/kp/kcos/kg each suffixed. `op` picks
    * the pair shape: `<>` directed (the graph), `<` undirected (the
    * SemDeDup path). */
  private def knnProbeCtes(np: Int, sfx: String, op: String = "<>"): String =
    s"""ap$sfx AS (SELECT vec_id, cid AS cluster FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    (SELECT sum((e.eq[i] - c.ceq[i]) * (e.eq[i] - c.ceq[i])) FROM range(1, 65) r(i)),
       |    c.cid) AS rn
       |  FROM eq e, c1 c) t WHERE rn <= $np),
       |cl$sfx AS (SELECT e.vec_id AS vid, e.eq, a.cluster
       |  FROM eq e JOIN ap$sfx a ON e.vec_id = a.vec_id),
       |clc$sfx AS (SELECT vid, eq, cluster FROM (
       |  SELECT vid, eq, cluster, count(*) OVER (PARTITION BY cluster) AS bc FROM cl$sfx) t0
       |  WHERE bc BETWEEN 2 AND $SemMaxCluster),
       |kp$sfx AS (SELECT x.vid AS a, y.vid AS b,
       |  CAST((SELECT sum((x.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot,
       |  CAST((SELECT sum((x.eq)[i] * (x.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS na,
       |  CAST((SELECT sum((y.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS nb
       |  FROM clc$sfx x JOIN clc$sfx y ON x.cluster = y.cluster AND x.vid $op y.vid),
       |kcos$sfx AS (SELECT DISTINCT a, b, dot / (sqrt(na) * sqrt(nb)) AS cosine FROM kp$sfx
       |  WHERE na > 0 AND nb > 0),
       |kg$sfx AS (SELECT a, b, CAST(rn AS BIGINT) AS rank, cosine FROM (
       |  SELECT a, b, cosine, row_number() OVER (
       |    PARTITION BY a ORDER BY cosine DESC, b) AS rn FROM kcos$sfx) t
       |  WHERE rn <= 3)""".stripMargin

  /** Label-propagation oracle tail (2 unrolled rounds + final select)
    * over any edge-producing graph CTE — shared by llm_graph_labelprop
    * (single-probe `kg`) and llm_graph_labelprop_probe2 (multi-probe
    * `kgp`) so the propagation replay cannot drift between them.
    * `lpe` is MATERIALIZED: inlined, DuckDB re-evaluates the graph CTE
    * per use (~19 GB of spill on `kgp`); the answer is the same. */
  private def labelpropTail(graphCte: String): String =
    s"""lpe AS MATERIALIZED (SELECT a, b, CAST(floor(cosine * 1000000) AS BIGINT) AS w FROM $graphCte),
       |seeds AS (SELECT vec_id AS vid,
       |    (CASE WHEN label = 0 THEN 1000000 ELSE 0 END)::BIGINT AS seed
       |  FROM embeddings WHERE vec_id < 100 AND label IN (0, 1)),
       |ids AS (SELECT DISTINCT vid FROM (
       |  SELECT a AS vid FROM lpe UNION ALL SELECT b FROM lpe
       |  UNION ALL SELECT vid FROM seeds) t0),
       |s0 AS (SELECT i.vid AS vid, coalesce(s.seed, 0)::BIGINT AS score,
       |    s.seed IS NOT NULL AS is_seed, s.seed AS seed
       |  FROM ids i LEFT JOIN seeds s USING (vid)),
       |n1 AS (SELECT e.a AS vid, CAST(floor(CAST(sum(e.w * s.score) AS DOUBLE)
       |      / CAST(sum(e.w) AS DOUBLE)) AS BIGINT) AS nbr
       |  FROM lpe e JOIN s0 s ON s.vid = e.b GROUP BY e.a
       |  HAVING sum(e.w) > 0),
       |s1 AS (SELECT s.vid AS vid,
       |    (CASE WHEN s.is_seed THEN s.seed ELSE coalesce(n.nbr, s.score) END)::BIGINT AS score,
       |    s.is_seed AS is_seed, s.seed AS seed
       |  FROM s0 s LEFT JOIN n1 n USING (vid)),
       |n2 AS (SELECT e.a AS vid, CAST(floor(CAST(sum(e.w * s.score) AS DOUBLE)
       |      / CAST(sum(e.w) AS DOUBLE)) AS BIGINT) AS nbr
       |  FROM lpe e JOIN s1 s ON s.vid = e.b GROUP BY e.a
       |  HAVING sum(e.w) > 0),
       |s2 AS (SELECT s.vid AS vid,
       |    (CASE WHEN s.is_seed THEN s.seed ELSE coalesce(n.nbr, s.score) END)::BIGINT AS score,
       |    s.is_seed AS is_seed
       |  FROM s1 s LEFT JOIN n2 n USING (vid))
       |SELECT vid, score AS score_micro, is_seed FROM s2 ORDER BY vid""".stripMargin

  /** Exact-graph oracle CTEs (ev/ep/ecos/eg) — the ground-truth side
    * shared by llm_knn_recall and llm_knn_recall_probes. */
  private lazy val knnExactCtes: String =
    s"""ev AS (SELECT vid, eq AS aeq FROM (SELECT vec_id AS vid, eq FROM eq) e0
       |  WHERE vid < 150),
       |ep AS (SELECT ev.vid AS a, c.vec_id AS b,
       |  CAST((SELECT sum((ev.aeq)[i] * (c.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot,
       |  CAST((SELECT sum((ev.aeq)[i] * (ev.aeq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS na,
       |  CAST((SELECT sum((c.eq)[i] * (c.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS nb
       |  FROM ev JOIN eq c ON c.vec_id <> ev.vid),
       |ecos AS (SELECT a, b, dot / (sqrt(na) * sqrt(nb)) AS cosine FROM ep
       |  WHERE na > 0 AND nb > 0),
       |eg AS (SELECT a, b FROM (SELECT a, b, row_number() OVER (
       |    PARTITION BY a ORDER BY cosine DESC, b) AS rn FROM ecos) t
       |  WHERE rn <= 3)""".stripMargin

  /** Shared CTE chain producing the MinHash+LSH candidate pairs with
    * exact-Jaccard scores (`scored`) — used by the llm_dedup_minhash_lsh,
    * llm_dedup_components and llm_dedup_keep_one oracles so the cap,
    * banding and threshold can't drift apart. `cap` mirrors
    * minHashLshPairs' maxBucket. */
  private def pairsCtes(cap: Int = Dedup.DefaultMaxBucket,
                        docWhere: String = "TRUE"): String =
    s"""${shingleCteFor(docWhere)},
       |sig AS (SELECT doc_id, hs, [${minhashExprs.mkString(",\n  ")}] AS mh FROM pre),
       |bands0 AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS band FROM sig),
       |bands AS (SELECT doc_id, band FROM (
       |  SELECT doc_id, band, count(*) OVER (PARTITION BY band) AS bc FROM bands0) t
       |  WHERE bc <= $cap),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
       |scored AS (SELECT a, b,
       |  CAST(len(list_intersect(xa.hs, xb.hs)) AS DOUBLE)
       |    / (len(xa.hs) + len(xb.hs) - len(list_intersect(xa.hs, xb.hs))) AS jaccard
       |  FROM cand JOIN pre xa ON cand.a = xa.doc_id JOIN pre xb ON cand.b = xb.doc_id)""".stripMargin

  private def simhashTerms(bits: Int = 16, src: String = "wh") = (0 until bits).map { b =>
    s"""CASE WHEN list_sum(list_transform($src,
       |  h -> CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |  THEN ${1L << b} ELSE 0 END""".stripMargin
  }

  /** Quantized element i of an embedding list (1-based), as BIGINT. */
  private def qElem(tbl: String) =
    s"CAST(round(CAST($tbl[i] AS DOUBLE) * 1000) AS BIGINT)"

  /** IVF ANN oracle, shared by llm_ann_ivf / llm_ann_ivf_indexed
    * (nprobe = 1) and llm_ann_ivf_probe2 (nprobe = 2). */
  private def ivfOracleSql(nprobe: Int): String =
    s"""WITH eq AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |cent AS (SELECT label, i AS pos, CAST(sum(eq[i]) AS BIGINT) AS s
       |  FROM eq, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM eq GROUP BY label),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eq WHERE vec_id < 3),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |best AS (SELECT qid, label FROM (
       |  SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)) t WHERE rn <= $nprobe),
       |scored AS (SELECT b.qid AS qid, b.label AS label, e.vec_id AS cid,
       |  CAST((SELECT sum((q.qe)[i] * (e.eq)[i]) FROM range(1, 65) t(i)) AS BIGINT) AS dot
       |  FROM best b JOIN q ON q.qid = b.qid JOIN eq e ON e.label = b.label
       |  WHERE e.vec_id <> b.qid)
       |SELECT qid, label, cid, rank, dot FROM (
       |  SELECT qid, label, cid, dot, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rank FROM scored) t
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  private lazy val IvfOracleSql: String = ivfOracleSql(1)

  /** PQ ANN oracle (shared by llm_ann_pq and llm_ann_pq_indexed): full
    * replay of floor-mean codebook training, per-subspace argmin
    * encoding (ties ORDER BY d, l = the Spark struct-min), per-query
    * ADC lookup tables, coarse-20 by ADC, exact rescore top-5. */
  private lazy val PqOracleSql: String =
    s"""WITH eq AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eq WHERE vec_id >= 3),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eq WHERE vec_id < 3),
       |cwp AS (SELECT label AS l, i AS pos,
       |    CAST(floor(CAST(sum(ce[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |dists AS (SELECT c.cid AS cid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum((c.ce[cwp.pos] - cwp.cw) * (c.ce[cwp.pos] - cwp.cw))
       |      AS BIGINT) AS d
       |  FROM c, cwp GROUP BY c.cid, cwp.l, (cwp.pos - 1) // 16),
       |codes AS (SELECT cid, s, l AS code FROM (
       |    SELECT cid, s, l, row_number() OVER (
       |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists) t
       |  WHERE rn = 1),
       |lut AS (SELECT q.qid AS qid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[cwp.pos] * cwp.cw) AS BIGINT) AS dp
       |  FROM q, cwp GROUP BY q.qid, cwp.l, (cwp.pos - 1) // 16),
       |adcs AS (SELECT codes.cid AS cid, lut.qid AS qid,
       |    CAST(sum(lut.dp) AS BIGINT) AS adc
       |  FROM codes JOIN lut ON lut.s = codes.s AND lut.l = codes.code
       |  GROUP BY codes.cid, lut.qid),
       |coarse AS (SELECT qid, cid, adc FROM (
       |    SELECT qid, cid, adc, row_number() OVER (
       |      PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM adcs) t
       |  WHERE rn <= 20),
       |r AS (SELECT coarse.qid AS qid, coarse.cid AS cid, coarse.adc AS adc,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM coarse JOIN q USING (qid) JOIN c USING (cid))
       |SELECT qid, cid, rank, dot, adc FROM (
       |  SELECT qid, cid, adc, dot, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rank FROM r) t
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Fixed BM25 query-term set, shared by the Spark query and oracle. */
  private val BmQueryTerms = Seq("spark", "vector", "hash")

  /** BM25 scoring CTE chain (`bmscored` = (doc_id, bm25)) — shared by
    * llm_bm25 and the RRF hybrid oracle so tokenization, idf
    * quantization and the float fold can't drift between them. */
  private lazy val Bm25Ctes: String = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val tfs = BmQueryTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ws, x -> x = '$t'))::BIGINT AS tf$i"
    }.mkString(", ")
    val dfs = BmQueryTerms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    val addends = BmQueryTerms.indices.map { i =>
      s"(floor(ln(${d("1.0")} + (${d("N")} - ${d(s"df$i")} + ${d("0.5")}) / (${d(s"df$i")} + ${d("0.5")})) * ${d("1000000")}) / ${d("1000000")})" +
        s" * (${d(s"tf$i")} * (${d("1.2")} + ${d("1.0")}))" +
        s" / (${d(s"tf$i")} + ${d("1.2")} * (${d("1.0")} - ${d("0.75")}" +
        s" + ${d("0.75")} * ${d("dl")} / (${d("tdl")} / ${d("N")})))"
    }.mkString(" + ")
    s"""w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
       |  FROM documents),
       |t AS (SELECT doc_id, len(ws)::BIGINT AS dl, $tfs FROM w),
       |stats AS (SELECT count(*)::BIGINT AS N, CAST(sum(dl) AS BIGINT) AS tdl,
       |  $dfs FROM t),
       |bmscored AS (SELECT doc_id, ${d("0.0")} + $addends AS bm25
       |  FROM t, stats)""".stripMargin
  }

  /** BM25 oracle: every constant cast to DOUBLE so DuckDB performs the
    * same IEEE double sequence as the Spark fold (its bare decimal
    * literals are DECIMAL-typed and would pre-fold 1.2 + 1 to an exact
    * 2.2, a different double than 1.2d + 1.0d). */
  private lazy val Bm25OracleSql: String =
    s"""WITH $Bm25Ctes
       |SELECT doc_id, bm25 FROM bmscored ORDER BY doc_id""".stripMargin

  /** Ground truth by construction for the media near-dup rows: the 3
    * variants of each fixture group (doc_id // 3) must pair with each
    * other and with nothing else. */
  private lazy val MediaGroupPairsOracleSql: String =
    """SELECT d1.doc_id AS a, d2.doc_id AS b
      |FROM documents d1 JOIN documents d2
      |  ON d1.doc_id // 3 = d2.doc_id // 3 AND d1.doc_id < d2.doc_id
      |WHERE d1.doc_id < 90 AND d2.doc_id < 90
      |ORDER BY a, b""".stripMargin

  /** Recall@3 oracle for IVF nprobe=1 vs nprobe=2 on the disjoint
    * query (vec_id < 100) / candidate (>= 100) split. */
  private lazy val IvfRecallOracleSql: String =
    s"""WITH eqa AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eqa WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 100),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |ranked AS (SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)),
       |scored AS (SELECT q.qid AS qid, c.cid AS cid, c.label AS label,
       |  CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i)) AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t WHERE rk <= 3),
       |ivf1 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid, row_number() OVER (
       |    PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN ranked r ON r.qid = s.qid AND r.label = s.label AND r.rn <= 1) t
       |  WHERE rk <= 3),
       |ivf2 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid, row_number() OVER (
       |    PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN ranked r ON r.qid = s.qid AND r.label = s.label AND r.rn <= 2) t
       |  WHERE rk <= 3),
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT method, n_queries, total_matches,
       |  CAST(total_matches AS DOUBLE) / (3.0 * n_queries) AS recall FROM (
       |  SELECT 'ivf_probe1' AS method, nq.n_queries AS n_queries,
       |    (SELECT count(*) FROM exact JOIN ivf1 USING (qid, cid)) AS total_matches FROM nq
       |  UNION ALL
       |  SELECT 'ivf_probe2', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN ivf2 USING (qid, cid)) FROM nq) t
       |ORDER BY method""".stripMargin

  /** Unrolled Lloyd-refinement replay of Similarity.pqCodebooksRefined
    * over CTEs `c` (cid, …, ce) and `cwp` (l, pos, cw — the init):
    * round r assigns every (cid, subspace) to its nearest codeword of
    * rcw_{r-1} (exact integer L2², ties lowest codeword — the same
    * order as the engine's dot-identity argmin, which differs only by
    * a per-(cid, s) constant) and floor-mean-updates, keeping a
    * codeword unchanged when nothing picks it (LEFT JOIN + coalesce =
    * the engine's getOrElse fallback). Emits steps 1..rounds+1; step
    * rounds+1's `rcodes_*` is the SERVING encode against the final
    * books rcw_{rounds} (its unused rcw update is never evaluated —
    * DuckDB inlines CTEs on demand). */
  private def pqRefineCtes(rounds: Int): String =
    (Seq(
      """cev AS (SELECT cid, i AS pos, ce[i] AS v, (i - 1) // 16 AS s
        |  FROM c, range(1, 65) t(i))""".stripMargin,
      "rcw_0 AS (SELECT l, pos, cw FROM cwp)") :+
      refineStepCtes("cev", "r", rounds)).mkString(",\n")

  /** The per-round refinement steps over an exploded value CTE
    * `cev(cid, pos, v, s)` with books `${p}cw_0` — shared between the
    * raw chain ([[pqRefineCtes]]) and the residual chain (values =
    * residual arrays, init = the cid-modulo books). */
  private def refineStepCtes(cev: String, p: String, rounds: Int): String =
    (1 to rounds + 1).map { r =>
      s"""${p}dists_$r AS (SELECT $cev.cid AS cid, w.l AS l, $cev.s AS s,
         |    CAST(sum(($cev.v - w.cw) * ($cev.v - w.cw)) AS BIGINT) AS d
         |  FROM $cev JOIN ${p}cw_${r - 1} w ON w.pos = $cev.pos
         |  GROUP BY $cev.cid, w.l, $cev.s),
         |${p}codes_$r AS (SELECT cid, s, l AS code FROM (
         |    SELECT cid, s, l, row_number() OVER (
         |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM ${p}dists_$r) t
         |  WHERE rn = 1),
         |${p}cw_$r AS (SELECT p.l AS l, p.pos AS pos, coalesce(u.cw, p.cw) AS cw
         |  FROM ${p}cw_${r - 1} p LEFT JOIN (
         |    SELECT rc.code AS l, $cev.pos AS pos,
         |      CAST(floor(CAST(sum($cev.v) AS DOUBLE) / count(*)) AS BIGINT) AS cw
         |    FROM $cev JOIN ${p}codes_$r rc ON rc.cid = $cev.cid AND rc.s = $cev.s
         |    GROUP BY rc.code, $cev.pos) u ON u.l = p.l AND u.pos = p.pos)""".stripMargin
    }.mkString(",\n")

  /** The refined-books serving LUT + ADC CTEs shared by the two recall
    * oracles (`rlut` over the final books, `rcodes_3` = the serving
    * encode from [[pqRefineCtes]](2)). */
  private val RefinedLutCte: String =
    """rlut AS (SELECT q.qid AS qid, w.l AS l, (w.pos - 1) // 16 AS s,
      |    CAST(sum(q.qe[w.pos] * w.cw) AS BIGINT) AS dp
      |  FROM q, rcw_2 w GROUP BY q.qid, w.l, (w.pos - 1) // 16)""".stripMargin

  /** PQ recall@3 oracle (coarse 5 vs 20, plus the 2-round-refined
    * books at coarse 20) on the disjoint query (vec_id < 100) /
    * candidate (>= 100) split — full PQ replay with codebooks trained
    * on the candidate side only. */
  private lazy val PqRecallOracleSql: String =
    s"""WITH eqa AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eqa WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 100),
       |cwp AS (SELECT label AS l, i AS pos,
       |    CAST(floor(CAST(sum(ce[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |dists AS (SELECT c.cid AS cid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum((c.ce[cwp.pos] - cwp.cw) * (c.ce[cwp.pos] - cwp.cw))
       |      AS BIGINT) AS d
       |  FROM c, cwp GROUP BY c.cid, cwp.l, (cwp.pos - 1) // 16),
       |codes AS (SELECT cid, s, l AS code FROM (
       |    SELECT cid, s, l, row_number() OVER (
       |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists) t
       |  WHERE rn = 1),
       |lut AS (SELECT q.qid AS qid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[cwp.pos] * cwp.cw) AS BIGINT) AS dp
       |  FROM q, cwp GROUP BY q.qid, cwp.l, (cwp.pos - 1) // 16),
       |adcs AS (SELECT codes.cid AS cid, lut.qid AS qid,
       |    CAST(sum(lut.dp) AS BIGINT) AS adc
       |  FROM codes JOIN lut ON lut.s = codes.s AND lut.l = codes.code
       |  GROUP BY codes.cid, lut.qid),
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t
       |  WHERE rk <= 3),
       |co5 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM adcs) t
       |  WHERE rn <= 5),
       |pq5 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN co5 USING (qid, cid)) t WHERE rk <= 3),
       |co20 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM adcs) t
       |  WHERE rn <= 20),
       |pq20 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN co20 USING (qid, cid)) t WHERE rk <= 3),
       |${pqRefineCtes(2)},
       |$RefinedLutCte,
       |radcs AS (SELECT rc.cid AS cid, rlut.qid AS qid,
       |    CAST(sum(rlut.dp) AS BIGINT) AS adc
       |  FROM rcodes_3 rc JOIN rlut ON rlut.s = rc.s AND rlut.l = rc.code
       |  GROUP BY rc.cid, rlut.qid),
       |rco20 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM radcs) t
       |  WHERE rn <= 20),
       |rpq20 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN rco20 USING (qid, cid)) t WHERE rk <= 3),
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT method, n_queries, total_matches,
       |  CAST(total_matches AS DOUBLE) / (3.0 * n_queries) AS recall FROM (
       |  SELECT 'pq_coarse20' AS method, nq.n_queries AS n_queries,
       |    (SELECT count(*) FROM exact JOIN pq20 USING (qid, cid)) AS total_matches FROM nq
       |  UNION ALL
       |  SELECT 'pq_coarse5', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN pq5 USING (qid, cid)) FROM nq
       |  UNION ALL
       |  SELECT 'pq_it2_coarse20', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN rpq20 USING (qid, cid)) FROM nq) t
       |ORDER BY method""".stripMargin

  /** SQ8 per-dim quantizer + codes + decode CTEs, parameterized by the
    * candidate split: `qt` is the trained (pos, vmin, vdiff) grid,
    * `sdec` the per-(cid, pos) reconstruction vmin + (code·vdiff)//255
    * with code = ((v - vmin)·255)//vdiff (all non-negative, so DuckDB
    * `//` IS the engine's floor). Shared by the serve and recall
    * oracles so grid, codes and decode can't drift. */
  private def sq8Ctes: String =
    s"""qt AS (SELECT i AS pos, min(ce[i]) AS vmin,
       |    max(ce[i]) - min(ce[i]) AS vdiff
       |  FROM c, range(1, 65) t(i) GROUP BY i),
       |sdec AS (SELECT c.cid AS cid, qt.pos AS pos,
       |    qt.vmin + CASE WHEN qt.vdiff = 0 THEN 0
       |      ELSE ((((c.ce[qt.pos] - qt.vmin) * 255) // qt.vdiff)
       |        * qt.vdiff) // 255 END AS dv
       |  FROM c, qt),
       |sadcs AS (SELECT q.qid AS qid, d.cid AS cid,
       |    CAST(sum(q.qe[d.pos] * d.dv) AS BIGINT) AS adc
       |  FROM q, sdec d GROUP BY q.qid, d.cid)""".stripMargin

  /** SQ8 serving oracle (llm_ann_sq8; llm_ann_sq8_append shares it —
    * the frozen-grid append answers identically to a full build):
    * trained grid replay, decode, ADC coarse-20, exact rescore top-5. */
  private lazy val Sq8OracleSql: String =
    s"""WITH eq AS (SELECT vec_id,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, eq AS ce FROM eq WHERE vec_id >= 3),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eq WHERE vec_id < 3),
       |$sq8Ctes,
       |co AS (SELECT qid, cid, adc FROM (SELECT qid, cid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rn
       |  FROM sadcs) t WHERE rn <= 20),
       |resc AS (SELECT co.qid AS qid, co.cid AS cid, co.adc AS adc,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM co JOIN q ON q.qid = co.qid JOIN c ON c.cid = co.cid)
       |SELECT qid, cid, CAST(rk AS BIGINT) AS rank, dot, adc FROM (
       |  SELECT qid, cid, dot, adc, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM resc) t
       |WHERE rk <= 5 ORDER BY qid, rank""".stripMargin

  /** SQ8 recall-ledger oracle (llm_ann_sq8_recall): the PqRecall
    * machinery over the scalar codes at coarse 5 and 20. */
  private lazy val Sq8RecallOracleSql: String =
    s"""WITH eqa AS (SELECT vec_id,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, eq AS ce FROM eqa WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 100),
       |$sq8Ctes,
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t
       |  WHERE rk <= 3),
       |co5 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM sadcs) t
       |  WHERE rn <= 5),
       |sq5 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN co5 USING (qid, cid)) t WHERE rk <= 3),
       |co20 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM sadcs) t
       |  WHERE rn <= 20),
       |sq20 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN co20 USING (qid, cid)) t WHERE rk <= 3),
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT method, n_queries, total_matches,
       |  CAST(total_matches AS DOUBLE) / (3.0 * n_queries) AS recall FROM (
       |  SELECT 'sq8_coarse20' AS method, nq.n_queries AS n_queries,
       |    (SELECT count(*) FROM exact JOIN sq20 USING (qid, cid)) AS total_matches FROM nq
       |  UNION ALL
       |  SELECT 'sq8_coarse5', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN sq5 USING (qid, cid)) FROM nq) t
       |ORDER BY method""".stripMargin

  /** IVF-SQ8 serving oracle (llm_ann_ivfsq8): the IVF probe CTEs
    * (centroid mean-dot, nprobe = 2) composed with the SQ8 grid/
    * decode CTEs, ADC restricted to candidates in probed cells,
    * coarse-20, exact rescore top-5. The shared sq8Ctes' unrestricted
    * `sadcs` CTE goes unreferenced here (DuckDB only evaluates
    * referenced CTEs). */
  private lazy val IvfSq8OracleSql: String =
    s"""WITH eqa AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eqa WHERE vec_id >= 3),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 3),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |best AS (SELECT qid, label FROM (
       |  SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)) t WHERE rn <= 2),
       |$sq8Ctes,
       |psadcs AS (SELECT b.qid AS qid, d.cid AS cid,
       |    CAST(sum(q.qe[d.pos] * d.dv) AS BIGINT) AS adc
       |  FROM best b JOIN c ON c.label = b.label
       |  JOIN sdec d ON d.cid = c.cid
       |  JOIN q ON q.qid = b.qid
       |  GROUP BY b.qid, d.cid),
       |co AS (SELECT qid, cid, adc FROM (SELECT qid, cid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rn
       |  FROM psadcs) t WHERE rn <= 20),
       |resc AS (SELECT co.qid AS qid, co.cid AS cid, co.adc AS adc,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM co JOIN q ON q.qid = co.qid JOIN c ON c.cid = co.cid)
       |SELECT qid, cid, CAST(rk AS BIGINT) AS rank, dot, adc FROM (
       |  SELECT qid, cid, dot, adc, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM resc) t
       |WHERE rk <= 5 ORDER BY qid, rank""".stripMargin

  /** IVF-SQ8 recall-ledger oracle (llm_ann_ivfsq8_recall): the probe
    * machinery on the 100-split swept over nprobe {1, 2}, SQ8 decode,
    * restricted ADC, coarse-20, exact-rescore top-3, recall vs brute
    * force. */
  private lazy val IvfSq8RecallOracleSql: String =
    s"""WITH eqa AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eqa WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 100),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |bestr AS (SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)),
       |$sq8Ctes,
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t
       |  WHERE rk <= 3),
       |pad1 AS (SELECT b.qid AS qid, d.cid AS cid,
       |    CAST(sum(q.qe[d.pos] * d.dv) AS BIGINT) AS adc
       |  FROM (SELECT qid, label FROM bestr WHERE rn <= 1) b
       |  JOIN c ON c.label = b.label JOIN sdec d ON d.cid = c.cid
       |  JOIN q ON q.qid = b.qid GROUP BY b.qid, d.cid),
       |co1 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM pad1) t
       |  WHERE rn <= 20),
       |sv1 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN co1 USING (qid, cid)) t WHERE rk <= 3),
       |pad2 AS (SELECT b.qid AS qid, d.cid AS cid,
       |    CAST(sum(q.qe[d.pos] * d.dv) AS BIGINT) AS adc
       |  FROM (SELECT qid, label FROM bestr WHERE rn <= 2) b
       |  JOIN c ON c.label = b.label JOIN sdec d ON d.cid = c.cid
       |  JOIN q ON q.qid = b.qid GROUP BY b.qid, d.cid),
       |co2 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM pad2) t
       |  WHERE rn <= 20),
       |sv2 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN co2 USING (qid, cid)) t WHERE rk <= 3),
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT method, n_queries, total_matches,
       |  CAST(total_matches AS DOUBLE) / (3.0 * n_queries) AS recall FROM (
       |  SELECT 'ivfsq8_probe1' AS method, nq.n_queries AS n_queries,
       |    (SELECT count(*) FROM exact JOIN sv1 USING (qid, cid)) AS total_matches FROM nq
       |  UNION ALL
       |  SELECT 'ivfsq8_probe2', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN sv2 USING (qid, cid)) FROM nq) t
       |ORDER BY method""".stripMargin

  /** IVFPQ serving oracle (llm_ann_ivfpq): full replay of the coarse
    * probe (centroid mean-dot, nprobe = 2 — the IVF oracle's `best`
    * CTE), PQ training/encoding (the PQ oracle's CTEs), ADC restricted
    * to candidates whose coarse cluster is probed, coarse-20, exact
    * rescore top-5. */
  private lazy val IvfPqOracleSql: String =
    s"""WITH eq AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eq WHERE vec_id >= 3),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eq WHERE vec_id < 3),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |best AS (SELECT qid, label FROM (
       |  SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)) t WHERE rn <= 2),
       |cwp AS (SELECT label AS l, i AS pos,
       |    CAST(floor(CAST(sum(ce[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |dists AS (SELECT c.cid AS cid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum((c.ce[cwp.pos] - cwp.cw) * (c.ce[cwp.pos] - cwp.cw))
       |      AS BIGINT) AS d
       |  FROM c, cwp GROUP BY c.cid, cwp.l, (cwp.pos - 1) // 16),
       |codes AS (SELECT cid, s, l AS code FROM (
       |    SELECT cid, s, l, row_number() OVER (
       |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists) t
       |  WHERE rn = 1),
       |lut AS (SELECT q.qid AS qid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[cwp.pos] * cwp.cw) AS BIGINT) AS dp
       |  FROM q, cwp GROUP BY q.qid, cwp.l, (cwp.pos - 1) // 16),
       |adcs AS (SELECT codes.cid AS cid, b.qid AS qid,
       |    CAST(sum(lut.dp) AS BIGINT) AS adc
       |  FROM codes JOIN c ON c.cid = codes.cid
       |  JOIN best b ON b.label = c.label
       |  JOIN lut ON lut.qid = b.qid AND lut.s = codes.s AND lut.l = codes.code
       |  GROUP BY codes.cid, b.qid),
       |coarse AS (SELECT qid, cid, adc FROM (
       |    SELECT qid, cid, adc, row_number() OVER (
       |      PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM adcs) t
       |  WHERE rn <= 20),
       |r AS (SELECT coarse.qid AS qid, coarse.cid AS cid, coarse.adc AS adc,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM coarse JOIN q USING (qid) JOIN c USING (cid))
       |SELECT qid, cid, rank, dot, adc FROM (
       |  SELECT qid, cid, adc, dot, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rank FROM r) t
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** IVFPQ recall/scan ledger oracle (llm_ann_ivfpq_recall): exact
    * top-3 truth, plain-PQ full-scan serving, IVFPQ at nprobe 1 and 2
    * (all coarse-20), each with its scanned-code volume — pq_full
    * scans |queries|×|candidates| codes, IVFPQ only the probed
    * clusters'. */
  private lazy val IvfPqRecallOracleSql: String = {
    def probeAdcs(tag: String, n: Int) =
      s"""adcs_$tag AS (SELECT codes.cid AS cid, r.qid AS qid,
         |    CAST(sum(lut.dp) AS BIGINT) AS adc
         |  FROM codes JOIN c ON c.cid = codes.cid
         |  JOIN ranked r ON r.label = c.label AND r.rn <= $n
         |  JOIN lut ON lut.qid = r.qid AND lut.s = codes.s AND lut.l = codes.code
         |  GROUP BY codes.cid, r.qid)""".stripMargin
    def topOf(tag: String) =
      s"""co_$tag AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM adcs_$tag) t
         |  WHERE rn <= 20),
         |top_$tag AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
         |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
         |  FROM scored s JOIN co_$tag USING (qid, cid)) t WHERE rk <= 3)""".stripMargin
    s"""WITH eqa AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eqa WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 100),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |ranked AS (SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)),
       |cwp AS (SELECT label AS l, i AS pos,
       |    CAST(floor(CAST(sum(ce[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |dists AS (SELECT c.cid AS cid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum((c.ce[cwp.pos] - cwp.cw) * (c.ce[cwp.pos] - cwp.cw))
       |      AS BIGINT) AS d
       |  FROM c, cwp GROUP BY c.cid, cwp.l, (cwp.pos - 1) // 16),
       |codes AS (SELECT cid, s, l AS code FROM (
       |    SELECT cid, s, l, row_number() OVER (
       |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists) t
       |  WHERE rn = 1),
       |lut AS (SELECT q.qid AS qid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[cwp.pos] * cwp.cw) AS BIGINT) AS dp
       |  FROM q, cwp GROUP BY q.qid, cwp.l, (cwp.pos - 1) // 16),
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |  CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i)) AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t WHERE rk <= 3),
       |adcs_full AS (SELECT codes.cid AS cid, lut.qid AS qid,
       |    CAST(sum(lut.dp) AS BIGINT) AS adc
       |  FROM codes JOIN lut ON lut.s = codes.s AND lut.l = codes.code
       |  GROUP BY codes.cid, lut.qid),
       |${probeAdcs("p1", 1)},
       |${probeAdcs("p2", 2)},
       |${topOf("full")},
       |${topOf("p1")},
       |${topOf("p2")},
       |${pqRefineCtes(2)},
       |$RefinedLutCte,
       |radcs_p2 AS (SELECT rc.cid AS cid, r.qid AS qid,
       |    CAST(sum(rlut.dp) AS BIGINT) AS adc
       |  FROM rcodes_3 rc JOIN c ON c.cid = rc.cid
       |  JOIN ranked r ON r.label = c.label AND r.rn <= 2
       |  JOIN rlut ON rlut.qid = r.qid AND rlut.s = rc.s AND rlut.l = rc.code
       |  GROUP BY rc.cid, r.qid),
       |rco_p2 AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM radcs_p2) t
       |  WHERE rn <= 20),
       |rtop_p2 AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN rco_p2 USING (qid, cid)) t WHERE rk <= 3),
       |nq AS (SELECT count(*) AS n_queries FROM q),
       |ncodes AS (SELECT count(*) AS n_codes FROM c),
       |scan_p1 AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS sc
       |  FROM ranked JOIN cnt USING (label) WHERE rn <= 1),
       |scan_p2 AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS sc
       |  FROM ranked JOIN cnt USING (label) WHERE rn <= 2)
       |SELECT method, n_queries, total_matches,
       |  CAST(total_matches AS DOUBLE) / (3.0 * n_queries) AS recall,
       |  scanned_codes FROM (
       |  SELECT 'pq_full' AS method, nq.n_queries AS n_queries,
       |    (SELECT count(*) FROM exact JOIN top_full USING (qid, cid)) AS total_matches,
       |    (SELECT n_codes FROM ncodes) * nq.n_queries AS scanned_codes FROM nq
       |  UNION ALL
       |  SELECT 'ivfpq_probe1', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN top_p1 USING (qid, cid)),
       |    (SELECT sc FROM scan_p1) FROM nq
       |  UNION ALL
       |  SELECT 'ivfpq_probe2', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN top_p2 USING (qid, cid)),
       |    (SELECT sc FROM scan_p2) FROM nq
       |  UNION ALL
       |  SELECT 'ivfpq_probe2_it2', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN rtop_p2 USING (qid, cid)),
       |    (SELECT sc FROM scan_p2) FROM nq) t
       |ORDER BY method""".stripMargin
  }

  /** Native-HLL per-source profile replay — shared by
    * llm_sketch_profile (direct build) and llm_hll_incremental (the
    * persisted store after a register-max append; identical by the
    * max monoid). */
  private lazy val HllProfileOracleSql: String =
    """WITH g AS (
      |  SELECT source, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS ngram
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS w FROM documents) t0),
      |h AS (SELECT source, ('0x' || substr(md5(ngram), 1, 15))::BIGINT AS h FROM g),
      |regs AS (SELECT source, h % 4096 AS idx,
      |    MAX(49 - length(ltrim(bin(h // 4096), '0')))::BIGINT AS r
      |  FROM h GROUP BY source, h % 4096),
      |agg AS (SELECT source, count(*)::BIGINT AS nreg,
      |    CAST(sum(1::BIGINT << CAST(49 - r AS INTEGER)) AS BIGINT) AS sp
      |  FROM regs GROUP BY source),
      |raw AS (SELECT source, nreg,
      |    CAST('6810691388924259720096645120'::HUGEINT
      |      // (sp + (4096 - nreg) * 562949953421312)::HUGEINT AS BIGINT) AS raw_micro
      |  FROM agg)
      |SELECT source, nreg,
      |  CASE WHEN nreg < 4096 AND raw_micro <= 10240000000
      |    THEN CAST(floor(CAST(4096 AS DOUBLE) *
      |      ln(CAST(4096 AS DOUBLE) / (4096 - nreg)) * CAST(1000000 AS DOUBLE)) AS BIGINT)
      |    ELSE raw_micro END AS est_distinct_micro
      |FROM raw ORDER BY source""".stripMargin

  /** Log-linear quantile-sketch replay CTEs (registers → cumulative
    * rank walk → enclosure decode), parameterized by the group
    * expression and quantile targets; subBits = 5 matches the engine
    * default. Exact integer throughout — octave via bin-length,
    * sub-bucket and decode via shifts, rank via floor-division — so
    * the estimates replay hash-identically. */
  private def qSketchOracleCtes(sourceExpr: String, qs: Seq[Int],
                                sb: Int = 5, weightSql: String = "1"): String = {
    val m = 1 << sb
    s"""WITH vals AS (SELECT $sourceExpr AS source, length(text)::BIGINT AS v,
       |    CAST($weightSql AS BIGINT) AS wt
       |  FROM documents WHERE text IS NOT NULL),
       |b AS (SELECT source, v + 1 AS w, wt,
       |    (length(bin(v + 1)) - 1)::BIGINT AS e FROM vals),
       |regs AS (SELECT source,
       |    e * $m + (w >> CAST(greatest(e - $sb, 0) AS INT))
       |      - (1::BIGINT << CAST(least(e, $sb) AS INT)) AS bucket,
       |    CAST(sum(wt) AS BIGINT) AS cnt
       |  FROM b GROUP BY 1, 2),
       |cum AS (SELECT source, bucket, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM regs),
       |q AS (SELECT CAST(unnest([${qs.mkString(", ")}]) AS BIGINT) AS q_mille),
       |pick AS (SELECT c.source, q.q_mille, c.n, c.bucket
       |  FROM cum c, q
       |  WHERE c.cum >= greatest(1, (c.n * q.q_mille + 999) // 1000)
       |    AND c.cum - c.cnt < greatest(1, (c.n * q.q_mille + 999) // 1000)),
       |dec AS (SELECT source, q_mille, n, bucket // $m AS e,
       |    bucket % $m AS sub FROM pick),
       |est AS (SELECT source, q_mille, n,
       |    ((((1::BIGINT << CAST(least(e, $sb) AS INT)) + sub)
       |      << CAST(greatest(e - $sb, 0) AS INT)) - 1)::BIGINT AS est_lo,
       |    ((((1::BIGINT << CAST(least(e, $sb) AS INT)) + sub)
       |      << CAST(greatest(e - $sb, 0) AS INT))
       |      + (1::BIGINT << CAST(greatest(e - $sb, 0) AS INT)) - 2)::BIGINT AS est_hi
       |  FROM dec)""".stripMargin
  }

  private def qSketchOracleSql(sourceExpr: String, qs: Seq[Int],
                               orderBy: String,
                               weightSql: String = "1"): String =
    s"""${qSketchOracleCtes(sourceExpr, qs, weightSql = weightSql)}
       |SELECT source, q_mille, n, est_lo, est_hi FROM est
       |ORDER BY $orderBy""".stripMargin

  /** Shared by llm_qsketch_profile (direct build) and
    * llm_qsketch_incremental (the persisted store after marker-gated
    * appends; identical by the sum monoid + exactly-once markers). */
  private lazy val QSketchProfileOracleSql: String =
    qSketchOracleSql("source", Seq(500, 900, 990), "source, q_mille")

  /** Geometry-grid oracle (llm_qsketch_grid): one full replay per
    * subBits cell, each as a WITH-in-subquery block, unioned. */
  private lazy val QSketchGridOracleSql: String = {
    val cells = Seq(3, 5, 7).map { sb =>
      s"""(${qSketchOracleCtes("'all'", Seq(500, 990), sb)},
         |nr AS (SELECT count(*)::BIGINT AS n_regs FROM regs)
         |SELECT CAST($sb AS BIGINT) AS sub_bits, q_mille, n, est_lo, est_hi,
         |  (est_hi - est_lo)::BIGINT AS width, nr.n_regs AS n_regs
         |FROM est, nr)""".stripMargin
    }
    s"""WITH u AS (
       |${cells.mkString("\nUNION ALL\n")}
       |),
       |t1 AS (SELECT *, min(width) OVER (PARTITION BY q_mille) AS bw FROM u),
       |t2 AS (SELECT *, min(CASE WHEN width * 9 <= bw * 10
       |    THEN n_regs * 1000 + sub_bits END)
       |  OVER (PARTITION BY q_mille) AS kmin FROM t1)
       |SELECT sub_bits, q_mille, n, est_lo, est_hi, width, n_regs,
       |  (width * 9 <= bw * 10 AND n_regs * 1000 + sub_bits = kmin) AS chosen
       |FROM t2 ORDER BY sub_bits, q_mille""".stripMargin
  }

  /** IVFPQ tuning-grid oracle (llm_ann_ivfpq_grid): the recall
    * machinery of [[IvfPqRecallOracleSql]] swept over nprobe {1,2,4} ×
    * coarse {10,20,40} — ONE codebook/code/probe replay, nine cells,
    * each with its scanned-code volume. */
  private lazy val IvfPqGridOracleSql: String = {
    val nprobes = Seq(1, 2, 4)
    val coarses = Seq(10, 20, 40)
    def adcs(n: Int) =
      s"""adcs_n$n AS (SELECT codes.cid AS cid, r.qid AS qid,
         |    CAST(sum(lut.dp) AS BIGINT) AS adc
         |  FROM codes JOIN c ON c.cid = codes.cid
         |  JOIN ranked r ON r.label = c.label AND r.rn <= $n
         |  JOIN lut ON lut.qid = r.qid AND lut.s = codes.s AND lut.l = codes.code
         |  GROUP BY codes.cid, r.qid)""".stripMargin
    def tops(n: Int, cw: Int) =
      s"""co_${n}_$cw AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM adcs_n$n) t
         |  WHERE rn <= $cw),
         |top_${n}_$cw AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
         |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
         |  FROM scored s JOIN co_${n}_$cw USING (qid, cid)) t WHERE rk <= 3)""".stripMargin
    def scan(n: Int) =
      s"""scan_n$n AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS sc
         |  FROM ranked JOIN cnt USING (label) WHERE rn <= $n)""".stripMargin
    val rows = (for { n <- nprobes; cw <- coarses } yield
      s"""SELECT CAST($n AS BIGINT) AS nprobe, CAST($cw AS BIGINT) AS coarse,
         |    nq.n_queries AS n_queries,
         |    (SELECT count(*) FROM exact JOIN top_${n}_$cw USING (qid, cid)) AS total_matches,
         |    CAST((SELECT count(*) FROM exact JOIN top_${n}_$cw USING (qid, cid)) AS DOUBLE)
         |      / (3.0 * nq.n_queries) AS recall,
         |    (SELECT sc FROM scan_n$n) AS scanned_codes FROM nq""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH eqa AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eqa WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 100),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |ranked AS (SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)),
       |cwp AS (SELECT label AS l, i AS pos,
       |    CAST(floor(CAST(sum(ce[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |dists AS (SELECT c.cid AS cid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum((c.ce[cwp.pos] - cwp.cw) * (c.ce[cwp.pos] - cwp.cw))
       |      AS BIGINT) AS d
       |  FROM c, cwp GROUP BY c.cid, cwp.l, (cwp.pos - 1) // 16),
       |codes AS (SELECT cid, s, l AS code FROM (
       |    SELECT cid, s, l, row_number() OVER (
       |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists) t
       |  WHERE rn = 1),
       |lut AS (SELECT q.qid AS qid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[cwp.pos] * cwp.cw) AS BIGINT) AS dp
       |  FROM q, cwp GROUP BY q.qid, cwp.l, (cwp.pos - 1) // 16),
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |  CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i)) AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t WHERE rk <= 3),
       |${nprobes.map(adcs).mkString(",\n")},
       |${(for { n <- nprobes; cw <- coarses } yield tops(n, cw)).mkString(",\n")},
       |${nprobes.map(scan).mkString(",\n")},
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT nprobe, coarse, n_queries, total_matches, recall,
       |  scanned_codes,
       |  (total_matches * 10 >= 9 * mm AND key = kmin) AS chosen
       |FROM (
       |  SELECT *, min(CASE WHEN total_matches * 10 >= 9 * mm
       |      THEN key END) OVER () AS kmin
       |  FROM (
       |    SELECT *, max(total_matches) OVER () AS mm,
       |      scanned_codes * 1000000 + nprobe * 1000 + coarse AS key
       |    FROM (
       |  $rows) t0) t1) t2
       |ORDER BY nprobe, coarse""".stripMargin
  }

  /** Residual-IVFPQ CTE chain over candidate CTE `c` (cid, label, ce)
    * and query CTE `q` (qid, qe), with `cent`/`cnt` present: centroid
    * floor-means, per-position residuals, cid%8-init codebooks,
    * argmin codes, query LUTs, and the per-(query, cluster) exact
    * centroid dot. Shared by the residual serve oracle and the
    * residual recall ledger so the replay cannot drift. */
  private def residualPqCtes(tag: String): String =
    s"""cmean AS (SELECT cent.label AS label, cent.pos AS pos,
       |    CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) AS cm
       |  FROM cent JOIN cnt USING (label)),
       |residp AS (SELECT c.cid AS cid, cm.pos AS pos,
       |    c.ce[cm.pos] - cm.cm AS rv
       |  FROM c JOIN cmean cm ON cm.label = c.label),
       |cwp_$tag AS (SELECT cid % 8 AS l, pos,
       |    CAST(floor(CAST(sum(rv) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM residp GROUP BY cid % 8, pos),
       |dists_$tag AS (SELECT rp.cid AS cid, w.l AS l, (rp.pos - 1) // 16 AS s,
       |    CAST(sum((rp.rv - w.cw) * (rp.rv - w.cw)) AS BIGINT) AS d
       |  FROM residp rp JOIN cwp_$tag w ON w.pos = rp.pos
       |  GROUP BY rp.cid, w.l, (rp.pos - 1) // 16),
       |codes_$tag AS (SELECT cid, s, l AS code FROM (
       |    SELECT cid, s, l, row_number() OVER (
       |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists_$tag) t
       |  WHERE rn = 1),
       |lut_$tag AS (SELECT q.qid AS qid, w.l AS l, (w.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[w.pos] * w.cw) AS BIGINT) AS dp
       |  FROM q, cwp_$tag w GROUP BY q.qid, w.l, (w.pos - 1) // 16),
       |qc AS (SELECT q.qid AS qid, cm.label AS label,
       |    CAST(sum(q.qe[cm.pos] * cm.cm) AS BIGINT) AS qcdot
       |  FROM q, cmean cm GROUP BY q.qid, cm.label)""".stripMargin

  /** Residual IVFPQ serving oracle (llm_ann_ivfpq_residual): probe
    * nprobe=2, residual ADC + centroid-dot offset over probed
    * clusters only, coarse-20, exact rescore top-5. */
  private lazy val IvfPqResidualOracleSql: String =
    s"""WITH eq AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eq WHERE vec_id >= 3),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eq WHERE vec_id < 3),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |best AS (SELECT qid, label FROM (
       |  SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)) t WHERE rn <= 2),
       |${residualPqCtes("r")},
       |adcs AS (SELECT codes_r.cid AS cid, b.qid AS qid,
       |    qc.qcdot + CAST(sum(lut_r.dp) AS BIGINT) AS adc
       |  FROM codes_r JOIN c ON c.cid = codes_r.cid
       |  JOIN best b ON b.label = c.label
       |  JOIN qc ON qc.qid = b.qid AND qc.label = c.label
       |  JOIN lut_r ON lut_r.qid = b.qid AND lut_r.s = codes_r.s
       |    AND lut_r.l = codes_r.code
       |  GROUP BY codes_r.cid, b.qid, qc.qcdot),
       |coarse AS (SELECT qid, cid, adc FROM (
       |    SELECT qid, cid, adc, row_number() OVER (
       |      PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM adcs) t
       |  WHERE rn <= 20),
       |r AS (SELECT coarse.qid AS qid, coarse.cid AS cid, coarse.adc AS adc,
       |    CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i))
       |      AS BIGINT) AS dot
       |  FROM coarse JOIN q USING (qid) JOIN c USING (cid))
       |SELECT qid, cid, rank, dot, adc FROM (
       |  SELECT qid, cid, adc, dot, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rank FROM r) t
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Residual-vs-raw IVFPQ recall ledger oracle
    * (llm_ann_ivfpq_res_recall): both serving replays at nprobe=2 /
    * coarse-20 against exact top-3 truth on the disjoint split. */
  private lazy val IvfPqResRecallOracleSql: String = {
    def topOf(tag: String, adcsName: String) =
      s"""co_$tag AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM $adcsName) t
         |  WHERE rn <= 20),
         |top_$tag AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
         |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
         |  FROM scored s JOIN co_$tag USING (qid, cid)) t WHERE rk <= 3)""".stripMargin
    s"""WITH eqa AS (SELECT vec_id, label,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eqa WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eqa WHERE vec_id < 100),
       |cent AS (SELECT label, i AS pos, CAST(sum(ce[i]) AS BIGINT) AS s
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |cnt AS (SELECT label, count(*) AS cnt FROM c GROUP BY label),
       |assign AS (SELECT qid, cent.label AS label, CAST(sum(qe[pos] * s) AS BIGINT) AS qdot
       |  FROM q, cent GROUP BY qid, cent.label),
       |best AS (SELECT qid, label FROM (
       |  SELECT qid, label, row_number() OVER (
       |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) / cnt DESC, label) AS rn
       |  FROM assign JOIN cnt USING (label)) t WHERE rn <= 2),
       |cwp AS (SELECT label AS l, i AS pos,
       |    CAST(floor(CAST(sum(ce[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM c, range(1, 65) t(i) GROUP BY label, i),
       |dists AS (SELECT c.cid AS cid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum((c.ce[cwp.pos] - cwp.cw) * (c.ce[cwp.pos] - cwp.cw))
       |      AS BIGINT) AS d
       |  FROM c, cwp GROUP BY c.cid, cwp.l, (cwp.pos - 1) // 16),
       |codes AS (SELECT cid, s, l AS code FROM (
       |    SELECT cid, s, l, row_number() OVER (
       |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists) t
       |  WHERE rn = 1),
       |lut AS (SELECT q.qid AS qid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[cwp.pos] * cwp.cw) AS BIGINT) AS dp
       |  FROM q, cwp GROUP BY q.qid, cwp.l, (cwp.pos - 1) // 16),
       |adcs_raw AS (SELECT codes.cid AS cid, b.qid AS qid,
       |    CAST(sum(lut.dp) AS BIGINT) AS adc
       |  FROM codes JOIN c ON c.cid = codes.cid
       |  JOIN best b ON b.label = c.label
       |  JOIN lut ON lut.qid = b.qid AND lut.s = codes.s AND lut.l = codes.code
       |  GROUP BY codes.cid, b.qid),
       |${residualPqCtes("r")},
       |adcs_res AS (SELECT codes_r.cid AS cid, b.qid AS qid,
       |    qc.qcdot + CAST(sum(lut_r.dp) AS BIGINT) AS adc
       |  FROM codes_r JOIN c ON c.cid = codes_r.cid
       |  JOIN best b ON b.label = c.label
       |  JOIN qc ON qc.qid = b.qid AND qc.label = c.label
       |  JOIN lut_r ON lut_r.qid = b.qid AND lut_r.s = codes_r.s
       |    AND lut_r.l = codes_r.code
       |  GROUP BY codes_r.cid, b.qid, qc.qcdot),
       |rcev AS (SELECT cid, pos, rv AS v, (pos - 1) // 16 AS s FROM residp),
       |rrcw_0 AS (SELECT l, pos, cw FROM cwp_r),
       |${refineStepCtes("rcev", "rr", 2)},
       |rlut_res AS (SELECT q.qid AS qid, w.l AS l, (w.pos - 1) // 16 AS s,
       |    CAST(sum(q.qe[w.pos] * w.cw) AS BIGINT) AS dp
       |  FROM q, rrcw_2 w GROUP BY q.qid, w.l, (w.pos - 1) // 16),
       |adcs_res_it AS (SELECT rc.cid AS cid, b.qid AS qid,
       |    qc.qcdot + CAST(sum(rlut_res.dp) AS BIGINT) AS adc
       |  FROM rrcodes_3 rc JOIN c ON c.cid = rc.cid
       |  JOIN best b ON b.label = c.label
       |  JOIN qc ON qc.qid = b.qid AND qc.label = c.label
       |  JOIN rlut_res ON rlut_res.qid = b.qid AND rlut_res.s = rc.s
       |    AND rlut_res.l = rc.code
       |  GROUP BY rc.cid, b.qid, qc.qcdot),
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |  CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i)) AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t WHERE rk <= 3),
       |${topOf("raw", "adcs_raw")},
       |${topOf("res", "adcs_res")},
       |${topOf("res_it", "adcs_res_it")},
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT method, n_queries, total_matches,
       |  CAST(total_matches AS DOUBLE) / (3.0 * n_queries) AS recall FROM (
       |  SELECT 'ivfpq_raw_probe2' AS method, nq.n_queries AS n_queries,
       |    (SELECT count(*) FROM exact JOIN top_raw USING (qid, cid)) AS total_matches FROM nq
       |  UNION ALL
       |  SELECT 'ivfpq_res_probe2', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN top_res USING (qid, cid)) FROM nq
       |  UNION ALL
       |  SELECT 'ivfpq_res_probe2_it2', nq.n_queries,
       |    (SELECT count(*) FROM exact JOIN top_res_it USING (qid, cid)) FROM nq) t
       |ORDER BY method""".stripMargin
  }

  /** JL rerank oracle: coarse top-20 in projected space, exact
    * rescore top-3, recall vs exact truth — one ledger row. */
  private lazy val JlRerankOracleSql: String =
    s"""WITH eq AS (SELECT vec_id,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, eq AS ce FROM eq WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eq WHERE vec_id < 100),
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |  CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i)) AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t WHERE rk <= 3),
       |proj AS (
       |  $jlProjUnion),
       |sp AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |    CAST(sum(a.v * b.v) AS BIGINT) AS dot
       |  FROM proj a JOIN proj b ON a.pos = b.pos
       |  WHERE a.vec_id < 100 AND b.vec_id >= 100
       |  GROUP BY a.vec_id, b.vec_id),
       |co AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM sp) t WHERE rk <= 20),
       |approx AS (SELECT qid, cid FROM (SELECT s.qid AS qid, s.cid AS cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.dot DESC, s.cid) AS rk
       |  FROM scored s JOIN co USING (qid, cid)) t WHERE rk <= 3),
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT 'jl_rerank20' AS method, nq.n_queries AS n_queries,
       |  (SELECT count(*) FROM exact JOIN approx USING (qid, cid)) AS total_matches,
       |  CAST((SELECT count(*) FROM exact JOIN approx USING (qid, cid)) AS DOUBLE)
       |    / (3.0 * nq.n_queries) AS recall
       |FROM nq""".stripMargin

  private val planeLits: Seq[String] = Similarity.planeDirs(8, 64)
    .map(dirs => "[" + dirs.mkString(",") + "]")

  /** JL sign-matrix literals (salt "jl", 16×64) for the projection
    * oracles. */
  private val jlSignLits: Seq[String] = Similarity.planeDirs(16, 64, salt = "jl")
    .map(dirs => "[" + dirs.mkString(",") + "]")

  /** One row per (vec_id, output dim) of the JL projection over a CTE
    * named `eq` carrying (vec_id, eq). */
  private def jlProjUnion: String =
    (0 until 16).map { j =>
      s"""SELECT vec_id, CAST($j AS BIGINT) AS pos,
         |  CAST((SELECT sum(eq[i] * (${jlSignLits(j)})[i])
         |    FROM range(1, 65) r(i)) AS BIGINT) AS v FROM eq""".stripMargin
    }.mkString("\n  UNION ALL\n")

  private lazy val JlProjectOracleSql: String =
    s"""WITH eq AS (SELECT vec_id,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings)
       |SELECT vec_id, pos, v FROM (
       |  $jlProjUnion) t
       |ORDER BY vec_id, pos""".stripMargin

  private lazy val JlRecallOracleSql: String =
    s"""WITH eq AS (SELECT vec_id,
       |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
       |c AS (SELECT vec_id AS cid, eq AS ce FROM eq WHERE vec_id >= 100),
       |q AS (SELECT vec_id AS qid, eq AS qe FROM eq WHERE vec_id < 100),
       |scored AS (SELECT q.qid AS qid, c.cid AS cid,
       |  CAST((SELECT sum((q.qe)[i] * (c.ce)[i]) FROM range(1, 65) t(i)) AS BIGINT) AS dot
       |  FROM q, c),
       |exact AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM scored) t WHERE rk <= 3),
       |proj AS (
       |  $jlProjUnion),
       |sp AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |    CAST(sum(a.v * b.v) AS BIGINT) AS dot
       |  FROM proj a JOIN proj b ON a.pos = b.pos
       |  WHERE a.vec_id < 100 AND b.vec_id >= 100
       |  GROUP BY a.vec_id, b.vec_id),
       |approx AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM sp) t WHERE rk <= 3),
       |nq AS (SELECT count(*) AS n_queries FROM q)
       |SELECT 'jl_r16' AS method, nq.n_queries AS n_queries,
       |  (SELECT count(*) FROM exact JOIN approx USING (qid, cid)) AS total_matches,
       |  CAST((SELECT count(*) FROM exact JOIN approx USING (qid, cid)) AS DOUBLE)
       |    / (3.0 * nq.n_queries) AS recall
       |FROM nq""".stripMargin

  private val bucketExpr: String = planeLits.map { arr =>
    s"(CASE WHEN (SELECT sum(eq[i] * ($arr)[i]) FROM range(1, 65) r(i)) > 0 THEN '1' ELSE '0' END)"
  }.mkString(" || ")

  val oracle: Seq[(String, String)] = Seq(
    "llm_dedup_exact" ->
      """WITH aug AS (SELECT doc_id, CASE
        |    WHEN doc_id % 53 = 7 THEN NULL
        |    WHEN doc_id % 41 = 5 THEN 'SHARED DUPLICATE BLOCK'
        |    ELSE text END AS content FROM documents)
        |SELECT doc_id, md5(content) AS content_hash FROM (
        |  SELECT doc_id, content, row_number() OVER (PARTITION BY md5(content) ORDER BY doc_id) rn
        |  FROM aug) t WHERE rn = 1 OR content IS NULL ORDER BY doc_id""".stripMargin,
    "llm_weighted_sample" ->
      s"""WITH pr AS (SELECT doc_id, n_chars,
         |  (CAST(floor(ln((${duckHash("'wsr:' || doc_id")} + 0.5)
         |      / 2147483647.0) * 1000000) AS BIGINT) * 1000000) // n_chars
         |    AS priority
         |  FROM documents)
         |SELECT doc_id, n_chars::BIGINT AS n_chars, priority FROM pr
         |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,
    "llm_mi_lang_source" ->
      """WITH cells AS (SELECT lang, source, count(*)::BIGINT AS nxy
        |  FROM documents GROUP BY lang, source),
        |mx AS (SELECT lang, count(*)::BIGINT AS nx FROM documents GROUP BY lang),
        |my AS (SELECT source, count(*)::BIGINT AS ny FROM documents GROUP BY source),
        |tot AS (SELECT count(*)::BIGINT AS N FROM documents),
        |t AS (SELECT nxy * CAST(floor(ln(CAST(nxy * N AS DOUBLE)
        |      / CAST(nx * ny AS DOUBLE)) * 1000000) AS BIGINT) AS term, N
        |  FROM cells JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN tot)
        |SELECT count(*)::BIGINT AS n_cells, max(N) AS n_docs,
        |  CAST(sum(term) AS BIGINT) AS mi_weighted_micro,
        |  CAST(sum(term) AS BIGINT) // max(N) AS mi_micro
        |FROM t""".stripMargin,
    // both engines run the normative Unicode NFC tables (JDK
    // Normalizer vs DuckDB nfc_normalize) — md5s of the canonical
    // form must agree byte for byte
    "llm_unicode_nfc" ->
      """WITH aug AS (SELECT doc_id, CASE
        |    WHEN doc_id % 41 = 5 THEN 'cafe' || chr(769) || ' menu plan'
        |    WHEN doc_id % 41 = 6 THEN 'caf' || chr(233) || ' menu plan'
        |    ELSE text END AS content FROM documents),
        |n AS (SELECT doc_id, content, nfc_normalize(content) AS norm FROM aug)
        |SELECT doc_id, (norm <> content) AS changed, md5(norm) AS norm_hash,
        |  (doc_id = min(doc_id) OVER (PARTITION BY md5(norm))) AS kept
        |FROM n ORDER BY doc_id""".stripMargin,
    // identical blocking (first token | length band, each doc in its
    // own AND the next band so boundary-straddling pairs meet, bucket
    // cap, DISTINCT over the doubled blocks) and the same exact
    // levenshtein on both engines
    "llm_fuzzy_linkage" ->
      """WITH d AS (SELECT doc_id, CASE
        |    WHEN doc_id % 41 = 5 THEN 'the quick brown fox jumps over the lazy dog'
        |    WHEN doc_id % 41 = 6 THEN 'the quick brown fix jumps over the lazy dog'
        |    WHEN doc_id % 41 = 7 THEN 'the quick brown fox jumped over the lazy dog'
        |    ELSE text END AS content FROM documents),
        |b0 AS (SELECT doc_id, content,
        |    string_split_regex(lower(content), '\s+')[1] || '|' ||
        |    CAST(band AS VARCHAR) AS blk
        |  FROM d, unnest([length(content) // 8, length(content) // 8 + 1]) t(band)
        |  WHERE content IS NOT NULL),
        |b AS (SELECT doc_id, content, blk FROM (
        |    SELECT b0.*, count(*) OVER (PARTITION BY blk) AS bc FROM b0) t
        |  WHERE bc BETWEEN 2 AND 1000)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |  levenshtein(x.content, y.content)::BIGINT AS dist
        |FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
        |WHERE levenshtein(x.content, y.content) <= 2
        |ORDER BY a, b""".stripMargin,
    // bag = space-joined sorted token list; reordered arms share it
    "llm_dedup_bow" ->
      """WITH aug AS (SELECT doc_id, CASE
        |    WHEN doc_id % 53 = 7 THEN NULL
        |    WHEN doc_id % 41 = 5 THEN 'alpha beta gamma shared'
        |    WHEN doc_id % 41 = 6 THEN 'shared gamma beta alpha'
        |    ELSE text END AS content FROM documents),
        |b AS (SELECT doc_id, CASE WHEN content IS NULL THEN NULL
        |    ELSE array_to_string(list_sort(
        |      string_split_regex(lower(content), '\s+')), ' ') END AS bag
        |  FROM aug)
        |SELECT doc_id, md5(bag) AS content_hash FROM (
        |  SELECT doc_id, bag, row_number() OVER (
        |    PARTITION BY md5(bag) ORDER BY doc_id) rn
        |  FROM b) t WHERE rn = 1 OR bag IS NULL ORDER BY doc_id""".stripMargin,
    "llm_dedup_normalized" ->
      """WITH aug AS (SELECT doc_id, CASE
        |    WHEN doc_id % 53 = 7 THEN NULL
        |    WHEN doc_id % 41 = 5 THEN 'Shared, Duplicate. Block!'
        |    WHEN doc_id % 41 = 6 THEN 'shared   duplicate block'
        |    ELSE text END AS content FROM documents)
        |SELECT doc_id, md5(norm) AS content_hash FROM (
        |  SELECT doc_id, norm, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) rn
        |  FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(content),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS norm FROM aug) t0) t
        |WHERE rn = 1 OR norm IS NULL ORDER BY doc_id""".stripMargin,
    "llm_boilerplate_drop" ->
      """WITH aug AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 97 = 3 THEN 'COMMON FOOTER SENTENCE'
        |    WHEN doc_id % 5 = 0 THEN text || '. COMMON FOOTER SENTENCE'
        |    ELSE text END AS content FROM documents),
        |seg AS (
        |  SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
        |    SELECT doc_id, unnest([{'pos': i, 'seg': s[i]} for i in range(1, len(s) + 1)]) AS u
        |    FROM (SELECT doc_id, string_split(content, '. ') AS s FROM aug) t0) t1
        |  WHERE u.seg <> ''),
        |freq AS (SELECT seg, count(DISTINCT doc_id) AS ndocs FROM seg GROUP BY seg),
        |kept AS (SELECT doc_id, pos, seg.seg FROM seg JOIN freq USING (seg) WHERE ndocs <= 1),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(seg, '. ' ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_kept, 0)::BIGINT AS n_kept,
        |  md5(coalesce(a.cleaned, '')) AS cleaned_hash
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "llm_dedup_minhash_lsh" ->
      s"""WITH ${pairsCtes()}
         |SELECT a, b, jaccard FROM scored WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,
    // exact truth and the banded path replayed over the SAME injected
    // subset; the ledger row is pure integer per-milles
    "llm_dedup_eval" ->
      s"""WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 37 = 5 THEN
         |    CASE CAST(doc_id % 3 AS INTEGER)
         |      WHEN 0 THEN '$DedupEvalBase'
         |      WHEN 1 THEN '$DedupEvalV1'
         |      ELSE '$DedupEvalV2' END
         |    ELSE text END AS text FROM documents
         |  WHERE doc_id % 37 = 5 OR doc_id < 150),
         |pre AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
         |    s -> ${duckHash("s")})) AS hs
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
         |        FROM aug) t0
         |  WHERE len(w) >= 3),
         |truth AS (SELECT x.doc_id AS a, y.doc_id AS b FROM pre x JOIN pre y
         |  ON x.doc_id < y.doc_id
         |  WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
         |    / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) >= 0.5),
         |sig AS (SELECT doc_id, hs, [${minhashExprs.mkString(",\n  ")}] AS mh FROM pre),
         |bands0 AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS band FROM sig),
         |bands AS (SELECT doc_id, band FROM (
         |  SELECT doc_id, band, count(*) OVER (PARTITION BY band) AS bc FROM bands0) t
         |  WHERE bc <= ${Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
         |found AS (SELECT a, b FROM (SELECT a, b,
         |    CAST(len(list_intersect(xa.hs, xb.hs)) AS DOUBLE)
         |      / (len(xa.hs) + len(xb.hs) - len(list_intersect(xa.hs, xb.hs)))
         |      AS jaccard
         |  FROM cand JOIN pre xa ON cand.a = xa.doc_id
         |    JOIN pre xb ON cand.b = xb.doc_id) s
         |  WHERE jaccard >= 0.5),
         |m AS (SELECT count(*) AS c FROM truth JOIN found USING (a, b)),
         |nt AS (SELECT count(*) AS t FROM truth),
         |nf AS (SELECT count(*) AS f FROM found)
         |SELECT t::BIGINT AS n_truth, f::BIGINT AS n_found, c::BIGINT AS n_matched,
         |  (c * 1000) // t AS recall_pm, (c * 1000) // f AS precision_pm
         |FROM m, nt, nf""".stripMargin,
    "llm_dedup_simhash" ->
      s"""SELECT doc_id, CAST(${simhashTerms().mkString(" + ")} AS BIGINT) AS simhash
         |FROM (SELECT doc_id, list_transform(string_split_regex(lower(text), '\\s+'),
         |  w -> ${duckHash("w")}) AS wh FROM documents) t ORDER BY doc_id""".stripMargin,
    "llm_dedup_simhash_pairs" ->
      // NULL-text docs are DROPPED on both engines (Spark's words-array
      // filter can only reject NULL — split never yields an empty
      // array): semantics pinned here, not left to the fixture
      s"""WITH sig AS (
         |  SELECT doc_id, CAST(${simhashTerms(Dedup.SimHashPairBits).mkString(" + ")} AS BIGINT) AS simhash
         |  FROM (SELECT doc_id, list_transform(string_split_regex(lower(text), '\\s+'),
         |    w -> ('0x' || substr(md5(w), 1, 12))::BIGINT) AS wh
         |    FROM documents WHERE text IS NOT NULL) t),
         |bands0 AS (SELECT doc_id, simhash,
         |  unnest([0,1,2,3])::VARCHAR || '_' ||
         |    ((simhash >> (unnest([0,1,2,3]) * 12)) & 4095)::VARCHAR AS band FROM sig),
         |capped AS (SELECT doc_id, simhash, band FROM (
         |  SELECT doc_id, simhash, band, count(*) OVER (PARTITION BY band) AS bc
         |  FROM bands0) t WHERE bc BETWEEN 2 AND $SimHashPairsCap)
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM capped x JOIN capped y ON x.band = y.band AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2 ORDER BY a, b""".stripMargin,
    "llm_text_quality" ->
      s"""SELECT doc_id,
         |  length(text)::BIGINT AS n_chars,
         |  len(string_split_regex(text, '\\s+'))::BIGINT AS n_words,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split_regex(text, '\\s+')) AS avg_word_len,
         |  CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x IN (${Text.Stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
         |    / len(string_split_regex(text, '\\s+')) AS stopword_ratio,
         |  len(regexp_extract_all(text, '[[:punct:]]'))::BIGINT AS punct_count,
         |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS upper_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    // one oracle replays URL dedup -> Gopher gate -> entropy floor
    "llm_e2e_web" ->
      s"""WITH d AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN 'https://example' || (doc_id % 250) || '.com/path' || (doc_id % 250)
         |    WHEN 1 THEN 'HTTPS://EXAMPLE' || (doc_id % 250) || '.COM/path' || (doc_id % 250) || '#frag'
         |    WHEN 2 THEN 'https://example' || (doc_id % 250) || '.com/path' || (doc_id % 250) || '?utm_source=x&utm_campaign=y'
         |    ELSE 'https://example' || (doc_id % 250) || '.com/path' || (doc_id % 250) || '/'
         |  END AS url FROM documents),
         |c0 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS u FROM d),
         |c1 AS (SELECT doc_id,
         |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
         |    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g') AS u
         |  FROM c0),
         |c2 AS (SELECT doc_id, regexp_replace(u,
         |    '([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*', '\\1', 'g') AS u FROM c1),
         |c3 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(u,
         |    '&&+', '&', 'g'), '\\?&', '?', 'g'), '[?&]+$$', '', 'g') AS u FROM c2),
         |c4 AS (SELECT doc_id, regexp_replace(u, '/$$', '', 'g') AS u FROM c3),
         |kept AS (SELECT doc_id, u AS canon FROM (
         |    SELECT doc_id, u, min(doc_id) OVER (PARTITION BY u) AS mn FROM c4) t
         |  WHERE doc_id = mn),
         |gop AS (SELECT kept.doc_id AS doc_id, kept.canon AS canon,
         |    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS n_words
         |  FROM kept JOIN documents USING (doc_id)
         |  WHERE len(string_split_regex(lower(text), '\\s+')) BETWEEN 20 AND 90
         |    AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |      / len(string_split_regex(text, '\\s+')) BETWEEN 3.8 AND 5.2
         |    AND len(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x IN (${Text.Stopwords.map(w => s"'$w'").mkString(",")}))) >= 2),
         |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
         |kk AS (SELECT doc_id, ch, count(*)::BIGINT AS k FROM ch
         |  WHERE ch <> '' GROUP BY doc_id, ch),
         |s AS (SELECT doc_id,
         |    CAST(sum(CAST(floor(k * ln(k) * 1000000) AS BIGINT)) AS BIGINT) AS s,
         |    CAST(sum(k) AS BIGINT) AS n FROM kk GROUP BY doc_id),
         |ent AS (SELECT doc_id,
         |    CAST(floor(ln(n) * 1000000) AS BIGINT) - (s // n) AS h_micro
         |  FROM s WHERE n > 0)
         |SELECT gop.doc_id AS doc_id, canon, n_words, h_micro
         |FROM gop JOIN ent USING (doc_id)
         |WHERE h_micro >= 2750000 ORDER BY doc_id""".stripMargin,
    // full replay of the extraction chain: markup construction, strip
    // order, block segmentation, link-density cut, entity decode order
    "llm_html_extract" ->
      s"""WITH $HtmlExtractCtes
         |SELECT doc_id, extracted FROM ex ORDER BY doc_id""".stripMargin,
    // markup -> extract -> Gopher gate -> entropy floor, one oracle
    "llm_e2e_web_html" ->
      s"""WITH $HtmlExtractCtes,
         |gop AS (SELECT doc_id,
         |    len(string_split_regex(lower(extracted), '\\s+'))::BIGINT AS n_words,
         |    extracted
         |  FROM ex
         |  WHERE len(string_split_regex(lower(extracted), '\\s+')) BETWEEN 45 AND 110
         |    AND CAST(length(replace(extracted, ' ', '')) AS DOUBLE)
         |      / len(string_split_regex(extracted, '\\s+')) BETWEEN 4.0 AND 5.1
         |    AND len(list_filter(string_split_regex(lower(extracted), '\\s+'),
         |      x -> x IN (${Text.Stopwords.map(w => s"'$w'").mkString(",")}))) >= 7),
         |ch AS (SELECT doc_id, unnest(string_split(extracted, '')) AS ch FROM gop),
         |kk AS (SELECT doc_id, ch, count(*)::BIGINT AS k FROM ch
         |  WHERE ch <> '' GROUP BY doc_id, ch),
         |st AS (SELECT doc_id,
         |    CAST(sum(CAST(floor(k * ln(k) * 1000000) AS BIGINT)) AS BIGINT) AS s,
         |    CAST(sum(k) AS BIGINT) AS n FROM kk GROUP BY doc_id),
         |ent AS (SELECT doc_id,
         |    CAST(floor(ln(n) * 1000000) AS BIGINT) - (s // n) AS h_micro
         |  FROM st WHERE n > 0)
         |SELECT gop.doc_id AS doc_id, n_words, h_micro
         |FROM gop JOIN ent USING (doc_id)
         |WHERE h_micro >= 2934000 ORDER BY doc_id""".stripMargin,
    // every rewrite step replayed in the same fixed order; DuckDB
    // regexp_replace needs the explicit 'g' flag Spark applies always
    "llm_url_canonical" ->
      """WITH d AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'https://example' || (doc_id % 50) || '.com/path' || (doc_id % 50)
        |    WHEN 1 THEN 'HTTPS://EXAMPLE' || (doc_id % 50) || '.COM/path' || (doc_id % 50) || '#frag'
        |    WHEN 2 THEN 'https://example' || (doc_id % 50) || '.com/path' || (doc_id % 50) || '?utm_source=x&utm_campaign=y'
        |    ELSE 'https://example' || (doc_id % 50) || '.com/path' || (doc_id % 50) || '/'
        |  END AS url FROM documents),
        |c0 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS u FROM d),
        |c1 AS (SELECT doc_id,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
        |    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g') AS u
        |  FROM c0),
        |c2 AS (SELECT doc_id, regexp_replace(u,
        |    '([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*', '\1', 'g') AS u FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(u,
        |    '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g') AS u FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(u, '/$', '', 'g') AS u FROM c3)
        |SELECT doc_id, u AS canon,
        |  (doc_id = min(doc_id) OVER (PARTITION BY u)) AS kept
        |FROM c4 ORDER BY doc_id""".stripMargin,
    "llm_inverted_index" ->
      s"""WITH g AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS term
         |  FROM documents),
         |f AS (SELECT term, doc_id FROM g WHERE len(term) > 0),
         |p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM f GROUP BY term, doc_id)
         |SELECT term, count(*)::BIGINT AS df, CAST(sum(tf) AS BIGINT) AS n_occ,
         |  min(doc_id)::BIGINT AS min_doc, max(doc_id)::BIGINT AS max_doc,
         |  bit_xor(${duckHash("'ix:|' || term || '|' || doc_id || '|' || tf")})::BIGINT
         |    AS postings_xor
         |FROM p GROUP BY term ORDER BY term""".stripMargin,
    "llm_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id,
         |  len(string_split_regex(lower(text), '\\s+'))::BIGINT AS nw,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |    / len(string_split_regex(text, '\\s+')) AS mwl,
         |  len(list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x IN (${Text.Stopwords.map(w => s"'$w'").mkString(",")})))::BIGINT
         |    AS sw
         |  FROM documents)
         |SELECT doc_id, nw AS n_words, sw AS n_stopwords,
         |  (nw >= 20 AND nw <= 90) AS ok_words,
         |  (mwl >= 3.8 AND mwl <= 5.2) AS ok_word_len,
         |  (sw >= 2) AS ok_stopwords,
         |  (nw >= 20 AND nw <= 90 AND mwl >= 3.8 AND mwl <= 5.2 AND sw >= 2)
         |    AS keep
         |FROM t ORDER BY doc_id""".stripMargin,
    // per-term floor-to-micro-nats BEFORE the sum: the cross-char sum
    // is integer on both engines, so partition order can't move it
    "llm_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |k AS (SELECT doc_id, ch, count(*)::BIGINT AS k FROM ch
        |  WHERE ch <> '' GROUP BY doc_id, ch),
        |s AS (SELECT doc_id,
        |    CAST(sum(CAST(floor(k * ln(k) * 1000000) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(k) AS BIGINT) AS n FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n, 0)::BIGINT AS n_chars_counted,
        |  CASE WHEN n > 0 THEN
        |    CAST(floor(ln(n) * 1000000) AS BIGINT) - (s // n) END AS h_micro
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "llm_lang_id" -> {
      val scores = Text.LangMarkers.map { case (lang, markers) =>
        lang -> s"len(list_filter(w, x -> x IN (${markers.map(m => s"'$m'").mkString(",")})))"
      }
      val best = "greatest(" + scores.map(_._2).mkString(", ") + ")"
      val cases = scores.map { case (lang, e) =>
        s"WHEN $e = best AND $e > 0 THEN '$lang'"
      }.mkString("\n  ")
      s"""SELECT doc_id, lang, guess, (guess = lang) AS agree FROM (
         |SELECT doc_id, lang, CASE $cases ELSE 'und' END AS guess
         |FROM (SELECT doc_id, lang, w, $best AS best
         |  FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS w FROM documents) t0) t1) t2
         |ORDER BY doc_id""".stripMargin
    },
    "llm_token_counts" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(text, '\s+'))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS subword_tokens,
        |  CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(text, '\s+')) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_fingerprints" ->
      s"""WITH h AS (
         |  SELECT doc_id, list_transform(
         |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
         |    s -> ${duckHash("s")}) AS hs
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents) t0),
         |f AS (SELECT doc_id, list_distinct(CASE WHEN len(hs) >= 4
         |    THEN [least(hs[i], hs[i+1], hs[i+2], hs[i+3]) for i in range(1, len(hs) - 2)]
         |    ELSE hs END) AS fp FROM h)
         |SELECT doc_id, len(fp)::BIGINT AS fp_count, list_min(fp) AS fp_min, list_max(fp) AS fp_max
         |FROM f ORDER BY doc_id""".stripMargin,
    "llm_quantize_int8" ->
      s"""WITH m AS (SELECT vec_id,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
         |    embedding FROM embeddings),
         |z AS (SELECT vec_id, amax, list_transform(embedding, x ->
         |    CAST(CASE WHEN amax = 0 THEN 0
         |      ELSE floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5) END AS BIGINT)) AS q
         |  FROM m)
         |SELECT vec_id, amax, array_to_string(q, ',') AS q8_csv,
         |  CAST(list_sum(q) AS BIGINT) AS qsum
         |FROM z ORDER BY vec_id""".stripMargin,
    "llm_ann_int8" ->
      s"""WITH m AS (SELECT vec_id,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
         |    embedding FROM embeddings),
         |z AS (SELECT vec_id, amax, list_transform(embedding, x ->
         |    CAST(CASE WHEN amax = 0 THEN 0
         |      ELSE floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5) END AS BIGINT)) AS q
         |  FROM m),
         |q AS (SELECT vec_id AS qid, q AS qe FROM z WHERE vec_id < 3),
         |c AS (SELECT vec_id AS cid, q AS ce, amax AS c_amax FROM z WHERE vec_id >= 3),
         |s AS (SELECT qid, cid, c_amax,
         |  CAST((SELECT sum((qe)[i] * (ce)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS qdot
         |  FROM c, q)
         |SELECT qid, cid, rank, qdot FROM (
         |  SELECT qid, cid, qdot, row_number() OVER (
         |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) * c_amax DESC, cid) AS rank
         |  FROM s) t WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "llm_ann_rerank" ->
      s"""WITH m AS (SELECT vec_id,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
         |    embedding FROM embeddings),
         |z AS (SELECT vec_id, amax, list_transform(embedding, x ->
         |    CAST(CASE WHEN amax = 0 THEN 0
         |      ELSE floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5) END AS BIGINT)) AS q
         |  FROM m),
         |q AS (SELECT vec_id AS qid, q AS qe FROM z WHERE vec_id < 3),
         |c AS (SELECT vec_id AS cid, q AS ce, amax AS c_amax FROM z WHERE vec_id >= 3),
         |s AS (SELECT qid, cid, c_amax,
         |  CAST((SELECT sum((qe)[i] * (ce)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS qdot
         |  FROM c, q),
         |coarse AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (
         |    PARTITION BY qid ORDER BY CAST(qdot AS DOUBLE) * c_amax DESC, cid) AS rn
         |  FROM s) t WHERE rn <= 20),
         |eq AS (SELECT vec_id,
         |  [${qElem("embedding")} for i in range(1, 65)] AS e FROM embeddings),
         |r AS (SELECT coarse.qid, coarse.cid,
         |  CAST((SELECT sum((x.e)[i] * (y.e)[i]) FROM range(1, 65) r2(i)) AS BIGINT) AS dot
         |  FROM coarse JOIN eq x ON x.vec_id = coarse.qid
         |  JOIN eq y ON y.vec_id = coarse.cid)
         |SELECT qid, cid, rank, dot FROM (
         |  SELECT qid, cid, dot, row_number() OVER (
         |    PARTITION BY qid ORDER BY dot DESC, cid) AS rank FROM r) t
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // full PQ replay: floor-mean codebooks -> per-subspace argmin codes
    // (ties ORDER BY d, l = the struct-min) -> ADC lookups -> exact
    // rescore of the coarse-20 set. Shared by the inline and the
    // persisted-index paths: the index changes where the work happens,
    // never the answer.
    "llm_ann_pq" -> PqOracleSql,
    // append shares the full-build oracle: frozen-codebook encoding is
    // a pure per-row function, so append == rebuild bit-for-bit
    "llm_ann_pq_append" -> PqOracleSql,
    "llm_ann_sq8" -> Sq8OracleSql,
    // Frozen-grid appends answer identically to a full build (pure
    // per-row encode, in-range batch), so the append row SHARES the
    // serve oracle — the pq_append contract shape.
    "llm_ann_sq8_append" -> Sq8OracleSql,
    // compaction is a pure file rewrite: the lifecycle answers must
    // equal the full build's, so it shares the SQ8 oracle
    "llm_ann_sq8_compact" -> Sq8OracleSql,
    "llm_ann_sq8_recall" -> Sq8RecallOracleSql,
    "llm_ann_ivfsq8" -> IvfSq8OracleSql,
    // labels carried + grid trained on the full sample => append ==
    // full rebuild (exact-integer centroid merge, pure per-row
    // encode), so the append row SHARES the serve oracle.
    "llm_ann_ivfsq8_append" -> IvfSq8OracleSql,
    "llm_ann_ivfsq8_compact" -> IvfSq8OracleSql,
    "llm_ann_ivfsq8_recall" -> IvfSq8RecallOracleSql,
    "llm_ann_ivfpq" -> IvfPqOracleSql,
    // append shares the full-build oracle: frozen-book encode is pure
    // per-row + centroid sums are additive, so append == rebuild
    "llm_ann_ivfpq_append" -> IvfPqOracleSql,
    "llm_ann_ivfpq_recall" -> IvfPqRecallOracleSql,
    "llm_ann_ivfpq_grid" -> IvfPqGridOracleSql,
    "llm_ann_ivfpq_residual" -> IvfPqResidualOracleSql,
    "llm_ann_ivfpq_res_recall" -> IvfPqResRecallOracleSql,
    // gate -> train-split -> budget replayed as three CTE stages; the
    // gopher conditions and the budget window are the SAME SQL as
    // their standalone oracles, so the chain cannot drift from them
    "llm_e2e_train_prep" ->
      s"""WITH gop AS (SELECT doc_id, text, n_chars FROM documents
         |  WHERE len(string_split_regex(lower(text), '\\s+')) BETWEEN 20 AND 90
         |    AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |      / len(string_split_regex(text, '\\s+')) BETWEEN 3.8 AND 5.2
         |    AND len(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x IN (${Text.Stopwords.map(w => s"'$w'").mkString(",")}))) >= 2),
         |tr AS (SELECT doc_id, text, n_chars FROM gop
         |  WHERE ${duckHash("'split:' || doc_id")} % 1000 < 800),
         |t AS (SELECT doc_id, n_chars // 64 AS score,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens,
         |    ${duckHash("('sel:' || doc_id)")} AS h
         |  FROM tr),
         |c AS (SELECT doc_id, score, tokens,
         |  sum(tokens) OVER (ORDER BY score DESC, h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT doc_id, score, tokens FROM c WHERE cum <= 8000
         |ORDER BY doc_id""".stripMargin,
    "llm_fertility_by_lang" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(sum(n_chars) * 1000000 // sum(nw) AS BIGINT) AS chars_per_word_micro
        |FROM (SELECT lang, n_chars,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> len(w) > 0))::BIGINT AS nw
        |  FROM documents) t
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_split_stratified" ->
      s"""WITH s AS (SELECT doc_id, source,
         |    ${duckHash("'split:' || doc_id")} % 1000 AS pm FROM documents),
         |lab AS (SELECT source, CASE WHEN pm < 800 THEN 'train'
         |    WHEN pm < 900 THEN 'val' ELSE 'test' END AS split FROM s),
         |g AS (SELECT source, split, count(*)::BIGINT AS n FROM lab
         |  GROUP BY 1, 2)
         |SELECT source, split, n,
         |  CAST((n * 1000) // sum(n) OVER (PARTITION BY source) AS BIGINT)
         |    AS pm_of_source
         |FROM g ORDER BY source, split""".stripMargin,
    "llm_datacard" ->
      s"""WITH basic AS (SELECT count(*)::BIGINT AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
         |    count(DISTINCT lang)::BIGINT AS n_langs,
         |    count(DISTINCT source)::BIGINT AS n_sources,
         |    min(n_chars)::BIGINT AS min_chars,
         |    max(n_chars)::BIGINT AS max_chars,
         |    CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS mean_chars_micro
         |  FROM documents),
         |toks AS (SELECT count(*)::BIGINT AS v FROM (
         |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
         |    FROM documents) t WHERE len(w) > 0),
         |dups AS (SELECT count(*)::BIGINT AS v FROM (
         |    SELECT coalesce(md5(text), '__null__') AS h, count(*) AS n
         |    FROM documents GROUP BY 1) t WHERE n > 1)
         |SELECT metric, value FROM (
         |  SELECT 'max_chars' AS metric, max_chars AS value FROM basic
         |  UNION ALL SELECT 'mean_chars_micro', mean_chars_micro FROM basic
         |  UNION ALL SELECT 'min_chars', min_chars FROM basic
         |  UNION ALL SELECT 'n_chars_total', n_chars_total FROM basic
         |  UNION ALL SELECT 'n_docs', n_docs FROM basic
         |  UNION ALL SELECT 'n_langs', n_langs FROM basic
         |  UNION ALL SELECT 'n_sources', n_sources FROM basic
         |  UNION ALL SELECT 'n_tokens', v FROM toks
         |  UNION ALL SELECT 'n_dup_groups', v FROM dups) t
         |ORDER BY metric""".stripMargin,
    "llm_jl_project" -> JlProjectOracleSql,
    "llm_jl_recall" -> JlRecallOracleSql,
    "llm_jl_rerank" -> JlRerankOracleSql,
    "llm_embed_dimstats" ->
      s"""WITH eq AS (SELECT
         |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
         |v AS (SELECT i - 1 AS pos, eq[i] AS v FROM eq, range(1, 65) t(i))
         |SELECT CAST(pos AS BIGINT) AS pos, count(*)::BIGINT AS n,
         |  CAST(sum(v) AS BIGINT) AS sum_v, CAST(sum(v * v) AS BIGINT) AS sumsq,
         |  min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v
         |FROM v GROUP BY pos ORDER BY pos""".stripMargin,
    "llm_cms_estimate" ->
      s"""WITH w0 AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM documents),
         |f AS (SELECT w FROM w0 WHERE len(w) > 0),
         |widths AS (SELECT * FROM (VALUES (64), (8)) v(width)),
         |cells AS (SELECT width, r AS row,
         |    ${duckHash("'cms:' || r || ':' || w")} % width AS bucket,
         |    count(*)::BIGINT AS n
         |  FROM f, range(0, 4) t(r), widths GROUP BY 1, 2, 3),
         |terms AS (SELECT * FROM (VALUES ('hash'), ('spark'), ('vector'),
         |  ('zzz_absent')) v(term)),
         |probes AS (SELECT width, term, r AS row,
         |    ${duckHash("'cms:' || r || ':' || term")} % width AS bucket
         |  FROM terms, range(0, 4) t(r), widths),
         |est AS (SELECT width, term, CAST(min(coalesce(n, 0)) AS BIGINT) AS est
         |  FROM probes LEFT JOIN cells USING (width, row, bucket)
         |  GROUP BY width, term),
         |exact AS (SELECT w AS term, count(*)::BIGINT AS exact_n FROM f
         |  WHERE w IN ('spark', 'vector', 'hash', 'zzz_absent') GROUP BY w)
         |SELECT CAST(width AS BIGINT) AS width, term, est,
         |  coalesce(exact_n, CAST(0 AS BIGINT)) AS exact_n
         |FROM est LEFT JOIN exact USING (term) ORDER BY width, term""".stripMargin,
    "llm_ann_pq_indexed" -> PqOracleSql,
    "llm_ann_pq_recall" -> PqRecallOracleSql,
    // the codes CTE is the PqOracleSql training replay; DuckDB's s is
    // 0-based (pos-1)//16 exactly like the Spark subspace index
    "llm_pq_code_balance" ->
      s"""WITH eq AS (SELECT vec_id, label,
         |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
         |c AS (SELECT vec_id AS cid, label, eq AS ce FROM eq WHERE vec_id >= 3),
         |cwp AS (SELECT label AS l, i AS pos,
         |    CAST(floor(CAST(sum(ce[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cw
         |  FROM c, range(1, 65) t(i) GROUP BY label, i),
         |dists AS (SELECT c.cid AS cid, cwp.l AS l, (cwp.pos - 1) // 16 AS s,
         |    CAST(sum((c.ce[cwp.pos] - cwp.cw) * (c.ce[cwp.pos] - cwp.cw))
         |      AS BIGINT) AS d
         |  FROM c, cwp GROUP BY c.cid, cwp.l, (cwp.pos - 1) // 16),
         |codes AS (SELECT cid, s, l AS code FROM (
         |    SELECT cid, s, l, row_number() OVER (
         |      PARTITION BY cid, s ORDER BY d, l) AS rn FROM dists) t
         |  WHERE rn = 1)
         |SELECT s::BIGINT AS s, code::BIGINT AS code, count(*)::BIGINT AS n_vecs
         |FROM codes GROUP BY s, code ORDER BY s, code""".stripMargin,
    "llm_ann_topk_exact" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 3),
         |s AS (SELECT qid, cid,
         |  CAST((SELECT sum(${qElem("qe")} * ${qElem("ce")}) FROM range(1, 65) r(i)) AS BIGINT) AS dot
         |  FROM c, q)
         |SELECT qid, cid, rank, dot FROM (
         |  SELECT qid, cid, dot, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rank
         |  FROM s) t WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // identical SQL for the inline and indexed paths: the index changes
    // where the work happens, never the answer
    "llm_ann_ivf_indexed" -> IvfOracleSql,
    "llm_ann_ivf" -> IvfOracleSql,
    "llm_ann_ivf_probe2" -> ivfOracleSql(2),
    "llm_ann_ivf_append" -> IvfOracleSql,
    "llm_ann_ivf_recall" -> IvfRecallOracleSql,
    // ground truth by construction: the 3 variants of each image group
    // (doc_id // 3) must pair with each other and with nothing else
    "llm_image_neardup" -> MediaGroupPairsOracleSql,
    "llm_audio_neardup" -> MediaGroupPairsOracleSql,
    // the construction implies found == truth for both media paths, so
    // the oracle derives every ledger count from the truth pair set —
    // any banded miss or false pair becomes a value mismatch
    "llm_media_dedup_eval" ->
      """WITH truth AS (SELECT d1.doc_id AS a, d2.doc_id AS b
        |  FROM documents d1 JOIN documents d2
        |    ON d1.doc_id // 3 = d2.doc_id // 3 AND d1.doc_id < d2.doc_id
        |  WHERE d1.doc_id < 90 AND d2.doc_id < 90),
        |n AS (SELECT count(*)::BIGINT AS n_truth FROM truth)
        |SELECT method, n_truth, n_truth AS n_found, n_truth AS n_matched,
        |  (n_truth * 1000) // n_truth AS recall_pm,
        |  (n_truth * 1000) // n_truth AS precision_pm
        |FROM n, (VALUES ('audio_energy'), ('image_dhash')) m(method)
        |ORDER BY method""".stripMargin,
    "llm_bm25" -> Bm25OracleSql,
    "llm_knn_graph" ->
      s"""WITH $knnCellCtes
         |SELECT a, b, rank, cosine FROM kg ORDER BY a, rank""".stripMargin,
    "llm_graph_labelprop" ->
      s"""WITH $knnCellCtes,
         |${labelpropTail("kg")}""".stripMargin,
    "llm_graph_labelprop_probe2" ->
      s"""WITH ${kmeansCtes(AutoNlistSql)},
         |${knnProbeCtes(2, "p")},
         |${labelpropTail("kgp")}""".stripMargin,
    "llm_semdedup_pairs_probe2" ->
      s"""WITH ${kmeansCtes(AutoNlistSql)},
         |${knnProbeCtes(2, "sp", op = "<")}
         |SELECT a, b, cosine FROM kcossp WHERE cosine >= $EmbDedupThreshold
         |ORDER BY a, b""".stripMargin,
    "llm_knn_recall" ->
      s"""WITH $knnCellCtes,
         |$knnExactCtes,
         |m AS (SELECT count(*)::BIGINT AS total_matches
         |  FROM (SELECT a, b FROM kg WHERE a < 150) kgf JOIN eg USING (a, b)),
         |ne AS (SELECT count(DISTINCT a)::BIGINT AS n_eval FROM eg)
         |SELECT ne.n_eval AS n_eval, m.total_matches AS total_matches,
         |  CAST(m.total_matches AS DOUBLE) / (3.0 * ne.n_eval) AS recall
         |FROM ne, m""".stripMargin,
    "llm_knn_graph_probe2" ->
      s"""WITH ${kmeansCtes(AutoNlistSql)},
         |${knnProbeCtes(2, "p")}
         |SELECT a, b, rank, cosine FROM kgp ORDER BY a, rank""".stripMargin,
    // the persisted-store lifecycle: append == full rebuild, so it
    // shares the probe-2 graph oracle (the llm_ann_*_append convention)
    "llm_knn_graph_store" ->
      s"""WITH ${kmeansCtes(AutoNlistSql)},
         |${knnProbeCtes(2, "p")}
         |SELECT a, b, rank, cosine FROM kgp ORDER BY a, rank""".stripMargin,
    "llm_knn_store_audit" ->
      s"""WITH ${kmeansCtes(AutoNlistSql)},
         |${knnProbeCtes(2, "p")},
         |hme AS (SELECT vec_id, cid AS home FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    (SELECT sum((e.eq[i] - c.ceq[i]) * (e.eq[i] - c.ceq[i])) FROM range(1, 65) r(i)),
         |    c.cid) AS rn
         |  FROM eq e, c1 c) t WHERE rn = 1),
         |va AS (SELECT 'vectors' AS store,
         |  count(DISTINCT cluster)::BIGINT AS n_parts,
         |  count(DISTINCT cluster)::BIGINT AS n_files,
         |  count(*)::BIGINT AS n_rows, 0::BIGINT AS n_residue FROM app),
         |ea AS (SELECT 'edges' AS store,
         |  count(DISTINCT home)::BIGINT AS n_parts,
         |  count(DISTINCT home)::BIGINT AS n_files,
         |  count(*)::BIGINT AS n_rows, 0::BIGINT AS n_residue
         |  FROM kgp JOIN hme ON kgp.a = hme.vec_id)
         |SELECT * FROM ea UNION ALL SELECT * FROM va ORDER BY store""".stripMargin,
    "llm_knn_recall_probes" ->
      s"""WITH ${kmeansCtes(AutoNlistSql)},
         |${knnProbeCtes(1, "1")},
         |${knnProbeCtes(2, "2")},
         |$knnExactCtes,
         |ne AS (SELECT count(DISTINCT a)::BIGINT AS n_eval FROM eg),
         |r1 AS (SELECT 1::BIGINT AS nprobe, ne.n_eval AS n_eval,
         |  (SELECT count(*) FROM (SELECT a, b FROM kg1 WHERE a < 150) f
         |     JOIN eg USING (a, b))::BIGINT AS total_matches,
         |  (SELECT count(*) FROM kcos1)::BIGINT AS n_pairs FROM ne),
         |r2 AS (SELECT 2::BIGINT AS nprobe, ne.n_eval AS n_eval,
         |  (SELECT count(*) FROM (SELECT a, b FROM kg2 WHERE a < 150) f
         |     JOIN eg USING (a, b))::BIGINT AS total_matches,
         |  (SELECT count(*) FROM kcos2)::BIGINT AS n_pairs FROM ne)
         |SELECT nprobe, n_eval, total_matches,
         |  CAST(total_matches AS DOUBLE) / (3.0 * n_eval) AS recall, n_pairs
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2) u
         |ORDER BY nprobe""".stripMargin,
    "llm_semdedup_pairs" ->
      s"""WITH $semPairsCtes
         |SELECT cluster, a, b, cosine FROM semscored ORDER BY a, b""".stripMargin,
    "llm_semdedup_keep" ->
      s"""WITH RECURSIVE $semPairsCtes,
         |sym AS (SELECT a AS src, b AS dst FROM semscored
         |        UNION ALL SELECT b AS src, a AS dst FROM semscored),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT node FROM comp WHERE node <> label)
         |ORDER BY vec_id""".stripMargin,
    "llm_rrf_hybrid" ->
      s"""WITH $Bm25Ctes,
         |lex AS (SELECT doc_id, rank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM bmscored) t WHERE rank <= 50),
         |e AS (SELECT vec_id,
         |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
         |q AS (SELECT eq AS qe FROM e WHERE vec_id = 0),
         |sem0 AS (SELECT vec_id,
         |  CAST((SELECT sum((e.eq)[i] * (q.qe)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot,
         |  CAST((SELECT sum((e.eq)[i] * (e.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS na
         |  FROM e, q WHERE vec_id <> 0),
         |sem AS (SELECT doc_id, rank FROM (
         |  SELECT vec_id AS doc_id,
         |    row_number() OVER (ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) DESC, vec_id) AS rank
         |  FROM sem0 WHERE na > 0) t WHERE rank <= 50),
         |u AS (SELECT doc_id, 1000000 // (60 + rank) AS c FROM lex
         |      UNION ALL SELECT doc_id, 1000000 // (60 + rank) FROM sem)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_ppm,
         |  count(*)::BIGINT AS n_systems
         |FROM u GROUP BY doc_id
         |ORDER BY rrf_ppm DESC, doc_id LIMIT 20""".stripMargin,
    "llm_bpe_pairs" ->
      s"""WITH wf AS (SELECT w, count(*)::BIGINT AS freq FROM (
         |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM documents) t WHERE len(w) > 0 GROUP BY w),
         |sy AS (SELECT freq,
         |  list_append([w[i] for i in range(1, len(w) + 1)], '</w>') AS s FROM wf),
         |pr AS (SELECT freq, unnest([s[i] || ' ' || s[i+1]
         |  for i in range(1, len(s))]) AS pair FROM sy)
         |SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pr
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "llm_bpe_encode" -> BpeEncodeOracleSql,
    // the store round-trip must equal direct train+encode bit-for-bit
    "llm_bpe_store" -> BpeEncodeOracleSql,
    "llm_bpe_bytefallback" -> BpeByteFallbackOracleSql,
    "llm_unigram_train" -> UnigramTrainOracleSql,
    "llm_unigram_prune" -> UnigramPruneOracleSql,
    "llm_unigram_nbest" -> UnigramNbestOracleSql,
    "llm_unigram_prune_encode" -> UnigramPruneEncodeOracleSql,
    "llm_backoff_lm_score" -> BackoffScoreOracleSql,
    "llm_backoff_lm_store" -> BackoffScoreOracleSql,
    "llm_backoff_lm_incremental" -> BackoffScoreOracleSql,
    "llm_backoff_drift" -> BackoffDriftOracleSql,
    "llm_gopher_repetition" -> GopherRepetitionOracleSql,
    "llm_e2e_quality_chain" -> E2eQualityChainOracleSql,
    "llm_quality_funnel" -> QualityFunnelOracleSql,
    "llm_ccnet_buckets" -> CcnetBucketsOracleSql,
    "llm_unigram_encode" -> UnigramEncodeOracleSql,
    // store round-trip must equal direct train+encode bit-for-bit
    "llm_unigram_store" -> UnigramEncodeOracleSql,
    // byte-fallback: train CTEs on the ORIGINAL corpus, one more DP
    // pass over the SUFFIXED corpus's chunked words with unseen chars
    // at the engine's sentinel score, learned ids at +259, unseen
    // pieces exploded into 1 + ascii(byte) token ids (the suffix is
    // ASCII — the BPE fallback oracle's fixture assumption)
    "llm_unigram_bytefallback" -> {
      val L = graft.llm.Unigram.MaxWordLen
      s"""WITH $UnigramTrainCtes,
         |${unigramScoreCte(UnigramRounds)},
         |uwfo AS MATERIALIZED (SELECT w, count(*)::BIGINT AS freq FROM (
         |  SELECT unnest([substr(w0, $L*i + 1, $L)
         |      for i in range(0, (len(w0) + ${L - 1}) // $L)]) AS w
         |  FROM (SELECT unnest(string_split_regex(lower(text || '$BpeOovSuffix'),
         |      '\\s+')) AS w0 FROM documents) t0
         |  WHERE len(w0) > 0) t GROUP BY w),
         |usf AS MATERIALIZED (SELECT piece, s FROM us$UnigramRounds
         |  UNION ALL
         |  SELECT c AS piece,
         |    CAST(${graft.llm.Unigram.UnkPieceScore} AS BIGINT) AS s
         |  FROM (SELECT DISTINCT unnest([w[i]
         |      for i in range(1, len(w) + 1)]) AS c FROM uwfo) cc
         |  ANTI JOIN us$UnigramRounds ON cc.c = piece),
         |${unigramDpCtes(UnigramRounds + 1, wordsCte = "uwfo", scoreCte = "usf")},
         |uidsf AS (SELECT piece,
         |    row_number() OVER (ORDER BY piece) + 259 AS token_id
         |  FROM uc$UnigramRounds),
         |udwo AS (SELECT doc_id, unnest(range(0, len(ws))) AS word_pos,
         |    unnest(ws) AS w0
         |  FROM (SELECT doc_id,
         |      list_filter(string_split_regex(lower(text || '$BpeOovSuffix'),
         |        '\\s+'), x -> len(x) > 0) AS ws FROM documents) t),
         |uchko AS (SELECT w0,
         |    unnest(range(0, (len(w0) + ${L - 1}) // $L)) AS ci
         |  FROM (SELECT DISTINCT w0 FROM udwo) t),
         |uwsego AS (SELECT w0, string_agg(seg, ' ' ORDER BY ci) AS seg FROM (
         |  SELECT c.w0 AS w0, c.ci AS ci, g.seg AS seg
         |  FROM (SELECT w0, ci, substr(w0, $L*ci + 1, $L) AS w FROM uchko) c
         |  JOIN useg${UnigramRounds + 1} g USING (w)) t GROUP BY w0),
         |uenco AS (SELECT doc_id, word_pos,
         |    unnest(range(0, len(ps))) AS sym_pos, unnest(ps) AS piece
         |  FROM (SELECT doc_id, word_pos, string_split(seg, ' ') AS ps
         |        FROM udwo JOIN uwsego USING (w0)) t),
         |uknown AS (SELECT doc_id, word_pos, sym_pos, 0 AS fb_pos, token_id
         |  FROM uenco JOIN uidsf USING (piece)),
         |uunk AS (SELECT doc_id, word_pos, sym_pos, i - 1 AS fb_pos,
         |    1 + ascii(piece[CAST(i AS INT)]) AS token_id
         |  FROM (SELECT doc_id, word_pos, sym_pos, piece,
         |      unnest(range(1, len(piece) + 1)) AS i
         |    FROM uenco ANTI JOIN uidsf USING (piece)) t)
         |SELECT doc_id, word_pos, sym_pos, CAST(fb_pos AS BIGINT) AS fb_pos,
         |  CAST(token_id AS BIGINT) AS token_id
         |FROM (SELECT * FROM uknown UNION ALL SELECT * FROM uunk) u
         |ORDER BY doc_id, word_pos, sym_pos, fb_pos""".stripMargin
    },
    // BOTH tokenizer replays in one statement: the BPE merged vocab
    // (12 unrolled merges) and the unigram EM chain + encode-pass DP
    "llm_tokenizer_compare" -> {
      val L = graft.llm.Unigram.MaxWordLen
      val enc = UnigramRounds + 1
      s"""WITH $BpeMergedVocabCtes,
         |$UnigramTrainCtes,
         |${unigramScoreCte(UnigramRounds)},
         |${unigramDpCtes(enc)},
         |bwl AS (SELECT w, len(syms)::BIGINT AS n_syms FROM wsyms),
         |cdw AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM documents) t WHERE len(w) > 0 GROUP BY doc_id, w),
         |btc0 AS (SELECT doc_id, CAST(sum(c * n_syms) AS BIGINT) AS n_b
         |  FROM cdw JOIN bwl USING (w) GROUP BY doc_id),
         |uchk2 AS (SELECT w0, unnest(range(0, (len(w0) + ${L - 1}) // $L)) AS ci
         |  FROM (SELECT DISTINCT w AS w0 FROM cdw) t),
         |uwn AS (SELECT w0, CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_u
         |  FROM (SELECT c.w0 AS w0, g.seg AS seg
         |    FROM (SELECT w0, ci, substr(w0, $L*ci + 1, $L) AS w FROM uchk2) c
         |    JOIN useg$enc g USING (w)) t GROUP BY w0),
         |utc0 AS (SELECT doc_id, CAST(sum(c * n_u) AS BIGINT) AS n_u
         |  FROM cdw JOIN uwn ON cdw.w = uwn.w0 GROUP BY doc_id),
         |cagg AS (SELECT source, CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |    CAST(sum(coalesce(btc0.n_b, 0)) AS BIGINT) AS n_bpe_tokens,
         |    CAST(sum(coalesce(utc0.n_u, 0)) AS BIGINT) AS n_unigram_tokens
         |  FROM documents LEFT JOIN btc0 USING (doc_id)
         |  LEFT JOIN utc0 USING (doc_id) GROUP BY source)
         |SELECT source, n_chars, n_bpe_tokens, n_unigram_tokens,
         |  (CASE WHEN n_bpe_tokens > 0
         |    THEN n_chars * 1000 // n_bpe_tokens END)::BIGINT AS bpe_cpt_mille,
         |  (CASE WHEN n_unigram_tokens > 0
         |    THEN n_chars * 1000 // n_unigram_tokens END)::BIGINT
         |    AS unigram_cpt_mille
         |FROM cagg ORDER BY source""".stripMargin
    },
    "llm_repeated_spans" ->
      s"""WITH $SpanKeyCtes
         |SELECT ks.doc_id AS doc_id, CAST(start AS BIGINT) AS start,
         |  ks.h AS h, q.df AS df, q.n_occ AS n_occ
         |FROM ks JOIN q USING (h) ORDER BY doc_id, start, h""".stripMargin,
    // gaps-and-islands replay of the interval merge: a window starts a
    // new island iff its start exceeds the previous start + k
    "llm_repeated_spans_maximal" ->
      s"""WITH $SpanKeyCtes,
         |qs AS (SELECT ks.doc_id AS doc_id, ks.start AS start
         |  FROM ks JOIN q USING (h)),
         |fl AS (SELECT doc_id, start,
         |  CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
         |        OR start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 8
         |       THEN 1 ELSE 0 END AS nw FROM qs),
         |ii AS (SELECT doc_id, start, sum(nw) OVER (
         |    PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM fl)
         |SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
         |  CAST(max(start) + 7 - min(start) + 1 AS BIGINT) AS span_len,
         |  count(*)::BIGINT AS n_windows
         |FROM ii GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,
    "llm_span_trim" ->
      s"""WITH $SpanKeyCtes,
         |cov AS (SELECT DISTINCT ks.doc_id AS doc_id, ks.start + r.i AS pos
         |  FROM ks JOIN q USING (h), range(0, 8) r(i)),
         |tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos,
         |    unnest(ws) AS w FROM wsx),
         |kept AS (SELECT t.doc_id, t.pos, t.w FROM tok t
         |  ANTI JOIN cov USING (doc_id, pos)),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_tokens
         |  FROM tok GROUP BY doc_id),
         |rb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS trimmed,
         |    count(*)::BIGINT AS kept FROM kept GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id, coalesce(rb.trimmed, '') AS trimmed,
         |  coalesce(tot.n_tokens, 0)::BIGINT AS n_tokens,
         |  (coalesce(tot.n_tokens, 0) - coalesce(rb.kept, 0))::BIGINT AS n_dropped
         |FROM d LEFT JOIN tot USING (doc_id) LEFT JOIN rb USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "llm_bpe_fertility" ->
      s"""WITH $BpeMergedVocabCtes,
         |wl AS (SELECT w, len(syms)::BIGINT AS n_syms FROM wsyms),
         |dw AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM documents) t WHERE len(w) > 0 GROUP BY doc_id, w),
         |tc0 AS (SELECT doc_id, CAST(sum(c * n_syms) AS BIGINT) AS n_tok
         |  FROM dw JOIN wl USING (w) GROUP BY doc_id),
         |tc AS (SELECT d.doc_id AS doc_id, coalesce(tc0.n_tok, 0)::BIGINT AS n_tok
         |  FROM documents d LEFT JOIN tc0 USING (doc_id)),
         |agg AS (SELECT source, CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM documents JOIN tc USING (doc_id) GROUP BY source)
         |SELECT source, n_chars, n_tokens,
         |  (CASE WHEN n_tokens > 0 THEN n_chars * 1000 // n_tokens END)::BIGINT
         |    AS chars_per_token_mille
         |FROM agg ORDER BY source""".stripMargin,
    // round-trip oracle: NO BPE replay — decoded text must equal the
    // normalized original, so the whole train/encode/decode chain is
    // value-checked by the source corpus itself
    "llm_bpe_decode" ->
      s"""SELECT doc_id, array_to_string(ws, ' ') AS text
         |FROM (SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'),
         |    x -> len(x) > 0) AS ws FROM documents) t
         |WHERE len(ws) > 0 ORDER BY doc_id""".stripMargin,
    "llm_bpe_pack" ->
      s"""WITH $BpeMergedVocabCtes,
         |wl AS (SELECT w, len(syms)::BIGINT AS n_syms FROM wsyms),
         |dw AS (SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS w
         |  FROM documents),
         |cnts AS (SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS bpe
         |  FROM dw JOIN wl USING (w) GROUP BY doc_id),
         |t AS (SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
         |    coalesce(bpe, 0) + 1 AS tokens,
         |    ${duckHash("('pack:' || doc_id)")} AS h
         |  FROM documents LEFT JOIN cnts USING (doc_id)),
         |c2 AS (SELECT doc_id, shard, tokens,
         |    sum(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT doc_id, shard, tokens,
         |  CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS pack_first,
         |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS pack_last
         |FROM c2 ORDER BY doc_id""".stripMargin,
    "llm_source_overlap" ->
      s"""WITH sh AS (SELECT DISTINCT src, h FROM (
         |  SELECT source AS src, unnest(list_distinct(list_transform(
         |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
         |    s -> ${duckHash("s")}))) AS h
         |  FROM (SELECT source, string_split_regex(lower(text), '\\s+') AS w
         |        FROM documents) t0
         |  WHERE len(w) >= 3) t1),
         |wd AS (SELECT src, h, count(*) OVER (PARTITION BY h) AS df FROM sh),
         |sizes AS (SELECT src, count(*)::BIGINT AS nsh FROM wd
         |  WHERE df <= 64 GROUP BY src),
         |j AS (SELECT src, h FROM wd WHERE df BETWEEN 2 AND 64),
         |inter AS (SELECT x.src AS src_a, y.src AS src_b,
         |  count(*)::BIGINT AS n_common
         |  FROM j x JOIN j y ON x.h = y.h AND x.src < y.src GROUP BY 1, 2)
         |SELECT src_a, src_b, sa.nsh AS n_a, sb.nsh AS n_b, n_common,
         |  CAST(n_common AS DOUBLE) / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes sa ON sa.src = inter.src_a
         |JOIN sizes sb ON sb.src = inter.src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "llm_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id AS vid, label AS lbl,
         |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
         |b0 AS (SELECT vid, lbl, eq, $bucketExpr AS bucket FROM e),
         |b AS (SELECT vid, lbl, eq, bucket FROM (
         |  SELECT vid, lbl, eq, bucket, count(*) OVER (PARTITION BY bucket) AS bc FROM b0) t0
         |  WHERE bc BETWEEN 2 AND ${Similarity.DefaultMaxBucket}),
         |p AS (SELECT x.vid AS vid, x.lbl AS label, y.vid AS neg, y.lbl AS neg_label,
         |  CAST((SELECT sum((x.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.lbl <> y.lbl)
         |SELECT vid, label, neg, neg_label, dot, rank FROM (
         |  SELECT vid, label, neg, neg_label, dot,
         |    row_number() OVER (PARTITION BY vid ORDER BY dot DESC, neg) AS rank
         |  FROM p) t WHERE rank <= 2 ORDER BY vid, rank""".stripMargin,
    "llm_rank_normalize" ->
      s"""SELECT doc_id, source, n_chars,
         |  CASE WHEN cnt = 1 THEN 0
         |       ELSE (rnk - 1) * 1000 // (cnt - 1) END AS pm_rank
         |FROM (SELECT doc_id, source, n_chars,
         |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rnk,
         |  count(*) OVER (PARTITION BY source) AS cnt FROM documents) t
         |ORDER BY doc_id""".stripMargin,
    "llm_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT d.doc_id, coalesce(n_toks, 0) AS n_toks,
         |  coalesce(dsir_micro, 0) AS dsir_micro
         |FROM documents d LEFT JOIN wsum USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // full 2-step training replay: every weight and the bias
    "llm_quality_lr" ->
      s"""WITH $QualityLrCtes
         |SELECT CAST(-1 AS BIGINT) AS bucket, bias AS w_micro FROM b2
         |UNION ALL SELECT h AS bucket, wm AS w_micro FROM w2
         |ORDER BY bucket""".stripMargin,
    // the generated 3-step bigram-feature replay: every weight + bias
    "llm_quality_lr_bigram" ->
      s"""WITH ${qualityLrGenCtes("qb", 3, bigrams = true)}
         |SELECT CAST(-1 AS BIGINT) AS bucket, bias AS w_micro FROM qbb3
         |UNION ALL SELECT h AS bucket, wm AS w_micro FROM qbw3
         |ORDER BY bucket""".stripMargin,
    // score the SEED with the trained model, rank -> per-mille ->
    // decile bands -> observed positive rate, all integer
    "llm_quality_lr_calibration" ->
      s"""WITH $QualityLrCtes,
         |ssum AS (SELECT doc_id, CAST(sum(c * coalesce(wm, 0)) AS BIGINT) AS s
         |  FROM ldb LEFT JOIN w2 USING (h) GROUP BY doc_id),
         |scal AS (SELECT l.doc_id AS doc_id, y,
         |    (SELECT bias FROM b2) + coalesce(s, 0) AS score_micro
         |  FROM lab l LEFT JOIN ssum USING (doc_id)),
         |rkc AS (SELECT doc_id, y,
         |    CASE WHEN cnt = 1 THEN 0
         |         ELSE (rnk - 1) * 1000 // (cnt - 1) END AS pm_rank
         |  FROM (SELECT doc_id, y,
         |      row_number() OVER (ORDER BY score_micro, doc_id) AS rnk,
         |      count(*) OVER () AS cnt FROM scal) t)
         |SELECT least(pm_rank // 100, 9) AS decile,
         |  count(*)::BIGINT AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos,
         |  (CAST(sum(y) AS BIGINT) * 1000) // count(*) AS pos_pm
         |FROM rkc GROUP BY decile ORDER BY decile""".stripMargin,
    // train + corpus scoring: exact integer dot against the learned
    // weight table, unseen buckets contribute 0
    "llm_quality_lr_score" ->
      s"""WITH $QualityLrCtes,
         |$QualityLrScoreCtes
         |SELECT doc_id, n_toks, score_micro FROM scored
         |ORDER BY doc_id""".stripMargin,
    // train -> score -> per-source rank pm -> top-40% gate -> token
    // budget: every stage of the model-based chain replayed
    "llm_e2e_model_curate" ->
      s"""WITH $QualityLrCtes,
         |$QualityLrScoreCtes,
         |rk AS (SELECT doc_id, score_micro,
         |    CASE WHEN cnt = 1 THEN 0
         |         ELSE (rnk - 1) * 1000 // (cnt - 1) END AS pm_rank
         |  FROM (SELECT sc2.doc_id AS doc_id, score_micro,
         |    row_number() OVER (PARTITION BY source ORDER BY score_micro, sc2.doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY source) AS cnt
         |    FROM scored sc2 JOIN documents USING (doc_id)) t),
         |gated AS (SELECT rk.doc_id AS doc_id, pm_rank, score_micro,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens,
         |    ${duckHash("('sel:' || rk.doc_id)")} AS hsel
         |  FROM rk JOIN documents ON rk.doc_id = documents.doc_id
         |  WHERE pm_rank >= 600),
         |csel AS (SELECT doc_id, pm_rank, score_micro, tokens,
         |  sum(tokens) OVER (ORDER BY score_micro DESC, hsel, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM gated)
         |SELECT doc_id, pm_rank, score_micro, tokens FROM csel
         |WHERE cum <= 6000 ORDER BY doc_id""".stripMargin,
    "llm_dsir_sample" ->
      s"""WITH $dsirCtes,
         |wts AS (SELECT d.doc_id, d.source,
         |  coalesce(dsir_micro, 0) AS dsir_micro
         |  FROM documents d LEFT JOIN wsum USING (doc_id)),
         |rk AS (SELECT doc_id, source,
         |  CASE WHEN cnt = 1 THEN 0
         |       ELSE (rnk - 1) * 1000 // (cnt - 1) END AS pm_rank
         |  FROM (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY dsir_micro, doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY source) AS cnt FROM wts) t)
         |SELECT source, count(*)::BIGINT AS n_kept,
         |  CAST(sum(pm_rank) AS BIGINT) AS kept_pm
         |FROM rk WHERE ${duckHash("('imp:' || doc_id)")} % 1000 < pm_rank
         |GROUP BY source ORDER BY source""".stripMargin,
    "llm_padding_stats" ->
      s"""WITH b AS (SELECT n_chars, (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
         |  + CASE WHEN n_chars > 300 THEN 1 ELSE 0 END
         |  + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END)::BIGINT AS bucket
         |  FROM documents)
         |SELECT bucket,
         |  (CASE bucket WHEN 1 THEN 150 WHEN 2 THEN 300 WHEN 3 THEN 450
         |    ELSE 0 END)::BIGINT AS lo,
         |  CAST(max(n_chars) AS BIGINT) AS hi, count(*)::BIGINT AS n_docs,
         |  CAST(max(n_chars) AS BIGINT) AS max_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_tokens,
         |  CAST(CASE WHEN max(n_chars) = 0 THEN 0
         |    ELSE (count(*) * max(n_chars) - sum(n_chars)) * 1000
         |      // (count(*) * max(n_chars)) END AS BIGINT) AS pad_pm
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "llm_triplets" ->
      s"""WITH e AS (SELECT vec_id AS vid, label AS lbl,
         |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
         |b0 AS (SELECT vid, lbl, eq, $bucketExpr AS bucket FROM e),
         |b AS (SELECT vid, lbl, eq, bucket FROM (
         |  SELECT vid, lbl, eq, bucket, count(*) OVER (PARTITION BY bucket) AS bc FROM b0) t0
         |  WHERE bc BETWEEN 2 AND ${Similarity.DefaultMaxBucket}),
         |p AS (SELECT x.vid AS vid, x.lbl AS label, y.vid AS nn, y.lbl AS nlbl,
         |  CAST((SELECT sum((x.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vid <> y.vid),
         |pq AS (SELECT vid, label, nn AS pos, dot AS pos_dot FROM (
         |  SELECT vid, label, nn, dot,
         |    row_number() OVER (PARTITION BY vid ORDER BY dot DESC, nn) AS rn
         |  FROM p WHERE label = nlbl) t WHERE rn = 1),
         |nq AS (SELECT vid, nn AS neg, dot AS neg_dot FROM (
         |  SELECT vid, nn, dot,
         |    row_number() OVER (PARTITION BY vid ORDER BY dot DESC, nn) AS rn
         |  FROM p WHERE label <> nlbl) t WHERE rn = 1)
         |SELECT pq.vid, label, pos, neg, pos_dot, neg_dot,
         |  pos_dot - neg_dot AS margin
         |FROM pq JOIN nq ON pq.vid = nq.vid ORDER BY pq.vid""".stripMargin,
    "llm_corpus_drift" ->
      """WITH cur AS (
        |  SELECT doc_id, CASE WHEN ((doc_id % 5) + 5) % 5 = 0 THEN text || ' [edit]' ELSE text END AS text
        |  FROM documents WHERE ((doc_id % 7) + 7) % 7 <> 0
        |  UNION ALL
        |  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE ((doc_id % 11) + 11) % 11 = 0),
        |bt AS (SELECT tok, count(*)::BIGINT AS cb FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents) t
        |  WHERE len(tok) > 0 GROUP BY 1),
        |ct AS (SELECT tok, count(*)::BIGINT AS cc FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok FROM cur) t
        |  WHERE len(tok) > 0 GROUP BY 1),
        |j AS (SELECT coalesce(bt.tok, ct.tok) AS token,
        |    coalesce(cb, 0)::BIGINT AS c_base, coalesce(cc, 0)::BIGINT AS c_cur
        |  FROM bt FULL JOIN ct ON bt.tok = ct.tok),
        |tot AS (SELECT CAST(sum(c_base) AS BIGINT) AS NB,
        |  CAST(sum(c_cur) AS BIGINT) AS NC, count(*)::BIGINT AS V FROM j)
        |SELECT token, c_base, c_cur, contrib_micro FROM (
        |  SELECT token, c_base, c_cur,
        |    (c_base + 1) * CAST(floor(ln(CAST(c_base + 1 AS DOUBLE) * CAST(NC + V AS DOUBLE)
        |      / (CAST(c_cur + 1 AS DOUBLE) * CAST(NB + V AS DOUBLE))) * 1000000.0) AS BIGINT)
        |      AS contrib_micro
        |  FROM j, tot) s
        |ORDER BY contrib_micro DESC, token LIMIT 15""".stripMargin,
    "llm_weighted_quantiles" ->
      """WITH t AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w FROM documents),
        |agg AS (SELECT v, CAST(sum(w) AS BIGINT) AS c FROM t GROUP BY v),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cw FROM agg),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS W FROM agg)
        |SELECT q_pm, (SELECT min(v) FROM cum WHERE cw >= (q_pm * W + 999) // 1000) AS boundary
        |FROM (SELECT CAST(unnest([250, 500, 750]) AS BIGINT) AS q_pm) q, tot
        |ORDER BY q_pm""".stripMargin,
    "llm_tfidf_topterms" ->
      """WITH tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |    FROM documents) t
        |  WHERE len(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, count(*)::BIGINT AS dfc FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS N FROM documents)
        |SELECT doc_id, rank, term, tf, score_micro FROM (
        |  SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf,
        |    tf.tf * CAST(floor(ln(CAST(N AS DOUBLE) / CAST(dfc AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS score_micro,
        |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY
        |      tf.tf * CAST(floor(ln(CAST(N AS DOUBLE) / CAST(dfc AS DOUBLE))
        |        * 1000000.0) AS BIGINT) DESC, tf.term) AS rank
        |  FROM tf JOIN df USING (term), n) s
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "llm_pmi_bigrams" ->
      """WITH w AS (SELECT string_split_regex(lower(text), '\s+') AS ws FROM documents),
        |uni AS (SELECT tok, count(*)::BIGINT AS c1 FROM (
        |    SELECT unnest(ws) AS tok FROM w) t
        |  WHERE len(tok) > 0 GROUP BY 1),
        |bi AS (SELECT bigram, count(*)::BIGINT AS n_pair FROM (
        |    SELECT unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS bigram
        |    FROM w) t
        |  GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(c1) AS BIGINT) FROM uni) AS NU,
        |  (SELECT CAST(sum(n_pair) AS BIGINT) FROM bi) AS NB)
        |SELECT bigram, n_pair, pmi_micro FROM (
        |  SELECT bi.bigram AS bigram, bi.n_pair AS n_pair,
        |    CAST(floor(ln(CAST(bi.n_pair AS DOUBLE) * CAST(NU AS DOUBLE) * CAST(NU AS DOUBLE)
        |      / (CAST(NB AS DOUBLE) * CAST(ux.c1 AS DOUBLE) * CAST(uy.c1 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS pmi_micro
        |  FROM bi
        |  JOIN uni ux ON ux.tok = string_split(bi.bigram, ' ')[1]
        |  JOIN uni uy ON uy.tok = string_split(bi.bigram, ' ')[2], tot
        |  WHERE bi.n_pair >= 5) s
        |ORDER BY pmi_micro DESC, bigram LIMIT 20""".stripMargin,
    "llm_dedup_embedding" ->
      s"""WITH $embPairsCtes
         |SELECT a, b, cosine FROM escored ORDER BY a, b""".stripMargin,
    "llm_dedup_embedding_keep" ->
      s"""WITH RECURSIVE $embPairsCtes,
         |sym AS (SELECT a AS src, b AS dst FROM escored
         |        UNION ALL SELECT b AS src, a AS dst FROM escored),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT node FROM comp WHERE node <> label)
         |ORDER BY vec_id""".stripMargin,
    "llm_ngram_jaccard" -> ngramJaccardOracle(Dedup.DefaultMaxBlock),
    "llm_ngram_jaccard_tightcap" -> ngramJaccardOracle(10),
    "llm_dedup_lsh_tightcap" ->
      s"""WITH ${pairsCtes(2)}
         |SELECT a, b, jaccard FROM scored WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,
    "llm_ann_lsh_bucketed" ->
      s"""WITH e AS (SELECT vec_id AS vid,
         |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
         |b0 AS (SELECT vid, eq, $bucketExpr AS bucket FROM e),
         |b AS (SELECT vid, eq, bucket FROM (
         |  SELECT vid, eq, bucket, count(*) OVER (PARTITION BY bucket) AS bc FROM b0) t0
         |  WHERE bc BETWEEN 2 AND ${Similarity.DefaultMaxBucket}),
         |p AS (SELECT x.vid AS vid, x.bucket AS bucket, y.vid AS nn,
         |  CAST((SELECT sum((x.eq)[i] * (y.eq)[i]) FROM range(1, 65) r(i)) AS BIGINT) AS dot
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vid <> y.vid)
         |SELECT vid, bucket, nn, dot FROM (
         |  SELECT vid, bucket, nn, dot, row_number() OVER (PARTITION BY vid ORDER BY dot DESC, nn) AS rn
         |  FROM p) t WHERE rn = 1 ORDER BY vid""".stripMargin,
    "llm_dedup_components" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src)
         |SELECT node AS doc_id, least(node, min(r)) AS component
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "llm_domain_mix" ->
      s"""WITH tok AS (SELECT doc_id, source,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens
         |  FROM documents),
         |s AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS t FROM tok GROUP BY source),
         |ord AS (SELECT source, t,
         |    row_number() OVER (ORDER BY t, source) AS k,
         |    count(*) OVER () AS n,
         |    CAST(sum(t) OVER (ORDER BY t, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS BIGINT) AS cumb
         |  FROM s),
         |cand AS (SELECT *, (26000 - cumb) // (n - k + 1) AS fk FROM ord),
         |brk AS (SELECT min(k) AS kstar FROM cand WHERE t > fk),
         |rates AS (SELECT c.source, c.t,
         |    CASE WHEN b.kstar IS NULL OR c.k < b.kstar THEN 1000
         |         ELSE greatest(
         |           least(1000,
         |             (SELECT fk FROM cand WHERE k = b.kstar) * 1000 // c.t),
         |           CASE WHEN (SELECT fk FROM cand WHERE k = b.kstar) > 0
         |                THEN 1 ELSE 0 END)
         |    END AS rate_pm
         |  FROM cand c, brk b),
         |kept AS (SELECT tok.source, r.rate_pm, tok.tokens FROM tok
         |  JOIN rates r ON tok.source = r.source
         |  WHERE ${duckHash("('mix:' || doc_id)")} % 1000 < r.rate_pm)
         |SELECT source, CAST(rate_pm AS BIGINT) AS rate_pm,
         |  count(*)::BIGINT AS n_kept, CAST(sum(tokens) AS BIGINT) AS kept_tokens
         |FROM kept GROUP BY source, rate_pm ORDER BY source""".stripMargin,
    "llm_domain_counts" ->
      s"""WITH aug AS (SELECT doc_id,
         |    text || ' see https://' || source || '.example' ||
         |      CAST(doc_id % 3 AS VARCHAR) || '.com/page/' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents),
         |h AS (SELECT doc_id, unnest(list_distinct(
         |    regexp_extract_all(lower(text), 'https?://([a-z0-9.-]+)', 1))) AS host
         |  FROM aug)
         |SELECT host, count(*)::BIGINT AS n_docs
         |FROM h GROUP BY host ORDER BY host""".stripMargin,
    "llm_domain_blocklist" ->
      s"""WITH aug AS (SELECT doc_id, source,
         |    text || ' see https://' || source || '.example' ||
         |      CAST(doc_id % 3 AS VARCHAR) || '.com/page/' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents),
         |h AS (SELECT doc_id, unnest(list_distinct(
         |    regexp_extract_all(lower(text), 'https?://([a-z0-9.-]+)', 1))) AS host
         |  FROM aug),
         |bad AS (SELECT DISTINCT doc_id FROM h
         |  WHERE host IN ('src3.example0.com', 'src7.example1.com', 'src12.example2.com'))
         |SELECT doc_id, source FROM aug
         |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin,
    "llm_e2e_curate" -> {
      val qualityWhere =
        "COALESCE(len(string_split_regex(text, '\\s+')), 0) + 1 >= 21"
      s"""WITH RECURSIVE ${pairsCtes(docWhere = qualityWhere)},
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node),
         |q AS (SELECT doc_id, source,
         |    COALESCE(len(string_split_regex(text, '\\s+')), 0)::BIGINT + 1 AS tokens
         |  FROM documents WHERE $qualityWhere),
         |kept AS (SELECT * FROM q
         |  WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> label)),
         |capped AS (SELECT doc_id, source, tokens FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY ${duckHash("'cap:' || doc_id")}, doc_id) AS rn FROM kept) t
         |  WHERE rn <= 15),
         |st AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS t
         |  FROM capped GROUP BY source),
         |wt AS (SELECT source, t,
         |    CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) AS w FROM st),
         |tot AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM wt),
         |al AS (SELECT source, t,
         |    CASE WHEN sw = 0 OR t = 0 THEN 0
         |         ELSE least(CAST(t AS HUGEINT), (12000 * CAST(w AS HUGEINT)) // sw)
         |    END AS alloc
         |  FROM wt, tot),
         |rates AS (SELECT source, t,
         |    greatest(least(1000, (alloc * 1000) // greatest(t, 1)),
         |      CASE WHEN alloc > 0 THEN 1 ELSE 0 END) AS rate_pm
         |  FROM al),
         |fin AS (SELECT capped.source, r.rate_pm, capped.tokens FROM capped
         |  JOIN rates r ON capped.source = r.source
         |  WHERE ${duckHash("('tmix:' || doc_id)")} % 1000 < r.rate_pm)
         |SELECT source, CAST(rate_pm AS BIGINT) AS rate_pm,
         |  count(*)::BIGINT AS n_kept, CAST(sum(tokens) AS BIGINT) AS kept_tokens
         |FROM fin GROUP BY source, rate_pm ORDER BY source""".stripMargin
    },
    "llm_source_stats" ->
      s"""WITH tok AS (SELECT source,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens
         |  FROM documents),
         |a AS (SELECT source, count(*)::BIGINT AS n_docs,
         |    min(tokens) AS min_t, max(tokens) AS max_t,
         |    CAST(sum(tokens) AS BIGINT) AS sum_t,
         |    CAST(sum(tokens * tokens) AS BIGINT) AS sum_sq
         |  FROM tok GROUP BY source)
         |SELECT source, n_docs, min_t, max_t, sum_t,
         |  CAST(sum_t AS DOUBLE) / n_docs AS mean_t,
         |  sqrt(greatest(0.0,
         |    (CAST(sum_sq AS DOUBLE) -
         |      CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |    / CAST(n_docs - 1 AS DOUBLE))) AS std_t
         |FROM a ORDER BY source""".stripMargin,
    "llm_cap_per_source" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${duckHash("'cap:' || doc_id")}, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 7 ORDER BY doc_id""".stripMargin,
    "llm_temperature_mix" ->
      s"""WITH tok AS (SELECT doc_id, source,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens
         |  FROM documents),
         |s AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS t FROM tok GROUP BY source),
         |w AS (SELECT source, t,
         |    CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) AS w FROM s),
         |tot AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w),
         |a AS (SELECT source, t,
         |    CASE WHEN sw = 0 OR t = 0 THEN 0
         |         ELSE least(CAST(t AS HUGEINT), (26000 * CAST(w AS HUGEINT)) // sw)
         |    END AS alloc
         |  FROM w, tot),
         |rates AS (SELECT source, t,
         |    greatest(least(1000, (alloc * 1000) // greatest(t, 1)),
         |      CASE WHEN alloc > 0 THEN 1 ELSE 0 END) AS rate_pm
         |  FROM a),
         |kept AS (SELECT tok.source, r.rate_pm, tok.tokens FROM tok
         |  JOIN rates r ON tok.source = r.source
         |  WHERE ${duckHash("('tmix:' || doc_id)")} % 1000 < r.rate_pm)
         |SELECT source, CAST(rate_pm AS BIGINT) AS rate_pm,
         |  count(*)::BIGINT AS n_kept, CAST(sum(tokens) AS BIGINT) AS kept_tokens
         |FROM kept GROUP BY source, rate_pm ORDER BY source""".stripMargin,
    "llm_dedup_incremental" ->
      s"""WITH ${pairsCtes()}
         |SELECT a, b, jaccard FROM scored
         |WHERE jaccard >= 0.5 AND (a % 10 = 9 OR b % 10 = 9)
         |ORDER BY a, b""".stripMargin,
    "llm_substring_dedup" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 2
         |    THEN concat_ws(' ', text, text) ELSE text END AS text
         |  FROM documents),
         |d AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM d0),
         |wins AS (
         |  SELECT doc_id, u.i - 1 AS s,
         |    md5(array_to_string(w[u.i : u.i + 19], ' ')) AS h
         |  FROM d, UNNEST(range(1, len(w) - 18)) AS u(i)
         |  WHERE len(w) >= 20),
         |flags AS (SELECT doc_id, s FROM (
         |    SELECT doc_id, s,
         |      row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
         |    FROM wins) t0
         |  WHERE rn > 1),
         |cov AS (SELECT DISTINCT doc_id, s + u.o AS p
         |  FROM flags, UNNEST(range(0, 20)) AS u(o)),
         |toks AS (SELECT doc_id, u.i - 1 AS p, w[u.i] AS tk
         |  FROM d, UNNEST(range(1, len(w) + 1)) AS u(i)),
         |kept AS (SELECT toks.doc_id, toks.p, toks.tk
         |  FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id AND toks.p = cov.p
         |  WHERE cov.p IS NULL),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    array_to_string(list(tk ORDER BY p), ' ') AS cleaned
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id, COALESCE(reb.cleaned, '') AS cleaned,
         |  COALESCE(reb.n_kept, 0)::BIGINT AS n_kept,
         |  (COALESCE(len(d.w), 0) - COALESCE(reb.n_kept, 0))::BIGINT AS n_dropped
         |FROM d LEFT JOIN reb ON d.doc_id = reb.doc_id
         |ORDER BY doc_id""".stripMargin,
    "llm_budget_mix" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, source, n_chars // 64 AS score,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens,
         |    ${duckHash("('sel:' || doc_id)")} AS h
         |  FROM documents),
         |c AS (SELECT doc_id, source, tokens,
         |  sum(tokens) OVER (PARTITION BY source ORDER BY score DESC, h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t0),
         |tok AS (SELECT doc_id, source, tokens FROM c WHERE cum <= 2000),
         |s AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS t FROM tok GROUP BY source),
         |ord AS (SELECT source, t,
         |    row_number() OVER (ORDER BY t, source) AS k,
         |    count(*) OVER () AS n,
         |    CAST(sum(t) OVER (ORDER BY t, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS BIGINT) AS cumb
         |  FROM s),
         |cand AS (SELECT *, (8000 - cumb) // (n - k + 1) AS fk FROM ord),
         |brk AS (SELECT min(k) AS kstar FROM cand WHERE t > fk),
         |rates AS (SELECT c.source, c.t,
         |    CASE WHEN b.kstar IS NULL OR c.k < b.kstar THEN 1000
         |         ELSE greatest(
         |           least(1000,
         |             (SELECT fk FROM cand WHERE k = b.kstar) * 1000 // c.t),
         |           CASE WHEN (SELECT fk FROM cand WHERE k = b.kstar) > 0
         |                THEN 1 ELSE 0 END)
         |    END AS rate_pm
         |  FROM cand c, brk b),
         |kept AS (SELECT tok.source, r.rate_pm, tok.tokens FROM tok
         |  JOIN rates r ON tok.source = r.source
         |  WHERE ${duckHash("('mix:' || doc_id)")} % 1000 < r.rate_pm)
         |SELECT source, CAST(rate_pm AS BIGINT) AS rate_pm,
         |  count(*)::BIGINT AS n_kept, CAST(sum(tokens) AS BIGINT) AS kept_tokens
         |FROM kept GROUP BY source, rate_pm ORDER BY source""".stripMargin,
    "llm_leakfree_split" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  CASE WHEN ${duckHash("('split:' || COALESCE(comp.label, d.doc_id))")} % 1000 < 900
         |    THEN 'train' ELSE 'val' END AS split
         |FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
         |ORDER BY doc_id""".stripMargin,
    "llm_leakfree_folds" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  (${duckHash("('fold:' || COALESCE(comp.label, d.doc_id))")} % 5)::BIGINT AS fold
         |FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
         |ORDER BY doc_id""".stripMargin,
    "llm_dedup_multisignal" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |$embPairsCtes,
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5
         |          UNION SELECT a, b FROM escored),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> label)
         |ORDER BY doc_id""".stripMargin,
    "llm_dedup_keep_one" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> label)
         |ORDER BY doc_id""".stripMargin,
    "llm_ann_recall" ->
      s"""WITH e AS (SELECT vec_id,
         |  [${qElem("embedding")} for i in range(1, 65)] AS eq FROM embeddings),
         |q AS (SELECT vec_id AS qid, eq, $bucketExpr AS bucket FROM e WHERE vec_id < 100),
         |c AS (SELECT vec_id AS cid, eq, $bucketExpr AS bucket FROM e WHERE vec_id >= 100),
         |ex AS (SELECT qid, cid FROM (
         |  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid ORDER BY
         |    (SELECT sum((q.eq)[i] * (c.eq)[i]) FROM range(1, 65) r(i)) DESC, c.cid) AS rn
         |  FROM q, c) t WHERE rn <= 3),
         |ap AS (SELECT qid, cid FROM (
         |  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid ORDER BY
         |    (SELECT sum((q.eq)[i] * (c.eq)[i]) FROM range(1, 65) r(i)) DESC, c.cid) AS rn
         |  FROM q JOIN c ON q.bucket = c.bucket) t WHERE rn <= 3),
         |qp AS (SELECT qid, eq, unnest([bucket] ||
         |    [substr(bucket, 1, i - 1) ||
         |     (CASE substr(bucket, i, 1) WHEN '0' THEN '1' ELSE '0' END) ||
         |     substr(bucket, i + 1, 8 - i) for i in range(1, 9)]) AS probe FROM q),
         |ap2 AS (SELECT qid, cid FROM (
         |  SELECT qp.qid, c.cid, row_number() OVER (PARTITION BY qp.qid ORDER BY
         |    (SELECT sum((qp.eq)[i] * (c.eq)[i]) FROM range(1, 65) r(i)) DESC, c.cid) AS rn
         |  FROM qp JOIN c ON qp.probe = c.bucket) t WHERE rn <= 3),
         |nq AS (SELECT count(*) AS n_queries FROM q),
         |m1 AS (SELECT count(*) AS total_matches FROM ex JOIN ap USING (qid, cid)),
         |m2 AS (SELECT count(*) AS total_matches FROM ex JOIN ap2 USING (qid, cid))
         |SELECT method, n_queries, total_matches,
         |  CAST(total_matches AS DOUBLE) / (3.0 * n_queries) AS recall FROM (
         |  SELECT 'single_probe' AS method, n_queries, m1.total_matches FROM m1, nq
         |  UNION ALL
         |  SELECT 'multi_probe_1' AS method, n_queries, m2.total_matches FROM m2, nq) t
         |ORDER BY method""".stripMargin,
    "llm_contamination_report" ->
      s"""WITH hs AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
         |    s -> ${duckHash("s")}))) AS h
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents) t0
         |  WHERE len(w) >= 3),
         |corpus AS (SELECT DISTINCT h FROM hs WHERE doc_id >= 10),
         |bench AS (SELECT doc_id, h FROM hs WHERE doc_id < 10),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM bench GROUP BY doc_id),
         |hit AS (SELECT doc_id, count(*)::BIGINT AS n_hit FROM bench
         |  WHERE h IN (SELECT h FROM corpus) GROUP BY doc_id)
         |SELECT t.doc_id, t.n_shingles,
         |  COALESCE(hit.n_hit, 0)::BIGINT AS n_hit,
         |  (COALESCE(hit.n_hit, 0) * 1000 // t.n_shingles)::BIGINT AS pm_contaminated
         |FROM tot t LEFT JOIN hit ON t.doc_id = hit.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "llm_decontaminate" ->
      s"""WITH hs AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
         |    s -> ${duckHash("s")}))) AS h
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents) t0
         |  WHERE len(w) >= 3),
         |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id < 10)
         |SELECT doc_id, count(*) AS overlap
         |FROM hs JOIN bench USING (h) WHERE doc_id >= 10
         |GROUP BY doc_id HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin,
    // The Bloom variant must produce EXACTLY the exact-join result
    // (the confirm join removes every false positive), so its oracle
    // is the same exact recomputation — the probabilistic prefilter is
    // an implementation detail the output can't witness.
    "llm_decontaminate_bloom" ->
      s"""WITH hs AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
         |    s -> ${duckHash("s")}))) AS h
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents) t0
         |  WHERE len(w) >= 3),
         |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id < 10)
         |SELECT doc_id, count(*) AS overlap
         |FROM hs JOIN bench USING (h) WHERE doc_id >= 10
         |GROUP BY doc_id HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin,
    "llm_consistent_sample" ->
      s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM documents
         |WHERE ${duckHash("('sample:' || doc_id)")} % 100 < 20
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_stratified_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${duckHash("('strat:' || doc_id)")}, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    "llm_lang_upsample" ->
      """SELECT lang, count(*) AS n_docs,
        |  sqrt((SELECT count(*) FROM documents)::DOUBLE / count(*)::DOUBLE) AS upsample_factor
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens,
         |    ${duckHash("('pack:' || doc_id)")} AS h
         |  FROM documents),
         |c AS (SELECT doc_id, shard, tokens,
         |    sum(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT doc_id, shard, tokens,
         |  CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS pack_first,
         |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS pack_last
         |FROM c ORDER BY doc_id""".stripMargin,
    "llm_pack_boundaries" ->
      s"""WITH t AS (
         |  SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens,
         |    ${duckHash("('pack:' || doc_id)")} AS h
         |  FROM documents),
         |c AS (SELECT doc_id, shard, tokens,
         |    sum(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
         |seg AS (SELECT doc_id, shard, tokens, cum,
         |    unnest(range(CAST(floor((cum - tokens) / 512.0) AS BIGINT),
         |                 CAST(floor((cum - 1) / 512.0) AS BIGINT) + 1)) AS pack_id
         |  FROM c)
         |SELECT shard, pack_id, doc_id,
         |  (greatest(cum - tokens, pack_id * 512) - pack_id * 512)::BIGINT AS seg_start,
         |  (least(cum, (pack_id + 1) * 512)
         |    - greatest(cum - tokens, pack_id * 512))::BIGINT AS seg_len
         |FROM seg ORDER BY shard, pack_id, seg_start, doc_id""".stripMargin,
    "llm_pack_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens,
         |    ${duckHash("('pack:' || doc_id)")} AS h
         |  FROM documents),
         |c AS (SELECT doc_id, shard, tokens,
         |    sum(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
         |p AS (SELECT doc_id, shard, tokens,
         |    CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS pack_first,
         |    CAST(floor((cum - 1) / 512.0) AS BIGINT) AS pack_last FROM c)
         |SELECT shard, max(pack_last) + 1 AS n_packs, count(*)::BIGINT AS n_docs,
         |  CAST(sum(CASE WHEN pack_first <> pack_last THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_straddlers,
         |  CAST(sum(tokens) AS BIGINT) AS tokens,
         |  (CAST(sum(tokens) AS BIGINT) * 1000) // ((max(pack_last) + 1) * 512) AS fill_pm
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    "llm_importance_sample" ->
      s"""SELECT source, count(*)::BIGINT AS n_kept,
         |  CAST(sum(n_chars) AS BIGINT) AS kept_chars,
         |  CAST(sum(least(1000, n_chars)) AS BIGINT) AS kept_permille
         |FROM documents
         |WHERE ${duckHash("('imp:' || doc_id)")} % 1000 < least(1000, n_chars)
         |GROUP BY source ORDER BY source""".stripMargin,
    "llm_select_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars // 64 AS score,
         |    COALESCE(len(regexp_split_to_array(text, '\\s+')), 0)::BIGINT + 1 AS tokens,
         |    ${duckHash("('sel:' || doc_id)")} AS h
         |  FROM documents),
         |c AS (SELECT doc_id, score, tokens,
         |  sum(tokens) OVER (ORDER BY score DESC, h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT doc_id, score, tokens FROM c WHERE cum <= 12000
         |ORDER BY doc_id""".stripMargin,
    "llm_chunk_sliding" ->
      s"""WITH d AS (
         |  SELECT doc_id, CASE WHEN doc_id % 9 = 3
         |    THEN concat_ws(' ', text, text, text, text, text, text)
         |    ELSE text END AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w,
         |    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS n
         |  FROM d),
         |c AS (SELECT doc_id, w, n,
         |    CASE WHEN n <= 200 THEN 1
         |         ELSE 1 + CAST(ceil((n - 200) / 150.0) AS BIGINT) END AS n_chunks
         |  FROM t)
         |SELECT doc_id, u.chunk_idx AS chunk_idx,
         |  chunk_idx * 150 AS start_word,
         |  least(200, n - chunk_idx * 150) AS chunk_len,
         |  ${duckHash("array_to_string(w[chunk_idx*150+1 : chunk_idx*150+200], ' ')")} AS chunk_hash
         |FROM c, UNNEST(range(0, n_chunks)) AS u(chunk_idx)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "llm_pii_scrub" -> {
      val Seq(em, ip, num) = Text.PiiPatterns.map(_._2)
      val scrub = Text.PiiPatterns.foldLeft("aug") { case (e, (_, pat, rep)) =>
        s"regexp_replace($e, '$pat', '$rep', 'g')"
      }
      s"""SELECT doc_id,
         |  len(regexp_extract_all(aug, '$em'))::BIGINT AS n_email,
         |  len(regexp_extract_all(aug, '$ip'))::BIGINT AS n_ip,
         |  len(regexp_extract_all(aug, '$num'))::BIGINT AS n_digits,
         |  md5($scrub) AS scrubbed_hash
         |FROM (SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN text || ' contact u' || doc_id || '@example.com or 5551234567 at 10.0.0.1 now'
         |    ELSE text END AS aug FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },
    "llm_repetition" ->
      s"""SELECT doc_id, len(hs)::BIGINT AS n_shingles,
         |  CASE WHEN len(hs) > 0
         |    THEN 1.0 - CAST(len(list_distinct(hs)) AS DOUBLE) / len(hs)
         |    ELSE 0.0 END AS rep_ratio
         |FROM (SELECT doc_id, list_transform(
         |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))],
         |    s -> ${duckHash("s")}) AS hs
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents) t0) t
         |ORDER BY doc_id""".stripMargin,
    "llm_frame_sample" ->
      """SELECT doc_id, n_frames, len(idx)::BIGINT AS n_sampled,
        |  idx[1] AS first_idx, idx[-1] AS last_idx
        |FROM (SELECT doc_id, n_frames, (range(0, n_frames, 10))[1:8] AS idx
        |  FROM (SELECT doc_id, (n_chars % 240 + 1) AS n_frames FROM documents) t0) t1
        |ORDER BY doc_id""".stripMargin,
    "llm_curation_stats" -> {
      val scores = Text.LangMarkers.map { case (lang, markers) =>
        lang -> s"len(list_filter(w, x -> x IN (${markers.map(m => s"'$m'").mkString(",")})))"
      }
      val best = "greatest(" + scores.map(_._2).mkString(", ") + ")"
      val cases = scores.map { case (lang, e) =>
        s"WHEN $e = best AND $e > 0 THEN '$lang'"
      }.mkString("\n  ")
      s"""WITH dd AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) rn
         |  FROM (SELECT doc_id, text, trim(regexp_replace(regexp_replace(lower(text),
         |    '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm FROM documents) t0) t
         |  WHERE rn = 1),
         |toks AS (SELECT text, len(regexp_split_to_array(text, '\\s+'))::BIGINT AS nw
         |  FROM dd WHERE len(regexp_split_to_array(text, '\\s+')) >= 10),
         |langed AS (SELECT nw, CASE $cases ELSE 'und' END AS guess
         |  FROM (SELECT nw, w, $best AS best
         |    FROM (SELECT nw, string_split_regex(lower(text), '\\s+') AS w FROM toks) t1) t2)
         |SELECT guess, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS total_tokens
         |FROM langed GROUP BY guess ORDER BY guess""".stripMargin
    },
    "llm_kmeans_clusters" ->
      s"""WITH ${kmeansCtes("4")}
         |SELECT vec_id, cluster FROM a2 ORDER BY vec_id""".stripMargin,
    "llm_multimodal_meta" ->
      s"""SELECT doc_id, octet_length(content)::BIGINT AS n_bytes,
         |  CASE WHEN left(h, 8) = '89504E47' THEN 'image/png'
         |       WHEN left(h, 6) = 'FFD8FF' THEN 'image/jpeg'
         |       WHEN left(h, 8) = '47494638' THEN 'image/gif'
         |       WHEN left(h, 8) = '52494646' AND substr(h, 17, 8) = '57415645' THEN 'audio/wav'
         |       WHEN left(h, 8) = '52494646' AND substr(h, 17, 8) = '57454250' THEN 'image/webp'
         |       WHEN left(h, 8) = '52494646' AND substr(h, 17, 8) = '41564920' THEN 'video/avi'
         |       WHEN left(h, 6) = '494433' THEN 'audio/mpeg'
         |       WHEN substr(h, 9, 8) = '66747970' THEN 'video/mp4'
         |       ELSE 'application/octet-stream' END AS mime,
         |  md5(upper(hex(content))) AS content_hash
         |FROM (SELECT doc_id, content, upper(left(hex(content), 24)) AS h FROM (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 10 = 0 THEN from_hex('$MagicPng') || encode(text)
         |    WHEN doc_id % 10 = 1 THEN from_hex('$MagicJpeg') || encode(text)
         |    WHEN doc_id % 10 = 2 THEN from_hex('$MagicGif') || encode(text)
         |    WHEN doc_id % 10 = 3 THEN from_hex('$MagicWav') || encode(text)
         |    WHEN doc_id % 10 = 4 THEN from_hex('$MagicMp3') || encode(text)
         |    WHEN doc_id % 10 = 5 THEN from_hex('$MagicMp4') || encode(text)
         |    WHEN doc_id % 10 = 6 THEN from_hex('$MagicWebp') || encode(text)
         |    WHEN doc_id % 10 = 7 THEN from_hex('$MagicAvi') || encode(text)
         |    ELSE encode(text) END AS content
         |  FROM documents) t0) t ORDER BY doc_id""".stripMargin,
    "llm_ngram_lm_score" ->
      """WITH g AS (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents) t0),
        |g2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM g),
        |cb AS (SELECT bg, count(*) AS c_bg FROM g2 GROUP BY bg),
        |cw AS (SELECT w1, count(*) AS c_w1 FROM g2 GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM cw),
        |sc AS (SELECT doc_id, count(*) AS n_bigrams,
        |    sum(CASE WHEN c_bg = 1 THEN 1 ELSE 0 END) AS n_hapax,
        |    sum(c_bg) AS sum_bg_count,
        |    sum(CAST(floor(ln((c_bg + 1.0) / (c_w1 + v)) * 1000000) AS BIGINT)) AS lp_micro
        |  FROM g2 JOIN cb USING (bg) JOIN cw USING (w1) CROSS JOIN v GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
        |  coalesce(n_hapax, 0)::BIGINT AS n_hapax,
        |  coalesce(sum_bg_count, 0)::BIGINT AS sum_bg_count,
        |  coalesce(lp_micro, 0)::BIGINT AS lp_micro
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "llm_global_shuffle" ->
      s"""WITH k AS (SELECT doc_id,
         |    ${duckHash(s"'r9:' || doc_id")} AS skey FROM documents)
         |SELECT doc_id, skey % $ShuffleShards AS shard,
         |  row_number() OVER (PARTITION BY (skey % $ShuffleShards) ORDER BY skey, doc_id) AS pos
         |FROM k ORDER BY shard, pos""".stripMargin,
    // the shuffle permutation's exact suffix past the resume cursor
    "llm_shard_resume" ->
      s"""WITH k AS (SELECT doc_id,
         |    ${duckHash(s"'r9:' || doc_id")} AS skey FROM documents),
         |o AS (SELECT doc_id, skey % $ShuffleShards AS shard,
         |  row_number() OVER (PARTITION BY (skey % $ShuffleShards) ORDER BY skey, doc_id) AS pos
         |FROM k)
         |SELECT doc_id, shard, pos FROM o
         |WHERE shard > $ResumeShard OR (shard = $ResumeShard AND pos > $ResumePos)
         |ORDER BY shard, pos""".stripMargin,
    "llm_winsorize" ->
      s"""WITH vc AS (SELECT CAST(n_chars AS BIGINT) AS v, count(*)::BIGINT AS c
         |  FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
         |cm AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM vc),
         |lo AS (SELECT min(v) AS b FROM cm, t WHERE cum >= (100 * n + 999) // 1000),
         |hi AS (SELECT min(v) AS b FROM cm, t WHERE cum >= (900 * n + 999) // 1000)
         |SELECT doc_id, n_chars,
         |  least(greatest(CAST(n_chars AS BIGINT), lo.b), hi.b) AS n_chars_w
         |FROM documents, lo, hi ORDER BY doc_id""".stripMargin,
    "llm_quantile_hist" ->
      s"""WITH vc AS (SELECT CAST(n_chars AS BIGINT) AS v, count(*)::BIGINT AS c
         |  FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
         |cm AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM vc),
         |b AS (SELECT DISTINCT
         |    (SELECT min(v) FROM cm WHERE cum >= (q * n + 999) // 1000) AS bv
         |  FROM (VALUES (250), (500), (750)) qs(q), t),
         |d AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
         |bk AS (SELECT v,
         |    (SELECT count(*) FROM b WHERE bv < d.v)::BIGINT AS bucket FROM d)
         |SELECT bucket, count(*)::BIGINT AS n_docs,
         |  min(v) AS min_v, max(v) AS max_v
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "llm_shard_checksums" ->
      s"""WITH k AS (SELECT doc_id,
         |    ${duckHash(s"'r9:' || doc_id")} AS skey FROM documents),
         |p AS (SELECT doc_id, skey % $ShuffleShards AS shard,
         |    row_number() OVER (PARTITION BY (skey % $ShuffleShards)
         |      ORDER BY skey, doc_id) AS pos
         |  FROM k)
         |SELECT shard, count(*)::BIGINT AS n_docs,
         |  bit_xor(${duckHash("'ck:|' || doc_id || '|' || pos")})::BIGINT AS checksum
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    "llm_interleave" -> {
      val cases = InterleaveWeights.toSeq.sortBy(_._1)
        .map { case (src, wt) => s"WHEN '$src' THEN $wt" }.mkString(" ")
      s"""WITH d AS (SELECT source, doc_id,
         |    ${duckHash(s"'ilv:' || doc_id")} AS skey,
         |    CASE source $cases ELSE NULL END AS wt
         |  FROM documents),
         |r AS (SELECT source, doc_id, wt,
         |    row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS r
         |  FROM d WHERE wt IS NOT NULL)
         |SELECT source, doc_id, r::BIGINT AS r, (r * 1000000) // wt AS okey
         |FROM r ORDER BY okey, source, doc_id""".stripMargin
    },
    "llm_interleave_wide" -> {
      val cases = WideInterleaveWeights.toSeq.sortBy(_._1)
        .map { case (src, wt) => s"WHEN '$src' THEN $wt" }.mkString(" ")
      s"""WITH d AS (SELECT
         |    's' || lpad((((doc_id % 100) + 100) % 100)::VARCHAR, 3, '0') AS wsrc,
         |    doc_id,
         |    ${duckHash(s"'ilv:' || doc_id")} AS skey
         |  FROM documents),
         |d2 AS (SELECT wsrc, doc_id, skey,
         |    CASE wsrc $cases ELSE NULL END AS wt FROM d),
         |r AS (SELECT wsrc, doc_id, wt,
         |    row_number() OVER (PARTITION BY wsrc ORDER BY skey, doc_id) AS r
         |  FROM d2 WHERE wt IS NOT NULL)
         |SELECT wsrc, doc_id, r::BIGINT AS r, (r * 1000000) // wt AS okey
         |FROM r ORDER BY okey, wsrc, doc_id""".stripMargin
    },
    "llm_sketch_counts" ->
      """WITH g AS (
        |  SELECT source, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS ngram
        |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS w FROM documents) t0)
        |SELECT source, count(*)::BIGINT AS occurrences
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    // Native-HLL replay: 60-bit md5 -> (idx = h % 4096, rank =
    // 49 - bitlen(h // 4096)) registers, register-max, then the exact
    // integer raw estimate (HUGEINT floor-division by the
    // alpha*m^2*2^49 numerator) with the linear-counting branch in
    // the micro-nat double convention — constants mirrored from
    // CorpusStats.{HllNumerator, HllLinearCutMicro}.
    "llm_sketch_profile" -> HllProfileOracleSql,
    // The persisted store's append path is cell-wise register max —
    // order-independent, so store-after-append == build-from-scratch
    // and the incremental row SHARES the full-build oracle (the
    // IVF/PQ-append oracle-sharing contract).
    "llm_hll_incremental" -> HllProfileOracleSql,
    // Corpus-level union of the native-HLL registers: identical
    // register derivation, grouped globally (max-of-maxes == global
    // register max).
    "llm_hll_union" ->
      """WITH g AS (
        |  SELECT source, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS ngram
        |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS w FROM documents) t0),
        |h AS (SELECT ('0x' || substr(md5(ngram), 1, 15))::BIGINT AS h FROM g),
        |regs AS (SELECT h % 4096 AS idx,
        |    MAX(49 - length(ltrim(bin(h // 4096), '0')))::BIGINT AS r
        |  FROM h GROUP BY h % 4096),
        |agg AS (SELECT count(*)::BIGINT AS nreg,
        |    CAST(sum(1::BIGINT << CAST(49 - r AS INTEGER)) AS BIGINT) AS sp
        |  FROM regs),
        |raw AS (SELECT 'all' AS source, nreg,
        |    CAST('6810691388924259720096645120'::HUGEINT
        |      // (sp + (4096 - nreg) * 562949953421312)::HUGEINT AS BIGINT) AS raw_micro
        |  FROM agg)
        |SELECT source, nreg,
        |  CASE WHEN nreg < 4096 AND raw_micro <= 10240000000
        |    THEN CAST(floor(CAST(4096 AS DOUBLE) *
        |      ln(CAST(4096 AS DOUBLE) / (4096 - nreg)) * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |    ELSE raw_micro END AS est_distinct_micro
        |FROM raw""".stripMargin,
    "llm_qsketch_profile" -> QSketchProfileOracleSql,
    "llm_qsketch_grid" -> QSketchGridOracleSql,
    // token-count-weighted: n is total weight, ranks walk weight mass
    "llm_qsketch_weighted" -> qSketchOracleSql("source", Seq(500, 990),
      "source, q_mille",
      weightSql = raw"len(regexp_split_to_array(text, '\s+'))"),
    // Marker-gated appends sum to the full build (the monoid) and the
    // replayed batch is a no-op, so the store row SHARES the
    // full-build oracle — the hll_incremental contract shape.
    "llm_qsketch_incremental" -> QSketchProfileOracleSql,
    // Shard-built registers fold to the direct global build by the sum
    // monoid; the oracle replays the direct build only.
    "llm_qsketch_merge" ->
      qSketchOracleSql("'all'", Seq(250, 500, 750, 900, 990, 1000),
        "q_mille"),
    "llm_qsketch_accuracy" ->
      s"""${qSketchOracleCtes("source", Seq(500, 990))},
         |r AS (SELECT source, v, row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n2 FROM vals),
         |exact AS (SELECT r.source AS source, q.q_mille AS q_mille, r.v AS exact FROM r, q
         |  WHERE r.rn = greatest(1, (r.n2 * q.q_mille + 999) // 1000))
         |SELECT e.source AS source, e.q_mille AS q_mille, e.n AS n, x.exact AS exact,
         |  e.est_lo AS est_lo, e.est_hi AS est_hi,
         |  (e.est_lo <= x.exact AND x.exact <= e.est_hi) AS bound_ok,
         |  (e.est_hi - e.est_lo)::BIGINT AS width
         |FROM est e JOIN exact x USING (source, q_mille)
         |ORDER BY source, q_mille""".stripMargin,
    "llm_top_ngrams" ->
      """WITH g AS (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS ngram
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents) t0)
        |SELECT ngram, count(*)::BIGINT AS occurrences, count(DISTINCT doc_id)::BIGINT AS n_docs
        |FROM g GROUP BY ngram ORDER BY occurrences DESC, n_docs DESC, ngram LIMIT 20""".stripMargin,
    // the oracle never sees the shards: direct global aggregation must
    // equal the merged partials bit for bit
    "llm_shard_stats_merge" ->
      """SELECT source, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |  CAST(min(n_chars) AS BIGINT) AS min_v,
        |  CAST(max(n_chars) AS BIGINT) AS max_v,
        |  CAST(sum(CAST(n_chars AS DECIMAL(18,0)) * CAST(n_chars AS DECIMAL(18,0)))
        |    AS BIGINT) AS sumsq,
        |  CAST(sum(n_chars) * 1000000 AS BIGINT) // count(*) AS mean_micro
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // doubled medians / quadrupled MADs: integer order statistics, no
    // fractional averaging on either engine
    "llm_robust_outliers" ->
      """WITH d1 AS (
        |  SELECT source, doc_id, n_chars AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |d1m AS (
        |  SELECT *, (n + 1) // 2 AS lo, n // 2 + 1 AS hi,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN v END) OVER (PARTITION BY source) +
        |    max(CASE WHEN rn = n // 2 + 1 THEN v END) OVER (PARTITION BY source) AS med2
        |  FROM d1),
        |d2 AS (
        |  SELECT *, abs(v * 2 - med2) AS dev2,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY abs(v * 2 - med2), doc_id) AS rn2
        |  FROM d1m),
        |d2m AS (
        |  SELECT *, max(CASE WHEN rn2 = lo THEN dev2 END) OVER (PARTITION BY source) +
        |    max(CASE WHEN rn2 = hi THEN dev2 END) OVER (PARTITION BY source) AS mad4
        |  FROM d2)
        |SELECT source, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(med2) AS BIGINT) AS med2, CAST(max(mad4) AS BIGINT) AS mad4,
        |  CAST(sum(CASE WHEN dev2 * 2 > 2 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d2m GROUP BY source ORDER BY source""".stripMargin,
    // the MG pass is a memory strategy, not a semantics change: the
    // oracle is the plain exact GROUP BY ... HAVING
    "llm_heavy_hitters" ->
      s"""WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
         |  FROM documents),
         |g AS (SELECT doc_id,
         |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |      for i in range(1, len(w) - 1)]) AS ngram FROM w),
         |p AS (SELECT ngram, doc_id, count(*) AS c FROM g GROUP BY ngram, doc_id)
         |SELECT ngram, CAST(sum(c) AS BIGINT) AS occurrences,
         |  count(*)::BIGINT AS n_docs
         |FROM p GROUP BY ngram HAVING sum(c) >= $HeavyHitterThreshold
         |ORDER BY ngram""".stripMargin,
    "llm_length_histogram" ->
      """SELECT n_chars - (n_chars % 100) AS bucket_lo, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars, min(n_chars)::BIGINT AS min_chars,
        |  max(n_chars)::BIGINT AS max_chars
        |FROM documents GROUP BY 1 ORDER BY bucket_lo""".stripMargin,
    "llm_curriculum" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents) t0),
         |g2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM g),
         |cb AS (SELECT bg, count(*) AS c_bg FROM g2 GROUP BY bg),
         |cw AS (SELECT w1, count(*) AS c_w1 FROM g2 GROUP BY w1),
         |v AS (SELECT count(*) AS v FROM cw),
         |sc AS (SELECT doc_id, count(*) AS n_bigrams,
         |    sum(CAST(floor(ln((c_bg + 1.0) / (c_w1 + v)) * 1000000) AS BIGINT)) AS lp_micro
         |  FROM g2 JOIN cb USING (bg) JOIN cw USING (w1) CROSS JOIN v GROUP BY doc_id),
         |q AS (SELECT d.doc_id, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
         |    CASE WHEN coalesce(n_bigrams, 0) > 0
         |      THEN CAST(floor(lp_micro::DOUBLE / n_bigrams::DOUBLE) AS BIGINT) END AS q_micro,
         |    ${duckHash(s"'cur:' || d.doc_id")} AS skey
         |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)
         |SELECT doc_id, n_bigrams, q_micro,
         |  q_micro - (((q_micro % 250000) + 250000) % 250000) AS bucket_lo, skey
         |FROM q ORDER BY bucket_lo DESC NULLS LAST, skey, doc_id""".stripMargin,
    "llm_dedup_keep_best" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node),
         |sc AS (SELECT comp.node, comp.label, d.n_chars
         |       FROM comp JOIN documents d ON comp.node = d.doc_id),
         |keep AS (SELECT node FROM (
         |  SELECT node, row_number() OVER (PARTITION BY label
         |    ORDER BY n_chars DESC NULLS LAST, node) AS rn FROM sc) t WHERE rn = 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM sc WHERE node NOT IN (SELECT node FROM keep))
         |ORDER BY doc_id""".stripMargin,
    "llm_dedup_keep_fluent" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |$BackoffScoreCtes,
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node),
         |fsc AS (SELECT comp.node, comp.label, o.nll_micro_per_token AS npt
         |       FROM comp JOIN nout o ON comp.node = o.doc_id),
         |fkeep AS (SELECT node FROM (
         |  SELECT node, row_number() OVER (PARTITION BY label
         |    ORDER BY npt ASC NULLS LAST, node) AS rn FROM fsc) t WHERE rn = 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM fsc WHERE node NOT IN (SELECT node FROM fkeep))
         |ORDER BY doc_id""".stripMargin,
    "llm_cluster_sizes" ->
      s"""WITH RECURSIVE ${pairsCtes()},
         |edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b AS src, a AS dst FROM edges),
         |reach AS (SELECT src AS node, dst AS r FROM sym
         |  UNION SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT node, least(node, min(r)) AS label
         |         FROM reach GROUP BY node),
         |cs AS (SELECT label, count(*) AS sz FROM comp GROUP BY label)
         |SELECT sz, count(*)::BIGINT AS n_clusters FROM cs
         |GROUP BY sz ORDER BY sz""".stripMargin,
    "llm_snapshot_delta" ->
      // ((x % n) + n) % n = Spark's pmod — the same modulo convention
      // as the engine side, so the fixture stays correct even if
      // doc_ids ever go signed (DuckDB's bare % is truncating)
      """WITH cur AS (
        |  SELECT doc_id, CASE WHEN ((doc_id % 5) + 5) % 5 = 0 THEN text || ' [edit]' ELSE text END AS text
        |  FROM documents WHERE ((doc_id % 7) + 7) % 7 <> 0
        |  UNION ALL
        |  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE ((doc_id % 11) + 11) % 11 = 0),
        |p AS (SELECT doc_id, coalesce(md5(text), '__null__') AS h FROM documents),
        |c AS (SELECT doc_id, coalesce(md5(text), '__null__') AS h FROM cur)
        |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.h IS NULL THEN 'new'
        |       WHEN c.h IS NULL THEN 'deleted'
        |       WHEN p.h = c.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,
    "llm_delta_gate" ->
      // pmod convention on both sides; '__null__' sentinel matches
      // Text.contentHash's NULL coalescing
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' v2' FROM documents WHERE ((doc_id % 9) + 9) % 9 = 0),
        |gate AS (SELECT doc_id, coalesce(md5(text), '__null__') AS h FROM corpus),
        |batch AS (
        |  SELECT doc_id, CASE WHEN ((doc_id % 7) + 7) % 7 = 0 THEN text || ' v3'
        |                      WHEN ((doc_id % 9) + 9) % 9 = 0 THEN text || ' v2'
        |                      ELSE text END AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE ((doc_id % 11) + 11) % 11 = 0)
        |SELECT b.doc_id, b.text FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM gate g
        |  WHERE g.doc_id = b.doc_id AND g.h = coalesce(md5(b.text), '__null__'))
        |ORDER BY doc_id""".stripMargin,
    // the ks window-key derivation is the SpanKeyCtes shape (no
    // boilerplate injection here); index = keys over ALL stored
    // versions, latest = keys over each id's newest version, stale =
    // index rows anti-joined on the full (id, start, h) key
    "llm_span_index_debt" ->
      """WITH v2 AS (SELECT doc_id, 'v2 ' || text AS text
        |  FROM documents WHERE ((doc_id % 9) + 9) % 9 = 0),
        |latest AS (
        |  SELECT doc_id, text FROM documents WHERE ((doc_id % 9) + 9) % 9 <> 0
        |  UNION ALL SELECT doc_id, text FROM v2),
        |allv AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM v2),
        |ik AS (SELECT doc_id, i AS start,
        |    md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
        |        FROM (SELECT doc_id,
        |            list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ws
        |          FROM allv) w0 WHERE len(ws) >= 8) t1),
        |lk AS (SELECT doc_id, i AS start,
        |    md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
        |        FROM (SELECT doc_id,
        |            list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ws
        |          FROM latest) w0 WHERE len(ws) >= 8) t2),
        |st AS (SELECT count(*)::BIGINT AS n_stale_keys
        |  FROM (SELECT doc_id, start, h FROM ik
        |        ANTI JOIN lk USING (doc_id, start, h)) a),
        |cnt AS (SELECT (SELECT count(*) FROM ik)::BIGINT AS n_index_keys,
        |  (SELECT count(*) FROM lk)::BIGINT AS n_latest_keys,
        |  (SELECT n_stale_keys FROM st) AS n_stale_keys)
        |SELECT n_index_keys, n_latest_keys, n_stale_keys,
        |  (CASE WHEN n_index_keys > 0
        |        THEN n_stale_keys * 1000 // n_index_keys END)::BIGINT AS stale_pm
        |FROM cnt""".stripMargin)
}
