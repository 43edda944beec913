package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, per the scale brief:
  *  - brute-force top-k: exact, linear scan — the baseline and the
  *    within-bucket kernel;
  *  - LSH (random hyperplane) bucketing: candidate generation is a
  *    groupBy on the bucket signature, so the shuffle stays linear in
  *    data and the quadratic part is confined to buckets.
  *
  * Dot products fold sequentially over the array (functions.aggregate),
  * so results are bit-deterministic regardless of partitioning. The
  * quantized variants (`*Q`) work on round(x*1000) longs — exact integer
  * arithmetic, reproducible in any engine, used by the oracle-checked
  * queries; the double variants serve ranking in production. */
object Similarity {

  /** Default degenerate-bucket cap for the LSH self-joins; mirrored into
    * the DuckDB oracle SQL so code and oracle can't drift. Far above any
    * bucket at harness scale (max observed 28 at sf0.1), but the guard a
    * 100 TB corpus needs: millions of near-identical/zero vectors on one
    * signature would otherwise make the self-join O(bucket²). */
  val DefaultMaxBucket = 1000

  def toDouble(e: Column): Column = transform(e, x => x.cast("double"))

  /** Quantize to thousandths as longs — exact, portable arithmetic.
    * Native kernel (codegen'd loop): the `transform` formulation is a
    * higher-order function, which Spark executes as CodegenFallback —
    * an interpreted lambda per element on the most ubiquitous
    * expression in the ANN paths. [[quantizeHof]] keeps the
    * declarative form as the bit-equality anchor. */
  def quantize(e: Column, scale: Int = 1000): Column =
    graft.expr.kernels.NativeFns.quantizeArr(e, scale)

  /** The HOF quantize the native kernel replaced — differential
    * anchor (NativeExprSpec), the dotQHof pattern. */
  private[graft] def quantizeHof(e: Column, scale: Int = 1000): Column =
    transform(e, x => round(x.cast("double") * scale).cast("long"))

  /** Exact integer dot — native Catalyst expression (codegen'd single
    * loop; see graft.expr.kernels). */
  def dotQ(a: Column, b: Column): Column = graft.expr.kernels.NativeFns.longDot(a, b)

  /** Largest |element| of a float embedding, in exact double arithmetic
    * (float→double is exact; abs/max are rounding-free), so both
    * engines derive bit-identical per-vector scales. */
  def absMax(e: Column): Column =
    graft.expr.kernels.NativeFns.absMaxArr(e)

  /** The HOF absMax the native kernel replaced — differential anchor. */
  private[graft] def absMaxHof(e: Column): Column =
    array_max(transform(e, x => abs(x.cast("double"))))

  /** Per-vector symmetric int8 quantization — the storage/serving
    * format of a 100 TB embedding store: 4× smaller than float32,
    * integer-SIMD dot products, dequant is `q * amax / 127`.
    * q_i = floor(v_i * (127/amax) + 0.5), clamped by construction to
    * [-127, 127]; an all-zero vector quantizes to zeros. Rounding is
    * spelled floor(x + 0.5) — NEVER round(): round-half-even vs
    * half-away ties would silently diverge between engines, floor of
    * the same double is identical everywhere. `amaxCol` is the
    * precomputed [[absMax]] (passed in so the plan evaluates it once,
    * not once per element). */
  def quantizeInt8(e: Column, amaxCol: Column): Column =
    graft.expr.kernels.NativeFns.int8Quantize(e, amaxCol)

  /** The HOF int8 quantize the native kernel replaced — anchor. */
  private[graft] def quantizeInt8Hof(e: Column, amaxCol: Column): Column =
    when(amaxCol === 0.0, transform(e, _ => lit(0).cast("tinyint")))
      .otherwise(transform(e, x =>
        floor(x.cast("double") * (lit(127.0) / amaxCol) + lit(0.5)).cast("tinyint")))

  /** (id, q8, amax) quantization frame — amax materialized as a column
    * first so the per-element lambda references an attribute, not a
    * re-evaluated aggregate (the interpreted-HOF CSE trap, PLANS.md
    * round-9 lesson). */
  def quantizeInt8Frame(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol), col(embCol), absMax(col(embCol)).as("amax"))
      .select(col(idCol), quantizeInt8(col(embCol), col("amax")).as("q8"),
        col("amax"))

  /** Brute-force top-k over int8-quantized vectors. Ranking rescales
    * each integer dot by the CANDIDATE's amax (the query's amax is a
    * positive constant within its rank group, so it cannot reorder and
    * is dropped) — without the rescale, candidates quantized with
    * different scales are not comparable. At cluster scale the
    * candidate side streams 8-bit arrays instead of 32-bit floats:
    * same plan shape as [[bruteForceTopKQ]] (map-side broadcast probe,
    * one per-query top-k window), quarter the bytes. */
  def int8TopK(queries: DataFrame, candidates: DataFrame, qId: String,
               cId: String, embCol: String, k: Int): DataFrame = {
    // codes stay tinyint end to end — the native TinyDot scores the
    // 1-byte arrays directly (the HOF form widened both sides to long
    // with an interpreted transform per pair)
    val q = quantizeInt8Frame(queries, qId, embCol)
      .select(col(qId).as("qid"), col("q8").as("qe"))
    val c = quantizeInt8Frame(candidates, cId, embCol)
      .select(col(cId).as("cid"), col("q8").as("ce"),
        col("amax").as("c_amax"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("qdot", graft.expr.kernels.NativeFns.tinyDot(col("qe"), col("ce")))
    val w = Window.partitionBy(col("qid"))
      .orderBy((col("qdot").cast("double") * col("c_amax")).desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("qdot"))
  }

  /** Two-stage ANN serving: int8 COARSE candidate generation (top `m`
    * per query over the 4×-smaller quantized store) followed by an
    * EXACT re-rank of only those m candidates with the full-precision
    * milli-quantized dot — the production recall/cost dial (rerank
    * cost per query is m·dim regardless of corpus size; raise m to
    * buy back any recall the int8 coarse pass loses). Candidate join
    * and rescore both run at |queries|×m scale; the full-precision
    * store is touched only via the semi-join-shaped candidate
    * equi-join, never scanned per query. */
  def rerankTopK(queries: DataFrame, candidates: DataFrame, qId: String,
                 cId: String, embCol: String, k: Int, m: Int): DataFrame = {
    require(m >= k, s"coarse depth m=$m must be >= k=$k")
    val coarse = int8TopK(queries, candidates, qId, cId, embCol, k = m)
      .select(col("qid"), col("cid"))
    val qe = queries.select(col(qId).as("qid"), quantize(col(embCol)).as("qe"))
    val ce = candidates.select(col(cId).as("cid"), quantize(col(embCol)).as("ce"))
    val rescored = coarse.join(qe, "qid").join(ce, "cid")
      .withColumn("dot", dotQ(col("qe"), col("ce")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("dot"))
  }

  /** HOF formulation kept for differential testing (NativeExprSpec). */
  private[graft] def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Product-quantization ANN serving (Jégou, Douze & Schmid, TPAMI
    * 2011, "Product quantization for nearest neighbor search" — public
    * method): the embedding dimension splits into `m` subspaces, each
    * with its own small codebook; a vector's PQ code is its m nearest
    * codeword ids — m SMALL INTS replacing dim floats (here 4 codes
    * for a 64-dim vector: 64× narrower than the milli-quantized store,
    * 16× narrower than int8). Serving is asymmetric-distance (ADC):
    * per query, one m×k lookup table of exact sub-dot-products; a
    * candidate's approximate score is m table lookups — no per-
    * candidate vector arithmetic at all. Top-`coarse` by ADC then
    * rescore EXACTLY, the [[rerankTopK]] recall/cost dial.
    *
    * Codebooks are one deterministic Lloyd half-step from the label
    * init (per-(subspace, label) floor-mean of candidate sub-vectors —
    * the same exact-integer training convention as the IVF coarse
    * quantizer), so training, codes, ADC and rescore all replay
    * bit-for-bit in the oracle. Argmin ties break on lowest label via
    * the (dist, label) struct-min, mirrored by the oracle's
    * `ORDER BY d, l` rank.
    *
    * Scale: training is one posexplode aggregation collecting
    * k×dim longs (tiny by contract). Encoding is map-side (m×k
    * integer sub-distances per vector; sub-slices materialize as
    * columns first — interpreted HOF lambdas get no CSE). The coarse
    * scan projects ONLY (cid, m codes) — at 100 TB the per-query scan
    * reads the m-byte code column, never the vectors — against one
    * broadcast flat m·k LUT per query, scored by the fused
    * [[graft.expr.kernels.PqAdc]] loop; the bounded
    * [[graft.expr.kernels.TopKRows]] aggregate keeps `coarse` rows per
    * query in each map task, so no stage sorts the candidates; the
    * exact rescore touches coarse×|queries| vectors only. */
  def pqTopK(queries: DataFrame, candidates: DataFrame, qId: String,
             cId: String, embCol: String, labelCol: String, k: Int,
             m: Int = 4, dim: Int = 64, coarse: Int = 20): DataFrame = {
    val byLabel = pqCodebooks(candidates, embCol, labelCol)
    val codes = pqEncodeFrame(candidates, cId, embCol, byLabel, m, dim)
    val store = candidates.select(col(cId).as("cid"), quantize(col(embCol)).as("ce"))
    pqServe(byLabel, codes, store, queries, qId, embCol, k, m, dim, coarse)
  }

  /** PQ codebook training: one deterministic Lloyd half-step from the
    * label init — each label's codeword is its candidates' floor-mean
    * by the shared [[lloydMeans]] step, i.e. the IVF cell means of the
    * same labels. Collects k×dim longs (tiny by contract). A NULL
    * label is refused by name ([[cellLabel]]). */
  def pqCodebooks(candidates: DataFrame, embCol: String,
                  labelCol: String): Map[Long, IndexedSeq[Long]] =
    cellVectors(lloydMeans(candidates.select(
      cellLabel(labelCol, "PQ training").cast("long").as("label"),
      posexplode(quantize(col(embCol))).as(Seq("pos", "v")))))

  /** Encode vectors to their m-code PQ representation: per-subspace
    * argmin over the codewords (exact integer distances; ties take the
    * lowest label via the (dist, label) struct-min). Returns
    * (cid, codes: array<long> of length m) — the m-small-int column a
    * 100 TB store persists instead of the vectors. Sub-slices
    * materialize as columns first (interpreted HOF lambdas get no
    * CSE). */
  def pqEncodeFrame(df: DataFrame, idCol: String, embCol: String,
                    byLabel: Map[Long, IndexedSeq[Long]], m: Int,
                    dim: Int): DataFrame =
    encodeRows(PqCodec(byLabel, m, dim), df, idCol, embCol)

  /** The PQ encoder over a pre-quantized (cid, ce) frame, keeping the
    * quantized vector column — the refinement loop reads (ce, codes)
    * together without a self-join. */
  private def pqEncodeKeepCe(dfQ: DataFrame,
                             byLabel: Map[Long, IndexedSeq[Long]], m: Int,
                             dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val labels = byLabel.keys.toSeq.sorted
    val withSubs = (0 until m).foldLeft(dfQ.select(col("cid"), col("ce"))) {
      (d, s) => d.withColumn(s"__sub$s", slice(col("ce"), s * sub + 1, sub))
    }
    // argmin by the expanded identity: Σ(x−c)² = Σx² − 2Σxc + Σc², and
    // Σx² is constant per (row, subspace), so ranking by
    // (Σc² − 2·dot(x, c)) is EXACTLY the squared-distance order (same
    // integers ± a per-row constant, ties identical). The native
    // ArgminCentroid kernel carries the sub-codebooks as reference
    // data — generated code stays fixed-size at the standard k=256
    // (the literal struct-min chain emitted O(k·dim) literals and
    // stops compiling near 400 entries; see kmeansClusters).
    val coded = (0 until m).foldLeft(withSubs) { (d, s) =>
      d.withColumn(s"__code$s", graft.expr.kernels.NativeFns.argminCentroid(
        col(s"__sub$s"),
        labels.map(l => l -> byLabel(l).slice(s * sub, (s + 1) * sub))))
    }
    coded.select(col("cid"), col("ce"),
      array((0 until m).map(s => col(s"__code$s")): _*).as("codes"))
  }

  /** Lloyd-REFINED PQ codebooks — the FAISS training practice (~25
    * refinement iterations per subspace) where [[pqCodebooks]] alone
    * is the label init plus a single half-step: each round re-assigns
    * every sub-vector to its nearest codeword (the [[pqEncodeKeepCe]]
    * argmin — exact integer distances, ties on lowest codeword) and
    * recomputes each codeword by [[lloydMeans]] over (codeword, pos),
    * so a codeword keeps its old values in each subspace no vector
    * picks it in (the deterministic empty-cell rule; in SQL a LEFT JOIN
    * + coalesce, so the whole training replays in the oracle like
    * [[kmeansClusters]]' unrolled rounds). Per round: ONE map-side
    * encode + ONE k×dim-bounded collect (the k-means contract) —
    * assignments never leave the cluster. The recall win is measured
    * in-engine by the `pq_it2` / `ivfpq_probe2_it2` ledger rows at
    * IDENTICAL serving cost (same m, coarse, scanned-code volume —
    * refinement only moves codeword positions). */
  def pqCodebooksRefined(candidates: DataFrame, idCol: String, embCol: String,
                         labelCol: String, m: Int = 4, dim: Int = 64,
                         rounds: Int = 2,
                         init: Option[Map[Long, IndexedSeq[Long]]] = None): Map[Long, IndexedSeq[Long]] = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dfQ = candidates.select(col(idCol).as("cid"),
      quantize(col(embCol)).as("ce"))
    // `init` lets a caller that already trained the label-init books
    // (both recall ledgers serve the init and the refined variant)
    // skip retraining them — one corpus aggregation saved
    refineBooksQ(dfQ,
      init.getOrElse(pqCodebooks(candidates, embCol, labelCol)), m, dim, rounds)
  }

  /** The Lloyd-refinement loop over a pre-quantized (cid, ce) frame —
    * shared by [[pqCodebooksRefined]] (raw vectors, label init) and
    * the residual build (`refineRounds` on [[buildIvfPqResidual]]:
    * residual arrays, cid-modulo init). */
  private def refineBooksQ(dfQ: DataFrame, init: Map[Long, IndexedSeq[Long]],
                           m: Int, dim: Int,
                           rounds: Int): Map[Long, IndexedSeq[Long]] = {
    val sub = dim / m
    var books = init
    for (_ <- 0 until rounds) {
      val upd = lloydMeans(pqEncodeKeepCe(dfQ, books, m, dim)
          .select(col("codes"), posexplode(col("ce")).as(Seq("pos", "v")))
          .select(element_at(col("codes"),
              (expr(s"pos div $sub") + 1).cast("int")).as("label"),
            col("pos"), col("v")))
        .map { case (l, p, c) => (l, p) -> c }.toMap
      books = books.map { case (l, vec) =>
        l -> vec.indices.map(p => upd.getOrElse((l, p), vec(p))).toIndexedSeq
      }
    }
    books
  }

  /** Flat PQ serving over a code store ([[persistPqIndex]]'s
    * layout): the [[serveAdc]] body with the PQ codec. Trains
    * nothing. */
  def pqServe(byLabel: Map[Long, IndexedSeq[Long]], codes: DataFrame,
              store: DataFrame, queries: DataFrame, qId: String,
              embCol: String, k: Int, m: Int, dim: Int,
              coarse: Int): DataFrame =
    serveAdc(PqCodec(byLabel, m, dim), codes, store, queries, qId, embCol,
      k, coarse, None)

  /** The (qid, qe) frame every serving path quantizes its queries into
    * ONCE per call: the probe, the LUT build and the exact rescore all
    * read this one frame. Query ids are unique per batch. */
  private def quantizedQueries(queries: DataFrame, qId: String,
                               embCol: String): DataFrame =
    queries.select(col(qId).as("qid"), quantize(col(embCol)).as("qe"))

  /** The per-query ADC machinery of [[PqCodec]]: a step that adds the
    * lookup-table columns to a frame carrying the quantized query `qe`,
    * and the ADC expression over a joined `codes` column.
    *
    * Dense codeword ids 0..k-1 (every trainer here, and any production
    * build): the m per-subspace [[graft.expr.kernels.PqSubLut]] tables
    * concatenate into ONE flat m·k array `__lut`, and a candidate's ADC
    * is the fused [[graft.expr.kernels.PqAdc]] loop
    * Σ_s lut[s·k + code_s] — one codegen'd loop per (query, candidate)
    * row with no per-subspace casts, and generated code that does not
    * grow with k. A sparse id space falls back to per-label scalar
    * tables and a comparison chain (O(m·k) per row; never produced by
    * the trainers here). For codes encoded against the SAME codebooks
    * — the index invariant — both forms give the same exact integers.
    * A foreign or corrupt code outside [0, k) makes the dense serve
    * THROW (the kernel bounds-checks every code and never reads
    * another subspace's slot — the ANSI `element_at` behaviour of the
    * per-subspace lookups it replaced), where the sparse chain scores
    * it 0. */
  private def pqLutAndAdc(byLabel: Map[Long, IndexedSeq[Long]],
                          m: Int, dim: Int): (DataFrame => DataFrame, Column) = {
    val sub = dim / m
    val labels = byLabel.keys.toSeq.sorted
    if (labels == (0L until labels.size.toLong)) {
      // native kernels: the codebooks ride as ONE reference object per
      // subspace table (the aggregate×zip_with form ran an interpreted
      // lambda per element and inlined O(k·dim) literals into the
      // plan); [[pqSubLutHof]] keeps that form as the bit-equality
      // anchor (NativeExprSpec differential, both eval paths)
      val books = labels.map(byLabel)
      val lut = concat((0 until m).map(s =>
        graft.expr.kernels.NativeFns.pqSubLut(col("qe"), books, s, sub)): _*)
      ((d: DataFrame) => d.withColumn("__lut", lut),
        graft.expr.kernels.NativeFns.pqAdc(col("__lut"), col("codes"), m, labels.size))
    } else {
      def lutFor(s: Int, l: Long): Column =
        aggregate(zip_with(col(s"__qsub$s"),
          array(byLabel(l).slice(s * sub, (s + 1) * sub).map(lit): _*),
          (x, y) => x * y), lit(0L), (a, v) => a + v)
      val withLuts = (d: DataFrame) => {
        val qSubs = (0 until m).foldLeft(d) { (d1, s) =>
          d1.withColumn(s"__qsub$s", slice(col("qe"), s * sub + 1, sub))
        }
        labels.foldLeft(qSubs) { (d1, l) =>
          (0 until m).foldLeft(d1) { (d2, s) =>
            d2.withColumn(s"__lut_${s}_$l", lutFor(s, l))
          }
        }.drop((0 until m).map(s => s"__qsub$s"): _*)
      }
      (withLuts, (0 until m).map { s =>
        labels.map(l => when(element_at(col("codes"), s + 1) === l,
          col(s"__lut_${s}_$l")).otherwise(0L)).reduce(_ + _)
      }.reduce(_ + _))
    }
  }

  /** The aggregate×zip_with LUT build the [[graft.expr.kernels.PqSubLut]]
    * kernel replaced — kept as the bit-equality differential anchor
    * (NativeExprSpec), the dotQHof convention. `books` must be
    * label-ordered (dense 0..k-1). */
  private[graft] def pqSubLutHof(qe: Column, books: Seq[IndexedSeq[Long]],
                                 s: Int, sub: Int): Column =
    array(books.map { cw =>
      aggregate(zip_with(slice(qe, s * sub + 1, sub),
        array(cw.slice(s * sub, (s + 1) * sub).map(lit): _*),
        (x, y) => x * y), lit(0L), (a, v) => a + v)
    }: _*)

  /** Coarse top-`coarse` by ADC then exact rescore to top-`k` — the
    * tail of [[serveAdc]] and [[coarseRescore]].
    * `scored` must carry (qid, cid, adc); `q` is the (qid, qe) frame
    * of [[quantizedQueries]]. Both cuts are the bounded
    * [[graft.expr.kernels.TopKRows]] aggregate grouped by qid, in the
    * exact total order of `row_number() over (partition by qid order
    * by score desc, cid)`: each map task keeps at most `coarse` (then
    * `k`) rows per query and nothing sorts the candidates; rank =
    * position + 1. Output (qid, cid, rank, dot, adc). */
  private def pqCoarseRescore(scored: DataFrame, q: DataFrame,
                              store: DataFrame, k: Int,
                              coarse: Int): DataFrame = {
    val cidType = scored.schema("cid").dataType
    val coarseSet = topRowsPerQuery(scored, col("adc"), lit(null).cast("long"), coarse)
      .select(col("qid"), col("__t.id").cast(cidType).as("cid"),
        col("__t.score").as("adc"))
    // store first: the exchange that meets the store carries the narrow
    // (qid, cid, adc) rows, and the (tiny) query side joins after it.
    // A shuffled hash join built on the coarse set: no sort, the store
    // streams through it whatever its size, and runtime re-planning
    // cannot turn it into a broadcast whose local shuffle read would
    // put a single-file store's rows on one task
    val rescored = coarseSet.hint("shuffle_hash").join(store, "cid").join(q, "qid")
      .withColumn("dot", dotQ(col("qe"), col("ce")))
    topRowsPerQuery(rescored, col("dot"), col("adc"), k)
      .select(col("qid"), col("__t.id").cast(cidType).as("cid"),
        col("__t.rank").as("rank"), col("__t.score").as("dot"),
        col("__t.payload").as("adc"))
  }

  /** One row per (qid, kept candidate): `__t` is the
    * (rank, score, id = cid, payload) struct of [[pqCoarseRescore]]'s
    * per-query cut. */
  private def topRowsPerQuery(df: DataFrame, score: Column, payload: Column,
                              k: Int): DataFrame =
    df.groupBy(col("qid"))
      .agg(graft.expr.kernels.NativeFns.topKRows(score, col("cid"), payload, k)
        .as("__top"))
      .select(col("qid"), explode(col("__top")).as("__t"))

  /** The ADC vector indexes — flat PQ, flat SQ8, IVF-PQ, IVF-SQ8 and
    * residual IVF-PQ — are one store with two independent parts.
    *
    * The CODEC ([[PqCodec]] or [[Sq8Codec]]) is the trained artifact
    * and the code arithmetic, the only part that changes between
    * forms. It is frozen once trained: a batch encodes against the
    * persisted artifact as a pure per-row function, so an append equals
    * a rebuild bit for bit, serve answers included (SQ8 values outside
    * the trained range clamp, the FAISS convention).
    *
    * The LAYOUT is where the codes live:
    *  - flat: (cid, codes) in `path/codes`. An append takes the index
    *    lock, as [[compactIndex]] does, and adds plain files.
    *    A serve is a broadcast cross join of queries and codes.
    *  - IVF: the coarse sum table in `path/centroids`, codes partitioned
    *    by `label`. An append runs in [[graft.io.Tables.readMergePublish]]
    *    on `centroids` with [[appendPartitioned]] and
    *    [[mergeCentroidSums]], exactly-once under a `batchTag`. A serve
    *    probes each query's best `nprobe` cells ([[probeRows]]) and
    *    broadcast-joins them on `label`, which prunes the code scan to
    *    the probed cells' files and the code column.
    *
    * Every serve ends in [[pqCoarseRescore]]. Every writer holds the
    * one index lock ([[graft.io.Tables.withIndexLock]]), so create and
    * replace writes (`persist*`, [[writeAdc]]) and appends serialize.
    * Every ADC writer stamps a fresh generation token at the index
    * root, and the `read*Index` calls reuse one [[AdcIndex]] per token
    * ([[openAdc]]). */
  private sealed trait AdcCodec {
    /** The artifact's directory under the index path. */
    def dir: String
    /** The artifact as the rows [[writeAdc]] persists. */
    def artifact(spark: SparkSession): DataFrame
    /** The declared dimension, stored code length and both as the
      * append guard reports them. */
    def dim: Int
    def codeLen: Int
    def shape: String
    /** The lengths of the artifact's vectors, each of which must be `dim`. */
    def artifactDims: Iterable[Int]
    /** (cid, ce) → (cid, codes). */
    def encode(dfQ: DataFrame): DataFrame
    /** Add the columns [[score]] reads: once per query to a (qid, qe)
      * frame, once per code to a code store. */
    def queryStep(q: DataFrame): DataFrame
    def codeStep(codes: DataFrame): DataFrame
    /** The ADC score of a joined (query, code) row. */
    def score: Column
  }

  /** A codec's persisted artifact: its directory and reader. */
  private sealed abstract class AdcArtifact[A](val dir: String) {
    def parse(stored: DataFrame): A
  }

  /** Product quantization (codebooks in `codebooks/` as (lbl, pos, c)):
    * [[pqEncodeKeepCe]] encodes, the flat m·k lookup table of
    * [[pqLutAndAdc]] is the query step, codes score as they are. */
  private final case class PqCodec(byLabel: Map[Long, IndexedSeq[Long]],
                                   m: Int, dim: Int) extends AdcCodec {
    def dir: String = PqCodec.dir
    def artifact(spark: SparkSession): DataFrame = vectorRows(spark, "lbl", byLabel)
    def codeLen: Int = m
    def shape: String = s"(m=$m, dim=$dim)"
    def artifactDims: Iterable[Int] = byLabel.values.map(_.length)
    def encode(dfQ: DataFrame): DataFrame =
      pqEncodeKeepCe(dfQ, byLabel, m, dim).select(col("cid"), col("codes"))
    private lazy val lutAndAdc = pqLutAndAdc(byLabel, m, dim)
    def queryStep(q: DataFrame): DataFrame = lutAndAdc._1(q)
    def codeStep(codes: DataFrame): DataFrame = codes
    def score: Column = lutAndAdc._2
  }

  private object PqCodec extends AdcArtifact[Map[Long, IndexedSeq[Long]]]("codebooks") {
    def parse(stored: DataFrame): Map[Long, IndexedSeq[Long]] = readVectors(stored)
  }

  /** Scalar quantization (the grid in `quantizer/` as (pos, vmin,
    * vdiff)): the native Sq8Encode kernel encodes, the query is its
    * own milli-quantized vector, and each code decodes once
    * ([[sq8Decode]]) for an exact integer dot. */
  private final case class Sq8Codec(quant: IndexedSeq[(Long, Long)],
                                    dim: Int) extends AdcCodec {
    def dir: String = Sq8Codec.dir
    def artifact(spark: SparkSession): DataFrame = {
      import spark.implicits._
      quant.zipWithIndex.map { case ((mn, vd), p) => (p, mn, vd) }
        .toDF("pos", "vmin", "vdiff")
    }
    def codeLen: Int = dim
    def shape: String = s"dim=$dim"
    def artifactDims: Iterable[Int] = if (quant.isEmpty) Nil else Seq(quant.length)
    def encode(dfQ: DataFrame): DataFrame = dfQ.select(col("cid"),
      graft.expr.kernels.NativeFns.sq8Encode(col("ce"), quant).as("codes"))
    def queryStep(q: DataFrame): DataFrame = q.withColumn("__qv", col("qe"))
    def codeStep(codes: DataFrame): DataFrame =
      codes.withColumn("__dec", sq8Decode(col("codes"), quant))
    def score: Column = dotQ(col("__qv"), col("__dec"))
  }

  private object Sq8Codec extends AdcArtifact[IndexedSeq[(Long, Long)]]("quantizer") {
    def parse(stored: DataFrame): IndexedSeq[(Long, Long)] =
      stored.collect().sortBy(_.getInt(0)).map(r => (r.getLong(1), r.getLong(2))).toIndexedSeq
    /** The codec of a grid at its own dimension. */
    def apply(quant: IndexedSeq[(Long, Long)]): Sq8Codec = Sq8Codec(quant, quant.length)
  }

  /** A codec's (cid, codes) rows for a raw (id, embedding) frame. */
  private def encodeRows(codec: AdcCodec, df: DataFrame, idCol: String,
                         embCol: String): DataFrame =
    codec.encode(df.select(col(idCol).as("cid"), quantize(col(embCol)).as("ce")))

  /** A batch's IVF codes with their `label` cell, from the
    * assignments `eq` of its [[buildIvfIndex]]. */
  private def ivfCodes(codec: AdcCodec, df: DataFrame, idCol: String,
                       embCol: String, eq: DataFrame): DataFrame =
    encodeRows(codec, df, idCol, embCol)
      .join(eq.select(col("cid"), col("label")), "cid")

  /** The one persist body: flat when `labelCol` is None, else IVF with
    * its cells from `labelCol`. */
  private def persistAdc(df: DataFrame, idCol: String, embCol: String,
                         labelCol: Option[String], path: String,
                         codec: AdcCodec): Unit = labelCol match {
    case None => writeAdc(path, codec, None, encodeRows(codec, df, idCol, embCol))
    case Some(lc) =>
      val (cent, eq) = buildIvfIndex(df, idCol, embCol, lc)
      writeAdc(path, codec, Some(cent), ivfCodes(codec, df, idCol, embCol, eq))
  }

  /** Overwrites an index's stores in place: the centroid table (IVF),
    * the codec's artifact — the one writer of `codebooks/` and
    * `quantizer/` — and the codes. Runs under the index lock every
    * append takes, so an append never encodes against one artifact and
    * lands beside another's codes. */
  private def writeAdc(path: String, codec: AdcCodec, cent: Option[DataFrame],
                       codes: DataFrame): Unit =
    graft.io.Tables.withIndexLock(codes.sparkSession, path) {
      cent.foreach(_.write.mode("overwrite").parquet(s"$path/centroids"))
      codec.artifact(codes.sparkSession).write.mode("overwrite")
        .parquet(s"$path/${codec.dir}")
      writeCodes(codes, path, ivf = cent.isDefined, append = false)
    }

  /** The one writer of a code store: flat files, or IVF files
    * partitioned by `label`, created or appended ([[appendPartitioned]]
    * stages a tagged IVF batch). */
  private def writeCodes(codes: DataFrame, path: String, ivf: Boolean,
                         append: Boolean, batchTag: Option[String] = None): Unit =
    if (ivf && append) appendPartitioned(codes, s"$path/codes", "label", batchTag)
    else {
      val w = codes.write.mode(if (append) "append" else "overwrite")
      (if (ivf) w.partitionBy("label") else w).parquet(s"$path/codes")
    }

  /** An ADC index's parts as read from `path`: the codec artifacts
    * (their one reader), the `codes` frame, whose file index holds the
    * store's listing, and the IVF centroid sum table collected to the
    * driver. Each part is read on first use. */
  private final class AdcIndex(spark: SparkSession, path: String) {
    private val artifacts = scala.collection.concurrent.TrieMap.empty[String, Any]
    def artifact[A](kind: AdcArtifact[A]): A = artifacts.getOrElseUpdate(kind.dir,
      kind.parse(spark.read.parquet(s"$path/${kind.dir}"))).asInstanceOf[A]
    lazy val codes: DataFrame = spark.read.parquet(s"$path/codes")
    lazy val centroids: DataFrame = localCentroids(spark.read.parquet(s"$path/centroids"))
  }

  /** A centroid sum table collected ONCE into a driver-local frame
    * (same rows and schema) whose [[centroidRows]] need no collect. */
  private def localCentroids(cent: DataFrame): DataFrame = {
    val local = cent.sparkSession.createDataFrame(
      java.util.Arrays.asList(cent.collect(): _*), cent.schema)
    openCentroidRows.put(local, centroidRows(local))
    local
  }

  /** The probe rows of every centroid frame [[localCentroids]] handed
    * out, by frame identity (a Dataset has no value equality). */
  private val openCentroidRows = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Array[(Long, Int, Long, Long)]]())

  /** The one open of an ADC index for serving: every part of the
    * index, centroids included when the layout is IVF, read once per
    * generation token and reused by later calls in the session
    * ([[graft.io.Tables.openPinned]]). A serve against an unchanged
    * index then runs no Spark job before scoring. */
  private def openAdc(spark: SparkSession, path: String,
                      kind: AdcArtifact[_]): AdcIndex =
    graft.io.Tables.openPinned(spark, path, kind.dir) {
      val idx = new AdcIndex(spark, path)
      idx.artifact(kind)
      idx.codes
      val cent = new org.apache.hadoop.fs.Path(s"$path/centroids")
      if (cent.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cent))
        idx.centroids
      idx
    }

  /** An IVF append's batch: its cell column (None labels each vector
    * with its nearest current centroid, [[assignClusters]]) and its
    * replay tag. */
  private final case class IvfBatch(labelCol: Option[String],
                                    batchTag: Option[String])

  /** The one append body, flat when `ivf` is None. `codec` is built
    * from the index as read inside the store lock or publish window. */
  private def appendAdc(df: DataFrame, idCol: String, embCol: String,
                        path: String, codec: AdcIndex => AdcCodec,
                        ivf: Option[IvfBatch]): Unit = {
    val spark = df.sparkSession
    def guarded(idx: AdcIndex) = appendGuard(codec(idx), idx.codes, path)
    ivf match {
      case None =>
        graft.io.Tables.withIndexLock(spark, path) {
          val c = guarded(new AdcIndex(spark, path))
          writeCodes(encodeRows(c, lengthChecked(df, embCol, c.dim, path), idCol, embCol),
            path, ivf = false, append = true)
        }
      case Some(IvfBatch(labelCol, batchTag)) =>
        graft.io.Tables.readMergePublishIndex(spark, path, batchTag) { _ =>
          val idx = new AdcIndex(spark, path)
          val c = guarded(idx)
          val batch = lengthChecked(df, embCol, c.dim, path)
          val (labeled, lc) = labelCol match {
            case Some(lc) => (batch, lc)
            case None =>
              val assigned = assignClusters(batch, idCol, embCol, idx.centroids)
                .select(col(idCol).as("__cid"), col("label").as("__albl"))
              (batch.join(assigned, col(idCol) === col("__cid")).drop("__cid"), "__albl")
          }
          val (centNew, eq) = buildIvfIndex(labeled, idCol, embCol, lc)
          writeCodes(ivfCodes(c, labeled, idCol, embCol, eq), path, ivf = true,
            append = true, batchTag)
          mergeCentroidSums(path, centNew)
        }
    }
  }

  /** `df` with `embCol` refused row by row, inside the append's own
    * jobs, when its length is not the index's `dim` (the [[cellLabel]]
    * pattern): a wrong-length row would otherwise encode, assign and
    * serve silently — SQ8 pads NULL codes, PQ slices what arrives, an
    * IVF centroid sum takes the extra positions. A NULL embedding
    * passes unchanged. */
  private def lengthChecked(df: DataFrame, embCol: String, dim: Int,
                            path: String): DataFrame = {
    val n = size(col(embCol))
    df.withColumn(embCol, when(col(embCol).isNull || n === dim, col(embCol))
      .otherwise(raise_error(concat(lit("append: a batch embedding has length "),
        n.cast("string"), lit(s" but the index at $path has dim $dim")))))
  }

  /** The one append guard: the caller's layout must match the
    * persisted index, or the batch would encode — and then serve —
    * garbage codes silently (mis-sliced sub-vectors still argmin to
    * some codeword). `dim` is checked against the artifact's vectors;
    * the code length against ONE stored code row, since the artifact
    * alone cannot catch a wrong-but-divisible m (m=2 against an m=4
    * index at the same dim). Returns `codec`. */
  private def appendGuard(codec: AdcCodec, codes: DataFrame,
                          path: String): AdcCodec = {
    def mismatch(what: String, n: Int) =
      s"append: ${codec.shape} does not match the index at $path — $what " +
        s"length $n; pass the layout the index was built with"
    require(codec.artifactDims.nonEmpty, s"append: no ${codec.dir} found under $path")
    val bad = codec.artifactDims.find(_ != codec.dim)
    require(bad.isEmpty, mismatch(s"${codec.dir} vectors have", bad.get))
    codes.select(size(col("codes"))).head(1)
      .foreach(r => require(r.getInt(0) == codec.codeLen,
        mismatch("stored code arrays have", r.getInt(0))))
    codec
  }

  /** The IVF half of a serve: the centroid sum table, the probe width,
    * and whether the codes are residuals from their cell's centroid. */
  private final case class Probe(cent: DataFrame, nprobe: Int,
                                 residual: Boolean = false)

  /** The one serve body: [[scoreAdc]], then [[pqCoarseRescore]]. */
  private def serveAdc(codec: AdcCodec, codes: DataFrame, store: DataFrame,
                       queries: DataFrame, qId: String, embCol: String,
                       k: Int, coarse: Int, probe: Option[Probe]): DataFrame = {
    require(coarse >= k, s"coarse depth $coarse must be >= k=$k")
    val q = quantizedQueries(queries, qId, embCol)
    pqCoarseRescore(scoreAdc(codec, codes, q, probe), q, store, k, coarse)
  }

  /** The (qid, cid, adc) candidates of a serve. The query step runs
    * once per query, before any probe, and the query side is
    * broadcast. Residual codes add each probe's exact dot(query,
    * centroid) — one integer per (query, probe) — to the ADC, the
    * FAISS `by_residual` decomposition. */
  private def scoreAdc(codec: AdcCodec, codes: DataFrame, q: DataFrame,
                       probe: Option[Probe]): DataFrame = {
    val perQuery = codec.queryStep(q)
    val scored = probe match {
      case None =>
        codec.codeStep(codes).crossJoin(broadcast(perQuery.drop("qe")))
          .withColumn("adc", codec.score)
      case Some(Probe(cent, nprobe, residual)) =>
        require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
        val rows = centroidRows(cent)
        val probed = probeRows(cent, rows, perQuery, nprobe)
        val (side, score) =
          if (!residual) (probed, codec.score)
          else (probed.withColumn("__qc", dotQ(col("qe"),
            centroidArrCol(cellVectors(centroidMeans(rows))))), codec.score + col("__qc"))
        codec.codeStep(codes).join(broadcast(side.drop("qe")), "label")
          .withColumn("adc", score)
    }
    scored.select(col("qid"), col("cid"), col("adc"))
  }

  /** Persist a flat PQ index. `train` optionally supplies the codebook
    * training frame (the production shape: codebooks train ONCE on a
    * representative sample, and later batches [[appendToPqIndex]]
    * against the frozen books); it defaults to `df` itself. */
  def persistPqIndex(df: DataFrame, idCol: String, embCol: String,
                     labelCol: String, path: String, m: Int = 4,
                     dim: Int = 64, train: Option[DataFrame] = None): Unit =
    persistAdc(df, idCol, embCol, None, path,
      PqCodec(pqCodebooks(train.getOrElse(df), embCol, labelCol), m, dim))

  /** Append a batch to a flat PQ index against its frozen codebooks —
    * the daily-embedding-delta path; the base code store is never
    * rewritten. Fails loudly when (m, dim) does not match the index. */
  def appendToPqIndex(df: DataFrame, idCol: String, embCol: String,
                      path: String, m: Int = 4, dim: Int = 64): Unit =
    appendAdc(df, idCol, embCol, path,
      idx => PqCodec(idx.artifact(PqCodec), m, dim), None)

  /** Reload a persisted PQ index → (codebooks map, codes frame). */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
                  path: String): (Map[Long, IndexedSeq[Long]], DataFrame) = {
    val idx = openAdc(spark, path, PqCodec)
    (idx.artifact(PqCodec), idx.codes)
  }

  /** Trained per-dimension scalar quantizer (the FAISS ScalarQuantizer
    * QT_8bit family — public method): per-dim [vmin, vmax] learned
    * over the milli-quantized training corpus; a vector stores one
    * byte per dimension, c_i = clamp(floor((v_i - vmin_i)·255 /
    * vdiff_i), 0, 255). Unlike the per-vector [[quantizeInt8]] path
    * the scale is a TRAINED INDEX ARTIFACT — frozen after training,
    * shared by every stored vector, so serving needs no per-row scale
    * column and appended batches encode against the same grid (the
    * deployed-quantizer convention; out-of-range values clamp, as in
    * FAISS). All arithmetic is exact integer / exactly-replayable
    * floor-division, so training, codes, decode and serving replay
    * bit-for-bit in the DuckDB oracle.
    *
    * Returns (vmin, vdiff) per position, pos-ordered. Training is ONE
    * posexplode aggregation to `dim` rows (collected by contract —
    * the quantizer IS dim pairs of longs). */
  def sq8Train(train: DataFrame, embCol: String): IndexedSeq[(Long, Long)] =
    train.select(posexplode(quantize(col(embCol))).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getLong(1), r.getLong(2) - r.getLong(1)))
      .toIndexedSeq

  private def sq8VminArr(quant: IndexedSeq[(Long, Long)]): Column =
    array(quant.map(q => lit(q._1)): _*)
  private def sq8VdiffArr(quant: IndexedSeq[(Long, Long)]): Column =
    array(quant.map(q => lit(q._2)): _*)

  /** Encode milli-quantized vectors against a frozen quantizer —
    * map-side, zero shuffles: two zip_withs against the literal
    * (vmin, vdiff) arrays. Degenerate dims (vdiff = 0) encode as 0;
    * values outside the trained range clamp to [0, 255] (only
    * reachable from [[appendToSq8Index]] batches — training rows are
    * in-range by construction). floor of an exactly-rounded double
    * quotient is exact at these magnitudes (|numerator| < 2^40,
    * integer distance >= 1/vdiff >> the 2^-53 rounding error). */
  def sq8EncodeFrame(df: DataFrame, idCol: String, embCol: String,
                     quant: IndexedSeq[(Long, Long)]): DataFrame =
    encodeRows(Sq8Codec(quant), df, idCol, embCol)

  /** The zip_with encode the native kernel replaced — differential
    * anchor (NativeExprSpec). */
  private[graft] def sq8EncodeHof(q: Column,
                                  quant: IndexedSeq[(Long, Long)]): Column = {
    val diff = zip_with(q, sq8VminArr(quant), (v, mn) => v - mn)
    zip_with(diff, sq8VdiffArr(quant), (d, vd) =>
      when(vd === 0L, lit(0L)).otherwise(
        greatest(lit(0L), least(lit(255L),
          floor(d.cast("double") * 255.0 / vd.cast("double")).cast("long")))))
  }

  /** Reconstruct the milli-scale approximation from SQ8 codes:
    * v̂_i = vmin_i + floor(c_i·vdiff_i / 255) — the serving-side
    * decode (per-candidate, query-independent, so it evaluates once
    * per stored row, not once per (query, row) pair). */
  def sq8Decode(codesCol: Column, quant: IndexedSeq[(Long, Long)]): Column =
    graft.expr.kernels.NativeFns.sq8Decode(codesCol, quant)

  /** The zip_with decode the native kernel replaced — differential
    * anchor (NativeExprSpec). */
  private[graft] def sq8DecodeHof(codesCol: Column,
                                  quant: IndexedSeq[(Long, Long)]): Column = {
    val scaled = zip_with(codesCol, sq8VdiffArr(quant), (c, vd) =>
      floor(c.cast("double") * vd.cast("double") / 255.0).cast("long"))
    zip_with(scaled, sq8VminArr(quant), (x, mn) => x + mn)
  }

  /** Flat SQ8 serving: the [[serveAdc]] body with the scalar codec —
    * the [[rerankTopK]] / [[pqServe]] recall-cost dial with a dim-byte
    * code instead of dim floats (8× narrower than the milli store) or
    * m bytes (PQ). The query never quantizes (asymmetric distance). */
  def sq8Serve(quant: IndexedSeq[(Long, Long)], codes: DataFrame,
               store: DataFrame, queries: DataFrame, qId: String,
               embCol: String, k: Int, coarse: Int): DataFrame =
    serveAdc(Sq8Codec(quant), codes, store, queries, qId,
      embCol, k, coarse, None)

  /** Persist a flat SQ8 index. `train` optionally supplies the
    * quantizer-training frame (the production shape: the grid trains
    * once on a representative sample; later batches append against
    * it). */
  def persistSq8Index(df: DataFrame, idCol: String, embCol: String,
                      path: String, train: Option[DataFrame] = None): Unit =
    persistAdc(df, idCol, embCol, None, path,
      Sq8Codec(sq8Train(train.getOrElse(df), embCol)))

  /** Append a batch to a flat SQ8 index against its frozen grid; the
    * base code store is never rewritten. Fails loudly when `dim` does
    * not match the index. */
  def appendToSq8Index(df: DataFrame, idCol: String, embCol: String,
                       path: String, dim: Int = 64): Unit =
    appendAdc(df, idCol, embCol, path,
      idx => Sq8Codec(idx.artifact(Sq8Codec), dim), None)

  /** [[appendToSq8Index]] against a grid the caller loaded earlier —
    * the streamed SQ8 sink's batch write, which freezes the grid at
    * stream start. */
  private[graft] def appendToSq8IndexWith(df: DataFrame, idCol: String,
                                          embCol: String, path: String,
                                          quant: IndexedSeq[(Long, Long)]): Unit =
    appendAdc(df, idCol, embCol, path, _ => Sq8Codec(quant), None)

  /** Reload a persisted SQ8 index → (quantizer, codes frame). */
  def readSq8Index(spark: org.apache.spark.sql.SparkSession,
                   path: String): (IndexedSeq[(Long, Long)], DataFrame) = {
    val idx = openAdc(spark, path, Sq8Codec)
    (idx.artifact(Sq8Codec), idx.codes)
  }

  /** Persist an IVF-SQ8 index — the FAISS `IndexIVFScalarQuantizer`
    * composition: coarse cells plus dim-byte scalar codes, the middle
    * point a deployment picks when PQ's recall at m bytes is too low
    * but raw vectors are 8× too much I/O. `labelCol` carries the
    * cells; `train` as in [[persistSq8Index]]. */
  def persistIvfSq8Index(df: DataFrame, idCol: String, embCol: String,
                         labelCol: String, path: String,
                         train: Option[DataFrame] = None): Unit =
    persistAdc(df, idCol, embCol, Some(labelCol), path,
      Sq8Codec(sq8Train(train.getOrElse(df), embCol)))

  /** Append a batch to an IVF-SQ8 index: the frozen grid encodes it,
    * `labelCol` carries its cells (None labels it against the current
    * centroid means), and `batchTag` makes the whole call exactly-once
    * under replay. When the batch carries the labels a full rebuild
    * would, append == rebuild bit for bit. Fails loudly when `dim`
    * does not match the index. */
  def appendToIvfSq8Index(df: DataFrame, idCol: String, embCol: String,
                          path: String, dim: Int = 64,
                          labelCol: Option[String] = None,
                          batchTag: Option[String] = None): Unit =
    appendAdc(df, idCol, embCol, path,
      idx => Sq8Codec(idx.artifact(Sq8Codec), dim),
      Some(IvfBatch(labelCol, batchTag)))

  /** The side-file append of the IVF-family and graph-store appenders:
    * a tagged batch lands through
    * [[graft.io.Tables.stagedPartitionedAppend]] under deterministic
    * per-(tag, partition) file names, so a replay after a crash skips
    * the files already placed; an untagged batch is a plain append
    * (no replay protection). Both write one file per touched
    * partition. */
  private def appendPartitioned(df: DataFrame, dest: String, partCol: String,
                                batchTag: Option[String]): Unit =
    batchTag match {
      case Some(t) => graft.io.Tables.stagedPartitionedAppend(df.sparkSession,
        df, dest, partCol, graft.io.Tables.appliedLedgerLine(t).stripPrefix("_APPLIED-"))
      case None => df.repartition(col(partCol)).write.mode("append")
        .partitionBy(partCol).parquet(dest)
    }

  /** The additive centroid merge: a batch's (label, pos, s, cnt) sums
    * folded into the persisted table in exact integers. */
  private def mergeCentroidSums(path: String, centNew: DataFrame): DataFrame =
    centNew.sparkSession.read.parquet(s"$path/centroids")
      .unionByName(centNew)
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("s")).as("s"), sum(col("cnt")).as("cnt"))

  /** Rows per file of a compacted flat code store: codes are a few to
    * ~70 bytes/row, so 8M rows lands near the conventional
    * few-hundred-MB parquet file at dim=64. */
  private val CompactRowsPerFile = 8L * 1024 * 1024

  /** Compact a persisted index's append-grown store to few files — the
    * small-files maintenance a long-lived append-only index needs
    * (each append adds files forever; after thousands of deltas a scan
    * pays per FILE, not per byte). The layout is read from disk:
    *  - a kNN-graph store (`vectors/`): one file per cell. Its `edges`
    *    never need this — appends rewrite whole home partitions, one
    *    file per dir;
    *  - an IVF code store (`centroids/` beside `codes/label=…`): one
    *    file per cluster;
    *  - a flat PQ/SQ8 code store: a file budget derived from its rows
    *    ([[CompactRowsPerFile]]), rewritten shuffle-free.
    * It reads the layout only under the index lock, which every writer
    * of every layout holds, so no swap or overwrite is in flight when
    * the layout is read and compaction serializes with appends. A
    * `label`-partitioned code store without its centroids (a crashed
    * IVF swap) fails loudly rather than compacting flat. Rows, partition layout, pruning and
    * serving answers are identical before and after.
    *
    * Recovery-order contract: retry a crashed tagged append BEFORE
    * compacting — compaction absorbs its orphan staged files, after
    * which the retry would re-place them.
    *
    * READER caveat: the two-rename publish leaves the store's dir
    * ABSENT for the metadata-rename window, so a concurrent serving
    * read (which takes no lock) can fail with a missing path even
    * during a healthy compaction: loud and transient, never a torn
    * read. Serving paths must tolerate-and-retry it. A compaction
    * stamps a fresh generation token, so no `read*Index` call after it
    * reuses a handle opened before it: the next serve opens the
    * compacted store. A frame taken from an older handle and kept (a
    * stream pins its index at start) still lists the replaced files and
    * fails loudly on its next scan; read the index again. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    graft.io.Tables.withIndexLock(spark, path) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def store(d: String) = new org.apache.hadoop.fs.Path(s"$path/$d")
      if (fs.exists(store("vectors")))
        graft.io.Tables.compactPartitionedParquet(spark, s"$path/vectors", "cell")
      else if (fs.exists(store("centroids")))
        graft.io.Tables.compactPartitionedParquet(spark, s"$path/codes", "label")
      else {
        if (fs.exists(store("codes")) && fs.listStatus(store("codes"))
            .exists(_.getPath.getName.startsWith("label=")))
          throw new IllegalStateException(s"compactIndex: $path/codes is " +
            "partitioned by label but its centroids store is missing (a " +
            "crashed IVF swap); restore centroids before compacting")
        val n = new AdcIndex(spark, path).codes.count()
        graft.io.Tables.compactFlatParquet(spark, s"$path/codes",
          math.max(1L, (n + CompactRowsPerFile - 1) / CompactRowsPerFile).toInt)
      }
    }

  /** Sweep crash residue (`__next_*`/`__old_*`/`__stage_*`) from ALL
    * of a persisted index's stores — centroids, codes, quantizer,
    * codebooks, and the graph store's vectors/edges/meta — under the
    * index lock ([[graft.io.Tables.withIndexLock]]), which every writer
    * of every one of them holds while staging (`codes__stage_*`,
    * `vectors__stage_*`), so a live writer's in-flight dir is never
    * swept; a bare [[graft.io.Tables.vacuumStore]] on one store could
    * race it.
    *
    * EDGES residue is special: after a crash inside
    * [[graft.io.Tables.replacePartitions]]'s rename window an
    * `edges__old_*` partition dir may be the ONLY copy of a store
    * partition — sweeping it would destroy the recovery copy. The
    * sweep therefore runs [[graft.io.Tables.restoreIndexPartitions]]
    * on edges FIRST (a partition that comes back is the one live change
    * a vacuum makes, and stamps a fresh generation token); what remains
    * in `__old_*` is by construction a stale aside of a completed swap,
    * safe to delete. Returns the deleted paths. */
  def vacuumIndexStores(spark: org.apache.spark.sql.SparkSession,
                        path: String): Seq[String] =
    // the index lock, without a token stamp unless a partition returns
    graft.io.Tables.withStoreLock(spark, s"$path/centroids") {
      graft.io.Tables.restoreIndexPartitions(spark, path, "edges")
      Seq("centroids", Sq8Codec.dir, PqCodec.dir, "vectors", "edges",
        "meta", "codes").flatMap { d =>
        graft.io.Tables.vacuumStoreUnlocked(spark, s"$path/$d")
      }
    }

  /** Reload → (centroid sum table, quantizer, cluster-partitioned
    * codes). */
  def readIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
                      path: String): (DataFrame, IndexedSeq[(Long, Long)], DataFrame) = {
    val idx = openAdc(spark, path, Sq8Codec)
    (idx.centroids, idx.artifact(Sq8Codec), idx.codes)
  }

  /** IVF-SQ8 serving: the [[serveAdc]] body with the scalar codec and
    * the IVF probe — the [[ivfPqTopK]] plan shape. At 100 TB the fine
    * search reads ~nprobe/nlist of the dim-byte code column. */
  def ivfSq8TopK(cent: DataFrame, quant: IndexedSeq[(Long, Long)],
                 codes: DataFrame, store: DataFrame, queries: DataFrame,
                 qId: String, embCol: String, k: Int, coarse: Int = 20,
                 nprobe: Int = 1): DataFrame =
    serveAdc(Sq8Codec(quant), codes, store, queries, qId, embCol, k, coarse,
      Some(Probe(cent, nprobe)))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k by quantized dot product: broadcast the
    * (small) query set against every candidate — the join is map-side,
    * the only shuffle is the per-query top-k window. At cluster scale
    * the window input is |queries|×|candidates| rows, which is why this
    * is the baseline/kernel, not the scale path. */
  def bruteForceTopKQ(queries: DataFrame, candidates: DataFrame, qId: String,
                      cId: String, embCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("qid"), quantize(col(embCol)).as("qe"))
    val c = candidates.select(col(cId).as("cid"), quantize(col(embCol)).as("ce"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("dot", dotQ(col("qe"), col("ce")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("dot"))
  }

  /** Deterministic random hyperplanes: direction i of plane j is ±1 by
    * the parity of md5("<salt>:j:i") — reproducible anywhere, no RNG
    * state. Materialized as literal arrays for both engines. The salt
    * keeps independent consumers (LSH bucketing vs the JL projection)
    * on independent sign matrices. */
  def planeDirs(nPlanes: Int, dim: Int, salt: String = "plane"): Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (0 until dim).map { i =>
        val h = md.digest(s"$salt:$j:$i".getBytes("UTF-8"))
        if ((h.last & 1) == 0) 1 else -1
      }
    }
  }

  /** Deterministic ±1 Johnson-Lindenstrauss sign projection
    * (Achlioptas 2003, "Database-friendly random projections" —
    * public method): project quantized dim-d embeddings to r dims,
    * y_j = Σ_i s_{j,i}·x_i with the sign matrix from md5 parity (the
    * [[planeDirs]] convention under its own salt) — a pure map-side
    * exact-integer projection, no RNG state, bit-replayable anywhere.
    * The 100 TB story: an r/d-sized vector store whose dot products
    * preserve the originals' ORDER well enough for coarse search and
    * clustering (JL distance preservation); `llm_jl_recall` prices
    * the distortion in-engine before anyone serves from the small
    * store. */
  def jlProject(df: DataFrame, idCol: String, embCol: String,
                r: Int = 16, dim: Int = 64): DataFrame = {
    val dirs = planeDirs(r, dim, salt = "jl")
    df.select(col(idCol), quantize(col(embCol)).as("__eq"))
      .select(col(idCol), array(dirs.map(d =>
        dotQ(col("__eq"), array(d.map(x => lit(x.toLong)): _*))): _*).as("proj"))
  }

  /** LSH bucket signature: one bit per hyperplane = sign of the
    * quantized projection. Equal signatures land in one bucket. */
  def lshBucket(embQ: Column, planes: Seq[Seq[Int]]): Column =
    concat(planes.map { dirs =>
      val lits = array(dirs.map(d => lit(d.toLong)): _*)
      when(dotQ(embQ, lits) > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** Multi-probe LSH: the query's own bucket plus every bucket at
    * Hamming distance 1 (flip each plane bit once). Probing 1+nPlanes
    * buckets instead of one recovers most of the recall that
    * single-probe loses to boundary effects, for (1+nPlanes)× the
    * candidate volume — still a bucket equi-join, never pairwise
    * (measured in llm_ann_recall: single- vs multi-probe on the same
    * split). */
  def probeBuckets(bucket: Column, nPlanes: Int): Column =
    array((bucket +: (0 until nPlanes).map { i =>
      val flip = when(substring(bucket, i + 1, 1) === "0", lit("1")).otherwise(lit("0"))
      concat(substring(bucket, 1, i), flip, substring(bucket, i + 2, nPlanes - i - 1))
    }): _*)

  /** The degenerate-bucket cap every pair search applies BEFORE its
    * self-join (same guard as Dedup.minHashLshPairs): rows whose `key`
    * holds between 2 and `cap` rows. A bucket past the cap is dropped
    * while still spillable in the window sort, never joined; the
    * window's hash exchange on `key` is exactly the self-join's
    * required partitioning, so the cap adds no extra shuffle.
    * Singleton buckets yield no pairs, so the >= 2 bound is free
    * pruning. */
  private def capBuckets(df: DataFrame, key: String, cap: Int): DataFrame =
    df.withColumn("__bc", count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(col("__bc").between(2, cap))
      .drop("__bc")

  /** The LSH prelude of the four bucketed searches: (vid, payload…,
    * eq, bucket) over the [[planeDirs]] signature, capped at
    * `maxBucket`. */
  private def lshBuckets(df: DataFrame, idCol: String, embCol: String,
                         payload: Seq[Column], nPlanes: Int, dim: Int,
                         maxBucket: Int): DataFrame = {
    val planes = planeDirs(nPlanes, dim)
    capBuckets(df.select(col(idCol).as("vid") +: payload :+
        quantize(col(embCol)).as("eq"): _*)
      .withColumn("bucket", lshBucket(col("eq"), planes)), "bucket", maxBucket)
  }

  /** The one pair scorer: `x` joined to `y` under `cond` (the sides
    * aliased `x` and `y`, each carrying (vid, eq)), scored by the exact
    * cosine of the integer dot and norms, so the double math is
    * bit-deterministic. Output (`keep`…, a, b, cosine), with `keep`
    * taken from the `x` side. */
  private[graft] def cosinePairs(x: DataFrame, y: DataFrame, cond: Column,
                                 keep: String*): DataFrame =
    x.as("x").join(y.as("y"), cond)
      .select(keep.map(c => col(s"x.$c").as(c)) ++ Seq(
        col("x.vid").as("a"), col("y.vid").as("b"),
        dotQ(col("x.eq"), col("y.eq")).cast("double").as("__dot"),
        dotQ(col("x.eq"), col("x.eq")).cast("double").as("__na"),
        dotQ(col("y.eq"), col("y.eq")).cast("double").as("__nb")): _*)
      // zero-norm guard: a zero-quantized embedding (failed/padded
      // vectors) gives 0/0 = NaN, and Spark orders NaN ABOVE every
      // number, so without this filter NaN >= threshold admits every
      // such pair as a "near-duplicate"
      .filter(col("__na") > 0 && col("__nb") > 0)
      .select(keep.map(col) ++ Seq(col("a"), col("b"),
        (col("__dot") / (sqrt(col("__na")) * sqrt(col("__nb")))).as("cosine")): _*)

  /** Bucketed ANN: assign buckets, then exact top-k within each bucket.
    * The bucket column is also the pre-partitioning key for repeated
    * queries (write bucketed parquet → co-located joins, no shuffle). */
  def lshTopK(df: DataFrame, idCol: String, embCol: String,
              nPlanes: Int = 8, dim: Int = 64, k: Int = 1,
              maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bucketed = lshBuckets(df, idCol, embCol, Nil, nPlanes, dim, maxBucket)
    val pairs = bucketed.as("x").join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vid") =!= col("y.vid"))
      .select(col("x.vid").as("vid"), col("x.bucket").as("bucket"),
        col("y.vid").as("nn"), dotQ(col("x.eq"), col("y.eq")).as("dot"))
    val w = Window.partitionBy(col("vid")).orderBy(col("dot").desc, col("nn"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive / retrieval training (the
    * DPR / SimCSE data-generation step — public method): for each
    * anchor vector, the top-k most similar vectors carrying a
    * DIFFERENT label. The LSH bucket restriction is the semantics,
    * not just the optimization — "hard" negatives are precisely the
    * same-bucket near-misses; vectors far enough to land in another
    * bucket are easy negatives a trainer can sample for free. Same
    * capped-bucket self-join machinery as [[lshTopK]] (one shared
    * exchange, degenerate buckets dropped not joined); the rank
    * window's exact-integer dot ordering ties on negative id. */
  def hardNegatives(df: DataFrame, idCol: String, embCol: String,
                    labelCol: String, k: Int, nPlanes: Int = 8,
                    dim: Int = 64,
                    maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bucketed = lshBuckets(df, idCol, embCol, Seq(col(labelCol).as("lbl")),
      nPlanes, dim, maxBucket)
    val pairs = bucketed.as("x").join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.lbl") =!= col("y.lbl"))
      .select(col("x.vid").as("vid"), col("x.lbl").as("label"),
        col("y.vid").as("neg"), col("y.lbl").as("neg_label"),
        dotQ(col("x.eq"), col("y.eq")).as("dot"))
    val w = Window.partitionBy(col("vid")).orderBy(col("dot").desc, col("neg"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Contrastive TRIPLET mining — the (anchor, positive, negative)
    * export a metric-learning trainer consumes: per anchor, the
    * hardest same-bucket positive (most-similar SAME label) and the
    * hardest same-bucket negative (most-similar DIFFERENT label),
    * with the exact-integer margin `pos_dot − neg_dot` (the quantity
    * triplet loss penalizes — anchors with small or negative margins
    * are the valuable training examples). Anchors lacking either a
    * positive or a negative in their bucket yield no triplet.
    *
    * ONE capped bucket self-join feeds both sides; the two rank
    * windows partition by anchor over the same pair stream (shared
    * exchange), and the final positive⋈negative join runs at
    * anchor-count scale. */
  def tripletMine(df: DataFrame, idCol: String, embCol: String,
                  labelCol: String, nPlanes: Int = 8, dim: Int = 64,
                  maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bucketed = lshBuckets(df, idCol, embCol, Seq(col(labelCol).as("lbl")),
      nPlanes, dim, maxBucket)
    val pairs = bucketed.as("x").join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vid") =!= col("y.vid"))
      .select(col("x.vid").as("vid"), col("x.lbl").as("label"),
        col("y.vid").as("nn"), col("y.lbl").as("nlbl"),
        dotQ(col("x.eq"), col("y.eq")).as("dot"))
      .localCheckpoint(false) // feeds both rank branches; see buildIvfIndex
    val w = Window.partitionBy(col("vid")).orderBy(col("dot").desc, col("nn"))
    def top1(side: DataFrame, as: String) = side
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("vid"), col("label"), col("nn").as(as),
        col("dot").as(s"${as}_dot"))
    val pos = top1(pairs.filter(col("label") === col("nlbl")), "pos")
    val neg = top1(pairs.filter(col("label") =!= col("nlbl")), "neg")
    pos.join(neg.drop("label"), Seq("vid"))
      .select(col("vid"), col("label"), col("pos"), col("neg"),
        col("pos_dot"), col("neg_dot"),
        (col("pos_dot") - col("neg_dot")).as("margin"))
  }

  /** Embedding-cosine near-dup: candidate pairs from LSH buckets,
    * kept when the exact cosine ([[cosinePairs]]) clears the
    * threshold. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                         threshold: Double, nPlanes: Int = 8,
                         dim: Int = 64,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bucketed = lshBuckets(df, idCol, embCol, Nil, nPlanes, dim, maxBucket)
    cosinePairs(bucketed, bucketed,
        col("x.bucket") === col("y.bucket") && col("x.vid") < col("y.vid"))
      .filter(col("cosine") >= threshold)
  }

  /** Distributed Lloyd's k-means over quantized embeddings — the IVF
    * coarse-quantizer trainer. Deterministic end to end: seeds are the
    * k lowest-id vectors, distances are exact integer L2², centroid
    * updates are the floor-mean step every trainer shares
    * ([[lloydMeans]]), ties break on cluster id. Scale shape per
    * iteration = MLlib's: a codegen'd map-side argmin (no join), then
    * ONE shuffle (the (cluster, pos) sums); driver holds only k×dim
    * longs. Fixed `iters` keeps the computation replayable as
    * unrolled SQL. */
  def kmeansClusters(df: DataFrame, idCol: String, embCol: String,
                     k: Int, iters: Int): DataFrame = {
    val eq = df.select(col(idCol).as("vid"), quantize(col(embCol)).as("eq"))
    val cents = kmeansTrain(eq, k, iters)
    // dot-identity argmin (the pqEncodeFrame convention): ranking by
    // Σc² − 2·dot(x, c) is exactly the squared-distance order (the Σx²
    // term is a per-row constant; ties to the lowest cid). Native
    // kernel — centroids are reference DATA, not code literals, so the
    // generated assign loop is fixed-size at ANY nlist (the literal
    // struct-min chain stopped compiling at ~400 centroids and fell
    // back to interpreted — sf10 BenchScale caught the super-linear
    // assign; [[assignDeclarative]] keeps the old form as the
    // bit-equality spec anchor)
    eq.withColumn("cluster",
        graft.expr.kernels.NativeFns.argminCentroid(col("eq"), cents))
      .select(col("vid"), col("cluster"))
  }

  /** Multi-probe cluster assignment: each vector joins its `nprobe`
    * NEAREST cells (same trained centroids, same distance order and
    * tie-break as [[kmeansClusters]] — nprobe = 1 is exactly that
    * assignment). Output (vid, cluster, probe) with probe = 1-based
    * nearness rank; ≤ nprobe rows per vector. This is the IVF nprobe
    * recall dial applied to the similarity-JOIN side: a vector near a
    * cell boundary is searched in its runner-up cells too. */
  def kmeansClustersProbe(df: DataFrame, idCol: String, embCol: String,
                          k: Int, iters: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val eq = df.select(col(idCol).as("vid"), quantize(col(embCol)).as("eq"))
    val cents = kmeansTrain(eq, k, iters)
    eq.select(col("vid"), posexplode(
        graft.expr.kernels.NativeFns.topNCentroids(col("eq"), cents, nprobe))
        .as(Seq("__p", "cluster")))
      .select(col("vid"), col("cluster"), (col("__p") + 1).as("probe"))
  }

  /** The struct-sort top-n assignment the native
    * [[graft.expr.kernels.TopNCentroids]] kernel replaced — the
    * bit-equality differential anchor (NativeExprSpec), the
    * [[assignDeclarative]] convention: sort (dist, cid) structs
    * ascending, take the first n cids. */
  private[graft] def topNDeclarative(eq: Column,
                                     cents: Seq[(Long, Seq[Long])],
                                     n: Int): Column =
    transform(slice(array_sort(array(cents.map { case (cid, c) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2L) *
        graft.expr.kernels.NativeFns.longDot(eq, array(c.map(lit): _*)))
        .as("dist"), lit(cid).as("cid"))
    }: _*)), 1, n), _.getField("cid"))

  /** The deterministic Lloyd trainer shared by [[kmeansClusters]] and
    * [[kmeansClustersProbe]]: seeds are the k lowest-id vectors,
    * distances exact integer L2², updates the shared [[lloydMeans]]
    * step (a cluster no vector picks drops out), ties to the lower
    * cluster id; fixed `iters` keeps the whole computation replayable
    * as unrolled SQL. Per iteration: a codegen'd map-side argmin then
    * ONE shuffle for the sums; the driver holds k×dim longs. */
  private[graft] def kmeansTrain(eq: DataFrame, k: Int,
                                 iters: Int): Seq[(Long, Seq[Long])] = {
    def assign(cents: Seq[(Long, Seq[Long])]): Column =
      graft.expr.kernels.NativeFns.argminCentroid(col("eq"), cents)
    // deterministic seeding: the k lowest-id vectors, cid by id order
    var cents: Seq[(Long, Seq[Long])] = eq.orderBy(col("vid")).limit(k)
      .select(col("eq")).collect().toSeq
      .map(_.getSeq[Long](0).toSeq).zipWithIndex.map { case (c, i) => (i.toLong, c) }
    // the argmin is a column BEFORE the explode, so it runs once per
    // vector, not once per (vector, pos)
    for (_ <- 1 until iters)
      cents = cellVectors(lloydMeans(eq.withColumn("label", assign(cents))
        .select(col("label"), posexplode(col("eq")).as(Seq("pos", "v"))))).toSeq.sortBy(_._1)
    cents
  }

  /** The literal struct-array_min assignment formulation the native
    * [[graft.expr.kernels.ArgminCentroid]] kernel replaced — kept as
    * the bit-equality differential anchor (NativeExprSpec), same role
    * as [[dotQHof]] for the dot kernel. */
  private[graft] def assignDeclarative(eq: Column,
                                       cents: Seq[(Long, Seq[Long])]): Column =
    array_min(array(cents.map { case (cid, c) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2L) *
        graft.expr.kernels.NativeFns.longDot(eq, array(c.map(lit): _*)))
        .as("dist"), lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540 — public method): partition the embedding space
    * with the deterministic k-means coarse quantizer, then search for
    * near-duplicates ONLY within each cluster. Complements the LSH
    * path ([[cosineNearDupPairs]]): random hyperplanes bucket on
    * exact signature agreement and can split a tight semantic
    * neighborhood across buckets, while k-means cells follow the
    * data's own density. Same exact-integer dot/norm cosine and
    * zero-norm NaN guard as the LSH path.
    *
    * Scale: within-cluster pairing is O((N/nlist)² ) per cluster, so
    * `nlist` must grow with the corpus to hold the expected cell size
    * constant (SemDeDup itself runs ~100k clusters at web scale);
    * `maxCluster` is the degenerate-cell guard — a collapsed cell
    * (e.g. millions of zero vectors) is dropped rather than joined,
    * same contract as `DefaultMaxBucket` on the LSH side. The
    * self-join's hash exchange on `cluster` is shared with the cap
    * window (ReuseExchange), so the guard adds no extra shuffle. */
  def semanticNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                           threshold: Double, nlist: Int = 4, iters: Int = 2,
                           maxCluster: Int = 4096, nprobe: Int = 1): DataFrame =
    cellPairs(df, idCol, embCol, nlist, iters, maxCluster,
      nprobe, ordered = true)
      .filter(col("cosine") >= threshold)

  /** The ONE cell-bucketed self-join skeleton behind
    * [[semanticNearDupPairs]] and [[knnGraph]]: k-means cell
    * assignment (multi-probe when nprobe > 1 — see
    * [[kmeansClustersProbe]]), degenerate-cell cap, ONE checkpointed
    * materialization feeding both self-join sides, cell equi-join,
    * exact-integer cosine with the zero-norm guard. `ordered` picks
    * the pair shape: a < b undirected candidates (the dedup paths) vs
    * a ≠ b directed (the kNN-graph path, where each endpoint needs
    * its own neighbor list).
    *
    * nprobe = 1 returns (cluster, a, b, cosine) — bit-compatible with
    * the pre-refactor pair frames, no dedup pass in the plan. With
    * nprobe > 1 a pair meeting in several shared cells would
    * duplicate, so the output deduplicates to DISTINCT (a, b, cosine)
    * (cosine is a function of the pair — identical on every copy) and
    * drops the now-ambiguous cluster column. The candidate volume
    * grows ≤ nprobe² per pair in the worst case — [[knnGraph]]'s
    * recall ledger prices both sides of that dial. */
  private[graft] def cellPairs(df: DataFrame, idCol: String, embCol: String,
                               nlist: Int, iters: Int, maxCluster: Int,
                               nprobe: Int, ordered: Boolean): DataFrame = {
    val eq0 = df.select(col(idCol).as("vid"), quantize(col(embCol)).as("eq"))
    cellPairsTrained(df, idCol, embCol, kmeansTrain(eq0, nlist, iters),
      maxCluster, nprobe, ordered)
  }

  /** [[cellPairs]] against ALREADY-TRAINED centroids — callers probing
    * several nprobe widths over one corpus (the recall/volume ledger)
    * train ONCE and share `cents`, instead of re-running the Lloyd
    * collect loop per width. Assignment is a map-side kernel column ON
    * the quantized frame itself (argmin at nprobe = 1, explode(top-n)
    * above), so the (vid → cluster) → eq re-join the pre-r17 shape
    * paid — a corpus-scale shuffle join per build — is gone: the
    * capped frame materializes in one pass over the scan. */
  private[graft] def cellPairsTrained(df: DataFrame, idCol: String,
                                      embCol: String,
                                      cents: Seq[(Long, Seq[Long])],
                                      maxCluster: Int, nprobe: Int,
                                      ordered: Boolean): DataFrame =
    cellPairsTrainedEq(
      df.select(col(idCol).as("vid"), quantize(col(embCol)).as("eq")),
      cents, maxCluster, nprobe, ordered)

  /** The capped (multi-probe) cell-assignment frame the pair joins
    * build on: (vid, eq, cluster), checkpointed once — the lazy
    * barrier through which one materialization feeds both self-join
    * sides (two full corpus passes otherwise). Assignment is a
    * map-side kernel column on the quantized frame itself: argmin at
    * nprobe = 1, explode(top-n) above. A recall/volume ledger uses
    * this frame alone to count candidate pairs from METADATA (cluster
    * sizes / (vid, cluster) joins) and to score cosines only for the
    * eval slice it actually ranks, instead of materializing every
    * candidate pair with its dot product (guide §2.3: decide with
    * small rows; the cosine is payload). */
  private[graft] def cappedCells(eq0: DataFrame,
                                 cents: Seq[(Long, Seq[Long])],
                                 maxCluster: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val eq =
      if (nprobe == 1) eq0.withColumn("cluster",
        graft.expr.kernels.NativeFns.argminCentroid(col("eq"), cents))
      else eq0.select(col("vid"), col("eq"), explode(
          graft.expr.kernels.NativeFns.topNCentroids(col("eq"), cents, nprobe))
        .as("cluster"))
    capBuckets(eq, "cluster", maxCluster).localCheckpoint(false)
  }

  /** [[cellPairsTrained]] over an ALREADY-QUANTIZED (vid, eq) frame —
    * the rebuild path's face (the store's vectors carry eq, not the
    * raw float embedding; re-quantizing quantized longs would be
    * wrong): [[cappedCells]], then the cell self-join scored by
    * [[cosinePairs]]. */
  private[graft] def cellPairsTrainedEq(eq0: DataFrame,
                                        cents: Seq[(Long, Seq[Long])],
                                        maxCluster: Int, nprobe: Int,
                                        ordered: Boolean): DataFrame = {
    val capped = cappedCells(eq0, cents, maxCluster, nprobe)
    val scored = cosinePairs(capped, capped, col("x.cluster") === col("y.cluster") &&
      (if (ordered) col("x.vid") < col("y.vid") else col("x.vid") =!= col("y.vid")),
      "cluster")
    if (nprobe == 1) scored
    else scored.select(col("a"), col("b"), col("cosine")).distinct()
  }

  /** End-to-end SemDeDup: semantic pairs → connected components →
    * keep the cluster-minimum id (the same representative rule as the
    * text-path `llm_dedup_keep_one`). Returns the surviving ids. */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
                    threshold: Double, nlist: Int = 4, iters: Int = 2,
                    maxCluster: Int = 4096, nprobe: Int = 1): DataFrame =
    semanticDedupPairsToKeep(df, idCol,
      semanticNearDupPairs(df, idCol, embCol, threshold, nlist,
        iters, maxCluster, nprobe))

  /** [[semanticDedup]] against ALREADY-TRAINED centroids — the
    * shared-geometry face ([[knnGraphTrained]]). */
  def semanticDedupTrained(df: DataFrame, idCol: String, embCol: String,
                           threshold: Double,
                           cents: Seq[(Long, Seq[Long])],
                           maxCluster: Int = 4096,
                           nprobe: Int = 1): DataFrame =
    semanticDedupPairsToKeep(df, idCol,
      semanticNearDupPairsTrained(df, idCol, embCol, threshold, cents,
        maxCluster, nprobe))

  private def semanticDedupPairsToKeep(df: DataFrame, idCol: String,
                                       pairFrame: DataFrame): DataFrame = {
    val pairs = pairFrame.select(col("a"), col("b"))
    // within-cell all-pairs graphs CHAIN (x~y~z via 0.3-cosine links
    // without x~z), so the component diameter is far above the LSH
    // quasi-clique case — 32 rounds, relying on connectedComponents'
    // exact-fixpoint early termination to stop as soon as converged
    val comp = graft.ops.Ops.connectedComponents(pairs, "a", "b", iters = 32)
    Dedup.keepOnePerCluster(df.select(col(idCol)), idCol, comp)
  }

  /** Bulk kNN-graph construction — the top-k cosine neighbor list for
    * EVERY corpus vector, searched within its k-means cell: the
    * SemDeDup bucketing applied to the similarity-JOIN problem rather
    * than per-query serving. The neighborhood graph is what
    * graph-based curation consumes (diversity sampling, cluster
    * balancing, graph dedup beyond pairwise thresholds); unlike
    * [[semanticNearDupPairs]] it keeps each vector's k best edges
    * regardless of any threshold, so sparse neighborhoods still get
    * neighbors. Edges are DIRECTED (a's list; b's list may differ).
    *
    * Scale: within-cell pairing is O((N/nlist)²) per cell — `nlist`
    * grows with the corpus to hold cell size constant, `maxCluster`
    * drops degenerate cells (same contract as the SemDeDup/LSH caps),
    * and the per-vector top-k compiles to a rank-filter window (map-
    * side WindowGroupLimit before the shuffle). A vector whose true
    * neighbor sits across a cell boundary misses it at nprobe = 1 —
    * the IVF trade; `nprobe` > 1 searches each vector's runner-up
    * cells too (the standard multi-probe recall dial —
    * [[kmeansClustersProbe]]), for ≤ nprobe² the candidate pairs;
    * `llm_knn_recall_probes` prices BOTH sides of that dial against
    * the exact graph on an eval subset. Zero-norm vectors have no
    * defined cosine and are excluded from both endpoints (the NaN
    * guard of the cosine paths). */
  def knnGraph(df: DataFrame, idCol: String, embCol: String, k: Int,
               nlist: Int = 4, iters: Int = 2,
               maxCluster: Int = 4096, nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    knnTopK(cellPairs(df, idCol, embCol, nlist, iters, maxCluster,
      nprobe, ordered = false), k)
  }

  /** [[knnGraph]] against ALREADY-TRAINED centroids — a family of
    * graph consumers over one corpus (graph, recall ledger, label
    * propagation) trains the shared Lloyd geometry ONCE and passes it
    * here, instead of each re-running the per-iteration collect loop
    * (identical output by construction: [[kmeansTrain]] is
    * deterministic in (input, nlist, iters)). */
  def knnGraphTrained(df: DataFrame, idCol: String, embCol: String, k: Int,
                      cents: Seq[(Long, Seq[Long])],
                      maxCluster: Int = 4096, nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    knnTopK(cellPairsTrained(df, idCol, embCol, cents, maxCluster,
      nprobe, ordered = false), k)
  }

  /** [[semanticNearDupPairs]] against ALREADY-TRAINED centroids —
    * same shared-geometry face as [[knnGraphTrained]]. */
  def semanticNearDupPairsTrained(df: DataFrame, idCol: String,
                                  embCol: String, threshold: Double,
                                  cents: Seq[(Long, Seq[Long])],
                                  maxCluster: Int = 4096,
                                  nprobe: Int = 1): DataFrame =
    cellPairsTrained(df, idCol, embCol, cents, maxCluster, nprobe,
      ordered = true)
      .filter(col("cosine") >= threshold)

  /** Corpus-scaled cell count for the cell-join family: nlist grows
    * with the corpus so the EXPECTED cell size stays ~`targetCell`
    * (n/nlist), which is what the O((N/nlist)²)-per-cell pairing cost
    * and the degenerate-cell cap both assume — a FIXED nlist at a
    * growing corpus eventually pushes every cell past `maxCluster`
    * and the cap (correctly) drops them all. One cheap `count()`
    * derives the knob, amortized against a corpus-scale clustering;
    * the 4-cell floor reproduces the small-fixture geometry exactly,
    * so small-sf results are bit-identical to a literal nlist=4.
    * Same scaling BenchScale's knn rows apply (4·n/2000 = n/500). */
  def autoNlist(df: DataFrame, targetCell: Long = 500L,
                minNlist: Int = 4): Int = {
    require(targetCell >= 1, s"targetCell must be >= 1, got $targetCell")
    require(minNlist >= 1, s"minNlist must be >= 1, got $minNlist")
    math.max(minNlist.toLong, df.count() / targetCell).toInt
  }

  // ------------------------------------------------------------------
  // Persisted kNN-graph store — the graph as a maintained artifact
  // ------------------------------------------------------------------

  /** Persist the kNN graph as a STORE with incremental appends — the
    * last similarity product that was still rebuilt per query; every
    * ANN index family already persists ([[persistIvfSq8Index]] is the
    * template, the applied-tag ledger the idempotence recipe).
    * Artifacts under `path/`:
    *  - `centroids` (cid, pos, c): the TRAINED coarse cells, frozen
    *    after build (the frozen-codebook convention — retraining is a
    *    deliberate offline rebuild). Swap-published: this store is the
    *    index's lock anchor, generation stamp and applied-tag ledger.
    *    The persist writes every store in its locked replace window
    *    ([[graft.io.Tables.replacePublish]]).
    *  - `meta` (k, nprobe, max_cluster): the build knobs, validated on
    *    append (a mismatched k would silently serve a differently-cut
    *    graph).
    *  - `vectors` partitionBy(cell): (cid, eq, probe, home) — each
    *    vector's quantized form under EVERY cell it probes, plus its
    *    probe-1 home. The append's candidate search reads ONLY the
    *    touched cells' partitions.
    *  - `edges` partitionBy(home): (a, b, rank, cosine) — the graph
    *    itself, each vector's list stored under its home cell so an
    *    append rewrites only the touched homes' partitions.
    *
    * `train` optionally supplies the quantizer-training frame (the
    * production shape: cells train once on a representative sample;
    * batches build and append against them). */
  def persistKnnGraphStore(df: DataFrame, idCol: String, embCol: String,
                           path: String, k: Int, nlist: Int = 4,
                           iters: Int = 2, maxCluster: Int = 4096,
                           nprobe: Int = 1,
                           train: Option[DataFrame] = None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    def quantized(d: DataFrame) =
      d.select(col(idCol).as("vid"), quantize(col(embCol)).as("eq"))
    val cents = kmeansTrain(quantized(train.getOrElse(df)), nlist, iters)
    // the anchor publishes LAST: a store is live iff its centroids are
    graft.io.Tables.replacePublish(spark, s"$path/centroids") {
      Seq((k.toLong, nprobe.toLong, maxCluster.toLong))
        .toDF("k", "nprobe", "max_cluster")
        .write.mode("overwrite").parquet(s"$path/meta")
      writeGraph(quantized(df), path, cents, k, nprobe, maxCluster)
      vectorRows(spark, "cid", cents)
    }
  }

  /** Map-side probe assignments: (cid, eq, probe 1-based, cell, home)
    * — one kernel call per row, the home (probe-1 cell) carried as a
    * COLUMN so no later step needs a corpus-scale re-join to find a
    * vector's edge partition. */
  private[llm] def graphAssignments(df: DataFrame, idCol: String, embCol: String,
                               cents: Seq[(Long, Seq[Long])],
                               nprobe: Int): DataFrame =
    graphAssignmentsEq(
      df.select(col(idCol).as("cid"), quantize(col(embCol)).as("eq")),
      cents, nprobe)

  /** [[graphAssignments]] over an already-quantized (cid, eq) frame —
    * shared with the geometry rebuild. */
  private[llm] def graphAssignmentsEq(eqDf: DataFrame,
                                      cents: Seq[(Long, Seq[Long])],
                                      nprobe: Int): DataFrame =
    eqDf
      .withColumn("__top",
        graft.expr.kernels.NativeFns.topNCentroids(col("eq"), cents, nprobe))
      .withColumn("home", element_at(col("__top"), 1))
      .select(col("cid"), col("eq"), col("home"),
        posexplode(col("__top")).as(Seq("__p", "cell")))
      .select(col("cid"), col("eq"), (col("__p") + 1).cast("long").as("probe"),
        col("home"), col("cell"))

  private def readCents(spark: org.apache.spark.sql.SparkSession,
                        path: String): Seq[(Long, Seq[Long])] =
    readVectors(spark.read.parquet(s"$path/centroids")).toSeq.sortBy(_._1)

  /** Reload → (trained cells, edges frame, vectors frame). The edges
    * frame IS the product (a, b, rank, cosine [, home]). */
  def readKnnGraphStore(spark: org.apache.spark.sql.SparkSession,
                        path: String): (Seq[(Long, Seq[Long])], DataFrame, DataFrame) =
    (readCents(spark, path), spark.read.parquet(s"$path/edges"),
      spark.read.parquet(s"$path/vectors"))

  /** Append a batch to the persisted graph — pairing NEW vectors
    * against (new ∪ old) members of the cells the batch probes, never
    * old×old (those edges are already stored). Two products update:
    * the new vectors' lists (top-k over their candidates) and the
    * AFFECTED old vectors' lists (stored top-k merged with their
    * old→new candidates, re-ranked — exact, because a candidate
    * outside the stored top-k can never re-enter any top-k). With the
    * frozen cells this makes append == full rebuild bit-for-bit (the
    * shared-oracle contract), PROVIDED no touched cell crosses the
    * degenerate cap: the append FAILS LOUDLY if the batch would push
    * a cell past `maxCluster` (a full rebuild would silently drop the
    * whole cell — at that point the geometry is stale and the honest
    * move is [[rebuildKnnGraphStore]] with a larger nlist, see
    * [[autoNlist]]); the check precedes every store mutation. A batch
    * row whose embedding length differs from the store's dim fails the
    * same way ([[lengthChecked]]).
    *
    * Scale: reads ONLY the touched cells' vector partitions and the
    * affected homes' edge partitions (both partition-pruned);
    * candidate volume is O(|batch| · cellSize · nprobe²); nothing
    * corpus-scale shuffles. Exactly-once under crash-replay when
    * `batchTag` is given — the ivf-sq8 recipe: applied tag
    * short-circuits the call, vectors land via staged deterministic
    * files, the edge-partition rewrite is IDEMPOTENT (re-merging into
    * an already-merged list is a no-op, so a retry over a
    * half-published edge store converges to the same content), and
    * the tag publishes inside the centroid swap's atomic rename. */
  def appendToKnnGraphStore(df: DataFrame, idCol: String, embCol: String,
                            path: String,
                            batchTag: Option[String] = None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.io.Tables.readMergePublish(spark, s"$path/centroids", batchTag) { _ =>
      // heal a prior append that crashed inside replacePartitions'
      // rename window BEFORE deriving retry content — a home partition
      // whose only copy sits in edges__old_* would otherwise read as
      // zero rows below and the retry would publish wrong lists
      graft.io.Tables.restoreOrphanedPartitions(spark, s"$path/edges")
      val cents = readCents(spark, path)
      val metaRow = spark.read.parquet(s"$path/meta").head()
      val (k, nprobe, maxCluster) =
        (metaRow.getLong(0).toInt, metaRow.getLong(1).toInt, metaRow.getLong(2))
      // the assignment kernel dots over min(dim, |centroid|), so a
      // wrong-length row would silently mis-assign instead of erroring
      val newAsg = graphAssignments(lengthChecked(df, embCol, cents.head._2.length, path),
          idCol, embCol, cents, nprobe)
        .localCheckpoint(false)
      val batchIds = newAsg.select(col("cid")).distinct()
      val touched = newAsg.select(col("cell")).distinct().as[Long].collect().toSeq
      // "old" excludes the batch's ids so a retry over already-placed
      // vector files derives the same candidate set
      val oldMembers = spark.read.parquet(s"$path/vectors")
        .filter(col("cell").isin(touched: _*))
        .join(broadcast(batchIds), Seq("cid"), "left_anti")
        .localCheckpoint(false)
      // post-append cap per touched cell: fail loudly on overflow,
      // pair only within cells that are valid AFTER the batch lands
      val cellCounts = oldMembers.groupBy(col("cell")).agg(count(lit(1)).as("o"))
        .join(newAsg.groupBy(col("cell")).agg(count(lit(1)).as("n")),
          Seq("cell"), "full_outer")
        .select(col("cell"),
          (coalesce(col("o"), lit(0L)) + coalesce(col("n"), lit(0L))).as("bc"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val over = cellCounts.filter(_._2 > maxCluster)
      if (over.nonEmpty) throw new IllegalArgumentException(
        s"appendToKnnGraphStore: batch pushes cell(s) ${over.map(_._1).mkString(", ")} " +
          s"past maxCluster=$maxCluster at $path — the cell geometry is stale; " +
          "retrain it with rebuildKnnGraphStore (a larger nlist, see autoNlist), " +
          "then append the batch again")
      val valid = cellCounts.filter(_._2 >= 2L).map(_._1)
      val mN = newAsg.filter(col("cell").isin(valid: _*))
        .select(col("cid").as("vid"), col("eq"), col("cell"))
      val mO = oldMembers.filter(col("cell").isin(valid: _*))
        .select(col("cid").as("vid"), col("eq"), col("cell"))
      val cNew = cosinePairs(mN, mO.unionByName(mN),
          col("x.cell") === col("y.cell") && col("x.vid") =!= col("y.vid"))
        .distinct()
        .localCheckpoint(false)
      // old→new candidates are the MIRROR of cNew's new→old subset
      // (cosine is symmetric, the zero-norm guard too) — derived, not
      // re-joined: this halves the append's pair-scoring work
      val cOld = cNew
        .join(broadcast(batchIds.withColumnRenamed("cid", "b")),
          Seq("b"), "left_anti")
        .select(col("b").as("a"), col("a").as("b"), col("cosine"))
        .localCheckpoint(false)
      val newLists = knnTopK(cNew, k)
      val affected = cOld.select(col("a")).distinct()
      val oldHome = oldMembers.select(col("cid").as("a"), col("home")).distinct()
      val affHomes = oldHome.join(affected, "a")
        .select(col("home")).distinct().as[Long].collect().toSeq
      val edgesStore = spark.read.parquet(s"$path/edges")
      val storedAff = edgesStore.filter(col("home").isin(affHomes: _*))
        .join(affected, Seq("a"))
        .select(col("a"), col("b"), col("cosine"))
      // distinct: a retry re-generates candidates a half-published
      // store already merged — identical (a, b, cosine) rows collapse
      val mergedOld = knnTopK(storedAff.unionByName(cOld).distinct(), k)
      val newHome = newAsg.select(col("cid").as("a"), col("home")).distinct()
      val updated = newLists.join(broadcast(newHome), "a")
        .unionByName(mergedOld.join(oldHome, "a"))
        .localCheckpoint(false)
      val homes = updated.select(col("home")).distinct().as[Long].collect().toSeq
      val keep = edgesStore.filter(col("home").isin(homes: _*))
        .join(updated.select(col("a")).distinct(), Seq("a"), "left_anti")
      val content = keep.select(col("a"), col("b"), col("rank"),
          col("cosine"), col("home"))
        .unionByName(updated.select(col("a"), col("b"), col("rank"),
          col("cosine"), col("home")))
      // publish order: vectors (staged, skip-placed) -> edges
      // (idempotent partition rewrite) -> centroids (tag commits)
      appendPartitioned(newAsg, s"$path/vectors", "cell", batchTag)
      if (homes.nonEmpty)
        graft.io.Tables.replacePartitions(spark, content, s"$path/edges", "home")
      vectorRows(spark, "cid", cents)
    }
  }

  /** Retrain the graph store's CELL GEOMETRY from its own vectors —
    * the recovery for [[appendToKnnGraphStore]]'s cap-overflow
    * failure (a store built at a small corpus eventually pushes
    * every cell past maxCluster as appends accumulate). Re-derives
    * nlist from the stored corpus via the [[autoNlist]] rule,
    * re-trains cells, and rewrites
    * vectors + edges from the stored probe-1 (cid, eq) rows — the
    * quantized form is the store's source of truth, so no raw
    * embeddings are needed. The applied-tag ledger and generation
    * carry forward through the centroid swap: a replayed old batch
    * still no-ops against the rebuilt store.
    *
    * Crash contract: the rebuild derives EVERYTHING from the probe-1
    * vector rows, which every partial state preserves (vectors are
    * rewritten from an eagerly-materialized snapshot), so re-running
    * a crashed rebuild converges; the store is inconsistent (new
    * vectors / old centroids) only inside the window, loudly —
    * appends mis-probing partition-pruned reads return the cap guard
    * or empty cells, never silently wrong lists, and the documented
    * recovery is "re-run the rebuild". Retry crashed tagged appends
    * BEFORE rebuilding (the compaction recovery-order contract): the
    * rebuild absorbs placed vector files, after which a retry would
    * re-place them. Deliberately corpus-scale — this is the offline
    * "retrain the quantizer" move every ANN family reserves. */
  def rebuildKnnGraphStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, targetCell: Long = 500L,
                           minNlist: Int = 4, iters: Int = 2): Unit =
    graft.io.Tables.readMergePublish(spark, s"$path/centroids") { _ =>
      graft.io.Tables.restoreOrphanedPartitions(spark, s"$path/edges")
      val metaRow = spark.read.parquet(s"$path/meta").head()
      val (k, nprobe, maxCluster) =
        (metaRow.getLong(0).toInt, metaRow.getLong(1).toInt,
          metaRow.getLong(2).toInt)
      // EAGER snapshot: the rewrite below overwrites the dir this
      // frame reads — a lazy checkpoint would race the truncation
      val eq0 = spark.read.parquet(s"$path/vectors")
        .filter(col("probe") === 1L)
        .select(col("cid").as("vid"), col("eq"))
        .localCheckpoint(true)
      val nlist = math.max(minNlist, (eq0.count() / targetCell).toInt)
      val cents = kmeansTrain(eq0, nlist, iters)
      writeGraph(eq0, path, cents, k, nprobe, maxCluster)
      vectorRows(spark, "cid", cents)
    }

  /** The one writer of the graph store's `vectors` and `edges` over a
    * quantized (vid, eq) frame against trained `cents` — shared by the
    * persist and [[rebuildKnnGraphStore]]. The caller publishes the centroids
    * after it. */
  private def writeGraph(eq0: DataFrame, path: String,
                         cents: Seq[(Long, Seq[Long])], k: Int, nprobe: Int,
                         maxCluster: Int): Unit = {
    val asg = graphAssignmentsEq(eq0.select(col("vid").as("cid"), col("eq")),
      cents, nprobe)
    asg.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    val graph = knnTopK(
      cellPairsTrainedEq(eq0, cents, maxCluster, nprobe, ordered = false)
        .select(col("a"), col("b"), col("cosine")), k)
    // home rides a join keyed like the rank window's exchange (a), so
    // it reuses that partitioning — no extra corpus-scale shuffle
    val homes = asg.filter(col("probe") === 1L)
      .select(col("cid").as("a"), col("home"))
    graph.join(homes, "a")
      .repartition(col("home"))
      .write.mode("overwrite").partitionBy("home").parquet(s"$path/edges")
  }

  /** Maintenance diagnostic for the graph store (the k11 file-audit
    * convention): per partitioned store, partition-dir / file / row
    * counts plus crash-residue dirs — compaction debt is visible as
    * n_files > n_parts on `vectors` (tagged appends add one staged
    * file per (batch, cell); [[compactIndex]] folds them), and
    * nonzero n_residue says a vacuum is due. Edges stay one file per
    * home by construction (replacePartitions repartitions). */
  def knnGraphStoreAudit(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    import spark.implicits._
    def one(name: String): (String, Long, Long, Long, Long) = {
      val r = spark.read.parquet(s"$path/$name")
        .withColumn("__f", input_file_name())
        .withColumn("__p", regexp_extract(col("__f"), "([^/]+)/[^/]+$", 1))
        .agg(countDistinct(col("__p")), countDistinct(col("__f")),
          count(lit(1))).head()
      (name, r.getLong(0), r.getLong(1), r.getLong(2),
        graft.io.Tables.storeResidue(spark, s"$path/$name").size.toLong)
    }
    Seq(one("edges"), one("vectors"))
      .toDF("store", "n_parts", "n_files", "n_rows", "n_residue")
  }

  /** Per-vector top-k window over a directed candidate-pair frame —
    * [[knnGraph]]'s tail, shared with the recall/volume ledger so the
    * graph and the ledger rank identically. Compiles to a map-side
    * WindowGroupLimit partial before the single rank exchange. */
  private[graft] def knnTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("a")).orderBy(col("cosine").desc, col("b"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("a"), col("b"), col("rank"), col("cosine"))
  }

  /** Label propagation over a kNN graph (Zhu & Ghahramani 2002 —
    * public method): semi-supervised score spreading for curation —
    * a small SEEDED subset carries known quality scores and every
    * other vector iteratively takes the cosine-weighted mean of its
    * neighbors' scores; seeds stay CLAMPED. The production use:
    * bootstrap a corpus-wide quality signal from a few thousand
    * human-rated documents without training a model.
    *
    * Exact-integer contract: edge weights are floor(cosine·10^6)
    * (floor, not round — a representable-tie cosine would make the
    * two engines' round modes observable), scores are micro-units,
    * and each update is one floor-division of two integer sums — so
    * `iters` unrolled rounds replay bit-for-bit in the oracle (the
    * kmeans-CTE convention). A vector with no outgoing edges (cell
    * cap, zero norm, missing from the graph) keeps its current score.
    *
    * Scale: per round ONE equi-join of the edge list with the score
    * table (both shuffle on vid — k·N and N rows) + one groupBy; no
    * all-pairs anything; iters is a small constant. */
  def knnLabelPropagation(edges0: DataFrame, seeds: DataFrame,
                          idCol: String, scoreCol: String,
                          iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = edges0.select(col("a"), col("b"),
      floor(col("cosine") * 1e6).cast("long").as("w"))
      // one materialization: every round re-reads the edge list, and
      // without the cut each round would recompute the full upstream
      // graph build (cells, pairing, top-k) from scratch
      .localCheckpoint(false)
    val seedScores = seeds.select(col(idCol).as("vid"),
      col(scoreCol).cast("long").as("__seed"))
    val ids = edges.select(col("a").as("vid"))
      .unionByName(edges.select(col("b").as("vid")))
      .unionByName(seedScores.select(col("vid"))).distinct()
    var scores = ids.join(seedScores, Seq("vid"), "left_outer")
      .select(col("vid"), coalesce(col("__seed"), lit(0L)).as("score"),
        col("__seed").isNotNull.as("is_seed"), col("__seed"))
    for (_ <- 1 to iters) {
      val nbr = edges
        .join(scores.select(col("vid").as("b"), col("score").as("__bs")), "b")
        .groupBy(col("a"))
        .agg(sum(col("w") * col("__bs")).as("__num"), sum(col("w")).as("__den"))
        // floor of the correctly-rounded double quotient == integer
        // floor at these magnitudes (num <= k·10^12 << 2^53; quotient
        // distance from any integer >= 1/den >> the 2^-53 error)
        .select(col("a").as("vid"),
          when(col("__den") > 0, floor(col("__num").cast("double") /
            col("__den").cast("double")).cast("long")).as("__nbr"))
      scores = scores.join(nbr, Seq("vid"), "left_outer")
        .select(col("vid"),
          when(col("is_seed"), col("__seed"))
            .otherwise(coalesce(col("__nbr"), col("score"))).as("score"),
          col("is_seed"), col("__seed"))
    }
    scores.select(col("vid"), col("score").as("score_micro"), col("is_seed"))
  }

  /** The EXACT directed kNN graph for an eval subset of vectors —
    * every other corpus vector considered (linear in the corpus, the
    * eval side bounded): the ground truth [[knnGraph]]'s recall ledger
    * compares against. Same cosine, tie-break and zero-norm contract
    * as the cell-bucketed path so the only difference IS the cell
    * boundary. */
  def knnGraphExact(df: DataFrame, evalPred: Column, idCol: String,
                    embCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val all = df.select(col(idCol).as("vid"), quantize(col(embCol)).as("eq"))
    val ev = all.filter(evalPred)
      .select(col("vid").as("a"), col("eq").as("aeq"))
    val pairs = all.crossJoin(broadcast(ev))
      .filter(col("vid") =!= col("a"))
      .select(col("a"), col("vid").as("b"),
        dotQ(col("aeq"), col("eq")).cast("double").as("__dot"),
        dotQ(col("aeq"), col("aeq")).cast("double").as("__na"),
        dotQ(col("eq"), col("eq")).cast("double").as("__nb"))
      .filter(col("__na") > 0 && col("__nb") > 0)
      .select(col("a"), col("b"),
        (col("__dot") / (sqrt(col("__na")) * sqrt(col("__nb")))).as("cosine"))
    val w = Window.partitionBy(col("a")).orderBy(col("cosine").desc, col("b"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("a"), col("b"), col("rank"), col("cosine"))
  }

  /** Full IVF: train the coarse quantizer with k-means, then probe —
    * the composition a production index build runs. The learned
    * cluster id rides as a map-side kernel COLUMN on the store frame
    * (the cellPairs convention) — the (vid → cluster) re-join the
    * pre-r17 shape paid, a corpus-scale shuffle per build, is gone. */
  def ivfTopKAuto(df: DataFrame, queries: DataFrame, idCol: String, embCol: String,
                  k: Int, nlist: Int = 4, iters: Int = 2): DataFrame = {
    val cents = kmeansTrain(
      df.select(col(idCol).as("vid"), quantize(col(embCol)).as("eq")),
      nlist, iters)
    ivfTopK(df.withColumn("__cluster",
        graft.expr.kernels.NativeFns.argminCentroid(
          quantize(col(embCol)), cents)),
      queries, idCol, embCol, "__cluster", k)
  }

  /** IVF-style ANN with a provided coarse quantizer (here: the label
    * column as cluster id; production swaps in k-means assignments).
    * Centroids are exact integer sum-vectors per cluster (explode +
    * groupBy — map-side combined, linear shuffle); each query probes
    * its best cluster only, so the fine search scans |data|/nlist
    * candidates instead of everything — the IVF pruning structure. */
  def ivfTopK(df: DataFrame, queries: DataFrame, idCol: String, embCol: String,
              labelCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    val (cent, eq) = buildIvfIndex(df, idCol, embCol, labelCol)
    ivfTopKIndexed(cent, eq, queries, idCol, embCol, k, nprobe)
  }

  /** Build the IVF index frames once: quantized assignments
    * `(cid, label, eq)` and centroid sum-vectors `(label, pos, s, cnt)`
    * — one row per (cluster, dimension), the cluster size riding along
    * in the same aggregation (it is the row count at any one
    * dimension), saving a separate groupBy + join. The assignments
    * frame is checkpointed because it feeds both the centroid build
    * and the fine search; persist it instead with [[persistIvfIndex]]
    * and the build cost disappears from the serving path entirely. */
  def buildIvfIndex(df: DataFrame, idCol: String, embCol: String,
                    labelCol: String): (DataFrame, DataFrame) = {
    val eq = df.select(col(idCol).as("cid"), cellLabel(labelCol, "IVF build").as("label"),
      quantize(col(embCol)).as("eq")).localCheckpoint(false)
    (centroidSums(eq.select(col("label"), posexplode(col("eq")).as(Seq("pos", "v")))), eq)
  }

  /** `labelCol` as the cell of an IVF or PQ label-init build, refusing a
    * NULL label by name inside the build's own jobs (a NULL cell would
    * persist a NULL centroid row, or fail the trainer's collect opaquely). */
  private def cellLabel(labelCol: String, build: String): Column =
    coalesce(col(labelCol), raise_error(
      lit(s"$build: NULL in the label column '$labelCol'; every vector needs a cell")))

  /** The one per-(group, pos) centroid aggregate: exact (label, pos,
    * s, cnt) sums of an exploded (label, pos, v) frame — the IVF
    * centroid table and, through [[lloydMeans]], every trainer's. */
  private def centroidSums(expl: DataFrame): DataFrame =
    expl.groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))

  /** One Lloyd update: the floor-means of `expl`'s [[centroidSums]],
    * one bounded collect; a (group, pos) no row reached is absent. */
  private def lloydMeans(expl: DataFrame): Array[(Long, Int, Long)] =
    centroidMeans(centroidRows(centroidSums(expl)))

  /** Write the IVF index as the SERVING layout: assignments
    * partitioned BY CLUSTER — one directory per label, the partition-
    * pruning unit — plus the (tiny) centroid table. A query batch
    * against the persisted index then (a) trains nothing, (b) probes
    * clusters via the broadcast centroid table, and (c) reads ONLY the
    * probed clusters' files: the label equi-join against the pruned
    * query→cluster frame drives Spark's dynamic partition pruning, so
    * at 1000 executors the fine search touches ~|probed|/nlist of the
    * corpus bytes instead of scanning everything. */
  def persistIvfIndex(df: DataFrame, idCol: String, embCol: String,
                      labelCol: String, path: String): Unit =
    // the index lock, which appendToIvfIndex's publish window holds
    graft.io.Tables.withStoreLock(df.sparkSession, s"$path/centroids") {
      val (cent, eq) = buildIvfIndex(df, idCol, embCol, labelCol)
      eq.write.mode("overwrite").partitionBy("label").parquet(s"$path/assignments")
      cent.write.mode("overwrite").parquet(s"$path/centroids")
    }

  /** Load a persisted index: (centroids, assignments). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/assignments"))

  /** Assign vectors to their nearest cluster by exact integer L2²
    * against a FROZEN centroid table (mean vectors = floor(s/cnt),
    * the kmeansClusters update rule) — the production labeling step
    * for new batches against a trained coarse quantizer. Centroids
    * collect bounded (nlist × dim rows, the k-means contract) and
    * inline as literals into a codegen'd map-side argmin: no join, no
    * exchange, ties break on the lower label. Returns (idCol, label). */
  def assignClusters(df: DataFrame, idCol: String, embCol: String,
                     cent: DataFrame): DataFrame = {
    val rows = centroidRows(cent)
    require(rows.nonEmpty, "assignClusters: empty centroid table")
    val cents = cellVectors(centroidMeans(rows)).toSeq.sortBy(_._1)
    // materialize the quantized vector once, then the dot-identity
    // argmin as in kmeansClusters/pqEncodeFrame — same order, same
    // ties; the native kernel keeps the generated code fixed-size at
    // any nlist (labels ascend by construction of the sortBy)
    val best = graft.expr.kernels.NativeFns.argminCentroid(col("__eq"), cents)
    df.withColumn("__eq", quantize(col(embCol)))
      .select(col(idCol), best.as("label"))
  }

  /** Append a new batch to a persisted IVF index WITHOUT rebuilding —
    * the daily-embedding-delta path: quantized assignments append as
    * new files under their clusters' partition directories (the base
    * index is never rewritten or rescanned), and the (tiny) centroid
    * sum table merges additively — sums and counts are exact integers,
    * so index-after-append EQUALS index-rebuilt-from-scratch
    * bit-for-bit, and so does every serving answer (spec'd; the
    * llm_ann_ivf_append oracle row shares the full-build oracle).
    * `labelCol` carries the batch's cluster ids; for a learned
    * quantizer, label the batch first with [[assignClusters]] against
    * the frozen centroid table — the standard IVF practice (the coarse
    * quantizer does not drift with appends; retrain is a deliberate
    * offline rebuild). */
  def appendToIvfIndex(df: DataFrame, idCol: String, embCol: String,
                       labelCol: String, path: String): Unit = {
    // whole append (file adds + centroid merge) in one window: two
    // racing appenders serialize, so neither merges a stale base and
    // the assignments/centroids pair can never tear
    graft.io.Tables.readMergePublish(df.sparkSession, s"$path/centroids") { _ =>
      val (centNew, eqNew) = buildIvfIndex(df, idCol, embCol, labelCol)
      appendPartitioned(eqNew, s"$path/assignments", "label", None)
      mergeCentroidSums(path, centNew)
    }
  }

  /** ANN against a pre-built index — the serving path. Same math as
    * [[ivfTopK]] (differential-spec'd equal); the index frames come
    * from [[buildIvfIndex]] or [[readIvfIndex]].
    *
    * `nprobe` is the standard IVF recall knob: fine-search the union
    * of the query's best `nprobe` clusters instead of just the top one.
    * Single-probe IVF has a well-known recall cliff for queries near
    * cluster boundaries (their true neighbors sit in the runner-up
    * cluster); probing 2 clusters measurably recovers much of it
    * (llm_ann_ivf_recall: 0.30 vs 0.17 @3 on the harness split) for
    * nprobe× the fine-search candidates. The plan shape is unchanged —
    * the pruned frame simply carries nprobe labels per query, and the
    * label equi-join still drives dynamic partition pruning against a
    * cluster-partitioned index (the probed-file set just has nprobe
    * entries per query). Clusters are disjoint, so the union
    * introduces no duplicate candidates. */
  def ivfTopKIndexed(cent: DataFrame, eq: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String, k: Int,
                     nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val q = quantizedQueries(queries, idCol, embCol)
    // fine search within the probed clusters only
    val scored = probeRows(cent, centroidRows(cent), q, nprobe)
      .join(eq, "label")
      .filter(col("cid") =!= col("qid"))
      .withColumn("dot", dotQ(col("qe"), col("eq")))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    scored.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("label"), col("cid"), col("rank"), col("dot"))
  }

  /** Per-query best-`nprobe` coarse clusters by centroid mean-dot —
    * the IVF probe step, shared by every IVF serving path (public so
    * the recall/scan ledgers can measure the probed fraction
    * in-engine). Input `q` is (qid, qe); output one (qid, label) row
    * per probed cluster. The centroid sum table (nlist × dim rows, tiny
    * by the k-means contract) collects once per call and rides into
    * the native [[graft.expr.kernels.IvfProbe]] kernel as reference
    * objects, so each query is probed from its own row: score =
    * (double) Σ_pos qe[pos]·s / cnt, best first, ties on the lower
    * label — no per-(query, dimension) rows, no join, no exchange, no
    * window. */
  def ivfProbe(cent: DataFrame, q: DataFrame, nprobe: Int): DataFrame =
    probeRows(cent, centroidRows(cent), q, nprobe).select(col("qid"), col("label"))

  /** `q`'s rows (every column kept) times their probed clusters, one
    * row per probe with its `label`; whatever `q` computes per query
    * (a lookup table) is computed once per query, not once per probe.
    * `label` keeps the centroid table's type, so the equi-join against
    * a cluster-partitioned store plans (and prunes) as it always has.
    * `rows` is [[centroidRows]] of `cent`. An empty centroid table
    * probes nothing. */
  private def probeRows(cent: DataFrame, rows: Array[(Long, Int, Long, Long)],
                        q: DataFrame, nprobe: Int): DataFrame = {
    val labelType = cent.schema("label").dataType
    if (rows.isEmpty) return q.withColumn("label", lit(null).cast(labelType)).limit(0)
    val labels = rows.map(_._1)
    // Spark plans dynamic partition pruning only when the filtering
    // side of the join carries a selective-looking Filter; the nprobe
    // cut happens inside the kernel where the planner cannot see it,
    // so the (always true) label range is stated as that Filter
    q.select(col("*"), explode(graft.expr.kernels.NativeFns.ivfProbe(col("qe"),
        rows.toSeq, nprobe)).as("label"))
      .filter(col("label").between(labels.min, labels.max))
      .withColumn("label", col("label").cast(labelType))
  }

  /** The centroid sum table as (label, pos, s, cnt) tuples — one
    * bounded collect (nlist × dim rows), none for the centroid frame of
    * an opened index ([[AdcIndex]]). */
  private def centroidRows(cent: DataFrame): Array[(Long, Int, Long, Long)] =
    Option(openCentroidRows.get(cent)).getOrElse(
      cent.select(col("label").cast("long"), col("pos").cast("int"),
          col("s").cast("long"), col("cnt").cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))))

  /** Persist an IVFPQ index — the FAISS IVFPQ composition (Jégou,
    * Douze & Schmid, TPAMI 2011 §V; the non-residual variant, so every
    * score stays exact-integer and oracle-replayable): cells from
    * `labelCol` (label a new corpus with [[assignClusters]] first) plus
    * PQ codes whose books are [[pqCodebooks]]' label init over `train`,
    * or without `train` the cells' own floor-means — the same books,
    * from the one collected centroid table. A query batch reads
    * ~nprobe/nlist of the code bytes and never the vectors. */
  def persistIvfPqIndex(df: DataFrame, idCol: String, embCol: String,
                        labelCol: String, path: String, m: Int = 4,
                        dim: Int = 64, train: Option[DataFrame] = None): Unit = train match {
    case Some(t) => persistAdc(df, idCol, embCol, Some(labelCol), path,
      PqCodec(pqCodebooks(t, embCol, labelCol), m, dim))
    case None =>
      val (sums, eq) = buildIvfIndex(df, idCol, embCol, labelCol)
      val cent = localCentroids(sums)
      val codec = PqCodec(cellVectors(centroidMeans(centroidRows(cent))), m, dim)
      writeAdc(path, codec, Some(cent), ivfCodes(codec, df, idCol, embCol, eq))
  }

  /** Append a batch to a (non-residual) IVFPQ index against its
    * frozen codebooks, its cells from `labelCol`; `batchTag` makes the
    * whole call exactly-once under replay. The appended index serves
    * identically to a full rebuild. Fails loudly when (m, dim) does
    * not match the index.
    *
    * The RESIDUAL variant deliberately has NO append: residual codes
    * depend on the centroid means, which an append shifts — a
    * drifted-centroid append would silently decode old codes against
    * the wrong offsets. FAISS freezes its coarse quantizer for the
    * same reason; retrain-and-rebuild is the correct operation there. */
  def appendToIvfPqIndex(df: DataFrame, idCol: String, embCol: String,
                         labelCol: String, path: String, m: Int = 4,
                         dim: Int = 64, batchTag: Option[String] = None): Unit =
    appendAdc(df, idCol, embCol, path,
      idx => PqCodec(idx.artifact(PqCodec), m, dim),
      Some(IvfBatch(Some(labelCol), batchTag)))

  /** Load a persisted IVFPQ index → (centroids, codebooks, codes). */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): (DataFrame, Map[Long, IndexedSeq[Long]], DataFrame) = {
    val idx = openAdc(spark, path, PqCodec)
    (idx.centroids, idx.artifact(PqCodec), idx.codes)
  }

  /** IVFPQ serving: the [[serveAdc]] body with the PQ codec and the
    * IVF probe. On a probe set covering every cluster it is
    * bit-identical to [[pqServe]]. */
  def ivfPqTopK(cent: DataFrame, byLabel: Map[Long, IndexedSeq[Long]],
                codes: DataFrame, store: DataFrame, queries: DataFrame,
                qId: String, embCol: String, k: Int, m: Int = 4,
                dim: Int = 64, coarse: Int = 20, nprobe: Int = 1): DataFrame =
    serveAdc(PqCodec(byLabel, m, dim), codes, store, queries, qId, embCol,
      k, coarse, Some(Probe(cent, nprobe)))

  /** The ADC-scored candidate frame (qid, cid, adc) of IVFPQ serving —
    * [[ivfPqTopK]] minus the coarse cut and rescore. Public so a
    * tuning sweep (the grid ledger) can score each nprobe ONCE and
    * apply several coarse widths to the same frame: the probe, DPP
    * scan and ADC are identical across coarse settings, only the
    * downstream top-`coarse` cut changes. */
  def ivfPqScoredCandidates(cent: DataFrame, byLabel: Map[Long, IndexedSeq[Long]],
                            codes: DataFrame, queries: DataFrame, qId: String,
                            embCol: String, m: Int = 4, dim: Int = 64,
                            nprobe: Int = 1): DataFrame =
    scoreAdc(PqCodec(byLabel, m, dim), codes,
      quantizedQueries(queries, qId, embCol), Some(Probe(cent, nprobe)))

  /** Coarse top-`coarse` by ADC + exact rescore over a scored
    * candidate frame — the public face of the serving tail, paired
    * with [[ivfPqScoredCandidates]]. */
  def coarseRescore(scored: DataFrame, queries: DataFrame, qId: String,
                    embCol: String, store: DataFrame, k: Int,
                    coarse: Int): DataFrame = {
    require(coarse >= k, s"coarse depth $coarse must be >= k=$k")
    pqCoarseRescore(scored, quantizedQueries(queries, qId, embCol), store, k, coarse)
  }

  /** The one floor-mean: per-(group, pos) exact-integer means of
    * centroid SUM rows, floor(s / cnt) computed driver-side with
    * `math.floorDiv` (floor, NOT truncation — embedding sums go
    * negative, and the two roundings differ there; the oracle replays
    * it as floor(CAST(s AS DOUBLE) / cnt), identical for |s| < 2^53).
    * groups × dim longs — tiny by the k-means contract. */
  private def centroidMeans(rows: Array[(Long, Int, Long, Long)]): Array[(Long, Int, Long)] =
    rows.map { case (l, p, s, cnt) => (l, p, math.floorDiv(s, math.max(cnt, 1L))) }

  /** The one parse of (id, pos, value) rows: each id's pos-ordered vector. */
  private def cellVectors(rows: Array[(Long, Int, Long)]): Map[Long, IndexedSeq[Long]] =
    rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toIndexedSeq).toMap

  /** The vectors of a stored (id, pos, c) table ([[vectorRows]]). */
  private def readVectors(stored: DataFrame): Map[Long, IndexedSeq[Long]] =
    cellVectors(stored.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))))

  /** The one writer of an (id, pos, c) vector table, in id order:
    * codebooks as (lbl, …), kNN-graph centroids as (cid, …). */
  private def vectorRows(spark: SparkSession, idCol: String,
                         vecs: Iterable[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    vecs.toSeq.sortBy(_._1)
      .flatMap { case (id, v) => v.zipWithIndex.map { case (c, p) => (id, p, c) } }
      .toDF(idCol, "pos", "c")
  }

  /** Literal per-label centroid array column. Coarse labels are DENSE
    * 0..nlist-1 for every trained quantizer ([[kmeansClusters]] seeds
    * cluster ids 0..k-1; the fixture label column is 0-based), so the
    * fast path is ONE literal array-of-arrays indexed positionally by
    * `label` — O(1) per row, and the generated code does NOT grow with
    * nlist (the [[pqLutAndAdc]] fix pattern; the previous per-label
    * `when` chain re-grew linearly at a production nlist of
    * 4096–65536, the same disease the ADC chain had pre-r13). A
    * sparse label space falls back to [[centroidArrColChain]], kept as
    * the differential anchor: for labels present in `means` the two
    * forms select the SAME literal array (by position vs by equality),
    * so they are bit-identical (spec'd in LlmSpec). */
  private[llm] def centroidArrCol(means: Map[Long, IndexedSeq[Long]]): Column = {
    val labels = means.keys.toSeq.sorted
    if (labels == (0L until labels.size.toLong))
      // ONE array-of-arrays literal (typedLit), not nested CreateArray
      // nodes: CreateArray inlines O(nlist·dim) literals into generated
      // code and hits the same Janino ceiling ArgminCentroid closed —
      // a single Literal is a constant reference, zero code growth
      element_at(typedLit(labels.map(l => means(l).toSeq)),
        (col("label").cast("int") + lit(1)))
    else centroidArrColChain(means)
  }

  /** The when-chain form of [[centroidArrCol]] — the bit-equality
    * differential anchor (and the sparse-label fallback). */
  private[llm] def centroidArrColChain(means: Map[Long, IndexedSeq[Long]]): Column =
    coalesce(means.keys.toSeq.sorted.map { l =>
      when(col("label") === l, array(means(l).map(lit): _*))
    }: _*)

  /** Residual IVFPQ index — FAISS `by_residual=true`, the full IVFPQ
    * shape: PQ encodes each vector's RESIDUAL against its own coarse
    * centroid (exact integer mean), so the codebooks spend their bits
    * on within-cluster structure instead of re-describing the cluster
    * position the coarse quantizer already knows — the standard
    * recall win at equal code budget (measured in-engine by
    * `llm_ann_ivfpq_res_recall`). Codebook init is `cid % nCodewords`
    * over the residuals: the label init of the non-residual path
    * degenerates here (per-label residual means are ~zero by
    * construction), while the modulo init is deterministic, dense
    * (0..k-1 — the O(1) ADC path), and SQL-replayable. Serving adds
    * each probed cluster's exact dot(query, centroid) — one integer
    * per (query, probe) — to the residual ADC; the layout and DPP
    * pruning story are identical to [[persistIvfPqIndex]]. */
  def persistIvfPqResidualIndex(df: DataFrame, idCol: String, embCol: String,
                                labelCol: String, path: String, m: Int = 4,
                                dim: Int = 64, nCodewords: Int = 8): Unit = {
    val (cent, byCode, codes) =
      buildIvfPqResidual(df, idCol, embCol, labelCol, m, dim, nCodewords)
    writeAdc(path, PqCodec(byCode, m, dim), Some(cent), codes)
  }

  /** The in-memory residual-IVFPQ build — (centroid sums, residual
    * codebooks, labeled codes) — shared by [[persistIvfPqResidualIndex]]
    * and the inline ledger paths. `refineRounds` > 0 Lloyd-refines the
    * cid-modulo-init residual codebooks ([[refineBooksQ]] — the same
    * bounded-collect rounds and keep-when-empty rule as the raw path,
    * applied to the residual arrays; FAISS refines its residual
    * codebooks the same way), and the codes then encode against the
    * REFINED books. Priced in-engine by llm_ann_ivfpq_res_recall's
    * `ivfpq_res_probe2_it2` row at identical serving cost. */
  def buildIvfPqResidual(df: DataFrame, idCol: String, embCol: String,
                         labelCol: String, m: Int = 4, dim: Int = 64,
                         nCodewords: Int = 8,
                         refineRounds: Int = 0): (DataFrame, Map[Long, IndexedSeq[Long]], DataFrame) = {
    val (cent, eq) = buildIvfIndex(df, idCol, embCol, labelCol)
    buildIvfPqResidualFrom(cent, eq, m, dim, nCodewords, refineRounds)
  }

  /** The residual build over an ALREADY-BUILT coarse index
    * ([[buildIvfIndex]]'s (cent, eq)) — the multi-variant/ledger path:
    * one coarse build and one checkpointed assignment frame shared
    * across codebook variants (init vs refined) instead of rebuilding
    * per arm; `init` additionally reuses trained init books (the
    * [[pqCodebooksRefined]] convention). Returns the same `cent` for
    * triple-shape symmetry with [[buildIvfPqResidual]]. */
  def buildIvfPqResidualFrom(cent: DataFrame, eq: DataFrame, m: Int = 4,
                             dim: Int = 64, nCodewords: Int = 8,
                             refineRounds: Int = 0,
                             init: Option[Map[Long, IndexedSeq[Long]]] = None): (DataFrame, Map[Long, IndexedSeq[Long]], DataFrame) = {
    require(refineRounds >= 0, s"refineRounds must be >= 0, got $refineRounds")
    val means = cellVectors(centroidMeans(centroidRows(cent)))
    val resid = eq.withColumn("__c", centroidArrCol(means))
      .select(col("cid"), col("label"),
        zip_with(col("eq"), col("__c"), (x, c) => x - c).as("ce"))
    val initBooks = init.getOrElse(
      cellVectors(lloydMeans(resid.select(pmod(col("cid"), lit(nCodewords)).cast("long")
        .as("label"), posexplode(col("ce")).as(Seq("pos", "v"))))))
    val byCode =
      if (refineRounds == 0) initBooks
      else refineBooksQ(resid.select(col("cid"), col("ce")), initBooks, m, dim,
        refineRounds)
    val codes = PqCodec(byCode, m, dim).encode(resid)
      .join(eq.select(col("cid"), col("label")), "cid")
    (cent, byCode, codes)
  }

  /** Residual IVFPQ serving: the [[serveAdc]] body with the PQ codec
    * over residual codes. approx(q, x) = dot(q, c_label(x)) + Σ_s
    * LUT_s[code_s(x)] — the FAISS ADC decomposition, all exact
    * integers. */
  def ivfPqResidualTopK(cent: DataFrame, byCode: Map[Long, IndexedSeq[Long]],
                        codes: DataFrame, store: DataFrame, queries: DataFrame,
                        qId: String, embCol: String, k: Int, m: Int = 4,
                        dim: Int = 64, coarse: Int = 20,
                        nprobe: Int = 1): DataFrame =
    serveAdc(PqCodec(byCode, m, dim), codes, store, queries, qId, embCol, k,
      coarse, Some(Probe(cent, nprobe, residual = true)))
}
