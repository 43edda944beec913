package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-language-model tokenizer training (Kudo, ACL 2018 — the
  * SentencePiece unigram algorithm; public method): the OTHER subword
  * tokenizer family next to [[Bpe]]. Where BPE grows a vocabulary
  * bottom-up by greedy merges, unigram starts from a large seed of
  * candidate pieces and alternates (E) segmenting the corpus by the
  * current piece log-probabilities with (M) re-estimating counts from
  * the segmentation, pruning pieces that lose support.
  *
  * This is the HARD-EM (Viterbi) variant with a pinned total order,
  * so training is bit-reproducible and oracle-replayable (the kmeans/
  * quality-LR unrolled-round discipline):
  *  - counts are exact Long sums; the only transcendental is ONE
  *    quantization per piece per round, logp_micro =
  *    floor(1e6 · ln(count / total)) (empirically bit-identical
  *    between JVM `Math.log` and DuckDB `ln` across the count space —
  *    the [[Curate.qualityLrTrain]] floor'd-sigmoid precedent);
  *  - the Viterbi DP breaks ties by (score desc, piece-count asc,
  *    UTF-8-byte segmentation-string asc) — a total order both Spark
  *    (binary UTF8String comparison) and DuckDB (binary collation)
  *    implement natively, so the distributed E-step, the driver-local
  *    trainer and the SQL replay pick the SAME segmentation always.
  *
  * The scale shape mirrors BPE's: ONE corpus-scale aggregation (the
  * chunked word-frequency table), after which every EM round runs at
  * VOCAB scale — the driver-local trainer collects the ~10M-row word
  * table once (the [[Bpe.trainMergesLocal]] convention) and each
  * round is an in-memory Viterbi sweep; corpus ENCODING segments the
  * DISTINCT words distributed (a bounded [[MaxWordLen]]-step DP of
  * vocab-scale joins) and broadcast-joins the token stream once.
  *
  * Words longer than [[MaxWordLen]] characters are pre-split into
  * MaxWordLen-char chunks (SentencePiece's max-length discipline
  * applied at the word level) so the DP depth — and the oracle's
  * unrolled CTE chain — is a constant, not a data-dependent bound.
  */
object Unigram {

  /** DP depth bound: words chunk into slices of this many chars. */
  val MaxWordLen = 16

  /** floor(1e6 · ln(c / total)) — the per-piece score quantization. */
  def microLn(c: Long, total: Long): Long =
    math.floor(1000000.0 * math.log(c.toDouble / total.toDouble)).toLong

  /** Split one word into [[MaxWordLen]]-char chunks (column face). */
  def chunks(w: Column): Column =
    transform(sequence(lit(0), ((length(w) - 1) / MaxWordLen).cast("int")),
      i => substring(w, (i * MaxWordLen + 1).cast("int"), lit(MaxWordLen)))

  /** ONE corpus pass: frequency table of chunked lowercased words. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.words(col(textCol))).as("w0"))
      .filter(length(col("w0")) > 0)
      .select(explode(chunks(col("w0"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Driver-local Viterbi over one word: the segmentation maximizing
    * Σ score, ties to fewer pieces, then the UTF-8-smallest
    * space-joined piece string (total order shared with the
    * distributed [[segmentWords]] and the SQL oracle). Every single
    * character is guaranteed present in `scores` (seeded from all
    * words, never pruned), so the DP is always feasible. */
  private[graft] def viterbi(w: String, scores: collection.Map[String, Long],
                           maxPieceLen: Int): Seq[String] = {
    case class St(sc: Long, np: Int, seg: Vector[String]) {
      lazy val key: String = seg.mkString(" ")
    }
    val best = new Array[St](w.length + 1)
    best(0) = St(0L, 0, Vector.empty)
    var j = 1
    while (j <= w.length) {
      var cur: St = null
      var l = 1
      while (l <= math.min(maxPieceLen, j)) {
        val piece = w.substring(j - l, j)
        scores.get(piece).foreach { s =>
          val prev = best(j - l)
          if (prev != null) {
            val cand = St(prev.sc + s, prev.np + 1, prev.seg :+ piece)
            if (cur == null || cand.sc > cur.sc ||
              (cand.sc == cur.sc && (cand.np < cur.np ||
                (cand.np == cur.np && Text.utf8Lt(cand.key, cur.key)))))
              cur = cand
          }
        }
        l += 1
      }
      best(j) = cur
      j += 1
    }
    require(best(w.length) != null,
      s"unigram viterbi: no segmentation for '$w' — a character is " +
        "missing from the piece table (chars must never be pruned)")
    best(w.length).seg
  }

  /** Top-`kBest` DISTINCT segmentations of one word by the pinned
    * total order (score desc, piece-count asc, UTF-8 seg-string asc)
    * — the exact k-best Viterbi: scores are additive, so keeping the
    * k best states per position yields the global k best (a
    * suboptimal prefix can never enter the top k at the end), and two
    * different paths always differ in their seg string, so no dedup
    * is needed. `kBest` = 1 degenerates to [[viterbi]]. */
  private[graft] def viterbiTopK(w: String,
                                 scores: collection.Map[String, Long],
                                 maxPieceLen: Int,
                                 kBest: Int): Seq[Seq[String]] = {
    case class St(sc: Long, np: Int, seg: Vector[String]) {
      lazy val key: String = seg.mkString(" ")
    }
    def before(a: St, b: St): Boolean =
      a.sc > b.sc || (a.sc == b.sc && (a.np < b.np ||
        (a.np == b.np && Text.utf8Lt(a.key, b.key))))
    val best = Array.fill(w.length + 1)(Vector.empty[St])
    best(0) = Vector(St(0L, 0, Vector.empty))
    var j = 1
    while (j <= w.length) {
      val cands = Vector.newBuilder[St]
      var l = 1
      while (l <= math.min(maxPieceLen, j)) {
        val piece = w.substring(j - l, j)
        scores.get(piece).foreach { s =>
          best(j - l).foreach(prev =>
            cands += St(prev.sc + s, prev.np + 1, prev.seg :+ piece))
        }
        l += 1
      }
      best(j) = cands.result().sortWith(before).take(kBest)
      j += 1
    }
    require(best(w.length).nonEmpty,
      s"unigram viterbiTopK: no segmentation for '$w'")
    best(w.length).map(_.seg)
  }

  /** Train `rounds` hard-EM rounds over the collected word table and
    * return the final piece table (piece, count, logp_micro) in UTF-8
    * piece order. Seed: every single character (kept forever — the
    * coverage guarantee) plus the `seedSize` highest-count substrings
    * of length 2..`maxPieceLen` with count ≥ `minCount` (ties broken
    * UTF-8-ascending — the pinned (count desc, piece asc) order).
    * Each round: score pieces from counts, Viterbi-segment every
    * distinct word, re-count pieces from the chosen segmentations
    * weighted by word frequency, then prune multi-char pieces below
    * `minCount` and floor each character's count at 1 (ln(0) guard —
    * the add-one face of SentencePiece's required-character set).
    *
    * `kBest` > 1 is the DETERMINISTIC l-best EM (Kudo 2018's n-best
    * approximation of the soft E-step, integer-weighted): each of the
    * word's top-`kBest` segmentations by the pinned total order
    * contributes the full word frequency to its pieces' counts —
    * credit flows to competitive alternatives a pure Viterbi E-step
    * starves, without the soft E-step's order-dependent float sums
    * (true expected counts need exp/log-sum-exp, whose summation
    * order Spark and DuckDB cannot pin — this variant stays exact
    * Long arithmetic, so training remains oracle-replayable). */
  def trainLocal(docs: DataFrame, textCol: String, rounds: Int = 2,
                 maxPieceLen: Int = 4, minCount: Long = 2L,
                 seedSize: Int = 1000, kBest: Int = 1,
                 wordMinFreq: Long = 1L,
                 maxDistinctWords: Long = 50000000L): Seq[(String, Long, Long)] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    require(kBest >= 1, s"kBest must be >= 1, got $kBest")
    require(wordMinFreq >= 1L, s"wordMinFreq must be >= 1, got $wordMinFreq")
    // The driver-local collect is the documented trainMergesLocal
    // convention: DISTINCT-chunked-word scale, fine for a curated
    // training slice. Raw web text breaks the convention — its
    // distinct-word set grows with the corpus (typos, ids, junk), so
    // the guard is twofold and costs NO extra pass: `wordMinFreq` is
    // a frequency floor pushed INTO the distributed aggregation
    // (singleton junk words never reach the driver; at 1, a no-op
    // preserving every committed training's output bit-for-bit), and
    // `maxDistinctWords` bounds the DRIVER TRANSFER itself — the
    // collect runs under a cap+1 limit, so an over-cap table fails
    // loudly at the capacity line instead of OOMing mid-collect (a
    // separate count() probe would re-run the whole aggregation).
    // Collected order is free to vary: every consumer below is
    // order-independent (summed accumulations; explicit sorts).
    val lim = math.min(maxDistinctWords, (Int.MaxValue - 2).toLong).toInt
    val wf: Array[(String, Long)] = wordFreq(docs, textCol)
      .filter(col("freq") >= wordMinFreq)
      .select(col("w"), col("freq"))
      .limit(lim + 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(wf.length <= lim,
      s"unigram trainLocal: over $lim distinct words exceed " +
        s"maxDistinctWords=$maxDistinctWords — raise wordMinFreq (the " +
        "pre-collect frequency floor) or train on a curated slice; " +
        "collecting this table would exhaust the driver")
    val sub = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- wf; l <- 1 to math.min(maxPieceLen, w.length);
         i <- 0 to w.length - l)
      sub.update(w.substring(i, i + l), sub.getOrElse(w.substring(i, i + l), 0L) + f)
    val chars = sub.iterator.filter(_._1.length == 1).toMap
    val multi = sub.iterator.filter(p => p._1.length > 1 && p._2 >= minCount)
      .toSeq
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && Text.utf8Lt(a._1, b._1)))
      .take(seedSize)
    var counts: Map[String, Long] = chars ++ multi
    for (_ <- 1 to rounds) {
      val total = counts.valuesIterator.sum
      val scores = counts.map { case (p, c) => p -> microLn(c, total) }
      val raw = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- wf;
           seg <- (if (kBest == 1) Seq(viterbi(w, scores, maxPieceLen))
                   else viterbiTopK(w, scores, maxPieceLen, kBest));
           p <- seg)
        raw.update(p, raw.getOrElse(p, 0L) + f)
      counts = counts.iterator.flatMap { case (p, _) =>
        if (p.length == 1) Some(p -> math.max(raw.getOrElse(p, 0L), 1L))
        else raw.get(p).filter(_ >= minCount).map(p -> _)
      }.toMap
    }
    val total = counts.valuesIterator.sum
    counts.toSeq.sortWith((a, b) => Text.utf8Lt(a._1, b._1))
      .map { case (p, c) => (p, c, microLn(c, total)) }
  }

  /** [[trainLocal]] with the corpus-vocabulary collect REMOVED — the
    * raw-web-scale trainer. Bit-identical to `trainLocal(kBest = 1)`
    * (differential-spec'd, and the registered query shares the same
    * fully-unrolled SQL oracle): the same seed, the same hard-EM
    * rounds, the same micro-ln quantization and total orders — but
    * every corpus-vocabulary-scale step stays distributed:
    *
    *  - the SEED substring counts are one explode + hash agg over the
    *    distinct-chunk table (overlapping occurrences each count, the
    *    driver loop's semantics), with the multi-piece seed selected
    *    by a global TakeOrdered (count desc, UTF-8 asc — Spark's
    *    binary string order IS Text.utf8Lt) capped at `seedSize`;
    *  - each EM round's E-step segments every distinct chunk with the
    *    DISTRIBUTED bounded-depth Viterbi ([[segmentWords]], already
    *    spec'd equal to the driver DP's total order) and re-counts
    *    pieces via explode + weighted hash agg.
    *
    * What the driver holds is bounded by the VOCAB BUDGET, never the
    * corpus: the charset, the ≤ `seedSize` multi-piece seed, and one
    * ≤ |pieces|-row count table per round. `kBest` > 1 (the l-best
    * E-step) stays driver-local by design — the top-k DP is not
    * distributed; use [[trainLocal]] for it on a curated slice.
    *
    * Cost shape: `rounds` distributed DP passes over distinct chunks
    * (each the encode DP's cost) instead of one driver loop — the
    * price of unbounded vocabulary. At fixture scale prefer
    * [[trainLocal]]; at raw-web scale this is the only trainer that
    * finishes. */
  def trainDistributed(docs: DataFrame, textCol: String, rounds: Int = 2,
                       maxPieceLen: Int = 4, minCount: Long = 2L,
                       seedSize: Int = 1000,
                       wordMinFreq: Long = 1L): Seq[(String, Long, Long)] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    require(wordMinFreq >= 1L, s"wordMinFreq must be >= 1, got $wordMinFreq")
    val wf = wordFreq(docs, textCol)
      .filter(col("freq") >= wordMinFreq)
      .localCheckpoint(false) // reused by the seed + every round
    // seed: every substring occurrence of every (chunked) word,
    // weighted by word frequency — one explode + one agg
    val subs = wf.select(col("freq"), explode(flatten(
        transform(sequence(lit(1), least(lit(maxPieceLen), length(col("w")))),
          l => transform(sequence(lit(1), length(col("w")) - l + 1),
            i => col("w").substr(i, l)))))
        .as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("c"))
      .localCheckpoint(false) // two consumers below
    val chars: Map[String, Long] = subs.filter(length(col("p")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val multi: Seq[(String, Long)] = subs
      .filter(length(col("p")) > 1 && col("c") >= minCount)
      .orderBy(col("c").desc, col("p").asc)
      .limit(seedSize)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    var counts: Map[String, Long] = chars ++ multi
    for (_ <- 1 to rounds) {
      val total = counts.valuesIterator.sum
      val scores = counts.iterator
        .map { case (p, c) => (p, microLn(c, total)) }.toSeq
      val raw: Map[String, Long] =
        segmentWords(wf.select(col("w")), scores, maxPieceLen)
          .join(wf, Seq("w"))
          .select(col("freq"), explode(col("pieces")).as("p"))
          .groupBy(col("p")).agg(sum(col("freq")).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts = counts.iterator.flatMap { case (p, _) =>
        if (p.length == 1) Some(p -> math.max(raw.getOrElse(p, 0L), 1L))
        else raw.get(p).filter(_ >= minCount).map(p -> _)
      }.toMap
    }
    val total = counts.valuesIterator.sum
    counts.toSeq.sortWith((a, b) => Text.utf8Lt(a._1, b._1))
      .map { case (p, c) => (p, c, microLn(c, total)) }
  }

  /** Best Viterbi SCORE of `w` under `scores` (ties don't change the
    * max, so no tie-break is needed). With `excludeWhole` the DP may
    * not use the single piece spanning all of `w` — the prune rule's
    * "segment p without p" question; proper substrings can never
    * equal `w`, so excluding the full-span candidate IS excluding the
    * piece. Always feasible: single characters are never pruned. */
  private[graft] def viterbiBestScore(w: String,
                                      scores: collection.Map[String, Long],
                                      maxPieceLen: Int,
                                      excludeWhole: Boolean = false): Long = {
    val NoPath = Long.MinValue
    val dp = Array.fill(w.length + 1)(NoPath)
    dp(0) = 0L
    var j = 1
    while (j <= w.length) {
      var l = 1
      while (l <= math.min(maxPieceLen, j)) {
        val piece = w.substring(j - l, j)
        if (!(excludeWhole && piece == w) && dp(j - l) != NoPath)
          scores.get(piece).foreach { s =>
            if (dp(j - l) + s > dp(j)) dp(j) = dp(j - l) + s
          }
        l += 1
      }
      j += 1
    }
    require(dp(w.length) != NoPath,
      s"unigram viterbiBestScore: no segmentation for '$w'")
    dp(w.length)
  }

  /** SentencePiece's vocabSize-targeted prune (Kudo 2018's prune
    * step, the ACTUAL SentencePiece rule, in the hard-EM micro-nat
    * discipline): a multi-char piece's LOSS is the exact likelihood
    * drop if it were removed and each of its occurrences re-segmented
    * by the REMAINING pieces — cnt · (own score − best alternative
    * segmentation score of the piece's own string), all Long
    * micro-nat arithmetic, so the ranking is bit-reproducible and
    * oracle-replayable. Keeps every single character (the
    * required-character set — chars are never pruned) plus the top
    * (vocabSize − #chars) multi-char pieces by (loss desc, cnt desc,
    * piece UTF-8 asc), then re-quantizes logp over the kept counts.
    * Returns (piece, cnt, loss_micro — None for chars, logp_micro) in
    * UTF-8 piece order. Driver-local at vocab scale, like the trainer
    * it follows: the alt-segmentation DP runs once per multi-char
    * piece over its own ≤ maxPieceLen characters. */
  def pruneToVocab(pieces: Seq[(String, Long, Long)], vocabSize: Int,
                   maxPieceLen: Int = 4): Seq[(String, Long, Option[Long], Long)] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val scores = pieces.iterator.map(p => (p._1, p._3)).toMap
    val chars = pieces.filter(_._1.length == 1)
    val multi = pieces.filter(_._1.length > 1).map { case (p, c, s) =>
      val alt = viterbiBestScore(p, scores, maxPieceLen, excludeWhole = true)
      (p, c, c * (s - alt))
    }
    val kept = multi.sortWith((a, b) => a._3 > b._3 || (a._3 == b._3 &&
        (a._2 > b._2 || (a._2 == b._2 && Text.utf8Lt(a._1, b._1)))))
      .take(math.max(0, vocabSize - chars.size))
    val all = chars.map(c => (c._1, c._2, None: Option[Long])) ++
      kept.map(m => (m._1, m._2, Some(m._3)))
    val total = all.iterator.map(_._2).sum
    all.sortWith((a, b) => Text.utf8Lt(a._1, b._1))
      .map { case (p, c, lo) => (p, c, lo, microLn(c, total)) }
  }

  /** Distributed Viterbi over a DISTINCT-chunk frame (`w` column) —
    * ONE PASS: each chunk's candidate substrings (≤ len·maxPieceLen ≤
    * 64 rows) explode once, score against the broadcast piece table,
    * fold back to a per-chunk piece→score map (one hash agg, the only
    * shuffle), and the whole bounded-depth DP then runs as a single
    * per-row `aggregate` expression over that map — best state per
    * position by the pinned total order (score desc, piece-count asc,
    * UTF-8 seg-string asc; Spark string comparison IS byte order).
    * Returns (w, pieces array); a chunk with no feasible segmentation
    * drops, matching the old join semantics. Nothing corpus-scale:
    * the caller segments distinct chunks once and joins the token
    * stream.
    *
    * This replaces the previous [[MaxWordLen]]-step chain of
    * vocab-scale joins — per step: up to `maxPieceLen` joins, a
    * row_number window (a shuffle) and an eager localCheckpoint —
    * i.e. ~16 sequential shuffle+materialize barriers per encode,
    * pure fixed overhead at fixture scale and a 16-deep shuffle chain
    * at corpus scale, for a DP whose state is one row per chunk. The
    * per-row expression is differential-spec'd bit-identical to the
    * driver [[viterbi]] (UnigramSpec), exactly as the join chain
    * was. */
  def segmentWords(words: DataFrame, scores: Seq[(String, Long)],
                   maxPieceLen: Int = 4): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val p = broadcast(scores.toDF("piece", "__s"))
    // the documented hard bound, enforced in code rather than by
    // caller convention: a chunk violating the chunker's length
    // contract was silently DROPPED by the old maxLen-capped join
    // chain (null final state); the per-row DP would instead segment
    // it at O(len²) string-concat cost — restore the old drop
    val words0 = words.filter(length(col("w")) <= MaxWordLen)
    // every distinct (start, len ≤ maxPieceLen) substring per chunk,
    // deduped per chunk so map_from_entries sees unique keys
    val subs = words0.select(col("w"), explode(array_distinct(flatten(
        transform(sequence(lit(1), least(lit(maxPieceLen), length(col("w")))),
          l => transform(sequence(lit(1), length(col("w")) - l + 1),
            i => col("w").substr(i, l)))))).as("piece"))
    val maps = subs.join(p, Seq("piece"))
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("piece"), col("__s"))))
        .as("__m"))
    // DP: acc(i) = best state ending at position i−1 (1-based array,
    // acc(1) = the empty base state), appended one position per step;
    // a dead position is a NULL state that later steps skip (a longer
    // piece can bridge it — the old frontier-join semantics).
    val base = array(struct(lit(0L).as("sc"), lit(0).as("np"),
      lit("").as("seg")))
    val cmp = (x: Column, y: Column) =>
      when(x.getField("sc") > y.getField("sc"), -1)
        .when(x.getField("sc") < y.getField("sc"), 1)
        .when(x.getField("np") < y.getField("np"), -1)
        .when(x.getField("np") > y.getField("np"), 1)
        .when(x.getField("seg") < y.getField("seg"), -1)
        .otherwise(1)
    val segCol = aggregate(
      sequence(lit(1), length(col("w"))),
      base,
      (acc, j) => {
        val cands = filter(
          transform(sequence(lit(1), least(lit(maxPieceLen), j)), l => {
            val piece = col("w").substr(j - l + lit(1), l)
            val prev = element_at(acc, (j - l + lit(1)).cast("int"))
            val s = try_element_at(col("__m"), piece)
            struct((prev.getField("sc") + s).as("sc"),
              (prev.getField("np") + lit(1)).as("np"),
              when(prev.getField("seg") === "", piece)
                .otherwise(concat(prev.getField("seg"), lit(" "), piece))
                .as("seg"))
          }),
          c => c.getField("sc").isNotNull)
        concat(acc, array(try_element_at(array_sort(cands, cmp), lit(1))))
      },
      acc => element_at(acc, -1).getField("seg"))
    maps.select(col("w"), segCol.as("__seg"))
      .filter(col("__seg").isNotNull)
      .select(col("w"), split(col("__seg"), " ").as("pieces"))
  }

  /** Per-document unigram token counts (the [[Bpe.tokenCounts]]
    * shape): the Viterbi piece count of each DISTINCT word — summed
    * over its chunks — joined to the per-doc word-frequency table, so
    * the corpus-scale work is one tokenize + one vocab join; the DP
    * runs once per distinct chunk. Documents with no tokens report
    * 0. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  pieces: Seq[(String, Long, Long)],
                  maxPieceLen: Int = 4): DataFrame = {
    val dw = docs.select(col(idCol),
        explode(filter(Text.words(col(textCol)), w => length(w) > 0))
          .as("w0"))
      .groupBy(col(idCol), col("w0")).agg(count(lit(1)).as("__c"))
    val distinctW0 = dw.select(col("w0")).distinct().localCheckpoint(false)
    val segs = segmentWords(
      distinctW0.select(explode(chunks(col("w0"))).as("w")).distinct(),
      pieces.map(p => (p._1, p._3)), maxPieceLen)
    val wLen = distinctW0
      .select(col("w0"), explode(chunks(col("w0"))).as("w"))
      .join(segs, Seq("w"))
      .groupBy(col("w0"))
      .agg(sum(size(col("pieces"))).cast("long").as("__n"))
    val counted = dw.join(wLen, Seq("w0"))
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("__n")).as("n_unigram_tokens"))
    docs.select(col(idCol)).join(counted, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_unigram_tokens"), lit(0L)).as("n_unigram_tokens"))
  }

  /** Persist a trained unigram tokenizer (the [[Bpe.persistTokenizer]]
    * convention): train, then publish the piece table in the store's
    * locked replace window. Returns the trained pieces for immediate
    * use. */
  def persistTokenizer(docs: DataFrame, textCol: String, path: String,
                       rounds: Int = 2, maxPieceLen: Int = 4,
                       minCount: Long = 2L,
                       seedSize: Int = 1000): Seq[(String, Long, Long)] = {
    val pieces = trainLocal(docs, textCol, rounds, maxPieceLen, minCount,
      seedSize)
    persistPieces(docs.sparkSession, pieces, path)
    pieces
  }

  /** Publish an ALREADY-TRAINED piece table in the store's locked
    * replace window ([[graft.io.Tables.replacePublish]]) — the
    * [[persistTokenizer]] store layer without the training pass, for a
    * caller holding a shared/memoized training. */
  def persistPieces(spark: org.apache.spark.sql.SparkSession,
                    pieces: Seq[(String, Long, Long)], path: String): Unit = {
    import spark.implicits._
    graft.io.Tables.replacePublish(spark, s"$path/unigram") {
      pieces.toDF("piece", "cnt", "logp_micro")
    }
  }

  /** Reload a persisted unigram tokenizer in UTF-8 piece order (the
    * id-assignment order, so reload-then-encode is bit-identical to
    * train-then-encode). Bounded collect: |pieces| rows. */
  def readTokenizer(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[(String, Long, Long)] = {
    val rows = spark.read.parquet(s"$path/unigram").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(rows.nonEmpty, s"readTokenizer: no piece rows at $path/unigram")
    rows.sortWith((a, b) => Text.utf8Lt(a._1, b._1)).toSeq
  }

  /** Sentinel score for characters ABSENT from a frozen tokenizer's
    * piece table: far below any path through known pieces (a real
    * piece scores ≳ −1e6·ln(total) ≈ −10⁸ micro-nats; 16 of these per
    * chunk stay above −10¹⁰), yet safe to sum across a whole chunk
    * without overflow. The unknown char is the ONLY piece covering
    * its position, so it appears in every feasible path — the penalty
    * never changes which segmentation wins AMONG equals, only keeps
    * the DP feasible. */
  val UnkPieceScore: Long = -1000000000000L

  /** Encode a corpus with a trained piece table: tokenize, chunk
    * overlong words, segment the DISTINCT chunks ([[segmentWords]]),
    * reassemble multi-chunk words in chunk order (vocab-scale agg),
    * then ONE corpus-scale join + posexplode + broadcast id join.
    * Output shape matches [[Bpe.encode]]: (idCol, word_pos, sym_pos,
    * token_id), 0-based positions, dense 1-based ids in UTF-8 piece
    * order, UNK = 0 for pieces absent from the id table.
    *
    * FROZEN-tokenizer serving: characters the training corpus never
    * produced are added to the DP's score table at [[UnkPieceScore]]
    * (never to the id table — they emit token_id 0, the
    * [[Bpe.encodeWith]] UNK convention). Without this the chunk's DP
    * has no path across the unseen char and the segmentation inner
    * joins would silently DROP the word (or worse, a multi-chunk
    * word's other chunks would survive — partial content), instead of
    * marking the stream position UNK like every deployed tokenizer. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             pieces: Seq[(String, Long, Long)],
             maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ids = pieces.map(_._1).zipWithIndex.map { case (p, i) => (p, i + 1L) }
    val idTable = broadcast(ids.toDF("piece", "token_id"))
    pieceStream(docs, idCol, textCol, pieces, maxPieceLen)
      .join(idTable, Seq("piece"), "left")
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        col("sym_pos").cast("long").as("sym_pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  /** The shared encode pipeline: the corpus's ordered PIECE stream
    * (idCol, word_pos, sym_pos, piece) before id assignment — unseen
    * characters surface as their own single-char pieces (the
    * [[UnkPieceScore]] contract), so consumers choose the id policy:
    * UNK 0 ([[encode]]) or byte expansion ([[encodeFallback]]). */
  private def pieceStream(docs: DataFrame, idCol: String, textCol: String,
                          pieces: Seq[(String, Long, Long)],
                          maxPieceLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(col(idCol),
      posexplode(filter(Text.words(col(textCol)), w => length(w) > 0))
        .as(Seq("word_pos", "w0")))
    val distinctW0 = tok.select(col("w0")).distinct().localCheckpoint(false)
    val distinctChunks = distinctW0
      .select(explode(chunks(col("w0"))).as("w")).distinct()
      .localCheckpoint(false)
    // alphabet-scale collect: the corpus's distinct characters not in
    // the piece table become UNK-scored single-char pieces
    val known = pieces.iterator.map(_._1).toSet
    val missing = distinctChunks
      .select(explode(split(col("w"), "")).as("c")).distinct()
      .as[String].collect().filter(c => c.nonEmpty && !known.contains(c))
    val scores = pieces.map(p => (p._1, p._3)) ++
      missing.sorted.map(c => (c, UnkPieceScore))
    val segs = segmentWords(distinctChunks, scores, maxPieceLen)
    // multi-chunk words: concatenate their chunks' segmentations in
    // chunk order — a vocab-scale agg, so the corpus join below is
    // one lookup per word occurrence regardless of length
    val w0Segs = distinctW0
      .select(col("w0"), posexplode(chunks(col("w0"))).as(Seq("ci", "w")))
      .join(segs, Seq("w"))
      .groupBy(col("w0"))
      .agg(flatten(array_sort(collect_list(struct(col("ci"), col("pieces"))))
        .getField("pieces")).as("pieces"))
      .localCheckpoint(false)
    tok.join(w0Segs, Seq("w0"))
      .select(col(idCol), col("word_pos"),
        posexplode(col("pieces")).as(Seq("sym_pos", "piece")))
  }

  /** Byte-fallback id layout in the SentencePiece STYLE (the
    * [[Bpe.symbolIdsFallback]] convention): 256 reserved `<0xNN>`
    * byte tokens (ids 1..256), then the specials, then the learned
    * pieces in their UTF-8 training order — so every id below the
    * learned range is environment-independent and a piece table can
    * grow without renumbering the bytes. */
  def symbolIdsFallback(pieces: Seq[(String, Long, Long)],
                        specials: Seq[String] = Bpe.Specials): Seq[(String, Long)] = {
    val learned = pieces.map(_._1)
    val reserved = (0 until 256).map(Bpe.byteToken) ++ specials
    val clash = learned.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"symbolIdsFallback: learned pieces collide with reserved token " +
        s"names: ${clash.mkString(", ")}")
    (reserved ++ learned).zipWithIndex
      .map { case (s, i) => (s, (i + 1).toLong) }
  }

  /** Byte-fallback encode (SentencePiece's `byte_fallback`, the
    * [[Bpe.encodeFallback]] shape): pieces absent from the id table —
    * under this layout exactly the unseen single characters — expand
    * into their UTF-8 byte tokens instead of collapsing to UNK, so
    * serving a frozen tokenizer against a drifted corpus loses ZERO
    * information. Output (idCol, word_pos, sym_pos, fb_pos, token_id):
    * known pieces carry one row at fb_pos 0; an unseen piece carries
    * one row per UTF-8 byte. */
  def encodeFallback(docs: DataFrame, idCol: String, textCol: String,
                     pieces: Seq[(String, Long, Long)],
                     ids: Seq[(String, Long)],
                     maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idTable = broadcast(ids.toDF("piece", "token_id"))
    val bin = org.apache.spark.sql.functions.encode(col("piece"), "UTF-8")
    val byteNames = transform(sequence(lit(1), length(bin)),
      i => concat(lit("<0x"), hex(substring(bin, i, lit(1))), lit(">")))
    pieceStream(docs, idCol, textCol, pieces, maxPieceLen)
      .join(idTable, Seq("piece"), "left")
      .select(col(idCol), col("word_pos"), col("sym_pos"),
        posexplode(when(col("token_id").isNotNull, array(col("piece")))
          .otherwise(byteNames)).as(Seq("fb_pos", "part")))
      .join(idTable.withColumnRenamed("piece", "part"), Seq("part"), "left")
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        col("sym_pos").cast("long").as("sym_pos"),
        col("fb_pos").cast("long").as("fb_pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }
}
