package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Corpus-curation operators a training-data pipeline runs between
  * cleaning and tokenization: sequence packing, importance-weighted
  * sampling, token-budget selection, corpus mixture balancing,
  * leakage-free splits, and sliding-window chunking. All decisions are
  * pure functions of the row (md5-derived hashes, literal constants),
  * so reruns, retries and incremental loads agree — and a DuckDB
  * oracle can replay every computation exactly.
  *
  * Scale notes (100 TB):
  *  - packSequences windows PARTITION BY shard — parallelism scales
  *    with the shard count (at scale the shard key is the output
  *    file/shard id), never a single global sort.
  *  - importanceSample and chunkSliding are pure map-side expressions
  *    (filter / explode) — no exchange at all.
  *  - selectByTokenBudget replaces the naive global ordered cumsum
  *    (single-reducer) with two bounded driver collects + pushed
  *    filters + one bucket-sized window.
  *  - leakFreeSplit is one equi-join against the (small) components
  *    frame plus a map-side hash projection.
  *  - mixCorpus is one bounded driver collect (per-source totals) plus
  *    a broadcast rate join and a map-side filter.
  */
object Curate {

  /** Gopher's within-document repetition battery (Rae et al. 2021,
    * Table A1 — the filters MassiveWeb runs BEFORE any model-based
    * quality score): per document, exact per-mille
    *  - `dup_line_pm` / `dup_line_char_pm`: line occurrences beyond
    *    the first of each distinct line, by count and by characters
    *    (lines split on newline, raw line length);
    *  - `top{2,3,4}_char_pm`: characters covered by the single most
    *    frequent word n-gram — occurrences × the gram's word
    *    characters over the document's word characters (ties to the
    *    lexicographically smallest gram, pinned; overlapping
    *    occurrences count per occurrence, the paper's formula, so
    *    values past 1000 are possible for a degenerate doc);
    *  - `dup{5..10}_char_pm`: characters in word POSITIONS covered by
    *    at least one n-gram that occurs ≥ 2 times in the document
    *    (coverage union — overlap counts once, per the paper's
    *    footnote).
    * All integer arithmetic (counts, word lengths, `x·1000 div y`),
    * NULL per-milles for a denominator of 0. Every aggregation is
    * keyed by the document (or doc+gram), so the whole battery
    * partitions by doc and nothing cross-document ever shuffles. */
  def gopherRepetition(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    // ONE native pass per row (graft.expr.kernels.GopherRepKernel):
    // every statistic in the battery is within-document, so the whole
    // thing is a scan-stage projection with ZERO exchanges — the
    // explode+window+join formulation below
    // ([[gopherRepetitionFrames]], kept as the bit-equality
    // differential anchor, NativeExprSpec + CurateSpec) paid ~9
    // exchanges + a checkpoint per call. NULL text → the all-NULL row
    // the frame version's left joins produced.
    val fields = Seq("n_chars", "dup_line_pm", "dup_line_char_pm") ++
      (2 to 4).map(n => s"top${n}_char_pm") ++
      (5 to 10).map(n => s"dup${n}_char_pm")
    docs.select(col(idCol),
        graft.expr.kernels.NativeFns.gopherRep(col(textCol)).as("__g"))
      .select(col(idCol) +: fields.zipWithIndex.map { case (f, i) =>
        element_at(col("__g"), i + 1).as(f) }: _*)
  }

  /** The explode+window+join formulation of [[gopherRepetition]] —
    * retained as the differential anchor the one-pass kernel is
    * bit-equality-tested against (and as the reference spelling of the
    * battery's semantics). */
  private[graft] def gopherRepetitionFrames(docs: DataFrame, idCol: String,
                                            textCol: String): DataFrame = {
    // the checkpoint pins ONLY the word arrays: five consumers (nChars,
    // topAgg, occ5, occHi via the semi-join, wl) re-read `__ws`, so the
    // pin saves four re-tokenizations — but the LINE arrays have
    // exactly one consumer (lineAgg), and pinning them alongside the
    // words doubled the checkpoint's storage footprint for nothing
    // (at 100 TB that is corpus-scale block pressure; recompute of one
    // split() is cheaper than storing it).
    // CALL CONTRACT: `docs` must be DETERMINISTIC (a stable read /
    // derived frame — no sample()/limit()/non-stable source): lineAgg
    // recomputes from `docs` while the word stats read the pinned
    // `__ws` checkpoint, so a nondeterministic input could hand the
    // line rules a DIFFERENT row snapshot than the word rules for the
    // same doc_id — internally inconsistent per-doc rows the old
    // single-checkpoint shape made impossible. Every in-repo caller
    // passes a parquet read (or a deterministic projection of one).
    val base = docs.select(col(idCol),
        filter(Text.words(col(textCol)), w => length(w) > 0).as("__ws"))
      .localCheckpoint(false)
    val nChars = base.select(col(idCol),
      aggregate(transform(col("__ws"), w => length(w).cast("long")),
        lit(0L), (a, x) => a + x).as("n_chars"))
    val lineAgg = docs.select(col(idCol),
        explode(split(col(textCol), "\n")).as("__l"))
      .groupBy(col(idCol), col("__l")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__nl"),
        sum(col("__c") - 1).as("__dl"),
        sum(col("__c") * length(col("__l"))).as("__nlc"),
        sum((col("__c") - 1) * length(col("__l"))).as("__dlc"))
    // top-n coverage, n = 2..4, ONE stacked pass (a literal __n
    // column, one agg + one window instead of three subplans): most
    // frequent gram's occurrences × its word chars (gram length minus
    // the n−1 joining spaces)
    val topAgg = {
      val grams = (2 to 4).map(n => base.select(col(idCol),
          lit(n).as("__n"), explode(Text.shingles(col("__ws"), n)).as("__g")))
        .reduce(_ unionByName _)
      val w = Window.partitionBy(col(idCol), col("__n"))
        .orderBy(col("__c").desc, col("__g"))
      val perN = grams.groupBy(col(idCol), col("__n"), col("__g"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      val exprs = (2 to 4).map(n => sum(when(col("__n") === n,
        col("__c") * (length(col("__g")) - (n - 1)))).as(s"__top$n"))
      perN.groupBy(col(idCol)).agg(exprs.head, exprs.tail: _*)
    }
    // dup-n coverage union, n = 5..10, ONE stacked pass: word
    // positions inside any gram occurring ≥ 2 times (per n), summed
    // by their words' lengths
    val dupAgg = {
      // EXACT blast-radius prefilter: a duplicated n-gram (n ≥ 6)
      // contains a duplicated 5-gram at each occurrence, so only
      // documents with at least one duplicate 5-gram can score on the
      // deeper rules — the corpus pays ONE 5-gram pass and only the
      // repetitive minority pays the n = 6..10 exploration (≈ 6× less
      // explode volume on a typical web corpus). Duplicate detection
      // is a WINDOW over each exploded stream — a groupBy + semi-join
      // back would consume the explode (and its interpreted
      // shingle-building HOFs) twice and shuffle twice.
      // the dup windows partition on (…, xxhash64(g), g): the hash is
      // NOT a substitute for the gram (g stays a key — collisions
      // cannot conflate counts), it just leads the sort so the
      // comparator short-circuits on a long instead of walking
      // ~60-byte gram strings (measured ~25% off the gate at 10×)
      val occ5 = base.select(col(idCol), lit(5).as("__n"),
        posexplode(Text.shingles(col("__ws"), 5)).as(Seq("__p", "__g")))
      val w5 = Window.partitionBy(col(idCol), xxhash64(col("__g")), col("__g"))
      val dup5 = occ5.withColumn("__c", count(lit(1)).over(w5))
        .filter(col("__c") >= 2)
        .select(col(idCol), col("__n"), col("__p"))
        .localCheckpoint(false) // duplicated occurrences only — small
      val baseHi = base.join(dup5.select(col(idCol)).distinct(),
        Seq(idCol.toString), "left_semi")
      val occHi = (6 to 10).map(n => baseHi.select(col(idCol),
          lit(n).as("__n"),
          posexplode(Text.shingles(col("__ws"), n)).as(Seq("__p", "__g"))))
        .reduce(_ unionByName _)
      val wq = Window.partitionBy(col(idCol), col("__n"),
        xxhash64(col("__g")), col("__g"))
      val dupHi = occHi.withColumn("__c", count(lit(1)).over(wq))
        .filter(col("__c") >= 2)
        .select(col(idCol), col("__n"), col("__p"))
      val cov = dup5.unionByName(dupHi)
        .select(col(idCol), col("__n"),
          explode(sequence(col("__p"), col("__p") + col("__n") - 1))
            .as("__wp"))
        .distinct()
      val wl = base.select(col(idCol),
        posexplode(col("__ws")).as(Seq("__wp", "__w")))
      val exprs = (5 to 10).map(n => sum(when(col("__n") === n,
        length(col("__w")).cast("long"))).as(s"__dup$n"))
      cov.join(wl, Seq(idCol.toString, "__wp"))
        .groupBy(col(idCol)).agg(exprs.head, exprs.tail: _*)
    }
    val joined = Seq(lineAgg, topAgg, dupAgg)
      .foldLeft(nChars)((acc, f) => acc.join(f, Seq(idCol.toString), "left"))
    // exact integer per-mille: `div`, never double division + floor
    def mille(num: String, den: String): Column =
      when(col(den) > 0L, expr(s"coalesce($num, 0L) * 1000 div $den"))
    joined.select(Seq(col(idCol), col("n_chars"),
      mille("__dl", "__nl").as("dup_line_pm"),
      mille("__dlc", "__nlc").as("dup_line_char_pm")) ++
      (2 to 4).map(n => mille(s"__top$n", "n_chars").as(s"top${n}_char_pm")) ++
      (5 to 10).map(n =>
        mille(s"__dup$n", "n_chars").as(s"dup${n}_char_pm")): _*)
  }

  /** The shared accept rule every sampling operator here uses: a salted
    * md5 of the key, reduced mod `scale`, compared against an integer
    * rate. One definition so the hash contract cannot drift between
    * operators (each oracle interpolates the same literal recipe). */
  private def hashAccept(salt: String, key: Column, rate: Column,
                         scale: Int = 1000): Column =
    Text.md5Hash(concat(lit(salt), key.cast("string"))) % scale < rate

  /** Walk a (key, groupTokens) table in keep order: whole groups that
    * fit the budget stay; the FIRST straddler (strictly-partial only)
    * is the boundary; everything after cannot fit (prefix sums
    * increase — tokens are >= 1 by contract). Called only by
    * [[budgetCut]], the one body of both token-budget selections
    * (CurateSpec's source scan holds that). */
  private def walkBudget(groups: Seq[(Long, Long)], start: Long,
                         budget: Long): (Seq[Long], Option[(Long, Long)]) = {
    var before = start
    val whole = Seq.newBuilder[Long]
    for ((k, gt) <- groups) {
      if (before + gt <= budget) { whole += k; before += gt }
      else return (whole.result(), if (before < budget) Some((k, before)) else None)
    }
    (whole.result(), None)
  }

  /** Above this many groups the grouped selection switches from
    * inlined per-group literal predicates (pushed to the scan — the
    * best plan, but one expression term per group, which at thousands
    * of groups blows up analysis or the Catalyst stack) to a broadcast
    * threshold-table join (O(1) expression size at any group count). */
  private[llm] val LiteralPredicateMaxGroups = 64

  /** Sequence packing — GPT-style concat-and-chunk. Documents are laid
    * end to end in a deterministic hash-shuffled order within each
    * shard (plus one separator token per document, so empty documents
    * still occupy a slot), and the token stream is cut into
    * fixed-`budget` context windows. Emits, per document, the range of
    * packs it lands in: `pack_first`/`pack_last` differ when a document
    * straddles a window boundary. Window is PARTITION BY shard: packing
    * parallelism scales with the shard count, and each shard is an
    * independently reproducible training shard. */
  def packSequences(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", budget: Int = 512,
                    shards: Int = 8): DataFrame =
    // null text still occupies its separator slot (1 token, added by
    // packByTokens), so a null-heavy corpus can't poison the
    // cumulative sums with nulls
    packByTokens(docs.select(col(idCol),
        coalesce(Text.wsTokenCount(col(textCol)), lit(0L)).as("__toks")),
      idCol, "__toks", budget, shards)

  /** [[packSequences]] over PRECOMPUTED per-document token counts —
    * the tokenizer-aware packing stage: train → encode → pack closes
    * with the counts a real tokenizer emits
    * ([[graft.llm.Bpe.tokenCounts]] under trained merges) instead of
    * whitespace counts. Same concat-and-chunk semantics: one
    * separator slot per document (a null/0-token document still
    * occupies it), deterministic hash-shuffled order, fixed-budget
    * windows cut per shard. */
  def packByTokens(counts: DataFrame, idCol: String = "doc_id",
                   tokensCol: String = "tokens", budget: Int = 512,
                   shards: Int = 8): DataFrame =
    packByTokensCum(counts, idCol, tokensCol, budget, shards)
      .select(col(idCol), col("shard"), col("tokens"),
        floor((col("cum") - col("tokens")) / lit(budget.toDouble)).cast(LongType)
          .as("pack_first"),
        floor((col("cum") - lit(1L)) / lit(budget.toDouble)).cast(LongType)
          .as("pack_last"))

  /** The WINDOW-side view of [[packByTokens]] — the sample-mask
    * metadata a training run actually consumes: one row per
    * (shard, pack, document-SEGMENT), with the segment's token offset
    * and length WITHIN its context window. A document straddling a
    * window boundary contributes one segment per window it touches
    * (`sequence(pack_first, pack_last)` — documents are ≪ budget×2
    * windows long in practice, and the explode is bounded by
    * ceil(tokens/budget)+1 either way). Pure integer interval
    * arithmetic off the same cumulative sums as the packer —
    * seg_start = max(doc_start, window_start) − window_start,
    * seg_len = min(doc_end, window_end) − max(doc_start, window_start)
    * — so the two views can never disagree about where a document
    * landed, and Σ seg_len per document = tokens + its separator slot
    * exactly (spec'd). Per (shard, pack) the segments tile [0, budget)
    * with no gaps or overlaps — the attention-mask invariant. */
  def packBoundaries(counts: DataFrame, idCol: String = "doc_id",
                     tokensCol: String = "tokens", budget: Int = 512,
                     shards: Int = 8): DataFrame = {
    val packs = packByTokensCum(counts, idCol, tokensCol, budget, shards)
    val id = col(idCol)
    packs
      .withColumn("pack_id", explode(sequence(
        floor((col("cum") - col("tokens")) / lit(budget.toDouble)).cast(LongType),
        floor((col("cum") - lit(1L)) / lit(budget.toDouble)).cast(LongType))))
      .withColumn("__dstart", col("cum") - col("tokens"))
      .withColumn("__wstart", col("pack_id") * lit(budget.toLong))
      .withColumn("__s", greatest(col("__dstart"), col("__wstart")))
      .withColumn("__e", least(col("cum"),
        col("__wstart") + lit(budget.toLong)))
      .select(col("shard"), col("pack_id"), id,
        (col("__s") - col("__wstart")).as("seg_start"),
        (col("__e") - col("__s")).as("seg_len"))
  }

  /** The packer's shared prelude: deterministic hash-shuffled order
    * and per-shard cumulative token sums (separator slot included) —
    * (idCol, shard, tokens, cum). */
  private def packByTokensCum(counts: DataFrame, idCol: String,
                              tokensCol: String, budget: Int,
                              shards: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    counts.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => ()
      case d => throw new IllegalArgumentException(
        s"packByTokens shards by $idCol % $shards and needs an integral id, got $d — " +
          "derive a numeric id (or hash one) first; a coerced non-numeric id would " +
          "collapse every row into one NULL-shard window partition")
    }
    val id = col(idCol)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__ord"), id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.select(
        id,
        pmod(id, lit(shards.toLong)).as("shard"),
        (coalesce(col(tokensCol), lit(0L)) + lit(1L)).as("tokens"),
        Text.md5Hash(concat(lit("pack:"), id.cast("string"))).as("__ord"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .select(id, col("shard"), col("tokens"), col("cum"))
  }

  /** Importance-weighted Bernoulli sampling: row `r` survives with
    * probability `weight(r)` (clamped to [0, 1] at `scale` resolution),
    * decided by a pure hash of its key — deterministic, exchange-free,
    * and unbiased when downstream sums multiply by the returned
    * `weight` column (Horvitz–Thompson: 1/p for kept rows). The weight
    * expression must be integer-valued per mille (e.g.
    * `least(lit(1000), col("n_chars"))` for length-proportional
    * sampling) so the acceptance test is an EXACT integer compare that
    * any engine replays bit-identically. */
  def importanceSample(df: DataFrame, keyCol: String, weightPerMille: Column,
                       salt: String = "imp:", scale: Int = 1000): DataFrame = {
    require(!df.columns.contains("weight"),
      "importanceSample reserves the weight column name")
    // clamp the weight denominator too: weightPerMille > scale means
    // p = 1 (the filter saturates), so the HT weight must be exactly 1,
    // not scale/weight < 1 — an unclamped weight silently biases every
    // downstream weighted sum low
    val p = least(weightPerMille, lit(scale.toLong)).cast("double")
    df.filter(hashAccept(salt, col(keyCol), weightPerMille, scale))
      .withColumn("weight", lit(scale.toDouble) / p)
  }

  /** Deterministic stratified train/val/test split: each row's
    * destination is a pure function of its id — md5 per-mille (the
    * [[importanceSample]] hash convention) against cumulative
    * fraction boundaries. No RNG state, so the split is stable under
    * reruns AND under corpus growth: a document's label never changes
    * when new data appends (the property a shuffle-then-cut split
    * lacks, and the reason training pipelines split by hash — a
    * drifting split leaks yesterday's train docs into today's test).
    * Every stratum (source, language, …) sees the same thresholds, so
    * per-stratum proportions concentrate at the global fractions
    * without a per-stratum pass — measured per-mille by the
    * llm_split_stratified oracle row. `splits` are (name, per-mille)
    * and must sum to 1000. Pure map-side projection. The md5 % 1000
    * reduction carries a modulo bias of ≤ 5e-7 per bucket (HashP is
    * not a multiple of 1000) — far below any statistical concern, and
    * both engines replay the identical integers regardless. */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Int)],
                salt: String = "split:"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) &&
      splits.map(_._2).sum == 1000,
      s"split fractions must be positive per-milles summing to 1000: $splits")
    require(!df.columns.contains("split"),
      "hashSplit reserves the split column name")
    val pm = pmod(Text.md5Hash(concat(lit(salt), col(idCol).cast("string"))),
      lit(1000L))
    val bounds = splits.map(_._2).scanLeft(0)(_ + _).tail
    val labeled = splits.map(_._1).zip(bounds)
    val splitCol =
      if (labeled.size == 1) lit(labeled.head._1)
      else labeled.dropRight(1)
        .foldLeft(Option.empty[Column]) { case (acc, (name, hi)) =>
          Some(acc.fold(when(pm < hi, lit(name)))(_.when(pm < hi, lit(name))))
        }.get.otherwise(lit(labeled.last._1))
    df.withColumn("split", splitCol)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    * 2006, "Weighted random sampling with a reservoir" — public
    * method): keep the top-`n` rows by priority u^(1/w), u a per-key
    * uniform draw — heavier rows are more likely kept, no row twice,
    * and unlike [[importanceSample]] the output size is EXACTLY n.
    *
    * Deterministic integer-replayable form: u = (h + 0.5)/P from the
    * md5 key hash (one IEEE division of exact integers),
    * lnU_micro = floor(ln(u)·1e6) — ONE floor'd transcendental per row
    * (the lp_micro discipline; u is bounded in [0.5/P, 1) so the value
    * fits far inside a Long) — and priority = (lnU_micro · 1e6) div w.
    * Ranking priority DESC (ties by key) replays the u^(1/w) order
    * through monotone transforms; the micro-nat quantization is part
    * of the sampling design (both engines, and any future engine,
    * compute the identical integer), not an approximation layered on a
    * continuous ideal. Weights must be >= 1 (integer).
    *
    * Scale: a pure map-side priority projection + top-n via
    * TakeOrderedAndProject — no shuffle beyond the limit's single
    * gather of n rows per partition. */
  def weightedSampleTopN(df: DataFrame, keyCol: String, weightCol: String,
                         n: Int, salt: String = "wsr:"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(!df.columns.contains("priority"),
      "weightedSampleTopN reserves the priority column name")
    require(!df.columns.contains("__w"),
      "weightedSampleTopN reserves the __w column name")
    val h = Text.md5Hash(concat(lit(salt), col(keyCol).cast("string")))
    val u = (h.cast("double") + lit(0.5)) / lit(Text.HashP.toDouble)
    val lnu = floor(log(u) * lit(1000000.0)).cast("long")
    // the weight rides along as a reserved internal column so the div
    // never interpolates a user-supplied name into SQL text (backtick
    // names broke the expr form; the col() reference itself is
    // backtick-quoted so a dotted name reads as a NAME, not a struct
    // path), and the >= 1 contract is ENFORCED: a zero weight under
    // the old silent path made div return NULL, which desc-NULLS-LAST
    // sorted the row to the bottom — a silently skewed sample instead
    // of an error
    val w = col("`" + weightCol.replace("`", "``") + "`")
    val guarded = when(w >= 1, w)
      .otherwise(raise_error(concat(
        lit("weightedSampleTopN: weights must be >= 1, got "),
        coalesce(w.cast("string"), lit("NULL")))))
    df.withColumn("__lnu", lnu)
      .withColumn("__w", guarded)
      .withColumn("priority", expr("(__lnu * 1000000) div __w"))
      .drop("__lnu", "__w")
      .orderBy(col("priority").desc, col(keyCol))
      .limit(n)
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * arXiv:2302.03169 — public method): score each document by how
    * much more likely its hashed-unigram bag is under a TARGET
    * distribution (a quality seed corpus, e.g. an encyclopedia slice)
    * than under the source corpus' own distribution — the "select web
    * data that looks like the target" curation primitive. Feature
    * space is `nBuckets` md5 hash buckets; both distributions are
    * add-one smoothed bucket frequencies.
    *
    * Exact-replay discipline: bucket counts are exact integers; each
    * bucket's log-ratio
    *   lr(h) = floor(1e6 * ln( (t_h+1)/(T+B) * (S+B)/(s_h+1) ))
    * is quantized to micro-nats ONCE per bucket (≤ nBuckets floor'd
    * transcendentals, the NgramLm lp_micro discipline; the ratio is a
    * fixed IEEE sequence over exact integers — two divisions, one
    * multiply — never an integer product that could overflow at
    * corpus-scale token totals), and a doc's weight is the exact Long
    * sum of its tokens' lr values — partition-order-independent and
    * engine-replayable. Compose with [[importanceSample]] (shifted to
    * per-mille acceptance) or top-k selection for the full DSIR
    * resample.
    *
    * Output: one row per input doc — (id, n_toks, dsir_micro), empty
    * docs at 0.
    *
    * Scale: each side is tokenized once; the corpus-scale token stream
    * crosses exactly ONE hash exchange (the doc×bucket multiplicity
    * agg — map-side combined); source bucket counts DERIVE from that
    * same aggregate (no second pass), target counts collapse to
    * ≤ nBuckets rows map-side, and the lr table (nBuckets rows)
    * broadcast-joins back — the corpus never shuffles again. */
  def dsirWeights(docs: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 2, s"dsirWeights needs nBuckets >= 2, got $nBuckets")
    val b = lit(nBuckets.toLong)
    def hashed(df: DataFrame, cols: Column*): DataFrame =
      df.select((cols :+ explode(Text.words(col(textCol))).as("__w")): _*)
        .filter(length(col("__w")) > 0)
        .withColumn("__h", Text.md5Hash(col("__w")) % nBuckets)
    // ONE corpus pass: (doc, bucket, multiplicity). Checkpointed —
    // three consumers derive from it (source bucket counts, totals,
    // the per-doc weight join) and Catalyst plans each consumer's
    // subtree independently, so without the cut the corpus would be
    // re-tokenized once per consumer (same contract as buildIvfIndex;
    // the frame is doc×distinct-bucket sized, ≪ the raw text).
    val db = hashed(docs, col(idCol)).groupBy(col(idCol), col("__h"))
      .agg(count(lit(1)).as("__c")).localCheckpoint(false)
    val srcCnt = db.groupBy(col("__h")).agg(sum(col("__c")).as("s_h"))
    // target counts collapse to ≤ nBuckets rows; checkpoint so the
    // target corpus is tokenized once, not once for lr + once for T
    val tgtCnt = hashed(target).groupBy(col("__h")).agg(count(lit(1)).as("t_h"))
      .localCheckpoint(false)
    val totals = srcCnt.agg(sum(col("s_h")).as("__S")).crossJoin(
      tgtCnt.agg(coalesce(sum(col("t_h")), lit(0L)).as("__T")))
    // buckets outside the corpus' own support never receive a token
    // from `db`, so the source bucket set is the full lr domain
    val lr = srcCnt.join(tgtCnt, Seq("__h"), "left")
      .select(col("__h"), col("s_h"), coalesce(col("t_h"), lit(0L)).as("t_h"))
      .crossJoin(broadcast(totals))
      .select(col("__h"),
        floor(log(
          ((col("t_h") + 1L).cast(DoubleType) / (col("__T") + b).cast(DoubleType)) *
            ((col("__S") + b).cast(DoubleType) / (col("s_h") + 1L).cast(DoubleType))
        ) * lit(1000000.0)).cast(LongType).as("lr_micro"))
    val weighted = db.join(broadcast(lr), Seq("__h"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_toks"),
        sum(col("__c") * col("lr_micro")).as("dsir_micro"))
    docs.select(col(idCol)).join(weighted, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("dsir_micro"), lit(0L)).as("dsir_micro"))
  }

  /** Model-based quality classifier — hashed-feature logistic
    * regression, the fastText-recipe filter (Joulin et al. 2016;
    * DCLM/phi-style "train a tiny classifier on a seed set, score the
    * corpus" — public method) trained IN-ENGINE with `steps` unrolled
    * full-batch gradient steps. Features are `nBuckets` md5 hash
    * buckets of lowercased words (the [[dsirWeights]] feature space);
    * weights and bias live in micro fixed point.
    *
    * Exact-replay discipline (one quantization per doc per step, the
    * narrowest transcendental surface): z is an EXACT Long
    * (bias + Σ count·w_micro), the sigmoid is quantized ONCE as
    * p_micro = floor(1e6 / (1 + exp(−z/1e6))), the residual
    * r_micro = y·1e6 − p_micro is exact, per-bucket gradients are
    * exact Long sums Σ count·r_micro (order-independent — no double
    * accumulation anywhere), and the update
    * w += (lrPpm·G) div (1e6·N) is truncating integer division
    * (Spark `div` == DuckDB `//`). Step 1 from zero weights is fully
    * deterministic (p ≡ 500000 exactly).
    *
    * Scale: the LABELED seed is small by construction (thousands of
    * docs — the recipe's point is that labels are scarce); it is
    * tokenized ONCE (checkpointed) and each step is one broadcast
    * join + two bounded aggs, with the ≤ nBuckets gradient rows
    * collected per step (the [[graft.llm.Similarity.kmeansTrain]]
    * driver-loop convention). Scoring the CORPUS is one pass:
    * tokenize, broadcast-join the ≤ nBuckets weight rows, one
    * map-side-combined agg per doc — nothing corpus-scale shuffles
    * twice. Returns (support-bucket weights sorted by bucket, bias),
    * support = every bucket the seed corpus touches. */
  def qualityLrTrain(labeled: DataFrame, idCol: String, textCol: String,
                     labelCol: String, nBuckets: Int = 256, steps: Int = 2,
                     lrPpm: Long = 500000L,
                     bigrams: Boolean = false): (Seq[(Long, Long)], Long) = {
    require(nBuckets >= 2, s"qualityLrTrain needs nBuckets >= 2, got $nBuckets")
    require(steps >= 1, s"qualityLrTrain needs steps >= 1, got $steps")
    require(lrPpm > 0, s"qualityLrTrain needs lrPpm > 0, got $lrPpm")
    val spark = labeled.sparkSession
    import spark.implicits._
    val db = hashBuckets(labeled, idCol, textCol, nBuckets, bigrams)
      .localCheckpoint(false)
    val lab = labeled.select(col(idCol).as("__d"),
        col(labelCol).cast(LongType).as("__y"))
      .localCheckpoint(false)
    val n = lab.count()
    require(n > 0, "qualityLrTrain needs at least one labeled document")
    var bias = 0L
    var w = Map.empty[Long, Long]
    for (_ <- 1 to steps) {
      val wDf = w.toSeq.toDF("__h", "__wm")
      val zw = db.join(broadcast(wDf), Seq("__h"), "left")
        .groupBy(col("__d"))
        .agg(sum(col("__c") * coalesce(col("__wm"), lit(0L))).as("__zw"))
      val rd = lab.join(zw, Seq("__d"), "left")
        .select(col("__d"), col("__y"),
          (lit(bias) + coalesce(col("__zw"), lit(0L))).as("__z"))
        .withColumn("__pm", floor(lit(1000000.0) /
          (lit(1.0) + exp(-col("__z").cast(DoubleType) / lit(1000000.0))))
          .cast(LongType))
        .select(col("__d"), (col("__y") * 1000000L - col("__pm")).as("__rm"))
        .localCheckpoint(false) // feeds the bucket grads AND the bias grad
      val gm = db.join(rd, Seq("__d"))
        .groupBy(col("__h")).agg(sum(col("__c") * col("__rm")).as("__g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gBias = rd.agg(coalesce(sum(col("__rm")), lit(0L))).head().getLong(0)
      val keys = w.keySet ++ gm.keySet
      w = keys.iterator.map { h =>
        h -> (w.getOrElse(h, 0L) + (lrPpm * gm.getOrElse(h, 0L)) / (1000000L * n))
      }.toMap
      bias += (lrPpm * gBias) / (1000000L * n)
    }
    (w.toSeq.sortBy(_._1), bias)
  }

  /** Score a corpus with a trained classifier: per doc,
    * score_micro = bias + Σ count_b·w_b (exact Long; unseen buckets
    * contribute 0). One tokenize pass + a broadcast weight join +
    * one map-side-combined agg — the corpus-scale path. */
  def qualityLrScore(docs: DataFrame, idCol: String, textCol: String,
                     weights: Seq[(Long, Long)], bias: Long,
                     nBuckets: Int = 256,
                     bigrams: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wDf = weights.toDF("__h", "__wm")
    val scored = hashBuckets(docs, idCol, textCol, nBuckets, bigrams)
      .join(broadcast(wDf), Seq("__h"), "left")
      .groupBy(col("__d"))
      .agg(sum(col("__c")).as("n_toks"),
        sum(col("__c") * coalesce(col("__wm"), lit(0L))).as("__s"))
    docs.select(col(idCol)).join(scored.withColumnRenamed("__d", idCol),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        (lit(bias) + coalesce(col("__s"), lit(0L))).as("score_micro"))
  }

  /** (doc, bucket, count) — the shared hashed-word feature extraction
    * ([[dsirWeights]]'s bucket convention: md5 mod nBuckets over
    * lowercased whitespace words). With `bigrams` the feature set
    * additionally hashes every adjacent word pair joined by one space
    * (the fastText default of word n-grams up to 2 — Joulin et al.
    * 2016): a document of n words emits n unigram + (n−1) bigram
    * features, all through the same bucket space, so the training and
    * scoring algebra is unchanged — only the feature extraction
    * widens. Bigrams form over the FILTERED word list (an empty token
    * from repeated whitespace must not split a pair). */
  private def hashBuckets(df: DataFrame, idCol: String, textCol: String,
                          nBuckets: Int,
                          bigrams: Boolean = false): DataFrame = {
    val ws = filter(Text.words(col(textCol)), w => length(w) > 0)
    val feats =
      if (!bigrams) ws
      else concat(ws, zip_with(
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)))
    df.select(col(idCol).as("__d"), explode(feats).as("__w"))
      .select(col("__d"), (Text.md5Hash(col("__w")) % nBuckets).as("__h"))
      .groupBy(col("__d"), col("__h")).agg(count(lit(1)).as("__c"))
  }

  /** Per-group rank normalization in exact integer per-mille: a row's
    * `pm_rank` is its rank position within `groupCol` scaled to
    * [0, 1000] (`(rank-1)·1000 div (count-1)`; singleton groups at 0;
    * ties on `idCol` so the ranking is total). The curation use:
    * quality scores are not comparable ACROSS sources (a mid-tier
    * encyclopedia page outscores a top-tier forum post on raw
    * features), so budget selection on the raw score silently drains
    * whole sources — selecting on `pm_rank >= x` instead takes the
    * same top fraction of every source. Integer division end to end,
    * so thresholds replay in any engine.
    *
    * Shape: two windows over ONE hash exchange on `groupCol` (the
    * unordered count window shares the rank window's partitioning). */
  /** Calibration report of a trained quality classifier on its OWN
    * labeled seed: score the seed, rank-normalize (one group — raw
    * scores are only comparable within the model), band into ten
    * per-mille deciles and report each decile's observed positive
    * rate. A well-calibrated filter shows pos_pm rising monotonically
    * with decile; a flat profile means the features carry no signal
    * and the downstream gate is selecting noise. All integer
    * arithmetic (`div`, exact Long sums), so the report replays
    * exactly in the DuckDB oracle. Seed-scale, one exchange (the
    * rank window) — never corpus-scale. */
  def qualityLrCalibration(labeled: DataFrame, idCol: String,
                           textCol: String, labelCol: String,
                           weights: Seq[(Long, Long)], bias: Long,
                           nBuckets: Int = 256,
                           bigrams: Boolean = false): DataFrame = {
    val scored = qualityLrScore(labeled, idCol, textCol, weights, bias,
        nBuckets, bigrams)
      .join(labeled.select(col(idCol),
        col(labelCol).cast(LongType).as("__y")), Seq(idCol))
      .withColumn("__g", lit(0))
    rankNormalize(scored, "__g", "score_micro", idCol)
      .withColumn("decile", least(expr("pm_rank div 100"), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__y")).as("n_pos"))
      .withColumn("pos_pm", expr("n_pos * 1000 div n_docs"))
      .select(col("decile"), col("n_docs"), col("n_pos"), col("pos_pm"))
  }

  def rankNormalize(df: DataFrame, groupCol: String, scoreCol: String,
                    idCol: String): DataFrame = {
    require(!df.columns.exists(Set("pm_rank", "__rnk", "__cnt")),
      "rankNormalize reserves the pm_rank, __rnk and __cnt column names")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol), col(idCol))
    df.withColumn("__rnk", row_number().over(w).cast(LongType))
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("pm_rank", when(col("__cnt") === 1L, 0L)
        .otherwise(expr("(__rnk - 1) * 1000 div (__cnt - 1)")))
      .drop("__rnk", "__cnt")
  }

  /** Length-bucketed padding report — the batching-efficiency
    * statistic behind sequence-length bucketing: group documents into
    * token-length bands (`boundaries` ascending; bucket i holds
    * lengths in (b_{i-1}, b_i], bucket 0 is ≤ b_0, the last bucket is
    * unbounded above) and report, per bucket, how much padding a
    * batcher that pads to the bucket's observed max would emit.
    * `pad_pm` is exact integer per-mille:
    * `(n·max − Σtok)·1000 div (n·max)` — so "does bucketing at these
    * boundaries waste <5% padding" is an engine-exact question.
    * Output: (bucket, lo, hi, n_docs, max_tokens, total_tokens,
    * pad_pm), hi = observed in-bucket max.
    *
    * Shape: the bucket id is a literal when-free integer fold
    * (Σ (tok > b_i)) computed map-side; ONE hash agg on ≤
    * |boundaries|+1 groups. */
  def paddingStats(docs: DataFrame, tokensCol: String,
                   boundaries: Seq[Long]): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct.size == boundaries.size,
      s"boundaries must be non-empty, ascending, distinct: $boundaries")
    val bucket = boundaries.foldLeft(lit(0L)) { (acc, b) =>
      acc + (col(tokensCol) > lit(b)).cast(LongType)
    }
    val lo = boundaries.zipWithIndex.foldLeft(lit(0L)) { case (acc, (b, i)) =>
      when(col("bucket") === (i + 1).toLong, lit(b)).otherwise(acc)
    }
    docs.select(col(tokensCol), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        max(col(tokensCol)).cast(LongType).as("max_tokens"),
        sum(col(tokensCol)).cast(LongType).as("total_tokens"))
      .select(col("bucket"), lo.as("lo"), col("max_tokens").as("hi"),
        col("n_docs"), col("max_tokens"), col("total_tokens"),
        when(col("max_tokens") === 0L, lit(0L)).otherwise(
          expr("(n_docs * max_tokens - total_tokens) * 1000 div (n_docs * max_tokens)"))
          .as("pad_pm"))
  }

  /** Token-budget corpus selection — keep documents in quality order
    * until a token budget is exhausted (the "best N tokens" curation
    * step), EXACTLY: a document is kept iff its running token total in
    * (score desc, hash, id) order fits the budget; the hash gives a
    * fair deterministic tie-break inside a score band.
    *
    * The naive plan is a GLOBAL ordered cumsum — a single-reducer
    * window, dead at 100 TB. This is instead a hierarchical prefix
    * refinement, all exact, run as two bounded driver jobs (the same
    * bounded-collect contract as the k-means trainer — exact integer
    * aggregates, bit-exact replay):
    *   L1: ONE agg job collects per-score token totals (≤ |score
    *       domain| rows); a driver walk in score-desc order finds the
    *       wholly-fitting scores, which collapse to one RANGE predicate
    *       (the whole set is a prefix of the descending order) — pushed
    *       to the scan, no per-doc window, no broadcast.
    *   L2: the ONE boundary score band is re-aggregated by a monotone
    *       hash-range coarsening of the tie-break order (`buckets`
    *       ranges of h, ≤ `buckets` rows collected); wholly-fitting
    *       buckets become one more map-side predicate.
    *   L3: only the ONE boundary bucket — ≤ band/buckets of the band —
    *       pays a per-doc ordered window.
    * Requires an integral score column and tokens >= 1 per row. This is
    * [[selectByTokenBudgetGrouped]]'s body over one constant group. */
  def selectByTokenBudget(docs0: DataFrame, idCol: String, scoreCol: String,
                          tokensCol: String, budget: Long,
                          salt: String = "sel:", buckets: Int = 1024): DataFrame =
    budgetCut("selectByTokenBudget", docs0, None, idCol, scoreCol, tokensCol,
      budget, salt, buckets)

  /** Grouped token-budget selection — [[selectByTokenBudget]] applied
    * independently to EVERY group (source/domain/language), but with
    * the refinement levels batched across groups so the job count does
    * not scale with the group count: L1 is ONE (group, score) agg job
    * (≤ \|groups\| × \|score domain\| rows to the driver — the bounded-
    * collect contract), every group's driver walk runs on that one
    * result, all boundary bands share ONE L2 job, and every group's
    * boundary bucket pays the single L3 window TOGETHER (PARTITION BY
    * group — each partition is one bucket's rows). A per-source loop of
    * the global method is plan-identical per group but scans the corpus
    * O(\|groups\|) times; this form scans it ≤ 3 times total.
    * Selection semantics per group are EXACTLY the global method's
    * (same salt, same tie-break), so oracles can replay either. */
  def selectByTokenBudgetGrouped(docs0: DataFrame, groupCol: String, idCol: String,
                                 scoreCol: String, tokensCol: String,
                                 budgetPerGroup: Long, salt: String = "sel:",
                                 buckets: Int = 1024): DataFrame =
    budgetCut("selectByTokenBudgetGrouped", docs0, Some(groupCol), idCol,
      scoreCol, tokensCol, budgetPerGroup, salt, buckets)

  /** The one body of both token-budget selections. `groupCol = None` is
    * the global cut: one constant group, whose group terms constant-fold
    * out of every predicate, leaving the global range and band filters. */
  private def budgetCut(op: String, docs0: DataFrame, groupCol: Option[String],
                        idCol: String, scoreCol: String, tokensCol: String,
                        budget: Long, salt: String, buckets: Int): DataFrame = {
    import org.apache.spark.sql.types._
    docs0.schema(scoreCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case d => throw new IllegalArgumentException(
        s"$op needs an integral score column, got $d")
    }
    val reserved = Seq("__h", "__b", "__cum", "__g", "__ws", "__bs", "__wb",
      "__b2s", "__b2b", "__off", "__bandg", "__bands")
    require(!docs0.columns.exists(reserved.toSet),
      s"$op reserves the ${reserved.mkString("/")} column names")
    val outCols = docs0.columns.map(col).toSeq
    val g = groupCol.fold(lit(""))(c => col(c).cast("string"))
    val score = col(scoreCol).cast(LongType)
    val bucketWidth = (Text.HashP + buckets - 1) / buckets
    val h = Text.md5Hash(concat(lit(salt), col(idCol).cast("string")))
    val bkt = (h / bucketWidth).cast(LongType)
    def num(r: org.apache.spark.sql.Row, i: Int): Long = {
      if (r.isNullAt(i)) throw new IllegalArgumentException(
        s"$op: NULL at column $i — group, score and sum($tokensCol) must be non-null")
      r.getAs[Number](i).longValue
    }
    def walk(grps: Seq[(Long, Long)], start: Long) = walkBudget(grps, start, budget)
    // L1 — ONE job for every group at once. walk()'s early return and
    // the L2 prefix argument need strictly increasing prefix sums, so
    // tokens >= 1 per row is enforced rather than a silently wrong
    // selection returned; the min rides the same job, and reads a NULL
    // count as 0 (a bare min() skips NULLs)
    val l1rows = docs0.groupBy(g.as("__g"), score.as("__s"))
      .agg(sum(col(tokensCol)).as("__gt"),
        min(coalesce(col(tokensCol), lit(0))).as("__mt"))
      .collect()
    l1rows.find(_.isNullAt(0)).foreach { _ =>
      throw new IllegalArgumentException(
        s"$op: NULL ${groupCol.mkString} encountered — groups must be non-null")
    }
    l1rows.find(r => num(r, 3) < 1).foreach { r =>
      throw new IllegalArgumentException(
        s"$op needs non-null $tokensCol >= 1 per row; " +
          groupCol.fold("")(_ => s"group '${r.getString(0)}' ") +
          s"score ${num(r, 1)} has min($tokensCol) = ${num(r, 3)} (NULL as 0)")
    }
    val l1 = l1rows.groupBy(_.getString(0)).view.mapValues(
      _.map(r => (num(r, 1), num(r, 2))).sortBy(-_._1).toSeq).toMap
    // per-group walks on the one collected table
    val walked = l1.map { case (grp, gl1) => grp -> walk(gl1, 0L) }
    val literalPath = walked.size <= LiteralPredicateMaxGroups
    val bands = walked.collect {
      case (grp, (_, Some((bScore, bBefore)))) => (grp, bScore, bBefore)
    }.toSeq.sortBy(_._1)
    val spark = docs0.sparkSession
    import spark.implicits._
    val l2 = if (bands.isEmpty) Map.empty[String, Seq[(Long, Long)]] else {
      // L2 — ONE job over the union of every group's boundary band;
      // band membership by inlined predicates (pushed to the scan) at
      // low group counts, by a broadcast semi-join beyond that
      val bandRows =
        if (literalPath)
          docs0.filter(bands.map { case (grp, s, _) => g === grp && score === s }
            .reduce(_ || _))
        else docs0.join(
          // distinct names from the broadcast thr table's __ws/__bs so
          // each reserved column means one thing inside this function
          broadcast(bands.map { case (grp, s, _) => (grp, s) }.toDF("__bandg", "__bands")),
          g === col("__bandg") && score === col("__bands"), "left_semi")
      bandRows.groupBy(g.as("__g"), bkt.as("__b"))
        .agg(sum(col(tokensCol)).as("__gt")).collect()
        .groupBy(_.getString(0)).view.mapValues(
          _.map(r => (num(r, 1), num(r, 2))).sortBy(_._1).toSeq).toMap
    }
    val wholeBucketsB = Seq.newBuilder[(String, Long, Long)] // (grp, bScore, maxBkt)
    val boundary2sB = Seq.newBuilder[(String, Long, Long, Long)] // (grp, bScore, bkt, before)
    for ((grp, bScore, bBefore) <- bands) {
      val (wholeBuckets, boundary2) = walk(l2.getOrElse(grp, Nil), bBefore)
      if (wholeBuckets.nonEmpty) wholeBucketsB += ((grp, bScore, wholeBuckets.max))
      boundary2.foreach { case (bBkt, before2) =>
        boundary2sB += ((grp, bScore, bBkt, before2)) }
    }
    val wholeBuckets = wholeBucketsB.result()
    val boundary2s = boundary2sB.result()
    val wholeScores = walked.collect {
      case (grp, (whole, _)) if whole.nonEmpty => (grp, whole.min) }.toSeq
    // each path yields the frame to cut, the whole-group filter, the
    // boundary-bucket filter and the L3 running-sum offset
    val tagged = docs0.withColumn("__g", g)
    val (base, keep, inB2, offset) = if (literalPath) {
      // inlined literal predicates: pure pushed scan filters — the
      // best plan, but one expression term per group
      def any(terms: Seq[Column]) = terms.reduceOption(_ || _).getOrElse(lit(false))
      (tagged,
        any(wholeScores.map { case (grp, mn) => g === grp && score >= mn } ++
          wholeBuckets.map { case (grp, bScore, mx) =>
            g === grp && score === bScore && bkt <= mx }),
        any(boundary2s.map { case (grp, bScore, bBkt, _) =>
          g === grp && score === bScore && bkt === bBkt }),
        boundary2s.foldLeft(lit(0L)) { case (acc, (grp, _, _, before2)) =>
          when(g === grp, lit(before2)).otherwise(acc) })
    } else {
      // broadcast threshold-table path: one small join, O(1) expression
      // size at ANY group count (a when-chain per group overflows the
      // Catalyst stack at the domain-granularity cardinalities the
      // scaladoc invites)
      val wsMap = wholeScores.toMap
      val wbMap = wholeBuckets.map { case (grp, bs, mx) => grp -> ((bs, mx)) }.toMap
      val b2Map = boundary2s.map { case (grp, bs, bk, off) => grp -> ((bs, bk, off)) }.toMap
      val thr = walked.keys.toSeq.sorted.map { grp =>
        (grp, wsMap.get(grp), wbMap.get(grp).map(_._1), wbMap.get(grp).map(_._2),
          b2Map.get(grp).map(_._1), b2Map.get(grp).map(_._2), b2Map.get(grp).map(_._3))
      }.toDF("__g", "__ws", "__bs", "__wb", "__b2s", "__b2b", "__off")
      (tagged.join(broadcast(thr), Seq("__g")),
        (col("__ws").isNotNull && score >= col("__ws")) ||
          (col("__bs").isNotNull && score === col("__bs") && bkt <= col("__wb")),
        col("__b2s").isNotNull && score === col("__b2s") && bkt === col("__b2b"),
        col("__off"))
    }
    val wholeFilter = base.filter(keep).select(outCols: _*)
    if (boundary2s.isEmpty) wholeFilter
    else {
      // L3 — every group's ONE boundary bucket pays the only per-doc
      // window, all together, PARTITION BY group (one bucket/group)
      val w3 = Window.partitionBy(col("__g")).orderBy(col("__h"), col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      wholeFilter.unionByName(base.filter(inB2).withColumn("__h", h)
        .withColumn("__cum", offset + sum(col(tokensCol)).over(w3))
        .filter(col("__cum") <= budget).select(outCols: _*))
    }
  }

  /** Corpus mixture balancing — max-min fair ("water-filling") token
    * allocation across sources: every source gets an equal share of the
    * token budget, except sources smaller than their running share,
    * which are kept whole and their surplus re-spread over the rest.
    * The resulting per-source acceptance rates land as integer
    * per-mille and apply through the same hash-Bernoulli rule as
    * [[importanceSample]], so the sample is deterministic and
    * rerun-stable. ONE bounded driver collect (|sources| rows — the
    * k-means contract again), then a broadcast rate join + a map-side
    * filter; the corpus crosses no exchange. Ties between equal-total
    * sources break by source name (ASCII-safe; mirrors the oracle).
    *
    * Output schema = input columns plus `rate_pm` — the intentional
    * per-source accept-rate audit column (same convention as
    * [[temperatureMix]]; CurateSpec pins the schema). */
  def mixCorpus(docs: DataFrame, sourceCol: String, tokensCol: String,
                idCol: String, budgetTokens: Long,
                salt: String = "mix:"): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    val totals = sourceTotals("mixCorpus", docs, sourceCol, tokensCol)
      .sortBy(t => (t._2, t._1))
    // ascending walk: a source below the running fair share is kept
    // whole; the first source above it fixes the water level F for
    // every remaining (larger) source. Rates go through BigInt — at
    // petascale budgets level*1000 overflows Long (the rate is still
    // well-defined; only the oracle SQL's BIGINT arithmetic saturates
    // earlier). The per-mille floor is clamped to >= 1 whenever the
    // water level is positive: a source more than 1000× the level
    // would otherwise floor to rate 0 and silently receive ZERO
    // allocation despite the max-min-fair intent — on a skewed corpus
    // the dominant source is exactly the one that hits this. The
    // clamp over-admits that source by at most level·(1000/t) ≈ 0.1%
    // of the budget per clamped source; the oracle mirrors it.
    def rateOf(level: Long, t: Long): Long =
      (BigInt(level) * 1000 / BigInt(t)).min(1000)
        .max(if (level > 0) 1 else 0).toLong
    var remaining = budgetTokens
    var m = totals.size
    var level = -1L
    val rates = totals.map { case (s, t) =>
      if (level < 0) {
        val fair = remaining / math.max(m, 1)
        if (t <= fair) { remaining -= t; m -= 1; (s, 1000L) }
        else { level = fair; (s, rateOf(level, t)) }
      } else (s, rateOf(level, t))
    }
    applySourceRates(docs, sourceCol, idCol, rates, salt)
  }

  /** Per-group document cap — the per-domain/per-source ceiling every
    * crawl pipeline applies so no single host dominates the corpus.
    * Keeps at most `cap` docs per group, chosen by the salted-hash
    * order (a fair deterministic lottery; pass a quality column as
    * `orderBy` to keep the best instead). One hash exchange on the
    * group key, and the rank filter is `row_number <= cap`, which
    * Spark executes with a map-side WindowGroupLimit — each upstream
    * partition forwards at most `cap` rows per group before the
    * shuffle, so a hot domain costs cap×partitions rows in flight,
    * never its full population. */
  def capPerGroup(docs: DataFrame, groupCol: String, idCol: String,
                  cap: Int, salt: String = "cap:",
                  orderBy: Option[Column] = None): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    require(!docs.columns.contains("__rn"),
      "capPerGroup reserves the __rn column name")
    val ord = orderBy.map(c => Seq(c, col(idCol))).getOrElse(
      Seq(Text.md5Hash(concat(lit(salt), col(idCol).cast("string"))), col(idCol)))
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Contamination audit, from the BENCHMARK's point of view: for each
    * held-out item, how many of its distinct shingle hashes appear
    * anywhere in the training corpus (the report evaluators need —
    * "which eval items are compromised, and how badly" — where
    * decontamination answers the converse "which corpus docs to drop").
    *
    * Inputs are (id, hash) pair frames (the caller's shingle pipeline,
    * distinct per doc). Contamination is an exact integer per-mille —
    * never a float ratio, so any engine replays it bit-identically.
    *
    * Scale: the corpus crosses ONE distinct aggregation on the hash
    * (linear in shingles, the same exchange the decontaminate join
    * needs anyway) and meets the bench — typically thousands of items
    * vs billions of corpus shingles — in a semi-join keyed on the
    * hash; nothing is ever pairwise. */
  def contaminationReport(benchHs: DataFrame, corpusHs: DataFrame,
                          idCol: String, hashCol: String = "h"): DataFrame = {
    val corpusH = corpusHs.select(col(hashCol)).distinct()
    val totals = benchHs.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = benchHs.join(corpusH, Seq(hashCol), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      // `div`, not `/`: Column./ is DOUBLE division — exact integer
      // per-mille needs integer division on both engines
      .withColumn("pm_contaminated", expr("n_hit * 1000 div n_shingles"))
  }

  /** Floor integer square root (exact — Math.sqrt seed, then integer
    * correction, so no double-rounding flip at any Long scale). The
    * correction compares via division, never squaring: x*x overflows
    * Long once x exceeds ~3.037e9, and a wrapped-negative square would
    * silently pass the comparison near Long.MaxValue. `x > n / x` is
    * floor-division-equivalent to `x*x > n` and cannot overflow. */
  private[graft] def isqrt(n: Long): Long = {
    require(n >= 0, s"isqrt of negative $n")
    var x = math.sqrt(n.toDouble).toLong
    while (x > 0 && x > n / x) x -= 1
    while (x + 1 <= n / (x + 1)) x += 1
    x
  }

  /** Temperature-based corpus mixture (the T5/mT5 recipe): source s
    * gets budget share ∝ total_s^alpha — alpha = 1 is natural
    * (proportional) sampling, alpha → 0 approaches uniform; 0.5 is the
    * common low-resource up-weighting. A fixed-share policy, unlike
    * [[mixCorpus]]'s max-min water-filling: a source capped at its own
    * size (rate 1000‰) does NOT re-spread its surplus — callers who
    * want the budget exhausted compose water-filling instead.
    *
    * Same execution shape as mixCorpus: ONE bounded |sources| driver
    * collect, integer per-mille rates, broadcast rate join + map-side
    * hash-Bernoulli filter — the corpus crosses no exchange.
    *
    * Determinism: for alpha = 0.5 the weights are EXACT integer sqrt
    * ([[isqrt]]) and every downstream step is BigInt arithmetic, so an
    * oracle replays the rates exactly (llm_temperature_mix). Any other
    * alpha goes through Math.pow — deterministic on a given platform,
    * but a cross-engine replay inherits the libm caveat documented on
    * NgramLm.lp_micro.
    *
    * Output schema = input columns plus `rate_pm` (the per-source
    * accept rate actually applied, in per-mille) — the INTENTIONAL
    * audit column every sampling mixer here emits ([[mixCorpus]]
    * follows the same convention; CurateSpec pins the schema), the
    * same reserved-name-is-the-output pattern as [[leakFreeSplit]]'s
    * `split`. Downstream composition drops it explicitly when the
    * provenance is not wanted. */
  def temperatureMix(docs: DataFrame, sourceCol: String, tokensCol: String,
                     idCol: String, budgetTokens: Long, alpha: Double = 0.5,
                     salt: String = "tmix:"): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val totals = sourceTotals("temperatureMix", docs, sourceCol, tokensCol)
    val weights = totals.map { case (s, t) =>
      require(t >= 0, s"temperatureMix: source '$s' has negative tokens $t")
      val w = if (alpha == 0.5) BigInt(isqrt(t))
              else BigInt(math.floor(math.pow(t.toDouble, alpha)).toLong)
      (s, t, w)
    }
    val sumW = weights.map(_._3).sum
    val rates = weights.map { case (s, t, w) =>
      val alloc =
        if (sumW == 0 || t == 0) BigInt(0)
        else (BigInt(budgetTokens) * w / sumW).min(BigInt(t))
      val pm = (alloc * 1000 / BigInt(t).max(1)).min(1000)
        .max(if (alloc > 0) 1 else 0)
      (s, pm.toLong)
    }
    applySourceRates(docs, sourceCol, idCol, rates, salt)
  }

  /** The rate mixers' one driver collect: per-source token totals
    * (|sources| rows). Fails fast on a NULL source, which would NPE the
    * driver sort and whose rows would silently vanish in the rate join,
    * and on an all-NULL tokens source, whose sum is NULL. */
  private def sourceTotals(op: String, docs: DataFrame, sourceCol: String,
                           tokensCol: String): Seq[(String, Long)] = {
    require(!docs.columns.exists(Set("__src", "rate_pm")),
      s"$op reserves the __src and rate_pm column names")
    docs.groupBy(col(sourceCol).cast("string").as("__src"))
      .agg(sum(col(tokensCol)).as("__t"))
      .collect().map { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"$op: NULL $sourceCol encountered — sources must be non-null")
        if (r.isNullAt(1)) throw new IllegalArgumentException(
          s"$op: source '${r.getString(0)}' has NULL sum($tokensCol)")
        (r.getString(0), r.getLong(1))
      }.toSeq
  }

  /** The rate mixers' one apply step: a broadcast join of the
    * per-source per-mille rates, then the shared hash-Bernoulli accept.
    * `rate_pm` stays on the output as the audit column. */
  private def applySourceRates(docs: DataFrame, sourceCol: String, idCol: String,
                               rates: Seq[(String, Long)], salt: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.join(broadcast(rates.toDF("__src", "rate_pm")),
        col(sourceCol).cast("string") === col("__src"))
      .filter(hashAccept(salt, col(idCol), col("rate_pm")))
      .drop("__src")
  }

  /** Quality-aware corpus mixing — the two-stage recipe real pipelines
    * run: keep the best `perSourceBudget` tokens of EACH source
    * (quality-rank within a source, [[selectByTokenBudgetGrouped]] —
    * three corpus scans TOTAL regardless of the source count), then
    * water-fill the survivors to `totalBudget` across sources
    * ([[mixCorpus]]). */
  def budgetThenMix(docs: DataFrame, sourceCol: String, scoreCol: String,
                    tokensCol: String, idCol: String,
                    perSourceBudget: Long, totalBudget: Long,
                    buckets: Int = 1024): DataFrame =
    mixCorpus(
      selectByTokenBudgetGrouped(docs, sourceCol, idCol, scoreCol, tokensCol,
        perSourceBudget, buckets = buckets),
      sourceCol, tokensCol, idCol, totalBudget)

  /** Bloom-filter semi-join prune — Spark's runtime-filter idea
    * (BloomFilterAggregate + might_contain, the pair its
    * InjectRuntimeFilter rule plants under join heuristics) exposed as
    * an explicit curation operator. Keeps the rows of `df` whose
    * `value` MIGHT appear in `keys.keyCol`: a guaranteed superset of
    * the exact semi-join (no false negatives), with false positives at
    * ~`fpp`. The filter is built distributed over `keys` and reaches
    * the corpus scan as a scalar-subquery constant, so the prune runs
    * MAP-SIDE — definitely-clean rows never enter the downstream
    * exchange.
    *
    * The intended composition is two-phase decontamination / gating:
    * `bloomSemiFilter(corpus, h, bench, "h") JOIN bench` — the exact
    * equi-join on the (tiny) surviving fraction removes the false
    * positives, so the composed output EQUALS the exact-join result
    * while the corpus-side shuffle input shrinks by ~the contamination
    * rate. At 100 TB a benchmark set of 1e8 shingle hashes is ~114 MB
    * of Bloom bits at 1% fpp (vs ~800 MB of exact 64-bit hashes in a
    * broadcast hash set) and the cost is one codegen'd probe per row.
    *
    * `estItems`/`fpp` size the filter (`optimalNumOfBits`); an
    * underestimate of |keys| degrades the fp rate, never correctness.
    * `BloomFilterAggregate` silently CLAMPS the bit count to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default
    * 8 MiB — measured, not documented), which would quietly ruin the
    * fp rate for large key sets; this operator refuses instead, so a
    * 1e8-key filter (~114 MB at 1% fpp) requires raising that conf
    * deliberately rather than shipping a saturated filter.
    */
  def bloomSemiFilter(df: DataFrame, value: Column, keys: DataFrame,
                      keyCol: String, estItems: Long = 1000000L,
                      fpp: Double = 0.01): DataFrame = {
    require(estItems > 0, s"estItems must be positive: $estItems")
    require(fpp > 0 && fpp < 1, s"fpp out of (0,1): $fpp")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(estItems, fpp)
    val maxBits = df.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(numBits <= maxBits,
      s"bloomSemiFilter needs $numBits bits for estItems=$estItems at fpp=$fpp " +
        s"but spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxBits — " +
        "BloomFilterAggregate would silently clamp (saturating the filter); " +
        "raise the conf or lower estItems/raise fpp")
    df.filter(org.apache.spark.sql.graftbridge.Bridge
      .bloomMightContain(keys, keyCol, estItems, numBits, value))
  }

  /** Leakage-free train/validation split: every member of a duplicate
    * cluster lands in the SAME split, so a near-duplicate of a
    * validation document can never appear in training — the
    * contamination-control step after near-dup clustering. The split
    * decision is a pure hash of the CLUSTER label (an unclustered doc
    * is its own cluster), deterministic and rerun-stable like every
    * sampling decision in this module. `components` is
    * connectedComponents output (node, label), covering clustered docs
    * only; the join is an equi-join on the id — Catalyst broadcasts it
    * when the clustered set is small and falls back to a linear
    * shuffle join when it isn't. */
  def leakFreeSplit(docs: DataFrame, components: DataFrame, idCol: String,
                    trainPerMille: Int = 900, salt: String = "split:"): DataFrame = {
    require(trainPerMille >= 0 && trainPerMille <= 1000,
      s"trainPerMille out of [0,1000]: $trainPerMille")
    require(!docs.columns.exists(Set("__cc_label", "split")),
      "leakFreeSplit reserves the __cc_label and split column names")
    // internal rename so a caller-side "label" column survives untouched
    val comp = components.select(col("node").as(idCol), col("label").as("__cc_label"))
    val lbl = coalesce(col("__cc_label"), col(idCol))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("split",
        when(hashAccept(salt, lbl, lit(trainPerMille)),
          lit("train")).otherwise(lit("val")))
      .drop("__cc_label")
  }

  /** Cluster-atomic K folds — [[leakFreeSplit]] generalized to
    * cross-validation: every document gets `fold = hash(cluster) % k`,
    * so a near-dup cluster lands in ONE fold and no fold ever holds a
    * near-duplicate of another fold's document. Same execution shape:
    * one equi-join against the (small) components frame plus a
    * map-side hash projection. */
  def leakFreeFolds(docs: DataFrame, components: DataFrame, idCol: String,
                    k: Int, salt: String = "fold:"): DataFrame = {
    require(k >= 2, s"need k >= 2 folds, got $k")
    require(!docs.columns.exists(Set("__cc_label", "fold")),
      "leakFreeFolds reserves the __cc_label and fold column names")
    val comp = components.select(col("node").as(idCol), col("label").as("__cc_label"))
    val lbl = coalesce(col("__cc_label"), col(idCol))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("fold",
        (Text.md5Hash(concat(lit(salt), lbl.cast("string"))) % k).cast(LongType))
      .drop("__cc_label")
  }

  /** Sliding-window chunking: each document becomes ceil-many chunks of
    * `chunkWords` words advancing by `strideWords` (trailing context
    * overlap = chunkWords - strideWords), the standard long-document
    * treatment for embedding models and for context-window-bounded
    * training. Pure explode — map-side, no exchange; chunk count is
    * data-proportional, so the explode cannot amplify skew beyond the
    * document's own length. NULL text yields no chunks (explode of a
    * null sequence) — there is nothing to chunk; empty text yields one
    * empty chunk, mirroring the whitespace-token semantics. */
  def chunkSliding(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", chunkWords: Int = 200,
                   strideWords: Int = 150): DataFrame = {
    require(strideWords >= 1 && chunkWords >= strideWords,
      s"need 1 <= stride <= chunk, got stride=$strideWords chunk=$chunkWords")
    val n = size(col("__w")).cast(LongType)
    // one chunk always exists (split("") yields [""]); beyond the first,
    // one per full stride before the last window
    val nChunks = when(n <= chunkWords, lit(1L))
      .otherwise(lit(1L) + ceil((n - lit(chunkWords.toLong)) / lit(strideWords.toDouble))
        .cast(LongType))
    docs.select(col(idCol), Text.words(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"),
        explode(sequence(lit(0L), nChunks - lit(1L))).as("chunk_idx"))
      .select(
        col(idCol),
        col("chunk_idx"),
        (col("chunk_idx") * strideWords).as("start_word"),
        least(lit(chunkWords.toLong), size(col("__w")) - col("chunk_idx") * strideWords)
          .cast(LongType).as("chunk_len"),
        Text.md5Hash(array_join(
          slice(col("__w"), (col("chunk_idx") * strideWords + lit(1L)).cast("int"),
            lit(chunkWords)), " ")).as("chunk_hash"))
  }

  /** Corpus snapshot delta — the incremental-crawl diff: classify every
    * id across two corpus snapshots as `new` (only in `cur`), `deleted`
    * (only in `prev`), `changed` (both, content hash differs) or
    * `unchanged`. Downstream incremental stages (band-index appends,
    * re-tokenization, re-embedding) then touch only the
    * new ∪ changed slice instead of re-paying the whole corpus.
    *
    * NULL text hashes to a sentinel, not NULL, so a doc whose text is
    * NULL in both snapshots classifies as `unchanged` rather than
    * falling out of the hash comparison.
    *
    * Plan: one projection per side (md5 rides the scan) + one
    * co-partitionable full-outer equi-join on the id — linear in the
    * two snapshots, no other exchange. */
  def snapshotDelta(prev: DataFrame, cur: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    def hashed(df: DataFrame, as: String) =
      df.select(col(idCol), Text.contentHash(col(textCol)).as(as))
    hashed(prev, "__ph").join(hashed(cur, "__ch"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ph").isNull, lit("new"))
          .when(col("__ch").isNull, lit("deleted"))
          .when(col("__ph") === col("__ch"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
