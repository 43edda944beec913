package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Text.HashP

/** Deduplication for training-data pipelines: exact, normalized,
  * MinHash+LSH, SimHash. Every variant keeps the shuffle linear in the
  * data — candidate generation is always hash-bucketed (groupBy/join on
  * a signature), never an all-pairs crossJoin, so the same plan that
  * dedups 60k rows dedups 100 TB. */
object Dedup {

  /** Exact dedup: hash the content, keep the lowest id per hash. One
    * shuffle on the 128-bit content hash; skew-free by construction.
    * NULL-content rows are NOT duplicates of each other — each gets its
    * own synthetic window key ("n:" + id can never collide with a
    * 32-hex-char md5), so they all trivially survive a pure
    * `rn === 1` filter. Two scale effects of that shape: no
    * single-reducer skew group (md5(null) is null — partitioning on
    * the raw hash would funnel every NULL row through ONE task on a
    * null-heavy corpus), and the filter stays a conjunction-free
    * rank predicate, so InferWindowGroupLimit inserts a map-side
    * partial WindowGroupLimit — each map task forwards at most one
    * row per hash across the exchange instead of every duplicate
    * (an `rn === 1 || isNull` disjunction defeats the rewrite). */
  def exactDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val key = coalesce(md5(col(contentCol)),
      concat(lit("n:"), col(idCol).cast("string")))
    val w = Window.partitionBy(key).orderBy(col(idCol))
    df.withColumn("content_hash", md5(col(contentCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Normalized-exact dedup: lowercase, strip punctuation, collapse
    * whitespace before hashing — catches trivial near-dups for the cost
    * of the exact pass. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[\\p{Punct}]", " "), "\\s+", " "))

  def normalizedDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    exactDedup(df.withColumn("__norm", normalize(col(contentCol))), "__norm", idCol)
      .drop("__norm")

  /** Corpus-level boilerplate removal — the CCNet/RefinedWeb line-dedup
    * step: a segment (sentence/line, split on `sep`) appearing in more
    * than `maxDocFreq` DISTINCT documents is boilerplate (headers,
    * nav text, license blurbs) and is dropped from EVERY document;
    * surviving segments rejoin in original order. Returns one row per
    * input document: (idCol, cleaned, n_kept) — documents that were
    * pure boilerplate come back with empty text and n_kept 0.
    *
    * Scale shape: explode → segment-keyed count-distinct (partial agg
    * map-side) → shuffle join back on the segment → per-doc
    * re-aggregation. Everything is keyed by segment or doc — linear,
    * no pairwise work, the same plan at 100 TB. A degenerate hot
    * segment ("Home") is just one big count — it never expands into
    * pairs. */
  def dropBoilerplate(df: DataFrame, idCol: String, textCol: String,
                      sep: String = ". ", maxDocFreq: Int = 1): DataFrame = {
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val seg = df.select(col(idCol),
        posexplode(split(col(textCol), sepRegex)).as(Seq("__pos", "__seg")))
      .filter(col("__seg") =!= "")
    val freq = seg.groupBy(col("__seg"))
      .agg(countDistinct(col(idCol)).as("__ndocs"))
    val kept = seg.join(freq, "__seg").filter(col("__ndocs") <= maxDocFreq)
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__seg")))),
        x => x.getField("__seg")), sep).as("cleaned"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact substring-level dedup at window granularity — the
    * "deduplicating training data" span-removal step (Lee et al. 2022
    * operate on suffix arrays offline; this is the Spark-shaped
    * equivalent over fixed `windowTokens`-token rolling windows): every
    * window of `windowTokens` consecutive tokens is hashed; any window
    * content seen more than once corpus-wide keeps ONLY its first
    * occurrence (min (id, start)), and every other occurrence's token
    * span is removed from its document. Overlapping removed spans merge
    * naturally (covered positions are unioned). Tokens are raw
    * whitespace-split — case-sensitive, because exactness is the point
    * (doc-level near-dup is the lowercased layer's job). Returns one
    * row per input document: (idCol, cleaned, n_kept, n_dropped),
    * whitespace canonicalized to single spaces; documents shorter than
    * one window pass through unchanged.
    *
    * Scale shape — every step is LINEAR in tokens, never pairwise:
    * windows explode 1:1 per token position; the duplicate decision is
    * ONE groupBy(window hash) (a boilerplate window shared by millions
    * of docs is just one big count — never a pair expansion) joined
    * back 1:1; covered positions explode at windowTokens x the FLAGGED
    * span volume only (the duplicated fraction of the corpus); the
    * rebuild is a posexplode + anti-join + per-doc ordered collect,
    * the dropBoilerplate shape. The token frame is checkpointed once
    * and feeds both the window pass and the rebuild. */
  def dropDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                         windowTokens: Int = 50): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val k = windowTokens
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // raw, case-sensitive tokens; null text -> empty array (no windows,
    // rebuilt as empty — mirrored in the oracle)
    val toks = df
      .select(col(idCol), coalesce(split(col(textCol), "\\s+"),
        array().cast("array<string>")).as("__w"))
      .repartition(parallelism, col(idCol))
      .localCheckpoint(false) // feeds the window pass + the rebuild
    // full 128-bit md5 hex, NOT the 31-bit Text.md5Hash: window
    // duplication is decided on this hash ALONE (no content confirm),
    // and at the corpus scales this operator targets a 31-bit space
    // collides from ~55k distinct windows (birthday bound) — each
    // collision would silently delete a non-duplicate span. 128 bits
    // makes accidental collision astronomically unlikely, same as
    // exactDedup's content key.
    val wins = toks
      .filter(size(col("__w")) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__w")) - k),
        i => md5(concat_ws(" ", slice(col("__w"), i + 1, lit(k))).cast("binary"))))
        .as(Seq("__s", "__h")))
    // first occurrence corpus-wide survives; every other one is flagged
    val keep = wins.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__s"))).as("__keep"))
    val flagged = wins.join(keep, "__h")
      .filter(!(col(idCol) === col("__keep")(idCol) && col("__s") === col("__keep.__s")))
      .select(col(idCol), col("__s"))
    // union of flagged spans = distinct covered token positions
    val covered = flagged
      .select(col(idCol), explode(sequence(col("__s"), col("__s") + (k - 1))).as("__p"))
      .distinct()
    val rebuilt = toks
      .select(col(idCol), posexplode(col("__w")).as(Seq("__p", "__t")))
      .join(covered, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__t")))),
          x => x.getField("__t")), " ").as("cleaned"))
    toks.select(col(idCol), size(col("__w")).cast("long").as("__n"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Fixed MinHash permutation seeds (a, b) for `(a*h + b) % P` over
    * 60-bit md5-derived shingle hashes. 16 hashes = 4 bands × 4 rows:
    * documents sharing any full band become candidates (the classic
    * banding construction — collision prob ≈ 1-(1-j^4)^4 at Jaccard j).
    * Constants are plain literals so the DuckDB oracle can replay the
    * identical arithmetic. */
  val Seeds: Seq[(Long, Long)] = Seq(
    (914334919L, 689295979L), (1046491907L, 265096873L),
    (1565110691L, 896516969L), (790336223L, 1126929907L),
    (1824734009L, 2054432537L), (1103299607L, 427375739L),
    (2026947991L, 607422653L), (661036547L, 1722850313L),
    (245018563L, 1382717399L), (1927862821L, 818809171L),
    (583047601L, 1102500569L), (1439374397L, 358976291L),
    (724239467L, 1973447609L), (1346559689L, 95217773L),
    (1869802127L, 1548895313L), (403864279L, 1252963853L))

  val BandRows = 4
  def numBands: Int = Seeds.size / BandRows

  /** 16-element MinHash signature from pre-hashed shingles (pass the
    * hashed-shingle column once; Catalyst's subexpression elimination
    * keeps the md5 pass single). Empty shingle set → null signature. */
  def minHashSignature(hs: Column): Column =
    when(size(hs) > 0, array(Seeds.map { case (a, b) =>
      array_min(transform(hs, h => (lit(a) * h + lit(b)) % lit(HashP)))
    }: _*))

  /** Shared capped one-exchange pair expansion — the candidate-generation
    * core of every bucketed near-dup path (MinHash bands, SimHash bands,
    * n-gram blocks). The count-window cap runs BEFORE collect_list so a
    * degenerate hot bucket (boilerplate shared by millions of docs) is
    * dropped while still spillable in the window sort — collect_list
    * never buffers more than `maxBucket` items per group; the groupBy
    * reuses the window's hash partitioning (no second exchange) and
    * pairs expand map-side from each bucket's sorted item list —
    * equivalent to the bucket self-join minus its two exchanges.
    * `item` must lead with a unique key (the doc id) so `y > x`
    * enumerates each unordered pair exactly once per bucket. Output:
    * one `p` struct column with fields a/b of the item type. */
  private[llm] def cappedBucketPairs(buckets: DataFrame, bucketCol: String,
                                     item: Column, maxBucket: Int): DataFrame =
    buckets
      .withColumn("__it", item)
      .withColumn("__bc", count(lit(1)).over(Window.partitionBy(col(bucketCol))))
      .filter(col("__bc").between(2, maxBucket))
      .groupBy(col(bucketCol)).agg(array_sort(collect_list(col("__it"))).as("__xs"))
      .select(explode(flatten(transform(col("__xs"), x =>
        transform(filter(col("__xs"), y => y > x),
          y => struct(x.as("a"), y.as("b")))))).as("p"))

  /** Exact Jaccard on distinct element arrays (the verify step). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Shared band-bucket cap, interpolated into the DuckDB oracle SQL so
    * the two engines can't silently drift. */
  val DefaultMaxBucket = 1000

  /** (id, __hs, __sig) checkpointed signature frame — the expensive
    * shingle+md5+minhash pass, shared by the batch and incremental
    * paths. Materialize each stage as a column: higher-order-function
    * lambdas are interpreted (no codegen/CSE inside), so an inlined
    * split(lower(text)) would re-execute per element access. Also
    * spread the compute: a small local file arrives as one partition,
    * and at cluster scale the repartition is the standard pre-shuffle
    * for signature work anyway. The frame feeds several plan branches
    * (self-join sides + verify joins); without materialization Spark
    * recomputes the md5/shingle pass per branch — at cluster scale
    * you'd persist signatures to a table; locally an eager checkpoint
    * is the same cut of the lineage. */
  private[graft] def signatures(df: DataFrame, idCol: String, textCol: String,
                                shingleN: Int): DataFrame =
    signaturesPlan(df, idCol, textCol, shingleN).localCheckpoint(false)

  /** The [[signatures]] computation WITHOUT the materializing
    * checkpoint — the plan a caller persists once per corpus (the
    * family-store discipline: signatures are a pure per-row transform
    * of the document, an index artifact, so one persisted frame can
    * feed every LSH consumer; pairs/verification/components stay
    * per-query work downstream of it). */
  private[graft] def signaturesPlan(df: DataFrame, idCol: String, textCol: String,
                                    shingleN: Int): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    df
      // filter on the cheap word count BEFORE the heavy columns exist:
      // a filter on size(__hs) would be predicate-pushed below the
      // projections with the whole shingle+md5 tree substituted into it
      // (recomputing split(lower(text)) per element access, interpreted)
      .filter(size(Text.words(col(textCol))) >= shingleN)
      .repartition(parallelism, col(idCol))
      .withColumn("__w", Text.words(col(textCol)))
      .withColumn("__sh", Text.shingles(col("__w"), shingleN))
      .withColumn("__hs", array_distinct(transform(col("__sh"), s => Text.md5Hash(s))))
      // native single-pass signature kernel (graft.expr.kernels.MinHashSig)
      .withColumn("__sig", graft.expr.kernels.NativeFns.minHashSig(col("__hs")))
      .select(col(idCol), col("__hs"), col("__sig"))
  }

  /** (id, band) exploded LSH band keys of a [[signatures]] frame. */
  private[graft] def bandsOf(prepared: DataFrame, idCol: String): DataFrame =
    prepared.select(col(idCol), explode(array((0 until numBands).map { bnd =>
      concat_ws("_", (lit(bnd.toString) +:
        (0 until BandRows).map(r => col("__sig")(bnd * BandRows + r).cast("string"))): _*)
    }: _*)).as("band"))

  /** Persistable LSH band index (id, band) for a corpus — build once,
    * store bucketed by band (`Tables.writeBucketed(_, t, "band", n)`),
    * and reuse across incremental batches so the corpus never pays the
    * shingle/minhash CPU again AND never crosses an exchange during
    * incremental candidate generation (see [[incrementalNearDupPairs]];
    * plan-asserted in BucketingSpec). */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                shingleN: Int = 3): DataFrame =
    bandsOf(signatures(df, idCol, textCol, shingleN), idCol)

  /** [[bandIndex]] over an already-prepared [[signatures]] frame —
    * pure per-row band derivation, no recompute of the signature CPU. */
  def bandIndexFrom(prepared: DataFrame, idCol: String): DataFrame =
    bandsOf(prepared, idCol)

  /** MinHash+LSH near-dup pairs over (id, text):
    * shingle+hash → signature → explode bands → self-join on band key →
    * distinct candidates → verify with exact Jaccard ≥ threshold.
    * The only shuffles are the band-key join and the verify join on id —
    * both linear in data. `maxBucket` drops degenerate buckets (stop
    * phrases / boilerplate) that would otherwise go quadratic — the
    * standard guard at 100 TB. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5, shingleN: Int = 3,
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minHashLshPairsFrom(signatures(df, idCol, textCol, shingleN), idCol,
      threshold, maxBucket)

  /** [[minHashLshPairs]] over an already-prepared [[signatures]] frame
    * (id, __hs, __sig) — the entry point for consumers of a persisted
    * per-corpus signature frame: the shingle+md5+minhash CPU is paid
    * once per corpus, while candidate generation, Jaccard verification
    * and everything downstream stay per-query computations. */
  def minHashLshPairsFrom(prepared: DataFrame, idCol: String,
                          threshold: Double = 0.5,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bands = bandsOf(prepared, idCol)
    // Candidate generation: ONE exchange on the band key via the shared
    // capped collect-list expansion (cappedBucketPairs); distinct
    // because a pair can share several bands
    val candidates = cappedBucketPairs(bands, "band", col(idCol), maxBucket)
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    verifyJaccard(candidates, prepared.select(col(idCol), col("__hs")), idCol, threshold)
  }

  /** Exact-Jaccard verification of (a, b) candidate pairs against the
    * (id, __hs) shingle sets. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame, idCol: String,
                            threshold: Double): DataFrame =
    candidates
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("__hs", "ha"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("__hs", "hb"), "b")
      .withColumn("jaccard", jaccard(col("ha"), col("hb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** Incremental near-dup pairs — dedup a NEW batch against an existing
    * corpus without re-signaturing the corpus (the daily-crawl shape):
    * only the new batch pays the shingle/minhash CPU; the corpus
    * contributes its precomputed [[bandIndex]] rows. Returns exactly
    * the pairs of the full recomputation that TOUCH the new batch:
    * new-vs-corpus and new-vs-new, under the same bucket caps (band
    * eligibility is decided by the TOTAL band population, index plus
    * new — identical to a full run's cap on the union).
    *
    * Plan shape — the index side never crosses an exchange: the batch's
    * band list (batch-scale, checkpointed) broadcast-semi-prunes the
    * index to touched bands map-side; the index then flows into ONE
    * aggregation (per-band counts) and ONE join keyed on `band`, both
    * of which reuse the scan's partitioning when the index is stored
    * bucketed by band (`Tables.writeBucketed(idx, t, "band", n)`) —
    * plan-asserted in BucketingSpec. Corpus-vs-corpus candidate pairs
    * are never generated at all (the earlier formulation expanded every
    * bucket of the union and semi-joined the batch's pairs back out; at
    * 100 TB the corpus-only pairs it threw away dominate that work).
    * The index feeds two branches (counts + the pair join) and so scans
    * twice; checkpointing it would erase the bucketed partitioning and
    * reintroduce both exchanges — a second bucketed scan is the cheaper
    * side of that trade.
    * `corpus` is consulted only to recompute shingle sets for the
    * candidate corpus docs (a semi-join prunes everything else). */
  def incrementalNearDupPairs(newDocs: DataFrame, corpus: DataFrame,
                              corpusIndex: DataFrame, idCol: String, textCol: String,
                              threshold: Double = 0.5, shingleN: Int = 3,
                              maxBucket: Int = DefaultMaxBucket): DataFrame =
    incrementalNearDupPairsFrom(
      signatures(newDocs, idCol, textCol, shingleN),
      candIds => signatures(
        corpus.join(candIds, Seq(idCol), "left_semi"), idCol, textCol, shingleN),
      corpusIndex, idCol, threshold, maxBucket)

  /** [[incrementalNearDupPairs]] over prepared [[signatures]] frames —
    * `newSig` is the batch's (id, __hs, __sig) frame and
    * `corpusSetsOf` maps the candidate-id frame to the candidate
    * corpus docs' signature rows (for a persisted per-corpus signature
    * frame that is one semi-join; the textual entry point above
    * recomputes them from the corpus text after the same prune). */
  def incrementalNearDupPairsFrom(newSig: DataFrame,
                                  corpusSetsOf: DataFrame => DataFrame,
                                  corpusIndex: DataFrame, idCol: String,
                                  threshold: Double = 0.5,
                                  maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val newIds = newSig.select(col(idCol).as("__nid"))
    // overlapping inputs (corpus already containing the batch) must not
    // present a doc's bands twice to the bucket cap — a doubled band
    // count near maxBucket would drop bands a full recomputation
    // keeps. The new frame wins (same rule as corpusHs below); the
    // broadcast anti-join is map-side, partitioning-preserving.
    val idx = corpusIndex.select(col(idCol), col("band"))
      .join(broadcast(newIds), col(idCol) === col("__nid"), "left_anti")
    // checkpoint: candNew feeds the two candIds projections plus the
    // final verify join
    val candNew = incrementalCandidates(idx, bandsOf(newSig, idCol), idCol,
      maxBucket, _.localCheckpoint(false)).localCheckpoint(false)
    // shingle sets: the new batch has them; candidate corpus docs
    // come from `corpusSetsOf` after a semi-join prune
    val candIds = candNew.select(col("a").as(idCol))
      .unionByName(candNew.select(col("b").as(idCol))).distinct()
    val corpusHs = corpusSetsOf(candIds)
      // overlapping inputs (corpus already containing the batch) must
      // not double a doc's set row — the new frame wins
      .join(broadcast(newIds), col(idCol) === col("__nid"), "left_anti")
      .select(col(idCol), col("__hs"))
    val sets = newSig.select(col(idCol), col("__hs")).unionByName(corpusHs)
    verifyJaccard(candNew, sets, idCol, threshold)
  }

  /** Candidate pairs touching the new batch — the exchange-free-index
    * core of [[incrementalNearDupPairs]] (see its scaladoc for the plan
    * contract). `idx` is the overlap-pruned corpus band index; `cp`
    * cuts reused batch-scale branches (localCheckpoint in production,
    * identity in plan-inspection tests so the index lineage stays
    * assertable — IncrementalPlanSpec). */
  private[llm] def incrementalCandidates(idx: DataFrame, newBands: DataFrame,
                                         idCol: String, maxBucket: Int,
                                         cp: DataFrame => DataFrame): DataFrame = {
    // batch-side per-band id lists, count-capped BEFORE collect_list
    // (cappedBucketPairs' spill guard: a band over the cap on the new
    // side alone is ineligible regardless of the index side, so it can
    // drop early); the window and the groupBy share one exchange
    val newAgg = cp(newBands
      .withColumn("__nc", count(lit(1)).over(Window.partitionBy(col("band"))))
      .filter(col("__nc") <= maxBucket)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("__nc"), array_sort(collect_list(col(idCol))).as("__nids"))
    ) // batch-scale; feeds the prune + two joins
    // index rows for bands the batch touches: broadcast semi, map-side
    val idxTouched = idx
      .join(broadcast(newAgg.select(col("band"))), Seq("band"), "left_semi")
    // eligibility by the TOTAL band population — the full run's cap
    val idxCounts = idxTouched.groupBy(col("band")).agg(count(lit(1)).as("__ic"))
    val eligible = cp(newAgg.join(idxCounts, Seq("band"), "left")
      .withColumn("__tot", col("__nc") + coalesce(col("__ic"), lit(0L)))
      .filter(col("__tot").between(2, maxBucket))
      .select(col("band"), col("__nids"))
    ) // batch-scale; feeds nn pairs + the nc join
    // new-vs-new: map-side expansion of each band's sorted id list
    val nnPairs = eligible.select(explode(flatten(transform(col("__nids"), x =>
        transform(filter(col("__nids"), y => y > x),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // new-vs-corpus: stream the index through a join keyed on band
    // (broadcast when the batch side is small); ids are disjoint by the
    // overlap anti-join, so least/greatest orders each pair exactly
    // like the sorted-list expansion does
    val ncPairs = idxTouched.join(eligible, Seq("band"))
      .select(col(idCol).as("__c"), explode(col("__nids")).as("__n"))
      .select(least(col("__n"), col("__c")).as("a"),
        greatest(col("__n"), col("__c")).as("b"))
    // a pair can share several bands -> distinct
    nnPairs.unionByName(ncPairs).distinct()
  }

  /** End-to-end corpus dedup: keep every document except the
    * non-representative members of a duplicate cluster (the component
    * label, i.e. the cluster's minimum id, is the one kept). The
    * broadcast anti-join keeps the corpus un-exchanged — the
    * components frame holds only clustered docs, ≪ the corpus (and the
    * checkpointed frame has no stats, so without the hint Spark plans
    * a sort-merge join that shuffles the whole corpus). */
  def keepOnePerCluster(df: DataFrame, idCol: String,
                        components: DataFrame): DataFrame = {
    val drops = components.filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    df.join(broadcast(drops), Seq(idCol), "left_anti")
  }

  /** Multi-signal ensemble dedup: union the pair sets of several
    * detectors (MinHash-LSH text pairs, embedding-cosine pairs, image
    * dHash pairs, …) into ONE duplicate graph, take connected
    * components, keep the component-min id. A near-dup caught by ANY
    * signal merges its cluster — the production behavior when text
    * rewrites dodge the shingle detector but not the embedding one
    * (or vice versa). Edge frames must expose (a, b) over one shared
    * id space. Components run at clustered-doc scale; the union is
    * |edges|-linear; `ccIters` defaults high because cross-signal
    * unions chain components the individual detectors kept apart
    * (exact-fixpoint early exit makes the bound free once converged). */
  def multiSignalKeepOne(universe: DataFrame, idCol: String,
                         pairs: Seq[DataFrame],
                         ccIters: Int = 32): DataFrame = {
    require(pairs.nonEmpty, "multiSignalKeepOne needs at least one pair frame")
    val edges = pairs.map(_.select(col("a"), col("b")))
      .reduce(_ unionByName _).distinct()
    val comp = graft.ops.Ops.connectedComponents(edges, "a", "b", ccIters)
    keepOnePerCluster(universe, idCol, comp)
  }

  /** Quality-priority variant of [[keepOnePerCluster]]: keep the
    * HIGHEST-`scoreCol` member of each duplicate cluster (ties break
    * on id asc) rather than the arbitrary min-id representative — the
    * curation behavior real pipelines want, e.g. keep the longest or
    * best-LM-scored copy of a near-duplicated page.
    *
    * Plan: every step before the final anti-join runs at CLUSTERED-doc
    * scale (≪ corpus): one equi-join attaches scores to cluster
    * members, one window keyed by label picks the top-1 (the
    * `rn === 1` filter keeps the map-side WindowGroupLimit partial
    * available), and the drop list broadcasts so the corpus itself
    * crosses no exchange. */
  def keepBestPerCluster(df: DataFrame, idCol: String, scoreCol: String,
                         components: DataFrame): DataFrame = {
    val labeled = components.select(col("node").as(idCol), col("label"))
    val scored = labeled.join(df.select(col(idCol), col(scoreCol)), Seq(idCol))
    val w = Window.partitionBy(col("label"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    val keeps = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).select(col(idCol))
    val drops = labeled.select(col(idCol)).join(keeps, Seq(idCol), "left_anti")
    df.join(broadcast(drops), Seq(idCol), "left_anti")
  }

  /** SimHash signature (default 16 bits): each bit is the sign of the
    * ±1 vote sum over word hashes. Near-dups differ in few bits;
    * grouping on the signature (or rotated sub-signatures) buckets
    * candidates without pair enumeration. */
  def simHash(wordHashes: Column, bits: Int = 16): Column =
    (0 until bits).map { b =>
      when(aggregate(wordHashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact Hamming distance via the engine's popcount intrinsic (one
    * codegen'd bit_count vs a 64-term shift/mask chain). */
  def hammingDist(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b)).cast("long")

  /** Signature width for `simHashPairs`. 48 bits (not the display
    * query's 16): split into 4 rotated 12-bit bands, each band key
    * ranges over 4096 values, so buckets stay selective — a 16-bit
    * signature would give only 64 possible buckets and quadratic
    * candidate blowup on any real corpus.
    *
    * The standard 31-bit word hash (`Text.md5Hash`, mod 2^31-1) would
    * leave bits 31-47 of a 48-bit simhash permanently zero — dead
    * bands. The pair signature therefore votes over a 48-bit word hash
    * taken straight from md5's first 12 hex chars (uniform bits, one
    * md5 per word, DuckDB-replayable as
    * ('0x' || substr(md5(w), 1, 12))::BIGINT). */
  val SimHashPairBits = 48
  private val SimHashBandBits = SimHashPairBits / 4

  /** 48-bit word hash for the pair signature (every simhash bit live). */
  def wordHash48(w: Column): Column =
    conv(substring(md5(w), 1, 12), 16, 10).cast("long")

  /** The 48-bit pair signature over a words array. */
  def simHashPairSig(wordsCol: Column): Column =
    graft.expr.kernels.NativeFns.simHash(
      transform(wordsCol, w => wordHash48(w)), SimHashPairBits)

  /** SimHash near-dup pairs — the banded dedup step over `simHash`
    * signatures. The 48-bit signature splits into 4 rotated 12-bit
    * bands; by pigeonhole any pair within Hamming distance 3 shares at
    * least one intact band, so grouping on (band#, band value) buckets
    * all candidates at that radius without pair enumeration, then an
    * exact Hamming check keeps pairs ≤ `maxHamming`. Same capped
    * one-exchange collect-list pair expansion as `minHashLshPairs`,
    * but the signature rides inside the collected struct so the verify
    * needs no join back. A pair can share several bands → distinct. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 2, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxHamming <= 3,
      s"4-band bucketing only guarantees recall up to Hamming distance 3; got $maxHamming")
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val mask = (1L << SimHashBandBits) - 1
    val sigs = df
      .filter(size(Text.words(col(textCol))) >= 1)
      .repartition(parallelism, col(idCol))
      .withColumn("__w", Text.words(col(textCol)))
      .withColumn("__sig", simHashPairSig(col("__w")))
      .select(col(idCol), col("__sig"))
    val bands = sigs.select(col(idCol), col("__sig"),
      explode(array((0 until 4).map(b =>
        concat_ws("_", lit(b.toString),
          shiftright(col("__sig"), b * SimHashBandBits).bitwiseAND(lit(mask)).cast("string"))): _*))
        .as("band"))
    // the signature rides inside the collected struct (id leads, so the
    // struct order is the id order) — the verify needs no join back
    cappedBucketPairs(bands, "band",
        struct(col(idCol).as("id"), col("__sig").as("sig")), maxBucket)
      .select(col("p.a.id").as("a"), col("p.b.id").as("b"),
        hammingDist(col("p.a.sig"), col("p.b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Generic banded near-dup pairs over 64-bit perceptual hashes
    * (id, hash nullable) — SimHash banding for any media fingerprint:
    * split the hash into 8 bands of 8 bits; by pigeonhole any pair
    * within Hamming distance 7 shares an intact band, so the band
    * equi-join buckets every candidate at that radius with no pair
    * enumeration, then the exact Hamming check keeps pairs ≤
    * `maxHamming`. Same capped one-exchange pair expansion as
    * [[simHashPairs]] (the hash rides in the collected struct — no
    * join back); undecodable assets (null hash) drop out up front. At
    * 100 TB the hash pass is map-side mapPartitions on the scan and
    * THIS is the only exchange: one hash partitioning over 8 tiny
    * (id, hash) band rows per asset — the shuffle carries fingerprints,
    * never pixels or samples. Entry points: [[imageNearDupPairs]]
    * (dHash), [[audioNearDupPairs]] (energy envelope). */
  def bandedHammingPairs(hashes: DataFrame, idCol: String,
                         hashCol: String, maxHamming: Int = 6,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxHamming <= 7,
      s"8-band bucketing only guarantees recall up to Hamming distance 7; got $maxHamming")
    val h = hashes.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).cast("long").as("__h"))
    val bands = h.select(col(idCol), col("__h"),
      explode(array((0 until 8).map(b =>
        concat_ws("_", lit(b.toString),
          shiftright(col("__h"), b * 8).bitwiseAND(lit(0xffL)).cast("string"))): _*))
        .as("band"))
    cappedBucketPairs(bands, "band",
        struct(col(idCol).as("id"), col("__h").as("sig")), maxBucket)
      .select(col("p.a.id").as("a"), col("p.b.id").as("b"),
        hammingDist(col("p.a.sig"), col("p.b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Image near-dup pairs over [[Multimodal.ImageIoDecoder.dHash]]
    * rows — see [[bandedHammingPairs]] for the machinery and scale
    * story. */
  def imageNearDupPairs(hashes: DataFrame, idCol: String,
                        hashCol: String = "dhash", maxHamming: Int = 6,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandedHammingPairs(hashes, idCol, hashCol, maxHamming, maxBucket)

  /** Audio near-dup pairs over [[Multimodal.WavDecoder.energyFingerprint]]
    * rows — amplitude-invariant by the fingerprint's difference coding,
    * same banded machinery. */
  def audioNearDupPairs(hashes: DataFrame, idCol: String,
                        hashCol: String = "afp", maxHamming: Int = 6,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandedHammingPairs(hashes, idCol, hashCol, maxHamming, maxBucket)

  /** Shared block-size cap, interpolated into the DuckDB oracle SQL so
    * the two engines can't silently drift (Similarity.DefaultMaxBucket
    * pattern). */
  val DefaultMaxBlock = 1000

  /** N-gram Jaccard near-dup with blocking: pairwise Jaccard over
    * hashed word n-gram sets, but only within blocks (e.g. language ×
    * length band) — the classic pre-LSH blocking strategy. The
    * quadratic part is confined to blocks, and a count-window
    * `maxBlock` cap drops degenerate hot blocks (one language × length
    * band holding a boilerplate flood) before they go O(block²) — the
    * guard a 100 TB corpus needs. Hashing the grams (md5 mod P) keeps
    * set ops integer-cheap with ~1e-7 collision odds.
    *
    * Plan shape mirrors `minHashLshPairs`: materialize the heavy
    * shingle+md5 prep once (it feeds the cap window plus both verify
    * joins; relying on ReuseExchange across the former self-join's two
    * sides did NOT hold under AQE — bench-measured 2.6× slower in
    * round 4), then ONE exchange on the block key where the cap window
    * and the collect_list group share the same hash partitioning, and
    * pairs expand map-side from each block's sorted id list. Each doc
    * sits in exactly one block, so pairs are unique — no distinct
    * needed. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockExpr: Column, n: Int = 2,
                        threshold: Double = 0.15,
                        maxBlock: Int = DefaultMaxBlock): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val prepared = df
      .filter(size(Text.words(col(textCol))) >= n)
      .repartition(parallelism, col(idCol))
      .withColumn("__blk", blockExpr)
      .withColumn("__w", Text.words(col(textCol)))
      .withColumn("__sh", Text.shingles(col("__w"), n))
      .withColumn("__g", array_distinct(transform(col("__sh"), s => Text.md5Hash(s))))
      .select(col(idCol), col("__blk"), col("__g"))
      .localCheckpoint(false)
    // each doc sits in exactly one block, so pairs are unique — no distinct
    val candidates = cappedBucketPairs(
        prepared.select(col(idCol), col("__blk")), "__blk", col(idCol), maxBlock)
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val sets = prepared.select(col(idCol), col("__g"))
    candidates
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("__g", "ga"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("__g", "gb"), "b")
      .withColumn("jaccard", jaccard(col("ga"), col("gb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Fuzzy record linkage: near-identical document pairs by EDIT
    * distance — the typo/OCR-noise/near-miss dedup signal none of the
    * set-based detectors (shingle Jaccard, MinHash, SimHash) measures
    * directly. Candidate generation is standard blocking: block key =
    * (first token, length band), with each document emitted into BOTH
    * its own length band (len div 8) and the next one up — a
    * single-character edit moves a document at most one band, so a
    * pair straddling a multiple-of-8 boundary (lengths 15 vs 16,
    * distance 1) still meets in the upper band; exact `levenshtein`
    * verifies ≤ `maxDist` within blocks. The remaining blocking-recall
    * trade is only the first token: an edit INSIDE it crosses blocks
    * and is missed (documented contract; multi-pass blocking on other
    * keys composes for higher recall, same as multiSignalKeepOne
    * unions detectors).
    *
    * Scale: the self-join meets only same-block rows and
    * `cappedBucketPairs` bounds the worst block (2× membership from
    * the band doubling, same cap contract); same-band pairs surface in
    * both shared blocks, so candidates dedup with one `distinct` —
    * candidate-scale, not corpus-scale. The verify cost is
    * O(len·maxDist) per CANDIDATE pair, never per corpus pair. NULL
    * texts drop up front (never a duplicate of anything). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 2,
                        maxBlock: Int = DefaultMaxBucket): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val prepared = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__t"))
    val band = floor(length(col("__t")) / 8).cast("long")
    val banded = prepared
      .withColumn("__band", explode(array(band, band + 1)))
      .withColumn("__blk", concat_ws("|",
        element_at(Text.words(col("__t")), 1), col("__band").cast("string")))
    val candidates = cappedBucketPairs(
        banded.select(col(idCol), col("__blk")), "__blk", col(idCol), maxBlock)
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    val texts = prepared.select(col(idCol), col("__t"))
    candidates
      .join(texts.withColumnRenamed(idCol, "a").withColumnRenamed("__t", "ta"), "a")
      .join(texts.withColumnRenamed(idCol, "b").withColumnRenamed("__t", "tb"), "b")
      // bounded form: O(len·maxDist) per pair with early abandon (-1
      // past the threshold) instead of the O(len²) full DP — same
      // kept set, the kernel a verify pass over long documents needs
      .withColumn("dist",
        levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Cross-document EXACT repeated k-token spans (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * public method; the substring-dedup signal their suffix-array
    * pipeline finds, here at fixed window width): every k-token
    * window whose exact text occurs in at least `minDf` DISTINCT
    * documents, reported as (doc, start, h, df) — the span-level
    * diagnostic (licence boilerplate, templated headers, quoted spam)
    * that document-level MinHash/SimHash structurally cannot see when
    * the surrounding text differs.
    *
    * Window keys are md5 of the space-joined window (EXACT-match
    * semantics, replayable in any engine — a polynomial rolling hash
    * would be cheaper per char but its modular arithmetic is not
    * portable SQL). The per-document window keys are built INSIDE one
    * `transform` over the positions (an interpreted HOF whose lambda
    * is dominated by the md5 itself) so the exploded rows carry only
    * (doc, start, 32-char key) — exploding positions first and
    * slicing after would materialize the full word array per window
    * row, O(n²) bytes per document. Shape: one corpus-scale explode
    * of window keys → hash agg on the key (map-side combined) →
    * semi-join detail. Start positions are 1-based. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minDf: Long = 2L): DataFrame = {
    // LAZY checkpoint: the key stream feeds both the qualifying-hash
    // aggregate and the detail join — without the pin the md5 window
    // pass (the dominant per-token cost) executes once per branch
    // (plan-visible as two Scan+Generate chains); lazy, so it
    // materializes inside the query's own job, no construction action
    val keyed = spanKeys(docs, idCol, textCol, k).localCheckpoint(false)
    val q = keyed.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("n_occ"))
      .filter(col("df") >= minDf)
    keyed.join(q, "h")
      .select(col(idCol), col("start"), col("h"), col("df"), col("n_occ"))
  }

  /** TRIM the repeated spans out of the corpus: every token covered by
    * any qualifying window (a [start, start+k-1] interval) drops, the
    * survivors rejoin in order — the REMOVAL face of [[repeatedSpans]]
    * (Lee et al. cut the duplicate span and keep both documents,
    * rather than dropping a whole document for one shared paragraph).
    * Returns one row per input document: (idCol, trimmed, n_tokens,
    * n_dropped) — a fully-covered or empty document surfaces with ''
    * and its drop count, never vanishes. Coverage = windows × k rows
    * (bounded by qualifying spans, not the corpus); the kept-token
    * rebuild is the decode convention (bounded per-doc collect). */
  def trimRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, minDf: Long = 2L): DataFrame = {
    // lazy pin — same two-consumer shape as [[repeatedSpans]]
    val keyed = spanKeys(docs, idCol, textCol, k).localCheckpoint(false)
    val q = keyed.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
    val cov = keyed.join(q.select(col("h")), "h")
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + lit(k - 1))).as("pos"))
      .distinct()
    trimWithCoverage(docs, cov, idCol, textCol)
  }

  /** The REMOVAL tail of [[trimRepeatedSpans]] against an explicit
    * coverage frame (idCol, pos) — factored out so the batch op and
    * the streaming gate ([[graft.streaming.Streams.spanTrimStream]],
    * which derives coverage incrementally from a standing span index)
    * share one trim computation and cannot drift. */
  private[graft] def trimWithCoverage(docs: DataFrame, cov: DataFrame,
                                      idCol: String,
                                      textCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
        posexplode(filter(Text.words(col(textCol)), w => length(w) > 0))
          .as(Seq("__p", "w")))
      .select(col(idCol), (col("__p") + 1).cast("long").as("pos"), col("w"))
    val totals = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n_tokens"))
    val rebuilt = tok.join(cov, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        s => s.getField("w")), " ").as("trimmed"),
        count(lit(1)).as("__kept"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left_outer")
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("trimmed"), lit("")).as("trimmed"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) -
          coalesce(col("__kept"), lit(0L))).as("n_dropped"))
  }

  /** MAXIMAL repeated spans: the qualifying k-windows of
    * [[repeatedSpans]] merged per document into maximal
    * (doc, start, len) intervals — overlapping or ADJACENT windows
    * (next start ≤ this start + k) fuse, so a 20-token shared
    * paragraph reports as ONE (start, len=20) interval instead of 13
    * overlapping width-8 windows. This is the fixed-k form of the
    * suffix-array maximal-match answer (Lee et al. 2021 report
    * maximal duplicate substrings; a fixed-width scan recovers the
    * same intervals for any match ≥ k by unioning its windows).
    * Returns (idCol, span_start, span_len, n_windows), starts
    * 1-based, len in tokens.
    *
    * Shape: qualifying windows only (bounded by repeated content, not
    * the corpus) → ONE hash exchange on the document for the
    * gaps-and-islands window pass → hash agg on (doc, island), which
    * reuses the same partitioning (no second exchange — verified in
    * the plan spec). The interval union is the same machinery
    * [[trimRepeatedSpans]] applies implicitly via its coverage
    * `distinct`; here the intervals themselves are the product. */
  def maximalRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, minDf: Long = 2L): DataFrame = {
    // lazy pin — same two-consumer shape as [[repeatedSpans]]
    val keyed = spanKeys(docs, idCol, textCol, k).localCheckpoint(false)
    val q = keyed.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
    val wins = keyed.join(q.select(col("h")), "h")
      .select(col(idCol), col("start"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("start"))
    val prev = lag(col("start"), 1).over(w)
    wins
      .withColumn("__new",
        when(prev.isNull || col("start") > prev + k, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + lit(k.toLong - 1L) - min(col("start")) + lit(1L))
          .as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_len"),
        col("n_windows"))
  }

  /** (idCol, start, h) window-key stream shared by the two span ops:
    * md5 keys built per document inside one transform (see
    * [[repeatedSpans]]), exploded with 1-based starts. */
  private[graft] def spanKeys(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k >= 2, s"span width k must be >= 2, got $k")
    docs.select(col(idCol),
        filter(Text.words(col(textCol)), w => length(w) > 0).as("__ws"))
      .filter(size(col("__ws")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("__ws")) - (k - 1)),
          i => md5(array_join(slice(col("__ws"), i, lit(k)), " "))))
        .as(Seq("__s", "h")))
      .select(col(idCol), (col("__s") + 1).cast("long").as("start"), col("h"))
  }
}
