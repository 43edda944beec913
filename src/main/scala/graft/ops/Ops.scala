package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.expr.Exprs

/** Whole-DataFrame operators (SURVEY.md §2.4-§2.9), each a
  * `DataFrame => DataFrame` designed for `.transform(...)` composition.
  * Every operator is a declarative Catalyst plan: joins pick
  * broadcast-hash automatically for small sides, windows shuffle once on
  * their partition keys, and aggregation is partial+final (map-side
  * combine) — nothing here collects to the driver.
  */
object Ops {

  /** W1 — the reference's flagship: dedup keep-latest-per-key
    * (user_transformer.py:236-320). pandas keeps the last *input* row on
    * timestamp ties; input order doesn't exist in a distributed engine,
    * so ties break on an explicit column instead (SURVEY.md §7.4.2).
    * One shuffle on `keys`; at 100 TB this is a single hash exchange and
    * per-partition sort — no global sort, no driver materialization. */
  def dedupKeepLatest(keys: Seq[String], ts: String, tieBreak: String)(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).desc_nulls_last, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** W1 keep-mode dispatcher (user_transformer.py:276-320): the
    * reference sorts by the parsed timestamp ascending with NaT first
    * and drop_duplicates with keep='last'|'first'|'all' — so 'last' is
    * keep-latest (null ts loses to any real one), 'first' is
    * keep-earliest (null ts wins), and 'all' reports only, passing
    * every row through unchanged. */
  def dedup(keys: Seq[String], ts: String, tieBreak: String,
            keep: String = "last")(df: DataFrame): DataFrame = keep match {
    case "all" => df
    case "last" | "latest" => dedupKeepLatest(keys, ts, tieBreak)(df)
    case "first" | "earliest" =>
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(ts).asc_nulls_first, col(tieBreak).asc)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    case other => throw new IllegalArgumentException(
      s"dedup: unknown keep mode '$other' (expected last|first|all)")
  }

  /** W1 stats detail channel (user_transformer.py:257-274): the
    * reference records, per duplicated key value, the record count and
    * the member id list before removing anything. Re-expressed as a
    * query — per-key dup_count, removed_count, the id keep-latest
    * retains, and the sorted member list — in ONE partial+final
    * aggregation on the dedup keys (max_by picks the same winner as
    * dedupKeepLatest's window: struct comparison puts a null ts below
    * any real one, matching desc_nulls_last). */
  def dedupStats(keys: Seq[String], ts: String, tieBreak: String)(df: DataFrame): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("dup_count"),
        max_by(col(tieBreak), struct(col(ts), col(tieBreak))).as("kept_id"),
        array_join(array_sort(collect_list(col(tieBreak).cast("string"))), ",").as("ids"))
      .filter(col("dup_count") > 1)
      .select((keys.map(col) :+ col("dup_count") :+
        (col("dup_count") - 1).as("removed_count") :+
        col("kept_id") :+ col("ids")): _*)

  /** Stratified (per-stratum quota) sampling — the curation move that
    * balances a corpus: keep at most `perStratum` rows per stratum,
    * chosen by a deterministic md5 order so reruns and incremental
    * builds agree. `row_number <= k` compiles to WindowGroupLimit:
    * each map task forwards at most k rows per stratum BEFORE the
    * exchange, so the shuffle carries ~k×|strata| rows at any input
    * size. */
  def stratifiedSample(stratCols: Seq[String], idCol: String, perStratum: Int)
                      (df: DataFrame): DataFrame = {
    val w = Window.partitionBy(stratCols.map(col): _*)
      .orderBy(graft.llm.Text.md5Hash(concat(lit("strat:"), col(idCol))), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum).drop("__rn")
  }

  /** W1, skew-safe variant: a hot key (one email with millions of
    * rows) would funnel into a single window partition. Salting splits
    * each key into `salt` shards, takes the per-shard winner (reduces
    * the hot key to `salt` rows), then runs the plain window on the
    * tiny intermediate. Result is identical to dedupKeepLatest — max
    * under (ts, tieBreak) is associative — asserted in PropertySpec. */
  def dedupKeepLatestSalted(keys: Seq[String], ts: String, tieBreak: String,
                            salt: Int = 16)(df: DataFrame): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(col(tieBreak)), lit(salt)))
    val local = dedupKeepLatest(keys :+ "__salt", ts, tieBreak)(salted)
    dedupKeepLatest(keys, ts, tieBreak)(local).drop("__salt")
  }

  /** Skew-safe equi-join for a power-law key distribution when AQE's
    * runtime skew split isn't available (non-AQE engines, streaming
    * microbatches): shard the big side's hot keys by hashing a
    * distributed column into `salt` shards, replicate the small side
    * across all shards, join on (key, shard). Deterministic (hash
    * salt, not rand()) so retried tasks produce identical output —
    * a correctness requirement under speculative execution. Result
    * equals the plain join (asserted in PropertySpec); cost is
    * |small| × salt replication. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 shardBy: String, salt: Int = 16,
                 joinType: String = "inner"): DataFrame = {
    // right/full outer would emit `salt` copies of every unmatched
    // small-side row (it was replicated across shards) — reject rather
    // than silently duplicate.
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedJoin: unsupported joinType '$joinType' — the replicated small side " +
        "would duplicate unmatched rows under right/full outer semantics")
    val b = big.withColumn("__salt", pmod(hash(col(shardBy)), lit(salt)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    b.join(s, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** P5 — null-key drop before dedup (user_transformer.py:247-249). */
  def dropNullKeys(keys: Seq[String])(df: DataFrame): DataFrame =
    df.filter(keys.map(col(_).isNotNull).reduce(_ && _))

  /** P6 — alias-coalescing projection (user_transformer.py:328-347):
    * for each target column, take the first present source column.
    * Missing sources resolve to NULL literals so heterogeneous inputs
    * normalize to one schema. */
  def coalesceAliases(targets: Seq[(String, Seq[String])])(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(targets.map { case (name, sources) =>
      val cols = sources.filter(have.contains).map(col)
      (if (cols.isEmpty) lit(null).cast("string") else coalesce(cols: _*)).as(name)
    }: _*)
  }

  /** J1 — auth-enrichment join (firebase_service.py:79-106, driven
    * per-row at :155). The reference's N+1 RPC loop with
    * exception→default is exactly a left-outer equi-join with
    * null-fill. The auth side broadcasts: it fits the reference's
    * reality — a bounded auth snapshot — and avoids shuffling the huge
    * users side. */
  def enrichFromAuth(users: DataFrame, auth: DataFrame, key: String): DataFrame = {
    val a = broadcast(auth.select(
      col(key),
      col("email").as("__auth_email"),
      col("email_verified").as("__auth_verified"),
      col("provider_ids").as("__auth_providers")))
    users.join(a, Seq(key), "left_outer")
      .withColumn("provider",
        when(array_contains(coalesce(col("__auth_providers"), array()), "google.com"), lit("google.com"))
          .when(col("__auth_email").isNotNull || col("email").isNotNull, lit("CREDENTIALS"))
          .otherwise(lit("google.com")))
      .withColumn("emailVerified", Exprs.cleanBool(col("__auth_verified")))
      .withColumn("authSource",
        when(col("email").isNotNull, "database")
          .when(col("__auth_email").isNotNull, "auth")
          .otherwise("none"))
      .withColumn("email", coalesce(col("email"), col("__auth_email")))
      .withColumn("hasEmail", col("email").isNotNull)
      .drop("__auth_email", "__auth_verified", "__auth_providers")
  }

  /** J2 — id-conflict resolution (main.py:143-157): incoming rows whose
    * id exists get a fresh uuid-20; the reference's O(n·m) Python list
    * scan becomes one broadcast left join flagging those ids (§2.9). */
  def resolveIdConflicts(incoming: DataFrame, existing: DataFrame, idCol: String,
                         newId: Column = Exprs.uuid20): DataFrame = {
    // broadcast matches the reference's in-memory id list
    val keys = broadcast(existing.select(col(idCol)).distinct().withColumn("__hit", lit(true)))
    val id = when(col("__hit"), newId.cast(incoming.schema(idCol).dataType)).otherwise(col(idCol))
    incoming.join(keys, Seq(idCol), "left_outer")
      .select(incoming.columns.map(c => if (c == idCol) id.as(c) else col(c)): _*)
  }

  /** Connected components by min-label propagation — the final step of
    * near-dup dedup (pair list → duplicate clusters → keep one doc per
    * cluster). Each iteration is one join + one min-aggregate, both
    * keyed shuffles linear in |edges|; labels converge to the
    * component's minimum id in at most `iters` ≥ graph-diameter rounds
    * (near-dup graphs are unions of small quasi-cliques, so single-digit
    * iters suffice; the alternating-star optimization only pays off at
    * web-graph diameters). Deterministic: min is order-independent. */
  def connectedComponents(edges: DataFrame, a: String = "a", b: String = "b",
                          iters: Int = 8): DataFrame = {
    // iters == 0 would return a plain plan still referencing the
    // checkpointed sym whose blocks the epilogue just dropped
    require(iters >= 1, s"connectedComponents needs iters >= 1, got $iters")
    // Iterative plans MUST cut lineage per round: the edge set is read
    // every iteration and each round's labels feed the next, so an
    // uncheckpointed loop nests the upstream plan 2^iters times
    // (exponential analysis and recompute cost). Each round's frontier
    // checkpoints EAGERLY — the convergence test below needs an action
    // per round anyway, so building this DataFrame runs Spark jobs
    // (it is an executed loop, not a lazily-declared plan).
    // Superseded frontiers are unpersisted as soon as the next round's
    // frontier is materialized — at cluster scale a big label set
    // would otherwise pin one copy of the blocks per round until GC.
    // Checkpoint the edge plan FIRST: the symmetric union references it
    // twice, which would otherwise execute the (often expensive)
    // pair-generation pipeline twice.
    val e = edges.localCheckpoint(false)
    // sym stays a PLAIN union of two projections of the checkpointed
    // edge blocks: each round re-derives it map-side from e (near-free
    // block reads — the per-round join shuffles it either way), where
    // a second checkpoint here cost one more materialization job per
    // CC call for nothing
    val sym = e.select(col(a).as("src"), col(b).as("dst"))
      .unionByName(e.select(col(b).as("src"), col(a).as("dst")))
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    // Early termination: propagation is monotone (a node's label only
    // ever decreases), so for integral ids an unchanged sum(label) is an
    // EXACT fixpoint test — any label change strictly lowers the sum,
    // and integral values survive the decimal(38,0) cast losslessly.
    // Fractional and non-numeric ids fall back to a sum-of-xxhash64
    // checksum (a missed change needs a 2^-64-scale multiset-sum
    // collision, and `iters` still bounds the loop). Real near-dup
    // graphs are quasi-cliques that converge in 2-3 rounds, so paying
    // one small agg action per round to stop early beats always running
    // the full `iters` rounds.
    val integralLabel = {
      import org.apache.spark.sql.types._
      labels.schema("label").dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case d: DecimalType if d.scale == 0 => true // lossless under the cast
        case _ => false
      }
    }
    val checksumTerm =
      if (integralLabel) col("label") else xxhash64(col("node"), col("label"))
    var prev: java.math.BigDecimal = null
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val superseded = labels
      val viaNeighbor = sym.join(superseded, sym("dst") === superseded("node"))
        .select(sym("src").as("node"), col("label"))
      // The convergence checksum rides the SAME job that materializes
      // the round's checkpoint: observe() collects the sum as rows
      // stream into the checkpoint action, so each round costs ONE job
      // instead of checkpoint + separate agg scan over the frontier.
      val obs = org.apache.spark.sql.Observation()
      labels = superseded.unionByName(viaNeighbor)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .observe(obs, sum(checksumTerm.cast("decimal(38,0)")).as("checksum"))
        .localCheckpoint(true) // eager: materialized before the drop below
      // sum over an empty frame is null; the node set never changes
      // across rounds, so a fixed sentinel can't collide round-to-round
      val s = obs.get("checksum") match {
        case null => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      }
      // round 0's frontier is a plain plan (nothing cached to drop);
      // every later round supersedes a checkpointed frontier
      if (round > 0) Bridge.unpersistLocalCheckpoint(superseded)
      converged = prev != null && prev == s
      prev = s
      round += 1
    }
    // the returned frontier is its own checkpoint; the edge caches are
    // dead once the loop stops re-reading them
    Bridge.unpersistLocalCheckpoint(e)
    labels
  }

  /** K4 at data-lake scale — MERGE/upsert semantics over immutable
    * storage: rows of `existing` whose key reappears in `incoming` are
    * replaced; everything else unions through. One anti-join (keys
    * broadcast when small, shuffle otherwise — Catalyst decides) plus
    * a union; the rewrite-then-swap pattern every parquet/lakehouse
    * upsert compiles down to. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(incoming.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(incoming)

  /** §2.8 — validation split with error channel
    * (user_transformer.py:322-392): rows fail checks, not the job.
    * Each check is (errorTag, badCondition); failures collect into an
    * `errors` array column, the valid/invalid channels are filters over
    * `size(errors)` — all inside codegen, no per-row try/catch. */
  def withErrors(checks: Seq[(String, Column)])(df: DataFrame): DataFrame =
    df.withColumn("errors",
      filter(array(checks.map { case (tag, bad) => when(bad, lit(tag)) }: _*),
        e => e.isNotNull))

  def validateSplit(checks: Seq[(String, Column)])(df: DataFrame): (DataFrame, DataFrame) = {
    val flagged = withErrors(checks)(df)
    (flagged.filter(size(col("errors")) === 0).drop("errors"),
      flagged.filter(size(col("errors")) > 0))
  }

  /** A9 — transformation report (user_transformer.py:457-477) as a
    * single-pass conditional aggregate over the flagged frame. */
  def validationReport(flagged: DataFrame): DataFrame = {
    val valid = size(col("errors")) === 0
    flagged.agg(
      count(lit(1)).as("total"),
      count(when(valid, 1)).as("valid"),
      count(when(!valid, 1)).as("invalid"))
      .withColumn("success_rate", Exprs.percent(col("valid"), col("total")))
  }

  /** A1/J3 — duplicate-key detail (user_transformer.py:252-274). */
  def duplicateKeyStats(df: DataFrame, key: String, idCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("cnt"),
        array_join(array_sort(collect_list(col(idCol).cast("string"))), ",").as("ids"))
      .filter(col("cnt") > 1)

  /** A2-A6 — distribution stats bundle (postgres_loader.py:426-472). */
  def groupedCounts(df: DataFrame, key: Column, alias: String): DataFrame =
    df.groupBy(key.as(alias)).agg(count(lit(1)).as("cnt"))

  /** As-of (backward) join — for each left row, the latest right row
    * with the same keys and rightTs <= leftTs. Spark has no native
    * as-of operator; the scale-correct composition is the union trick:
    * tag both sides, union, and carry the most recent right payload
    * forward with last(ignoreNulls) over one (keys, ts) window. ONE
    * shuffle + sort, linear in |left|+|right| — versus the naive
    * join-then-filter, which explodes on hot keys. Right rows sort
    * before left rows at equal ts, so the match is inclusive
    * (leftTs >= rightTs), matching SQL ASOF JOIN semantics.
    * `payload` names right columns to attach (pre-rename them to avoid
    * collisions with left columns). When several right rows tie on
    * (keys, ts), `tieBreak` (a right column, typically the id) makes
    * the winner deterministic — the greatest value wins; without it
    * the choice among tied right rows is engine order. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               tieBreak: Option[String] = None): DataFrame =
    asofImpl(left, right, keys, leftTs, rightTs, payload, tieBreak,
      forward = false)

  /** Forward as-of: each left row takes the EARLIEST right row at or
    * after its timestamp (next sensor reading, next price tick, next
    * follow-up event) — the mirror of [[asofJoin]]'s latest-at-or-
    * before. Same union + single-window shape, with the frame flipped
    * to [current, unbounded following] and `first(ignoreNulls)`;
    * equal-ts right rows DO match (the left row sorts before them),
    * ties take the LOWEST tieBreak (the mirror of backward's
    * highest). */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String, payload: Seq[String],
                      tieBreak: Option[String] = None): DataFrame =
    asofImpl(left, right, keys, leftTs, rightTs, payload, tieBreak,
      forward = true)

  /** As-of join with a STALENESS TOLERANCE — the feature-store
    * serving rule: the latest-at-or-before match counts only when it
    * is no older than `toleranceSeconds`; a staler match becomes NULL
    * payload, because silently serving an outdated feature trains on
    * the wrong world state (every point-in-time store exposes exactly
    * this knob). Composed from [[asofJoin]] by riding the matched
    * right timestamp inside the payload struct and nulling
    * out-of-window matches map-side — same single-shuffle shape,
    * zero extra passes. */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
                        leftTs: String, rightTs: String, payload: Seq[String],
                        toleranceSeconds: Long,
                        tieBreak: Option[String] = None): DataFrame = {
    require(toleranceSeconds >= 0,
      s"toleranceSeconds must be >= 0, got $toleranceSeconds")
    require(!right.columns.contains("__rts") && !left.columns.contains("__rts"),
      "asofJoinTolerance reserves the __rts column name")
    val r2 = right.withColumn("__rts", col(rightTs))
    val joined = asofJoin(left, r2, keys, leftTs, rightTs,
      payload :+ "__rts", tieBreak)
    val fresh = col("__rts").isNotNull &&
      unix_micros(col(leftTs)) - unix_micros(col("__rts")) <=
        toleranceSeconds * 1000000L
    payload.foldLeft(joined) { (df, p) =>
      df.withColumn(p, when(fresh, col(p)))
    }.drop("__rts")
  }

  private def asofImpl(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTs: String, rightTs: String, payload: Seq[String],
                       tieBreak: Option[String], forward: Boolean): DataFrame = {
    val leftCols = left.columns.filterNot(c => keys.contains(c) || c == leftTs)
    val tb = tieBreak.map(t => lit(null).cast(right.schema(t).dataType).as("__tb")).toSeq
    val tbR = tieBreak.map(t => col(t).as("__tb")).toSeq
    // ALL payload columns ride in ONE struct per right row: taking
    // last(ignoreNulls) of each payload column separately would skip a
    // right row whose payload value is legitimately NULL (resurrecting
    // a stale value) and could stitch together columns from DIFFERENT
    // right rows. The struct is non-null exactly for right rows, so
    // ignoreNulls skips only the interleaved left rows.
    val lPart = left.select(
      keys.map(col) ++ Seq(col(leftTs).as("__ts"), lit(1).as("__side")) ++ tb ++
        leftCols.map(col) :+
        lit(null).cast("struct<" + payload.map(p =>
          s"$p:${right.schema(p).dataType.sql}").mkString(",") + ">").as("__r"): _*)
    val rPart = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"), lit(0).as("__side")) ++ tbR ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("__r"): _*)
    // backward: right rows at equal ts sort BEFORE the left row (side
    // asc) so the [preceding, current] frame includes them; forward:
    // they sort AFTER (side desc) so [current, following] does.
    val order = Seq(col("__ts").asc,
      if (forward) col("__side").desc else col("__side").asc) ++
      tieBreak.map(_ => col("__tb").asc_nulls_last)
    val w0 = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val w = if (forward) w0.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      else w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pick = if (forward) first(col("__r"), ignoreNulls = true)
      else last(col("__r"), ignoreNulls = true)
    payload.foldLeft(
      lPart.unionByName(rPart)
        .withColumn("__match", pick.over(w))) {
      (df, p) => df.withColumn(p, col(s"__match.$p"))
    }
      .filter(col("__side") === 1)
      .drop(Seq("__side", "__r", "__match") ++ tieBreak.map(_ => "__tb"): _*)
      .withColumnRenamed("__ts", leftTs)
  }

  /** Gap-based sessionization: a new session starts when the gap since
    * the previous event of the same keys exceeds `gapSeconds`. Session
    * index = running count of session starts — lag and the running sum
    * share one (keys, ts) sort, so this is a single shuffle end to end.
    * The standard first step of any behavioral/training pipeline over
    * event logs. */
  def sessionize(keys: Seq[String], ts: String, gapSeconds: Long)(df: DataFrame): DataFrame = {
    val order = Window.partitionBy(keys.map(col): _*).orderBy(col(ts))
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(ts), 1).over(order)
    val isNew = when(prev.isNull ||
      unix_micros(col(ts)) - unix_micros(prev) > gapSeconds * 1000000L, 1L).otherwise(0L)
    df.withColumn("session_id", sum(isNew).over(running))
  }

  /** Range join via binning: join fact rows to interval dims
    * (lo <= v < hi) without a cartesian product. Each interval explodes
    * to the fixed-width bins it overlaps; the join is an equi-join on
    * the bin plus the residual range predicate. Shuffle is linear in
    * facts + expanded dims (intervals/binWidth), the classic interval
    * join at scale. Dim tables are typically tiny → broadcast. */
  def rangeJoinBinned(fact: DataFrame, ranges: DataFrame, factVal: String,
                      lo: String, hi: String, binWidth: Double): DataFrame = {
    // floor(hi/W) may add one empty trailing bin when hi sits exactly on
    // a bin boundary — harmless (the residual predicate drops it). An
    // epsilon subtraction instead would silently LOSE facts whose value
    // lands within the epsilon above the boundary.
    val dims = broadcast(ranges.withColumn("__bin",
      explode(sequence(floor(col(lo) / binWidth).cast("long"),
        floor(col(hi) / binWidth).cast("long")))))
    fact.withColumn("__bin", floor(col(factVal) / binWidth).cast("long"))
      .join(dims, Seq("__bin"))
      .filter(col(factVal) >= col(lo) && col(factVal) < col(hi))
      .drop("__bin")
  }

  /** Preference-pair extraction — RLHF-style training pairs from a
    * feedback log: per key, the highest-scored item is `chosen`, the
    * lowest `rejected`, with the score margin. Ties break by item id
    * (deterministic on any engine); keys whose extremes coincide or
    * whose margin is zero produce NO pair (a preference needs a
    * strict ordering). One hash exchange on the key and two window
    * ranks that share it — the whole log crosses the cluster once.
    * At 100 TB the key is (user, context) and the log is the event
    * stream; the output feeds a reward-model trainer directly. */
  def preferencePairs(df: DataFrame, keyCol: String, idCol: String,
                      scoreCol: String): DataFrame = {
    val wBest = Window.partitionBy(col(keyCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val wWorst = Window.partitionBy(col(keyCol))
      .orderBy(col(scoreCol).asc, col(idCol))
    df.select(col(keyCol), col(idCol), col(scoreCol))
      .withColumn("__rb", row_number().over(wBest))
      .withColumn("__rw", row_number().over(wWorst))
      .groupBy(col(keyCol)).agg(
        max(when(col("__rb") === 1, col(idCol))).as("chosen"),
        max(when(col("__rb") === 1, col(scoreCol))).as("chosen_score"),
        max(when(col("__rw") === 1, col(idCol))).as("rejected"),
        max(when(col("__rw") === 1, col(scoreCol))).as("rejected_score"))
      .filter(col("chosen") =!= col("rejected") &&
        col("chosen_score") > col("rejected_score"))
      .select(col(keyCol), col("chosen"), col("rejected"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
  }

  /** Funnel analysis — how many keys complete each prefix of an
    * ordered step sequence, with earliest-completion semantics: step i
    * is reached at the MINIMUM event time strictly after the time step
    * i-1 was reached. Built as one filtered aggregation per step
    * (the step filter pushes to the scan, so each pass reads one
    * step's partition of the log) chained by equi-joins on the key —
    * k linear aggregations for a k-step funnel, no window over the
    * whole log, no per-key sequence materialization. Returns
    * (step_idx, step, n_keys).
    *
    * `maxGap` bounds each step to a conversion window: step i must
    * land in (t(i-1), t(i-1) + maxGap] — the "complete within 7 days"
    * product-analytics convention. The anchor is GREEDY: each step
    * binds to the EARLIEST completion of the previous step, and an
    * expired window does not re-anchor to a later occurrence — the
    * deterministic, engine-replayable convention (re-anchoring is a
    * different product question and a different operator). Pass an
    * interval literal, e.g. `expr("INTERVAL 7 DAYS")`.
    *
    * For long funnels (large k) or logs too expensive to re-scan per
    * step, [[funnelSinglePass]] computes the identical result in one
    * scan. */
  def funnel(events: DataFrame, keyCol: String, stepCol: String,
             tsCol: String, steps: Seq[String],
             maxGap: Option[Column] = None): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct: $steps")
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.select(col(keyCol).as("__k"), col(stepCol).as("__s"),
      col(tsCol).as("__t"))
    // checkpoint each step's reached-frame (per-key rows, ≤ |keys|):
    // without the cut, counting step k re-runs steps 0..k-1's scans —
    // O(k²) passes over the log instead of one pushed scan per step
    var reached = base.filter(col("__s") === steps.head)
      .groupBy(col("__k")).agg(min(col("__t")).as("__prev"))
      .localCheckpoint(false)
    val counts = Seq.newBuilder[(Long, String, Long)]
    counts += ((0L, steps.head, reached.count()))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      reached = base.filter(col("__s") === s)
        .join(reached, "__k")
        .filter(col("__t") > col("__prev") &&
          maxGap.map(g => col("__t") <= col("__prev") + g).getOrElse(lit(true)))
        .groupBy(col("__k")).agg(min(col("__t")).as("__prev"))
        .localCheckpoint(false)
      counts += ((i.toLong, s, reached.count()))
    }
    counts.result().toDF("step_idx", "step", "n_keys")
  }

  /** Single-pass funnel — identical semantics to [[funnel]]
    * (differential-spec'd equal, windowed and not), ONE scan of the
    * log regardless of step count: step-filtered events cross one hash
    * exchange on the key, each key's time-ordered event list folds
    * through a running min chain (an event completes step i when its
    * step matches, step i is still open, and it lands inside step
    * i-1's window — scanning in time order makes the first such event
    * the minimum), and one tiny aggregation counts completions per
    * step. The fold is an interpreted higher-order function over a
    * per-key list bounded by that key's own step events — the shape to
    * prefer when k is large (a 10-step funnel is 10 pushed scans of a
    * 100 TB log in [[funnel]], one scan here) or when the log is not
    * cheaply re-scannable; the k-scan shape wins when k is small and
    * the step predicates are selective pushed filters. */
  def funnelSinglePass(events: DataFrame, keyCol: String, stepCol: String,
                       tsCol: String, steps: Seq[String],
                       maxGap: Option[Column] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val counted = funnelCompletions(events, keyCol, stepCol, tsCol, steps, maxGap)
      .select(posexplode(col("__done")).as(Seq("__i", "__t")))
      .groupBy(col("__i")).agg(count(col("__t")).as("__n"))
    // left-join a literal steps frame so every step reports (0 on an
    // empty log), matching the k-scan variant's always-k-rows output
    steps.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("step_idx", "step")
      .join(counted, col("step_idx") === col("__i"), "left")
      .select(col("step_idx"), col("step"),
        coalesce(col("__n"), lit(0L)).as("n_keys"))
      .orderBy("step_idx")
  }

  /** Per-key step-completion times — the single-pass funnel core:
    * step-filtered events cross one hash exchange on the key, each
    * key's time-ordered event list folds through the running min
    * chain. Returns (__k, __done: array of k completion timestamps,
    * null = step not reached). */
  private def funnelCompletions(events: DataFrame, keyCol: String,
                                stepCol: String, tsCol: String,
                                steps: Seq[String],
                                maxGap: Option[Column]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct: $steps")
    val k = steps.size
    val base = events.select(col(keyCol).as("__k"), col(stepCol).as("__s"),
        col(tsCol).as("__t"))
      .filter(col("__s").isin(steps: _*))
    val tsType = base.schema("__t").dataType
    val evs = base.groupBy(col("__k"))
      .agg(array_sort(collect_list(struct(col("__t").as("t"), col("__s").as("s"))))
        .as("__evs"))
    val init = array((0 until k).map(_ => lit(null).cast(tsType)): _*)
    evs.select(col("__k"),
      aggregate(col("__evs"), init, (acc, e) => array((0 until k).map { i =>
        val prevOk =
          if (i == 0) lit(true)
          else acc.getItem(i - 1).isNotNull &&
            e.getField("t") > acc.getItem(i - 1) &&
            maxGap.map(g => e.getField("t") <= acc.getItem(i - 1) + g)
              .getOrElse(lit(true))
        // an event carries ONE step, so at most one i matches and the
        // simultaneous array update never reads its own write
        coalesce(acc.getItem(i),
          when(e.getField("s") === steps(i) && prevOk, e.getField("t")))
      }: _*)).as("__done"))
  }

  /** Time-to-convert per funnel step: for every key that reached step
    * i, the elapsed time from its step-0 completion, reported as
    * EXACT integer microseconds (n_keys, sum_us, max_us — mean is
    * sum/n for the consumer; exact integers keep the result
    * partitioning-independent and oracle-replayable, the Exprs.dsum
    * principle applied to durations). Same one-scan plan as
    * [[funnelSinglePass]] — the fold already carries every step's
    * completion time, so timings are one projection away; the k-scan
    * variant would need k more joins to assemble the same rows. */
  def funnelTimings(events: DataFrame, keyCol: String, stepCol: String,
                    tsCol: String, steps: Seq[String],
                    maxGap: Option[Column] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val done = funnelCompletions(events, keyCol, stepCol, tsCol, steps, maxGap)
    val timed = done
      .select(posexplode(col("__done")).as(Seq("__i", "__t")),
        unix_micros(col("__done").getItem(0)).as("__t0"))
      .filter(col("__t").isNotNull)
      .select(col("__i"), (unix_micros(col("__t")) - col("__t0")).as("__us"))
      .groupBy(col("__i"))
      .agg(count(lit(1)).as("__n"), sum(col("__us")).as("__sum"),
        max(col("__us")).as("__max"))
    steps.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("step_idx", "step")
      .join(timed, col("step_idx") === col("__i"), "left")
      .select(col("step_idx"), col("step"),
        coalesce(col("__n"), lit(0L)).as("n_keys"),
        coalesce(col("__sum"), lit(0L)).as("sum_us"),
        coalesce(col("__max"), lit(0L)).as("max_us"))
      .orderBy("step_idx")
  }

  /** Weighted PageRank in EXACT integer arithmetic — the graph
    * centrality staple (behavior graphs, domain link graphs, citation
    * curation). Ranks live in parts-per-billion integers; each
    * iteration is floor-division integer math end to end
    * (contribution = r·w div W, update = ((100−d)·base + d·contrib)
    * div 100), so the result is partitioning-independent and an
    * oracle replays it bit-for-bit — the same determinism discipline
    * as NgramLm's micro-nats. Dangling-node mass leaks (not
    * redistributed), the common simplification; ranks then sum to
    * slightly under `scale` — documented, deterministic.
    *
    * Scale shape per iteration = one broadcast-or-shuffle join of the
    * edge list with the (|nodes|-sized) rank frame + one groupBy(dst)
    * with map-side combine — linear in edges, the Pregel shuffle
    * profile without driver involvement; per-iteration
    * localCheckpoints bound lineage like connectedComponents. Fixed
    * `iters` keeps the computation replayable as unrolled SQL. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: Option[String] = None, iters: Int = 3,
               dampingPct: Int = 85, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct in [0,100]: $dampingPct")
    val w = weightCol.map(col).getOrElse(lit(1L)).cast("long")
    // out-weight via a window over the edge frame (not a groupBy
    // self-join — avoids duplicate-lineage attribute ambiguity and an
    // extra join); checkpointed once, reused by every iteration
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        w.as("__w"))
      .withColumn("__ow", sum(col("__w")).over(Window.partitionBy(col("__src"))))
      .localCheckpoint(false)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct().localCheckpoint(false)
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val base = scale / n
    var ranks = nodes.withColumn("r", lit(base))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "__src"), "__src")
        .select(col("__dst").as("node"),
          expr("r * __w div __ow").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__c"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), coalesce(col("__c"), lit(0L)).as("__c"))
        // `div`, never `/`: Column./ is DOUBLE division — the exact
        // integer chain must stay integral (contaminationReport rule)
        .select(col("node"), expr(
          s"(${100L - dampingPct}L * ${base}L + ${dampingPct}L * __c) div 100")
          .as("r"))
        .localCheckpoint(false)
    }
    ranks.select(col("node"), col("r").as("rank_ppb"))
  }

  /** Exact-sum Pearson correlation: every sum (x, y, x², y², xy) goes
    * through the exact decimal path, so the only floating-point steps
    * are the FINAL combining ops — identical on any engine, unlike
    * built-in corr whose running double sums depend on partition
    * order. One aggregation, map-side combined. `scale` must make x
    * and y exact; products use 2×scale. */
  def exactCorr(df: DataFrame, xCol: String, yCol: String,
                scale: Int = 2): DataFrame = {
    val (x, y) = (col(xCol), col(yCol))
    df.agg(
      count(lit(1)).as("n"),
      Exprs.dsum(x, scale).as("sx"),
      Exprs.dsum(y, scale).as("sy"),
      Exprs.dsum(x * x, scale * 2).as("sxx"),
      Exprs.dsum(y * y, scale * 2).as("syy"),
      Exprs.dsum(x * y, scale * 2).as("sxy"))
      .select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("corr"))
  }

  /** Per-group describe — [[summaryStats]] with a GROUP BY: the
    * per-source/per-type profile every pipeline report wants. Same
    * exact-decimal-sum discipline, so values are partitioning-
    * independent and replay bit-identically in any engine; one
    * partial+final aggregation, group count never matters. */
  def groupedSummaryStats(df: DataFrame, groupCol: String, c: String,
                          scale: Int = 2): DataFrame = {
    val x = col(c)
    df.groupBy(col(groupCol)).agg(
      count(x).as("cnt"),
      min(x).cast("double").as("min_v"),
      max(x).cast("double").as("max_v"),
      Exprs.dsum(x, scale).as("sum_v"),
      Exprs.dsum(x * x, scale * 2).as("sum_sq"))
      .select(col(groupCol), col("cnt"), col("min_v"), col("max_v"), col("sum_v"),
        (col("sum_v") / col("cnt")).as("mean_v"),
        sqrt(greatest(lit(0.0),
          (col("sum_sq") - col("sum_v") * col("sum_v") / col("cnt")) / (col("cnt") - 1)))
          .as("std_v"))
  }

  /** A8 — deterministic summary statistics (sql_extraction.py:574's
    * `describe()`): count/min/max/mean/std from exact decimal sums so
    * results don't depend on partitioning (see Exprs.dsum). `scale`
    * must make the column exact; squares use 2×scale. */
  /** Join-blowup audit — the "estimate before you shuffle" diagnostic
    * a 100 TB join needs: per-key multiplicities on both sides, the
    * exact output cardinality each key will produce (nl·nr), and its
    * per-mille share of the total join size. Run on the join keys
    * BEFORE committing the join; a single key carrying 30% of the
    * output is the signal to salt it or drop it. Cost: one hash agg
    * per side over the keys (map-side combined), an equi-join of the
    * two count frames (≪ inputs), the 1-row total broadcast back, and
    * a TakeOrderedAndProject top-k — never a sort or a window over the
    * full key domain. */
  def joinBlowupEstimate(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val lc = left.groupBy(col(leftKey).as("key")).agg(count(lit(1)).as("nl"))
    val rc = right.groupBy(col(rightKey).as("key")).agg(count(lit(1)).as("nr"))
    val j = lc.join(rc, "key")
      .select(col("key"), col("nl"), col("nr"),
        (col("nl") * col("nr")).as("out_rows"))
    val total = j.agg(coalesce(sum(col("out_rows")), lit(0L)).as("__tot"))
    j.crossJoin(broadcast(total))
      .withColumn("share_pm", expr("out_rows * 1000 div __tot"))
      .drop("__tot")
      .orderBy(col("out_rows").desc, col("key"))
      .limit(k)
  }

  /** Per-node triangle counts over an undirected simple graph — the
    * cluster-density diagnostic for dedup pair graphs (a triangle-rich
    * component is a true duplicate clique; a triangle-free one is a
    * fragile similarity chain that transitive keep-one may over-merge)
    * and the classic graph-analytics kernel. Input edges may be
    * directed/duplicated/self-looped; they canonicalize to distinct
    * (min, max) pairs first.
    *
    * Algorithm: degree-ordered edge orientation (Latapy 2008 — the
    * standard distributed formulation): each edge points from the
    * (degree, id)-smaller endpoint to the larger, every triangle is
    * enumerated exactly once from its smallest-rank vertex, and — the
    * scale property — a degree-d hub generates wedges bounded by its
    * FORWARD degree O(√|E|), not d², so social-graph-style skew cannot
    * produce a quadratic join. The found (x, y, z) triangles explode
    * to per-node counts; nodes in no triangle report 0. Join keys are
    * plain equi-hashes; the orientation predicate rides the wedge
    * join. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("da")).otherwise(col("db")).as("du"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
    val vFirst = col("x.dv") < col("y.dv") ||
      (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && vFirst)
      .select(col("x.u").as("x"), col("x.v").as("y"), col("y.v").as("z"))
    val closing = oriented.select(col("u").as("y"), col("v").as("z"))
    val tri = wedges.join(closing, Seq("y", "z"), "left_semi")
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
    deg.select(col("n").as("node"))
      .join(perNode.select(col("n").as("node"), col("n_triangles")), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** SFT conversation assembly — the step that turns an event log into
    * supervised fine-tuning transcripts: per key, the time-ordered
    * (role, content) turns joined into one "role: content\n..."
    * transcript, plus the role-alternation audit (chat-format training
    * data requires roles to alternate; `n_repeats` counts adjacent
    * same-role turns, the rows a strict formatter must merge or drop).
    * Emits md5(transcript) rather than the transcript itself — the
    * hash is what dedup/drift layers consume, and it keeps the output
    * row narrow.
    *
    * Order is deterministic end to end: turns sort by (ts, id) both in
    * the lag window and inside `sort_array` (struct comparison is
    * field-lexicographic), so ties can't reorder across engines.
    *
    * Shape: ONE hash exchange on the key — the lag window and the
    * rollup share the partitioning. The per-key `collect_list` is
    * bounded by conversation length (turns per key), the operator's
    * inherent output row — NOT by corpus size; a key's transcript that
    * cannot fit an executor cannot be a training example either. */
  def sftConversations(events: DataFrame, keyCol: String, tsCol: String,
                       idCol: String, roleCol: String,
                       contentCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    events
      .select(col(keyCol), col(tsCol), col(idCol), col(roleCol).as("__role"),
        concat(col(roleCol), lit(": "), coalesce(col(contentCol), lit("")))
          .as("__turn"))
      .withColumn("__prev", lag(col("__role"), 1).over(w))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("__prev").isNotNull && col("__prev") === col("__role"), 1L)
          .otherwise(0L)).as("n_repeats"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col(tsCol).as("t"), col(idCol).as("i"),
            col("__turn").as("s")))),
          x => x.getField("s")), "\n")).as("convo_hash"))
      .withColumn("alternation_ok", col("n_repeats") === 0L)
  }

  def summaryStats(df: DataFrame, c: String, scale: Int = 2): DataFrame = {
    val x = col(c)
    df.agg(
      count(x).as("cnt"),
      min(x).cast("double").as("min_v"),
      max(x).cast("double").as("max_v"),
      Exprs.dsum(x, scale).as("sum_v"),
      Exprs.dsum(x * x, scale * 2).as("sum_sq"))
      .select(col("cnt"), col("min_v"), col("max_v"), col("sum_v"),
        (col("sum_v") / col("cnt")).as("mean_v"),
        sqrt(greatest(lit(0.0),
          (col("sum_sq") - col("sum_v") * col("sum_v") / col("cnt")) / (col("cnt") - 1)))
          .as("std_v"))
  }

  /** Gate with ZERO-extra-pass accounting: filter `df` on `cond`
    * while OBSERVING rows-in / rows-kept via Spark's CollectMetrics
    * (`Dataset.observe`) — the counters ride the gate's own job (no
    * second scan, no cache, no accumulator plumbing) and read back
    * from `queryExecution.observedMetrics(gateName)` after an action
    * run through the SAME Dataset handle (collect/write — a derived
    * action like `count()` plans its own execution whose metrics this
    * handle never sees), or from the streaming progress events when
    * the same gate runs in a stream. The 100 TB practice this encodes: a curation
    * chain's per-stage drop accounting must not cost one extra pass
    * per stage — observe attaches the aggregation BEFORE the filter,
    * so the metrics see every input row exactly once even under
    * whole-stage codegen. Names must be unique per chain (Spark
    * enforces it); compose as
    * `observedGate(observedGate(df, "g1", c1), "g2", c2)`. `cond` is
    * evaluated in both the counter and the filter, so it must be
    * deterministic (this engine's standing discipline — no rand()
    * anywhere) or the two could disagree. */
  def observedGate(df: DataFrame, gateName: String, cond: Column): DataFrame =
    df.observe(gateName,
        count(lit(1)).as("rows_in"),
        sum(when(cond, lit(1L)).otherwise(lit(0L))).as("rows_kept"))
      .filter(cond)
}
