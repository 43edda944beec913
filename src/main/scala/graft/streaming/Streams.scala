package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Structured Streaming extension (SURVEY.md §2.10: the reference is
  * strictly batch; this is the incremental path a live RTDB/event source
  * would feed). Operators mirror their batch counterparts so a pipeline
  * can switch `read` → `readStream` without rewriting logic — and the
  * RTDB source itself supports exactly that: `spark.readStream.format(
  * "graft.sources.RtdbSnapshotSource")` tails new children by key
  * cursor (push IDs are chronological — see
  * [[graft.sources.RtdbMicroBatchStream]]). */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class UserLatest(user_id: Long, event_type: String, ts: Timestamp,
                        event_id: Long, value: Double)

  /** Watermarked tumbling-window counts per event type — the streaming
    * analog of A4. Late data beyond the watermark is dropped, state is
    * bounded, output is append-able to any sink. */
  def windowedTypeCounts(events: DataFrame, window: String = "10 minutes",
                         watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** W1 (dedup keep-latest-per-key) as continuous state: for each
    * (user, type) keep the max-timestamp event, emitting updates.
    * mapGroupsWithState holds one row of state per key — bounded,
    * partition-distributed, the streaming twin of the batch window. */
  def latestPerKey(spark: SparkSession, events: Dataset[Event]): Dataset[UserLatest] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[UserLatest, UserLatest](GroupStateTimeout.NoTimeout) {
        case ((uid, etype), batch, state: GroupState[UserLatest]) =>
          import scala.math.Ordering.Implicits._
          val incoming = batch.maxBy(e => (e.ts.getTime, e.event_id))
          val best = state.getOption match {
            case Some(cur) if (cur.ts.getTime, cur.event_id) >= ((incoming.ts.getTime, incoming.event_id)) => cur
            case _ => UserLatest(uid, etype, incoming.ts, incoming.event_id, incoming.value)
          }
          state.update(best)
          best
      }
  }

  /** Per-user funnel progress state: completion micros per step (None
    * = not reached). */
  case class FunnelState(done: Seq[Option[Long]])

  /** A step completion emitted the moment a user first reaches it. */
  case class StepCompletion(user_id: Long, step_idx: Int, step: String,
                            ts_us: Long)

  /** Real-time funnel tracking — the streaming twin of
    * [[graft.ops.Ops.funnelSinglePass]]: per-user
    * flatMapGroupsWithState holds ONE completion-times array (k
    * micros, bounded state) and emits a [[StepCompletion]] exactly
    * once, the moment the running min chain first closes a step;
    * downstream a per-step count aggregation is the live conversion
    * dashboard. Batch events are applied in (ts, event_id) order, so
    * for an in-time-order feed (the RTDB source's push-ID chronology)
    * the emitted completions EQUAL the batch funnel on the same log —
    * differential-spec'd across multi-batch feeds. A late event
    * cannot retroactively improve an already-closed step (state keeps
    * the first closure) — the standard streaming-vs-batch caveat,
    * shared with every at-watermark aggregation here. */
  def funnelStream(spark: SparkSession, events: Dataset[Event],
                   steps: Seq[String]): Dataset[StepCompletion] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct: $steps")
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .filter(e => stepIdx.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StepCompletion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, batch, state: GroupState[FunnelState]) =>
          val done = state.getOption.map(_.done.toArray)
            .getOrElse(Array.fill[Option[Long]](steps.size)(None))
          val before = done.clone()
          def micros(e: Event): Long =
            e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
          for (e <- batch.toSeq.sortBy(e => (micros(e), e.event_id))) {
            val i = stepIdx(e.event_type)
            val t = micros(e)
            if (done(i).isEmpty && (i == 0 || done(i - 1).exists(t > _)))
              done(i) = Some(t)
          }
          state.update(FunnelState(done.toSeq))
          steps.indices.iterator
            .filter(i => done(i).isDefined && before(i).isEmpty)
            .map(i => StepCompletion(uid, i, steps(i), done(i).get))
      }
  }

  /** Streaming gap sessionization — the native session_window
    * aggregation with a watermark, so state is bounded and sessions
    * finalize once the watermark passes their end. Batch twin:
    * x4_session_window / Ops.sessionize. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup by content key within the watermark window —
    * the streaming twin of Dedup.exactDedup (state: one key per seen
    * content hash, dropped once the watermark passes). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming web-curation gate — the session-2 kernels composed into
    * the micro-batch ingest path: NFC-normalize (graft_nfc), Gopher
    * rule gate, canonical-URL extraction, then streaming dedup by
    * canonical URL within the watermark window (the crawler re-fetch
    * guard: surface variants of one logical URL across micro-batches
    * collapse to the first arrival). Every pre-dedup step is a
    * stateless scan projection — the ONLY state is one canonical-URL
    * key per watermark window. Emits (idCol, canon, n_words, text). */
  def webGateStream(docs: DataFrame, idCol: String, urlCol: String,
                    textCol: String, tsCol: String = "ts",
                    watermark: String = "1 hour",
                    minWords: Long = 20L, maxWords: Long = 90L): DataFrame = {
    val norm = graft.expr.kernels.NativeFns.nfc(col(textCol))
    docs
      .withColumn(textCol, norm)
      .withColumn("__g", graft.llm.Text.gopherFlags(col(textCol),
        minWords, maxWords, minMeanWordLen = 0.0, maxMeanWordLen = 1e9,
        minStopwords = 0L))
      .filter(col("__g.keep"))
      .withColumn("canon", graft.llm.Text.canonicalUrl(col(urlCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("canon"))
      .select(col(idCol), col("canon"), col("__g.n_words").as("n_words"),
        col(textCol))
  }

  /** [[webGateStream]] from raw MARKUP — the full crawl-ingest shape:
    * the HTML-to-text extractor ([[graft.llm.Text.htmlToText]]) runs
    * as one more STATELESS scan projection in front of the gate
    * (strip → segment → link-density cut → decode), so the stream's
    * only state remains the one canonical-URL key per watermark
    * window. `textOut` names the extracted-text column in the output
    * (replacing any existing column of that name). */
  def webIngestStream(docs: DataFrame, idCol: String, urlCol: String,
                      htmlCol: String, tsCol: String = "ts",
                      watermark: String = "1 hour",
                      minWords: Long = 20L, maxWords: Long = 90L,
                      textOut: String = "text"): DataFrame =
    webGateStream(
      docs.withColumn(textOut, graft.llm.Text.htmlToText(col(htmlCol))),
      idCol, urlCol, textOut, tsCol, watermark, minWords, maxWords)

  /** Stream-stream interval join: each purchase joined to the clicks
    * that preceded it within `window` — the attribution join, the
    * streaming analog of the batch as-of composition. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can size and evict join state; without the time bound the
    * state would grow forever. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      window: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_uid"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    p.join(c,
      col("user_id") === col("c_uid") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .drop("c_uid")
  }

  /** Streaming → JDBC sink via foreachBatch: each micro-batch goes
    * through the same batched, partition-parallel append as the batch
    * path (K3), so the DB sees one transaction batch per partition per
    * micro-batch instead of the reference's row-per-transaction loop.
    * Exactly-once to the table requires an idempotent key or an
    * upstream dedup (dropDuplicatesWithinWatermark) — same contract as
    * any foreachBatch sink. Returns the started query. */
  def toJdbc(df: DataFrame, url: String, table: String,
             checkpointDir: String): StreamingQuery =
    startBatches(df, checkpointDir) { (batch, _) =>
      graft.io.Jdbc.append(batch, url, table)
    }

  /** Streaming incremental near-dup dedup — the daily-crawl pipeline
    * composed end to end: each micro-batch of documents is deduped
    * against the STANDING corpus through the persisted LSH band index
    * ([[graft.llm.Dedup.incrementalNearDupPairs]] — only the batch pays
    * signature CPU; the index side crosses no exchange when
    * `indexTable` is bucketed by band, which this sink maintains), its
    * near-dup pairs append to `pairsTable`, and the batch then JOINS
    * the corpus: rows → `corpusTable`, bands → `indexTable`. The next
    * batch dedups against corpus ∪ every earlier batch, and each
    * document pays signature CPU O(1) times, ever (twice per batch:
    * once for pairs, once for the index append — both O(batch), never
    * O(corpus)).
    *
    * foreachBatch is at-least-once, but the sink is made idempotent
    * per batch with the standard commit-log recipe: the batch id is
    * recorded in `<corpusTable>_commits` AFTER all three appends, and
    * a replayed id short-circuits before touching any sink — a clean
    * restart (replay after the commit row landed) appends nothing
    * twice. The residue is a crash BETWEEN the first sink append and
    * the commit row: that replay re-appends (pair VALUES stay correct —
    * the overlap rule inside incrementalNearDupPairs tolerates the
    * corpus already containing the batch), so exact duplicates can
    * survive a mid-batch crash. [[compactSinks]] is the recovery for
    * that case; run it on restart after an unclean shutdown, or
    * periodically. Downstream cluster-building off `pairsTable` should
    * dedup edges either way (connectedComponents is unaffected by
    * duplicate edges, but edge counts are not). */
  def incrementalDedupStream(docs: DataFrame, corpusTable: String,
                             indexTable: String, pairsTable: String,
                             idCol: String, textCol: String,
                             checkpointDir: String, threshold: Double = 0.5,
                             indexBuckets: Int = 8): StreamingQuery = {
    require(!docs.columns.contains(HashCol),
      s"incrementalDedupStream reserves the $HashCol column name (the corpus " +
        "sink maintains it as the precomputed content hash)")
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      dedupBatch(batch, corpusTable, indexTable, pairsTable,
        idCol, textCol, threshold, indexBuckets, checkpointDir, batchId)
    }
  }

  /** Delta-gated variant of [[incrementalDedupStream]] for RE-CRAWL
    * sources that redeliver every document (a fresh daily dump, not an
    * append-only tail): each batch is anti-joined against the standing
    * corpus's stored (id, content-hash) pairs, so only documents whose
    * exact (id, content) was never seen go through signature CPU and
    * the index/corpus appends — an unchanged re-crawled page costs one
    * md5 and one anti-join probe, nothing more. The anti-join is
    * against ALL stored versions of an id, which makes the gate
    * idempotent across crawls: a doc that changed in crawl 2 and is
    * redelivered unchanged in crawl 3 matches its crawl-2 row and is
    * skipped (a plain latest-only hash compare would re-append it
    * forever), and a batch row can never fan out against multiple
    * stale versions. A changed document appends a NEW version (same
    * id); readers reconcile versions with keep-latest, the same
    * contract as the at-least-once note above.
    *
    * The corpus sink maintains a `__h` content-hash column written at
    * append time ([[dedupBatch]]), so the gate scans one narrow
    * precomputed column instead of re-hashing the whole corpus text
    * every batch. NOTE the schema consequence: `corpusTable` carries
    * the input columns PLUS `__h` — `__h` is therefore a reserved name
    * (required below, matching [[graft.llm.Curate]]'s reserved-column
    * checks), and a corpus table created by a pre-`__h` build must be
    * backfilled (`withColumn("__h", Text.contentHash(...))` + rewrite)
    * before this sink can append to it. */
  def incrementalDeltaDedupStream(docs: DataFrame, corpusTable: String,
                                  indexTable: String, pairsTable: String,
                                  idCol: String, textCol: String,
                                  checkpointDir: String, threshold: Double = 0.5,
                                  indexBuckets: Int = 8): StreamingQuery = {
    require(!docs.columns.contains(HashCol),
      s"incrementalDeltaDedupStream reserves the $HashCol column name (the " +
        "corpus sink maintains it as the precomputed content hash)")
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      dedupBatch(recrawlGate(batch, corpusTable, idCol, textCol), corpusTable,
        indexTable, pairsTable, idCol, textCol, threshold, indexBuckets,
        checkpointDir, batchId)
    }
  }

  /** Streaming repeated-span trim — the last batch-only stage of the
    * crawl chain (ingest → extract → gate → SPAN-TRIM) made
    * incremental: each micro-batch's documents are trimmed against the
    * span statistics of (standing corpus ∪ batch), and — the part a
    * naive gate misses — old documents whose spans only NOW cross the
    * `minDf` threshold are RE-trimmed, so the maintained product equals
    * the one-shot [[graft.llm.Dedup.trimRepeatedSpans]] over all rows
    * delivered so far, exactly (StreamingPipelineSpec differential).
    *
    * Standing state (all append-only):
    *  - `indexTable` (idCol, start, h): every window key seen, bucketed
    *    by `h` — the batch's df lookups and the affected-doc pruning
    *    read it exchange-free.
    *  - `corpusTable`: raw rows, bucketed by id — re-trims read only
    *    the affected documents.
    *  - `trimmedTable` (idCol, trimmed, n_tokens, n_dropped,
    *    batch_seq): VERSIONED — a re-trimmed document appends a new
    *    version rather than rewriting the table (a per-batch rewrite
    *    would be corpus-scale); [[readSpanTrimmed]] folds to the
    *    latest version per document.
    *
    * Per-batch cost is bounded by the batch and its blast radius:
    * batch windows O(batch tokens); index reads are semi-join-pruned
    * to the batch's window keys and the newly-qualifying keys'
    * documents; nothing corpus-scale shuffles. Exactly-once via
    * [[commitOnce]]; a crash between the sink
    * appends and the commit row replays with correct VALUES (the
    * overlap rule reads the index minus the batch's ids) leaving only
    * exact-duplicate rows, which the latest-version fold absorbs. */
  def spanTrimStream(docs: DataFrame, idCol: String, textCol: String,
                     corpusTable: String, indexTable: String,
                     trimmedTable: String, checkpointDir: String,
                     k: Int = 8, minDf: Long = 2L,
                     indexBuckets: Int = 8): StreamingQuery = {
    requireSpanTrimCols(docs)
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      spanTrimBatch(batch, corpusTable, indexTable, trimmedTable,
        idCol, textCol, k, minDf, indexBuckets, checkpointDir, batchId)
    }
  }

  /** Delta-gated [[spanTrimStream]] for RE-CRAWL sources that
    * redeliver every document each crawl (the
    * [[incrementalDeltaDedupStream]] composition applied to the span
    * gate — spanTrimStream's own contract is append-only unique ids):
    * each batch is [[deltaGate]]d against the standing corpus's
    * stored (id, content-hash) versions, so an unchanged re-crawled
    * page costs one md5 and one anti-join probe — no window keys, no
    * index/corpus appends, no re-trim, no new trimmed version. The
    * corpus sink maintains `__h` + `__seq` for exactly this gate
    * (reserved columns; a corpus built by a pre-delta version must be
    * backfilled before this sink appends to it).
    *
    * A CHANGED document passes the gate and appends a NEW version:
    * its batch-side trim and all df counts for that batch read the
    * new content (the overlap rule anti-joins the batch's ids out of
    * the index), blast-radius re-trims read the LATEST corpus version
    * (the `__seq` keep-latest fold in [[spanTrimBatch]]), and the
    * product fold keeps the newest trimmed version. Honest staleness
    * caveat, same shape as the delta dedup sink's: superseded
    * versions' window keys stay in the append-only index, so a window
    * that only the OLD content of a changed document carried keeps
    * counting that id toward `minDf` until a rebuild — df never
    * UNDERcounts, so trims are at worst conservative. */
  def spanTrimDeltaStream(docs: DataFrame, idCol: String, textCol: String,
                          corpusTable: String, indexTable: String,
                          trimmedTable: String, checkpointDir: String,
                          k: Int = 8, minDf: Long = 2L,
                          indexBuckets: Int = 8): StreamingQuery = {
    requireSpanTrimCols(docs)
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      spanTrimBatch(recrawlGate(batch, corpusTable, idCol, textCol),
        corpusTable, indexTable, trimmedTable, idCol, textCol, k, minDf,
        indexBuckets, checkpointDir, batchId)
    }
  }

  private def requireSpanTrimCols(docs: DataFrame): Unit =
    Seq(HashCol, SeqCol).foreach { c =>
      require(!docs.columns.contains(c),
        s"span-trim streams reserve the $c column name (the corpus sink " +
          "maintains it for the re-crawl delta gate)")
    }

  private[graft] def spanTrimBatch(batch: DataFrame, corpusTable: String,
                                   indexTable: String, trimmedTable: String,
                                   idCol: String, textCol: String, k: Int,
                                   minDf: Long, indexBuckets: Int,
                                   streamId: String = "",
                                   batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    commitOnce(spark, TableLog(commitsTableFor(trimmedTable)), streamId, batchId) {
      val b = batch.localCheckpoint(false)
      val bKeys = graft.llm.Dedup.spanKeys(b, idCol, textCol, k)
        .localCheckpoint(false)
      val bIds = b.select(col(idCol).as("__nid"))
      val idxSchema = StructType(Seq(b.schema(idCol),
        StructField("start", LongType, nullable = false),
        StructField("h", StringType, nullable = true)))
      // overlap rule: a replayed batch's keys are already in the index —
      // the new frame wins, so df never double-counts (the
      // incrementalNearDupPairs convention)
      val idx = tableOr(spark, indexTable, idxSchema)
        .join(broadcast(bIds), col(idCol) === col("__nid"), "left_anti")
      // df before/after for the batch's window keys only
      val bH = bKeys.select(col("h")).distinct()
      val dfBefore = idx.join(bH, Seq("h"), "left_semi")
        .groupBy(col("h")).agg(countDistinct(col(idCol)).as("__dfb"))
      val dfBatch = bKeys.groupBy(col("h"))
        .agg(countDistinct(col(idCol)).as("__dfn"))
      val dfAfter = dfBatch.join(dfBefore, Seq("h"), "left")
        .select(col("h"),
          (coalesce(col("__dfb"), lit(0L)) + col("__dfn")).as("__dfa"),
          coalesce(col("__dfb"), lit(0L)).as("__dfb"))
        .localCheckpoint(false)
      val qualNow = dfAfter.filter(col("__dfa") >= minDf).select(col("h"))
      // the batch's own trim: coverage from its qualifying windows
      val bCov = bKeys.join(qualNow, "h")
        .select(col(idCol),
          explode(sequence(col("start"), col("start") + lit(k - 1))).as("pos"))
        .distinct()
      val bTrim = graft.llm.Dedup.trimWithCoverage(b, bCov, idCol, textCol)
      // the blast radius: keys that qualify NOW but did not before pull
      // their standing documents in for a re-trim against the FULL
      // (index ∪ batch) statistics of every key those documents carry
      val newlyQ = dfAfter.filter(col("__dfa") >= minDf &&
        col("__dfb") < minDf).select(col("h"))
      val affIds = idx.join(newlyQ, Seq("h"), "left_semi")
        .select(col(idCol)).distinct().localCheckpoint(false)
      val affKeys = idx.join(affIds, Seq(idCol), "left_semi")
        .localCheckpoint(false)
      val affH = affKeys.select(col("h")).distinct()
      val gDf = idx.join(affH, Seq("h"), "left_semi")
        .select(col("h"), col(idCol))
        .unionByName(bKeys.join(affH, Seq("h"), "left_semi")
          .select(col("h"), col(idCol)))
        .groupBy(col("h")).agg(countDistinct(col(idCol)).as("__g"))
      val qualAff = gDf.filter(col("__g") >= minDf).select(col("h"))
      val affCov = affKeys.join(qualAff, "h")
        .select(col(idCol),
          explode(sequence(col("start"), col("start") + lit(k - 1))).as("pos"))
        .distinct()
      val corpusSchema = StructType(
        b.select(col(idCol), col(textCol)).schema.fields ++ Seq(
          StructField(HashCol, StringType, nullable = true),
          StructField(SeqCol, LongType, nullable = false)))
      // the re-trim tokenization must see each document once, and —
      // the re-crawl case — its LATEST stored version: fold by __seq
      // (exact-duplicate rows from a mid-batch crash replay tie on
      // __seq and are interchangeable). Window over the id-bucketed
      // scan: exchange-free.
      val affDocs = latestPerId(tableOr(spark, corpusTable, corpusSchema)
          .join(affIds, Seq(idCol), "left_semi"), idCol, SeqCol)
        .select(col(idCol), col(textCol))
      val affTrim = graft.llm.Dedup.trimWithCoverage(affDocs, affCov,
        idCol, textCol)
      // sinks: versioned trims, then the standing state
      bTrim.unionByName(affTrim).withColumn("batch_seq", lit(batchId))
        .write.mode("append").format("parquet").saveAsTable(trimmedTable)
      bKeys.write.mode("append").bucketBy(indexBuckets, "h").sortBy("h")
        .format("parquet").saveAsTable(indexTable)
      b.select(col(idCol), col(textCol))
        .withColumn(HashCol, graft.llm.Text.contentHash(col(textCol)))
        .withColumn(SeqCol, lit(batchId))
        .write.mode("append")
        .bucketBy(indexBuckets, idCol).sortBy(idCol)
        .format("parquet").saveAsTable(corpusTable)
    }
  }

  /** The span-trim product: the LATEST version of every document in
    * the versioned `trimmedTable` (the keep-latest fold duplicates
    * from a mid-batch crash replay collapse into — versions from such
    * a replay are exact copies). Refreshes the table's cached file
    * listing first: the stream appends from ITS OWN cloned session,
    * so a driver-session reader that touched the table before would
    * otherwise keep serving the stale listing forever (per-session
    * relation cache — standard V1 catalog behavior, surprising here
    * because this read is the stream's monitoring surface). */
  def readSpanTrimmed(spark: SparkSession, trimmedTable: String,
                      idCol: String): DataFrame = {
    spark.catalog.refreshTable(trimmedTable)
    latestPerId(spark.table(trimmedTable), idCol, "batch_seq").drop("batch_seq")
  }

  /** Compact the versioned trimmed table to ONE row per document (its
    * latest version, `batch_seq` preserved so the fold against future
    * re-trims — which always append a higher seq — is unchanged).
    * Re-trimmed documents and crash-replay duplicates accumulate
    * versions forever otherwise; this is the [[compactSinks]] recovery
    * shape for the span gate: side-by-side rebuild + catalog rename,
    * run on restart or periodically, never per batch (it is one
    * keep-latest pass over the table — the W1 dedup plan, map-side
    * WindowGroupLimit before the one exchange). MUST NOT run
    * concurrently with the stream (catalog renames race appends). */
  def compactSpanTrimmed(spark: SparkSession, trimmedTable: String,
                         idCol: String): Unit =
    if (spark.catalog.tableExists(trimmedTable))
      swapTable(spark, trimmedTable, "__compact") { tmp =>
        latestPerId(spark.table(trimmedTable), idCol, "batch_seq")
          .write.format("parquet").saveAsTable(tmp)
      }

  /** Full rebuild of the span gate's standing state from the corpus's
    * LATEST versions — the remedy for [[spanTrimDeltaStream]]'s
    * documented staleness: superseded versions' window keys stay in
    * the append-only index forever, so df over-counts (conservative
    * but monotonically growing) and the index never shrinks. The
    * rebuild re-keys the index from the latest corpus versions and
    * rewrites the trimmed product to the one-shot
    * [[graft.llm.Dedup.trimRepeatedSpans]] over those versions — the
    * exact table a fresh stream fed only the latest content would
    * converge to (the spec differential).
    *
    * Corpus-scale by design (this is MAINTENANCE, run rarely — the
    * [[compactSpanTrimmed]] cadence, never per batch). MUST NOT run
    * concurrently with the stream (catalog renames race appends), and
    * the exclusion covers READERS too: publication is side-by-side
    * build + DROP TABLE + RENAME, so a concurrent [[readSpanTrimmed]],
    * [[spanTrimIndexDebt]], or dashboard scan racing the swap can hit
    * a transiently missing catalog name (the same reader caveat the
    * parquet stores' atomic-rename swap documents) — schedule reads
    * around the maintenance window or retry on
    * NoSuchTableException.
    * Each rewritten row carries the table's current max `batch_seq`,
    * so every future stream batch (whose batchId is strictly larger —
    * checkpointed batchIds only grow) still wins the keep-latest fold
    * against rebuilt rows. Crash-safe by idempotence: both rewrites
    * derive from the corpus alone, so a re-run after a crash between
    * the two swaps (or mid-swap — the side-by-side `__rebuild` table
    * plus DROP/RENAME leaves at worst a missing catalog name whose
    * content the re-run regenerates) converges to the same state. */
  def rebuildSpanTrim(spark: SparkSession, corpusTable: String,
                      indexTable: String, trimmedTable: String,
                      idCol: String, textCol: String,
                      k: Int = 8, minDf: Long = 2L,
                      indexBuckets: Int = 8): Unit = {
    require(spark.catalog.tableExists(corpusTable),
      s"rebuildSpanTrim: corpus table $corpusTable does not exist")
    spark.catalog.refreshTable(corpusTable)
    val latest = latestPerId(spark.table(corpusTable), idCol, SeqCol)
      .select(col(idCol), col(textCol))
      .localCheckpoint(false)
    // 1. the index: latest versions' window keys only
    val keys = graft.llm.Dedup.spanKeys(latest, idCol, textCol, k)
    swapTable(spark, indexTable, "__rebuild") { tmp =>
      keys.write.bucketBy(indexBuckets, "h").sortBy("h")
        .format("parquet").saveAsTable(tmp)
    }
    // 2. the product: the one-shot trim over the same versions, ONE
    // row per document at the standing max seq (future batches, all
    // strictly newer, keep winning the fold)
    val seqMax =
      if (spark.catalog.tableExists(trimmedTable)) {
        spark.catalog.refreshTable(trimmedTable)
        spark.table(trimmedTable)
          .agg(coalesce(max(col("batch_seq")), lit(0L))).head().getLong(0)
      } else 0L
    val oneShot = graft.llm.Dedup.trimRepeatedSpans(latest, idCol, textCol,
        k, minDf)
      .withColumn("batch_seq", lit(seqMax))
    swapTable(spark, trimmedTable, "__rebuild") { tmp =>
      oneShot.write.format("parquet").saveAsTable(tmp)
    }
  }

  /** The side-by-side catalog swap: build `name + suffix` (the temp
    * name, cleared of any crashed predecessor first), drop `name`,
    * rename the temp in. Readers never see a half-written table, but
    * can briefly miss the name between the DROP and the RENAME. */
  private def swapTable(spark: SparkSession, name: String, suffix: String)
                       (build: String => Unit): Unit = {
    val tmp = name + suffix
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    build(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $name")
  }

  /** Rebuild-cadence metric for the span gate: how stale is the
    * append-only index? One row (n_index_keys, n_latest_keys,
    * n_stale_keys, stale_pm) where stale keys are index rows whose
    * (id, start, h) no longer appears in the LATEST corpus versions'
    * window keys — superseded versions' residue, exactly what
    * [[rebuildSpanTrim]] removes. Poll this (it is read-only and
    * corpus-scale, so at the audit cadence, not per batch) and
    * rebuild past a debt threshold. */
  def spanTrimIndexDebt(spark: SparkSession, corpusTable: String,
                        indexTable: String, idCol: String, textCol: String,
                        k: Int = 8): DataFrame = {
    spark.catalog.refreshTable(corpusTable)
    spark.catalog.refreshTable(indexTable)
    spanTrimIndexDebtFrames(spark.table(corpusTable),
      spark.table(indexTable), idCol, textCol, k)
  }

  /** [[spanTrimIndexDebt]] over explicit frames — the versioned corpus
    * (idCol, textCol, [[SeqCol]]) and the append-only index (idCol,
    * start, h) — shared by the catalog-table form above and the batch
    * oracle fixture (`llm_span_index_debt`), so the registered query
    * exercises the exact arithmetic the streaming maintenance polls. */
  def spanTrimIndexDebtFrames(corpus: DataFrame, idx: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 8): DataFrame = {
    val latest = latestPerId(corpus, idCol, SeqCol)
      .select(col(idCol), col(textCol))
    val latestKeys = graft.llm.Dedup.spanKeys(latest, idCol, textCol, k)
    val stale = idx.join(latestKeys,
      Seq(idCol.toString, "start", "h"), "left_anti")
    idx.agg(count(lit(1)).as("n_index_keys")).crossJoin(
        latestKeys.agg(count(lit(1)).as("n_latest_keys"))).crossJoin(
        stale.agg(count(lit(1)).as("n_stale_keys")))
      .select(col("n_index_keys"), col("n_latest_keys"),
        col("n_stale_keys"),
        when(col("n_index_keys") > 0L,
          expr("n_stale_keys * 1000 div n_index_keys")).as("stale_pm"))
  }

  /** Threshold-triggered span-gate maintenance — the consumer that
    * closes the [[spanTrimIndexDebt]] loop: poll the debt metric and
    * fire [[rebuildSpanTrim]] exactly when the append-only index's
    * stale-key fraction crosses `maxStalePm` (per-mille). Returns
    * true iff a rebuild fired, so a scheduler can log/alert on
    * cadence. Below the threshold this is a read-only corpus-scale
    * probe (run it at the audit cadence, never per batch); past it,
    * one rebuild drops the debt to zero, so back-to-back calls fire
    * at most once (the spec's exactly-once row). Inherits
    * [[rebuildSpanTrim]]'s exclusion contract: no concurrent stream
    * batches OR readers during the rebuild window. */
  def maintainSpanTrim(spark: SparkSession, corpusTable: String,
                       indexTable: String, trimmedTable: String,
                       idCol: String, textCol: String,
                       k: Int = 8, minDf: Long = 2L,
                       indexBuckets: Int = 8,
                       maxStalePm: Long = 100L): Boolean = {
    if (!spark.catalog.tableExists(corpusTable) ||
        !spark.catalog.tableExists(indexTable)) return false
    val debt = spanTrimIndexDebt(spark, corpusTable, indexTable,
      idCol, textCol, k).head()
    val stalePm = if (debt.isNullAt(3)) 0L else debt.getLong(3)
    if (stalePm <= maxStalePm) false
    else {
      rebuildSpanTrim(spark, corpusTable, indexTable, trimmedTable,
        idCol, textCol, k, minDf, indexBuckets)
      true
    }
  }

  /** The latest version of every id: its row with the highest
    * `seqCol`. Ties (exact crash-replay copies) are interchangeable. */
  private def latestPerId(df: DataFrame, idCol: String,
                          seqCol: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col(seqCol).desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** First batch: the standing tables don't exist yet — dedup against
    * empty frames, then create them via the first append. */
  private def tableOr(spark: SparkSession, name: String,
                      schema: StructType): DataFrame =
    if (spark.catalog.tableExists(name)) spark.table(name)
    else spark.createDataFrame(spark.sparkContext
      .emptyRDD[Row], schema)

  /** Name of the content-hash column the corpus sink maintains. */
  val HashCol = "__h"

  /** Name of the batch-sequence column the span-trim corpus sink
    * maintains (which stored version of a re-crawled document is
    * latest — the keep-latest fold key for blast-radius re-trims). */
  val SeqCol = "__seq"

  /** The re-crawl delta gate: batch rows whose exact (id, content) the
    * standing corpus has never stored, in any version. Exchange-free
    * over the corpus: [[dedupBatch]] maintains `corpusTable` BUCKETED
    * by id, and the gate folds the stored versions to one hash-set row
    * per id — an aggregation whose ClusteredDistribution(id) the
    * bucketed scan's partitioning already satisfies — then joins the
    * batch on id alone, so the batch's membership probe needs no
    * second key and the corpus side is co-partitioned as scanned. A
    * direct (id, hash) anti-join could not do this: co-partition
    * elimination requires ALL join keys as partition keys (Spark's
    * `requireAllClusterKeysForCoPartition` default), which would
    * re-shuffle the corpus-sized gate every batch. Only the
    * batch-scale side crosses an exchange (plan-asserted in
    * StreamingPipelineSpec); versions per id are few by construction
    * (one per distinct content ever crawled), so the per-id set stays
    * O(versions). */
  private[graft] def deltaGate(b: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String): DataFrame = {
    val gate = corpus.select(col(idCol), col(HashCol))
      .groupBy(col(idCol)).agg(collect_set(col(HashCol)).as("__hset"))
    b.withColumn(HashCol, graft.llm.Text.contentHash(col(textCol)))
      .join(gate, Seq(idCol), "left")
      .filter(col("__hset").isNull || !array_contains(col("__hset"), col(HashCol)))
      .drop(HashCol, "__hset")
  }

  /** The delta-gated streams' gate step: [[deltaGate]] against the
    * standing corpus, or the whole batch before the corpus exists. */
  private def recrawlGate(b: DataFrame, corpusTable: String, idCol: String,
                          textCol: String): DataFrame = {
    val spark = b.sparkSession
    if (!spark.catalog.tableExists(corpusTable)) b
    else deltaGate(b, spark.table(corpusTable), idCol, textCol)
  }

  /** Name of the per-stream batch commit log: one tiny row per
    * successfully-committed micro-batch (see [[commitOnce]]). */
  def commitsTableFor(corpusTable: String): String = corpusTable + "_commits"

  private val CommitSchema = StructType(Seq(
    StructField("stream_id", StringType), StructField("batch_id", LongType)))

  /** Where a sink's commit log lives. The table sinks keep it in the
    * catalog table [[commitsTableFor]]; the SQ8 sink, whose index lives
    * at a path, keeps it as a parquet dir under that path. */
  private sealed trait CommitLog {
    /** The log's rows, or None before the first commit. */
    def read(spark: SparkSession): Option[DataFrame]
    def append(row: DataFrame): Unit
  }

  private final case class TableLog(table: String) extends CommitLog {
    def read(spark: SparkSession): Option[DataFrame] =
      if (spark.catalog.tableExists(table)) Some(spark.table(table)) else None
    def append(row: DataFrame): Unit =
      row.write.mode("append").format("parquet").saveAsTable(table)
  }

  private final case class PathLog(dir: String) extends CommitLog {
    // the explicit schema matters: a crash during the first commit
    // leaves the dir holding only `_temporary`, which schema inference
    // cannot read, while a typed read of it is simply empty
    def read(spark: SparkSession): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
      else Some(spark.read.schema(CommitSchema).parquet(dir))
    }
    def append(row: DataFrame): Unit = row.write.mode("append").parquet(dir)
  }

  /** The commit-log recipe every durable table sink and the SQ8 sink
    * share, which makes an at-least-once foreachBatch sink exactly-once
    * under clean replay. A (streamId, batchId) row already in `log`
    * means a previous attempt finished `write`, so the call returns
    * before any side effect. Otherwise `write` runs and the commit row
    * is appended LAST: a crash anywhere in `write` leaves the id
    * un-logged, so the batch replays (at-least-once) rather than being
    * lost, and a replay after such a crash may re-append exact
    * duplicates ([[compactSinks]] and the keep-latest folds absorb
    * them). Batch ids are unique only WITHIN one checkpoint lineage, so
    * the checkpoint dir is the stream id: a fresh stream (ids
    * restarting at 0) writing to the same sinks is never mistaken for a
    * replay. The log has one row per batch, so the probe reads
    * O(batches) rows. `batchId < 0` bypasses the log. */
  private def commitOnce(spark: SparkSession, log: CommitLog, streamId: String,
                         batchId: Long)(write: => Unit): Unit =
    if (batchId < 0) write
    else if (!log.read(spark).exists(_.filter(col("stream_id") === streamId &&
        col("batch_id") === batchId).head(1).nonEmpty)) {
      write
      log.append(spark.range(1).select(lit(streamId).as("stream_id"),
        lit(batchId).as("batch_id")))
    }

  /** Start a checkpointed Append-mode stream that hands each
    * micro-batch and its id to `body`. */
  private def startBatches(df: DataFrame, checkpointDir: String)
                          (body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch(body)
      .start()

  private[graft] def dedupBatch(batch: DataFrame, corpusTable: String,
                                indexTable: String, pairsTable: String,
                                idCol: String, textCol: String,
                                threshold: Double, indexBuckets: Int,
                                streamId: String = "", batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    commitOnce(spark, TableLog(commitsTableFor(corpusTable)), streamId, batchId) {
      val b = batch.localCheckpoint(false) // feeds pairs + index + corpus appends
      val corpusRows = b.withColumn(HashCol, graft.llm.Text.contentHash(col(textCol)))
      val idxSchema = StructType(Seq(b.schema(idCol),
        StructField("band", StringType, nullable = false)))
      val pairs = graft.llm.Dedup.incrementalNearDupPairs(
        b, tableOr(spark, corpusTable, corpusRows.schema).drop(HashCol),
        tableOr(spark, indexTable, idxSchema),
        idCol, textCol, threshold)
      pairs.write.mode("append").format("parquet").saveAsTable(pairsTable)
      graft.llm.Dedup.bandIndex(b, idCol, textCol).write.mode("append")
        .bucketBy(indexBuckets, "band").sortBy("band")
        .format("parquet").saveAsTable(indexTable)
      // id-bucketed so the delta gate and the incremental corpus
      // semi-join both read it exchange-free (see [[deltaGate]]); the
      // bucket count mirrors the band index's
      corpusRows.write.mode("append")
        .bucketBy(indexBuckets, idCol).sortBy(idCol)
        .format("parquet").saveAsTable(corpusTable)
    }
  }

  /** Exact-duplicate compaction for the three streaming sink tables —
    * the recovery path for a crash that landed between a sink append
    * and the batch commit row (see [[incrementalDedupStream]]): every
    * surviving duplicate from such a replay is an exact row copy, so
    * whole-row DISTINCT restores each table, and the rewrite preserves
    * the bucketing contract the incremental plans rely on (corpus
    * bucketed by id for [[deltaGate]], index bucketed by band for
    * `incrementalNearDupPairs`). Each table is rebuilt side-by-side
    * (`<name>__compact`) then swapped in via catalog rename, so a
    * reader never observes a half-written table and the source is
    * never overwritten while being read. At 100 TB this is one
    * shuffle per table at its own bucket parallelism — run it on
    * restart after an unclean shutdown, not per batch. */
  def compactSinks(spark: SparkSession, corpusTable: String,
                   indexTable: String, pairsTable: String,
                   idCol: String, indexBuckets: Int = 8): Unit = {
    def compact(name: String)(
        layout: DataFrameWriter[Row] => DataFrameWriter[Row]): Unit =
      if (spark.catalog.tableExists(name))
        swapTable(spark, name, "__compact") { tmp =>
          layout(spark.table(name).distinct().write)
            .format("parquet").saveAsTable(tmp)
        }
    compact(corpusTable)(_.bucketBy(indexBuckets, idCol).sortBy(idCol))
    compact(indexTable)(_.bucketBy(indexBuckets, "band").sortBy("band"))
    compact(pairsTable)(identity)
  }

  /** Memory-sink runner for tests: processes all available data once. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Update()): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable(); q.stop()
  }

  /** Streaming ANN serving against a persisted IVFPQ index — the
    * online half of the index story: a stream of (qid, embedding)
    * query vectors is answered per micro-batch over the FROZEN index.
    * The index opens once at stream start: the tiny tables (centroids,
    * codebooks) are driver-side values from then on, and the
    * cluster-partitioned code store keeps the file listing it had at
    * the start but stays a lazy scan, so every micro-batch's probe
    * still drives dynamic partition pruning — each batch reads only its
    * probed clusters' code files, exactly the batch serving plan.
    *
    * `foreachBatch` rather than a stream-static join, deliberately:
    * ADC serving ends in per-query top-k rank windows, which have no
    * incremental streaming semantics (a query's top-k is complete the
    * moment its batch is — there is nothing to retract or watermark).
    * Each micro-batch is a bounded query set, which is precisely the
    * batch contract, so streamed answers are DIFFERENTIAL-EQUAL to
    * batch serving (spec'd in StreamingPipelineSpec). At 100 TB this
    * is the standard online-serving shape: the index is read-only
    * while [[graft.llm.Similarity.appendToIvfPqIndex]] deltas land
    * between serving generations. */
  def annServeStream(queries: DataFrame, indexPath: String, store: DataFrame,
                     qId: String, embCol: String, k: Int, m: Int = 4,
                     dim: Int = 64, coarse: Int = 20, nprobe: Int = 1)
                    (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = queries.sparkSession
    val (cent, byCode, codes) = graft.llm.Similarity.readIvfPqIndex(spark, indexPath)
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = graft.llm.Similarity.ivfPqTopK(cent, byCode, codes,
          store, batch, qId, embCol, k, m, dim, coarse, nprobe)
        sink(out, batchId)
      }
      .start()
  }

  /** Durable [[annServeStream]]: answers append to `ansTable` through
    * [[commitOnce]] with its log in `commitsTableFor(ansTable)`. A
    * clean restart replays as a no-op (spec'd), and the
    * mid-batch-crash residue (answers appended, commit row missing)
    * re-appends exact duplicate ANSWER rows — per-query top-k rows are
    * deterministic given the frozen index, so downstream readers
    * dedup exactly ([[compactSinks]]-style) if duplicates matter. */
  def annServeToTable(queries: DataFrame, indexPath: String, store: DataFrame,
                      qId: String, embCol: String, k: Int, ansTable: String,
                      checkpointDir: String, m: Int = 4, dim: Int = 64,
                      coarse: Int = 20, nprobe: Int = 1): StreamingQuery = {
    val spark = queries.sparkSession
    val (cent, byCode, codes) = graft.llm.Similarity.readIvfPqIndex(spark, indexPath)
    startBatches(queries, checkpointDir) { (batch, batchId) =>
      annServeBatch(batch, cent, byCode, codes, store, qId, embCol,
        k, m, dim, coarse, nprobe, ansTable, checkpointDir, batchId)
    }
  }

  /** Streaming maintenance of the persisted native-HLL profile
    * ([[graft.llm.CorpusStats.persistHllProfile]]): each micro-batch's
    * registers merge into the store (cell-wise max, atomically
    * published; the base corpus is never rescanned). Register max is
    * IDEMPOTENT, so unlike the dedup/ANN sinks this stream needs NO
    * commit log: replaying a batch after a crash or restart re-maxes
    * the same values into the store — at-least-once delivery composes
    * with the monoid to exactly-once STATE (spec'd: a replayed batch
    * leaves the store bit-identical). The first batch creates the
    * store — atomically: each batch is ONE
    * [[graft.llm.CorpusStats.upsertHllProfile]] call, whose
    * create-or-merge decision and publish run under the store lock
    * ([[graft.io.Tables.withStoreLock]]), so even two streams pointed
    * at the same empty path serialize — the bootstrap race's loser
    * merges into the winner's store instead of overwriting it, and
    * concurrent steady-state batches merge in some serial order (the
    * max monoid makes every order equal). */
  def hllProfileStream(docs: DataFrame, sourceCol: String, textCol: String,
                       path: String, checkpointDir: String,
                       n: Int = 2): StreamingQuery =
    startBatches(docs, checkpointDir) { (batch, _) =>
      graft.llm.CorpusStats.upsertHllProfile(batch, sourceCol, textCol,
        path, n)
    }

  /** Streaming maintenance of a persisted log-linear quantile-sketch
    * store ([[graft.llm.CorpusStats.persistLogHist]]): each
    * micro-batch's registers merge into the store (cell-wise SUM,
    * atomically published; the base corpus is never rescanned).
    * Register sum is NOT idempotent — a replayed batch would
    * double-count — so each batch publishes its applied-marker INSIDE
    * the same atomic rename as the merged data
    * ([[graft.io.Tables.swapInParquet]] `ledger`, keyed by
    * (checkpoint lineage, batch id) like the commit-log sinks): a
    * crash leaves either the old generation (marker absent — the
    * replay re-merges) or the new one (marker present — the replay
    * short-circuits), never data without its marker, so at-least-once
    * delivery composes to exactly-once STATE with no separate commit
    * log and no window where the two could disagree. Bootstrap shares
    * [[graft.llm.CorpusStats.upsertLogHist]]'s locked create-or-merge
    * decision (the hllProfileStream race contract). `valueSql` is a
    * SQL expression over the batch's columns (e.g. "length(text)"). */
  def logHistStream(docs: DataFrame, groupCol: String, valueSql: String,
                    path: String, checkpointDir: String,
                    subBits: Int = 5): StreamingQuery =
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      graft.llm.CorpusStats.upsertLogHist(batch, groupCol, expr(valueSql),
        path, subBits, batchTag = Some(s"$checkpointDir#$batchId"))
    }

  /** Streaming BPE encode against a FROZEN persisted tokenizer
    * ([[graft.llm.Bpe.persistTokenizer]]) — the tokenize-on-ingest
    * serving path: each micro-batch of documents encodes to its
    * ordered (id, word_pos, sym_pos, token_id) stream and appends to
    * `outTable`. The tokenizer loads ONCE at stream start (train is
    * an offline artifact; a tokenizer that drifted per-batch would
    * tokenize the same document differently over time). Unseen
    * symbols encode as UNK 0 ([[graft.llm.Bpe.encodeWith]]).
    * Durability is [[commitOnce]]'s: a committed batch replays as a
    * no-op and a mid-batch crash re-appends deterministic duplicate
    * rows a downstream reader can dedup exactly. */
  def bpeEncodeToTable(docs: DataFrame, idCol: String, textCol: String,
                       tokenizerPath: String, outTable: String,
                       checkpointDir: String): StreamingQuery = {
    val (merges, ids) = graft.llm.Bpe.readTokenizer(docs.sparkSession, tokenizerPath)
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      bpeEncodeBatch(batch, idCol, textCol, merges, ids, outTable,
        checkpointDir, batchId)
    }
  }

  /** Streaming unigram encode with a FROZEN stored tokenizer — the
    * [[bpeEncodeToTable]] shape for the other tokenizer family: each
    * micro-batch Viterbi-encodes against the persisted piece table
    * and appends the token stream, commit-log idempotent. Unseen
    * characters in the stream emit UNK 0 (the
    * [[graft.llm.Unigram.encode]] frozen-tokenizer contract), so a
    * drifting live corpus can never silently drop words. */
  def unigramEncodeToTable(docs: DataFrame, idCol: String, textCol: String,
                           tokenizerPath: String, outTable: String,
                           checkpointDir: String): StreamingQuery = {
    val pieces = graft.llm.Unigram.readTokenizer(docs.sparkSession, tokenizerPath)
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      unigramEncodeBatch(batch, idCol, textCol, pieces, outTable,
        checkpointDir, batchId)
    }
  }

  private[graft] def unigramEncodeBatch(batch: DataFrame, idCol: String,
                                        textCol: String,
                                        pieces: Seq[(String, Long, Long)],
                                        outTable: String,
                                        streamId: String = "",
                                        batchId: Long = -1L): Unit =
    commitOnce(batch.sparkSession, TableLog(commitsTableFor(outTable)),
        streamId, batchId) {
      graft.llm.Unigram.encode(batch, idCol, textCol, pieces)
        .write.mode("append").format("parquet").saveAsTable(outTable)
    }

  /** Streaming CCNet gate: score each micro-batch's documents
    * against a FROZEN stupid-backoff model
    * ([[graft.llm.NgramLm.readBackoffModel]]) and append (id,
    * n_tokens, nll_micro, nll_micro_per_token) to `outTable` — the
    * quality stage of a live crawl ingest, serving the model the
    * batch trainer published. Stateless per batch (the model is
    * frozen; OOV tokens score at the model's pseudo-count, the
    * serving analog of the UNK conventions), exactly-once per batch —
    * the scores land as a dynamic overwrite of the batch's OWN
    * (stream, batch) partition, so even a crash-replayed batch
    * rewrites its partition instead of appending duplicates (the
    * at-least-once window the bare append+commit shape has).
    * Percentile BUCKETS are a corpus-level statement, so they stay a
    * batch read over the accumulated scores table (ccnetBuckets over
    * readScores), never per-batch state.
    *
    * The model is SNAPSHOT at stream start as a DURABLE copy-on-
    * publish parquet dir (a scratch copy of the flat store file): a
    * lazy reload would be plain parquet scans of `modelPath`, and a
    * [[graft.llm.NgramLm.persistBackoffModel]] republish (an atomic
    * swap) during the stream's lifetime would make later — or
    * crash-replayed — batches score against the republished files, or
    * fail on the swapped-away ones. The frozen guarantee holds by
    * materialization, not by a no-republish convention. The previous
    * shape pinned the gram tables with localCheckpoint(true) in
    * EXECUTOR block storage — any executor loss over the stream's
    * (long) lifetime made every later micro-batch fail unrecoverably
    * on missing checkpoint blocks, a transient fault killing the
    * stream; the on-disk snapshot survives executor churn and is
    * removed when the stream terminates (and by the scratch shutdown
    * hook as the backstop). */
  def backoffScoreStream(docs: DataFrame, idCol: String, textCol: String,
                         modelPath: String, outTable: String,
                         checkpointDir: String): StreamingQuery = {
    val spark = docs.sparkSession
    val snapDir = graft.util.Scratch.dir("graft_backoff_frozen")
    // the snapshot copy runs under the store lock: a concurrent
    // persistBackoffModel swap mid-copy could otherwise fail the
    // multi-file read+write or capture a torn generation — the exact
    // race the snapshot exists to close, previously still open during
    // stream startup
    graft.io.Tables.withStoreLock(spark, s"$modelPath/backoff") {
      spark.read.parquet(s"$modelPath/backoff")
        .write.parquet(s"$snapDir/backoff")
    }
    val model = graft.llm.NgramLm.readBackoffModel(spark, snapDir)
    val query = startBatches(docs, checkpointDir) { (batch, batchId) =>
      backoffScoreBatch(batch, idCol, textCol, model, outTable,
        checkpointDir, batchId)
    }
    val qid = query.id
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            try graft.util.Scratch.remove(snapDir)
            catch { case _: Exception => () } // shutdown hook backstop
            spark.streams.removeListener(this)
          }
      })
    query
  }

  /** One scoring micro-batch. Exactly-once WITHOUT trusting the
    * scores-write + commit-write pair to be atomic: the scores table
    * is PARTITIONED by (__sid, __bid) and each batch lands as a
    * dynamic overwrite of its own partition, so a crash between the
    * scores write and the commit append replays into the same
    * partition with identical content (scoreBackoff is deterministic)
    * instead of appending duplicates. The commit log stays as the
    * fast no-op guard for clean replays. */
  private[graft] def backoffScoreBatch(batch: DataFrame, idCol: String,
                                       textCol: String,
                                       model: graft.llm.NgramLm.BackoffModel,
                                       outTable: String,
                                       streamId: String = "",
                                       batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    commitOnce(spark, TableLog(commitsTableFor(outTable)), streamId, batchId) {
      val scored = graft.llm.NgramLm.scoreBackoff(batch, idCol, textCol, model)
        .withColumn("__sid", lit(streamId)).withColumn("__bid", lit(batchId))
      if (!spark.catalog.tableExists(outTable))
        scored.write.partitionBy("__sid", "__bid").format("parquet")
          .saveAsTable(outTable)
      else {
        // STATIC-partition INSERT OVERWRITE: the partition spec names
        // the batch's own (__sid, __bid), so exactly that partition is
        // replaced — under ANY partitionOverwriteMode and with no
        // session-conf mutation. The previous shape toggled the
        // session-global overwrite mode around insertInto; two scoring
        // streams (or any concurrent foreachBatch writer) in one
        // SparkSession could race the set/restore and one batch's
        // insert would then run under 'static' dynamic-less overwrite
        // and wipe every other (__sid, __bid) partition. (A per-write
        // DataFrameWriter option cannot fix this: insertInto does not
        // forward writer options to the V1 insert plan — verified by
        // spec, the option was silently ignored.)
        val v = "graft_scores_batch_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        scored.drop("__sid", "__bid").createOrReplaceTempView(v)
        val sidLit = streamId.replace("'", "''")
        // backtick-quote each identifier part: a table name with
        // spaces/keywords/backticks that worked through the
        // DataFrameWriter API must not break (or inject into) the SQL
        val outTableQ = outTable.split('.')
          .map(p => "`" + p.replace("`", "``") + "`").mkString(".")
        try spark.sql(s"INSERT OVERWRITE TABLE $outTableQ " +
          s"PARTITION (__sid = '$sidLit', __bid = $batchId) " +
          s"SELECT * FROM $v")
        finally spark.catalog.dropTempView(v)
      }
    }
  }

  /** Streaming maintenance of the incremental backoff-counts store
    * ([[graft.llm.NgramLm.appendToBackoffCounts]]): each micro-batch
    * of curated reference documents merges its gram counts into the
    * store (n-grams never cross documents, so the merge is exactly
    * additive). Exactly-once WITHOUT a separate commit log: the batch
    * tag (checkpoint dir + batchId) lands in the store's OWN applied
    * ledger inside the swap, so a replayed batch no-ops at the store.
    * Empty batches skip (an empty first batch would otherwise create
    * an empty store that fails the trainer's total>0 require). */
  def backoffCountsStream(ref: DataFrame, textCol: String, path: String,
                          checkpointDir: String): StreamingQuery =
    startBatches(ref, checkpointDir) { (batch, batchId) =>
      if (batch.head(1).nonEmpty) {
        val tag = Some(s"backoff-$checkpointDir-$batchId")
        // create-vs-append decided INSIDE the store lock (upsert):
        // an exists probe out here could race another writer's
        // first batch and lose one side's counts to a double-create
        graft.llm.NgramLm.upsertBackoffCounts(batch, textCol, path, tag)
      }
    }

  private[graft] def bpeEncodeBatch(batch: DataFrame, idCol: String,
                                    textCol: String,
                                    merges: Seq[(String, String)],
                                    ids: Seq[(String, Long)],
                                    outTable: String, streamId: String = "",
                                    batchId: Long = -1L): Unit =
    commitOnce(batch.sparkSession, TableLog(commitsTableFor(outTable)),
        streamId, batchId) {
      graft.llm.Bpe.encodeWith(batch, idCol, textCol, merges, ids)
        .write.mode("append").format("parquet").saveAsTable(outTable)
    }

  /** Streaming SQ8 index maintenance — encode-on-ingest against the
    * FROZEN persisted per-dim quantizer
    * ([[graft.llm.Similarity.persistSq8Index]]): each micro-batch of
    * vectors encodes map-side to dim-byte codes and appends new files
    * under `indexPath/codes` (the base store is never rewritten —
    * [[graft.llm.Similarity.appendToSq8Index]]'s contract). The
    * quantizer loads ONCE at stream start (a grid reloaded per batch
    * could re-quantize the same vector differently after an offline
    * rebuild). Code-file appends are NOT idempotent — a replayed
    * batch would duplicate code rows — so each batch goes through
    * [[commitOnce]] with its log under `indexPath/commits`: a
    * committed batch replays as a no-op; a mid-batch crash re-appends
    * deterministic duplicates a reader can dedup exactly. */
  def sq8IndexStream(vecs: DataFrame, idCol: String, embCol: String,
                     indexPath: String, checkpointDir: String
                    ): StreamingQuery = {
    val (quant, _) = graft.llm.Similarity.readSq8Index(vecs.sparkSession, indexPath)
    startBatches(vecs, checkpointDir) { (batch, batchId) =>
      sq8AppendBatch(batch, idCol, embCol, quant, indexPath,
        checkpointDir, batchId)
    }
  }

  /** One SQ8 streaming-append micro-batch — factored for
    * replay-semantics testing without a running stream. The codes land
    * through the flat index append (index lock, dim guard). The
    * log lives under the index path, since the index lives at a path,
    * not in the catalog. */
  private[graft] def sq8AppendBatch(batch: DataFrame, idCol: String,
                                    embCol: String,
                                    quant: IndexedSeq[(Long, Long)],
                                    indexPath: String, streamId: String = "",
                                    batchId: Long = -1L): Unit =
    commitOnce(batch.sparkSession, PathLog(s"$indexPath/commits"),
        streamId, batchId) {
      graft.llm.Similarity.appendToSq8IndexWith(batch, idCol, embCol,
        indexPath, quant)
    }

  /** Streaming IVF-SQ8 index maintenance — the cluster-partitioned
    * twin of [[sq8IndexStream]], but with a STRICTLY STRONGER
    * exactly-once recipe: each micro-batch goes through
    * [[graft.llm.Similarity.appendToIvfSq8Index]] with the
    * (checkpoint-lineage, batch-id) tag, so the applied record
    * publishes INSIDE the same atomic rename as the merged centroid
    * sums and the code files land under deterministic per-(tag,
    * cluster) names — a committed batch replays as a full no-op, and
    * a crash ANYWHERE mid-batch (including between the code adds and
    * the centroid swap, the window the flat stream's commit log can't
    * cover) resumes without duplicating a code row. No separate
    * commit log to disagree with the store. `labelCol` carries
    * cluster ids on the batch (the shared-oracle shape); None labels
    * each batch against the frozen centroid means. */
  def ivfSq8IndexStream(vecs: DataFrame, idCol: String, embCol: String,
                        indexPath: String, checkpointDir: String,
                        dim: Int = 64, labelCol: Option[String] = None
                       ): StreamingQuery =
    startBatches(vecs, checkpointDir) { (batch, batchId) =>
      graft.llm.Similarity.appendToIvfSq8Index(batch, idCol, embCol,
        indexPath, dim, labelCol,
        batchTag = Some(s"$checkpointDir#$batchId"))
    }

  /** Streaming maintenance of a persisted kNN-graph store
    * ([[graft.llm.Similarity.persistKnnGraphStore]]): each micro-batch
    * appends under a (checkpoint, batchId) tag, so structured
    * streaming's at-least-once replays no-op against the store's
    * applied ledger and the maintained graph equals the one-shot
    * build over the same rows — the [[ivfSq8IndexStream]] contract
    * for the graph artifact (StreamingPipelineSpec differential). */
  def knnGraphStream(vecs: DataFrame, idCol: String, embCol: String,
                     storePath: String, checkpointDir: String
                    ): StreamingQuery =
    startBatches(vecs, checkpointDir) { (batch, batchId) =>
      graft.llm.Similarity.appendToKnnGraphStore(batch, idCol, embCol,
        storePath, batchTag = Some(s"$checkpointDir#$batchId"))
    }

  /** One ANN-serving micro-batch against the frozen index, committed
    * through the batch log — factored out so the replay semantics are
    * testable without a running stream (the [[dedupBatch]] pattern). */
  private[graft] def annServeBatch(batch: DataFrame, cent: DataFrame,
                                   byCode: Map[Long, IndexedSeq[Long]],
                                   codes: DataFrame, store: DataFrame,
                                   qId: String, embCol: String, k: Int,
                                   m: Int, dim: Int, coarse: Int, nprobe: Int,
                                   ansTable: String, streamId: String = "",
                                   batchId: Long = -1L): Unit =
    commitOnce(batch.sparkSession, TableLog(commitsTableFor(ansTable)),
        streamId, batchId) {
      graft.llm.Similarity.ivfPqTopK(cent, byCode, codes, store, batch,
          qId, embCol, k, m, dim, coarse, nprobe)
        .write.mode("append").format("parquet").saveAsTable(ansTable)
    }
}
