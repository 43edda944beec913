package graft.io

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the harness parquet tables (TESTDATA.md) plus the
  * reference-shaped sources/sinks (SURVEY.md §2.1/§2.2).
  *
  * `events.parquet` carries TIMESTAMP(NANOS). How Spark surfaces that
  * depends on the Spark version, so `read("events")` branches on the
  * POST-READ dtype of `ts` rather than assuming either behavior:
  *   - older Spark (≤4.0 lineage): the reader rejects NANOS outright
  *     ([PARQUET_TYPE_ILLEGAL]) unless
  *     `spark.sql.legacy.parquet.nanosAsLong` is set, which surfaces
  *     `ts` as LongType nanos → truncate to micros with integer
  *     division (`div 1000`, never `/ 1000` — double division loses
  *     precision at 2^53 ≪ 1.7e18 ns);
  *   - Spark 4.1.2+ reads NANOS natively as TIMESTAMP_NTZ (micros,
  *     ns truncated) and IGNORES the legacy conf → a plain
  *     `cast("timestamp")`, which under the UTC session timezone is
  *     micros-identical to the long path and to DuckDB's ns→us
  *     truncation, so oracle comparisons agree either way.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // Set the legacy conf BEFORE the read so pre-4.1 Sparks (which
      // reject TIMESTAMP(NANOS) without it) can load the file at all.
      // 4.1.2+ ignores it and reads NANOS as TIMESTAMP_NTZ. On the
      // legacy path there is no per-scan toggle and the conf is
      // consulted again at execution time, so it CANNOT be restored
      // after the (lazy) read — documented side effect: later
      // TIMESTAMP(NANOS) reads in the same session surface as LongType.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos-as-long path: integer-truncate ns → us.
          timestamp_micros(expr("ts div 1000"))
        case _ =>
          // native TIMESTAMP_NTZ (or already TIMESTAMP): NTZ→LTZ cast
          // under the UTC session is micros-identical to the long path.
          col("ts").cast("timestamp")
      }
      raw.withColumn("ts", ts)
    case other =>
      spark.read.parquet(s"$dir/$other.parquet")
  }

  /** S1 — RTDB-snapshot loader. The reference reads the whole `/Users`
    * JSON tree (`firebase_service.py:121-122`), a single object keyed by
    * uid. We read the file as one text blob, parse the top level as a
    * map, explode it (the reference's child iteration), promote the map
    * key to `id`/`uid` (P1) and skip non-object children (P4 —
    * `firebase_service.py:174-178`). Child objects stay as raw JSON
    * strings so heterogeneous schemas survive; field access is by
    * `get_json_object` downstream. */
  def readRtdbSnapshot(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(path)
    raw
      .select(explode(from_json(col("value"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))).as(Seq("key", "json")))
      // P4: non-dict children parse to non-object strings; keep objects only.
      .filter(col("json").startsWith("{"))
      // P1: key promotion.
      .withColumn("id", col("key"))
      .withColumn("uid", col("key"))
      .drop("key")
  }

  /** K1 — JSON export (firebase_service.py:311-349). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** K2 — CSV export, header on, UTF-8 (user_transformer.py:479-489). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** File-level storage audit of a written dataset — the compaction /
    * clustering QA tool: one row per partition directory with row
    * count, file count, and the key range its files cover. Small-file
    * sprawl (n_files high, n_rows low) is the signal to compact;
    * overlapping key ranges across directories are the signal the
    * clustering contract broke. Pure metadata-shaped aggregation over
    * `input_file_name()` — no extra pass beyond the one scan. */
  def fileAudit(spark: SparkSession, path: String, keyCol: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.withColumn("__f", input_file_name())
      .withColumn("part_dir", regexp_extract(col("__f"), "([^/]+)/[^/]+$", 1))
      .groupBy(col("part_dir"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("__f")).as("n_files"),
        min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"))
  }

  /** Partitioned parquet layout — the 100 TB data-lake sink: one
    * directory per partition value (e.g. event date), so downstream
    * scans prune at the file-listing level before any I/O. Callers pick
    * low-cardinality, filter-aligned columns (date, region, lang). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table sink — co-locates rows by join key so repeated
    * joins/aggregations on that key skip the exchange entirely
    * (plan-asserted in BucketingSpec). Buckets require a table catalog
    * entry, hence saveAsTable. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, n: Int): Unit =
    df.write.mode("overwrite").bucketBy(n, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Sort-clustered parquet sink — the compaction shape for a 100 TB
    * table: range-repartition on the cluster key then sort within
    * files, so every file (and every row group inside it) covers a
    * DISJOINT key range and parquet footers carry tight min/max.
    * Selective scans then skip whole files/row groups instead of
    * reading and filtering — the one-dimensional form of Z-order
    * clustering. `maxRecordsPerFile` bounds file size for compaction
    * (0 = one file per range partition). */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  files: Int, maxRecordsPerFile: Long = 0L): Unit =
    df.repartitionByRange(files, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Crash-consistent replacement for `mode("overwrite")` on a SMALL
    * table whose lineage reads the table itself (merged sketch
    * registers, centroid sums): the merged frame is fully written to a
    * sibling temp dir FIRST — reading the live table as input, so
    * there is no read-while-overwrite — then published by
    * [[renamePublish]]. A crash before the publish leaves the OLD
    * table intact and valid; a crash inside the (metadata-only)
    * rename window leaves the table MISSING, which fails loudly on
    * the next read instead of silently serving a stale or torn
    * generation. Recovery for either residue: re-run the merge for
    * the batch and delete orphan `__next`/`__old` dirs.
    *
    * Each published generation carries a `_GEN-<n>` marker
    * (underscore-prefixed — invisible to parquet readers).
    * `expectedGen` is the CAS: a publisher that read the store at
    * generation g passes g, and the publish FAILS LOUDLY if the store
    * moved past g since — two concurrent swappers each merging the
    * same base either serialize (every merge runs inside
    * [[readMergePublish]], under [[withStoreLock]]) or raise, and the
    * second never silently drops the first's contribution.
    *
    * `ledger` is the applied-tag ledger: its lines publish INSIDE the
    * swapped dir, so "data merged" and "batch recorded as applied"
    * land in the SAME atomic rename. That is what lets a sum-monoid
    * store (where replayed merges double-count, unlike HLL's
    * idempotent max) offer exactly-once appends with no separate
    * commit log: a crash leaves either the old generation (tag absent
    * → safe to re-run) or the new one (tag present → the re-run
    * short-circuits), never data without its tag. */
  def swapInParquet(spark: SparkSession, df: DataFrame,
                    dest: String, expectedGen: Long = -1L,
                    ledger: Seq[String] = Nil): Unit =
    renamePublish(spark, dest, df.write.mode("overwrite")) { next =>
      val fs = next.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // ONE small file per publish (a file per batch would grow the
      // listing forever), bounded to the most recent MaxAppliedLedger
      // lines: replays come from at-least-once retries of RECENT
      // batches (structured-streaming checkpoints advance
      // monotonically, so the replay window is the last uncommitted
      // batch), never from antiquity — the truncation is documented
      // contract, not loss.
      if (ledger.nonEmpty) {
        // The header line records the CUMULATIVE applied-batch count so
        // a wrapped ledger (total > retained lines) is DETECTABLE: a
        // tag-checked append against a wrapped store cannot prove a
        // very old tag (e.g. a streaming checkpoint restored from an
        // ancient backup) was not already applied — see
        // [[storeLedgerWrapped]].
        val distinctLedger = ledger.distinct
        val (priorRetained, priorTotal) = storeLedgerCounts(spark, dest)
        val total = math.max(priorTotal, priorRetained.toLong) +
          math.max(0, distinctLedger.size - priorRetained)
        val out = fs.create(new org.apache.hadoop.fs.Path(next, AppliedLedgerFile), true)
        out.write((s"#TOTAL-$total\n" +
          distinctLedger.takeRight(MaxAppliedLedger).mkString("", "\n", "\n"))
          .getBytes("UTF-8"))
        out.close()
      }
      val gen = storeGeneration(spark, dest)
      if (expectedGen >= 0L && gen != expectedGen) {
        fs.delete(next, true)
        throw new java.io.IOException(
          s"swapInParquet: $dest is at generation $gen but this publish " +
            s"merged against generation $expectedGen — a concurrent writer " +
            "advanced the store since it was read (single-writer contract; " +
            "re-run the merge against the current generation)")
      }
      fs.create(new org.apache.hadoop.fs.Path(next, s"_GEN-${gen + 1L}"),
        true).close()
    }

  /** The one read-merge-publish window every mergeable store commits
    * through — the protocol that makes incremental stores exactly-once
    * under at-least-once replay. Under the store's lock
    * ([[withStoreLock]]): a `batchTag` already in the applied ledger
    * returns before any side effect; otherwise `merge` runs, given the
    * store's current generation (`None` when the store does not exist
    * yet, so a create-or-merge caller picks its create face), and the
    * frame it returns publishes through [[swapInParquet]] with that
    * generation as the CAS and the tag appended to the ledger. `merge`
    * may write sibling stores before it returns (staged code files,
    * graph edges); those writes must converge when a crashed window is
    * re-run, because the tag only commits with the publish. */
  def readMergePublish(spark: SparkSession, dest: String,
                       batchTag: Option[String] = None)(
      merge: Option[Long] => DataFrame): Unit =
    withStoreLock(spark, dest) {
      val applied = storeAppliedLedger(spark, dest)
      val tagLine = batchTag.map(appliedLedgerLine)
      if (!tagLine.exists(applied.contains)) {
        warnIfLedgerWrapped(spark, dest, tagLine)
        val destPath = new org.apache.hadoop.fs.Path(dest)
        val exists = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(destPath)
        val gen = storeGeneration(spark, dest)
        swapInParquet(spark, merge(if (exists) Some(gen) else None), dest,
          gen, ledger = applied ++ tagLine)
      }
    }

  /** The two-rename publish shared by every whole-store rewrite
    * ([[swapInParquet]], the compactions): `writer` writes the new
    * content to a sibling `__next_*` dir, `stamp` adds bookkeeping
    * files to it (or deletes it and throws to abort), then the live dir
    * moves aside to `__old_*` and `__next_*` renames into place. A
    * failed publish rename restores the previous generation. */
  private def renamePublish(spark: SparkSession, dest: String,
                            writer: DataFrameWriter[Row])(
      stamp: org.apache.hadoop.fs.Path => Unit): Unit = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = new org.apache.hadoop.fs.Path(s"${dest}__next_$tag")
    val old = new org.apache.hadoop.fs.Path(s"${dest}__old_$tag")
    writer.parquet(next.toString)
    stamp(next)
    if (fs.exists(destPath) && !fs.rename(destPath, old))
      throw new java.io.IOException(s"publish: cannot move $destPath aside")
    if (!fs.rename(next, destPath)) {
      fs.rename(old, destPath) // restore the previous generation
      throw new java.io.IOException(s"publish: cannot publish $next")
    }
    fs.delete(old, true)
  }

  /** The store's current generation number: max `_GEN-<n>` marker in
    * the published dir (0 for a missing store or one predating the
    * markers — the first stamped publish moves it to 1). */
  def storeGeneration(spark: SparkSession, dest: String): Long = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(destPath)) 0L
    else fs.listStatus(destPath).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("_GEN-") => n.drop(5).toLong }
      .maxOption.getOrElse(0L)
  }

  /** The underscore-prefixed provenance markers in the store's current
    * generation — legacy one-empty-file-per-batch `_APPLIED-*` markers
    * from stores written before the single-file ledger. `_GEN-*`
    * stamps, Hadoop `_SUCCESS` files and the ledger file itself are
    * excluded — they are bookkeeping, not batch provenance. */
  def storeMarkers(spark: SparkSession, dest: String): Seq[String] = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(destPath)) Seq.empty
    else fs.listStatus(destPath).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("_") && !n.startsWith("_GEN-") &&
        n != "_SUCCESS" && n != AppliedLedgerFile).toSeq.sorted
  }

  /** The single-file applied-tag ledger published with a store
    * generation (see [[swapInParquet]] `ledger`). */
  val AppliedLedgerFile = "_APPLIED_LEDGER"

  /** Ledger retention: replay detection covers the most recent K
    * applied batches — far beyond any structured-streaming retry
    * window (the checkpoint advances monotonically; restarts replay
    * only the last uncommitted batch). A generic caller replaying a
    * tag older than K batches ago is outside the contract. */
  val MaxAppliedLedger = 512

  /** One ledger line for a batch tag: md5-derived, filesystem-safe and
    * line-safe for ANY tag text, and bytewise-compatible with the
    * legacy one-empty-file-per-batch `_APPLIED-*` markers so existing
    * stores migrate on their first ledger publish. */
  def appliedLedgerLine(tag: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"_APPLIED-${h.take(16)}"
  }

  /** Every applied-batch record on the store's current generation:
    * ledger-file lines plus any legacy `_APPLIED-*` marker files
    * (pre-ledger stores fold their history into the ledger on the
    * next publish and the marker files vanish with the swapped dir). */
  def storeAppliedLedger(spark: SparkSession, dest: String): Seq[String] = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledgerPath = new org.apache.hadoop.fs.Path(destPath, AppliedLedgerFile)
    val lines =
      if (!fs.exists(ledgerPath)) Seq.empty[String]
      else {
        val in = fs.open(ledgerPath)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toList
        finally in.close()
      }
    val legacy = storeMarkers(spark, dest).filter(_.startsWith("_APPLIED-"))
    (legacy ++ lines).distinct
  }

  /** (retained applied-tag lines, cumulative applied total) for a
    * store's ledger. Total falls back to the retained count for
    * pre-header ledgers (which by construction never wrapped more than
    * the header's absence can hide — headers publish with every ledger
    * write from the version that introduced them). */
  def storeLedgerCounts(spark: SparkSession, dest: String): (Int, Long) = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledgerPath = new org.apache.hadoop.fs.Path(destPath, AppliedLedgerFile)
    val header =
      if (!fs.exists(ledgerPath)) None
      else {
        val in = fs.open(ledgerPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .find(_.startsWith("#TOTAL-")).map(_.stripPrefix("#TOTAL-").toLong)
        finally in.close()
      }
    val retained = storeAppliedLedger(spark, dest).size
    (retained, header.getOrElse(retained.toLong))
  }

  /** True when the store's applied-tag ledger has TRUNCATED history:
    * more batches were ever applied than the retained
    * [[MaxAppliedLedger]] window holds. A tag-checked append whose tag
    * is absent from a WRAPPED ledger cannot distinguish "new batch"
    * from "batch applied before the window" — replaying a tag older
    * than the window (a streaming checkpoint restored from an old
    * backup) silently double-applies on count-SUM stores. Appenders
    * surface a loud stderr warning on this state; operators restoring
    * checkpoints from backup must rebuild or reconcile the store
    * rather than resume-append into it. */
  def storeLedgerWrapped(spark: SparkSession, dest: String): Boolean = {
    val (retained, total) = storeLedgerCounts(spark, dest)
    total > retained
  }

  /** The loud-warning side of [[storeLedgerWrapped]], shared by the
    * tag-checked appenders: called when a tag was NOT found applied,
    * right before the append proceeds. */
  def warnIfLedgerWrapped(spark: SparkSession, dest: String,
                          tag: Option[String]): Unit =
    if (tag.nonEmpty && storeLedgerWrapped(spark, dest))
      System.err.println(
        s"[graft] WARNING: applied-tag ledger at $dest has wrapped " +
          s"(retention ${MaxAppliedLedger}); tag '${tag.get}' was not found " +
          "but may have been applied before the retained window — if this " +
          "batch replays history older than the window (e.g. a checkpoint " +
          "restored from backup), it will double-apply on a sum-monoid store")

  /** Idempotent staged append of a batch's PARTITIONED files into a
    * `partitionBy(partCol)` parquet store — the crash-replay-safe
    * codes side of the persisted-index appends. `mode("append")`
    * alone is not retry-safe: a crash after the file adds but before
    * the batch is recorded applied makes the retry double-append. This
    * stages the batch to a scratch sibling with the batch repartitioned
    * ON the partition column (exactly ONE file per touched partition
    * dir — appends are deltas; the heavy path is a rebuild), renames
    * that file to the DETERMINISTIC name `b<tagHash>.parquet`, and
    * moves it into the store SKIPPING names that already exist — so a
    * retry after a partial publish moves only the missing partitions
    * and a complete replay moves nothing. Contents are the same rows
    * on every retry (each partition's file carries ALL of the batch's
    * rows for that partition value, whatever the task layout), the
    * same determinism the append==rebuild differentials already
    * contract. Callers hold the store lock. */
  def stagedPartitionedAppend(spark: SparkSession, df: DataFrame,
                              dest: String, partCol: String,
                              tagHash: String): Unit = {
    require(tagHash.nonEmpty && tagHash.forall(c => c.isLetterOrDigit || c == '-'),
      s"tagHash must be filesystem-safe, got '$tagHash'")
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"${dest}__stage_$tagHash")
    df.repartition(org.apache.spark.sql.functions.col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(stage.toString)
    fs.listStatus(stage).filter(_.isDirectory).foreach { d =>
      val parts = fs.listStatus(d.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      require(parts.length == 1,
        s"staged append: expected exactly one file under ${d.getPath}, " +
          s"got ${parts.length} — the repartition-on-$partCol contract broke")
      val target = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(destPath, d.getPath.getName),
        s"b$tagHash.parquet")
      if (!fs.exists(target)) {
        fs.mkdirs(target.getParent)
        if (!fs.rename(parts.head.getPath, target))
          throw new java.io.IOException(
            s"staged append: cannot publish ${parts.head.getPath} -> $target")
      }
    }
    fs.delete(stage, true)
  }

  /** Compact a `partitionBy` parquet store in place: incremental
    * appends land one file per (batch, partition) FOREVER — after a
    * year of daily deltas every cluster directory holds hundreds of
    * small files and scan/listing cost is driven by file count, not
    * bytes (the classic small-files failure at 100 TB). This rewrites
    * the store to ONE file per partition value and publishes with
    * [[renamePublish]] (read-while-write safe — the
    * rewrite targets a sibling dir; a crash before the publish leaves
    * the old store intact, inside the rename window leaves it missing
    * = loud, never torn). NO lock is taken here — the caller holds
    * the STORE'S OWN lock (the one its appenders take) so compaction
    * serializes with appends; and any crashed tagged append must be
    * retried BEFORE compacting (compaction absorbs orphan code files,
    * after which the retry would re-place them — the recovery-order
    * contract, documented on the index-level wrappers). */
  def compactPartitionedParquet(spark: SparkSession, dest: String,
                                partCol: String): Unit =
    renamePublish(spark, dest, spark.read.parquet(dest)
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol))(_ => ())

  /** Compact an UNPARTITIONED parquet store to `numFiles` files — the
    * flat-store face of [[compactPartitionedParquet]] (flat PQ/SQ8
    * code stores accumulate one-plus files per append batch forever;
    * there is no partition dir to rewrite per, so the target is a
    * file-count budget the caller derives from the store's size).
    * `coalesce` keeps the rewrite shuffle-free — compaction is an I/O
    * rewrite, not a repartition. Publishes with [[renamePublish]]
    * (crash before publish leaves the old store; inside the
    * rename window leaves it missing = loud, never torn; readers
    * tolerate-and-retry the transient window). Caller holds the
    * store's lock. */
  def compactFlatParquet(spark: SparkSession, dest: String,
                         numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    renamePublish(spark, dest,
      spark.read.parquet(dest).coalesce(numFiles).write.mode("overwrite"))(_ => ())
  }

  /** Replace a SUBSET of a `partitionBy` store's partitions with new
    * content — the incremental-rewrite primitive for stores whose
    * appends must also UPDATE existing rows (the kNN-graph store: a
    * new vector can enter an old vector's top-k, so the old vector's
    * partition rewrites). Writes `df` to a sibling stage dir
    * partitioned on `partCol`, then swaps each staged partition dir
    * into the store with the per-dir rename pair (old aside → new
    * in); untouched partitions are never read or written.
    *
    * Crash contract: a crash mid-publish leaves SOME partitions new
    * and some old. This is safe ONLY when the caller derives `df`
    * idempotently from (current store, batch) — i.e. re-deriving
    * against a half-published store yields the same content (the
    * merge-into-top-k shape: merging a candidate set into an
    * already-merged list is a no-op). Callers hold the store's lock. */
  def replacePartitions(spark: SparkSession, df: DataFrame,
                        dest: String, partCol: String): Unit = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a partition dir that exists ONLY inside a crashed swap's
    // __old_* sibling would be read as EMPTY by the caller's
    // idempotent re-derivation — restore it first (callers must also
    // restore BEFORE deriving `df`; this top-of-call pass is the
    // defensive backstop that keeps the window from widening)
    restoreOrphanedPartitions(spark, dest)
    val next = new org.apache.hadoop.fs.Path(s"${dest}__next_$tag")
    val old = new org.apache.hadoop.fs.Path(s"${dest}__old_$tag")
    df.repartition(org.apache.spark.sql.functions.col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(next.toString)
    fs.mkdirs(old)
    fs.listStatus(next).filter(_.isDirectory).foreach { d =>
      val target = new org.apache.hadoop.fs.Path(destPath, d.getPath.getName)
      if (fs.exists(target) &&
        !fs.rename(target, new org.apache.hadoop.fs.Path(old, d.getPath.getName)))
        throw new java.io.IOException(
          s"replacePartitions: cannot move $target aside")
      if (!fs.rename(d.getPath, target))
        throw new java.io.IOException(
          s"replacePartitions: cannot publish ${d.getPath} -> $target")
    }
    fs.delete(next, true)
    fs.delete(old, true)
  }

  /** Heal [[replacePartitions]]'s silent crash window: a crash
    * between the per-partition rename-aside and the publish rename
    * leaves that partition dir ABSENT from the store — its only copy
    * inside a `${dest}__old_*` sibling. A retry that re-derives
    * content from the store would read ZERO rows for that partition
    * and permanently publish wrong content (untouched rows lost,
    * touched rows rebuilt from the batch side only), violating the
    * retry-converges contract. This pass renames every `__old_*`
    * partition dir whose partition is MISSING from the store back in
    * (an `__old_*` copy whose partition exists is the stale aside of
    * a COMPLETED swap — left for the vacuum). Idempotent; callers of
    * replacePartitions run it before reading the store to derive
    * retry content ([[graft.llm.Similarity.appendToKnnGraphStore]]),
    * and replacePartitions itself runs it defensively at the top.
    * Must run under the store's writer lock (same rule as every
    * read-merge-publish window). Returns the restored partition
    * paths. */
  def restoreOrphanedPartitions(spark: SparkSession,
                                dest: String): Seq[String] = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = destPath.getParent
    val name = destPath.getName
    if (parent == null || !fs.exists(parent)) return Seq.empty
    fs.listStatus(parent).iterator
      .map(_.getPath)
      .filter(p => p.getName.startsWith(s"${name}__old_") &&
        fs.getFileStatus(p).isDirectory)
      .flatMap { o =>
        fs.listStatus(o).filter(_.isDirectory).flatMap { d =>
          val target = new org.apache.hadoop.fs.Path(destPath, d.getPath.getName)
          if (fs.exists(target)) None
          else if (!fs.rename(d.getPath, target))
            throw new java.io.IOException(
              s"restoreOrphanedPartitions: cannot restore ${d.getPath} -> " +
                s"$target — the partition's only copy is stranded; refusing " +
                "to proceed against a store missing it")
          else Some(target.toString)
        }
      }
      .toSeq
  }

  /** Delete a store's crash residue: orphan `__next_*` / `__old_*`
    * swap dirs and `__stage_*` append stages are the documented
    * leftovers of a publisher that died mid-window ([[swapInParquet]],
    * [[stagedPartitionedAppend]]) — harmless to readers (the live dir
    * is untouched) but they accumulate bytes and listings forever.
    * Runs under the store's lock so a LIVE publisher's in-flight next
    * dir is never swept (the lock holder owns the residue namespace);
    * a `__stage_*` belonging to a crashed TAGGED append may be swept
    * freely — the retry rebuilds the stage from scratch and its moves
    * skip already-placed files, so vacuuming never breaks the
    * exactly-once recovery (unlike compaction, which absorbs placed
    * files and must come AFTER the retry). Returns the deleted paths.
    *
    * LOCK-SCOPE CAVEAT: this takes the lock of THE STORE IT SWEEPS,
    * which protects against concurrent publishers of that same store —
    * but the persisted-index appenders stage codes under
    * `codes__stage_*` while holding the CENTROIDS lock, so a bare
    * `vacuumStore(.../codes)` racing a live tagged append can delete
    * the append's in-flight stage dir (loud failure; the retry
    * recovers exactly-once — availability, not corruption). Vacuum a
    * persisted ANN index through
    * [[graft.llm.Similarity.vacuumIndexStores]], which sweeps all of
    * the index's stores under the centroids lock the appenders
    * actually hold. */
  def vacuumStore(spark: SparkSession, dest: String): Seq[String] =
    withStoreLock(spark, dest) { vacuumStoreUnlocked(spark, dest) }

  /** [[vacuumStore]] body without the lock — for composite callers
    * that already hold the lock governing the store's writers (the
    * index-level vacuum holds the centroids lock while sweeping the
    * codes/quantizer siblings). */
  def vacuumStoreUnlocked(spark: SparkSession, dest: String): Seq[String] = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    storeResidue(spark, dest).map { p => fs.delete(p, true); p.toString }
  }

  /** A store's crash-residue dirs: its `__next_*` / `__old_*` swap
    * siblings and `__stage_*` append stages — what [[vacuumStore]]
    * deletes and the store audits count. */
  private[graft] def storeResidue(spark: SparkSession,
                                  dest: String): Seq[org.apache.hadoop.fs.Path] = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = destPath.getParent
    val name = destPath.getName
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toSeq.map(_.getPath).filter { p =>
      Seq("__next_", "__old_", "__stage_").exists(t => p.getName.startsWith(name + t))
    }
  }

  /** Exclusive advisory lease over a swap-published store: runs `body`
    * with `${dest}__lock` held (atomic create-if-absent — HDFS-atomic,
    * best-effort-atomic on local filesystems), retrying acquisition
    * for up to retries × waitMs before failing loudly. This is what
    * ENFORCES the single-writer contract: every
    * [[readMergePublish]] window runs under the store's lock, so two
    * racing appenders serialize — the second merges against the
    * first's published generation instead of the stale base. The lock
    * window is seconds (a tiny-table merge + two metadata renames), so
    * the default 60 s budget only exhausts against a CRASHED holder —
    * the failure message names the orphan lock file; recovery is
    * verifying no writer is live and deleting it. Not reentrant: a
    * body must never call another locked operation on the same
    * store. */
  def withStoreLock[T](spark: SparkSession, dest: String,
                       retries: Int = 240, waitMs: Long = 250L)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(s"${dest}__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // acquisition must be ATOMIC create-if-absent. On HDFS-like
    // filesystems create(overwrite = false) is atomic server-side; on
    // the local filesystem Hadoop's createNewFile is CHECK-THEN-CREATE
    // (two racing threads can both "acquire" — caught by the
    // StoreConcurrencySpec races), so file: paths go through
    // java.nio.Files.createFile, which is O_CREAT|O_EXCL.
    val uri = fs.makeQualified(lock).toUri
    val localPath =
      if (uri.getScheme == null || uri.getScheme == "file")
        Some(java.nio.file.Paths.get(uri.getPath))
      else None
    localPath.foreach(p => java.nio.file.Files.createDirectories(p.getParent))
    def tryAcquire(): Boolean = localPath match {
      case Some(p) =>
        try { java.nio.file.Files.createFile(p); true }
        catch { case _: java.io.IOException => false }
      case None =>
        try fs.createNewFile(lock)
        catch { case _: java.io.IOException => false }
    }
    var held = false
    var attempt = 0
    while (!held && attempt <= retries) {
      held = tryAcquire()
      if (!held) { attempt += 1; Thread.sleep(waitMs) }
    }
    if (!held) throw new java.io.IOException(
      s"withStoreLock: cannot acquire $lock after ${retries + 1} attempts — " +
        "another writer holds the store, or a crashed one left the lock " +
        "behind (verify no writer is live, then delete the lock file)")
    try body finally fs.delete(lock, false)
  }
}
