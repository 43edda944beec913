package graft.llm

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** The r15 single-writer enforcement: swap-published stores
  * (HLL registers, IVF/PQ centroids) now run every read-merge-publish
  * window under [[graft.io.Tables.withStoreLock]], stamp `_GEN-<n>`
  * generation markers, and CAS on publish. These specs drive the
  * exact races the r14 verdict called out: two racing appends, two
  * racing bootstraps, and a lock-bypassing stale publish. */
class StoreConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def docsA = Seq(("s0", "alpha beta gamma delta"),
    ("s1", "one two three four five")).toDF("source", "text")
  private def docsB = Seq(("s0", "epsilon zeta eta theta"),
    ("s1", "six seven eight nine ten")).toDF("source", "text")

  /** Run the two thunks concurrently (latch-aligned start), rethrowing
    * the first failure. */
  private def race(a: => Unit, b: => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def task(body: => Unit) = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try body catch { case t: Throwable => errs.add(t) }
      }
    })
    val (fa, fb) = (task(a), task(b))
    start.countDown()
    fa.get(120, TimeUnit.SECONDS); fb.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    if (!errs.isEmpty) throw errs.peek()
  }

  /** `e` and its causes, outermost first. */
  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  private def regsSorted(path: String) =
    CorpusStats.readHllProfile(spark, path)
      .orderBy("source", "idx").collect().toSeq

  test("two racing appendToHllProfile calls serialize to the serial-order state") {
    val path = Files.createTempDirectory("hll_race_").toString + "/p"
    CorpusStats.persistHllProfile(
      Seq(("s0", "base corpus text here")).toDF("source", "text"),
      "source", "text", path)
    race(
      CorpusStats.appendToHllProfile(docsA, "source", "text", path),
      CorpusStats.appendToHllProfile(docsB, "source", "text", path))
    // register max is a commutative monoid: EVERY serial order equals
    // the from-scratch build over the union — so "state equal to some
    // serial order" is checkable exactly
    val scratch = Files.createTempDirectory("hll_scratch_").toString + "/p"
    CorpusStats.persistHllProfile(
      Seq(("s0", "base corpus text here")).toDF("source", "text")
        .unionByName(docsA).unionByName(docsB), "source", "text", scratch)
    assert(regsSorted(path) === regsSorted(scratch),
      "a racing append dropped the other's contribution (lost update)")
    // both publishes landed: base=1, +2 appends
    assert(Tables.storeGeneration(spark, s"$path/registers") === 3L)
  }

  test("two racing upsertHllProfile bootstraps on an EMPTY store lose no registers") {
    val path = Files.createTempDirectory("hll_boot_").toString + "/p"
    race(
      CorpusStats.upsertHllProfile(docsA, "source", "text", path),
      CorpusStats.upsertHllProfile(docsB, "source", "text", path))
    val scratch = Files.createTempDirectory("hll_boot_scratch_").toString + "/p"
    CorpusStats.persistHllProfile(docsA.unionByName(docsB),
      "source", "text", scratch)
    assert(regsSorted(path) === regsSorted(scratch),
      "the bootstrap race's loser overwrote the winner's first batch")
  }

  test("a lock-bypassing stale publish fails the generation CAS loudly") {
    val path = Files.createTempDirectory("hll_cas_").toString + "/p"
    CorpusStats.persistHllProfile(docsA, "source", "text", path)
    val dest = s"$path/registers"
    val staleGen = Tables.storeGeneration(spark, dest)
    val staleMerge = spark.read.parquet(dest).localCheckpoint(true)
    // a legitimate writer advances the store...
    CorpusStats.appendToHllProfile(docsB, "source", "text", path)
    // ...so the stale merge's publish must raise, not silently win
    val e = intercept[java.io.IOException] {
      Tables.swapInParquet(spark, staleMerge, dest, staleGen)
    }
    assert(e.getMessage.contains("generation"))
    // and the store still holds the legitimate writer's state
    val scratch = Files.createTempDirectory("hll_cas_scratch_").toString + "/p"
    CorpusStats.persistHllProfile(docsA.unionByName(docsB),
      "source", "text", scratch)
    assert(regsSorted(dest.stripSuffix("/registers")) === regsSorted(scratch))
  }

  test("withStoreLock: an orphan lock fails loudly with the recovery hint") {
    val dest = Files.createTempDirectory("lock_orphan_").toString + "/store"
    val lock = new org.apache.hadoop.fs.Path(s"${dest}__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(lock)
    val e = intercept[java.io.IOException] {
      Tables.withStoreLock(spark, dest, retries = 2, waitMs = 10L) { fail("body must not run") }
    }
    assert(e.getMessage.contains("delete the lock file"))
    fs.delete(lock, false)
    // after recovery the lock acquires and the body runs exactly once
    var ran = 0
    Tables.withStoreLock(spark, dest, retries = 2, waitMs = 10L) { ran += 1 }
    assert(ran === 1 && !fs.exists(lock), "lock must release on exit")
  }

  test("racing IVF centroid appends serialize; merged sums equal a from-scratch build") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val path = Files.createTempDirectory("ivf_race_").toString + "/idx"
    Similarity.persistIvfIndex(vecs(0L to 3L), "vec_id", "embedding",
      "label", path)
    race(
      Similarity.appendToIvfIndex(vecs(4L to 7L), "vec_id", "embedding",
        "label", path),
      Similarity.appendToIvfIndex(vecs(8L to 11L), "vec_id", "embedding",
        "label", path))
    val scratch = Files.createTempDirectory("ivf_race_scratch_").toString + "/idx"
    Similarity.persistIvfIndex(vecs(0L to 11L), "vec_id", "embedding",
      "label", scratch)
    val got = spark.read.parquet(s"$path/centroids")
      .orderBy("label", "pos").collect().toSeq
    val want = spark.read.parquet(s"$scratch/centroids")
      .orderBy("label", "pos").collect().toSeq
    assert(got === want, "a racing centroid merge dropped the other's sums")
  }

  test("racing IVF-SQ8 appends serialize; centroids and codes equal a from-scratch build") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val path = Files.createTempDirectory("ivfsq8_race_").toString + "/idx"
    // grid trains on the full population so every append is in-range
    // and append == rebuild holds across the race
    Similarity.persistIvfSq8Index(vecs(0L to 3L), "vec_id", "embedding",
      "label", path, train = Some(vecs(0L to 11L)))
    race(
      Similarity.appendToIvfSq8Index(vecs(4L to 7L), "vec_id", "embedding",
        path, dim = 4, labelCol = Some("label")),
      Similarity.appendToIvfSq8Index(vecs(8L to 11L), "vec_id", "embedding",
        path, dim = 4, labelCol = Some("label")))
    val scratch = Files.createTempDirectory("ivfsq8_race_scratch_").toString + "/idx"
    Similarity.persistIvfSq8Index(vecs(0L to 11L), "vec_id", "embedding",
      "label", scratch)
    val (centG, quantG, codesG) = Similarity.readIvfSq8Index(spark, path)
    val (centW, quantW, codesW) = Similarity.readIvfSq8Index(spark, scratch)
    assert(quantG == quantW)
    assert(centG.orderBy("label", "pos").collect().toSeq ===
      centW.orderBy("label", "pos").collect().toSeq,
      "a racing centroid merge dropped the other's sums")
    assert(codesG.orderBy("cid").collect().toSeq ===
      codesW.orderBy("cid").collect().toSeq,
      "racing code appends lost or duplicated a batch")
  }

  /** A cluster-partitioned code family with tagged appends: how to
    * persist it, append a tagged batch, and encode a batch's codes the
    * way its appender stages them. */
  private case class TaggedCodeFamily(
      appender: String,
      persist: (DataFrame, String, Option[DataFrame]) => Unit,
      append: (DataFrame, String, String) => Unit,
      batchCodes: (DataFrame, String) => DataFrame)

  private val taggedCodeFamilies = Seq(
    TaggedCodeFamily("appendToIvfSq8Index",
      (df, path, train) => Similarity.persistIvfSq8Index(df, "vec_id",
        "embedding", "label", path, train = train),
      (df, path, tag) => Similarity.appendToIvfSq8Index(df, "vec_id",
        "embedding", path, dim = 4, labelCol = Some("label"),
        batchTag = Some(tag)),
      (df, path) => Similarity.sq8EncodeFrame(df, "vec_id", "embedding",
        Similarity.readIvfSq8Index(spark, path)._2)),
    TaggedCodeFamily("appendToIvfPqIndex",
      (df, path, train) => Similarity.persistIvfPqIndex(df, "vec_id",
        "embedding", "label", path, m = 2, dim = 4, train = train),
      (df, path, tag) => Similarity.appendToIvfPqIndex(df, "vec_id",
        "embedding", "label", path, m = 2, dim = 4, batchTag = Some(tag)),
      (df, path) => Similarity.pqEncodeFrame(df, "vec_id", "embedding",
        Similarity.readIvfPqIndex(spark, path)._2, 2, 4)))

  taggedCodeFamilies.foreach { f =>
    test(s"tagged ${f.appender}: replay no-ops; a crash between codes and swap resumes exactly-once") {
      def vecs(ids: Seq[Long]) = ids.map { i =>
        (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
      }.toDF("vec_id", "embedding", "label")
      val path = Files.createTempDirectory("ivf_tag_").toString + "/idx"
      f.persist(vecs(0L to 3L), path, Some(vecs(0L to 11L)))
      f.append(vecs(4L to 7L), path, "batch-1")
      val genAfter = Tables.storeGeneration(spark, s"$path/centroids")
      def state() = (
        spark.read.parquet(s"$path/codes").orderBy("cid").collect().toSeq,
        spark.read.parquet(s"$path/centroids").orderBy("label", "pos").collect().toSeq)
      val after1 = state()
      // at-least-once replay of a COMPLETED batch: the whole call no-ops
      f.append(vecs(4L to 7L), path, "batch-1")
      assert(state() === after1, "a replayed tagged append must change nothing")
      assert(Tables.storeGeneration(spark, s"$path/centroids") === genAfter,
        "a replayed tagged append must not publish a generation")
      // CRASH WINDOW: batch-2's codes land (staged, deterministic names)
      // but the centroid swap never happens — the previously-unsafe
      // residue. Stage them twice for good measure (idempotent moves).
      val tag2 = Tables.appliedLedgerLine("batch-2").stripPrefix("_APPLIED-")
      def codes2 = f.batchCodes(vecs(8L to 11L), path)
        .join(vecs(8L to 11L).select(col("vec_id").as("cid"),
          col("label")), "cid")
      Tables.stagedPartitionedAppend(spark, codes2, s"$path/codes", "label", tag2)
      Tables.stagedPartitionedAppend(spark, codes2, s"$path/codes", "label", tag2)
      // the retry of the WHOLE batch: skips the placed code files,
      // merges centroids once, publishes the applied tag
      f.append(vecs(8L to 11L), path, "batch-2")
      val scratch = Files.createTempDirectory("ivf_tag_scratch_").toString + "/idx"
      f.persist(vecs(0L to 11L), scratch, None)
      val codesW = spark.read.parquet(s"$scratch/codes")
      assert(state()._1 === codesW.orderBy("cid").collect().toSeq,
        "crash-window retry duplicated or lost code rows")
      assert(state()._2 === spark.read.parquet(s"$scratch/centroids")
        .orderBy("label", "pos").collect().toSeq,
        "crash-window retry double-merged or lost centroid sums")
      // and one more full replay of batch-2 is a no-op
      val settled = state()
      f.append(vecs(8L to 11L), path, "batch-2")
      assert(state() === settled)
    }
  }

  test("logHist applied ledger: one file, legacy markers migrate, replays no-op") {
    def docsN(i: Int) = Seq(("s0", i.toLong * 10), ("s1", i.toLong * 7))
      .toDF("source", "v")
    val path = Files.createTempDirectory("loghist_ledger_").toString + "/q"
    val store = s"$path/registers"
    CorpusStats.persistLogHist(docsN(0), "source", col("v"), path,
      batchTag = Some("b0"))
    // simulate a pre-ledger store: an old-style empty marker FILE
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(store,
      Tables.appliedLedgerLine("legacy-batch")), true).close()
    val before = spark.read.parquet(store).orderBy("source", "bucket")
      .collect().toSeq
    // the legacy marker must read as applied — whole call no-ops
    CorpusStats.appendToLogHist(docsN(99), "source", col("v"), path,
      batchTag = Some("legacy-batch"))
    assert(spark.read.parquet(store).orderBy("source", "bucket")
      .collect().toSeq === before)
    // five tagged appends: the applied ledger stays ONE file (no
    // per-batch marker-file accumulation), and every tag — including
    // the migrated legacy one — still replays as a no-op
    (1 to 5).foreach { i =>
      CorpusStats.appendToLogHist(docsN(i), "source", col("v"), path,
        batchTag = Some(s"b$i"))
    }
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).toSeq
    assert(names.count(_ == Tables.AppliedLedgerFile) === 1)
    assert(!names.exists(n => n.startsWith("_APPLIED-")),
      s"per-batch marker files must not accumulate, saw: $names")
    val applied = Tables.storeAppliedLedger(spark, store)
    assert(Seq("b0", "legacy-batch", "b1", "b5").forall(t =>
      applied.contains(Tables.appliedLedgerLine(t))),
      s"ledger must carry all applied tags, got $applied")
    val settled = spark.read.parquet(store).orderBy("source", "bucket")
      .collect().toSeq
    (0 to 5).foreach { i =>
      CorpusStats.appendToLogHist(docsN(i), "source", col("v"), path,
        batchTag = Some(s"b$i"))
    }
    assert(spark.read.parquet(store).orderBy("source", "bucket")
      .collect().toSeq === settled, "replayed tags must all no-op")
    // value correctness: state == one from-scratch build over the
    // applied-once union
    val scratch = Files.createTempDirectory("loghist_ledger_scratch_").toString + "/q"
    CorpusStats.persistLogHist((0 to 5).map(docsN).reduce(_.unionByName(_)),
      "source", col("v"), scratch)
    assert(settled === spark.read.parquet(s"$scratch/registers")
      .orderBy("source", "bucket").collect().toSeq)
  }

  test("compactIndexCodes: one file per cluster after, rows/serving identical, replays still no-op") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val path = Files.createTempDirectory("ivfsq8_cmp_").toString + "/idx"
    Similarity.persistIvfSq8Index(vecs(0L to 3L), "vec_id", "embedding",
      "label", path, train = Some(vecs(0L to 15L)))
    (1 to 3).foreach { b =>
      Similarity.appendToIvfSq8Index(vecs((b * 4L) to (b * 4L + 3L)),
        "vec_id", "embedding", path, dim = 4, labelCol = Some("label"),
        batchTag = Some(s"delta-$b"))
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesPerLabel(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/codes"))
        .filter(_.isDirectory).map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
        }.toMap
    val before = spark.read.parquet(s"$path/codes")
      .orderBy("cid").collect().toSeq
    assert(filesPerLabel().values.forall(_ >= 4),
      s"3 tagged appends must have accumulated files: ${filesPerLabel()}")
    Similarity.compactIndex(spark, path)
    assert(filesPerLabel().values.forall(_ === 1),
      s"compaction must leave ONE file per cluster: ${filesPerLabel()}")
    assert(spark.read.parquet(s"$path/codes").orderBy("cid").collect().toSeq
      === before, "compaction must not change a single code row")
    // a replayed pre-compaction batch still no-ops (the applied ledger
    // lives with the centroids, untouched by compaction)
    Similarity.appendToIvfSq8Index(vecs(4L to 7L), "vec_id", "embedding",
      path, dim = 4, labelCol = Some("label"), batchTag = Some("delta-1"))
    assert(spark.read.parquet(s"$path/codes").count() === before.size.toLong)
    // and a FRESH post-compaction tagged append lands normally
    Similarity.appendToIvfSq8Index(vecs(16L to 19L), "vec_id", "embedding",
      path, dim = 4, labelCol = Some("label"), batchTag = Some("delta-4"))
    assert(spark.read.parquet(s"$path/codes").count() === before.size + 4L)
  }

  test("vacuumStore: sweeps crash residue, leaves the live store, recovery still exactly-once") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val path = Files.createTempDirectory("vacuum_").toString + "/idx"
    Similarity.persistIvfSq8Index(vecs(0L to 3L), "vec_id", "embedding",
      "label", path, train = Some(vecs(0L to 11L)))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate crash residue on both swap stores
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/centroids__next_dead1"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/centroids__old_dead2"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/codes__stage_deadbeef"))
    val sweptC = Tables.vacuumStore(spark, s"$path/centroids")
    val sweptK = Tables.vacuumStore(spark, s"$path/codes")
    assert(sweptC.size === 2 && sweptK.size === 1, s"$sweptC / $sweptK")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/codes")),
      "the live store must never be swept")
    // a tagged append still lands exactly-once after the sweep (the
    // retry rebuilds its stage from scratch)
    Similarity.appendToIvfSq8Index(vecs(4L to 7L), "vec_id", "embedding",
      path, dim = 4, labelCol = Some("label"), batchTag = Some("post-vac"))
    val n = spark.read.parquet(s"$path/codes").count()
    Similarity.appendToIvfSq8Index(vecs(4L to 7L), "vec_id", "embedding",
      path, dim = 4, labelCol = Some("label"), batchTag = Some("post-vac"))
    assert(spark.read.parquet(s"$path/codes").count() === n)
  }

  test("appendToPqIndex: a wrong-but-divisible m fails against the stored codes") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(64)(d => math.sin(i * 64.0 + d)), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val path = Files.createTempDirectory("pq_m_").toString + "/idx"
    Similarity.persistPqIndex(vecs(0L to 7L), "vec_id", "embedding",
      "label", path, m = 4, dim = 64)
    // m=2 divides dim=64 and the codebook length check (dim) passes —
    // only the stored-codes length check can catch it (ADVICE r14)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(vecs(8L to 9L), "vec_id", "embedding",
        path, m = 2, dim = 64)
    }
    assert(e.getMessage.contains("m=2") &&
      e.getMessage.contains("stored code"))
  }

  test("index appends refuse a batch whose second row has the wrong embedding length") {
    val dim = 8
    def vecs(rows: Seq[(Long, Int)]) = rows.map { case (i, n) =>
      (i, Array.tabulate(n)(d => math.sin(i * 8.0 + d)), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val base = vecs((0L to 11L).map(_ -> dim))
    // the SECOND row is short: a probe of the first row cannot see it
    val bad = vecs(Seq(100L -> dim, 101L -> 5))
    val store = base.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val dir = Files.createTempDirectory("append_len_").toString
    def answers(serve: => DataFrame): Seq[String] =
      serve.collect().map(_.toString).toSeq.sorted
    /** The append is refused, naming the index and both lengths, and
      * the index then serves what it served before. */
    def refused(what: String, path: String, serve: => DataFrame)(append: => Unit): Unit = {
      val before = answers(serve)
      assert(before.nonEmpty)
      val e = intercept[Exception](append)
      assert(causes(e).exists(t => Option(t.getMessage).exists(m =>
        m.contains(path) && m.contains("length 5") && m.contains(s"dim $dim"))),
        s"$what: expected the short row to be refused, got: $e")
      assert(answers(serve) === before, s"$what: the refused batch changed the index")
    }
    val pq = s"$dir/pq"
    Similarity.persistPqIndex(base, "vec_id", "embedding", "label", pq, m = 2, dim = dim)
    refused("appendToPqIndex", pq, {
      val (books, codes) = Similarity.readPqIndex(spark, pq)
      Similarity.pqServe(books, codes, store, base, "vec_id", "embedding",
        k = 2, m = 2, dim = dim, coarse = 4)
    })(Similarity.appendToPqIndex(bad, "vec_id", "embedding", pq, m = 2, dim = dim))
    val sq8 = s"$dir/sq8"
    Similarity.persistSq8Index(base, "vec_id", "embedding", sq8)
    refused("appendToSq8Index", sq8, {
      val (quant, codes) = Similarity.readSq8Index(spark, sq8)
      Similarity.sq8Serve(quant, codes, store, base, "vec_id", "embedding", k = 2, coarse = 4)
    })(Similarity.appendToSq8Index(bad, "vec_id", "embedding", sq8, dim = dim))
    val ivfSq8 = s"$dir/ivfsq8"
    Similarity.persistIvfSq8Index(base, "vec_id", "embedding", "label", ivfSq8)
    refused("appendToIvfSq8Index", ivfSq8, {
      val (cent, quant, codes) = Similarity.readIvfSq8Index(spark, ivfSq8)
      Similarity.ivfSq8TopK(cent, quant, codes, store, base, "vec_id", "embedding",
        k = 2, coarse = 4, nprobe = 2)
    })(Similarity.appendToIvfSq8Index(bad, "vec_id", "embedding", ivfSq8, dim = dim,
      labelCol = Some("label"), batchTag = Some("len-b")))
    val ivfPq = s"$dir/ivfpq"
    Similarity.persistIvfPqIndex(base, "vec_id", "embedding", "label", ivfPq,
      m = 2, dim = dim)
    refused("appendToIvfPqIndex", ivfPq, {
      val (cent, books, codes) = Similarity.readIvfPqIndex(spark, ivfPq)
      Similarity.ivfPqTopK(cent, books, codes, store, base, "vec_id", "embedding",
        k = 2, m = 2, dim = dim, coarse = 4, nprobe = 2)
    })(Similarity.appendToIvfPqIndex(bad, "vec_id", "embedding", "label", ivfPq,
      m = 2, dim = dim, batchTag = Some("len-b")))
    val graph = s"$dir/graph"
    Similarity.persistKnnGraphStore(gvecs(0L to 19L), "vec_id", "embedding", graph,
      k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2)
    refused("appendToKnnGraphStore", graph,
      spark.read.parquet(s"$graph/edges").crossJoin(
        spark.read.parquet(s"$graph/vectors").agg(count(lit(1)).as("n_vectors")))
    )(Similarity.appendToKnnGraphStore(bad.drop("label"), "vec_id", "embedding",
      graph, batchTag = Some("len-b")))
  }

  // shared fixture for the kNN-graph store rows: two loose clusters
  // with jitter (the multi-probe case), ids interleaved across them
  private def gvecs(ids: Seq[Long]) = {
    import org.apache.spark.sql.functions.col
    ids.map { i =>
      val c = (i % 2).toInt
      (i, Array.tabulate(8)(d =>
        (c * 10).toDouble + ((i * 7 + d * 3) % 11) * 0.13))
    }.toDF("vec_id", "embedding").select(col("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
  }

  private def graphEdges(path: String): Seq[(Long, Long, Long, Double)] =
    spark.read.parquet(s"$path/edges")
      .select("a", "b", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted

  test("knnGraphStore: append == full rebuild bit-for-bit; replay and post-publish retry no-op") {
    val path = Files.createTempDirectory("knn_store_").toString + "/g"
    val all = gvecs(0L to 39L)
    // train on the FULL corpus (the production shape), build on evens
    Similarity.persistKnnGraphStore(all.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, k = 3, nlist = 2, iters = 2,
      maxCluster = 100, nprobe = 2, train = Some(all))
    Similarity.appendToKnnGraphStore(all.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, batchTag = Some("g-b1"))
    val scratch = Files.createTempDirectory("knn_store_full_").toString + "/g"
    Similarity.persistKnnGraphStore(all, "vec_id", "embedding", scratch,
      k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2)
    assert(graphEdges(path) === graphEdges(scratch),
      "append must equal the full rebuild bit-for-bit")
    // old vectors' lists actually updated (the merge face): some even
    // vector must now rank an odd neighbor
    val oddNeighbors = spark.read.parquet(s"$path/edges")
      .filter(col("a") % 2 === 0 && col("b") % 2 === 1).count()
    assert(oddNeighbors > 0, "no old list gained a new-batch neighbor — " +
      "the merge face of the append is untested by this fixture")
    // tag replay: whole call no-ops, no generation published
    val genAfter = Tables.storeGeneration(spark, s"$path/centroids")
    val settled = graphEdges(path)
    Similarity.appendToKnnGraphStore(all.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, batchTag = Some("g-b1"))
    assert(graphEdges(path) === settled)
    assert(Tables.storeGeneration(spark, s"$path/centroids") === genAfter)
    // CRASH WINDOW just before the centroid swap: everything published
    // except the tag. Simulate by erasing the tag from the ledger and
    // re-running the whole tagged append against the fully-published
    // store — the idempotent-merge contract says it must converge to
    // the same state (and vectors must not double-place).
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = new org.apache.hadoop.fs.Path(s"$path/centroids",
      Tables.AppliedLedgerFile)
    val tagLine = Tables.appliedLedgerLine("g-b1")
    val kept = Tables.storeAppliedLedger(spark, s"$path/centroids")
      .filterNot(_ == tagLine)
    val out = fs.create(lp, true)
    out.write(kept.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    Similarity.appendToKnnGraphStore(all.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, batchTag = Some("g-b1"))
    assert(graphEdges(path) === settled,
      "retry against a fully-published store must converge, not drift")
    assert(spark.read.parquet(s"$path/vectors").count() ===
      spark.read.parquet(s"$scratch/vectors").count(),
      "retry double-placed vector rows")
    // vectors-side compaction: one file per cell after, rows and the
    // graph product identical, a fresh tagged append still lands
    def vecFilesPerCell(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/vectors"))
        .filter(_.isDirectory).map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
        }.toMap
    assert(vecFilesPerCell().values.exists(_ > 1),
      s"the append must have accumulated files: ${vecFilesPerCell()}")
    val vecsBefore = spark.read.parquet(s"$path/vectors")
      .orderBy("cid", "probe").collect().toSeq
    Similarity.compactIndex(spark, path)
    assert(vecFilesPerCell().values.forall(_ === 1),
      s"compaction must leave one file per cell: ${vecFilesPerCell()}")
    assert(spark.read.parquet(s"$path/vectors")
      .orderBy("cid", "probe").collect().toSeq === vecsBefore)
    assert(graphEdges(path) === settled, "compaction must not touch edges")
    Similarity.appendToKnnGraphStore(gvecs(100L to 103L), "vec_id",
      "embedding", path, batchTag = Some("g-b3"))
    assert(spark.read.parquet(s"$path/vectors").count() ===
      vecsBefore.size + 4L * 2L, "a fresh tagged append must land post-compaction")
  }

  test("knnGraphStore: crash window between vector placement and edge publish retries exactly-once") {
    val path = Files.createTempDirectory("knn_store_crash_").toString + "/g"
    val all = gvecs(0L to 39L)
    Similarity.persistKnnGraphStore(all.filter(col("vec_id") < 20),
      "vec_id", "embedding", path, k = 3, nlist = 2, iters = 2,
      maxCluster = 100, nprobe = 2, train = Some(all))
    // place the batch's VECTOR files (staged, deterministic names)
    // without touching edges or the ledger — the widest crash window
    val batch = all.filter(col("vec_id") >= 20)
    val cents = Similarity.readKnnGraphStore(spark, path)._1
    val tagHash = Tables.appliedLedgerLine("g-b2").stripPrefix("_APPLIED-")
    val asg = Similarity.graphAssignments(batch, "vec_id",
      "embedding", cents, nprobe = 2)
    Tables.stagedPartitionedAppend(spark, asg, s"$path/vectors", "cell", tagHash)
    Tables.stagedPartitionedAppend(spark, asg, s"$path/vectors", "cell", tagHash)
    // the retry of the WHOLE batch
    Similarity.appendToKnnGraphStore(batch, "vec_id", "embedding", path,
      batchTag = Some("g-b2"))
    val scratch = Files.createTempDirectory("knn_store_crash_full_").toString + "/g"
    Similarity.persistKnnGraphStore(all, "vec_id", "embedding", scratch,
      k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2)
    assert(graphEdges(path) === graphEdges(scratch),
      "crash-window retry drifted from the full rebuild")
    assert(spark.read.parquet(s"$path/vectors").count() ===
      spark.read.parquet(s"$scratch/vectors").count(),
      "crash-window retry duplicated vector rows")
  }

  test("knnGraphStore: racing appends serialize; cap overflow fails loudly") {
    val path = Files.createTempDirectory("knn_store_race_").toString + "/g"
    val all = gvecs(0L to 59L)
    Similarity.persistKnnGraphStore(all.filter(col("vec_id") < 20),
      "vec_id", "embedding", path, k = 3, nlist = 2, iters = 2,
      maxCluster = 100, nprobe = 2, train = Some(all))
    race(
      Similarity.appendToKnnGraphStore(
        all.filter(col("vec_id") >= 20 && col("vec_id") < 40),
        "vec_id", "embedding", path, batchTag = Some("r-b1")),
      Similarity.appendToKnnGraphStore(all.filter(col("vec_id") >= 40),
        "vec_id", "embedding", path, batchTag = Some("r-b2")))
    val scratch = Files.createTempDirectory("knn_store_race_full_").toString + "/g"
    Similarity.persistKnnGraphStore(all, "vec_id", "embedding", scratch,
      k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2)
    assert(graphEdges(path) === graphEdges(scratch),
      "racing appends must serialize to the sequential (== rebuilt) state")
    // stale geometry: a batch that would overflow a cell fails loudly
    val tiny = Files.createTempDirectory("knn_store_cap_").toString + "/g"
    Similarity.persistKnnGraphStore(gvecs(0L to 9L), "vec_id", "embedding",
      tiny, k = 3, nlist = 2, iters = 2, maxCluster = 12, nprobe = 2,
      train = Some(all))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToKnnGraphStore(gvecs(10L to 59L), "vec_id",
        "embedding", tiny, batchTag = Some("cap-b"))
    }
    assert(e.getMessage.contains("maxCluster") &&
      e.getMessage.contains("rebuildKnnGraphStore"))
    // wrong-dim batch fails loudly instead of silently mis-assigning
    // (the assignment kernel dots over min(dim, |centroid|))
    val wrongDim = (200L to 203L).map(i =>
      (i, Array.tabulate(4)(d => (i + d).toDouble)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.appendToKnnGraphStore(wrongDim, "vec_id", "embedding",
        tiny, batchTag = Some("dim-b"))
    }
    assert(causes(e2).exists(t => Option(t.getMessage)
      .exists(m => m.contains("length 4") && m.contains("dim 8"))), s"got: $e2")
  }

  test("compactFlatCodes: file budget met, rows identical, appends serialize with compaction") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0))
    }.toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("sq8_flat_cmp_").toString + "/idx"
    Similarity.persistSq8Index(vecs(0L to 3L), "vec_id", "embedding", path,
      train = Some(vecs(0L to 19L)))
    (1 to 3).foreach { b =>
      Similarity.appendToSq8Index(vecs((b * 4L) to (b * 4L + 3L)),
        "vec_id", "embedding", path, dim = 4)
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def codeFiles(): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/codes"))
        .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    assert(codeFiles() >= 4,
      s"3 appends must have accumulated files, saw ${codeFiles()}")
    val before = spark.read.parquet(s"$path/codes")
      .orderBy("cid").collect().toSeq
    Similarity.compactIndex(spark, path)
    assert(codeFiles() === 1,
      s"compaction must meet the file budget, saw ${codeFiles()}")
    assert(spark.read.parquet(s"$path/codes").orderBy("cid").collect().toSeq
      === before, "compaction must not change a single code row")
    // a racing append and compaction serialize on the index lock —
    // whichever order the lock grants, no rows are lost
    race(
      Similarity.compactIndex(spark, path),
      Similarity.appendToSq8Index(vecs(16L to 19L), "vec_id", "embedding",
        path, dim = 4))
    assert(spark.read.parquet(s"$path/codes").count() === before.size + 4L,
      "append racing compaction lost or duplicated rows")
  }

  test("applied ledger #TOTAL header: cumulative count survives publishes; wrap is detectable") {
    def docsN(i: Int) = Seq(("s0", i.toLong * 10)).toDF("source", "v")
    val path = Files.createTempDirectory("loghist_total_").toString + "/q"
    val store = s"$path/registers"
    CorpusStats.persistLogHist(docsN(0), "source", col("v"), path,
      batchTag = Some("b0"))
    (1 to 3).foreach { i =>
      CorpusStats.appendToLogHist(docsN(i), "source", col("v"), path,
        batchTag = Some(s"b$i"))
    }
    val (retained, total) = Tables.storeLedgerCounts(spark, store)
    assert(retained === 4 && total === 4L,
      s"4 applied batches must read as (4, 4), got ($retained, $total)")
    assert(!Tables.storeLedgerWrapped(spark, store))
    // replays must not inflate the total
    CorpusStats.appendToLogHist(docsN(2), "source", col("v"), path,
      batchTag = Some("b2"))
    assert(Tables.storeLedgerCounts(spark, store) === ((4, 4L)))
    // simulate a WRAPPED ledger (retention exceeded long ago): header
    // total far above the retained lines — the restore-from-backup
    // hazard state. Detection must flip; appends must still land (the
    // warning is loud, the append is not blocked) and publishing must
    // carry the total forward monotonically.
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = new org.apache.hadoop.fs.Path(store, Tables.AppliedLedgerFile)
    val keep = Tables.storeAppliedLedger(spark, store)
    val out = fs.create(lp, true)
    out.write((s"#TOTAL-600\n" + keep.mkString("", "\n", "\n")).getBytes("UTF-8"))
    out.close()
    assert(Tables.storeLedgerWrapped(spark, store))
    CorpusStats.appendToLogHist(docsN(4), "source", col("v"), path,
      batchTag = Some("b4"))
    val (r2, t2) = Tables.storeLedgerCounts(spark, store)
    assert(r2 === 5 && t2 === 601L,
      s"total must carry forward monotonically, got ($r2, $t2)")
    assert(Tables.storeLedgerWrapped(spark, store))
  }

  test("a replace window's fresh ledger counts only its own line, not the old total") {
    def docsN(i: Int) = Seq(("s0", i.toLong * 10)).toDF("source", "v")
    val path = Files.createTempDirectory("loghist_replace_").toString + "/q"
    val store = s"$path/registers"
    CorpusStats.persistLogHist(docsN(0), "source", col("v"), path,
      batchTag = Some("b0"))
    (1 to 2).foreach { i =>
      CorpusStats.appendToLogHist(docsN(i), "source", col("v"), path,
        batchTag = Some(s"b$i"))
    }
    assert(Tables.storeLedgerCounts(spark, store) === ((3, 3L)))
    val gen = Tables.storeGeneration(spark, store)
    CorpusStats.persistLogHist(docsN(3), "source", col("v"), path,
      batchTag = Some("r0"))
    assert(Tables.storeLedgerCounts(spark, store) === ((1, 1L)),
      "a re-persist's ledger must not inherit the replaced store's total")
    assert(!Tables.storeLedgerWrapped(spark, store))
    assert(Tables.storeGeneration(spark, store) === gen + 1L,
      "the generation still follows the replaced one")
    // and the next tagged append sees an unwrapped two-line ledger
    CorpusStats.appendToLogHist(docsN(4), "source", col("v"), path,
      batchTag = Some("r1"))
    assert(Tables.storeLedgerCounts(spark, store) === ((2, 2L)))
  }

  test("vacuumIndexStores: sweeps residue of every index store under the centroids lock") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val path = Files.createTempDirectory("vacuum_idx_").toString + "/idx"
    Similarity.persistIvfSq8Index(vecs(0L to 3L), "vec_id", "embedding",
      "label", path, train = Some(vecs(0L to 11L)))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/centroids__next_dead1"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/codes__stage_dead2"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/quantizer__old_dead3"))
    val swept = Similarity.vacuumIndexStores(spark, path)
    assert(swept.size === 3, s"one call must sweep all stores, got $swept")
    Seq("centroids", "codes", "quantizer").foreach { d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d")),
        s"live store $d must survive the sweep")
    }
    // while the centroids lock is held, the sweep must WAIT (it cannot
    // delete a stage dir out from under the lock holder) — verified by
    // timing it against a short-lived lock window
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/codes__stage_dead4"))
    var sweptUnderRace: Seq[String] = Nil
    race(
      Tables.withStoreLock(spark, s"$path/centroids") { Thread.sleep(1500) },
      { Thread.sleep(200); sweptUnderRace = Similarity.vacuumIndexStores(spark, path) })
    assert(sweptUnderRace.size === 1,
      s"the sweep must land after the lock frees, got $sweptUnderRace")
  }

  test("replacePartitions crash window: orphaned old partition restores and retry converges") {
    val path = Files.createTempDirectory("knn_store_orphan_").toString + "/g"
    val twin = Files.createTempDirectory("knn_store_orphan_twin_").toString + "/g"
    val all = gvecs(0L to 39L)
    val evens = all.filter(col("vec_id") % 2 === 0)
    val odds = all.filter(col("vec_id") % 2 === 1)
    Similarity.persistKnnGraphStore(evens, "vec_id", "embedding", path,
      k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2,
      train = Some(all))
    Similarity.persistKnnGraphStore(evens, "vec_id", "embedding", twin,
      k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2,
      train = Some(all))
    Similarity.appendToKnnGraphStore(odds, "vec_id", "embedding", path,
      batchTag = Some("g-c1"))
    val settled = graphEdges(path)
    // rebuild the EXACT mid-crash state of that append: vectors placed,
    // ledger tag absent (crash pre-commit), one rewritten home's dir
    // renamed aside (its PRE-batch content, from the twin store) with
    // the new content never published — the silent window the r18
    // advice called out
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = new org.apache.hadoop.fs.Path(s"$path/centroids",
      Tables.AppliedLedgerFile)
    val tagLine = Tables.appliedLedgerLine("g-c1")
    val kept = Tables.storeAppliedLedger(spark, s"$path/centroids")
      .filterNot(_ == tagLine)
    val out = fs.create(lp, true)
    out.write(kept.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    val home = spark.read.parquet(s"$path/edges")
      .filter(col("b") % 2 === 1)
      .select(col("home").cast("long")).head().getLong(0)
    val part = s"home=$home"
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/edges/$part"), true)
    val oldDir = new org.apache.hadoop.fs.Path(s"$path/edges__old_sim")
    fs.mkdirs(oldDir)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$twin/edges/$part"),
      new org.apache.hadoop.fs.Path(oldDir, part)))
    // retry of the whole batch: the restore pass must bring the
    // pre-batch partition back BEFORE deriving, so the retry converges
    // to the settled content instead of silently rebuilding that home
    // from the batch side only
    Similarity.appendToKnnGraphStore(odds, "vec_id", "embedding", path,
      batchTag = Some("g-c1"))
    assert(graphEdges(path) === settled,
      "retry after a mid-publish crash must converge to the same content")
    assert(spark.read.parquet(s"$path/vectors").count() ===
      spark.read.parquet(s"$twin/vectors").count() + odds.count() * 2L,
      "retry double-placed vector rows")
  }

  test("vacuumIndexStores: graph-store residue swept; orphaned edges partition restored, not destroyed") {
    val path = Files.createTempDirectory("vacuum_graph_").toString + "/g"
    val all = gvecs(0L to 19L)
    Similarity.persistKnnGraphStore(all, "vec_id", "embedding", path,
      k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2)
    val settled = graphEdges(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant the graph store's documented residue shapes
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/vectors__stage_dead1"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/edges__next_dead2"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/meta__old_dead3"))
    // and the RECOVERY case: an edges__old_* dir holding the ONLY copy
    // of a partition — the sweep must restore it, never delete it
    val home = spark.read.parquet(s"$path/edges")
      .select(col("home").cast("long")).head().getLong(0)
    val part = s"home=$home"
    val oldDir = new org.apache.hadoop.fs.Path(s"$path/edges__old_crash")
    fs.mkdirs(oldDir)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/edges/$part"),
      new org.apache.hadoop.fs.Path(oldDir, part)))
    val swept = Similarity.vacuumIndexStores(spark, path)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/edges/$part")),
      "the orphaned partition's only copy must be restored into the store")
    assert(graphEdges(path) === settled,
      "vacuum must leave the graph content exactly as before the crash")
    Seq("vectors__stage_dead1", "edges__next_dead2", "meta__old_dead3",
      "edges__old_crash").foreach { d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d")),
        s"residue $d must be swept")
    }
    assert(swept.size === 4, s"expected 4 swept dirs, got $swept")
  }

  test("rebuildKnnGraphStore: geometry refresh equals a from-scratch build; ledger carries forward") {
    val path = Files.createTempDirectory("knn_rebuild_").toString + "/g"
    val all = gvecs(0L to 39L)
    Similarity.persistKnnGraphStore(all.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, k = 3, nlist = 2, iters = 2,
      maxCluster = 100, nprobe = 2, train = Some(all))
    Similarity.appendToKnnGraphStore(all.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, batchTag = Some("g-r1"))
    // refresh to a 4-cell geometry (targetCell = 10 over 40 vectors)
    Similarity.rebuildKnnGraphStore(spark, path, targetCell = 10L,
      minNlist = 4)
    val scratch = Files.createTempDirectory("knn_rebuild_full_").toString + "/g"
    Similarity.persistKnnGraphStore(all, "vec_id", "embedding", scratch,
      k = 3, nlist = 4, iters = 2, maxCluster = 100, nprobe = 2)
    assert(graphEdges(path) === graphEdges(scratch),
      "rebuild must equal a from-scratch build at the new geometry")
    assert(spark.read.parquet(s"$path/vectors").count() ===
      spark.read.parquet(s"$scratch/vectors").count())
    // the applied ledger survived: replaying the pre-rebuild batch
    // must still no-op
    val settled = graphEdges(path)
    Similarity.appendToKnnGraphStore(all.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, batchTag = Some("g-r1"))
    assert(graphEdges(path) === settled,
      "a replayed pre-rebuild batch must no-op against the ledger")
    // a crashed rebuild (vectors/edges new, centroids old) converges
    // when re-run: simulate by re-running the whole rebuild — derives
    // only from probe-1 rows, so it is idempotent
    Similarity.rebuildKnnGraphStore(spark, path, targetCell = 10L,
      minNlist = 4)
    assert(graphEdges(path) === settled, "re-running the rebuild drifted")
    // and a fresh append lands against the rebuilt geometry
    Similarity.appendToKnnGraphStore(gvecs(100L to 103L), "vec_id",
      "embedding", path, batchTag = Some("g-r2"))
    assert(spark.read.parquet(s"$path/vectors")
      .filter(col("cid") >= 100L).count() === 4L * 2L)
  }

  test("knnGraphStoreAudit: detects compaction debt and residue; clean after compact + vacuum") {
    val path = Files.createTempDirectory("knn_audit_").toString + "/g"
    val all = gvecs(0L to 39L)
    Similarity.persistKnnGraphStore(all.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, k = 3, nlist = 2, iters = 2,
      maxCluster = 100, nprobe = 2, train = Some(all))
    Similarity.appendToKnnGraphStore(all.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, batchTag = Some("g-a1"))
    def audit() = Similarity.knnGraphStoreAudit(spark, path)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val before = audit()
    assert(before("vectors")._2 > before("vectors")._1,
      s"the tagged append must show as file debt, got $before")
    assert(before("edges")._2 === before("edges")._1,
      "edges stay one file per home by construction")
    // plant residue; the audit must count it without deleting it
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/vectors__stage_dead"))
    assert(audit()("vectors")._4 === 1L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/vectors__stage_dead")),
      "the audit is read-only")
    Similarity.compactIndex(spark, path)
    Similarity.vacuumIndexStores(spark, path)
    val after = audit()
    assert(after("vectors")._2 === after("vectors")._1 &&
      after("vectors")._4 === 0L,
      s"compact + vacuum must clear debt and residue, got $after")
    assert(after("vectors")._3 === before("vectors")._3 &&
      after("edges") === before("edges"),
      "maintenance must not change any row counts")
  }

  test("vacuumIndexStores sweeps the codes store under the CODES lock flat writers hold") {
    // fabricate an index layout with centroids + codes stores and
    // residue under both, then hold the index lock (what every index
    // writer holds, a live flat PQ/SQ8 compaction included): no store
    // may sweep while it is held, and every store's residue sweeps
    // once it frees
    val root = Files.createTempDirectory("vac_codes_lock_").toString + "/idx"
    Seq((0L, 1L)).toDF("label", "x").write.parquet(s"$root/centroids")
    Seq((0L, Array[Byte](1, 2))).toDF("cid", "codes")
      .write.parquet(s"$root/codes")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val residue = Seq("centroids__old_a", "codes__next_b")
      .map(d => new org.apache.hadoop.fs.Path(s"$root/$d"))
    residue.foreach(fs.mkdirs)
    val indexLock = java.nio.file.Paths.get(s"$root/centroids__lock")
    java.nio.file.Files.createFile(indexLock)
    val pool = Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[Seq[String]] {
      def call(): Seq[String] = Similarity.vacuumIndexStores(spark, root)
    })
    Thread.sleep(2000) // > the lock's 250 ms retry interval
    assert(residue.forall(fs.exists),
      "residue swept while the index lock was held — a live flat " +
        "compaction's in-flight next dir would be destroyed")
    java.nio.file.Files.delete(indexLock)
    val swept = fut.get(90, TimeUnit.SECONDS)
    pool.shutdown()
    assert(residue.forall(p => swept.exists(_.contains(p.getName))),
      s"every store's residue must sweep once the lock frees, got $swept")
    assert(!residue.exists(fs.exists))
  }

  test("backoff counts store: racing appends serialize to the one-shot model; replays no-op") {
    import graft.llm.NgramLm
    val ref = (1 to 30).map(i =>
      (i.toLong, s"w${i % 5} w${i % 3} w${i % 7} w${i % 5} w${i % 3}"))
      .toDF("doc_id", "text")
    val path = Files.createTempDirectory("backoff_counts_").toString + "/m"
    NgramLm.persistBackoffCounts(ref.filter(col("doc_id") % 3 === 0),
      "text", path, batchTag = Some("b0"))
    race(
      NgramLm.appendToBackoffCounts(ref.filter(col("doc_id") % 3 === 1),
        "text", path, batchTag = Some("b1")),
      NgramLm.appendToBackoffCounts(ref.filter(col("doc_id") % 3 === 2),
        "text", path, batchTag = Some("b2")))
    def flat() = spark.read.parquet(s"$path/counts")
      .orderBy("n", "w2", "w1", "w").collect().toSeq
    val merged = flat()
    // racing appends must serialize to the additive union
    val direct = NgramLm.trainBackoff(ref, "text")
    val fromStore = NgramLm.readBackoffModelFromCounts(spark, path)
    assert(fromStore.total === direct.total)
    assert(fromStore.tri.orderBy("w2", "w1", "w").collect().toSeq
      === direct.tri.orderBy("w2", "w1", "w").collect().toSeq,
      "merged counts must derive the one-shot model bit-for-bit")
    // a replayed tag leaves the store bit-identical
    NgramLm.appendToBackoffCounts(ref.filter(col("doc_id") % 3 === 1),
      "text", path, batchTag = Some("b1"))
    assert(flat() === merged, "replayed batch must no-op")
    // vacuum sweeps planted swap residue, leaves the store intact
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/counts__next_zz"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/counts__old_zz"))
    val swept = NgramLm.vacuumBackoffStores(spark, path)
    assert(swept.size === 2, s"both residue dirs must sweep, got $swept")
    assert(flat() === merged, "vacuum must not touch live store content")
  }

  test("backoff counts upsert: two writers racing an EMPTY store serialize (create + append); persist refuses to clobber") {
    import graft.llm.NgramLm
    val ref = (1 to 24).map(i =>
      (i.toLong, s"u${i % 4} u${i % 3} u${i % 5} u${i % 4}"))
      .toDF("doc_id", "text")
    val path = Files.createTempDirectory("backoff_upsert_").toString + "/m"
    // the advisory's exact window: both writers see no store; with the
    // exists check outside the lock one side's counts silently vanished
    // under the other's create-overwrite — upsert decides INSIDE the
    // lock, so one creates and the other appends
    race(
      NgramLm.upsertBackoffCounts(ref.filter(col("doc_id") % 2 === 0),
        "text", path, batchTag = Some("u0")),
      NgramLm.upsertBackoffCounts(ref.filter(col("doc_id") % 2 === 1),
        "text", path, batchTag = Some("u1")))
    val direct = NgramLm.trainBackoff(ref, "text")
    val fromStore = NgramLm.readBackoffModelFromCounts(spark, path)
    assert(fromStore.total === direct.total,
      "a racing first batch must not be lost to a double-create")
    assert(fromStore.tri.orderBy("w2", "w1", "w").collect().toSeq
      === direct.tri.orderBy("w2", "w1", "w").collect().toSeq)
    // replays through the upsert entry point no-op on the applied tag
    val before = spark.read.parquet(s"$path/counts")
      .orderBy("n", "w2", "w1", "w").collect().toSeq
    NgramLm.upsertBackoffCounts(ref.filter(col("doc_id") % 2 === 0),
      "text", path, batchTag = Some("u0"))
    assert(spark.read.parquet(s"$path/counts")
      .orderBy("n", "w2", "w1", "w").collect().toSeq === before,
      "a replayed upsert batch must no-op")
    // the create face refuses to clobber a live ledger
    val e = intercept[IllegalArgumentException] {
      NgramLm.persistBackoffCounts(ref, "text", path, batchTag = Some("u2"))
    }
    assert(e.getMessage.contains("already exists"))
    assert(spark.read.parquet(s"$path/counts")
      .orderBy("n", "w2", "w1", "w").collect().toSeq === before,
      "the refused persist must leave the store untouched")
  }

  test("a reused index handle serves what a fresh session reads, after every index writer") {
    import org.apache.spark.sql.{Row, SparkSession}
    val dim = 8
    def vec(i: Long) = Seq.tabulate(dim)(d => ((i * (d + 3) + d) % 13) * 0.05f - 0.3f)
    def frame(s: SparkSession, ids: Seq[Long]) =
      s.createDataFrame(ids.map(i => (i, vec(i), i % 4))).toDF("vec_id", "embedding", "label")
    def queries(s: SparkSession) = frame(s, 1000L until 1008L)
    // every id any phase writes, so the exact rescore finds each candidate
    def store(s: SparkSession) = frame(s, (0L until 400L) ++ (1000L until 1008L))
      .select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("ce"))
    def ivfServe(s: SparkSession, path: String): Seq[Row] =
      graft.Graft.annIvfPqTopK(s, path, store(s), queries(s), "vec_id", "embedding",
        k = 4, m = 2, dim = dim, coarse = 12, nprobe = 2)
        .orderBy("qid", "rank").collect().toSeq
    def sq8Serve(s: SparkSession, path: String): Seq[Row] = {
      val (quant, codes) = Similarity.readSq8Index(s, path)
      Similarity.sq8Serve(quant, codes, store(s), queries(s), "vec_id", "embedding",
        k = 4, coarse = 12).orderBy("qid", "rank").collect().toSeq
    }
    def deleteRoot(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val cases = Seq[(String, (SparkSession, String) => Seq[Row], Seq[(String, String => Unit)])](
      ("IVF-PQ", ivfServe, Seq(
        "persist" -> (p => Similarity.persistIvfPqIndex(frame(spark, 0L until 60L),
          "vec_id", "embedding", "label", p, m = 2, dim = dim)),
        "persist of other vectors" -> (p => Similarity.persistIvfPqIndex(
          frame(spark, 100L until 160L), "vec_id", "embedding", "label", p, m = 2, dim = dim)),
        "tagged append" -> (p => Similarity.appendToIvfPqIndex(frame(spark, 1000L until 1008L),
          "vec_id", "embedding", "label", p, m = 2, dim = dim, batchTag = Some("t1"))),
        "its replay" -> (p => Similarity.appendToIvfPqIndex(frame(spark, 1000L until 1008L),
          "vec_id", "embedding", "label", p, m = 2, dim = dim, batchTag = Some("t1"))),
        "untagged append" -> (p => Similarity.appendToIvfPqIndex(frame(spark, 160L until 180L),
          "vec_id", "embedding", "label", p, m = 2, dim = dim)),
        "compactIndex" -> (p => Similarity.compactIndex(spark, p)),
        "vacuumIndexStores" -> (p => Similarity.vacuumIndexStores(spark, p)),
        "delete the root, then persist" -> { p =>
          deleteRoot(p)
          Similarity.persistIvfPqIndex(frame(spark, 200L until 260L),
            "vec_id", "embedding", "label", p, m = 2, dim = dim)
        })),
      ("flat SQ8", sq8Serve, Seq(
        "persist" -> (p => Similarity.persistSq8Index(frame(spark, 0L until 60L),
          "vec_id", "embedding", p)),
        "persist of other vectors" -> (p => Similarity.persistSq8Index(
          frame(spark, 100L until 160L), "vec_id", "embedding", p)),
        "untagged flat append" -> (p => Similarity.appendToSq8Index(
          frame(spark, 1000L until 1008L), "vec_id", "embedding", p, dim = dim)),
        "second flat append" -> (p => Similarity.appendToSq8Index(
          frame(spark, 160L until 180L), "vec_id", "embedding", p, dim = dim)),
        "compactIndex" -> (p => Similarity.compactIndex(spark, p)),
        "vacuumIndexStores" -> (p => Similarity.vacuumIndexStores(spark, p)),
        "delete the root, then persist" -> { p =>
          deleteRoot(p)
          Similarity.persistSq8Index(frame(spark, 200L until 260L), "vec_id", "embedding", p)
        })))
    for ((name, serve, writers) <- cases) {
      val path = Files.createTempDirectory("handle_gen_").toString + "/idx"
      var answers = Seq.empty[Seq[Row]]
      for ((writer, write) <- writers) {
        write(path)
        val reused = serve(spark, path)
        assert(reused === serve(spark.newSession(), path),
          s"$name after $writer: the session's serve differs from a fresh session's")
        assert(reused.nonEmpty, s"$name after $writer")
        answers :+= reused
      }
      assert(answers.distinct.size >= 3,
        s"$name: the writers must change the answers for this check to bite")
    }

    // a serve while a writer's lock is held reads afresh and keeps nothing
    val path = Files.createTempDirectory("handle_lock_").toString + "/idx"
    Similarity.persistIvfPqIndex(frame(spark, 0L until 60L), "vec_id", "embedding",
      "label", path, m = 2, dim = dim)
    val lock = java.nio.file.Paths.get(s"$path/centroids__lock")
    Files.createFile(lock)
    val underLock = try ivfServe(spark, path) finally Files.delete(lock)
    assert(underLock === ivfServe(spark.newSession(), path))
    val afterLock = graft.SparkJobs.count(spark)(ivfServe(spark, path))
    val reusing = graft.SparkJobs.count(spark)(ivfServe(spark, path))
    assert(afterLock > reusing, s"the serve after the lock ran $afterLock jobs, the " +
      s"next $reusing: the serve under the lock must not have kept its handle")
  }

  test("the store commit protocol lives only in io/Tables.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.exists(root.resolve("graft/io/Tables.scala")),
      s"run from the repository root: $root has no graft/io/Tables.scala")
    // every source line as (file, enclosing def/object/class, listing)
    val decl = "\\b(?:def|object|class|trait) (\\w+)".r
    def isComment(l: String) = Seq("*", "/*", "//").exists(l.trim.startsWith)
    val stream = Files.walk(root)
    val lines = try stream.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val file = root.relativize(p).toString
        var site = file
        Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
          if (!isComment(l)) decl.findFirstMatchIn(l).foreach(m => site = s"$file#${m.group(1)}")
          (file, site, l, s"$file:${i + 1}: ${l.trim}")
        }
      }
    finally stream.close()
    // the ledger check, wrap warning and generation read are the
    // read-merge-publish window's internals, and the index token's read
    // and stamp are those of the index lock and open: every other
    // module goes through Tables.readMergePublish, withIndexLock and
    // openPinned instead of re-implementing them
    val protocol = ("storeAppliedLedger|warnIfLedgerWrapped|storeGeneration\\(|" +
      "indexGeneration\\(|stampIndexGeneration\\(").r
    val offenders = lines.collect {
      case (f, _, l, at) if f != "graft/io/Tables.scala" &&
        protocol.findFirstIn(l).nonEmpty => at
    }
    assert(offenders.isEmpty,
      "store commit protocol copied out of io/Tables.scala — route the " +
        s"store through Tables.readMergePublish:\n${offenders.mkString("\n")}")
    // every store publishes through the windows (readMergePublish,
    // replacePublish), so no module calls swapInParquet itself
    val swaps = lines.collect {
      case (f, _, l, at) if f != "graft/io/Tables.scala" && !isComment(l) &&
        l.contains("swapInParquet(") => at
    }
    assert(swaps.isEmpty, s"${swaps.size} swapInParquet call(s) outside " +
      s"io/Tables.scala — publish through Tables.replacePublish:\n${swaps.mkString("\n")}")
    // every writer of a vector index takes the one index lock
    // (Tables.withIndexLock), never a lock on its `codes` store: the
    // lock call up to its body's brace, across continuation lines
    val codesLock = """with(?:Store|Index)Lock\([^{]*?codes"\)\s*\{""".r
    val codeLocks = lines.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (f, ls) =>
      val text = ls.map { case (_, _, l, _) => if (isComment(l)) "" else l }.mkString("\n")
      codesLock.findAllMatchIn(text).map(m => ls(text.take(m.start).count(_ == '\n'))._4)
    }
    assert(codeLocks.isEmpty, s"${codeLocks.size} lock(s) taken on a codes " +
      s"store — take the index lock:\n${codeLocks.mkString("\n")}")
    // the vector indexes' stores have one body each: one site adds rows
    // to a `codes` store (compactions rewrite it through Tables), one
    // site names each codec artifact, which the shared read and write
    // bodies then reach through the codec, and one site reads `codes` or
    // an artifact: the index handle every serve opens once per generation
    val adcStores = Seq(
      "adds code rows" ->
        """(?<!read)\.parquet\(s"[^"]*/codes"|(appendPartitioned|stagedPartitionedAppend)\(.*/codes"""".r,
      "names the codebooks artifact" -> """["/]codebooks"""".r,
      "names the quantizer artifact" -> """["/]quantizer"""".r,
      "opens an ADC index" -> """read\.parquet\(s"[^"]*/(codes|\$\{\w+\.dir\})"""".r)
    for ((what, re) <- adcStores) {
      val sites = lines.collect {
        case (_, site, l, at) if !isComment(l) && re.findFirstIn(l).nonEmpty => site -> at
      }.groupBy(_._1)
      assert(sites.size == 1, s"expected one site that $what, found " +
        s"${sites.size}:\n${sites.values.flatten.map(_._2).mkString("\n")}")
    }
  }

  test("sq8AppendBatch waits for the codes lock flat compactions hold, then lands once") {
    // the lock flat compactions hold is the index lock
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Seq.tabulate(8)(d => ((i * (d + 1)) % 13) * 0.05f - 0.3f))
    }.toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("sq8_lock_").toString + "/idx"
    Similarity.persistSq8Index(vecs(0L until 20L), "vec_id", "embedding", path)
    val (quant, _) = Similarity.readSq8Index(spark, path)
    def batch(): Unit = graft.streaming.Streams.sq8AppendBatch(
      vecs(20L until 25L), "vec_id", "embedding", quant, path, "lockCk", 0L)
    def codeIds = spark.read.parquet(s"$path/codes").select("cid").as[Long]
      .collect().toSeq.sorted
    val indexLock = java.nio.file.Paths.get(s"$path/centroids__lock")
    Files.createFile(indexLock)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val fut = pool.submit(new Runnable { def run(): Unit = batch() })
      Thread.sleep(2000) // > the lock's 250 ms retry interval
      assert(codeIds === (0L until 20L),
        "a streamed SQ8 batch landed while the index lock was held")
      Files.delete(indexLock)
      fut.get(90, TimeUnit.SECONDS)
    } finally {
      Files.deleteIfExists(indexLock)
      pool.shutdown()
    }
    assert(codeIds === (0L until 25L), "the batch must land exactly once")
    batch() // its committed replay is a no-op
    assert(codeIds === (0L until 25L))
  }

  test("vector-index persists wait for the lock their layout's appends take, then land") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
    }.toDF("vec_id", "embedding", "label")
    // (entry point, persist); every layout's appends hold the index lock
    val inputs = Seq[(String, (DataFrame, String) => Unit)](
      ("persistPqIndex", (df, path) => Similarity.persistPqIndex(df,
        "vec_id", "embedding", "label", path, m = 2, dim = 4)),
      ("persistIvfPqIndex", (df, path) => Similarity.persistIvfPqIndex(df,
        "vec_id", "embedding", "label", path, m = 2, dim = 4)))
    for ((name, persist) <- inputs) {
      val path = Files.createTempDirectory("persist_lock_").toString + "/idx"
      persist(vecs(0L until 20L), path)
      def codeIds = spark.read.parquet(s"$path/codes").select("cid").as[Long]
        .collect().toSeq.sorted
      val lock = java.nio.file.Paths.get(s"$path/centroids__lock")
      Files.createFile(lock)
      val pool = Executors.newSingleThreadExecutor()
      try {
        val fut = pool.submit(new Runnable {
          def run(): Unit = persist(vecs(0L until 25L), path)
        })
        Thread.sleep(2000) // > the lock's 250 ms retry interval
        assert(codeIds === (0L until 20L),
          s"$name overwrote the codes while the index lock was held")
        Files.delete(lock)
        fut.get(90, TimeUnit.SECONDS)
      } finally {
        Files.deleteIfExists(lock)
        pool.shutdown()
      }
      assert(codeIds === (0L until 25L), s"$name must land once the lock is free")
    }
  }

  test("persistKnnGraphStore waits for the index lock its appends and rebuilds take, then lands") {
    def persist(ids: Seq[Long], path: String): Unit =
      Similarity.persistKnnGraphStore(gvecs(ids), "vec_id", "embedding", path,
        k = 3, nlist = 2, iters = 2, maxCluster = 100, nprobe = 2)
    def dump(path: String): Seq[Seq[String]] =
      Seq("meta", "vectors", "edges", "centroids").map(d =>
        spark.read.parquet(s"$path/$d").collect().map(_.toString).toSeq.sorted)
    val path = Files.createTempDirectory("knn_persist_lock_").toString + "/g"
    persist(0L until 20L, path)
    val before = dump(path)
    val lock = java.nio.file.Paths.get(s"$path/centroids__lock")
    Files.createFile(lock)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val fut = pool.submit(new Runnable {
        def run(): Unit = persist(20L until 40L, path)
      })
      Thread.sleep(2000) // > the lock's 250 ms retry interval
      val unchanged = dump(path) == before
      assert(unchanged, "persistKnnGraphStore wrote the store while the index lock was held")
      Files.delete(lock)
      fut.get(90, TimeUnit.SECONDS)
    } finally {
      Files.deleteIfExists(lock)
      pool.shutdown()
    }
    val fresh = Files.createTempDirectory("knn_persist_fresh_").toString + "/g"
    persist(20L until 40L, fresh)
    assert(dump(path) === dump(fresh), "the persist must land once the lock is free")
    assert(dump(path) !== before)
  }

  test("compactIndex waits for the centroids lock an IVF swap holds, and never flattens label-partitioned codes") {
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(4)(d => (i * 4 + d).toDouble / 10.0), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val path = Files.createTempDirectory("ivf_cmp_lock_").toString + "/idx"
    Similarity.persistIvfSq8Index(vecs(0L to 3L), "vec_id", "embedding",
      "label", path, train = Some(vecs(0L to 15L)))
    (1 to 3).foreach { b =>
      Similarity.appendToIvfSq8Index(vecs((b * 4L) to (b * 4L + 3L)),
        "vec_id", "embedding", path, dim = 4, labelCol = Some("label"),
        batchTag = Some(s"delta-$b"))
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def layout(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/codes"))
        .filterNot(_.getPath.getName.startsWith("_")).map { f =>
          f.getPath.getName -> (if (f.isFile) 1 else fs.listStatus(f.getPath)
            .count(g => g.isFile && !g.getPath.getName.startsWith("_")))
        }.toMap
    val before = spark.read.parquet(s"$path/codes").orderBy("cid").collect().toSeq
    val grown = layout()
    assert(grown.keySet === Set("label=0", "label=1") && grown.values.forall(_ >= 4),
      s"3 tagged appends must have accumulated files per cluster: $grown")
    // an IVF swap's rename window: centroids/ moved aside, its lock held
    val cent = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val aside = new org.apache.hadoop.fs.Path(s"$path/centroids__old_swap")
    val lock = java.nio.file.Paths.get(s"$path/centroids__lock")
    assert(fs.rename(cent, aside))
    Files.createFile(lock)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val fut = pool.submit(new Runnable {
        def run(): Unit = Similarity.compactIndex(spark, path)
      })
      Thread.sleep(2000) // > the lock's 250 ms retry interval
      assert(!fut.isDone, "compactIndex must wait for the centroids lock")
      assert(layout() === grown, "codes rewritten while the centroids lock was held")
      assert(fs.rename(aside, cent))
      Files.delete(lock)
      fut.get(90, TimeUnit.SECONDS)
    } finally {
      Files.deleteIfExists(lock)
      pool.shutdown()
    }
    assert(layout() === Map("label=0" -> 1, "label=1" -> 1),
      s"compaction must leave ONE file per cluster: ${layout()}")
    assert(spark.read.parquet(s"$path/codes").orderBy("cid").collect().toSeq === before)
    // a crash left in that window: the centroids are gone for good, and
    // the partitioned codes must fail loudly, not compact flat
    assert(fs.rename(cent, aside))
    val e = intercept[IllegalStateException](Similarity.compactIndex(spark, path))
    assert(e.getMessage.contains("centroids"))
    assert(layout() === Map("label=0" -> 1, "label=1" -> 1),
      s"a failed compaction must leave the codes as they were: ${layout()}")
  }
}
