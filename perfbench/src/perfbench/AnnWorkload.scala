package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Graft
import graft.llm.Similarity

/** ANN: build an IVF-PQ index over the vectors, then serve the query
  * set as two fixed-size batches, alternating back to back (k = 10).
  * The cold pass is the build plus the first batch; every warm pass is
  * one batch. */
final class AnnWorkload(ctx: Ctx) extends Workload {
  import AnnWorkload._
  private val spark = ctx.spark
  private val indexPath = ctx.workDir("out") + "/index"
  private def vectors = spark.read.parquet(ctx.dataFile("vectors.parquet"))
  private val nVectors = ctx.metaLong("vectors")
  private val nQueries = ctx.metaLong("queries")
  private val batch = nQueries / 2
  private val batches: Seq[DataFrame] = {
    val q = spark.read.parquet(ctx.dataFile("queries.parquet"))
    Seq(0L, batch).map(lo => q.filter(col("qid") >= lo && col("qid") < lo + batch))
  }
  private lazy val truth: Map[Long, Set[Long]] =
    spark.read.parquet(ctx.dataFile("truth.parquet")).select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  private var built = false
  private var next = 0
  private var lastBatch = 0
  private var results: Array[Row] = Array.empty
  private var hits = 0L
  private var judged = 0L
  private var warmBuildS = 0.0

  val records: Long = batch
  val spanNames: Seq[String] = Seq("ann.build", "ann.serve")

  def touch(): Unit = vectors.schema
  /** Batches are short and the first warm one is still warming up; the
    * median of three skips it. */
  override def minWarm: Int = 3

  override def init(): Unit = truth

  private def build(t: Tracer): Unit = t.span("ann.build")(
    Graft.persistIvfPqIndex(vectors, "vec_id", "embedding", "label", indexPath, m = M, dim = Dim)
  )(_ => spark.read.parquet(indexPath + "/codes").count())

  def pass(t: Tracer): Unit = {
    if (!built || t.enabled) { build(t); built = true }
    lastBatch = next
    next = (next + 1) % batches.size
    val store = vectors.select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("ce"))
    results = t.span("ann.serve")(Graft.annIvfPqTopK(spark, indexPath, store, batches(lastBatch),
      "qid", "embedding", K, m = M, dim = Dim, coarse = Coarse, nprobe = NProbe).collect())(_.length.toLong)
  }

  /** Before the traced pass, one untraced rebuild gives the warm build
    * time the traced pass is compared with. */
  override def untracedEquivalent(warmMedian: Double): Double = {
    val t0 = System.nanoTime()
    build(new Tracer(spark, enabled = false))
    warmBuildS = (System.nanoTime() - t0) / 1e9
    warmMedian + warmBuildS
  }

  override def extras(t: Tracer): Map[String, Double] = Map(
    "ann.serve.rows_read_per_query" -> t.stats("ann.serve").recordsRead.toDouble / records)

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val lo = lastBatch * batch
    val want = (lo until lo + batch).toSet
    val byQ = results.groupBy(_.getAs[Long]("qid"))
    if (byQ.keySet != want) errs += s"answered ${byQ.size} of ${want.size} queries of batch $lastBatch"
    var bad = 0
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      val cids = sorted.map(_.getAs[Long]("cid"))
      val dots = sorted.map(_.getAs[Long]("dot"))
      val ok = sorted.map(_.getAs[Long]("rank")).toSeq == (1L to K) &&
        cids.distinct.length == K &&
        cids.forall(c => c >= 7 && (c - 7) % 5 == 0 && (c - 7) / 5 < nVectors) &&
        dots.sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
      if (!ok) bad += 1
      else {
        hits += cids.count(truth.getOrElse(q, Set.empty[Long]).contains)
        judged += K
      }
    }
    if (bad > 0) errs += s"$bad queries of batch $lastBatch without $K ranked, distinct, valid ids"
    errs.result()
  }

  def corrupt(): Unit = results = results.drop(1)

  /** recall@10 of every checked batch against the generator's exact top-10. */
  def quality(): Double = if (judged == 0) 0.0 else hits.toDouble / judged
}

object AnnWorkload {
  val Dim = 64
  val K = 10
  val M = 16
  val Coarse = 300
  val NProbe = 2
}
