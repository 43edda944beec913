package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --seconds S
  *                  --trace 0|1 --cpus N --seed N [--corrupt]
  *
  * Set-up (JVM start to SparkSession ready plus the first table touch)
  * is timed first. Then, untimed, the workload's one-off preparation;
  * then a cold pass, warm passes back to back until `seconds` have
  * passed (at least the workload's `minWarm`), and with `--trace 1` one traced
  * pass. Every pass is followed by the workload's output checks. The
  * last stdout line is one JSON object that `run.py` reads. */
object Main {
  /** Every span any workload records, in report order; a workload
    * reports zeros for the spans it does not run. */
  val AllSpans: Seq[String] = Seq("pass",
    "sources.read", "model.transform", "ops.enrich", "ops.validate", "jdbc.read_keys",
    "ops.resolve", "jdbc.append", "tables.export", "jdbc.stats",
    "dedup.exact", "dedup.lsh_pairs", "ops.components", "dedup.keep_one", "text.quality",
    "curate.select", "curate.pack", "tables.write_shards",
    "ann.build", "ann.serve")
  val Workloads: Seq[String] = Seq("users_full_load", "users_resync", "corpus_curate", "ann_serve")
  val Extras: Seq[String] = Seq("sources.read.plan_s", "sources.read.task_skew",
    "model.transform.spill_bytes", "jdbc.append.rows_per_s", "jdbc.append.conflicts",
    "dedup.lsh_pairs.candidate_pairs", "dedup.lsh_pairs.pair_yield",
    "ann.serve.rows_read_per_query")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val name = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    val cpus = opts("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, Paths.get(opts("data")).toAbsolutePath, work, cpus, opts("seed").toLong)
    val wl: Workload = name match {
      case "users_full_load" => new UsersWorkload(ctx, resync = false)
      case "users_resync" => new UsersWorkload(ctx, resync = true)
      case "corpus_curate" => new CorpusWorkload(ctx)
      case "ann_serve" => new AnnWorkload(ctx)
    }
    wl.touch()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    wl.init()

    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    val plain = new Tracer(spark, enabled = false)
    def run(t: Tracer, corrupt: Boolean = false): (Double, Double) = {
      attempted += 1
      wl.prepare()
      try {
        val timing = t.pass(wl.pass(t))
        if (corrupt) wl.corrupt()
        val errs = wl.check()
        errs.foreach(e => failures += s"pass $attempted: $e")
        if (errs.nonEmpty) failed += 1
        timing
      } catch {
        case e: Exception =>
          failures += s"pass $attempted threw ${e.getClass.getName}: ${e.getMessage}"
          failed += 1
          (Double.NaN, 0.0)
      }
    }

    val (coldS, _) = run(plain, corrupt = flags("corrupt"))
    val warm = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (opts("seconds").toDouble * 1e9).toLong
    while (System.nanoTime() < deadline || warm.size < wl.minWarm) warm += run(plain)._1
    val warmMedian = median(warm.toSeq)

    val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
    if (opts("trace") == "1") {
      val equivalent = wl.untracedEquivalent(warmMedian)
      val traced = new Tracer(spark, enabled = true)
      val (tracedS, gcS) = run(traced)
      val layers = traced.report(AllSpans)
      perLayer ++= layers
      val extras = wl.extras(traced)
      for (x <- Extras) perLayer(x) = (extras.getOrElse(x, 0.0), unitOf(x))
      for (w <- Workloads) {
        perLayer(s"$w.gc_s") = (if (w == name) gcS else 0.0, "s")
        perLayer(s"$w.plan_s") = (if (w == name) traced.planSeconds else 0.0, "s")
      }
      perLayer("trace.overhead_s") = (tracedS - equivalent, "s")
      Files.write(work.resolve("trace.jsonl"),
        traced.spansJson.map(_ + "\n").mkString.getBytes("UTF-8"))
      traced.release()
    }
    val quality = wl.quality()
    val rssMb = peakRssMb()
    spark.stop()

    failures.foreach(f => System.err.println(s"CHECK FAILED [$name] $f"))
    val e2e = Seq(
      "cold_pass_s" -> coldS,
      "records_per_s" -> wl.records / warmMedian,
      "peak_rss_mb" -> rssMb,
      "output_recall" -> quality)
    val fields = Seq(
      s""""setup_s":$setupS""",
      s""""attempted":$attempted""",
      s""""failed":$failed""",
      s""""warm_s":[${warm.mkString(",")}]""",
      s""""e2e":{${e2e.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}}""",
      s""""per_layer":{${perLayer.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")}}""")
    println(fields.mkString("{", ",", "}"))
  }

  private def unitOf(metric: String): String =
    if (metric.endsWith("rows_per_s")) "1/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("task_skew") || metric.endsWith("pair_yield")) "ratio"
    else "count"

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The JVM's peak resident set (VmHWM) in MiB. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
