package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Counters of one span, filled by [[SpanListener]] from the jobs and
  * tasks that ran under the span's job group. */
final class SpanStats {
  var jobs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
}

/** Attributes jobs and task metrics to the job group active when each
  * job started. Events arrive on the listener bus thread; readers call
  * [[Tracer.drain]] first. */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  val stats = mutable.HashMap[String, SpanStats]()
  var planMs = 0L

  private def of(g: String): SpanStats = stats.getOrElseUpdate(g, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      of(name).jobs += 1
      e.stageIds.foreach(stageGroup(_) = name)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (name <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = of(name)
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
      s.taskMs += m.executorRunTime
    }
  }

  def reset(): Unit = synchronized { stageGroup.clear(); stats.clear(); planMs = 0L }
}

/** One recorded span: wall time on the driver, its parent, and the
  * rows the layer produced. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long, rowsOut: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps calls into the program's layers. Untraced, every wrapper just
  * runs its body, so the measured passes execute exactly the plain
  * pipeline. Traced, each call runs under its own job group, a
  * DataFrame result is materialized at the boundary (persist + count)
  * so the span covers that layer's work, and the span is kept in
  * memory until [[report]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val listener = new SpanListener
  val spans = mutable.ArrayBuffer[Span]()
  private val held = mutable.ArrayBuffer[DataFrame]()
  private var current = "pass"
  /** Driver time spent on the tracer's own counting, outside any span. */
  var bookkeepingNs = 0L

  if (enabled) {
    sc.addSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = addPlan(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPlan(qe)
      })
  }

  private def addPlan(qe: QueryExecution): Unit = listener.synchronized {
    listener.planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  private var pendingRows = 0L

  /** Runs `body` as span `name`. The span's rows are `rows(result)`,
    * counted after the span ends, or else the rows of every frame
    * [[materialize]]d inside it. */
  def span[A](name: String)(body: => A)(rows: A => Long = null): A =
    if (!enabled) body
    else {
      val parent = current
      current = name
      pendingRows = 0L
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val out = body
        val t1 = System.nanoTime()
        val n = if (rows == null) pendingRows else bookkeeping(rows(out))
        spans += Span(name, parent, t0, t1, n)
        out
      } finally {
        current = parent
        sc.setJobGroup(parent, parent, interruptOnCancel = false)
      }
    }

  /** Traced: persists and counts `df`, so the enclosing span covers its
    * computation. Untraced: returns `df` untouched. */
  def materialize(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += d
      pendingRows += d.count()
      d
    }

  /** A layer call returning a DataFrame, materialized inside its span. */
  def frame(name: String)(body: => DataFrame): DataFrame = span(name)(materialize(body))()

  /** Runs `f` outside every span, as the tracer's own bookkeeping. */
  def bookkeeping[A](f: => A): A = {
    val t0 = System.nanoTime()
    sc.setJobGroup("trace.bookkeeping", "trace.bookkeeping", interruptOnCancel = false)
    try f
    finally {
      sc.setJobGroup(current, current, interruptOnCancel = false)
      bookkeepingNs += System.nanoTime() - t0
    }
  }

  /** Drops every frame the tracer persisted. */
  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Runs one whole pass as the root span `pass`, returning its seconds.
    * GC time is the JVM's own collector time over the pass. */
  def pass(body: => Unit): (Double, Double) = {
    val gc0 = gcMs()
    spans.clear(); listener.reset(); bookkeepingNs = 0L
    current = "pass"
    sc.setJobGroup("pass", "pass", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    spans += Span("pass", "", t0, t1, 0L)
    ((t1 - t0) / 1e9, (gcMs() - gc0) / 1e3)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** The per-span metrics of the last traced pass: `<span>.s`,
    * `.jobs`, `.shuffle_bytes`, `.rows_out` for every span in `names`
    * (zero for spans this workload does not run) and `pass.self_s`. */
  def report(names: Seq[String]): mutable.LinkedHashMap[String, (Double, String)] = {
    drain()
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    val byName = spans.groupBy(_.name)
    for (n <- names) {
      val ss = byName.getOrElse(n, Nil)
      val st = listener.stats.get(n)
      out(s"$n.s") = (ss.map(_.seconds).sum, "s")
      out(s"$n.jobs") = (st.map(_.jobs).getOrElse(0L).toDouble, "count")
      out(s"$n.shuffle_bytes") = (st.map(_.shuffleBytes).getOrElse(0L).toDouble, "bytes")
      out(s"$n.rows_out") = (ss.map(_.rowsOut).sum.toDouble, "count")
    }
    val pass = spans.find(_.name == "pass").get
    val children = spans.filter(_.parent == "pass").map(_.seconds).sum
    out("pass.self_s") = (pass.seconds - children - bookkeepingNs / 1e9, "s")
    out
  }

  def stats(name: String): SpanStats = listener.stats.getOrElse(name, new SpanStats)
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
  def planSeconds: Double = listener.synchronized(listener.planMs / 1e3)

  /** Spans as JSON lines, for the trace file written when the run ends. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    val st = stats(s.name)
    f"""{"name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      f""""rows_out":${s.rowsOut},"jobs":${st.jobs},"shuffle_bytes":${st.shuffleBytes},""" +
      f""""spill_bytes":${st.spillBytes},"records_read":${st.recordsRead}}"""
  }
}
