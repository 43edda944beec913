package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of test code starts. */
object SparkJobs {

  /** Spark jobs started while `body` runs (the listener bus is async,
    * so the count is polled until it settles). */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.time >= t0) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 3) {
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
