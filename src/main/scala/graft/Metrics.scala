package graft

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Physical-execution metrics capture (bytes scanned, shuffle volume,
  * records) via a task-level SparkListener — the observability hook a
  * production deployment wires to its metrics backend. Task metrics are
  * AQE-proof, unlike walking executed-plan SQL metrics.
  */
object Metrics {

  case class RunMetrics(bytesRead: Long, recordsRead: Long,
      shuffleBytesWritten: Long, shuffleRecordsWritten: Long,
      durationMs: Long)

  private class Capture extends SparkListener {
    val bytesRead = new AtomicLong
    val recordsRead = new AtomicLong
    val shuffleBytes = new AtomicLong
    val shuffleRecords = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tm = e.taskMetrics
      if (tm != null) {
        bytesRead.addAndGet(tm.inputMetrics.bytesRead)
        recordsRead.addAndGet(tm.inputMetrics.recordsRead)
        shuffleBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(tm.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  /** Attach named single-pass health counters to a DataFrame via the
    * engine's `observe` API: the aggregates (row counts, null counts,
    * gate-failure counts, …) are computed INSIDE the same job that
    * materializes the frame — no second pass over the data, which at
    * 100 TB is the difference between "metrics for free" and "metrics
    * double the bill". Returns the observed frame plus the Observation
    * handle; call `Metrics.observed(obs)` after an action to read the
    * settled values. */
  def withObservation(df: org.apache.spark.sql.DataFrame, name: String,
      exprs: Seq[org.apache.spark.sql.Column])
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    (df.observe(obs, exprs.head, exprs.tail: _*), obs)
  }

  /** Blocking read of an Observation's metrics (the observed frame must
    * have completed an action first). */
  def observed(obs: org.apache.spark.sql.Observation): Map[String, Any] =
    obs.get

  /** Run `action` counting the Spark JOBS launched inside — the
    * scheduling-overhead audit for driver-side evaluation loops: a grid
    * that fires an action per cell reads as |cells| jobs here instead
    * of one, which at a 1000-executor cluster is |cells| round trips of
    * scheduler latency on an otherwise sample-sized computation. */
  def withJobCount[T](spark: SparkSession)(action: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = action
      BusDrain.drain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Run `action` with a listener attached; returns (result, aggregated
    * task metrics for everything executed inside). `durationMs` is the
    * action's own wall time; the listener-bus drain that follows it is
    * not counted. */
  def withMetrics[T](spark: SparkSession)(action: => T): (T, RunMetrics) = {
    val cap = new Capture
    spark.sparkContext.addSparkListener(cap)
    try {
      val t0 = System.nanoTime()
      val out = action
      val durationMs = (System.nanoTime() - t0) / 1000000L
      // listener delivery is asynchronous: every task-end event of the
      // action is posted before it returns, so draining the bus settles
      // the totals
      BusDrain.drain(spark.sparkContext)
      (out, RunMetrics(cap.bytesRead.get, cap.recordsRead.get,
        cap.shuffleBytes.get, cap.shuffleRecords.get, durationMs))
    } finally spark.sparkContext.removeSparkListener(cap)
  }
}
