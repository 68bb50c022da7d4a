package graft

import org.apache.spark.graft.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Physical-execution metrics capture (bytes scanned, shuffle volume,
  * records) via a task-level SparkListener — the observability hook a
  * production deployment wires to its metrics backend. Task metrics are
  * AQE-proof, unlike walking executed-plan SQL metrics. [[phase]]
  * names the jobs an operator step launches, so the same listeners can
  * tell where inside a composed operator the time went.
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

  /** Name the Spark jobs `body` launches on the calling thread: sets
    * `spark.job.description` to `name` for the length of `body`, then
    * restores the previous value (null included), also when `body`
    * throws. Operators wrap their eager materializations in a phase
    * named `<operator>.<step>` (`jaccard.sets`, `increment.near_hit`),
    * so a job listener can group jobs by the code that launched them
    * (`tools.PerfProbe` prints that breakdown). An inner scope
    * overrides an outer one until it ends. A thread created inside a
    * scope starts with its name (Spark copies local properties into
    * child threads) and may open its own. */
  def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, name)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  /** The local property Spark copies into every job's properties as
    * its description. */
  private[graft] val JobDescription = "spark.job.description"

  /** One Spark job run inside [[withJobs]]: its description (the
    * [[phase]] it ran under; None outside every phase) and its start
    * and end, epoch ms. */
  case class Job(id: Int, description: Option[String], startMs: Long,
      endMs: Long)

  /** What [[withJobs]] saw: the jobs, in submission order, and the
    * classes Spark's code generator compiled meanwhile (misses of its
    * class cache, `GraftSession.CodegenCacheEntries`) with their total
    * compile time. */
  case class Run(jobs: Seq[Job], compiled: Long, compileMs: Double)

  /** Spark's JVM-wide compile counters: (classes compiled, ns spent).
    * The count is the updates of `CodegenMetrics.METRIC_COMPILATION_TIME`;
    * the time is the exact running sum the code generator keeps beside
    * it (the histogram's own snapshot is a decaying sample, not a
    * sum). */
  private def compiles(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Run `action` recording the Spark jobs launched inside, in
    * submission order, and the classes compiled while it ran. The
    * compile counters are JVM-wide: work that other threads run
    * concurrently blends into them. */
  def withJobs[T](spark: SparkSession)(action: => T): (T, Run) = {
    val started = new ConcurrentHashMap[Int, (Option[String], Long)]
    val jobs = new ConcurrentLinkedQueue[Job]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId, (Option(e.properties)
          .flatMap(p => Option(p.getProperty(JobDescription))), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (d, t) =>
          jobs.add(Job(e.jobId, d, t, e.time))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val (n0, ns0) = compiles()
      val out = action
      val (n1, ns1) = compiles()
      // every job of the action has ended before it returns; draining
      // the bus delivers their events
      BusDrain.drain(sc)
      (out, Run(jobs.asScala.toSeq.sortBy(_.id), n1 - n0, (ns1 - ns0) / 1e6))
    } finally sc.removeSparkListener(l)
  }

  /** Run `action` counting the Spark JOBS launched inside — the
    * scheduling-overhead audit for driver-side evaluation loops: a grid
    * that fires an action per cell reads as |cells| jobs here instead
    * of one, which at a 1000-executor cluster is |cells| round trips of
    * scheduler latency on an otherwise sample-sized computation. */
  def withJobCount[T](spark: SparkSession)(action: => T): (T, Int) = {
    val (out, run) = withJobs(spark)(action)
    (out, run.jobs.size)
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
