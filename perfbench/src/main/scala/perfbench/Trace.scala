package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one call across a layer boundary. `parent` is the span that
  * caused it (0 for the run span); times are wall-clock milliseconds
  * plus a nanosecond duration. Jobs the span's thread starts carry the
  * span's job group `span-<id>`. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, nanos: Long, attrs: Map[String, Double]) {
  def seconds: Double = nanos / 1e9
}

/** Spans of one run, kept in memory and written out at the end. With
  * tracing off, `span` only runs its body: the untraced run pays
  * nothing for the instrumentation. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List(0)
  private var notes = List(scala.collection.mutable.Map.empty[String, Double])
  private var sc: Option[SparkContext] = None

  /** Jobs started inside spans are attributed through job groups set on
    * this context. */
  def attach(context: Option[SparkContext]): Unit = sc = context

  /** Attach a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) notes.head(key) = value

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      notes = scala.collection.mutable.Map.empty[String, Double] :: notes
      sc.foreach(_.setJobGroup(s"span-$id", name))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val nanos = System.nanoTime() - t0
        spans += Span(id, parent, name, startMs, System.currentTimeMillis(),
          nanos, notes.head.toMap)
        stack = stack.tail
        notes = notes.tail
        sc.foreach { c =>
          if (stack.head == 0) c.clearJobGroup()
          else c.setJobGroup(s"span-${stack.head}", "")
        }
      }
    }

  /** Every span below `root`, transitively. */
  def descendants(root: Int): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Span] =
      byParent.getOrElse(id, Nil).toSeq.flatMap(s => s +: walk(s.id))
    walk(root)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJsonLines: Seq[String] = spans.sortBy(_.id).toSeq.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds) ++
      s.attrs.toSeq)
  }
}

/** One finished task, as the listener saw it. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    outputBytes: Long)

/** Job, stage and task events, attributed to spans through job groups. */
final class ExecCapture extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val completedStages = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    completedStages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }

  private def groupOf(stage: Int): String = stageGroup.getOrDefault(stage, "")

  /** The execution profile of the jobs started under the given spans. */
  def profile(spanIds: Set[Int]): ExecProfile = {
    val groups = spanIds.map(id => s"span-$id")
    val ts = tasks.asScala.filter(t => groups(groupOf(t.stageId))).toSeq
    ExecProfile(
      jobs = jobGroup.asScala.count { case (_, g) => groups(g) },
      stages = completedStages.asScala.count(s => groups(groupOf(s))),
      tasks = ts)
  }
}

final case class ExecProfile(jobs: Int, stages: Int, tasks: Seq[TaskRec]) {
  def runSeconds: Double = tasks.map(_.runMs).sum / 1e3
  def cpuSeconds: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcSeconds: Double = tasks.map(_.gcMs).sum / 1e3
  def inputBytes: Long = tasks.map(_.inputBytes).sum
  def shuffleReadBytes: Long = tasks.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = tasks.map(_.spillBytes).sum
  def outputBytes: Long = tasks.map(_.outputBytes).sum

  /** Σ task wall / (span wall × cores). */
  def effectiveParallelism(wallMs: Long, cores: Int): Double =
    if (wallMs <= 0) 0.0
    else tasks.map(t => t.finishMs - t.launchMs).sum.toDouble / (wallMs * cores)

  /** Max over stages of (slowest task / median task), for stages of at
    * least two tasks; 1.0 when there are none. */
  def stageSkew: Double = {
    val perStage = tasks.groupBy(_.stageId).values
      .map(_.map(t => (t.finishMs - t.launchMs).toDouble))
      .filter(_.size >= 2)
      .map(d => d.max / math.max(Loop.median(d), 1.0))
    if (perStage.isEmpty) 1.0 else perStage.max
  }

  /** Seconds of [startMs, endMs] during which no task of these jobs ran. */
  def noTaskSeconds(startMs: Long, endMs: Long): Double = {
    val iv = tasks.map(t => (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) {
        covered += curE - curS
        curS = a
        curE = b
      } else curE = math.max(curE, b)
    }
    covered += curE - curS
    (endMs - startMs - covered) / 1e3
  }
}
