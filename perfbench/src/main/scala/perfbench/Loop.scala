package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed operation: `run` does the work and returns the result's
  * digest; `expected` is the digest a correct run must produce. */
final case class Op(label: String, docs: Long, run: () => Digest,
    expected: () => Digest)

/** Latency samples and failure counts of one closed-loop window. */
final class Recorder {
  val latencies = ArrayBuffer.empty[Double]
  val labels = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var docs = 0L
  val errors = ArrayBuffer.empty[String]
  private val pending = ArrayBuffer.empty[(Op, Double, Digest)]

  private def fail(err: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += err
  }

  /** Time one op. A throw counts as a failure at once and adds no
    * latency sample: a crash must never read as a fast success. */
  def attempt(op: Op): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val got = op.run()
      pending += ((op, (System.nanoTime() - t0) / 1e9, got))
    } catch {
      case NonFatal(e) => fail(s"${op.label}: ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** Compare every pending result with its reference, after the window
    * so that computing a reference never sits inside it. A mismatch is
    * a failure and its latency sample is dropped. */
  def settle(): Unit = {
    pending.foreach { case (op, secs, got) =>
      val want = op.expected()
      if (got == want) {
        latencies += secs
        labels += op.label
        docs += op.docs
      } else fail(s"${op.label}: digest $got != expected $want")
    }
    pending.clear()
  }

  def opSeconds: Double = latencies.sum
}

object Loop {
  /** Closed loop with one client: op i+1 starts when op i has ended,
    * until `seconds` of wall time have passed or `next` runs dry. The
    * loop stops only after a whole number of `quantum` ops, so every run
    * of a workload samples the same mix; at least one quantum runs.
    * Results stay pending until `settle`. */
  def run(seconds: Double, next: Int => Option[Op], quantum: Int = 1,
      rec: Recorder = new Recorder): Recorder = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var op = next(0)
    while (op.isDefined && (i < quantum || i % quantum != 0 || System.nanoTime() < deadline)) {
      rec.attempt(op.get)
      i += 1
      op = next(i)
    }
    rec
  }

  /** The q-quantile of `xs` by linear interpolation between ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
