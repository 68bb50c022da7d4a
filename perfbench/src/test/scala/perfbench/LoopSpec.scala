package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The measurement loop's accounting rules, without Spark: a failed op
  * (a throw or a wrong digest) raises the failure count and never adds
  * a latency sample, and a typo'd workload name fails before any work. */
class LoopSpec extends AnyFunSuite {
  private val right = Digest(3, 10, 20)

  private def op(label: String, got: => Digest): Op =
    Op(label, 5L, () => got, () => right)

  test("a throwing op counts as a failure and adds no latency sample") {
    val rec = new Recorder
    rec.attempt(op("ok", right))
    rec.attempt(op("boom", throw new IllegalStateException("boom")))
    rec.settle()
    assert(rec.attempted == 2)
    assert(rec.failed == 1)
    assert(rec.latencies.size == 1)
    assert(rec.labels.toSeq == Seq("ok"))
    assert(rec.errors.exists(_.contains("boom")))
  }

  test("a wrong digest counts as a failure and adds no latency sample") {
    val rec = new Recorder
    rec.attempt(op("wrong", Digest(3, 10, 21)))
    rec.attempt(op("ok", right))
    rec.settle()
    assert(rec.attempted == 2)
    assert(rec.failed == 1)
    assert(rec.latencies.size == 1)
    assert(rec.docs == 5L)
    assert(rec.errors.exists(_.startsWith("wrong: digest")))
  }

  test("the window closes on a whole quantum and runs at least one") {
    var calls = 0
    val rec = Loop.run(0.0, _ => { calls += 1; Some(op("ok", right)) }, quantum = 3)
    rec.settle()
    assert(rec.attempted == 3)
    assert(rec.latencies.size == 3)
  }

  test("the loop stops when the workload runs out of ops") {
    val rec = Loop.run(60.0, i => if (i < 2) Some(op("ok", right)) else None)
    rec.settle()
    assert(rec.attempted == 2)
  }

  test("an unknown workload name fails fast") {
    val err = intercept[IllegalArgumentException] {
      Args.parse(Array("--workload", "clif_dashbord", "--data", "d", "--work", "w",
        "--out", "o", "--seconds", "1", "--trace", "0", "--seed", "1"))
    }
    assert(err.getMessage.contains("unknown workload clif_dashbord"))
  }

  test("quantiles interpolate between ranks") {
    assert(Loop.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Loop.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
  }
}
