package graft

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  import TestSpark._

  test("withMetrics captures scan and shuffle volume of the run") {
    val (nRows, m) = Metrics.withMetrics(spark) {
      SparkEntry.queries("q1_pricing_agg")(spark, sf).collect().length
    }
    assert(nRows > 0)
    assert(m.recordsRead > 0, s"expected scanned records, got $m")
    assert(m.bytesRead > 0, s"expected scanned bytes, got $m")
    assert(m.durationMs > 0)
  }

  test("observe: single-pass health counters match direct recounts") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val (observed, obs) = Metrics.withObservation(docs, "health", Seq(
      count(lit(1)).as("rows"),
      sum(when(length(col("text")) < 50, 1L).otherwise(0L)).as("short_docs"),
      count(when(col("lang").isNull, 1)).as("null_lang")))
    // one action drives BOTH the result and the metrics — no second scan
    val n = observed.count()
    val m = Metrics.observed(obs)
    assert(m("rows") == n)
    assert(m("short_docs") ==
      docs.filter(length(col("text")) < 50).count())
    assert(m("null_lang") == docs.filter(col("lang").isNull).count())
  }

  test("a shuffle-free plan reports zero shuffle writes") {
    val (_, m) = Metrics.withMetrics(spark) {
      graft.sources.Tables.nation(spark, sf).collect().length
    }
    assert(m.shuffleBytesWritten == 0, s"plain scan must not shuffle: $m")
  }

  test("withMetrics durationMs is the action's own wall time, not the " +
      "listener settle that follows it") {
    var innerMs = 0L
    val (n, m) = Metrics.withMetrics(spark) {
      val t0 = System.nanoTime()
      val c = spark.sparkContext.parallelize(1 to 100, 4).count()
      innerMs = (System.nanoTime() - t0) / 1000000L
      c
    }
    assert(n == 100L)
    assert(math.abs(m.durationMs - innerMs) <= 50,
      s"durationMs ${m.durationMs} vs the action's own $innerMs ms")
  }

  test("withJobCount counts exactly the jobs launched inside the action") {
    val sc = spark.sparkContext
    val (n, one) = Metrics.withJobCount(spark)(sc.parallelize(1 to 100, 4).count())
    assert(n == 100L)
    assert(one == 1, s"one count() launched $one jobs")
    val (_, two) = Metrics.withJobCount(spark) {
      sc.parallelize(1 to 100, 4).count() + sc.parallelize(1 to 100, 4).count()
    }
    assert(two == 2, s"two count()s launched $two jobs")
  }
}
