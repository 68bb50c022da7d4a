package graft

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  import TestSpark._

  /** `body`'s result and the descriptions of the jobs it launched, in
    * submission order. */
  private def jobDescriptions[T](body: => T): (T, Seq[Option[String]]) = {
    val (out, run) = Metrics.withJobs(spark)(body)
    (out, run.jobs.map(_.description))
  }

  private def description: String =
    spark.sparkContext.getLocalProperty(Metrics.JobDescription)

  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  test("withMetrics captures scan and shuffle volume of the run") {
    val (nRows, m) = Metrics.withMetrics(spark) {
      SparkEntry.queries("q1_pricing_agg")(spark, sf).collect().length
    }
    assert(nRows > 0)
    assert(m.recordsRead > 0, s"expected scanned records, got $m")
    assert(m.bytesRead > 0, s"expected scanned bytes, got $m")
    assert(m.durationMs > 0)
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

  test("withJobs counts the classes a new plan compiles, and none when " +
      "the same plan runs again") {
    // the literal is inlined into the generated source, so the plan's
    // classes are new to the JVM's codegen cache
    val k = System.nanoTime()
    def plan = spark.range(100).selectExpr(s"id * ${k}L AS x")
    val (_, first) = Metrics.withJobs(spark)(plan.collect())
    assert(first.compiled > 0 && first.compileMs > 0,
      s"a new plan compiled ${first.compiled} classes in ${first.compileMs} ms")
    val (_, again) = Metrics.withJobs(spark)(plan.collect())
    assert(again.compiled == 0, s"the repeat compiled ${again.compiled} classes")
  }

  test("phase names the jobs inside its scope and restores the previous " +
      "description when the scope returns or throws") {
    assert(description == null)
    val (_, named) = jobDescriptions(Metrics.phase(spark, "spec.one")(oneJob()))
    assert(named == Seq(Some("spec.one")))
    assert(description == null)
    spark.sparkContext.setJobDescription("spec.caller")
    try {
      intercept[IllegalStateException] {
        Metrics.phase(spark, "spec.failing") {
          oneJob()
          throw new IllegalStateException("boom")
        }
      }
      assert(description == "spec.caller")
    } finally spark.sparkContext.setJobDescription(null)
    assert(jobDescriptions(oneJob())._2 == Seq(None))
  }

  test("a nested phase labels its own jobs and the outer name returns " +
      "when it ends") {
    val (_, ds) = jobDescriptions(Metrics.phase(spark, "spec.outer") {
      oneJob()
      Metrics.phase(spark, "spec.inner")(oneJob())
      assert(description == "spec.outer")
      oneJob()
    })
    assert(ds == Seq("spec.outer", "spec.inner", "spec.outer").map(Some(_)))
  }

  test("a Future on a pool created inside a phase can open its own phase") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val (_, ds) = jobDescriptions(Metrics.phase(spark, "spec.outer") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val own = Future(Metrics.phase(spark, "spec.branch") { oneJob(); oneJob() })
        val inherited = Future(oneJob())
        Await.result(own, Duration.Inf) + Await.result(inherited, Duration.Inf)
      } finally pool.shutdown()
    })
    assert(ds.sortBy(_.toString) ==
      Seq("spec.branch", "spec.branch", "spec.outer").map(Some(_)))
    assert(description == null)
  }

  test("shipped operators name every job they launch before the final " +
      "action") {
    // the within-batch leakage branch runs containmentJoinOn, whose own
    // phases override increment.leak_within
    val expected = Map(
      "q_jaccard_prefix" -> Set("jaccard.sets", "jaccard.encoded"),
      "q_corpus_increment" -> Set("increment.batch", "increment.meta",
        "increment.near_hit", "increment.components", "containment.sets",
        "containment.encoded", "containment_both.sets"))
    expected.foreach { case (key, names) =>
      val fn = SparkEntry.queries(key)
      fn(spark, sf).count() // warm-up: schemas inferred, indexes staged
      val (df, built) = jobDescriptions(fn(spark, sf))
      assert(built.nonEmpty && built.forall(_.isDefined),
        s"$key launched unnamed jobs before its final action: $built")
      assert(names.subsetOf(built.flatten.toSet),
        s"$key: expected phases ${names.toSeq.sorted}, saw ${built.flatten.distinct}")
      val (_, last) = jobDescriptions(df.count())
      assert(last.nonEmpty && last.forall(_.isEmpty),
        s"$key: the final action ran under a phase: $last")
    }
  }
}
