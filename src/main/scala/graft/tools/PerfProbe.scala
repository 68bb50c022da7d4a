package graft.tools

/** Ad-hoc perf probe: time named queries (steady state, min of N), then
  * run each once more, untimed, and print where that run went, grouping
  * its jobs by the descriptions the operators set with
  * [[graft.Metrics.phase]]:
  *
  *   [phase] <key> wall=<s> covered=<%>    phase spans' union / wall
  *   [phase] <key>   <name> jobs=<n> span=<s>   first start to last end
  *   [phase] <key>   (final) jobs=<n> span=<s>  jobs outside any phase
  *   [phase] <key>   (no job) <s>          wall with no job running
  *   [codegen] <key> compiled=<n> <ms> <run>  classes compiled during
  *                                          the warm-up and untimed runs
  *
  * `PERF_EXPLAIN=1` also prints each query's formatted physical plan.
  *
  * usage: runMain graft.tools.PerfProbe <sfDir> <reps> <q1,q2,...>
  */
object PerfProbe {
  /** Total length of the union of `spans`, each clipped to [lo, hi]. */
  private def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    spans.map { case (a, b) => (a max lo, b min hi) }.filter(s => s._1 < s._2)
      .sortBy(_._1)
      .foldLeft((0L, lo)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - (a max reach), b)
      }._1

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args(2).split(",").toSeq
      else Seq("q_completion_rate", "q_poc_registry", "q_status_pivot")
    val spark = graft.GraftSession.getOrCreate()
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      def codegen(run: String, r: graft.Metrics.Run): Unit =
        println(f"[codegen] $n compiled=${r.compiled}%-4d ${r.compileMs}%.1fms $run")
      codegen("warm-up", graft.Metrics.withJobs(spark)(fn(spark, sfDir).count())._2)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[perf] $n min=${times.min}%.3f times=${times.map(t => f"$t%.3f").mkString(",")}")

      val ((t0, t1), run) = graft.Metrics.withJobs(spark) {
        val t0 = System.currentTimeMillis()
        fn(spark, sfDir).count()
        (t0, System.currentTimeMillis())
      }
      val jobs = run.jobs
      val phases = jobs.groupBy(_.description.getOrElse("(final)")).toSeq
        .map { case (d, js) => (d, js.size, js.map(_.startMs).min, js.map(_.endMs).max) }
        .sortBy(_._3)
      val wall = math.max(1L, t1 - t0)
      val inPhases = covered(phases.map(p => (p._3, p._4)), t0, t1)
      val busy = covered(jobs.map(j => (j.startMs, j.endMs)), t0, t1)
      println(f"[phase] $n wall=${wall / 1e3}%.3fs covered=${100.0 * inPhases / wall}%.1f%%")
      phases.foreach { case (d, k, a, b) =>
        println(f"[phase] $n   $d%-24s jobs=$k%-3d span=${(b - a) / 1e3}%.3fs")
      }
      println(f"[phase] $n   ${"(no job)"}%-24s ${(wall - busy) / 1e3}%.3fs")
      codegen("untimed", run)
      if (sys.env.get("PERF_EXPLAIN").contains("1"))
        fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
