package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", GraftSession.WarehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional subset for local iteration (comma-separated names);
    // the driver sets no filter and benches everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a typo'd name silently benching nothing would read as success —
    // unknown names fail fast instead
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries in SPARK_GRAFT_ONLY: ${unknown.mkString(",")}")
    }
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // steady state = MEDIAN of N timed runs (default 3): host load
    // swings single-run walls ±25% (r9 measured 210-267 s full-bench
    // spread at identical recorded loads), so a min-of-2 artifact
    // cannot attribute per-query regressions — the median over N with
    // min/max spread in the artifact is what makes a round-over-round
    // comparison adjudicatable without solo replays
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    // A throwing query must not publish a plausible-looking wall: the
    // elapsed time of a crash is indistinguishable from a fast success
    // in the artifact, so round-over-round comparison would read a
    // regression-turned-crash as a speedup. timeOnce reports success
    // explicitly; failed reps surface as an "err" count in the spread
    // and the query's median is the negative sentinel -1.0.
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (Double, Option[Throwable]) = {
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
                catch { case e: Throwable => Some(e) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // Session state accumulated by one query must not be billed to the
    // next: iterative operators localCheckpoint (pinned block-manager
    // blocks) and cache — left in place across 140 queries they drive
    // the JVM into GC churn and made round-4's numbers unusable
    // (plan-trivial queries measured 10-30 s). Persisted INDEX tables
    // (MinHash/IVF/PageRank adjacency) deliberately survive: staging
    // is the untimed build half of their build/probe contract.
    def resetSessionState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // per-query protocol: warmup (JIT + codegen + file listing +
    // index staging, untimed) -> two timed runs -> state reset. The
    // reset sits OUTSIDE the timed region and before the next query,
    // so each measurement starts from the same near-empty block
    // manager instead of whatever the previous 139 queries left.
    // 1-minute system load at start/end rides along in the JSON:
    // wall-times swing ±25% with background machine load, and a
    // number without its load context is what made round 4's bench
    // unusable.
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg
    val stats = queries.map { case (name, fn) =>
      val warmErr = try { fn(spark, sfDir).count(); None }
                    catch { case e: Throwable => Some(e) }
      resetSessionState()
      val runs = (1 to reps).map { _ =>
        val r = timeOnce(fn)
        resetSessionState()
        r
      }
      (warmErr ++ runs.flatMap(_._2)).headOption.foreach(e =>
        System.err.println(s"[bench] $name failed: $e"))
      val times = runs.map(_._1)
      val errs = runs.count(_._2.isDefined)
      // any failed rep poisons the median: -1.0 is unambiguous in the
      // artifact where a small positive wall is not
      val med = if (errs > 0) -1.0 else median(times)
      name -> ((med, times.min, times.max, errs))
    }
    val results = stats.map { case (n, (med, _, _, _)) => n -> med }
    // failed queries (sentinel -1.0) don't contribute to total — a
    // crash must not LOWER the headline number
    val total = results.values.filter(_ >= 0).sum
    val nFailed = results.values.count(_ < 0)
    // The harness captures only a bounded output tail (observed: 2000
    // chars, with sbt's "[success] ..." line inside it). Emit per-query
    // seconds at 3 decimals and, if the full map would overflow that
    // window, keep the slowest queries (the informative ones) and count
    // the rest — a truncated-but-parseable line beats a complete line
    // the harness can't parse.
    val budget = 1650
    val sorted = results.toSeq.sortBy(-_._2)
    // Locale-pinned formatting: the f interpolator uses the JVM default
    // locale, and a comma decimal separator would make the line invalid
    // JSON — format with Locale.ROOT so the harness parse never depends
    // on the host locale.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // getSystemLoadAverage returns -1.0 where unavailable — emit JSON
    // null rather than a value tooling could mistake for a real
    // quiet-machine reading
    def fmtLoad(v: Double): String = if (v < 0) "null" else fmt(v)
    def render(entries: Seq[(String, Double)], omitted: Int,
        withSpread: Boolean): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // the file artifact carries the full per-query spread; the
      // bounded stdout line keeps only medians
      val spread = if (!withSpread) "" else {
        val st = entries.map { case (k, _) =>
          val (med, mn, mx, errs) = stats(k)
          val errField = if (errs > 0) ",\"err\":" + errs else ""
          "\"" + k + "\":{\"med\":" + fmt(med) + ",\"min\":" + fmt(mn) +
            ",\"max\":" + fmt(mx) + errField + "}"
        }.mkString("{", ",", "}")
        s""","reps":$reps,"query_spread":$st"""
      }
      val extra = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      val failed = if (nFailed > 0) s""","queries_failed":$nFailed""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size}$failed,"load_avg_start":${fmtLoad(loadStart)},"load_avg_end":${fmtLoad(loadAvg)},"queries":$qs$extra$spread,"sf":"$sfDir"}"""
    }
    var line = render(sorted, 0, withSpread = false)
    var keep = sorted.size
    while (line.length > budget && keep > 1) {
      keep -= 1
      line = render(sorted.take(keep), sorted.size - keep, withSpread = false)
    }
    // The stdout line interleaves with log4j output (round 6's harness
    // tail glued a WARN line in front of the JSON and parsed null), so:
    // (a) a leading newline guarantees the JSON starts at column 0, and
    // (b) the UNTRUNCATED line goes to its own file — the
    // machine-readable artifact, free of both the tail budget and any
    // logger interleaving. Path override via SPARK_GRAFT_BENCH_OUT.
    // default name carries the core count: a multi-config driver run
    // (32-core then 8-core) must not overwrite one artifact with the
    // other (r12 lost the 32-core per-query spread exactly this way)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_out_c$cpus.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (render(sorted, 0, withSpread = true) + "\n").getBytes("UTF-8"))
    println("\n" + line)
    spark.stop()
  }
}
