package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Dedup

/** Command-line arguments of one run. `oracle` is the command that
  * compares written results with their DuckDB oracles. */
final case class Args(workload: String, data: String, work: String, out: String,
    seconds: Double, trace: Boolean, seed: Long, oracle: Seq[String])

object Args {
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments come in --name value pairs: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = get("workload")
    require(Workload.names.contains(workload),
      s"unknown workload $workload (known: ${Workload.names.mkString(", ")})")
    Args(workload, get("data"), get("work"), get("out"), get("seconds").toDouble,
      get("trace") == "1", get("seed").toLong,
      m.getOrElse("oracle", "").split(" ").toSeq.filter(_.nonEmpty))
  }
}

/** Runs the DuckDB oracle command over written results; throws unless
  * every result matches. */
object Oracle {
  def check(args: Args, dataDir: String, resultsDir: String): Unit = {
    require(args.oracle.nonEmpty, "no oracle command given")
    val p = new ProcessBuilder((args.oracle ++ Seq(dataDir, resultsDir)).asJava)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    if (code != 0) throw new IllegalStateException(s"oracle check failed:\n$out")
  }
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  private val started = System.nanoTime()

  /** Progress on stderr, with seconds since the JVM's main began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $msg")

  /** Heap in use once collection has settled: Spark frees shuffle and
    * broadcast state asynchronously after a GC finds it unreachable, so
    * a single System.gc() reads high by a varying amount. */
  def heapUsedMb(): Double = {
    def settled(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val xs = ArrayBuffer(settled(), settled())
    while (xs.size < 8 && math.abs(xs.last - xs(xs.size - 2)) > 0.5) xs += settled()
    log(s"heap after gc: ${xs.map(x => f"$x%.1f").mkString(" ")} MB")
    xs.min
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val tracer = new Tracer(args.trace)
    val ctx = new Ctx(args, tracer)
    val wl = Workload(ctx)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

    // set-up, several times: session start, index staging, warm-up op
    val setupSeconds = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until Setups).foreach { _ =>
      if (spark != null) {
        tracer.attach(None)
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = tracer.span("session.start")(GraftSession.getOrCreate())
      tracer.attach(Some(spark.sparkContext))
      wl.stage(spark)
      wl.warmup(spark)
      setupSeconds += (System.nanoTime() - t0) / 1e9
      log(f"set-up ${setupSeconds.size}: ${setupSeconds.last}%.2f s")
    }
    val capture = new ExecCapture
    if (args.trace) spark.sparkContext.addSparkListener(capture)
    wl.check(spark)
    log("outputs checked; timing")

    // the timed window, with a collection before each op, outside its
    // time: one op's garbage is not billed to the next
    val rec = tracer.span("run")(Loop.run(args.seconds, i => {
      System.gc()
      wl.op(spark, i)
    }, wl.quantum))
    val persistedEnd = spark.sparkContext.getPersistentRDDs.size
    val storageMbEnd = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val retainedMb = heapUsedMb()

    log(s"window done: ${rec.attempted} ops")
    rec.settle()
    wl.checkAfter(spark)

    val endToEnd = Seq(
      "setup_s" -> Loop.median(setupSeconds.toSeq),
      "op_p50_s" -> quantileOr(rec.latencies.toSeq, 0.5),
      "op_p90_s" -> quantileOr(rec.latencies.toSeq, 0.9),
      "ops_per_s" -> (if (rec.opSeconds > 0) rec.latencies.size / rec.opSeconds else 0.0),
      "retained_mb" -> retainedMb)
    val extra = Seq(
      "docs_per_s" -> (if (rec.opSeconds > 0) rec.docs / rec.opSeconds else 0.0),
      "error_rate" -> rec.failed.toDouble / rec.attempted)

    val perLayer =
      if (!args.trace) Nil
      else {
        Probes.run(spark, ctx, wl)
        log("probes done")
        org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
        val spansFile = Paths.get(s"${args.work}/spans.jsonl")
        Files.write(spansFile, tracer.toJsonLines.asJava)
        Layers.metrics(tracer, capture, cores) ++ Seq(
          "exec.persisted_rdds_end" -> persistedEnd.toDouble,
          "exec.storage_mb_end" -> storageMbEnd,
          "trace.op_p50_s" -> quantileOr(rec.latencies.toSeq, 0.5))
      }

    val result = Json.obj(Seq(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "errors" -> rec.errors.toSeq,
      "samples" -> rec.latencies.size,
      "latencies_s" -> rec.labels.zip(rec.latencies).map { case (l, s) => Seq(l, s) }.toSeq,
      "setup_samples_s" -> setupSeconds.toSeq,
      "inputs" -> wl.inputs(spark),
      "end_to_end" -> endToEnd.toMap,
      "extra" -> extra.toMap,
      "per_layer" -> perLayer.toMap,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cores" -> cores))
    Files.writeString(Paths.get(args.out), result)
    log(s"done: ${rec.latencies.size} samples, ${rec.failed} failed")
    spark.stop()
  }

  def quantileOr(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else Loop.quantile(xs, q)
}

/** Module probes of a traced run: the layers a workload's own ops do
  * not call are timed here on its corpus, so every traced run reports
  * every per-layer metric. */
object Probes {
  def run(spark: SparkSession, ctx: Ctx, wl: Workload): Unit = ctx.span("probes") {
    // the oldest 1000 documents: probes cost the same on every workload
    val all = spark.read.parquet(s"${wl.corpusDir}/documents.parquet")
    val ids = all.select("doc_id").orderBy("doc_id").limit(1000).collect().map(_.getLong(0))
    val dir = s"${ctx.args.work}/probe_docs"
    all.filter(col("doc_id") <= ids.last).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "dedup_clusters" -> (() => Dedup.dedupClusters(spark, dir)),
      "split_leakage" -> (() => Dedup.splitLeakage(spark, dir)),
      "exact" -> (() => Dedup.exact(spark, dir))).foreach { case (name, call) =>
      ctx.span(name)(Digest.of(call()))
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("text")
    val n = docs.count().toDouble
    def rate(name: String)(f: => Unit): Unit = ctx.span(name) {
      val t0 = System.nanoTime()
      f
      ctx.tracer.note("rows_per_s", n / ((System.nanoTime() - t0) / 1e9))
    }
    val shingles = docs.select(expr("rolling_shingles(text, 8)").as("s")).localCheckpoint()
    (0 until 3).foreach { _ =>
      rate("rolling_shingles")(docs.agg(sum(expr("size(rolling_shingles(text, 8))"))).collect())
      rate("minhash_signature")(shingles.agg(
        sum(expr("size(minhash_signature(s, 32))"))).collect())
      rate("char_entropy")(docs.agg(sum(expr("char_entropy(text)"))).collect())
    }
    shingles.unpersist(blocking = true)
    if (!wl.stagesIndexes) {
      // stage both indexes over the first 900 probe documents, then
      // curate the last 100 as one wave and admit its survivors
      val base = s"${ctx.args.work}/probe_corpus"
      val cut = ids(899)
      all.filter(col("doc_id") <= cut).write.mode("overwrite").parquet(s"$base/documents.parquet")
      CurateWaves.stage(spark, ctx, base, "pb_probe_mh", "pb_probe_cont")
      ctx.span("op_probe")(CurateWaves.curateAndAdmit(spark, ctx, "pb_probe_mh", "pb_probe_cont",
        all.filter(col("doc_id") > cut && col("doc_id") <= ids.last).select("doc_id", "text")))
    }
  }
}

/** Per-layer metrics from spans and the execution capture. Per-op
  * values are medians over the window's ops. */
object Layers {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Loop.median(xs)

  def metrics(tracer: Tracer, capture: ExecCapture, cores: Int): Seq[(String, Double)] = {
    // spans of the timed window; a layer the window's ops never call is
    // read from the set-up and probe spans instead
    val window = tracer.named("run").flatMap(r => tracer.descendants(r.id))
    def pick(name: String): Seq[Span] = {
      val w = window.filter(_.name == name)
      if (w.nonEmpty) w else tracer.named(name)
    }
    def subtree(s: Span): ExecProfile =
      capture.profile((s.id +: tracer.descendants(s.id).map(_.id)).toSet)
    val profiles = window.filter(_.name == "op").map(op => (op, subtree(op)))
    def perOp(f: (Span, ExecProfile) => Double): Double = med(profiles.map { case (s, p) => f(s, p) })
    def secs(name: String): Double = med(pick(name).map(_.seconds))
    def attr(name: String, key: String): Double = med(pick(name).flatMap(_.attrs.get(key)))
    def phase(p: String): Double = attr("action", s"${p}_ms")
    Seq(
      "session.start_s" -> secs("session.start"),
      "sources.index_stage_s" -> secs("index_stage"),
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "exec.jobs_per_op" -> perOp((_, p) => p.jobs),
      "exec.stages_per_op" -> perOp((_, p) => p.stages),
      "exec.tasks_per_op" -> perOp((_, p) => p.tasks.size),
      "exec.no_task_s" -> perOp((s, p) => p.noTaskSeconds(s.startMs, s.endMs)),
      "operators.construct_s" -> secs("construct"),
      "operators.construct_jobs" -> med(pick("construct").map(s => subtree(s).jobs.toDouble)),
      "operators.dedup_clusters_s" -> secs("dedup_clusters"),
      "operators.split_leakage_s" -> secs("split_leakage"),
      "operators.exact_s" -> secs("exact"),
      "exec.task_run_s" -> perOp((_, p) => p.runSeconds),
      "exec.task_cpu_s" -> perOp((_, p) => p.cpuSeconds),
      "exec.gc_s" -> perOp((_, p) => p.gcSeconds),
      "exec.effective_parallelism" -> perOp((s, p) => p.effectiveParallelism(s.endMs - s.startMs, cores)),
      "exec.stage_skew" -> perOp((_, p) => p.stageSkew),
      "sources.scan_bytes" -> perOp((_, p) => p.inputBytes.toDouble),
      "exec.shuffle_read_bytes" -> perOp((_, p) => p.shuffleReadBytes.toDouble),
      "exec.shuffle_write_bytes" -> perOp((_, p) => p.shuffleWriteBytes.toDouble),
      "exec.spill_bytes" -> perOp((_, p) => p.spillBytes.toDouble),
      "functions.rolling_shingles_rows_per_s" -> attr("rolling_shingles", "rows_per_s"),
      "functions.minhash_signature_rows_per_s" -> attr("minhash_signature", "rows_per_s"),
      "functions.char_entropy_rows_per_s" -> attr("char_entropy", "rows_per_s"),
      "operators.curate_increment_s" -> secs("curate_increment"),
      "sources.append_s" -> secs("append"),
      "sources.index_files" -> med(
        (window.filter(_.name == "op") ++ tracer.named("op_probe")).flatMap(_.attrs.get("index_files"))),
      "sources.bytes_written" -> med(pick("append").map(s => subtree(s).outputBytes.toDouble)))
  }
}
