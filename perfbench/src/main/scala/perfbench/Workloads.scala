package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Dedup, Pipeline}

/** What every workload shares: its arguments, the tracer, and the
  * action that turns a result into a digest. */
final class Ctx(val args: Args, val tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Note the action's planning phases (analysis, optimization,
    * planning) from its QueryExecution tracker on the current span. */
  def notePhases(df: DataFrame): Unit =
    if (tracer.enabled) {
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        tracer.note(s"${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }

  /** The op's action: collect the result's digest. */
  def action(df: DataFrame): Digest = span("action") {
    val f = Digest.frame(df)
    val d = Digest.collect(f)
    notePhases(f)
    d
  }

  /** Data files (not metadata) under the warehouse tables of an index. */
  def indexFiles(spark: SparkSession, index: String): Long = {
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
    Option(wh.listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(index))
      .flatMap(files)
      .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
  }
}

/** One benchmark workload. A run calls `stage` and `warmup` once per
  * set-up (they count in `setup_s`), `check` once before the window,
  * `op(i)` for i = 0, 1, ... until the window closes, then `checkAfter`. */
abstract class Workload(val ctx: Ctx) {
  def stage(spark: SparkSession): Unit = ()
  def warmup(spark: SparkSession): Unit
  def check(spark: SparkSession): Unit = ()
  /** Checks that need the window's ops to have run (after `settle`). */
  def checkAfter(spark: SparkSession): Unit = ()
  /** Whether the workload's own ops stage and append to indexes. */
  def stagesIndexes: Boolean = false
  def op(spark: SparkSession, i: Int): Option[Op]
  /** The window ends on a multiple of this many ops. */
  def quantum: Int = 1
  /** Input sizes, recorded with every result. */
  def inputs(spark: SparkSession): Map[String, Any]
  /** The documents the module probes of a traced run read. */
  def corpusDir: String
}

object Workload {
  val names: Seq[String] = Seq("clif_dashboard", "corpus_curate", "curate_waves")

  def apply(ctx: Ctx): Workload = ctx.args.workload match {
    case "clif_dashboard" => new ClifDashboard(ctx)
    case "corpus_curate" => new CorpusCurate(ctx)
    case "curate_waves" => new CurateWaves(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def docCount(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/documents.parquet").count()
}

/** The 13 CLIF coordination keys (paper §2a), in a seeded order per
  * pass, one query per op. */
final class ClifDashboard(ctx: Ctx) extends Workload(ctx) {
  val keys: IndexedSeq[String] = IndexedSeq(
    "q_meta_extract", "q_meta_typed", "q_meta_yaml", "q_status_pivot",
    "q_status_matrix", "q_poc_registry", "q_latest_status",
    "q_incomplete_sites", "q_mention_rollup", "q_category_values",
    "q_category_append", "q_completion_rate", "q_federated_union")
  private val dir = ctx.args.data
  private val refs = mutable.Map.empty[String, Digest]
  private val orders = mutable.Map.empty[Int, IndexedSeq[String]]

  def corpusDir: String = dir

  /** Two whole passes: every run times each key equally often, twice. */
  override def quantum: Int = 2 * keys.size

  private def order(pass: Int): IndexedSeq[String] =
    orders.getOrElseUpdate(pass, new Random(ctx.args.seed * 1000003L + pass).shuffle(keys))

  private def runKey(spark: SparkSession, key: String): Digest = ctx.span("op") {
    val df = ctx.span("construct")(SparkEntry.queries(key)(spark, dir))
    ctx.action(df)
  }

  /** Always the same key, so set-up time does not depend on the seed. */
  def warmup(spark: SparkSession): Unit = runKey(spark, keys.head)

  /** Write each key's first result, compare it with the key's DuckDB
    * oracle, and keep its digest as the reference every timed op must
    * reproduce. */
  override def check(spark: SparkSession): Unit = {
    val out = s"${ctx.args.work}/results"
    // each key's first run in the JVM is mostly driver-side code
    // generation; four at a time keep this untimed step short
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val digests = keys.map { k =>
        pool.submit(() => {
          SparkEntry.queries(k)(spark, dir).write.mode("overwrite").parquet(s"$out/$k")
          Digest.of(spark.read.parquet(s"$out/$k"))
        })
      }
      keys.zip(digests).foreach { case (k, f) => refs(k) = f.get() }
    } finally pool.shutdown()
    val sql = keys.map(k => k -> SparkEntry.oracleSql(k)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.value(sql))
    Oracle.check(ctx.args, dir, out)
  }

  def op(spark: SparkSession, i: Int): Option[Op] = {
    val key = order(i / keys.size)(i % keys.size)
    Some(Op(key, 0L, () => runKey(spark, key), () => refs(key)))
  }

  def inputs(spark: SparkSession): Map[String, Any] =
    Seq("documents", "orders", "customer", "events", "part").map { t =>
      s"${t}_rows" -> spark.read.parquet(s"$dir/$t.parquet").count()
    }.toMap ++ Map("keys" -> keys.size)
}

/** `Pipeline.curateCorpus` over the whole corpus, one call per op. */
final class CorpusCurate(ctx: Ctx) extends Workload(ctx) {
  private val dir = ctx.args.data
  private val warm = mutable.ArrayBuffer.empty[Digest]
  private var nDocs = 0L

  def corpusDir: String = dir

  /** Three curations per window. */
  override def quantum: Int = 3

  private def curate(spark: SparkSession): Digest = ctx.span("op") {
    val df = ctx.span("construct")(Pipeline.curateCorpus(spark, dir))
    ctx.action(df)
  }

  def warmup(spark: SparkSession): Unit = warm += curate(spark)

  /** Every set-up must have produced the same result, and that result
    * must hold the pipeline's invariants: unique ids, gates applied,
    * valid splits, and no two survivors with the same normalized text. */
  override def check(spark: SparkSession): Unit = {
    require(warm.distinct.size == 1, s"set-ups disagree: ${warm.mkString("; ")}")
    nDocs = Workload.docCount(spark, dir)
    val res = Pipeline.curateCorpus(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the normalized-text digest exact dedup keys on
    val dg = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    val r = res.join(docs.select(col("doc_id"), dg.as("dg")), Seq("doc_id"))
      .agg(count(lit(1)), countDistinct(col("doc_id")), countDistinct(col("dg")),
        sum(when(col("quality") < 0.3 || col("lang_pred") === "und" ||
          !col("split").isin("train", "val", "test"), 1).otherwise(0)))
      .head
    val (rows, ids, texts, bad) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    require(rows > 0 && rows < nDocs, s"curated $rows of $nDocs docs")
    require(ids == rows && texts == rows, s"$rows rows, $ids ids, $texts distinct texts")
    require(bad == 0, s"$bad rows fail a gate or carry an unknown split")
  }

  def op(spark: SparkSession, i: Int): Option[Op] =
    Some(Op("curateCorpus", nDocs, () => curate(spark), () => warm.head))

  def inputs(spark: SparkSession): Map[String, Any] =
    Map("docs" -> Workload.docCount(spark, dir))
}

/** Curate-and-admit waves: each op curates one arriving wave against the
  * persisted corpus indexes (`Pipeline.curateIncrement`) and appends the
  * survivors to both indexes, so every wave probes larger indexes. */
final class CurateWaves(ctx: Ctx) extends Workload(ctx) {
  private val corpus = s"${ctx.args.data}/corpus"
  private val wavesPath = s"${ctx.args.data}/waves/documents.parquet"
  private var mh = ""
  private var cont = ""
  private var stages = 0
  private var nWaves = 0
  private var waveDocs = 0L
  private val results = mutable.Map.empty[Int, Digest]
  private val refs = mutable.Map.empty[Int, Digest]
  private val refSurvivors = mutable.ArrayBuffer.empty[Long]

  def corpusDir: String = corpus

  private def wave(spark: SparkSession, k: Int): DataFrame =
    spark.read.parquet(wavesPath).filter(col("wave") === k).select("doc_id", "text")

  override def stage(spark: SparkSession): Unit = {
    stages += 1
    mh = s"pb_mh_$stages"
    cont = s"pb_cont_$stages"
    CurateWaves.stage(spark, ctx, corpus, mh, cont)
    nWaves = spark.read.parquet(wavesPath).agg(max(col("wave"))).head.getInt(0) + 1
    waveDocs = wave(spark, 0).count()
  }

  private def curateAndAdmit(spark: SparkSession, k: Int): Digest = ctx.span("op") {
    Digest.ofRows(CurateWaves.curateAndAdmit(spark, ctx, mh, cont, wave(spark, k)))
  }

  def warmup(spark: SparkSession): Unit = results(0) = curateAndAdmit(spark, 0)

  /** The parity law of incremental curation: curating wave k against
    * indexes over the admitted set A equals the full `curateCorpus` over
    * A ∪ wave k, restricted to wave k (ids of A are all below the wave's).
    * References are built in wave order from full rebuilds alone, so
    * they never read the indexes under test. */
  private def reference(spark: SparkSession, k: Int): Digest = refs.getOrElseUpdate(k, {
    (0 until k).foreach(reference(spark, _))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars").map(col)
    val waves = spark.read.parquet(wavesPath)
    val admitted = spark.read.parquet(s"$corpus/documents.parquet").select(cols: _*)
      .unionByName(waves.filter(col("doc_id").isin(refSurvivors.toSeq: _*)).select(cols: _*))
      .unionByName(waves.filter(col("wave") === k).select(cols: _*))
    val dir = s"${ctx.args.work}/reference/wave_$k"
    admitted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ids = wave(spark, k).select("doc_id")
    val rows = Pipeline.curateCorpus(spark, dir).join(ids, Seq("doc_id"), "left_semi")
      .orderBy("doc_id").collect().toSeq
    refSurvivors ++= rows.map(_.getLong(0))
    Digest.ofRows(rows)
  })

  def op(spark: SparkSession, i: Int): Option[Op] = {
    val k = i + 1
    if (k >= nWaves) None
    else Some(Op(s"wave_$k", waveDocs, () => {
      val d = curateAndAdmit(spark, k)
      results(k) = d
      d
    }, () => reference(spark, k)))
  }

  override def stagesIndexes: Boolean = true

  /** The warm-up wave is checked like a timed one, after the window. */
  override def checkAfter(spark: SparkSession): Unit = {
    val want = reference(spark, 0)
    require(results(0) == want, s"warm-up wave: digest ${results(0)} != expected $want")
  }

  def inputs(spark: SparkSession): Map[String, Any] = {
    val w = spark.read.parquet(wavesPath)
    Map("corpus_docs" -> Workload.docCount(spark, corpus),
      "wave_docs" -> waveDocs,
      "waves" -> nWaves)
  }
}

object CurateWaves {
  /** Build the minhash and containment indexes over `dir`'s documents. */
  def stage(spark: SparkSession, ctx: Ctx, dir: String, mh: String, cont: String): Unit =
    ctx.span("index_stage") {
      Dedup.buildMinhashIndex(spark, dir, mh)
      Dedup.buildContainmentIndex(spark, dir, cont)
    }

  /** Curate one wave against the indexes, admit its survivors into both,
    * and return the curated rows. */
  def curateAndAdmit(spark: SparkSession, ctx: Ctx, mh: String, cont: String,
      batch: DataFrame): Seq[Row] = {
    if (ctx.tracer.enabled) {
      ctx.tracer.note("index_files",
        (ctx.indexFiles(spark, mh) + ctx.indexFiles(spark, cont)).toDouble)
    }
    val rows = ctx.span("curate_increment") {
      val df = ctx.span("construct")(Pipeline.curateIncrement(spark, mh, cont, batch))
      ctx.span("action") {
        val rs = df.collect().toSeq
        ctx.notePhases(df)
        rs
      }
    }
    val ids = rows.map(_.getLong(0))
    ctx.span("append") {
      val survivors = batch.filter(col("doc_id").isin(ids: _*))
      Dedup.appendToMinhashIndex(spark, mh, survivors)
      Dedup.appendToContainmentIndex(spark, cont, survivors)
    }
    rows
  }
}
