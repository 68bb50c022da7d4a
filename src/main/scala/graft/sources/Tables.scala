package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Named-table loaders over a scale-factor directory of parquet files.
  *
  * Catalyst owns column pruning and filter pushdown — callers `select`
  * only what they need and the scan's ReadSchema shrinks accordingly. At
  * cluster scale the same code path reads a partitioned table directory;
  * nothing here assumes local mode.
  *
  * Inferring a Parquet schema runs a Spark job over the footers, so
  * `load` resolves each table's schema once per input fingerprint and
  * reads with it after that, which launches no job. The fingerprint is the
  * path, the sorted (file, length, mtime) of every file under it, and the
  * session's values of the confs that change inference. Rewriting any file
  * under the path, or changing one of those confs, gives a new key, so a
  * stale schema is never served. A missing path, an empty directory or a
  * non-parquet file raises what `spark.read.parquet` raises, and a failed
  * inference is never cached.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Confs whose values change the schema Parquet inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class SchemaKey(
    path: String, files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  /** Resolved schemas kept, least recently used evicted first: one JVM
    * (a test run, a long-lived session) can load hundreds of temp tables. */
  private[graft] val SchemaCacheCap = 512
  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
        size() > SchemaCacheCap
    }

  private[graft] def cachedSchemaCount: Int = schemas.synchronized(schemas.size)

  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    // list before inferring: a rewrite racing this load can at worst file
    // the new schema under the replaced files' key, which no later
    // listing produces
    val key = fingerprint(spark, path)
    key.flatMap(k => schemas.synchronized(Option(schemas.get(k)))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        // never infer under the lock: pipeline branches load from pools
        val df = spark.read.parquet(path)
        key.foreach(k => schemas.synchronized(schemas.put(k, df.schema)))
        df
    }
  }

  /** None when nothing is at `path`; the read then raises Spark's own
    * PATH_NOT_FOUND instead of Hadoop's FileNotFoundException. Plain
    * `listStatus`, not `listFiles`: a located status makes the local file
    * system fork a shell per file for its permissions. */
  private def fingerprint(spark: SparkSession, path: String): Option[SchemaKey] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) leaves(f.getPath) else Seq(f)
      }
      val files = leaves(p).map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      Some(SchemaKey(path, files.sorted, inferenceConfs.map(spark.conf.getOption)))
    } catch { case _: FileNotFoundException => None }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in one of two physical shapes depending on how
    * the dataset was generated: parquet TIMESTAMP(NANOS) — which Spark's
    * TimestampType (µs) cannot hold, so it's read as raw long under the
    * legacy conf and floor-converted (the same truncation DuckDB applies
    * casting TIMESTAMP_NS → TIMESTAMP) — or plain TIMESTAMP(MICROS)
    * (read as NTZ). Both normalize to session-zoned TimestampType; all
    * entry points pin the session to UTC, so downstream values are
    * identical either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer div, not `/` — double division loses µs precision at
        // nanosecond-epoch magnitude (≈1.7e18 > 2^53)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // fail fast at the loader: a third physical shape (INT96,
        // string, …) from a future testdata regeneration must not
        // propagate into every downstream operator as confusing
        // type errors far from the cause
        sys.error(s"events.ts: unexpected physical type $other — " +
          "expected TIMESTAMP(NANOS) (long under legacy conf), " +
          "TIMESTAMP(MICROS) (NTZ), or session-zoned TimestampType")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
