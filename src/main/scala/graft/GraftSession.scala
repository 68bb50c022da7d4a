package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local testing runs `local[N]`; on a real cluster the same confs apply
  * (AQE re-plans shuffles at runtime, skew-join splitting handles hot
  * keys, UTC keeps timestamp semantics engine-independent). Shuffle
  * partitions default to the local core count; a cluster deployment
  * overrides via `--conf` and AQE coalesces from there.
  */
object GraftSession {
  /** Where managed tables (bucketed adjacency/index layouts, staged
    * indexes) land: tmp, not a ./spark-warehouse directory next to the
    * driver. [[builder]], `Bench` and `Verify` all set it. */
  val WarehouseDir = s"${System.getProperty("java.io.tmpdir")}/graft-warehouse"

  /** Entries of Spark's codegen class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    * The cache is keyed on generated source, so a query that finds its
    * stages' classes there neither recompiles them (about 6 ms a class)
    * nor runs them as fresh, JIT-cold code. graft's interactive working
    * set outgrows the default: one rotation of the 13 CLIF status keys
    * compiles 150–250 classes and `Pipeline.curateCorpus` about 25 per
    * call, so at 100 entries every key evicts what the next one needs
    * and a rotation recompiles its stages on every pass. At 250 entries
    * and above the second pass compiles nothing; 2048 leaves room for
    * the dedup and pipeline keys beside them. Each cached class holds
    * its source and bytecode: at this size the settled heap of a
    * long-lived session grew by about 1.5 MB on the CLIF rotation and
    * 3.5 MB on repeated curation.
    *
    * The cache is a static conf with one instance per JVM: it is sized
    * from the SQL conf in effect on the thread that first touches
    * Spark's code generator, and a later session's setting has no
    * effect. */
  val CodegenCacheEntries = 2048

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime row-level filtering: build a bloom filter from the
      // selective side of a big join and push it into the other side's
      // scan — a no-op locally, a large-join win on a cluster
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", WarehouseDir)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
