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

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
