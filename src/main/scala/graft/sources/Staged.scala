package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped staging of persisted indexes, the untimed build half of
  * a query face's build/probe split. An entry is keyed by
  * `(applicationId, kind, dir)` and keeps the [[Tables.listing]] of each
  * `dir/<table>.parquet` its build read. A call that lists differently
  * builds again under a fresh `<kind>_<uuid>` prefix, replaces the entry
  * and drops the old prefix at once ([[FormatIO.dropIndex]]): a rewritten
  * input never serves a stale index, and a DataFrame still reading the
  * old prefix fails — call the face again. Concurrent callers of one key
  * build it once; a failed build drops what it wrote. At application end
  * one listener per SparkContext deletes that application's staged dirs
  * through the file system (the catalog is stopping). */
object Staged {
  private type Listing = Seq[Option[Seq[(String, Long, Long)]]]
  /** (input listing, prefix, value) of the last build, if any. */
  private final class Entry { var built: Option[(Listing, String, Any)] = None }
  private val entries =
    scala.collection.mutable.HashMap.empty[(String, String, String), Entry]
  private val listening = scala.collection.mutable.HashSet.empty[String]

  /** The prefix and the value of the `build` that staged the current
    * contents of `tables` under `dir`; `build` names every table it
    * writes with the prefix it is given. */
  def apply[A](spark: SparkSession, kind: String, dir: String,
      tables: Seq[String])(build: String => A): (String, A) = {
    val sc = spark.sparkContext
    val app = sc.applicationId
    val e = entries.synchronized {
      if (listening.add(app)) {
        val warehouse = new Path(spark.sessionState.conf.warehousePath)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            release(app, warehouse, sc.hadoopConfiguration)
        })
      }
      entries.getOrElseUpdate((app, kind, dir), new Entry)
    }
    // hits list outside the lock; a miss lists again under it, as another
    // caller may have rebuilt from a newer listing meanwhile
    def list(): Listing = tables.map(t => Tables.listing(spark, s"$dir/$t.parquet"))
    val seen = list()
    e.synchronized {
      val listing = if (e.built.exists(_._1 == seen)) seen else list()
      if (!e.built.exists(_._1 == listing)) {
        val prefix = s"${kind}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val value = try build(prefix) catch {
          case t: Throwable => FormatIO.dropIndex(spark, prefix); throw t
        }
        val old = e.built
        e.built = Some((listing, prefix, value))
        old.foreach(b => FormatIO.dropIndex(spark, b._2))
      }
      e.built.map(b => (b._2, b._3.asInstanceOf[A])).get
    }
  }

  /** Forget application `app`'s entries and delete their dirs under
    * `warehouse` — what the application-end listener runs. */
  private[graft] def release(app: String, warehouse: Path,
      conf: Configuration): Unit =
    entries.synchronized {
      entries.keys.filter(_._1 == app).toList.flatMap(entries.remove)
    }.foreach(e => e.synchronized(
      e.built.foreach(b => FormatIO.deleteIndexDirs(warehouse, conf, b._2))))
}
