package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Multi-format source/sink layer. Everything flows through Spark's
  * DataSource V2 readers/writers, so predicate pushdown, column pruning
  * and partition discovery come for free where the format supports them
  * (parquet/orc); csv/json get schema enforcement instead of inference
  * at scale (an inference pass over 100 TB is a full extra read).
  */
object FormatIO {

  /** Read with explicit schema where the format needs one. Partitioned
    * directory layouts (col=value/) are discovered automatically. */
  def read(spark: SparkSession, format: String, path: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(r.schema).load(path)
  }

  /** Write partitioned-by columns; the layout prunes at read time.
    * `maxRecordsPerFile` bounds file sizes independent of partition
    * count — the knob that keeps 100 TB outputs splittable. */
  def write(df: DataFrame, format: String, path: String,
      partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite,
      maxRecordsPerFile: Long = 0L,
      options: Map[String, String] = Map.empty): Unit = {
    var w = df.write.format(format).mode(mode).options(options)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    if (maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
    w.save(path)
  }

  /** Z-ordered write: range-partition + sort by the Morton code of two
    * key columns so each output file covers a tight 2-D tile — both
    * columns then prune at file/row-group level. `nFiles` bounds output
    * file count. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int = 8): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.functions.HashExpressions.zorder2
    df.withColumn("_z", zorder2(col(colA).cast("long"), col(colB).cast("long")))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed save-as-table: co-locates both sides of a recurring join
    * key so the join becomes shuffle-free (requires a metastore-backed
    * table — the cluster path; tested via saveAsTable on local). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCol: Option[String] = None): Unit = {
    var w = df.write.format("parquet").mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
    sortCol.foreach(c => w = w.sortBy(c))
    w.saveAsTable(table)
  }

  /** The bucket spec of an existing bucketed table, read from the
    * catalog — [[appendBucketed]] and [[compactBucketedTable]] derive
    * the layout from the table itself, so a caller can never mismatch
    * the bucket count or key and silently break the co-location the
    * index probes rely on. */
  private def bucketSpecOf(spark: SparkSession, table: String)
      : org.apache.spark.sql.catalyst.catalog.BucketSpec = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table carries no bucket spec — appendBucketed/compactBucketedTable " +
        "exist to preserve a bucketed layout; use plain append/compact " +
        "for unbucketed tables"))
  }

  /** DELTA APPEND into an existing bucketed table, preserving its
    * layout. Bucket ids come from the same Murmur3-pmod hash as shuffle
    * HashPartitioning, so appended rows land in the SAME logical bucket
    * as a full rebuild would place them — probes keep reading the index
    * side co-located, and maintenance cost becomes O(batch) instead of
    * the O(corpus) full rebuild. The pre-write `repartition` onto the
    * bucket key bounds the small-file accretion to ≤ nBuckets files per
    * append wave (each task then holds exactly one bucket); periodic
    * [[compactBucketedTable]] folds the waves back to one file per
    * bucket. */
  def appendBucketed(spark: SparkSession, df: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val spec = bucketSpecOf(spark, table)
    var w = df.repartition(spec.numBuckets, col(spec.bucketColumnNames.head))
      .write.format("parquet").mode(SaveMode.Append)
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    if (spec.sortColumnNames.nonEmpty)
      w = w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    w.saveAsTable(table)
    // the write runs through df's OWN session (inside foreachBatch
    // that is the streaming clone), whose saveAsTable invalidates only
    // the clone's relation cache — refresh the caller's session too,
    // or its next probe reads the pre-append file list
    spark.catalog.refreshTable(table)
  }

  case class TableCompactStats(filesBefore: Long, filesAfter: Long)

  /** Bucket-PRESERVING compaction for an appended-to bucketed table —
    * the maintenance half of [[appendBucketed]]. [[compact]]'s
    * round-robin rewrite would destroy the bucket layout (and with it
    * every probe's shuffle-freedom), so this rewrites through the SAME
    * bucket spec: one shuffle onto the bucket key (one task per bucket
    * → one file per bucket), staged as `<table>_compact_tmp`, then
    * promoted by a catalog drop + rename. A crash between the drop and
    * the rename self-heals on the next call (the staged table is
    * complete before the live one is dropped). Same single-writer
    * maintenance-window contract as [[compact]]: run with appends to
    * this table quiesced. */
  def compactBucketedTable(spark: SparkSession, table: String): TableCompactStats =
    rewriteBucketedTable(spark, table, identity)

  /** Drop rows of generations strictly BEFORE index `name`'s current
    * rebase cut from bucketed segment `table` — space reclamation after
    * a retrain ([[rebaseEpochOf]]): pre-rebase rows are invisible to
    * every probe pinned at or after the rebase commit, so once no
    * reader still holds an older pin they are pure garbage. Doubles as
    * a compaction; same single-writer window as
    * [[compactBucketedTable]]. */
  def purgeStaleGenerations(spark: SparkSession, name: String,
      table: String): TableCompactStats = {
    import org.apache.spark.sql.functions.col
    val rebase = rebaseEpochOf(spark, name, committedEpoch(spark, name))
    rewriteBucketedTable(spark, table,
      df => df.filter(col("epoch") >= rebase))
  }

  private def rewriteBucketedTable(spark: SparkSession, table: String,
      xform: DataFrame => DataFrame): TableCompactStats = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.functions.col
    val cat = spark.sessionState.catalog
    val tmp = table + "_compact_tmp"
    // self-heal an interrupted promotion: live dropped, staging complete
    if (!cat.tableExists(TableIdentifier(table))
        && cat.tableExists(TableIdentifier(tmp)))
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    val spec = bucketSpecOf(spark, table)
    val before = spark.table(table).inputFiles.length.toLong
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // read the RAW parquet files, not the catalog table: a catalog scan
    // advertises the bucket layout, which lets the planner elide the
    // repartition below — but the multi-file-per-bucket read it elides
    // it FOR does not put each bucket in its own task, so the rewrite
    // would re-emit one file per (task, bucket) instead of folding to
    // one per bucket. A raw scan has unknown partitioning, the shuffle
    // stays, and task i == bucket i (same Murmur3-pmod hash).
    val live = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    var w = xform(spark.read.schema(spark.table(table).schema)
        .parquet(live.location.toString))
      .repartition(spec.numBuckets, col(spec.bucketColumnNames.head))
      .write.format("parquet").mode(SaveMode.Overwrite)
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    if (spec.sortColumnNames.nonEmpty)
      w = w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    w.saveAsTable(tmp)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    TableCompactStats(before, spark.table(table).inputFiles.length.toLong)
  }

  case class CompactStats(filesBefore: Long, bytesBefore: Long,
      filesAfter: Long, bytesAfter: Long)

  /** Per-file row counts of a parquet directory — the small-file
    * diagnostic that decides whether [[compact]] is worth a rewrite.
    * One aggregation keyed on `input_file_name()`; no footer round
    * trips on the driver. */
  def fileStats(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("file"))
  }

  /** SMALL-FILE COMPACTION — the table-maintenance pass every
    * long-lived ingest target needs (streaming sinks and per-batch
    * appends accrete thousands of KB-sized files; at 100 TB the
    * listing alone becomes a scheduler stall and each task reads one
    * tiny footer). Rewrites the directory into
    * ceil(bytes / targetBytes) files via a staging + rename swap — the
    * same crash-safe promotion protocol as the streaming upsert sink
    * (a complete copy exists on disk at every instant; an interrupted
    * swap self-heals on the next pass; a partial staging write is
    * discarded because the rewrite always starts fresh). Returns
    * before/after file and byte counts so callers can assert the
    * rewrite paid for itself.
    *
    * `repartition(n)` (round-robin, no key) is deliberate: compaction
    * must balance BYTES across output files, and any keyed layout
    * worth preserving belongs to [[writeZOrdered]]/[[writeBucketed]],
    * not an unkeyed maintenance pass.
    *
    * SINGLE-WRITER MAINTENANCE WINDOW — stated contract, not an
    * accident: the swap leaves the live path absent for the instant
    * between the retire and promote renames (a concurrent reader can
    * hit FileNotFound and should retry), and rows appended by a
    * concurrent WRITER after the snapshot read would be dropped by the
    * overwrite. Run compaction like every table-maintenance pass: with
    * ingest to this path quiesced. A `<path>.compact-lock` marker makes
    * a second concurrent compact fail loudly instead of corrupting the
    * swap; a crashed run leaves the marker behind, and the loud failure
    * names it so the operator deletes it after confirming no compactor
    * is alive (preferable to silently stealing a possibly-live lock). */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactStats = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(path + ".compact-lock")
    val lockStream = try fs.create(lock, false) catch {
      case _: java.io.IOException => throw new IllegalStateException(
        s"compact($path): lock file $lock exists — another compaction " +
          "is running (or crashed without cleanup); compaction is " +
          "single-writer. Delete the lock only after confirming no " +
          "compactor is alive.")
    }
    lockStream.close()
    try compactLocked(spark, path, targetBytes, fs, hPath)
    finally fs.delete(lock, false)
  }

  private def compactLocked(spark: SparkSession, path: String,
      targetBytes: Long, fs: org.apache.hadoop.fs.FileSystem,
      hPath: org.apache.hadoop.fs.Path): CompactStats = {
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).toIndexedSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
    val staging = new org.apache.hadoop.fs.Path(path + ".compact-staging")
    val backup = new org.apache.hadoop.fs.Path(path + ".compact-backup")
    // finish an interrupted promotion first: a missing live dir with a
    // complete backup means the previous pass died mid-swap
    if (!fs.exists(hPath) && fs.exists(backup)) {
      require(fs.rename(backup, hPath), s"could not restore $backup")
    }
    if (fs.exists(staging)) fs.delete(staging, true)
    // a partitioned layout (col=value/ subdirs) must not be silently
    // flattened into one dir — that would destroy the partition
    // pruning the layout exists for; compact partitioned tables one
    // leaf directory at a time
    val subdirs = fs.listStatus(hPath).filter(_.isDirectory)
      .map(_.getPath.getName)
    require(subdirs.isEmpty,
      s"compact($path): directory contains subdirectories " +
        s"(${subdirs.take(3).mkString(", ")}…) — a partitioned layout " +
        "would be flattened; compact each leaf partition directory instead")
    val before = dataFiles(hPath)
    val bytesBefore = before.map(_.getLen).sum
    val nOut = math.max(1L, (bytesBefore + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(path)
      .repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // swap: live -> backup, staging -> live, drop backup
    if (fs.exists(backup)) fs.delete(backup, true)
    require(fs.rename(hPath, backup), s"could not retire $path")
    require(fs.rename(staging, hPath), s"could not promote $staging")
    fs.delete(backup, true)
    val after = dataFiles(hPath)
    CompactStats(before.length.toLong, bytesBefore,
      after.length.toLong, after.map(_.getLen).sum)
  }

  /** Raw-file ingest via the `binaryFile` source — the front door for
    * multimodal payloads (images/audio/video land as files, not rows).
    * Yields (path, modificationTime, length, content) with the payload
    * as an opaque binary column, ready for
    * `Multimodal`'s batched decode stages. `maxBytes` guards the
    * executor: binaryFile loads each file whole into one row, so a
    * stray multi-GB object must be filtered BEFORE the content is
    * materialized — the length predicate pushes down to the file
    * listing (filesystem metadata), not a content read. `glob` prunes
    * by name pattern the same way. */
  def readBinaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None,
      maxBytes: Long = 512L * 1024 * 1024,
      recursive: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.col
    var r = spark.read.format("binaryFile")
      .option("recursiveFileLookup", recursive.toString)
    glob.foreach(g => r = r.option("pathGlobFilter", g))
    r.load(path).filter(col("length") <= maxBytes)
  }

  // ---------------------------------------------------------------
  // SNAPSHOT MANIFESTS: atomic multi-file commits + pinned reads.
  // ---------------------------------------------------------------

  /** The minimal lakehouse commit protocol (the Iceberg/Delta idea with
    * no external dependency): a snapshot table is `<path>/data/` full
    * of immutable parquet file sets plus `<path>/_manifests/v<N>` text
    * files, each listing exactly the data files of one VERSION. A
    * write stages its parquet files first and PROMOTES them with one
    * atomic manifest rename — readers either see the old complete
    * version or the new complete one, never a partial directory (the
    * failure plain `spark.read.parquet(dir)` has at 100 TB, where a
    * multi-minute multi-file write is always mid-flight somewhere). A
    * crashed write leaves orphan data files and NO manifest: invisible
    * by construction, reclaimed by [[vacuumSnapshots]]. Same
    * single-writer maintenance window as [[compact]] (concurrent
    * writers race the version number and the second rename fails
    * loudly). Old versions stay readable (time travel / reproducible
    * training-run pins) until vacuumed. */
  def writeSnapshot(spark: SparkSession, df: DataFrame,
      tablePath: String): Long =
    commitSnapshot(spark, df, tablePath, carryPrevious = false)

  /** APPEND commit: next version = previous version's files + the new
    * batch's files. O(batch) data written; the manifest copy is file-
    * list-sized, not data-sized. */
  def appendSnapshot(spark: SparkSession, df: DataFrame,
      tablePath: String): Long =
    commitSnapshot(spark, df, tablePath, carryPrevious = true)

  private def commitSnapshot(spark: SparkSession, df: DataFrame,
      tablePath: String, carryPrevious: Boolean): Long = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(tablePath,
      s"data/${java.util.UUID.randomUUID().toString}")
    df.write.parquet(dataDir.toString)
    val newFiles = fs.listStatus(dataDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(st => s"data/${dataDir.getName}/${st.getPath.getName}")
      .sorted
    val prev =
      if (carryPrevious) snapshotVersions(spark, tablePath).lastOption
        .map(v => manifestFiles(fs, tablePath, v)).getOrElse(Nil)
      else Nil
    val version = snapshotVersions(spark, tablePath).lastOption
      .getOrElse(0L) + 1L
    val mDir = new org.apache.hadoop.fs.Path(tablePath, "_manifests")
    fs.mkdirs(mDir)
    val tmp = new org.apache.hadoop.fs.Path(mDir, s".v$version.tmp")
    val out = fs.create(tmp, true)
    out.write((prev ++ newFiles).mkString("\n").getBytes("UTF-8"))
    out.close()
    val dest = new org.apache.hadoop.fs.Path(mDir, s"v$version")
    if (fs.exists(dest) || !fs.rename(tmp, dest))
      throw new IllegalStateException(
        s"snapshot commit v$version lost the promotion race at " +
          s"$tablePath - snapshot tables are single-writer per " +
          "maintenance window, like compact()")
    version
  }

  private def manifestFiles(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, version: Long): Seq[String] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(tablePath,
      s"_manifests/v$version"))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Committed versions, ascending. */
  def snapshotVersions(spark: SparkSession, tablePath: String)
      : Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mDir = new org.apache.hadoop.fs.Path(tablePath, "_manifests")
    if (!fs.exists(mDir)) Nil
    else fs.listStatus(mDir).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted
  }

  /** Read one pinned version (default: latest). The scan is exactly
    * the manifest's file list, so a concurrent commit cannot change
    * what this reader sees mid-query. */
  def readSnapshot(spark: SparkSession, tablePath: String,
      version: Option[Long] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = snapshotVersions(spark, tablePath)
    require(versions.nonEmpty, s"no committed snapshot at $tablePath")
    val v = version.getOrElse(versions.last)
    require(versions.contains(v),
      s"snapshot v$v not present at $tablePath (have: $versions)")
    val files = manifestFiles(fs, tablePath, v)
      .map(rel => new org.apache.hadoop.fs.Path(tablePath, rel).toString)
    spark.read.parquet(files: _*)
  }

  /** Reclaim space: keep the last `keepLast` versions, delete older
    * manifests and every data file no kept version references —
    * including orphans from crashed writes (data files with no
    * manifest at all). Returns the number of data files deleted. */
  def vacuumSnapshots(spark: SparkSession, tablePath: String,
      keepLast: Int = 2): Long = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = snapshotVersions(spark, tablePath)
    val kept = versions.takeRight(keepLast)
    val referenced = kept.flatMap(v => manifestFiles(fs, tablePath, v))
      .toSet
    versions.dropRight(keepLast).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(tablePath,
        s"_manifests/v$v"), false)
    }
    val dataRoot = new org.apache.hadoop.fs.Path(tablePath, "data")
    var deleted = 0L
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot).foreach { dir =>
      fs.listStatus(dir.getPath).foreach { st =>
        val rel = s"data/${dir.getPath.getName}/${st.getPath.getName}"
        if (st.isFile && st.getPath.getName.startsWith("part-") &&
            !referenced(rel)) {
          fs.delete(st.getPath, false); deleted += 1L
        }
      }
      if (fs.listStatus(dir.getPath)
          .forall(st => !st.getPath.getName.startsWith("part-")))
        fs.delete(dir.getPath, true)
    }
    deleted
  }

  // ---------------------------------------------------------------
  // INDEX EPOCHS: pinned multi-TABLE reads under index maintenance.
  // ---------------------------------------------------------------
  // The snapshot manifests above give single-TABLE atomicity; a
  // persisted index is several tables (postings + sets + df + lens +
  // stats + tombstones) that must move together — an append that has
  // written its postings but not yet its df segment would otherwise
  // show a probe a torn pair. The protocol here is the classic
  // epoch/watermark commit, kept deliberately small:
  //
  //   * every segment ROW carries an `epoch` BIGINT (build writes 0);
  //   * a maintenance wave stages at epoch E = committed + 1 (a
  //     `staged-E` write-ahead marker records the intent), writes all
  //     its segment rows tagged E across however many tables it
  //     touches, then commits by atomically creating the `epoch-E`
  //     marker;
  //   * probes pin ONCE to C = [[committedEpoch]] and filter every
  //     segment scan to `epoch <= C` ([[pinnedAt]]) — a probe racing a
  //     staged wave reads the old complete version of ALL tables, and
  //     first sees the new version only after the single commit
  //     marker, when every table's rows for E are fully written
  //     (per-table visibility is already job-commit-atomic; the epoch
  //     gate adds the cross-table cut).
  //
  // Crash/retry: a wave that dies after `staged-E` but before
  // `epoch-E` leaves rows at E that are invisible forever as-is; the
  // NEXT wave (or a foreachBatch retry of the same micro-batch) calls
  // [[stageIndexEpoch]], finds the stale marker, and SCRUBS epoch-E
  // rows from every listed table before reusing E — so retried
  // streaming appends are effectively exactly-once. Scrubbing is a
  // bucket-preserving rewrite (O(table), paid only after a crash —
  // the manifest-per-table alternative avoids that at the cost of
  // giving up the catalog bucket layout probes join against).
  // Same single-writer-per-index maintenance window as [[compact]].
  // The epoch filter sits directly above each parquet scan (row-group
  // stats prune it) and `pinnedAt` drops the column, so probe logic
  // and bucket co-location are untouched.

  private def epochRoot(spark: SparkSession,
      name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, s"_graft_epochs/$name")

  /** Drop every catalog table named `prefix*`, then the dirs
    * [[deleteIndexDirs]] deletes — evicting one staged index family. */
  private[graft] def dropIndex(spark: SparkSession, prefix: String): Unit = {
    val catalog = spark.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase, s"$prefix*")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.quotedString}"))
    deleteIndexDirs(new org.apache.hadoop.fs.Path(spark.sessionState.conf.warehousePath),
      spark.sparkContext.hadoopConfiguration, prefix)
  }

  /** Delete the table and `_graft_epochs` dirs named `prefix*` under
    * `warehouse` through the file system alone (no catalog). */
  private[graft] def deleteIndexDirs(warehouse: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration, prefix: String): Unit = {
    val fs = warehouse.getFileSystem(conf)
    Seq(warehouse, new org.apache.hadoop.fs.Path(warehouse, "_graft_epochs"))
      .filter(fs.exists).flatMap(d => fs.listStatus(d).map(_.getPath))
      .filter(_.getName.startsWith(prefix)).foreach(fs.delete(_, true))
  }

  /** (Re)initialize index `name`'s epoch state at committed epoch 0 —
    * every index build ends with this. */
  def initIndexEpoch(spark: SparkSession, name: String): Unit = {
    val root = epochRoot(spark, name)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    fs.mkdirs(root)
    fs.create(new org.apache.hadoop.fs.Path(root, "epoch-0"), true).close()
  }

  /** The highest committed epoch of index `name` — the pin every probe
    * takes once, up front. */
  def committedEpoch(spark: SparkSession, name: String): Long = {
    val root = epochRoot(spark, name)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root),
      s"index $name has no epoch state - (re)build it with a current " +
        "builder (initIndexEpoch runs at the end of every build)")
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("epoch-\\d+"))
      .map(_.stripPrefix("epoch-").toLong).max
  }

  /** Open a maintenance wave: returns the stage epoch E = committed+1
    * and records the write-ahead `staged-E` marker, whose CONTENT is
    * this wave's table list. If a previous wave at E died mid-write
    * (marker present, never committed), its orphaned rows are scrubbed
    * from every table THAT wave recorded — not merely the tables the
    * new wave happens to touch — so a dead append (postings+lens+stats)
    * followed by a delete wave (stats+tombstones only) cannot publish
    * the dead wave's orphaned postings at commit. An EMPTY recorded
    * list means the dead wave crashed between creating the marker and
    * recording its tables, i.e. before writing any segment row — the
    * new wave's own list is still scrubbed as belt-and-braces. */
  def stageIndexEpoch(spark: SparkSession, name: String,
      tables: Seq[String]): Long = {
    val root = epochRoot(spark, name)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val e = committedEpoch(spark, name) + 1L
    val marker = new org.apache.hadoop.fs.Path(root, s"staged-$e")
    if (fs.exists(marker)) {
      (readMarkerTables(fs, marker) ++ tables).distinct
        .foreach(t => scrubEpoch(spark, t, e))
      // a dead REBASE wave may have left its rebase marker; E was never
      // committed, so the marker is an orphan — drop it (the new wave
      // re-creates it at commit if it is itself a rebase)
      fs.delete(new org.apache.hadoop.fs.Path(root, s"rebase-$e"), false)
    } else if (!fs.createNewFile(marker))
      throw new IllegalStateException(
        s"index $name lost the stage race for epoch $e - index " +
          "maintenance is single-writer per window, like compact()")
    val out = fs.create(marker, true)
    try out.write(tables.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    e
  }

  private def readMarkerTables(fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(marker)
    try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  /** Publish a staged wave: all segment rows tagged `epoch` become
    * visible to pinned readers in one atomic marker creation. A
    * `rebase = true` commit additionally declares epoch's rows a FULL
    * REPLACEMENT of the rebase-scoped segment tables (see
    * [[rebaseEpochOf]]/[[pinnedSince]]): the `rebase-E` marker is
    * created BEFORE `epoch-E`, so a crash between the two leaves an
    * orphan rebase marker above the committed pin — invisible to every
    * reader, and cleaned by the next [[stageIndexEpoch]] at E. */
  def commitIndexEpoch(spark: SparkSession, name: String,
      epoch: Long, rebase: Boolean = false): Unit = {
    val root = epochRoot(spark, name)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(epoch == committedEpoch(spark, name) + 1L,
      s"commit of epoch $epoch out of order for index $name " +
        s"(committed is ${committedEpoch(spark, name)})")
    if (rebase &&
        !fs.createNewFile(new org.apache.hadoop.fs.Path(root, s"rebase-$epoch")))
      throw new IllegalStateException(
        s"index $name lost the rebase-commit race for epoch $epoch")
    if (!fs.createNewFile(new org.apache.hadoop.fs.Path(root, s"epoch-$epoch")))
      throw new IllegalStateException(
        s"index $name lost the commit race for epoch $epoch")
    fs.delete(new org.apache.hadoop.fs.Path(root, s"staged-$epoch"), false)
  }

  /** The highest REBASE epoch at or below `pin` — the generation cut a
    * pinned reader of a rebase-scoped table starts from. A build is a
    * rebase at epoch 0 by definition (no marker needed); only committed
    * rebases are ≤ pin, so an orphan marker from a crashed rebase wave
    * (always at committed+1 > pin) can never surface. */
  def rebaseEpochOf(spark: SparkSession, name: String, pin: Long): Long = {
    val root = epochRoot(spark, name)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rebases = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("rebase-\\d+"))
      .map(_.stripPrefix("rebase-").toLong)
      .filter(_ <= pin)
    if (rebases.isEmpty) 0L else rebases.max
  }

  /** Segment table `table` pinned at epoch `pin`, scoped to the
    * generation opened at rebase epoch `since`: rows committed in
    * [since, pin], epoch column dropped. The read shape of a table
    * whose rebase waves REPLACE it wholesale (an IVF retrain) while
    * append waves between rebases accrete — both filters sit directly
    * above the parquet scan (row-group stats prune them). */
  def pinnedSince(spark: SparkSession, table: String, since: Long,
      pin: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(table)
      .filter(col("epoch") >= since && col("epoch") <= pin)
      .drop("epoch")
  }

  /** Remove every row tagged `epoch` from `table` — crash recovery for
    * a wave that staged but never committed (bucket-preserving where
    * the table is bucketed). */
  private def scrubEpoch(spark: SparkSession, table: String,
      epoch: Long): Unit = {
    import org.apache.spark.sql.functions.col
    if (!spark.catalog.tableExists(table)) return
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    if (meta.bucketSpec.isDefined)
      rewriteBucketedTable(spark, table,
        df => df.filter(col("epoch") =!= epoch))
    else {
      val kept = spark.table(table).filter(col("epoch") =!= epoch)
        .localCheckpoint() // break lineage so the overwrite can read it
      kept.write.format("parquet").mode(SaveMode.Overwrite)
        .saveAsTable(table)
      spark.catalog.refreshTable(table)
    }
  }

  /** Segment table `table` pinned at epoch `pin`: only rows committed
    * at or before it, with the epoch column dropped so probe logic and
    * output schemas are untouched. */
  def pinnedAt(spark: SparkSession, table: String, pin: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(table).filter(col("epoch") <= pin).drop("epoch")
  }

  // ---------------------------------------------------------------
  // INDEX TOMBSTONES AND DF LOGS: one erase lifecycle for every family.
  // ---------------------------------------------------------------
  // An index family erases documents by TOMBSTONE: the deleted keys
  // land in `<name>_tombstones` (the family's key column + epoch), and
  // every probe reads its segments through [[live]], which anti-joins
  // them out — the documents vanish at O(deleted ids) cost with no
  // index rewrite. [[purgeTombstones]] later removes the bytes in the
  // same bucket-preserving rewrite a compaction performs (the
  // right-to-erasure half). Deleted keys are retired for good:
  // re-appending a tombstoned key is unsupported (ids are monotone and
  // never reused — the corpus convention). The contract, for every
  // family:
  //
  //   * IDEMPOTENT: a delete skips keys that are already tombstoned,
  //     so a retried delete appends no tombstone and no compensating
  //     segment twice (a negative df segment counted twice would
  //     double-subtract);
  //   * EPOCH-ATOMIC: the tombstones and the compensating segments a
  //     family writes (negative df, BM25's stats moments) are staged
  //     and committed at ONE epoch, so a pinned probe never sees a doc
  //     hidden while its df mass still counts, or the reverse;
  //   * CRASH-SCRUBBED: a delete that dies before its commit leaves
  //     rows at the staged epoch that the next wave's
  //     [[stageIndexEpoch]] scrubs. The delete stages BEFORE it reads
  //     the tombstones, so a retry of a dead delete sees the scrubbed
  //     table and tombstones its keys again.
  //
  // Purges run in the same single-writer maintenance window as
  // [[compact]].
  //
  // A DF LOG is a document-frequency relation (key, df, epoch) kept
  // LOG-STRUCTURED: the build writes one count segment, every append
  // adds one, every delete adds a NEGATIVE one derived from the
  // index's own postings (the deleted text is not needed), and the
  // true df is the merge-on-read sum — exact integer arithmetic, and
  // O(batch) per wave where updating one materialized relation in
  // place would be an O(vocabulary) rewrite. A purge collapses the log
  // back to one segment counted from the purged postings.

  private def tombstonesOf(name: String): String = s"${name}_tombstones"

  /** Empty index `name`'s tombstone table, keyed on `keyCol`. */
  private def resetTombstones(spark: SparkSession, name: String,
      keyCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    spark.range(0).select(col("id").as(keyCol), col("id").as("epoch"))
      .write.format("parquet").mode(SaveMode.Overwrite)
      .saveAsTable(tombstonesOf(name))
  }

  /** End a build of index `name`: an empty tombstone table keyed on
    * `keyCol` (probes anti-join it unconditionally) and committed
    * epoch 0. */
  private[graft] def initIndex(spark: SparkSession, name: String,
      keyCol: String): Unit = {
    resetTombstones(spark, name, keyCol)
    initIndexEpoch(spark, name)
  }

  /** One delete wave on index `name`: `ids` (the key column alone)
    * minus the keys already tombstoned are the wave's fresh keys. Each
    * `(table, rows)` of `compensate` appends `rows(fresh)` to log table
    * `table` as one segment, then the fresh keys join the tombstones;
    * every table named here is staged and committed at one epoch. */
  private[graft] def deleteWave(spark: SparkSession, name: String,
      ids: DataFrame,
      compensate: Seq[(String, DataFrame => DataFrame)] = Nil): Unit = {
    import org.apache.spark.sql.functions.lit
    val e = stageIndexEpoch(spark, name,
      compensate.map(_._1) :+ tombstonesOf(name))
    // checkpointed: the compensating segments and the tombstones must
    // cover the same keys, and the append below writes the table read
    val fresh = ids.distinct()
      .join(spark.table(tombstonesOf(name)), ids.columns.toSeq, "left_anti")
      .localCheckpoint()
    compensate.foreach { case (t, rows) => writeSegment(spark, t, rows(fresh), e) }
    fresh.withColumn("epoch", lit(e))
      .write.format("parquet").mode(SaveMode.Append)
      .saveAsTable(tombstonesOf(name))
    spark.catalog.refreshTable(tombstonesOf(name)) // see appendBucketed
    commitIndexEpoch(spark, name, e)
  }

  /** Physically erase index `name`'s tombstoned keys from each bucketed
    * table of `tables` (a bucket-preserving rewrite that doubles as a
    * compaction), run `rebuild` at the committed epoch (a family's
    * collapse of its df log or stats segments from the purged tables),
    * then empty the tombstones. Returns each table's file stats. */
  private[graft] def purgeTombstones(spark: SparkSession, name: String,
      tables: Seq[String], rebuild: Long => Unit = _ => ())
      : Seq[TableCompactStats] = {
    val keys = spark.table(tombstonesOf(name)).drop("epoch").distinct()
      .localCheckpoint()
    val stats = tables.map(t => rewriteBucketedTable(spark, t,
      _.join(keys, keys.columns.toSeq, "left_anti")))
    rebuild(committedEpoch(spark, name))
    resetTombstones(spark, name, keys.columns.head)
    stats
  }

  /** `segment` — a segment of index `name` already pinned at `pin` —
    * without the rows of keys tombstoned at or before `pin`. */
  private[graft] def live(spark: SparkSession, name: String, pin: Long,
      segment: DataFrame): DataFrame = {
    val tomb = pinnedAt(spark, tombstonesOf(name), pin)
    segment.join(tomb, tomb.columns.toSeq, "left_anti")
  }

  /** Segment table `table` of index `name` pinned at `pin`, live rows
    * only ([[live]] of [[pinnedAt]]). */
  private[graft] def liveAt(spark: SparkSession, name: String,
      table: String, pin: Long): DataFrame =
    live(spark, name, pin, pinnedAt(spark, table, pin))

  /** Write `rows` to the unbucketed log table `table` (a df log, BM25's
    * stats moments) as one segment tagged `epoch`: appended, or with
    * `replace` (a build, a purge) as the whole log. */
  private[graft] def writeSegment(spark: SparkSession, table: String,
      rows: DataFrame, epoch: Long, replace: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.lit
    rows.withColumn("epoch", lit(epoch))
      .write.format("parquet")
      .mode(if (replace) SaveMode.Overwrite else SaveMode.Append)
      .saveAsTable(table)
    spark.catalog.refreshTable(table) // see appendBucketed
  }

  /** A df log's [[deleteWave]] compensation: the negative segment,
    * minus the per-`key` count of the `postings` rows of the fresh
    * keys. */
  private[graft] def subtractDf(spark: SparkSession, postings: String,
      key: String)(fresh: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    spark.table(postings).join(fresh, fresh.columns.toSeq, "left_semi")
      .groupBy(col(key)).agg((-count(lit(1))).as("df"))
  }

  /** Replace df log `table` with one segment counted from `postings`,
    * tagged `epoch`. It reads a different table than it overwrites, so
    * nothing needs materializing first. */
  private[graft] def rebuildDfLog(spark: SparkSession, table: String,
      postings: String, key: String, epoch: Long): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    writeSegment(spark, table,
      spark.table(postings).groupBy(col(key)).agg(count(lit(1)).as("df")),
      epoch, replace = true)
  }

  /** The merged df of df log `table` at `pin` for the keys in `vocab`
    * (one column, named like the log's key). The semi-join sits BELOW
    * the merge sum, so a read costs O(vocab), never O(log vocabulary). */
  private[graft] def readDfLog(spark: SparkSession, table: String,
      pin: Long, vocab: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    val key = vocab.columns.head
    pinnedAt(spark, table, pin).join(vocab, Seq(key), "left_semi")
      .groupBy(col(key)).agg(sum(col("df")).as("df"))
  }
}
