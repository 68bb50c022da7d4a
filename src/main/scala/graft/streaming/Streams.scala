package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import java.sql.Timestamp

/** Structured Streaming topologies (SURVEY §2d) — the streaming twins of
  * the batch operators: windowed aggregation ↔ `Temporal.timeBucket`,
  * stateful latest-status ↔ `Clif.latestStatus`, streaming dedup ↔
  * `Dedup.exact`, stateful sessionization ↔ `Temporal.sessionize`.
  *
  * All transforms are source-agnostic (they take the streaming
  * DataFrame), so the same topology runs from Kafka, files, or a test
  * MemoryStream. Watermarks bound state size — the property that keeps
  * these runnable indefinitely at cluster scale.
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserStatus(user_id: Long, last_event_id: Long,
      last_status: String, last_ts: Timestamp)
  case class UserSession(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)
  case class Island(user_id: Long, island_start: Timestamp,
      island_end: Timestamp, n_events: Long)

  /** Tumbling-window counts with a 10-minute watermark (append-mode
    * safe: late data beyond the watermark is dropped, state is pruned). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("event_type"), col("n"),
        col("total_value"))

  /** Declarative session windows via the built-in `session_window`
    * (dynamic gap-merged windows maintained by the engine's session
    * state store — no hand-rolled state): the twin of
    * [[sessionizeStream]] without custom processor code, for the
    * common case where per-session output is just an aggregate.
    * Watermark closes (finalizes) a session once event time passes
    * session_end + gap, which also prunes its state. */
  def sessionWindowAgg(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming exact-dedup on event_id within the watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: purchases matched to the same user's
    * view events within the preceding hour. Both sides watermarked so
    * Spark can bound the join state buffer — the requirement for an
    * unbounded run. */
  def purchaseViewJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — the attribution twin of
    * [[purchaseViewJoin]]: every purchase emits, view-attributed when
    * a same-user view exists in the preceding hour, and with NULL view
    * columns once the watermark passes the join window and proves no
    * view can still arrive. Outer results are inherently DELAYED by
    * the watermark: the engine may only emit the null row after event
    * time has advanced past purchase_ts + window + watermark, which is
    * the price of correctness under out-of-order arrival (emitting
    * earlier could be contradicted by a late view). State stays
    * watermark-bounded exactly as in the inner join. */
  def purchaseViewJoinOuter(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "10 minutes")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      "left_outer")
  }

  /** Stream-static enrichment join: the static dimension is read fresh
    * per micro-batch; broadcast keeps it shuffle-free. */
  def enrichWithUsers(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(userDim),
      Seq("user_id"), "left")

  /** Stateful last-write-wins status per user — the streaming form of
    * the reference bot's status updates (state.py:141-143): each
    * incoming event overwrites the user's state; updates emit
    * continuously. */
  def latestStatus(spark: SparkSession, events: Dataset[Event]): Dataset[UserStatus] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStatus, UserStatus](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStatus]) =>
          val latestInBatch = batch.reduceOption { (a, b) =>
            if (b.ts.after(a.ts) ||
              (b.ts.equals(a.ts) && b.event_id > a.event_id)) b else a
          }
          val merged = (state.getOption, latestInBatch) match {
            case (Some(s), Some(e)) if e.ts.after(s.last_ts) ||
              (e.ts.equals(s.last_ts) && e.event_id > s.last_event_id) =>
              UserStatus(userId, e.event_id, e.event_type, e.ts)
            case (Some(s), _) => s
            case (None, Some(e)) => UserStatus(userId, e.event_id, e.event_type, e.ts)
            case (None, None) => UserStatus(userId, -1L, "none", new Timestamp(0L))
          }
          state.update(merged)
          merged
      }
  }

  /** The same last-write-wins state on the Spark 4 arbitrary-state API
    * (`transformWithState` + StatefulProcessor + ValueState, RocksDB
    * state store): typed named state, TTL support, timers — the
    * forward-looking replacement for mapGroupsWithState. */
  class LatestStatusProcessor extends StatefulProcessor[Long, Event, UserStatus] {
    @transient private var state: ValueState[UserStatus] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserStatus]("latest",
        Encoders.product[UserStatus], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserStatus] = {
      val latestInBatch = rows.reduceOption { (a, b) =>
        if (b.ts.after(a.ts) || (b.ts.equals(a.ts) && b.event_id > a.event_id)) b else a
      }
      val prior = if (state.exists) Some(state.get()) else None
      val merged = (prior, latestInBatch) match {
        case (Some(s), Some(e)) if e.ts.after(s.last_ts) ||
          (e.ts.equals(s.last_ts) && e.event_id > s.last_event_id) =>
          UserStatus(userId, e.event_id, e.event_type, e.ts)
        case (Some(s), _) => s
        case (None, Some(e)) => UserStatus(userId, e.event_id, e.event_type, e.ts)
        case (None, None) => UserStatus(userId, -1L, "none", new Timestamp(0L))
      }
      state.update(merged)
      Iterator.single(merged)
    }
  }

  def latestStatusTws(spark: SparkSession, events: Dataset[Event]): Dataset[UserStatus] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new LatestStatusProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class FunnelBuf(stamps: Seq[Timestamp])
  case class FunnelProgress(user_id: Long, stages_reached: Int,
      stage_ts: Seq[Timestamp])

  /** Streaming funnel — the stateful twin of `Behavioral.funnel`: a
    * per-user stage CURSOR (the completed-stage timestamp prefix) kept
    * in ValueState; each micro-batch sorts its rows by event time and
    * advances the cursor exactly like the batch fold. State per user is
    * ≤ |stages| timestamps — bounded regardless of event volume, which
    * is what lets the funnel run indefinitely where the batch operator
    * would re-scan the log. Parity contract (spec-proved): equal to the
    * batch fold whenever stage-advancing events arrive in event-time
    * order across batches; a stage event arriving LATE (behind an
    * already-passed cursor position) is dropped rather than rewinding
    * state — the standard streaming-funnel caveat, corrected by a batch
    * backfill. */
  class FunnelProcessor(stages: Seq[String])
      extends StatefulProcessor[Long, Event, FunnelProgress] {
    @transient private var state: ValueState[FunnelBuf] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelBuf]("funnel",
        Encoders.product[FunnelBuf], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[FunnelProgress] = {
      var stamps: Vector[Timestamp] =
        if (state.exists) state.get().stamps.toVector else Vector.empty
      rows.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        if (stamps.length < stages.length &&
            e.event_type == stages(stamps.length) &&
            (stamps.isEmpty || e.ts.after(stamps.last)))
          stamps = stamps :+ e.ts
      }
      state.update(FunnelBuf(stamps))
      Iterator.single(FunnelProgress(userId, stamps.length, stamps))
    }
  }

  def funnelStream(spark: SparkSession, events: Dataset[Event],
      stages: Seq[String] = Seq("signup", "view", "purchase")): Dataset[FunnelProgress] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stages),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming WINDOWED strict-order funnel — the stateful twin of
    * `Behavioral.windowedFunnel` (§2 r8x): the cursor advances only on
    * STRICTLY INCREASING event times that also land within
    * `windowMicros` of the FIRST stage's timestamp (the attribution
    * window "clicked and bought within a week of signup"), where
    * [[FunnelProcessor]] is unwindowed. Same bounded state (≤ |stages|
    * timestamps per user) and the same in-order parity contract: equal
    * to the batch operator whenever stage-advancing events arrive in
    * event-time order across batches — a late event behind the cursor
    * drops rather than rewinding (batch backfill corrects). Window
    * verdicts run in integer epoch micros, the batch operator's
    * arithmetic, so the parity spec can demand exact stage counts. */
  class WindowedFunnelProcessor(stages: Seq[String], windowMicros: Long)
      extends StatefulProcessor[Long, Event, FunnelProgress] {
    @transient private var state: ValueState[FunnelBuf] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelBuf]("wfunnel",
        Encoders.product[FunnelBuf], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[FunnelProgress] = {
      var stamps: Vector[Timestamp] =
        if (state.exists) state.get().stamps.toVector else Vector.empty
      rows.toArray.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
        if (stamps.length < stages.length &&
            e.event_type == stages(stamps.length) &&
            (stamps.isEmpty ||
              (tsMicros(e.ts) > tsMicros(stamps.last) &&
                tsMicros(e.ts) <= tsMicros(stamps.head) + windowMicros)))
          stamps = stamps :+ e.ts
      }
      state.update(FunnelBuf(stamps))
      Iterator.single(FunnelProgress(userId, stamps.length, stamps))
    }
  }

  def windowedFunnelStream(spark: SparkSession, events: Dataset[Event],
      stages: Seq[String] = Seq("signup", "click", "purchase"),
      windowMicros: Long = 604800000000L): Dataset[FunnelProgress] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new WindowedFunnelProcessor(stages, windowMicros),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming upsert sink — the foreachBatch MERGE pattern without a
    * lakehouse format: each micro-batch reduces to one latest row per
    * key and merges with the existing parquet snapshot (old ∪ new →
    * keyed argmax), published through [[swapSnapshot]]. Only a
    * genuinely-absent first-batch snapshot is treated as empty — any
    * other read failure (permissions, transient FS errors, corrupt
    * footers) propagates and fails the batch rather than silently
    * discarding accumulated state. Idempotent per batch: a replayed
    * batch re-derives the same snapshot, which is what makes
    * foreachBatch exactly-once at the sink. Snapshot size = key
    * cardinality, not stream length. */
  def upsertSink(events: DataFrame, snapshotPath: String,
      checkpointPath: String): StreamingQuery =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        def latestOf(df: DataFrame): DataFrame = df
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        val batchLatest = latestOf(batch
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
        swapSnapshot(batch.sparkSession, snapshotPath)(old =>
          latestOf(old.fold(batchLatest)(_.unionByName(batchLatest))))
      }
      .start()

  /** Replace the parquet snapshot at `path` with `next(current)`
    * (`current` is None before the first write), keeping a complete
    * copy on disk at every instant: write `next` to `<path>.staging`
    * (never over the snapshot it reads), then swap snapshot →
    * `<path>.backup`, staging → snapshot, and drop the backup. A crash
    * at any point leaves a full copy at snapshot, staging or backup,
    * and the next call finishes the interrupted swap before reading.
    * Staging counts only if its write COMMITTED (the parquet job's
    * `_SUCCESS` marker): a crash mid-write, e.g. in the first batch
    * with no snapshot to fall back to, leaves a partial staging dir
    * that would wedge every later batch if promoted, so it is deleted
    * and the batch replay re-derives it. */
  private def swapSnapshot(spark: SparkSession, path: String)(
      next: Option[DataFrame] => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val snap = new Path(path)
    val staging = new Path(path + ".staging")
    val backup = new Path(path + ".backup")
    val fs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Hadoop FileSystem.rename/delete signal failure by RETURNING
    // false, not throwing — an unchecked false here would let the
    // batch "succeed" without publishing the new snapshot. Fail the
    // batch instead so the engine retries it.
    def renameOrFail(from: Path, to: Path): Unit =
      require(fs.rename(from, to), s"rename $from -> $to failed")
    def deleteOrFail(p: Path): Unit =
      require(fs.delete(p, true), s"delete $p failed")
    // finish an interrupted swap: committed staging (newest) wins over
    // backup
    val stagingCommitted = fs.exists(new Path(staging, "_SUCCESS"))
    if (fs.exists(staging) && !stagingCommitted) deleteOrFail(staging)
    if (!fs.exists(snap) && stagingCommitted) renameOrFail(staging, snap)
    if (!fs.exists(snap) && fs.exists(backup)) renameOrFail(backup, snap)
    next(if (fs.exists(snap)) Some(spark.read.parquet(path)) else None)
      .write.mode("overwrite").parquet(staging.toString)
    if (fs.exists(backup)) deleteOrFail(backup)
    if (fs.exists(snap)) renameOrFail(snap, backup)
    renameOrFail(staging, snap)
    if (fs.exists(backup)) deleteOrFail(backup)
  }

  case class Doc(doc_id: Long, ts: Timestamp, text: String)
  case class DocVerdict(doc_id: Long, fingerprint: Long, is_dup: Boolean)

  /** Streaming content-dedup processor: keyed by the 64-bit SimHash of
    * the normalized text, ValueState remembers the first doc_id that
    * carried each fingerprint — with a TTL so the dedup horizon (and
    * therefore state size) is bounded by ingest rate × window, not by
    * stream lifetime. Emits a verdict row per document (keep/dup)
    * instead of silently dropping, so the dup stream is itself
    * observable — the streaming twin of `q_dedup_exact` /
    * `q_fingerprint`. */
  class FingerprintDedupProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, Doc, DocVerdict] {
    @transient private var seen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen_doc", Encoders.scalaLong,
        if (ttl == null) TTLConfig.NONE else new TTLConfig(ttl))
    override def handleInputRows(fp: Long, rows: Iterator[Doc],
        timers: TimerValues): Iterator[DocVerdict] = {
      val batch = rows.toSeq.sortBy(_.doc_id)
      val out = Seq.newBuilder[DocVerdict]
      batch.foreach { d =>
        if (seen.exists()) out += DocVerdict(d.doc_id, fp, is_dup = true)
        else { seen.update(d.doc_id); out += DocVerdict(d.doc_id, fp, is_dup = false) }
      }
      out.result().iterator
    }
  }

  /** Streaming near-identical suppression on content fingerprint.
    *
    * A TTL'd query never goes idle: TTL state requires
    * `TimeMode.ProcessingTime()` (Spark rejects it otherwise with
    * `STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL`), and in
    * that mode `transformWithState` always asks for another batch, so
    * the query runs one no-data micro-batch per trigger and
    * `processAllAvailable` never returns on it — read its sink with a
    * deadline instead. With `ttl = null` the state is unbounded, the
    * query runs in `TimeMode.None()` and quiesces like any other. */
  def fingerprintDedupStream(spark: SparkSession, docs: Dataset[Doc],
      ttl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[DocVerdict] = {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // Update output: each verdict is final on arrival — no watermark to
    // wait on before emitting.
    val timeMode = if (ttl == null) TimeMode.None() else TimeMode.ProcessingTime()
    docs.groupByKey(d => graft.functions.ExprRuntime.simhash64(
        UTF8String.fromString(d.text.toLowerCase.trim.replaceAll("\\s+", " "))))
      .transformWithState(new FingerprintDedupProcessor(ttl),
        timeMode, OutputMode.Update())
  }

  case class BandDoc(band_id: Int, band_sig: Long, doc_id: Long)
  case class CandidatePair(doc_a: Long, doc_b: Long, band_id: Int)

  /** Streaming corpus curation — the streaming twin of
    * `Pipeline.curateCorpus`'s front half, composed from the existing
    * stages: a row-local quality gate (same rounded score as the batch
    * `q_quality_score` / `q_quality_gate`) drops junk BEFORE it ever
    * touches state, then the fingerprint dedup processor issues
    * keep/dup verdicts with TTL-bounded state. Ordering the cheap
    * stateless filter first is the scale move: state size and shuffle
    * volume scale with the SURVIVING rate, not the raw ingest rate. */
  def curationStream(spark: SparkSession, docs: Dataset[Doc],
      minQuality: Double = 0.3,
      ttl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[DocVerdict] = {
    import spark.implicits._
    val gated = docs.toDF()
      .filter(graft.operators.TextAnalysis.qualityCol >= minQuality)
      .as[Doc]
    fingerprintDedupStream(spark, gated, ttl)
  }

  /** Streaming MinHash-LSH index maintenance (the streaming twin of
    * `Dedup.minhashPairs`): each arriving document's 32-permutation
    * MinHash signature is banded exactly like the batch operator
    * (8 bands × 4 rows, xxhash64 over the slice), and every band bucket
    * keeps the doc_ids it has seen in ListState. A new document landing
    * in a non-empty bucket emits a candidate pair against each resident
    * — the incremental form of the batch band equi-join, with state
    * partitioned by (band_id, band_sig) so bucket lookups never shuffle
    * the index. `maxBucket` bounds RESIDENTS per bucket: a degenerate
    * bucket (boilerplate shingles) would otherwise grow candidate
    * volume quadratically — the streaming analogue of the batch path's
    * banding-bounded candidate count. The bound is enforced by RECENCY
    * eviction (drop the oldest stored resident), the same policy as
    * [[EditIndexProcessor]]: per-arrival candidate volume stays capped
    * at `maxBucket` pairs either way, but a saturated bucket keeps its
    * most RECENT residents probeable, so late arrivals still pair
    * cross-batch with the temporally-close near-dups streaming ingest
    * actually produces; the recall loss moves to the oldest residents.
    * A pair colliding in several bands surfaces once per band (carrying
    * band_id); downstream consumers dedup exactly like the batch
    * `.distinct()`. */
  class MinHashIndexProcessor(maxBucket: Int)
      extends StatefulProcessor[(Int, Long), BandDoc, CandidatePair] {
    @transient private var bucket: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getListState[Long]("bucket", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(key: (Int, Long), rows: Iterator[BandDoc],
        timers: TimerValues): Iterator[CandidatePair] = {
      // stored = recency ring that survives to state (≤ maxBucket);
      // probe = everything pair-visible this wave (stored ∪ arrivals)
      val stored = scala.collection.mutable.ArrayBuffer.empty[Long]
      bucket.get().foreach(stored += _)
      val probe = stored.clone()
      var mutated = false
      val out = Seq.newBuilder[CandidatePair]
      rows.toSeq.sortBy(_.doc_id).foreach { d =>
        if (!probe.contains(d.doc_id)) {
          probe.foreach { r =>
            out += CandidatePair(math.min(r, d.doc_id),
              math.max(r, d.doc_id), d.band_id)
          }
          if (stored.size >= maxBucket) stored.remove(0) // evict oldest
          stored += d.doc_id
          mutated = true
          probe += d.doc_id
        }
      }
      // ONE state write per (bucket, wave), not per arrival
      if (mutated) bucket.put(stored.toArray)
      out.result().iterator
    }
  }

  /** Maintain a near-dup candidate index over a document stream. */
  def minhashIndexStream(spark: SparkSession, docs: Dataset[Doc],
      maxBucket: Int = 64): Dataset[CandidatePair] = {
    import spark.implicits._
    import graft.functions.HashExpressions.{minhashSignature, normText,
      rollingShingles}
    val banded = docs.toDF()
      .select(col("doc_id"), rollingShingles(normText, 8).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", minhashSignature(col("shingles"), 32))
      .withColumn("band", explode(expr(
        "transform(sequence(0, 7), b -> struct(CAST(b AS INT) AS band_id, " +
          "xxhash64(slice(sig, b * 4 + 1, 4)) AS band_sig))")))
      .select(col("band.band_id"), col("band.band_sig"), col("doc_id"))
      .as[BandDoc]
    banded.groupByKey(bd => (bd.band_id, bd.band_sig))
      .transformWithState(new MinHashIndexProcessor(maxBucket),
        TimeMode.None(), OutputMode.Append())
  }

  case class NamedKey(key: Long, name: String)
  case class VariantEntry(variant: String, key: Long, name: String)
  case class EditPair(key_a: Long, key_b: Long, edit_distance: Long)

  /** Bounded edit distance for the streaming verify (τ = 1): length
    * screen, then one aligned pass that branches once at the first
    * mismatch — O(len) and allocation-free, the in-JVM twin of the
    * batch side's thresholded `levenshtein(…, 1)`. Returns -1 when the
    * distance provably exceeds 1. */
  private[graft] def editDistanceLe1(a: String, b: String): Long = {
    if (a == b) return 0L
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    if (t.length - s.length > 1) return -1L
    var i = 0
    while (i < s.length && s.charAt(i) == t.charAt(i)) i += 1
    if (s.length == t.length) {
      // substitution at i, remainder must match exactly
      var j = i + 1
      while (j < s.length && s.charAt(j) == t.charAt(j)) j += 1
      if (j == s.length) 1L else -1L
    } else {
      // one insertion in t at i, tails must align shifted by one
      var j = i
      while (j < s.length && s.charAt(j) == t.charAt(j + 1)) j += 1
      if (j == s.length) 1L else -1L
    }
  }

  /** Streaming edit-distance index (the streaming twin of
    * `Dedup.editJoin`): each arriving (key, name) is exploded to its
    * deletion variants — the SAME keys as the batch operator — and
    * every variant bucket holds its residents in ListState. An arrival
    * landing in a non-empty bucket verifies against each resident with
    * the τ=1 banded distance and emits confirmed pairs — incremental
    * entity-resolution candidate maintenance at O(batch × len) per
    * wave, state partitioned by variant so probes never shuffle the
    * index. `maxBucket` bounds residents per bucket by RECENCY
    * eviction (drop the oldest stored resident when full), not
    * cap-freeze: a saturated bucket keeps its `maxBucket` most recent
    * residents probeable, so a post-saturation arrival still pairs
    * across batches with recent neighbors — the temporally-close
    * near-dups streaming ingest actually produces — and the recall
    * loss moves to the OLDEST residents (the ones a frozen cap would
    * have kept at the cost of everything after them). State stays
    * bounded at maxBucket either way; an evicted key that re-arrives
    * is re-admitted (and re-pairs) like any new resident. A pair
    * sharing several variants surfaces once per variant; downstream
    * dedups like the batch `.distinct()`. */
  class EditIndexProcessor(maxBucket: Int)
      extends StatefulProcessor[String, VariantEntry, EditPair] {
    @transient private var bucket: ListState[NamedKey] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getListState[NamedKey]("bucket",
        Encoders.product[NamedKey], TTLConfig.NONE)
    override def handleInputRows(variant: String,
        rows: Iterator[VariantEntry],
        timers: TimerValues): Iterator[EditPair] = {
      // stored = what survives to state (recency ring, ≤ maxBucket);
      // probe = everything pair-visible this wave (stored ∪ this
      // batch's arrivals, including ones whose insert evicted others)
      val stored = scala.collection.mutable.ArrayBuffer.empty[NamedKey]
      bucket.get().foreach(stored += _)
      val probe = stored.clone()
      var mutated = false
      val out = Seq.newBuilder[EditPair]
      rows.toSeq.sortBy(_.key).foreach { e =>
        if (!probe.exists(_.key == e.key)) {
          probe.foreach { r =>
            val d = editDistanceLe1(r.name, e.name)
            if (d >= 0L)
              out += EditPair(math.min(r.key, e.key),
                math.max(r.key, e.key), d)
          }
          if (stored.size >= maxBucket) stored.remove(0) // evict oldest
          stored += NamedKey(e.key, e.name)
          mutated = true
          probe += NamedKey(e.key, e.name)
        }
      }
      // ONE state write per (variant, wave), not per arrival
      if (mutated) bucket.put(stored.toArray)
      out.result().iterator
    }
  }

  /** Maintain the edit-distance candidate index over a keyed-name
    * stream. Variant generation is the batch operator's expression,
    * verbatim — persisted batch indexes and streaming state stay
    * interchangeable. */
  def editIndexStream(spark: SparkSession, named: Dataset[NamedKey],
      maxBucket: Int = 64): Dataset[EditPair] = {
    import spark.implicits._
    val keyed = named.toDF()
      .select(col("key"), col("name").as("s"))
      .select(col("key"), col("s"), explode(expr(
        "array_union(array(s), transform(sequence(1, length(s)), " +
          "i -> concat(substring(s, 1, i - 1), substring(s, i + 1))))"))
        .as("variant"))
      .select(col("variant"), col("key"), col("s").as("name"))
      .as[VariantEntry]
    keyed.groupByKey(_.variant)
      .transformWithState(new EditIndexProcessor(maxBucket),
        TimeMode.None(), OutputMode.Append())
  }

  /** Stateful gap sessionization: a session closes after 30 minutes of
    * silence (event-time timeout), emitting one row per closed session. */
  def sessionizeStream(spark: SparkSession, events: Dataset[Event]): Dataset[UserSession] = {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserSession]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator.single(closed)
          } else {
            val events = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var current = state.getOption
            val closed = Seq.newBuilder[UserSession]
            events.foreach { e =>
              current match {
                case Some(s) if e.ts.getTime - s.session_end.getTime <= gapMs =>
                  current = Some(s.copy(session_end = e.ts,
                    n_events = s.n_events + 1,
                    total_value = s.total_value + e.value))
                case Some(s) =>
                  closed += s
                  current = Some(UserSession(userId, e.ts, e.ts, 1L, e.value))
                case None =>
                  current = Some(UserSession(userId, e.ts, e.ts, 1L, e.value))
              }
            }
            current.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.session_end.getTime + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Epoch MICROSECONDS of a Timestamp — the island merge verdict must
    * run at the batch operator's µs grain (getTime's millisecond floor
    * would flip touching-vs-gap on sub-ms offsets). */
  private def tsMicros(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def microsTs(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(
      us / 1000000L, (us % 1000000L) * 1000L))

  case class OpenIslands(islands: Seq[Island])

  /** Stateful INTERVAL COALESCING — the streaming face of
    * `Temporal.intervalCoalesce` (§2 r8j): each event opens a
    * spanMicros half-open activity window, and overlapping-or-touching
    * windows per user merge into maximal islands. State is the user's
    * OPEN island list (every island whose end the watermark has not yet
    * passed), kept sorted by start; an arriving event's window inserts
    * by interval merge — extending an island's end, extending its START
    * downward, or BRIDGING several open islands into one — so
    * cross-micro-batch out-of-order events the 1-hour watermark admits
    * land exactly where the batch operator would put them (the old
    * single-open-island state silently mis-merged an event earlier
    * than the open island's start). An island is emitted exactly when
    * the watermark passes its end: from that point no admissible event
    * (ts ≥ watermark > end) can touch it, so `closed islands ≡ batch
    * islands over the watermark-admitted log` is bit-exact for ANY
    * admitted arrival order, not just monotone input. All merge
    * verdicts run in integer epoch MICROSECONDS — the batch operator's
    * arithmetic (ms-grain state would flip touching-vs-gap on sub-ms
    * offsets). State is bounded: open islands live inside the watermark
    * horizon, ≤ horizon/span + 1 disjoint islands per user. */
  def intervalCoalesceStream(spark: SparkSession, events: Dataset[Event],
      spanMicros: Long = 900000000L): Dataset[Island] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenIslands, Island](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event],
            state: GroupState[OpenIslands]) =>
          // (startUs, endUs, nEvents), sorted by start, pairwise disjoint
          var isl: List[(Long, Long, Long)] = state.getOption
            .map(_.islands.toList.map(i =>
              (tsMicros(i.island_start), tsMicros(i.island_end), i.n_events)))
            .getOrElse(Nil)
          if (!state.hasTimedOut) {
            batch.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
              val s = tsMicros(e.ts)
              val en = s + spanMicros
              // islands entirely before the window (end < s: touching
              // at s == end merges, matching the batch cummax rule)
              val (left, rest) = isl.span(_._2 < s)
              // islands the window reaches (start <= en) all bridge
              val (mid, right) = rest.span(_._1 <= en)
              val merged =
                if (mid.isEmpty) (s, en, 1L)
                else (math.min(s, mid.head._1),
                  math.max(en, mid.map(_._2).max),
                  mid.map(_._3).sum + 1L)
              isl = left ::: (merged :: right)
            }
          }
          // final ⟺ end < watermark: every admissible future event has
          // ts ≥ watermark (ms grain ≤ its µs value), so it cannot
          // satisfy s <= end — emit exactly once, drop from state
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (done, open) = isl.partition(_._2 < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenIslands(open.map { case (s, e, n) =>
              Island(userId, microsTs(s), microsTs(e), n) }))
            // ceil to ms so the timeout can never fire before the
            // earliest open end; strictly above the current watermark
            // (Spark rejects a timeout at or behind it)
            state.setTimeoutTimestamp(math.max(
              (open.map(_._2).min + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
          }
          done.iterator.map { case (s, e, n) =>
            Island(userId, microsTs(s), microsTs(e), n) }
      }
  }

  case class TokenEvent(key: String, item: String, seq: Long)
  case class MGState(items: Seq[String], counts: Seq[Long])
  case class HeavyItem(key: String, item: String, cnt: Long)

  /** Streaming Misra–Gries heavy hitters per key — the stateful twin of
    * [[graft.functions.HeavyHitters]]: ValueState carries the ≤k
    * counters per key; each micro-batch replays its rows (sorted by
    * `seq`, so the stream order is explicit and batch-boundary-
    * independent) through the same MG update step, then emits the
    * current summary in update mode. State is bounded by k counters per
    * key forever — the property that makes "trending items per key"
    * runnable indefinitely; the MG guarantee (every item above
    * n/(k+1) frequency present, counts undercounting by ≤ n/(k+1))
    * holds at every prefix of the stream. */
  class HeavyHittersProcessor(k: Int)
      extends StatefulProcessor[String, TokenEvent, HeavyItem] {
    @transient private var state: ValueState[MGState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MGState]("mg",
        Encoders.product[MGState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[TokenEvent],
        timers: TimerValues): Iterator[HeavyItem] = {
      val buf = scala.collection.mutable.HashMap.empty[String, Long]
      if (state.exists) {
        val s = state.get()
        s.items.zip(s.counts).foreach { case (i, c) => buf(i) = c }
      }
      rows.toArray.sortBy(_.seq).foreach { e =>
        buf.get(e.item) match {
          case Some(c) => buf(e.item) = c + 1
          case None if buf.size < k => buf(e.item) = 1L
          case None =>
            val dead = List.newBuilder[String]
            buf.foreach { case (i, c) =>
              if (c == 1L) dead += i else buf(i) = c - 1
            }
            dead.result().foreach(buf.remove)
        }
      }
      val sorted = buf.toSeq.sortBy { case (i, c) => (-c, i) }
      state.update(MGState(sorted.map(_._1), sorted.map(_._2)))
      sorted.iterator.map { case (i, c) => HeavyItem(key, i, c) }
    }
  }

  def heavyHittersStream(spark: SparkSession, tokens: Dataset[TokenEvent],
      k: Int = 8): Dataset[HeavyItem] = {
    import spark.implicits._
    tokens.groupByKey(_.key)
      .transformWithState(new HeavyHittersProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  case class GapState(last_us: Long,
      cells: Seq[(Long, Long, Long, Long)])
  case class GapHist(event_type: String, bucket: Long, n: Long,
      min_gap: Long, max_gap: Long)

  /** Streaming INTER-ARRIVAL HISTOGRAM per event type — the stateful
    * twin of `TimeSeries.interarrivalHist` (§2c r9h): ValueState holds
    * the last-seen µs instant plus the power-of-two bucket cells
    * (≤ 64 buckets of (n, min, max) forever — bounded by the Long bit
    * width, not stream length); each micro-batch replays its rows in
    * (ts, event_id) order through the same lag fold, then emits the
    * current histogram in update mode. Batch boundaries are invisible
    * under event-time-ordered arrival (the funnel/markov parity
    * contract): the last emission per (type, bucket) equals the batch
    * operator bit-exactly — the live arrival-process screen (a batch
    * replayer spikes one bucket the moment it starts). */
  class InterarrivalProcessor
      extends StatefulProcessor[String, Event, GapHist] {
    @transient private var state: ValueState[GapState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[GapState]("gaps",
        Encoders.product[GapState], TTLConfig.NONE)
    override def handleInputRows(eventType: String, rows: Iterator[Event],
        timers: TimerValues): Iterator[GapHist] = {
      val cells = scala.collection.mutable.HashMap
        .empty[Long, (Long, Long, Long)]
      var last = -1L
      if (state.exists) {
        val s = state.get()
        last = s.last_us
        s.cells.foreach { case (b, n, mn, mx) => cells(b) = (n, mn, mx) }
      }
      rows.toArray.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
        val t = tsMicros(e.ts)
        if (last >= 0L) {
          val g = t - last
          val b = if (g == 0L) 0L
            else (64 - java.lang.Long.numberOfLeadingZeros(g)).toLong
          val (n, mn, mx) = cells.getOrElse(b, (0L, g, g))
          cells(b) = (n + 1L, math.min(mn, g), math.max(mx, g))
        }
        last = t
      }
      val sorted = cells.toSeq.sortBy(_._1)
      state.update(GapState(last,
        sorted.map { case (b, (n, mn, mx)) => (b, n, mn, mx) }))
      sorted.iterator.map { case (b, (n, mn, mx)) =>
        GapHist(eventType, b, n, mn, mx) }
    }
  }

  def interarrivalStream(spark: SparkSession,
      events: Dataset[Event]): Dataset[GapHist] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new InterarrivalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class MomentState(n: Long, meanX: Double, meanY: Double,
      m2x: Double, m2y: Double, cxy: Double)
  case class MomentRow(event_type: String, n: Long, mean_value: Double,
      var_value: Double, covar_vt: Double, corr_vt: Double)

  /** Streaming running moments per key — online mean / variance /
    * covariance / correlation of (value, event-time) via the bivariate
    * Welford recurrence: constant state per key (six doubles), every
    * prefix of the stream yields the exact same moments a batch
    * `avg/var_samp/covar_samp/corr` computes over that prefix (the
    * recurrences are algebraically identical to the two-pass formulas;
    * only float associativity differs, which the parity spec bounds).
    * Cov(value, t) is the trend signal: a drifting metric shows
    * covariance against time long before a threshold alert fires.
    * Rows replay in explicit (ts, event_id) order inside each batch so
    * batch boundaries never change the fold order. */
  class MomentsProcessor
      extends StatefulProcessor[String, Event, MomentRow] {
    @transient private var state: ValueState[MomentState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MomentState]("moments",
        Encoders.product[MomentState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: TimerValues): Iterator[MomentRow] = {
      var s = if (state.exists) state.get()
        else MomentState(0L, 0.0, 0.0, 0.0, 0.0, 0.0)
      rows.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val x = e.value
        // full microsecond precision: getTime truncates to whole ms,
        // but the batch reference casts the µs-precision timestamp to
        // double — parity requires the sub-ms component too
        val y = e.ts.getTime / 1000.0 + (e.ts.getNanos % 1000000) / 1e9
        val n1 = s.n + 1
        val dx = x - s.meanX
        val dy = y - s.meanY
        val meanX = s.meanX + dx / n1
        val meanY = s.meanY + dy / n1
        s = MomentState(n1, meanX, meanY,
          s.m2x + dx * (x - meanX),
          s.m2y + dy * (y - meanY),
          s.cxy + dx * (y - meanY))
      }
      state.update(s)
      if (s.n < 2) Iterator.empty
      else {
        val varV = s.m2x / (s.n - 1)
        val cov = s.cxy / (s.n - 1)
        val denom = math.sqrt(s.m2x) * math.sqrt(s.m2y)
        // zero variance → correlation is UNDEFINED: batch corr() yields
        // NaN there, and parity means reproducing that, not masking it
        val corr = if (denom == 0.0) Double.NaN else s.cxy / denom
        Iterator.single(MomentRow(key, s.n, s.meanX, varV, cov, corr))
      }
    }
  }

  def momentsStream(spark: SparkSession, events: Dataset[Event]): Dataset[MomentRow] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new MomentsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class KeyedItem(key: String, item: String)
  case class DistinctEstimate(key: String, estimate: Double, saturated: Boolean)

  /** Streaming per-key DISTINCT estimation — the streaming twin of the
    * batch `kmv_sketch` aggregate (graft.functions.KmvSketch), holding
    * the same bottom-k sketch as ValueState: ≤ k longs per key FOREVER,
    * regardless of stream length or key cardinality. Because the k
    * smallest hashes of a multiset don't depend on arrival order, batch
    * boundaries are invisible BY ALGEBRA (no replay-order discipline
    * needed, unlike the MG processor): any split of the stream yields
    * the state a single batch would, and the estimate at every prefix
    * equals the batch aggregate over that prefix — exact (and emitted
    * as a whole number) until the key exceeds k distinct items, ~1/√k
    * relative error after. The same hash (xxhash64, seed 42) as the
    * batch side, so persisted batch sketches and streaming state are
    * interchangeable. */
  class KmvDistinctProcessor(k: Int)
      extends StatefulProcessor[String, KeyedItem, DistinctEstimate] {
    @transient private var state: ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Array[Long]]("kmv",
        Encoders.kryo[Array[Long]], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedItem],
        timers: TimerValues): Iterator[DistinctEstimate] = {
      // sign-flipped hashes: natural order == unsigned order (the same
      // encoding the batch aggregate's TreeSet buffer uses)
      val buf = new java.util.TreeSet[java.lang.Long]()
      if (state.exists) state.get().foreach(buf.add(_))
      rows.foreach { r =>
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(r.item),
            org.apache.spark.sql.types.StringType, 42L) ^ Long.MinValue
        if (buf.size < k) { buf.add(h); () }
        else if (h < buf.last()) { if (buf.add(h)) { buf.pollLast(); () } }
      }
      val arr = new Array[Long](buf.size)
      val it = buf.iterator(); var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      state.update(arr)
      val est =
        if (arr.length < k) arr.length.toDouble
        else {
          // theta = unsigned(kth smallest) / 2^64; estimate = (k-1)/theta
          val theta = (arr(k - 1).toDouble / 1.8446744073709552e19) + 0.5
          (k - 1) / theta
        }
      Iterator.single(DistinctEstimate(key, est, arr.length >= k))
    }
  }

  def distinctEstimateStream(spark: SparkSession, items: Dataset[KeyedItem],
      k: Int = 256): Dataset[DistinctEstimate] = {
    import spark.implicits._
    items.groupByKey(_.key)
      .transformWithState(new KmvDistinctProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  case class ClassRisk(qi_class: String, n_rows: Long, n_users: Long,
      at_risk: Boolean, saturated: Boolean)

  /** Streaming k-anonymity risk — the ingest-time twin of
    * `Privacy.kAnonymityOn`: per quasi-identifier class
    * (event_type, UTC day, value band) maintain the row count plus the
    * bottom-k user sketch of [[KmvDistinctProcessor]], and emit the
    * class's at-risk flag after every batch.
    *
    * The state bound and the flag's EXACTNESS compose: the sketch
    * stores at most sketchK user hashes, and while a class holds fewer
    * than sketchK distinct users the distinct count is exact — so with
    * sketchK ≥ kAnon the at-risk DECISION (n_users < kAnon) is always
    * exact, because any class big enough to saturate the sketch has at
    * least sketchK ≥ kAnon users and is not at risk. Saturated classes
    * report n_users = sketchK as a floor (flagged `saturated`); the
    * KMV estimate path exists on [[distinctEstimateStream]] where the
    * magnitude, not the threshold decision, is the product. Same
    * hash/order-independence algebra as the KMV processor: batch
    * boundaries are invisible, so the latest emission per class equals
    * the batch scan over any stream prefix. */
  class ClassRiskProcessor(kAnon: Int, sketchK: Int)
      extends StatefulProcessor[String, Event, ClassRisk] {
    @transient private var rowsSt: ValueState[Long] = _
    @transient private var kmvSt: ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      rowsSt = getHandle.getValueState[Long]("rows",
        Encoders.scalaLong, TTLConfig.NONE)
      kmvSt = getHandle.getValueState[Array[Long]]("kmv",
        Encoders.kryo[Array[Long]], TTLConfig.NONE)
    }
    override def handleInputRows(qiClass: String, rows: Iterator[Event],
        timers: TimerValues): Iterator[ClassRisk] = {
      val buf = new java.util.TreeSet[java.lang.Long]()
      if (kmvSt.exists) kmvSt.get().foreach(buf.add(_))
      var n = if (rowsSt.exists) rowsSt.get() else 0L
      rows.foreach { e =>
        n += 1
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(e.user_id, org.apache.spark.sql.types.LongType, 42L) ^
          Long.MinValue
        if (buf.size < sketchK) { buf.add(h); () }
        else if (h < buf.last()) { if (buf.add(h)) { buf.pollLast(); () } }
      }
      rowsSt.update(n)
      val arr = new Array[Long](buf.size)
      val it = buf.iterator(); var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      kmvSt.update(arr)
      val saturated = arr.length >= sketchK
      Iterator.single(ClassRisk(qiClass, n, arr.length.toLong,
        at_risk = arr.length < kAnon, saturated = saturated))
    }
  }

  /** QI-class key: event_type | UTC day | value band of 100 — the same
    * class definition as the batch scan. */
  private[graft] def qiClassOf(e: Event): String = {
    val day = java.time.Instant.ofEpochMilli(e.ts.getTime)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    s"${e.event_type}|$day|${math.floor(e.value / 100).toLong}"
  }

  def riskStream(spark: SparkSession, events: Dataset[Event],
      kAnon: Int = 5, sketchK: Int = 1024): Dataset[ClassRisk] = {
    import spark.implicits._
    require(sketchK >= kAnon,
      s"sketchK ($sketchK) must be >= kAnon ($kAnon) or the at-risk " +
        "flag loses exactness at saturation")
    events.groupByKey(qiClassOf)
      .transformWithState(new ClassRiskProcessor(kAnon, sketchK),
        TimeMode.None(), OutputMode.Update())
  }

  case class ScoredDoc(lang: String, s: Double)
  case class TierRow(lang: String, tier: Long, n_docs: Long,
    best_lp: Double, worst_lp: Double)
  case class TierDistState(scores: Seq[Double], counts: Seq[Long])

  /** Streaming per-language quality-tier maintenance — the streaming
    * twin of [[graft.operators.TextAnalysis.qualityTiers]]. State per
    * language is the DISCRETE score distribution (rounded score →
    * count): scores are 4-decimal rounded by the batch scoring
    * contract, so state is bounded by the representable rounded values
    * in the score range (tens of thousands of entries worst-case),
    * regardless of stream length. Each batch folds arrivals into the
    * distribution — a bag sum, order-independent by algebra, so batch
    * boundaries are invisible with no replay-order discipline — then
    * re-derives every tier row with the batch operator's exact integer
    * arithmetic (docs-strictly-better × k div n + 1): the latest
    * emission per language equals the batch query over that prefix.
    * Scores arrive pre-computed (the offline-vocabulary split every
    * production scorer uses: the LM trains batch-side, streaming
    * documents are scored against the frozen vocabulary). */
  class TierDistProcessor(nTiers: Int)
      extends StatefulProcessor[String, ScoredDoc, TierRow] {
    @transient private var state: ValueState[TierDistState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TierDistState]("dist",
        Encoders.product[TierDistState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[ScoredDoc],
        timers: TimerValues): Iterator[TierRow] = {
      val buf = scala.collection.mutable.HashMap.empty[Double, Long]
      if (state.exists) {
        val st = state.get()
        st.scores.zip(st.counts).foreach { case (s, c) => buf(s) = c }
      }
      rows.foreach { d => buf(d.s) = buf.getOrElse(d.s, 0L) + 1L }
      val sorted = buf.toSeq.sortBy(-_._1) // best (highest) score first
      state.update(TierDistState(sorted.map(_._1), sorted.map(_._2)))
      val n = sorted.iterator.map(_._2).sum
      var nbetter = 0L
      val tiers =
        scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Double, Double)]
      sorted.foreach { case (s, cnt) =>
        val tier = nbetter * nTiers / n + 1L
        tiers.get(tier) match {
          // groups arrive best-first, so first-seen = best_lp and the
          // running overwrite = worst_lp
          case Some((nd, best, _)) => tiers(tier) = (nd + cnt, best, s)
          case None => tiers(tier) = (cnt, s, s)
        }
        nbetter += cnt
      }
      tiers.iterator.map { case (t, (nd, best, worst)) =>
        TierRow(key, t, nd, best, worst)
      }
    }
  }

  def tierStream(spark: SparkSession, docs: Dataset[ScoredDoc],
      nTiers: Int = 3): Dataset[TierRow] = {
    import spark.implicits._
    docs.groupByKey(_.lang)
      .transformWithState(new TierDistProcessor(nTiers),
        TimeMode.None(), OutputMode.Update())
  }

  /** Run `body` on every micro-batch of `rows` — the one path that
    * keeps a persisted index current under a stream of arrivals:
    * `foreachBatchStream(docs, ckpt)((b, _) =>
    * Dedup.appendToMinhashIndex(spark, idx, b))` appends each wave, and
    * a body that writes `Dedup.probeMinhashIndex(spark, idx, b)` to
    * parquet probes with it. A wave costs O(batch), and `stream
    * appends then probe ≡ batch rebuild then probe` (spec-proved per
    * family). `batchId` counts micro-batches from 0 and repeats on a
    * replay.
    *
    * Delivery is at-least-once: a batch the query has not recorded in
    * `checkpoint` when it dies runs again after the restart.
    *  - every index `appendToX` stages its wave through
    *    [[graft.sources.FormatIO.stageIndexEpoch]]: a wave that dies
    *    before its `epoch-E` marker leaves rows no probe reads, and the
    *    retry scrubs them before it reuses E;
    *  - a crash after the marker, but before the stream commits the
    *    batch, replays the batch as a new epoch: the index holds it
    *    twice. Probes dedup or verify candidates; each `appendToX`
    *    says what a double append still changes (the CMS sketch stages
    *    no epoch at all);
    *  - parquet a batch writes (probe rows, curated rows) is appended
    *    again on replay. */
  def foreachBatchStream(rows: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** Streaming COMPONENT-LABEL maintenance — the label-level completion
    * of the streaming dedup story: a MinHash index probe stream turns
    * arriving docs into candidate PAIRS; this stream folds an edge
    * stream into a persistent (id, component) labels snapshot via
    * `Graph.incrementalComponents`, so "which duplicate GROUP is this
    * doc in" is answerable at any instant without a full recompute.
    *
    * Why foreachBatch and not transformWithState: connected components
    * is a GLOBAL fixpoint — an edge arriving under one key can relabel
    * nodes held under any other key, so per-key state (the
    * transformWithState contract) cannot express the merge without
    * funneling every edge through one key (a single-partition
    * bottleneck by construction). Per-batch incremental CC keeps the
    * work distributed AND bounded: each wave costs O(blast radius of
    * the batch's edges), untouched components pass through unread —
    * the same math as the batch ingest path, driven by the stream.
    *
    * The labels snapshot is published through [[swapSnapshot]], so a
    * replayed batch re-derives the same snapshot and the sink stays
    * idempotent. */
  def componentStream(edges: DataFrame, labelsPath: String,
      checkpointPath: String, srcCol: String = "src", dstCol: String = "dst")
      : StreamingQuery =
    foreachBatchStream(edges, checkpointPath) { (batch, _) =>
      val sp = batch.sparkSession
      swapSnapshot(sp, labelsPath)(old => graft.operators.Graph
        .incrementalComponents(old.getOrElse(sp.createDataFrame(
            sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(
              "id BIGINT, component BIGINT"))),
          batch, srcCol, dstCol))
    }

  /** Read a streaming query's STATE STORE as a batch DataFrame (the
    * Spark 4 `statestore` data source): (key, value, partition_id)
    * rows straight from the checkpoint — the ops path for "what is my
    * streaming job holding right now" (debugging a hot key, auditing
    * watermark-bounded state growth, backfilling from state) without
    * stopping the job or adding instrumentation to it. `batchId`
    * selects a historical snapshot; `operatorId`/`storeName` address
    * multi-operator/multi-store queries (transformWithState exposes
    * one store per state variable). */
  def readStateStore(spark: SparkSession, checkpoint: String,
      batchId: Option[Long] = None, operatorId: Int = 0,
      storeName: Option[String] = None): DataFrame = {
    var r = spark.read.format("statestore")
      .option("operatorId", operatorId.toString)
    batchId.foreach(b => r = r.option("batchId", b.toString))
    storeName.foreach(s => r = r.option("storeName", s))
    r.load(checkpoint)
  }

  /** THE FULL INGEST LOOP as one stream — the topology the index
    * append/probe machinery exists for: each micro-batch of arriving
    * documents is CURATED against the current corpus
    * ([[graft.operators.Pipeline.curateIncrement]] — exact/near dedup,
    * bidirectional decontamination, gates, all O(batch) index probes),
    * the curated rows land in `outPath`, and the SURVIVORS are
    * APPENDED into both corpus indexes — so the NEXT wave dedups
    * against them. The corpus is the curated set, which is why only
    * survivors are admitted (appending dropped near-dups would grow
    * the index with copies the corpus rejected; the recall trade — a
    * future doc duplicating a DROPPED doc but not its kept twin slips
    * through — is the standard curated-corpus contract). The curation
    * result is materialized BEFORE the appends so a batch can never
    * probe index rows it is itself writing. Replays follow
    * [[foreachBatchStream]]. */
  def curationIncrementStream(spark: SparkSession, docs: DataFrame,
      mhIndex: String, contIndex: String, outPath: String,
      checkpoint: String, minQuality: Double = 0.3): StreamingQuery =
    foreachBatchStream(docs, checkpoint) { (batch, _) =>
      // ONE materialized copy of the micro-batch: a foreachBatch
      // frame is not reliably re-scannable after its first action
      // (a second evaluation can come back empty), and a silently
      // empty survivor append here would freeze the corpus — every
      // later wave would curate against a stale index
      val docsB = batch.select(col("doc_id"), col("text")).localCheckpoint()
      val curated = graft.operators.Pipeline
        .curateIncrement(spark, mhIndex, contIndex, docsB, minQuality)
        .localCheckpoint()
      curated.write.mode("append").parquet(outPath)
      val survivors = docsB
        .join(curated.select(col("doc_id")), Seq("doc_id"), "left_semi")
      graft.operators.Dedup.appendToMinhashIndex(spark, mhIndex, survivors)
      graft.operators.Dedup.appendToContainmentIndex(spark, contIndex,
        survivors)
    }

  case class ViewPtr(view_id: Long, view_ts: Timestamp)
  case class AsOfMatch(event_id: Long, user_id: Long, ts: Timestamp,
      last_view_id: Option[Long], last_view_ts: Option[Timestamp])

  /** Full-precision event-time ordering key — `Timestamp.getTime` is
    * ms-truncated and a µs-level tie would mis-order the walk.
    * `floorDiv` (not `/`): truncating division rounds pre-epoch
    * timestamps TOWARD zero, putting sub-second events before 1970
    * into the wrong seconds bucket relative to their whole-second
    * neighbors (`getNanos` is always the non-negative fraction). */
  private def tsKey(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000000L + t.getNanos

  /** Streaming AS-OF join — the stateful twin of `Temporal.asofJoin` /
    * the custom AsOfJoin Catalyst operator: every arriving purchase is
    * matched to the most recent view of the same user with
    * view_ts ≤ purchase_ts (equal timestamps match, like the batch
    * window's view-first ordering). Spark's built-in stream-stream
    * joins can express interval predicates ([[purchaseViewJoin]]) but
    * not "the single LATEST prior row", so this is `transformWithState`
    * with ONE ViewPtr per user — state is O(users), never O(views):
    * the batch operator's whole-log window re-scan becomes an O(batch)
    * pointer update per wave.
    *
    * Each micro-batch walks its rows in full-precision event-time
    * order (views before purchases on ties, event_id as final key), so
    * batch boundaries are invisible whenever arrivals are event-time
    * ordered ACROSS batches — the same parity contract as the funnel
    * cursor, spec-proved against the batch operator on the real log.
    * A purchase arriving LATE (behind a newer view pointer) emits a
    * null match rather than resurrecting an already-replaced older
    * view — the standard streaming caveat, corrected by batch
    * backfill. `toleranceMs` mirrors the native operator's staleness
    * bound: matches older than the tolerance emit null. */
  class AsOfJoinProcessor(toleranceMs: Long = Long.MaxValue)
      extends StatefulProcessor[Long, Event, AsOfMatch] {
    @transient private var ptr: ValueState[ViewPtr] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ptr = getHandle.getValueState[ViewPtr]("last_view",
        Encoders.product[ViewPtr], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[AsOfMatch] = {
      val sorted = rows.toArray.sortBy(e =>
        (tsKey(e.ts), if (e.event_type == "view") 0 else 1, e.event_id))
      val out = Vector.newBuilder[AsOfMatch]
      var cur = if (ptr.exists) Some(ptr.get()) else None
      sorted.foreach {
        case v if v.event_type == "view" =>
          // advance-only: an out-of-order old view must not rewind the
          // pointer the ordered stream has already moved past
          if (cur.forall(c => tsKey(v.ts) > tsKey(c.view_ts) ||
              (tsKey(v.ts) == tsKey(c.view_ts) && v.event_id > c.view_id)))
            cur = Some(ViewPtr(v.event_id, v.ts))
        case p if p.event_type == "purchase" =>
          val m = cur.filter(c => tsKey(c.view_ts) <= tsKey(p.ts) &&
            p.ts.getTime - c.view_ts.getTime <= toleranceMs)
          out += AsOfMatch(p.event_id, userId, p.ts,
            m.map(_.view_id), m.map(_.view_ts))
        case _ => ()
      }
      cur.foreach(ptr.update)
      out.result().iterator
    }
  }

  def asofJoinStream(spark: SparkSession, events: Dataset[Event],
      toleranceMs: Long = Long.MaxValue): Dataset[AsOfMatch] = {
    import spark.implicits._
    events.filter(e => e.event_type == "view" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .transformWithState(new AsOfJoinProcessor(toleranceMs),
        TimeMode.None(), OutputMode.Update())
  }

  case class LastEvent(etype: String, ts_key: Long, event_id: Long)
  case class TransitionDelta(from_type: String, to_type: String, dn: Long)

  /** Streaming Markov transition maintenance — the stateful twin of
    * `Behavioral.markovTransitions`: per user, ONE LastEvent pointer
    * (state O(users)); each micro-batch walks its rows in
    * full-precision event-time order and emits the batch's transition
    * count DELTAS (from_type, to_type, +n). Summing every emitted
    * delta equals the batch operator's counts whenever arrivals are
    * event-time ordered across batches (the funnel/as-of parity
    * contract, spec-proved on the real log); an event arriving BEHIND
    * the advanced pointer is dropped, never counted backwards. Deltas
    * rather than running totals keep the processor append-only and the
    * downstream aggregation a plain streaming sum. */
  class MarkovProcessor extends StatefulProcessor[Long, Event, TransitionDelta] {
    @transient private var last: ValueState[LastEvent] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastEvent]("last_event",
        Encoders.product[LastEvent], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[TransitionDelta] = {
      val sorted = rows.toArray.sortBy(e => (tsKey(e.ts), e.event_id))
      var cur = if (last.exists) Some(last.get()) else None
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      sorted.foreach { e =>
        val k = tsKey(e.ts)
        cur match {
          case Some(p) if k > p.ts_key ||
              (k == p.ts_key && e.event_id > p.event_id) =>
            counts((p.etype, e.event_type)) =
              counts.getOrElse((p.etype, e.event_type), 0L) + 1L
            cur = Some(LastEvent(e.event_type, k, e.event_id))
          case Some(_) => () // late: behind the pointer, dropped
          case None => cur = Some(LastEvent(e.event_type, k, e.event_id))
        }
      }
      cur.foreach(last.update)
      counts.iterator.map { case ((f, t), n) => TransitionDelta(f, t, n) }
        .toIndexedSeq.sortBy(d => (d.from_type, d.to_type)).iterator
    }
  }

  def markovStream(spark: SparkSession, events: Dataset[Event]): Dataset[TransitionDelta] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new MarkovProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** STREAMING DISTRIBUTION-DRIFT MONITOR: every micro-batch of
    * arriving documents is scored for total-variation distance
    * against a fixed REFERENCE unigram distribution (the curated
    * corpus's token counts — computed once, passed as a (tok, c)
    * frame), and one (batch_id, n_ref, n_cur, tv_num, tv_den, tv)
    * row lands in `outTable` per batch — the alarm feed a 100 TB
    * ingest pipeline watches to catch a crawler feeding it a
    * different distribution than the one the mixture was tuned on.
    * Replays [[graft.operators.Quality.tvDistance]] per batch, so the
    * streamed reading is DEFINITIONALLY the batch reading of the same
    * rows (parity spec); cost per batch is O(batch vocabulary) plus
    * one broadcast of the reference counts. */
  def tvDriftMonitorStream(spark: SparkSession, docs: DataFrame,
      refCounts: DataFrame, outTable: String, checkpoint: String)
      : StreamingQuery =
    foreachBatchStream(docs, checkpoint) { (batch, batchId) =>
      val counts = batch
        .select(explode(split(lower(trim(col("text"))), "\\s+"))
          .as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      graft.operators.Quality.tvDistance(refCounts, counts)
        .withColumn("batch_id", lit(batchId))
        .write.format("parquet").mode("append").saveAsTable(outTable)
    }

  case class LangDoc(doc_id: Long, lang: String, text: String)
  case class ReservoirEntry(es_key: Double, doc_id: Long, n_tokens: Long)
  case class ReservoirState(rev: Long, entries: Seq[ReservoirEntry])
  case class ReservoirRow(lang: String, rev: Long, doc_id: Long,
      es_key: Double, n_tokens: Long)

  /** Streaming WEIGHTED RESERVOIR per language — the stateful twin of
    * [[graft.operators.Sampling.weightedSamplePerGroup]]: Efraimidis–
    * Spirakis keys are a PURE FUNCTION of the doc id (13 md5 hex
    * digits → u, then round(ln(u)/weight, 9) with the exact BigDecimal
    * HALF_UP rounding the batch `round` applies), so the streaming
    * top-n and the batch top-n over the same log are BIT-IDENTICAL —
    * no randomness to reconcile, and a replayed doc recomputes the
    * same key and dedupes away (at-least-once safe by construction).
    * State per language is the current n-entry reservoir, bounded by n
    * forever; each batch emits the updated reservoir (Update mode), so
    * the last emission ≡ the batch sample of the whole log. */
  class ReservoirProcessor(n: Int)
      extends StatefulProcessor[String, LangDoc, ReservoirRow] {
    @transient private var state: ValueState[ReservoirState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[ReservoirState]("reservoir",
        Encoders.product[ReservoirState], TTLConfig.NONE)

    private def esKey(docId: Long, weight: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) /
        math.pow(16.0, 13)
      BigDecimal(math.log(u) / weight)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    override def handleInputRows(key: String, rows: Iterator[LangDoc],
        timers: TimerValues): Iterator[ReservoirRow] = {
      val st = if (state.exists) state.get()
        else ReservoirState(0L, Seq.empty)
      val fresh = rows.map { d =>
        // EXACT batch-twin tokenization (greatest(size(split(lower(
        // trim(text)), "\s+")), 1)): UTF8String.trim strips only
        // space (SQL trim) — Java String.trim would also eat \t/\n/\r
        // and drop the leading empty token SQL keeps — UTF8String
        // .toLowerCase is SQL lower's exact path, and limit −1 keeps
        // trailing empties like SQL split does
        val w = math.max(org.apache.spark.unsafe.types.UTF8String
          .fromString(d.text).trim().toLowerCase().toString
          .split("\\s+", -1).length.toLong, 1L)
        ReservoirEntry(esKey(d.doc_id, w), d.doc_id, w)
      }.toSeq
      val merged = (st.entries ++ fresh)
        .groupBy(_.doc_id).map(_._2.head).toSeq // replay dedupe
        .sortBy(e => (-e.es_key, e.doc_id))
        .take(n)
      val rev = st.rev + 1
      state.update(ReservoirState(rev, merged))
      // rev tags each emission so a sink can isolate the LATEST
      // reservoir per language (membership shrinks as better keys
      // arrive — last-row-per-doc would keep stale members)
      merged.iterator.map(e =>
        ReservoirRow(key, rev, e.doc_id, e.es_key, e.n_tokens))
    }
  }

  def reservoirStream(spark: SparkSession, docs: Dataset[LangDoc],
      n: Int = 20): Dataset[ReservoirRow] = {
    import spark.implicits._
    docs.groupByKey(_.lang)
      .transformWithState(new ReservoirProcessor(n),
        TimeMode.None(), OutputMode.Update())
  }

  case class SiteItem(site: String, item: String)
  case class MgEntry(item: String, cnt: Long)
  case class MgState(rev: Long, n: Long, entries: Seq[MgEntry])
  case class MgSummaryRow(site: String, rev: Long, item: String,
      cnt: Long, n: Long)

  /** Streaming per-site MISRA–GRIES summary — the live face of
    * [[graft.operators.Federation.federatedHeavyHitters]]: each site's
    * event stream folds into a capacity-k MG counter map (the exact
    * update rule of the batch `heavyHitters` aggregate: increment if
    * tracked, insert while < k slots, else decrement-all-and-drop),
    * and every micro-batch emits the full summary under a new
    * revision so a sink isolates the LIVE summary per site (the
    * reservoir emission discipline) and ships it to the consortium
    * merge ([[graft.operators.Federation]]'s pointwise-add +
    * (k+1)-cut) — federated top-k that is always current, rows still
    * never leaving their site. State is ≤ k entries + two longs per
    * site FOREVER. Guarantees: while a site's distinct items ≤ k the
    * summary IS its exact counts (bit-equal to the batch groupBy);
    * saturated, every counter undercounts by ≤ n_site/(k+1) and any
    * item with frequency > n_site/(k+1) is tracked — the same MG
    * bound the central merge composes to N/(k+1). Restart-safe
    * (transformWithState versions state per batch); duplicate SOURCE
    * deliveries count twice, exactly as they would in the batch
    * aggregate fed the same duplicated rows. */
  class MgSummaryProcessor(k: Int)
      extends StatefulProcessor[String, SiteItem, MgSummaryRow] {
    @transient private var state: ValueState[MgState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MgState]("mg",
        Encoders.product[MgState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[SiteItem],
        timers: TimerValues): Iterator[MgSummaryRow] = {
      val st = if (state.exists) state.get() else MgState(0L, 0L, Seq.empty)
      val buf = scala.collection.mutable.HashMap
        .from(st.entries.map(e => e.item -> e.cnt))
      var n = st.n
      rows.foreach { r =>
        n += 1
        buf.get(r.item) match {
          case Some(c) => buf(r.item) = c + 1
          case None if buf.size < k => buf(r.item) = 1L
          case None =>
            val dead = List.newBuilder[String]
            buf.foreach { case (item, c) =>
              if (c == 1L) dead += item else buf(item) = c - 1
            }
            dead.result().foreach(buf.remove)
        }
      }
      val rev = st.rev + 1
      val entries = buf.toSeq.sortBy { case (i, c) => (-c, i) }
        .map { case (i, c) => MgEntry(i, c) }
      state.update(MgState(rev, n, entries))
      entries.iterator.map(e => MgSummaryRow(key, rev, e.item, e.cnt, n))
    }
  }

  def mgSummaryStream(spark: SparkSession, items: Dataset[SiteItem],
      k: Int = 64): Dataset[MgSummaryRow] = {
    import spark.implicits._
    items.groupByKey(_.site)
      .transformWithState(new MgSummaryProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  case class Touch(t_us: Long, t_id: Long, channel: String)
  case class TouchState(touches: Seq[Touch])
  case class AttributionCredit(p_id: Long, user_id: Long,
      first_channel: String, last_channel: String)

  /** Streaming FIRST/LAST-TOUCH ATTRIBUTION — the real-time face of
    * [[graft.operators.Behavioral.attribution]]: per user the state is
    * the non-purchase touches still inside the lookback horizon; each
    * purchase emits its credit row the moment it arrives (earliest and
    * latest touch in [p − lookback, p), strict on the left of the
    * purchase — an equal-timestamp touch earns nothing, matching the
    * batch operator's t_s < p_s). Touches older than the newest
    * event's lookback prune immediately (an in-order log can never
    * credit them again), so state per user is bounded by the user's
    * activity inside one lookback window. Parity law: on an in-order
    * log, per-channel credit counts ≡ the batch operator's ledger
    * (including the "(none)" row). */
  class AttributionProcessor(lookbackUs: Long)
      extends StatefulProcessor[Long, Event, AttributionCredit] {
    @transient private var state: ValueState[TouchState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TouchState]("touches",
        Encoders.product[TouchState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[AttributionCredit] = {
      var touches = if (state.exists) state.get().touches else Seq.empty
      val out = Seq.newBuilder[AttributionCredit]
      rows.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
        if (e.event_type == "purchase") {
          val cands = touches.filter(t =>
            t.t_us < us && t.t_us >= us - lookbackUs)
          if (cands.isEmpty)
            out += AttributionCredit(e.event_id, key, "(none)", "(none)")
          else {
            val first = cands.minBy(t => (t.t_us, t.t_id))
            val last = cands.maxBy(t => (t.t_us, t.t_id))
            out += AttributionCredit(e.event_id, key,
              first.channel, last.channel)
          }
        } else {
          touches = touches :+ Touch(us, e.event_id, e.event_type)
        }
        // an in-order log can never credit a touch older than the
        // newest event's horizon — prune keeps state window-bounded
        touches = touches.filter(_.t_us >= us - lookbackUs)
      }
      state.update(TouchState(touches))
      out.result().iterator
    }
  }

  def attributionStream(spark: SparkSession, events: Dataset[Event],
      lookbackDays: Int = 7): Dataset[AttributionCredit] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor(
        lookbackDays * 86400000000L), TimeMode.None(), OutputMode.Append())
  }
}
