package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.Event
import java.sql.Timestamp

/** Drives the streaming topologies synchronously through MemoryStream.
  * Each asserts parity with the corresponding batch operator's
  * semantics. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")
  private def tsH(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("windowed counts with watermark aggregate by 5-minute buckets") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    input.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 2.0),
      Event(3, ts(7), 11, "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close earlier windows
    input.addData(Event(4, tsH(1, 0), 12, "click", 4.0))
    q.processAllAvailable()
    val rows = sp.sql("SELECT * FROM win_out ORDER BY win_start, event_type")
      .collect()
    q.stop()
    assert(rows.length >= 2)
    val first = rows.head
    assert(first.getAs[String]("event_type") == "click")
    assert(first.getAs[Long]("n") == 2L)
    assert(first.getAs[Double]("total_value") == 3.0)
  }

  test("streaming dedup drops repeated event ids within the watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "view", 2.0))
    q.processAllAvailable()
    input.addData(Event(1, ts(3), 10, "click", 1.0)) // dup again
    q.processAllAvailable()
    val n = sp.sql("SELECT count(*) FROM dedup_out").head.getLong(0)
    q.stop()
    assert(n == 2L, s"expected 2 unique events, got $n")
  }

  test("stateful latest-status matches batch latest-status semantics") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.latestStatus(sp, input.toDS())
      .writeStream.format("memory").queryName("status_out")
      .outputMode("update").start()
    input.addData(
      Event(1, ts(1), 10, "signup", 0.0),
      Event(2, ts(5), 10, "purchase", 9.0))
    q.processAllAvailable()
    input.addData(Event(3, ts(3), 10, "click", 1.0)) // older than purchase
    q.processAllAvailable()
    val last = sp.sql(
      "SELECT last_status FROM status_out ORDER BY last_ts DESC LIMIT 1")
      .head.getString(0)
    q.stop()
    assert(last == "purchase", "out-of-order event must not overwrite newer state")
  }

  test("file-source stream of real events matches the batch windowed agg") {
    val sp = spark
    import sp.implicits._
    val batchEvents = graft.sources.Tables.events(sp, sf)
      .select($"ts", $"event_type", $"value")
    // stream the same rows through a file source (write once, readStream)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val streamed = sp.readStream.schema(batchEvents.schema).parquet(dir)
    val q = Streams.windowedCounts(streamed)
      .writeStream.format("memory").queryName("file_win_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamTotal = sp.sql("SELECT sum(n) FROM file_win_out").head.getLong(0)
      val streamWindows = sp.sql("SELECT count(*) FROM file_win_out").head.getLong(0)
      val batch = batchEvents
        .groupBy(window($"ts", "5 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
      assert(streamTotal == batchEvents.count())
      assert(streamWindows == batch.count())
    } finally q.stop()
  }

  test("stream-stream interval join matches views to following purchases") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.purchaseViewJoin(input.toDF())
      .writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    input.addData(
      Event(1, ts(10), 10, "view", 1.0),
      Event(2, ts(30), 10, "purchase", 9.0), // view 20 min earlier -> match
      Event(3, ts(5), 11, "purchase", 5.0)) // no prior view -> no row
    q.processAllAvailable()
    val rows = sp.sql("SELECT p_id, v_id FROM ss_join_out").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 2L && rows.head.getLong(1) == 1L)
  }

  test("stream-stream LEFT OUTER join: matched purchases attribute, " +
    "unmatched emit null views only after the watermark closes the window") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.purchaseViewJoinOuter(input.toDF())
      .writeStream.format("memory").queryName("ss_outer_out")
      .outputMode("append").start()
    input.addData(
      Event(1, ts(10), 10, "view", 1.0),
      Event(2, ts(30), 10, "purchase", 9.0), // attributed to view 1
      Event(3, ts(5), 11, "purchase", 5.0)) // no view -> null row later
    q.processAllAvailable()
    val early = sp.sql("SELECT p_id FROM ss_outer_out WHERE v_id IS NULL").count()
    assert(early == 0,
      "outer result emitted before the watermark could prove no view arrives")
    // advance event time far past purchase 3's window + watermark:
    // the engine must now emit the unmatched purchase with null views
    input.addData(Event(99, tsH(5, 0), 12, "view", 0.0))
    q.processAllAvailable()
    input.addData(Event(100, tsH(6, 0), 12, "view", 0.0))
    q.processAllAvailable()
    val rows = sp.sql(
      "SELECT p_id, v_id FROM ss_outer_out ORDER BY p_id").collect()
    q.stop()
    val matched = rows.filter(r => !r.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1)))
    val unmatched = rows.filter(_.isNullAt(1)).map(_.getLong(0))
    assert(matched.toSeq == Seq((2L, 1L)), s"attribution wrong: ${matched.toSeq}")
    assert(unmatched.contains(3L),
      s"unmatched purchase 3 never emitted its null row: ${rows.mkString(",")}")
  }

  test("stream-static broadcast enrichment joins the user dimension") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dim = Seq((10L, "site_a"), (11L, "site_b")).toDF("user_id", "site")
    val input = MemoryStream[Event]
    val q = Streams.enrichWithUsers(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    input.addData(Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 99, "click", 1.0)) // no dim row -> null site
    q.processAllAvailable()
    val rows = sp.sql("SELECT event_id, site FROM enrich_out ORDER BY event_id")
      .collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "site_a")
    assert(rows(1).isNullAt(1))
  }

  test("streaming parquet sink with checkpoint persists windowed output") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[Event]
    val q = Streams.windowedCounts(input.toDF())
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    input.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 2.0))
    q.processAllAvailable()
    input.addData(Event(3, tsH(2, 0), 11, "view", 3.0)) // advances watermark
    q.processAllAvailable()
    q.stop()
    val persisted = sp.read.parquet(outDir)
    assert(persisted.count() >= 1)
    assert(persisted.columns.toSet ==
      Set("win_start", "win_end", "event_type", "n", "total_value"))
  }

  test("transformWithState latest-status matches mapGroupsWithState semantics") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = Streams.latestStatusTws(sp, input.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      input.addData(
        Event(1, ts(1), 10, "signup", 0.0),
        Event(2, ts(5), 10, "purchase", 9.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(3), 10, "click", 1.0)) // older: must not win
      q.processAllAvailable()
      val last = sp.sql(
        "SELECT last_status FROM tws_out ORDER BY last_ts DESC LIMIT 1")
        .head.getString(0)
      q.stop()
      assert(last == "purchase")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch upsert sink maintains a latest-status snapshot " +
    "across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val snap = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snap-ck").toString
    val input = MemoryStream[Event]
    val q = Streams.upsertSink(input.toDS().toDF(), snap, ckpt)
    input.addData(
      Event(1, ts(1), 10, "signup", 0.0),
      Event(2, ts(2), 20, "view", 1.0))
    q.processAllAvailable()
    input.addData(
      Event(3, ts(5), 10, "purchase", 9.0),  // upserts user 10
      Event(4, ts(3), 20, "click", 0.0))     // newer than event 2 → wins
    q.processAllAvailable()
    q.stop()
    val snapRows = sp.read.parquet(snap)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("event_type"))
      .toMap
    assert(snapRows == Map(10L -> "purchase", 20L -> "click"),
      s"unexpected snapshot: $snapRows")
    // snapshot has exactly one row per key — the upsert contract
    assert(sp.read.parquet(snap).count() == 2)
  }

  test("upsert snapshot recovery: a partial staging dir (no _SUCCESS " +
    "commit marker) is discarded, not promoted to the live snapshot") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-snap-rec").toString
    val snap = base + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snap-rec-ck").toString
    // simulate a crash mid-write of the very first batch: a staging dir
    // exists with parquet debris but no _SUCCESS marker, and no live
    // snapshot to fall back to
    assert(new java.io.File(snap + ".staging").mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(snap + ".staging/part-00000.parquet"),
      Array[Byte](1, 2, 3)) // truncated garbage, unreadable as parquet
    val input = MemoryStream[Event]
    val q = Streams.upsertSink(input.toDS().toDF(), snap, ckpt)
    input.addData(
      Event(1, ts(1), 10, "signup", 0.0),
      Event(2, ts(2), 20, "view", 1.0),
      Event(3, ts(5), 10, "purchase", 9.0))
    q.processAllAvailable()
    q.stop()
    // the stream self-healed: garbage staging was deleted (not renamed
    // over the snapshot) and the batch derived the right snapshot
    val got = sp.read.parquet(snap)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("event_type"))
      .toMap
    assert(got == Map(10L -> "purchase", 20L -> "view"),
      s"recovery produced the wrong snapshot: $got")
    assert(!new java.io.File(snap + ".staging").exists(),
      "the staging dir must not survive a completed swap")
  }

  test("streaming fingerprint dedup: first doc kept, later content " +
    "duplicates flagged across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.Doc]
      val q = Streams.fingerprintDedupStream(sp, input.toDS(), ttl = null)
        .writeStream.format("memory").queryName("fp_dedup_out")
        .outputMode("update").start()
      input.addData(
        Streams.Doc(1, ts(1), "alpha beta gamma"),
        Streams.Doc(2, ts(2), "totally different words here"),
        Streams.Doc(3, ts(3), "  Alpha   BETA gamma ")) // normalized dup of 1
      q.processAllAvailable()
      input.addData(
        Streams.Doc(4, ts(4), "alpha beta gamma"), // dup across batches
        Streams.Doc(5, ts(5), "yet another novel document"))
      q.processAllAvailable()
      val out = sp.sql("SELECT doc_id, is_dup FROM fp_dedup_out")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      q.stop()
      assert(out == Map(1L -> false, 2L -> false, 3L -> true,
        4L -> true, 5L -> false),
        s"unexpected verdicts: $out")
      // TTL path smoke: a TTL needs ProcessingTime mode, in which
      // transformWithState asks for another batch on every trigger (a
      // no-data micro-batch each time) — processAllAvailable never
      // returns, so poll the sink with a deadline instead
      val input2 = MemoryStream[Streams.Doc]
      val q2 = Streams.fingerprintDedupStream(sp, input2.toDS(),
        ttl = java.time.Duration.ofHours(1))
        .writeStream.format("memory").queryName("fp_dedup_ttl_out")
        .outputMode("update").start()
      input2.addData(
        Streams.Doc(11, ts(1), "ttl path one"),
        Streams.Doc(12, ts(2), "ttl path one"))
      val deadline = System.currentTimeMillis() + 120000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.length < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        rows = sp.sql("SELECT doc_id, is_dup FROM fp_dedup_ttl_out").collect()
      }
      q2.stop()
      val ttlOut = rows.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(ttlOut == Map(11L -> false, 12L -> true),
        s"TTL path verdicts wrong or timed out: $ttlOut")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming curation: quality gate drops junk before state, dedup " +
    "verdicts only for survivors") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val good = "the quick brown fox jumps over the lazy dog and runs for the hills"
      val junk = "!!!???###"
      val input = MemoryStream[Streams.Doc]
      val q = Streams.curationStream(sp, input.toDS(), ttl = null)
        .writeStream.format("memory").queryName("cur_out")
        .outputMode("update").start()
      input.addData(
        Streams.Doc(1, ts(1), good),
        Streams.Doc(2, ts(2), junk),  // fails the quality gate
        Streams.Doc(3, ts(3), good))  // dup of 1
      q.processAllAvailable()
      val rows = sp.sql("SELECT doc_id, is_dup FROM cur_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      q.stop()
      assert(rows == Map(1L -> false, 3L -> true),
        s"junk must never reach the dedup state, dup must be flagged: $rows")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming MinHash index emits candidate pairs for near-dup " +
    "arrivals across micro-batches, none for unrelated docs") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dupText = "the quick brown fox jumps over the lazy dog again and again"
      val input = MemoryStream[Streams.Doc]
      val q = Streams.minhashIndexStream(sp, input.toDS())
        .writeStream.format("memory").queryName("mh_idx_out")
        .outputMode("append").start()
      input.addData(
        Streams.Doc(1, ts(1), dupText),
        Streams.Doc(2, ts(2), dupText), // identical → collides in all bands
        Streams.Doc(3, ts(3), "completely unrelated content about spark physical plans"))
      q.processAllAvailable()
      input.addData(
        Streams.Doc(4, ts(4), dupText)) // dup arriving later: index remembers
      q.processAllAvailable()
      val pairs = sp.sql("SELECT DISTINCT doc_a, doc_b FROM mh_idx_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      q.stop()
      assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)),
        s"unexpected candidate pairs: $pairs")
      // no self pairs, ordered pairs only
      assert(pairs.forall { case (a, b) => a < b })
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming MinHash index: saturated bucket evicts by recency — " +
    "later dups pair with the RECENT resident, state stays bounded") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dupText = "the quick brown fox jumps over the lazy dog again and again"
      val input = MemoryStream[Streams.Doc]
      val q = Streams.minhashIndexStream(sp, input.toDS(), maxBucket = 1)
        .writeStream.format("memory").queryName("mh_full_out")
        .outputMode("append").start()
      input.addData(Streams.Doc(1, ts(1), dupText))
      q.processAllAvailable()
      // bucket at cap (1 resident). An arrival pairs with the resident
      // and REPLACES it (drop-oldest), so the next arrival pairs with
      // the recent doc instead of the frozen first one.
      input.addData(Streams.Doc(2, ts(2), dupText))
      q.processAllAvailable()
      input.addData(Streams.Doc(3, ts(3), dupText))
      q.processAllAvailable()
      val pairs = sp.sql("SELECT DISTINCT doc_a, doc_b FROM mh_full_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      q.stop()
      // (1,3) is the eviction's recall loss (oldest resident); under
      // the old cap-freeze the loss was (2,3) — everything post-cap
      assert(pairs == Set((1L, 2L), (2L, 3L)),
        s"recency-eviction semantics drifted: $pairs")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("session_window aggregation merges gap-close events and finalizes " +
    "when the watermark passes") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Streams.Event]
    val q = Streams.sessionWindowAgg(input.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("swin_out")
      .outputMode("append").start()
    // user 10: two events 5 min apart (one session); user 20: one event
    input.addData(
      Streams.Event(1, ts(1), 10, "click", 1.0),
      Streams.Event(2, ts(6), 10, "view", 2.0),
      Streams.Event(3, ts(2), 20, "click", 5.0))
    q.processAllAvailable()
    // push event time far forward so the watermark finalizes the sessions
    input.addData(Streams.Event(9, tsH(5, 0), 99, "click", 0.0))
    q.processAllAvailable()
    val rows = sp.sql(
      "SELECT user_id, n_events, total_value FROM swin_out ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.toSet == Set((10L, 2L, 3.0), (20L, 1L, 5.0)),
      s"unexpected finalized sessions: ${rows.mkString(", ")}")
  }

  test("stateful sessionization closes sessions after the gap timeout") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStream(sp, input.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // session 1: minutes 1-3; then a 40-min gap within the same batch
    // closes it when the next session's events arrive
    input.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(3), 10, "view", 2.0),
      Event(3, tsH(0, 50), 10, "click", 5.0))
    q.processAllAvailable()
    val rows = sp.sql("SELECT * FROM sess_out").collect()
    q.stop()
    assert(rows.length == 1, s"expected 1 closed session, got ${rows.length}")
    val s = rows.head
    assert(s.getAs[Long]("n_events") == 2L)
    assert(s.getAs[Double]("total_value") == 3.0)
  }

  test("streaming funnel equals the batch fold when events arrive in " +
    "event-time order; late stage events never rewind the cursor") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the real event log, in event-time order, split across 3 batches
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.funnelStream(sp, input.toDS())
        .writeStream.format("memory").queryName("funnel_out")
        .outputMode("update").start()
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val batch = graft.operators.Behavioral.funnel(sp, sf).collect()
      assert(batch.nonEmpty)
      // a late stage event behind an advanced cursor must be dropped,
      // not rewind or re-advance it — feed one through the live query
      val victim = batch.filter(_.getLong(1) >= 2L).head.getLong(0)
      input.addData(Event(10000000L, ts(1), victim, "signup", 0.0))
      q.processAllAvailable()
      // last emitted progress per user == final cursor
      val streamed = sp.sql("SELECT * FROM funnel_out").collect()
        .groupBy(_.getLong(0))
        .map { case (u, rows) => u -> rows.last }
      q.stop()
      batch.foreach { b =>
        val u = b.getLong(0)
        val s = streamed(u)
        assert(s.getInt(1).toLong == b.getLong(1),
          s"user $u: stream reached ${s.getInt(1)}, batch ${b.getLong(1)}")
        val streamTs = s.getSeq[Timestamp](2)
        val batchTs = Seq(2, 3, 4).map(i => b.get(i))
          .takeWhile(_ != null).map(_.asInstanceOf[Timestamp])
        assert(streamTs == batchTs,
          s"user $u: stream stamps $streamTs vs batch $batchTs")
      }
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming windowed funnel equals the batch windowed funnel's " +
    "stage counts on the in-order log; the window and strictness gates " +
    "hold on crafted users") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.windowedFunnelStream(sp, input.toDS())
        .writeStream.format("memory").queryName("wfunnel_out")
        .outputMode("update").start()
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // crafted gates, negative user ids (absent from the real log):
      //  * user -5: purchase 1ms past signup+7d -> stays at stage 2
      //  * user -6: click at the signup instant -> strictness, stage 1
      val w = 604800000000L / 1000L // window in ms
      input.addData(
        Event(20000001L, ts(0), -5L, "signup", 0.0),
        Event(20000002L, ts(10), -5L, "click", 0.0),
        Event(20000003L, new Timestamp(ts(0).getTime + w + 1L), -5L,
          "purchase", 0.0),
        Event(20000004L, ts(0), -6L, "signup", 0.0),
        Event(20000005L, ts(0), -6L, "click", 0.0))
      q.processAllAvailable()
      val streamed = sp.sql("SELECT * FROM wfunnel_out").collect()
        .groupBy(_.getLong(0))
        .map { case (u, rows) => u -> rows.map(_.getInt(1)).max }
      q.stop()
      assert(streamed(-5L) == 2, "outside-window purchase must not convert")
      assert(streamed(-6L) == 1, "equal-time click must not convert (strict)")
      // stage counts over the real log equal the batch operator's
      val real = streamed.filter(_._1 >= 0L)
      val batch = graft.operators.Behavioral.windowedFunnel(sp, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(batch(1L) == real.count(_._2 >= 1).toLong, "stage-1 users")
      assert(batch(2L) == real.count(_._2 >= 2).toLong, "stage-2 users")
      assert(batch(3L) == real.count(_._2 >= 3).toLong, "stage-3 users")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming inter-arrival histogram equals the batch operator " +
    "bit-exactly on the in-order log; state is bucket-bounded") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.interarrivalStream(sp, input.toDS())
        .writeStream.format("memory").queryName("gap_out")
        .outputMode("update").start()
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // last emission per (type, bucket) — memory sink appends updates
      // in batch order, so the final row per cell is the live value
      val streamed = sp.sql("SELECT * FROM gap_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap // later duplicates overwrite earlier: map keeps the last
      q.stop()
      val batch = graft.operators.TimeSeries.interarrivalHist(sp, sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch,
        "the live histogram must equal the batch lag fold bit-exactly")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming heavy hitters: batch boundaries are invisible — final " +
    "summary equals a sequential Misra-Gries replay") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val k = 8
      val rng = new scala.util.Random(31L)
      // skewed two-key stream, distinct >> k so decrements fire
      val events = (0 until 3000).map { i =>
        val key = if (i % 2 == 0) "a" else "b"
        val item = if (rng.nextBoolean()) s"hot${rng.nextInt(3)}"
          else s"tail${rng.nextInt(400)}"
        Streams.TokenEvent(key, item, i.toLong)
      }
      val input = MemoryStream[Streams.TokenEvent]
      val q = Streams.heavyHittersStream(sp, input.toDS(), k)
        .writeStream.format("memory").queryName("hh_out")
        .outputMode("update").start()
      events.grouped(700).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // reference: the same MG update run sequentially on the driver in
      // seq order per key
      def mgReplay(items: Seq[String]): Map[String, Long] = {
        val buf = scala.collection.mutable.HashMap.empty[String, Long]
        items.foreach { it =>
          buf.get(it) match {
            case Some(c) => buf(it) = c + 1
            case None if buf.size < k => buf(it) = 1L
            case None =>
              val dead = buf.collect { case (i, 1L) => i }.toList
              buf.mapValuesInPlace((_, c) => c - 1)
              dead.foreach(buf.remove)
          }
        }
        buf.toMap
      }
      // final summary = last batch's emission per key
      val out = sp.sql("SELECT * FROM hh_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      q.stop()
      for (key <- Seq("a", "b")) {
        val expect = mgReplay(events.filter(_.key == key).sortBy(_.seq).map(_.item))
        // emissions accumulate per batch; keep the final value per item,
        // but items can drop out of the summary — reconcile against the
        // last batch by taking only items present in the expected final
        // state and checking counts match exactly
        val got = out.filter(_._1 == key)
          .groupBy(_._2).map { case (i, rs) => i -> rs.last._3 }
        expect.foreach { case (item, c) =>
          assert(got.get(item).contains(c),
            s"$key/$item: stream ${got.get(item)}, sequential replay $c")
        }
        assert(expect.size <= k)
      }
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming index probe: micro-batched arrivals find the same " +
    "near-dup candidates as one batch probe of the whole arrival set") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.operators.Dedup.buildMinhashIndex(sp, sf, "mh_stream_idx")
    val arrivals = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
      .limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val out = java.nio.file.Files.createTempDirectory("graft-probe-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-probe-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "text"),
      ckpt)((b, _) => graft.operators.Dedup.probeMinhashIndex(sp,
        "mh_stream_idx", b).write.mode("append").parquet(out))
    arrivals.grouped(15).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sp.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.probeMinhashIndex(sp, "mh_stream_idx",
        graft.sources.Tables.documents(sp, sf)
          .select(col("doc_id"), col("text")).limit(40))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed probe diverged: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
    assert(batch.nonEmpty, "expected candidates: the index contains the arrivals")
  }

  test("streaming search probe: micro-batched query arrivals get exactly " +
    "the per-query top-N one batch probe computes") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.operators.Search.buildSearchIndex(sp, sf, "srch_stream_idx")
    val queries = Seq(
      (1L, "data"), (1L, "model"), (1L, "spark"),
      (2L, "table"), (2L, "join"),
      (3L, "window"), (3L, "batch"), (3L, "stream"))
    val out = java.nio.file.Files.createTempDirectory("graft-srch-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-srch-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("query_id", "tok"),
      ckpt)((b, _) => graft.operators.Search.probeSearchIndexMany(sp,
        "srch_stream_idx", b).write.mode("append").parquet(out))
    // queries must arrive whole (a query IS its term bag) — batches
    // split BETWEEN queries
    Seq(queries.filter(_._1 == 1L), queries.filter(_._1 >= 2L)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sp.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(4))).toSet
    val batch = graft.operators.Search.probeSearchIndexMany(sp,
        "srch_stream_idx", queries.toDF("query_id", "tok"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(4))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed search diverged: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming containment probe: micro-batched arrivals find the " +
    "same directed containments as one batch probe of the arrival set") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.operators.Dedup.buildContainmentIndex(sp, sf, "cont_stream_idx")
    val arrivals = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
      .limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val out = java.nio.file.Files.createTempDirectory("graft-cprobe-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cprobe-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "text"),
      ckpt)((b, _) => graft.operators.Dedup.probeContainmentIndex(sp,
        "cont_stream_idx", b).write.mode("append").parquet(out))
    arrivals.grouped(15).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sp.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup.probeContainmentIndex(sp,
        "cont_stream_idx", graft.sources.Tables.documents(sp, sf)
          .select(col("doc_id"), col("text")).limit(40))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      s"streamed containment diverged: only-stream=${streamed -- batch} " +
        s"only-batch=${batch -- streamed}")
    assert(batch.nonEmpty,
      "expected containments: the index contains the arrivals themselves")
  }

  test("state-store reader: checkpointed window state matches the " +
    "aggregation the query emitted") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[Event]
    val q = Streams.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("sr_out")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    input.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 1.0),
      Event(3, ts(7), 11, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    // the state store IS the aggregation's current buffer: read it as
    // a batch frame and reconcile against the emitted rows
    val state = Streams.readStateStore(sp, ckpt)
      .select(col("key.window.start").as("ws"),
        col("key.event_type").as("event_type"),
        col("value.count").as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val emitted = sp.sql(
      "SELECT win_start, event_type, n FROM sr_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(state == emitted,
      s"state $state differs from emitted aggregation $emitted")
    assert(state.values.sum == 3L, "state accounts for every input event")
  }

  test("streaming moments: final per-key stats equal the batch " +
    "avg/var_samp/covar_samp/corr over the whole log, across batch splits") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.momentsStream(sp, input.toDS())
        .writeStream.format("memory").queryName("mom_out")
        .outputMode("update").start()
      all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // batch reference over the identical value/time series
      val batch = graft.sources.Tables.events(sp, sf)
        .select(col("event_type"), col("value").as("x"),
          (col("ts").cast("double")).as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), avg("x").as("mean_value"),
          var_samp("x").as("var_value"),
          covar_samp(col("x"), col("y")).as("covar_vt"),
          corr(col("x"), col("y")).as("corr_vt"))
        .collect()
        .map(r => r.getString(0) -> r).toMap
      val streamed = sp.sql("SELECT * FROM mom_out").collect()
        .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.last }
      q.stop()
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, s) =>
        val b = batch(k)
        assert(s.getLong(1) == b.getLong(1), s"$k n")
        def close(i: Int, name: String): Unit = {
          val (sv, bv) = (s.getDouble(i), b.getDouble(i))
          assert(math.abs(sv - bv) <= 1e-6 * math.max(1.0, math.abs(bv)),
            s"$k $name: stream $sv vs batch $bv")
        }
        close(2, "mean"); close(3, "var"); close(4, "covar"); close(5, "corr")
      }
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming kmv distinct estimates equal the batch sketch at every " +
    "split, exact below saturation") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val k = 256
      // key "big": 400 distinct (saturates k=256); key "small": 50 (exact)
      val big = (0 until 400).map(i => Streams.KeyedItem("big", s"item_$i"))
      val small = (0 until 50).map(i => Streams.KeyedItem("small", s"s_$i"))
      // interleave + duplicates, split across three micro-batches
      val all = scala.util.Random.shuffle(big ++ small ++ big.take(100))
      val (b1, rest) = all.splitAt(all.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      val input = MemoryStream[Streams.KeyedItem]
      val q = Streams.distinctEstimateStream(sp, input.toDS(), k)
        .writeStream.format("memory").queryName("kmv_out")
        .outputMode("update").start()
      Seq(b1, b2, b3).foreach { b => input.addData(b); q.processAllAvailable() }
      val streamed = sp.sql("SELECT * FROM kmv_out").collect()
        .groupBy(_.getString(0)).map { case (key, rs) => key -> rs.last }
      q.stop()
      val batch = (big ++ small).toDF("key", "item")
        .groupBy(col("key"))
        .agg(graft.functions.Aggregates.kmvSketch(col("item"), k).as("sk"))
        .select(col("key"),
          graft.functions.Sketches.kmvEstimate(col("sk"), k).as("est"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(streamed("small").getDouble(1) == 50.0 &&
        !streamed("small").getBoolean(2),
        "unsaturated key must be exact")
      assert(streamed("big").getBoolean(2), "big key must saturate")
      // order-independence: the streamed sketch IS the batch sketch, so
      // the estimates must agree exactly, not approximately
      assert(streamed("big").getDouble(1) == batch("big"),
        s"stream ${streamed("big").getDouble(1)} vs batch ${batch("big")}")
      assert(streamed("small").getDouble(1) == batch("small"))
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming component labels merge across micro-batches and equal " +
    "the batch recompute") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val labels = java.nio.file.Files.createTempDirectory("graft-cc").toString + "/l"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ck").toString
    val input = MemoryStream[(Long, Long)]
    val q = Streams.componentStream(input.toDF().toDF("src", "dst"),
      labels, ckpt)
    def snapshot(): Map[Long, Long] = sp.read.parquet(labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    input.addData((1L, 2L), (3L, 4L))
    q.processAllAvailable()
    assert(snapshot() == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // (2,3) must MERGE two components born in the previous batch — the
    // cross-key relabel transformWithState can't express
    input.addData((5L, 6L), (2L, 3L))
    q.processAllAvailable()
    assert(snapshot() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L))
    // self-loop-only arrival = singleton; (6,1) chains everything else
    input.addData((7L, 7L), (6L, 1L))
    q.processAllAvailable()
    q.stop()
    val got = snapshot()
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 1L, 7L -> 7L), s"unexpected labels: $got")
    // parity: the maintained snapshot equals a from-scratch batch
    // recompute over every edge that ever arrived (minus the
    // self-loop-only singleton, which batch CC never sees)
    val allEdges = Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 3L), (6L, 1L))
      .toDF("src", "dst")
    val batchCC = graft.operators.Graph
      .connectedComponents(allEdges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got - 7L == batchCC,
      "streamed labels must equal the batch fixpoint")
  }

  test("component snapshot recovery: a partial staging dir (no _SUCCESS " +
    "commit marker) is discarded, not promoted to the live snapshot") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-cc-rec").toString
    val labels = base + "/l"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-rec-ck").toString
    // simulate a crash mid-write of the very first batch: a staging dir
    // exists with parquet debris but no _SUCCESS marker, and no live
    // snapshot to fall back to
    val stagingDir = new java.io.File(labels + ".staging")
    assert(stagingDir.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(labels + ".staging/part-00000.parquet"),
      Array[Byte](1, 2, 3)) // truncated garbage, unreadable as parquet
    val input = MemoryStream[(Long, Long)]
    val q = Streams.componentStream(input.toDF().toDF("src", "dst"),
      labels, ckpt)
    input.addData((1L, 2L), (3L, 4L))
    q.processAllAvailable()
    q.stop()
    // the stream self-healed: garbage staging was deleted (not renamed
    // over the snapshot) and batch replay re-derived correct labels
    val got = sp.read.parquet(labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      s"recovery produced wrong labels: $got")
  }

  test("streaming edit index: micro-batched probing finds exactly the " +
    "batch editJoin pairs, split-invariant") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val names = graft.sources.Tables.customer(sp, sf)
        .select(col("c_custkey").as("key"), col("c_name").as("name"))
        .as[Streams.NamedKey].collect()
      val (first, second) = names.splitAt(names.length / 2)
      val input = MemoryStream[Streams.NamedKey]
      val q = Streams.editIndexStream(sp, input.toDS(), maxBucket = 1024)
        .writeStream.format("memory").queryName("edit_idx_out")
        .outputMode("append").start()
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
      val streamed = sp.sql(
        "SELECT DISTINCT key_a, key_b, edit_distance FROM edit_idx_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      q.stop()
      val batch = graft.operators.Dedup
        .editJoin(graft.sources.Tables.customer(sp, sf), "c_custkey", "c_name")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"streamed pairs (${streamed.size}) must equal batch (${batch.size})")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming edit index: saturated bucket evicts by recency — a " +
    "post-saturation arrival still pairs cross-batch with RECENT " +
    "residents; the loss moves to the oldest, state stays bounded") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.NamedKey]
      val q = Streams.editIndexStream(sp, input.toDS(), maxBucket = 1)
        .writeStream.format("memory").queryName("edit_cap_out")
        .outputMode("append").start()
      input.addData(Streams.NamedKey(1, "abc"))
      q.processAllAvailable()
      // bucket at cap (1 resident). Same-batch arrivals pair with the
      // resident AND each other; inserts evict by recency (1→2→3).
      input.addData(Streams.NamedKey(2, "abc"), Streams.NamedKey(3, "abc"))
      q.processAllAvailable()
      // the post-saturation CROSS-BATCH pair: 4 probes the surviving
      // recent resident 3 — under cap-freeze this pair was lost (only
      // the frozen (1,4) surfaced); the recall loss is now (1,4)/(2,4),
      // the evicted OLDEST residents
      input.addData(Streams.NamedKey(4, "abc"))
      q.processAllAvailable()
      val pairs = sp.sql("SELECT DISTINCT key_a, key_b FROM edit_cap_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      q.stop()
      assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)),
        s"recency-eviction semantics drifted: $pairs")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("bounded edit distance: agrees with full DP on all short-string " +
    "pairs over a small alphabet") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // exhaustive: every string of length ≤ 4 over {a, b}
    val strs = (0 to 4).flatMap(n =>
      (0 until (1 << n)).map(bits =>
        (0 until n).map(i => if ((bits >> i & 1) == 1) 'b' else 'a').mkString))
    for (x <- strs; y <- strs) {
      val full = lev(x, y)
      val expect = if (full <= 1) full.toLong else -1L
      assert(Streams.editDistanceLe1(x, y) == expect,
        s"editDistanceLe1('$x','$y') != $expect")
    }
  }

  test("streaming quality tiers: after any micro-batch split, the latest " +
    "per-language emission equals the batch qualityTiers over real scores") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // real scores: the batch scorer's output joined back for lang —
      // the frozen-vocabulary feed a production stream would carry
      val docs = graft.sources.Tables.documents(sp, TestSpark.sf)
        .select(col("doc_id"), col("lang"))
      val scored = graft.operators.TextAnalysis.unigramLogprob(sp, TestSpark.sf)
        .join(docs, Seq("doc_id"))
        .select(col("lang"), col("avg_logprob").as("s"))
        .as[Streams.ScoredDoc].collect().toSeq
      val input = MemoryStream[Streams.ScoredDoc]
      // foreachBatch REPLACES each emitting language's tier rows, so
      // stale tiers from earlier distributions can't linger the way a
      // memory-sink last-row-per-(lang,tier) readout would
      val latest = scala.collection.mutable.Map.empty[String, Seq[Streams.TierRow]]
      val q = Streams.tierStream(sp, input.toDS())
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.TierRow], _: Long) =>
          b.collect().groupBy(_.lang).foreach { case (l, rs) =>
            latest.synchronized { latest(l) = rs.toSeq }
          }
        }.start()
      scored.grouped(scored.size / 3 + 1).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      q.stop()
      val batch = graft.operators.TextAnalysis.qualityTiers(sp, TestSpark.sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
      val stream = latest.values.flatten
        .map(t => (t.lang, t.tier, t.n_docs, t.best_lp, t.worst_lp)).toSet
      assert(stream == batch,
        s"stream ${stream.toSeq.sorted} != batch ${batch.toSeq.sorted}")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming quality tiers: equal scores share a tier and integer " +
    "boundaries match the batch arithmetic on a crafted distribution") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 6 docs at score -1.0 straddle the n/3 boundary: threshold
      // semantics must keep them in ONE tier; remaining singles fill in
      val feed = Seq.fill(6)(Streams.ScoredDoc("xx", -1.0)) ++
        Seq(-2.0, -3.0, -4.0).map(Streams.ScoredDoc("xx", _))
      val input = MemoryStream[Streams.ScoredDoc]
      val latest = scala.collection.mutable.Map.empty[String, Seq[Streams.TierRow]]
      val q = Streams.tierStream(sp, input.toDS())
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.TierRow], _: Long) =>
          b.collect().groupBy(_.lang).foreach { case (l, rs) =>
            latest.synchronized { latest(l) = rs.toSeq }
          }
        }.start()
      input.addData(feed)
      q.processAllAvailable()
      q.stop()
      val rows = latest("xx").map(t => (t.tier, t.n_docs, t.best_lp, t.worst_lp))
        .sortBy(_._1)
      // n=9: the -1.0 group (nbetter=0 → tier 1) holds all 6 docs even
      // though 6 > 9/3; -2.0 has nbetter=6 → tier 3; -3.0/-4.0 likewise
      assert(rows == Seq(
        (1L, 6L, -1.0, -1.0),
        (3L, 3L, -2.0, -4.0)),
        s"crafted distribution mis-tiered: $rows")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming k-anonymity risk equals the batch scan on the real log, " +
    "any batch split") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.riskStream(sp, input.toDS())
        .writeStream.format("memory").queryName("risk_out")
        .outputMode("update").start()
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      q.stop()
      val streamed = sp.sql("SELECT * FROM risk_out").collect()
        .groupBy(_.getString(0))
        .map { case (k, rs) => k ->
          (rs.last.getLong(1), rs.last.getLong(2), rs.last.getBoolean(3)) }
      val batch = graft.operators.Privacy.kAnonymityOn(
        graft.sources.Tables.events(sp, sf)).collect()
        .map { r =>
          val key = s"${r.getString(0)}|${r.getTimestamp(1).toString.take(10)}|" +
            s"${r.getLong(2)}"
          key -> (r.getLong(3), r.getLong(4), r.getBoolean(5))
        }.toMap
      assert(streamed.keySet === batch.keySet, "class universes diverged")
      // below saturation (sketchK=1024 >> any sf0.001 class) the final
      // emission per class must EQUAL the batch scan row
      streamed.foreach { case (k, got) =>
        assert(got === batch(k), s"class $k: stream $got vs batch ${batch(k)}")
      }
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming k-anonymity risk: at-risk flag stays exact at sketch " +
    "saturation (sketchK >= kAnon)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // class "big": 6 distinct users vs sketchK=4 — saturates, but the
      // flag is still exactly false because saturation proves >= 4 >= 3
      // users; class "small": 2 users — exact, at risk
      val big = (1L to 6L).map(u => Event(u, ts(1), u, "big", 10.0))
      val small = Seq(Event(10L, ts(1), 100L, "small", 10.0),
        Event(11L, ts(1), 101L, "small", 10.0))
      val input = MemoryStream[Event]
      val q = Streams.riskStream(sp, input.toDS(), kAnon = 3, sketchK = 4)
        .writeStream.format("memory").queryName("risk_sat_out")
        .outputMode("update").start()
      input.addData(big ++ small)
      q.processAllAvailable()
      q.stop()
      val rows = sp.sql("SELECT * FROM risk_sat_out").collect()
        .map(r => r.getString(0).split("\\|")(0) ->
          (r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toMap
      assert(rows("big") === ((4L, false, true)),
        "saturated class must floor n_users at sketchK with an exact flag")
      assert(rows("small") === ((2L, true, false)))
      // the exactness precondition is enforced, not assumed
      intercept[IllegalArgumentException] {
        Streams.riskStream(sp, input.toDS(), kAnon = 8, sketchK = 4)
      }
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("persisted edit index: self-probe reproduces the batch editJoin " +
    "symmetrized; streaming probe equals one batch probe") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.operators.Dedup.buildEditIndex(sp, sf, "edit_persist_idx")
    val cust = graft.sources.Tables.customer(sp, sf)
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // self-probe == editJoin pairs, both directions
    val self = graft.operators.Dedup.probeEditIndex(sp, "edit_persist_idx",
        cust.toSeq.toDF("probe_key", "probe_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.editNeighbors(sp, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(batch.nonEmpty)
    assert(self == batch.flatMap(p => Seq(p, p.swap)).toSet,
      "self-probe must be the symmetrized editJoin")
    // micro-batched arrivals == one batch probe of the arrival set
    val arrivals = cust.take(60)
    val out = java.nio.file.Files.createTempDirectory("graft-editp-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-editp-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(
      input.toDF().toDF("probe_key", "probe_name"), ckpt)((b, _) =>
      graft.operators.Dedup.probeEditIndex(sp, "edit_persist_idx", b)
        .write.mode("append").parquet(out))
    arrivals.grouped(25).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sp.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneProbe = graft.operators.Dedup.probeEditIndex(sp, "edit_persist_idx",
        arrivals.toSeq.toDF("probe_key", "probe_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == oneProbe,
      s"streamed edit probe diverged: only-stream=${(streamed -- oneProbe).take(3)} " +
        s"only-batch=${(oneProbe -- streamed).take(3)}")
  }

  test("streaming IVF probe: micro-batched query vectors get exactly the " +
    "batch probe's per-query top-k") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.operators.Similarity.buildIvfIndex(sp, sf, "ivf_stream_idx")
    val queries = sp.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val out = java.nio.file.Files.createTempDirectory("graft-ivfp-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfp-ck").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Streams.foreachBatchStream(input.toDF().toDF("vec_id", "v"),
      ckpt)((b, _) => graft.operators.Similarity.probeIvfIndexOn(sp,
        "ivf_stream_idx", b).write.mode("append").parquet(out))
    queries.grouped(math.max(1, queries.length / 2 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sp.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val batch = graft.operators.Similarity.probeIvfIndex(sp, "ivf_stream_idx", sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed IVF probe diverged: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming IVF-PQ append + probe: stream-appended waves match a " +
    "one-shot batch append posting for posting (frozen codebooks make " +
    "encode row-local), and the micro-batched ADC probe equals the " +
    "batch probe — the tenth family on the full streaming contract") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // two indexes built on the SAME corpus: deterministic Lloyd seeds
    // make their IVF centroids and PQ codebooks identical, so the only
    // difference is HOW the appends arrive
    graft.operators.Similarity.buildIvfPqIndex(sp, sf, "ivfpq_stream_a")
    graft.operators.Similarity.buildIvfPqIndex(sp, sf, "ivfpq_stream_b")
    val fresh = sp.read.parquet(s"$sf/embeddings.parquet")
      .select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .limit(40)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ivfpqa-ck").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Streams.foreachBatchStream(input.toDF().toDF("vec_id", "v"),
      ckpt)((b, _) => graft.operators.Similarity.appendToIvfPqIndex(sp,
        "ivfpq_stream_a", b))
    fresh.grouped(20).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    graft.operators.Similarity.appendToIvfPqIndex(sp, "ivfpq_stream_b",
      fresh.toSeq.toDF("vec_id", "v"))
    val queries = fresh.take(10).toSeq.toDF("vec_id", "v")
    def probe(name: String, rerank: Int) =
      graft.operators.Similarity.probeIvfPqIndex(sp, name, queries,
          k = 3, nProbe = 4, rerank = rerank)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    for (rr <- Seq(0, 6)) {
      val a = probe("ivfpq_stream_a", rr)
      val b = probe("ivfpq_stream_b", rr)
      assert(a.nonEmpty)
      assert(a == b, s"rerank=$rr: streamed appends diverged from the " +
        s"batch append: only-stream=${(a -- b).take(3)} " +
        s"only-batch=${(b -- a).take(3)}")
    }
    // probe stream face: micro-batched queries ≡ one batch probe
    val out = java.nio.file.Files
      .createTempDirectory("graft-ivfpqp-out").toString
    val ckpt2 = java.nio.file.Files
      .createTempDirectory("graft-ivfpqp-ck").toString
    val qin = MemoryStream[(Long, Seq[Double])]
    val pq = Streams.foreachBatchStream(qin.toDF().toDF("vec_id", "v"),
      ckpt2)((b, _) => graft.operators.Similarity.probeIvfPqIndex(sp,
        "ivfpq_stream_a", b, k = 3, nProbe = 4, rerank = 6)
        .write.mode("append").parquet(out))
    fresh.take(10).grouped(5).foreach { chunk =>
      qin.addData(chunk.toIndexedSeq)
      pq.processAllAvailable()
    }
    pq.stop()
    val streamed = sp.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(streamed == probe("ivfpq_stream_a", 6),
      "micro-batched IVF-PQ probe diverged from the batch probe")
  }

  test("streaming markov deltas sum to the batch transition counts on the " +
    "real log; late events never count backwards") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.markovStream(sp, input.toDS())
        .writeStream.format("memory").queryName("markov_out")
        .outputMode("append").start()
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = sp.sql(
        "SELECT from_type, to_type, sum(dn) FROM markov_out GROUP BY 1, 2")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Behavioral.markovTransitions(sp, sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"delta sums diverge from batch counts: " +
          s"stream-only=${(streamed.toSet -- batch.toSet).take(3)} " +
          s"batch-only=${(batch.toSet -- streamed.toSet).take(3)}")
      // a late event behind the pointer is dropped: no new deltas
      val u = 88888888L
      input.addData(Event(30000001L, tsH(10, 0), u, "view", 0.0),
        Event(30000002L, tsH(11, 0), u, "purchase", 0.0))
      q.processAllAvailable()
      val before = sp.sql("SELECT coalesce(sum(dn), 0) FROM markov_out")
        .head.getLong(0)
      input.addData(Event(30000003L, tsH(9, 0), u, "click", 0.0)) // late
      q.processAllAvailable()
      val after = sp.sql("SELECT coalesce(sum(dn), 0) FROM markov_out")
        .head.getLong(0)
      q.stop()
      assert(after == before, "a late event must not add transitions")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming as-of join equals the batch as-of operator on the real " +
    "log split across micro-batches; state is one pointer per user") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.asofJoinStream(sp, input.toDS())
        .writeStream.format("memory").queryName("asof_out")
        .outputMode("update").start()
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = sp.sql("SELECT * FROM asof_out").collect()
        .map(r => r.getLong(0) ->
          (Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Timestamp])))
      // every purchase emitted exactly once
      assert(streamed.map(_._1).distinct.length == streamed.length)
      val batch = graft.operators.Temporal.asofJoin(sp, sf).collect()
        .map(r => r.getLong(0) ->
          (Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Timestamp]))).toMap
      assert(batch.nonEmpty)
      assert(streamed.length == batch.size,
        s"stream emitted ${streamed.length} purchases, batch has ${batch.size}")
      streamed.foreach { case (id, m) =>
        assert(batch(id) == m, s"purchase $id: stream $m vs batch ${batch(id)}")
      }
      // a LATE purchase behind a newer view pointer emits a null match
      // (never resurrects a replaced older view); a late OLD view never
      // rewinds the pointer for subsequent purchases. Fresh user id —
      // a real user's log history would contaminate the pointer.
      val u = 99999999L
      input.addData(Event(20000001L, tsH(10, 0), u, "view", 0.0),
        Event(20000002L, tsH(11, 0), u, "purchase", 0.0))
      q.processAllAvailable()
      input.addData(Event(20000003L, tsH(9, 0), u, "purchase", 0.0), // late
        Event(20000004L, tsH(8, 0), u, "view", 0.0)) // late old view
      input.addData(Event(20000005L, tsH(12, 0), u, "purchase", 0.0))
      q.processAllAvailable()
      val tail = sp.sql("SELECT * FROM asof_out WHERE event_id >= 20000000")
        .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
      q.stop()
      assert(tail(20000002L).contains(20000001L))
      assert(tail(20000003L).isEmpty, "late purchase must null-match")
      assert(tail(20000005L).contains(20000001L),
        "late old view must not steal the pointer")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming as-of join: equal-timestamp view matches, tolerance " +
    "bound nulls stale matches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = Streams.asofJoinStream(sp, input.toDS(),
          toleranceMs = 30L * 60 * 1000)
        .writeStream.format("memory").queryName("asof_tol_out")
        .outputMode("update").start()
      input.addData(
        Event(1, tsH(1, 0), 10, "view", 0.0),
        Event(2, tsH(1, 0), 10, "purchase", 0.0), // same instant: matches
        Event(3, tsH(1, 20), 10, "purchase", 0.0), // within tolerance
        Event(4, tsH(2, 0), 10, "purchase", 0.0)) // 60 min: stale → null
      q.processAllAvailable()
      val got = sp.sql("SELECT * FROM asof_tol_out").collect()
        .map(r => r.getLong(0) -> Option(r.get(3))).toMap
      q.stop()
      assert(got(2L).contains(1L), "equal-ts view must match (<= semantics)")
      assert(got(3L).contains(1L))
      assert(got(4L).isEmpty, "match older than tolerance must be null")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming index append: micro-batched appends grow the persisted " +
    "indexes to probe-equality with a batch full rebuild") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // corpus = doc_id % 3 != 0, streamed arrivals = the complement, so
    // corpus + stream == the full sf table and the full rebuild can
    // read sf directly (the batch append parity spec's construction)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-sapp-docs").toString
    val docs = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.parquet(s"$corpusDir/documents.parquet")
    graft.operators.Dedup.buildMinhashIndex(sp, corpusDir, "mh_sapp_idx",
      nBuckets = 4)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sapp-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "text"),
      ckpt)((b, _) => graft.operators.Dedup.appendToMinhashIndex(sp,
        "mh_sapp_idx", b))
    arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    graft.operators.Dedup.buildMinhashIndex(sp, sf, "mh_sapp_full",
      nBuckets = 4)
    val probes = docs.limit(60).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val streamed = rows(graft.operators.Dedup
      .probeMinhashIndex(sp, "mh_sapp_idx", probes))
    val rebuilt = rows(graft.operators.Dedup
      .probeMinhashIndex(sp, "mh_sapp_full", probes))
    assert(rebuilt.nonEmpty)
    assert(streamed == rebuilt,
      "streamed appends then probe must equal batch rebuild then probe")
    // second family through the same stream shape: the edit index
    val custDir = java.nio.file.Files
      .createTempDirectory("graft-sapp-cust").toString
    val cust = graft.sources.Tables.customer(sp, sf)
      .select(col("c_custkey"), col("c_name"))
    cust.filter(pmod(col("c_custkey"), lit(3)) =!= 0)
      .write.parquet(s"$custDir/customer.parquet")
    graft.operators.Dedup.buildEditIndex(sp, custDir, "edit_sapp_idx",
      nBuckets = 4)
    val keyArrivals = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val eCkpt = java.nio.file.Files.createTempDirectory("graft-sapp-eck").toString
    val eInput = MemoryStream[(Long, String)]
    val eq = Streams.foreachBatchStream(eInput.toDF().toDF("key", "name"),
      eCkpt)((b, _) => graft.operators.Dedup.appendToEditIndex(sp,
        "edit_sapp_idx", b))
    keyArrivals.grouped(math.max(1, keyArrivals.length / 2 + 1)).foreach { chunk =>
      eInput.addData(chunk.toIndexedSeq)
      eq.processAllAvailable()
    }
    eq.stop()
    graft.operators.Dedup.buildEditIndex(sp, sf, "edit_sapp_full",
      nBuckets = 4)
    val eProbes = cust
      .select(col("c_custkey").as("probe_key"), col("c_name").as("probe_name"))
      .localCheckpoint()
    val eStreamed = rows(graft.operators.Dedup
      .probeEditIndex(sp, "edit_sapp_idx", eProbes))
    val eRebuilt = rows(graft.operators.Dedup
      .probeEditIndex(sp, "edit_sapp_full", eProbes))
    assert(eRebuilt.nonEmpty)
    assert(eStreamed == eRebuilt,
      "streamed edit appends then probe must equal batch rebuild then probe")
  }

  test("streaming pHash index (8th family): micro-batched appends reach " +
    "probe-equality with a batch rebuild, and the probe stream equals " +
    "the batch probe") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.Multimodal
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-phs-docs").toString
    val docs = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.parquet(s"$corpusDir/documents.parquet")
    Multimodal.buildPhashIndex(sp, corpusDir, "ph_sapp_idx", nBuckets = 4)
    val arrivals = Multimodal.mediaPhashOf(sp,
        docs.filter(pmod(col("doc_id"), lit(3)) === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-phs-ck").toString
    val input = MemoryStream[(Long, Long)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "phash"),
      ckpt)((b, _) => Multimodal.appendToPhashIndex(sp, "ph_sapp_idx", b))
    arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    Multimodal.buildPhashIndex(sp, sf, "ph_sapp_full", nBuckets = 4)
    val probes = Multimodal.mediaPhash(sp, sf).limit(60).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val streamed = rows(Multimodal.probePhashIndex(sp, "ph_sapp_idx", probes))
    val rebuilt = rows(Multimodal.probePhashIndex(sp, "ph_sapp_full", probes))
    assert(rebuilt.nonEmpty)
    assert(streamed == rebuilt,
      "streamed pHash appends then probe must equal batch rebuild then probe")
    // probe stream ≡ batch probe over the same arriving hashes
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-phs-out").toString
    val pCkpt = java.nio.file.Files
      .createTempDirectory("graft-phs-pck").toString
    val probeRows = probes.collect().map(r => (r.getLong(0), r.getLong(1)))
    val pInput = MemoryStream[(Long, Long)]
    val pq = Streams.foreachBatchStream(pInput.toDF().toDF("doc_id", "phash"),
      pCkpt)((b, _) => Multimodal.probePhashIndex(sp, "ph_sapp_full", b)
        .write.mode("append").parquet(outPath))
    probeRows.grouped(math.max(1, probeRows.length / 2 + 1)).foreach { chunk =>
      pInput.addData(chunk.toIndexedSeq)
      pq.processAllAvailable()
    }
    pq.stop()
    // a symmetrized pair surfaces from BOTH endpoints when they land in
    // different micro-batches — the batch probe's distinct() sees them
    // together, the stream doesn't; dedup at the read edge
    val streamedProbe = rows(sp.read.parquet(outPath).distinct())
    assert(streamedProbe == rebuilt,
      "the pHash probe stream must equal the batch probe")
  }

  test("streaming winnow: appends grow the fp index to rebuild parity, " +
    "and the probe stream emits exactly the batch probe's pairs") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // append half: corpus = doc_id % 3 != 0, streamed arrivals the rest
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-wapp-docs").toString
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.parquet(s"$corpusDir/documents.parquet")
    graft.operators.TextAnalysis.buildWinnowIndex(sp, corpusDir,
      "wn_sapp_idx", nBuckets = 4)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wapp-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "text"),
      ckpt)((b, _) => graft.operators.TextAnalysis.appendToWinnowIndex(sp,
        "wn_sapp_idx", b))
    arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    graft.operators.TextAnalysis.buildWinnowIndex(sp, sf, "wn_sapp_full",
      nBuckets = 4)
    val probes = docs.limit(60).localCheckpoint()
    val streamed = rows(graft.operators.TextAnalysis
      .probeWinnowIndex(sp, "wn_sapp_idx", probes))
    val rebuilt = rows(graft.operators.TextAnalysis
      .probeWinnowIndex(sp, "wn_sapp_full", probes))
    assert(rebuilt.nonEmpty)
    assert(streamed == rebuilt,
      "streamed winnow appends then probe must equal batch rebuild probe")
    // probe half: micro-batched arrivals through the probe stream land
    // the same pairs the batch probe computes for the same docs
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-wprobe-out").toString
    val pCkpt = java.nio.file.Files
      .createTempDirectory("graft-wprobe-ck").toString
    val pInput = MemoryStream[(Long, String)]
    val pq = Streams.foreachBatchStream(pInput.toDF().toDF("doc_id", "text"),
      pCkpt)((b, _) => graft.operators.TextAnalysis.probeWinnowIndex(sp,
        "wn_sapp_full", b).write.mode("append").parquet(outPath))
    val probeRows = probes.collect().map(r => (r.getLong(0), r.getString(1)))
    probeRows.grouped(math.max(1, probeRows.length / 2 + 1)).foreach { chunk =>
      pInput.addData(chunk.toIndexedSeq)
      pq.processAllAvailable()
    }
    pq.stop()
    val streamedPairs = rows(sp.read.parquet(outPath))
    assert(streamedPairs == rebuilt,
      "probe stream output must equal the batch probe on the same docs")
  }

  test("streaming lm index: appends grow the gram model to rebuild " +
    "parity, and the probe stream emits exactly the batch probe's " +
    "coverage profiles") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-lmapp-docs").toString
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.parquet(s"$corpusDir/documents.parquet")
    graft.operators.TextAnalysis.buildLmIndex(sp, corpusDir,
      "lm_sapp_idx", nBuckets = 4)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lmapp-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "text"),
      ckpt)((b, _) => graft.operators.TextAnalysis.appendToLmIndex(sp,
        "lm_sapp_idx", b))
    arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    graft.operators.TextAnalysis.buildLmIndex(sp, sf, "lm_sapp_full",
      nBuckets = 4)
    val probes = docs.limit(60).localCheckpoint()
    val streamed = rows(graft.operators.TextAnalysis
      .probeLmIndex(sp, "lm_sapp_idx", probes))
    val rebuilt = rows(graft.operators.TextAnalysis
      .probeLmIndex(sp, "lm_sapp_full", probes))
    assert(rebuilt.nonEmpty)
    assert(streamed == rebuilt,
      "streamed lm appends then probe must equal batch rebuild probe")
    // probe half: per-doc profiles depend only on (doc, index), so
    // micro-batching the probe stream must reproduce the batch probe
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-lmprobe-out").toString
    val pCkpt = java.nio.file.Files
      .createTempDirectory("graft-lmprobe-ck").toString
    val pInput = MemoryStream[(Long, String)]
    val pq = Streams.foreachBatchStream(pInput.toDF().toDF("doc_id", "text"),
      pCkpt)((b, _) => graft.operators.TextAnalysis.probeLmIndex(sp,
        "lm_sapp_full", b).write.mode("append").parquet(outPath))
    val probeRows = probes.collect().map(r => (r.getLong(0), r.getString(1)))
    probeRows.grouped(math.max(1, probeRows.length / 2 + 1)).foreach { chunk =>
      pInput.addData(chunk.toIndexedSeq)
      pq.processAllAvailable()
    }
    pq.stop()
    val streamedProfiles = rows(sp.read.parquet(outPath))
    assert(streamedProfiles == rebuilt,
      "probe stream output must equal the batch probe on the same docs")
  }

  test("streaming cms: streamed counter segments merge to exactly the " +
    "batch rebuild's cells, and probes agree estimate-for-estimate") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-cms-docs").toString
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.parquet(s"$corpusDir/documents.parquet")
    graft.operators.TextAnalysis.buildCmsSketch(sp, corpusDir, "cms_sapp")
    val arrivals = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cms-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "text"),
      ckpt)((b, _) => graft.operators.TextAnalysis.appendToCmsSketch(sp,
        "cms_sapp", b))
    arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    graft.operators.TextAnalysis.buildCmsSketch(sp, sf, "cms_sfull")
    def cells(t: String) = sp.table(t)
      .groupBy(col("j"), col("b")).agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val streamed = cells("cms_sapp_segments")
    assert(streamed.nonEmpty)
    assert(streamed == cells("cms_sfull_segments"),
      "streamed segments must merge to the batch rebuild exactly")
    val probes = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .distinct().limit(40).localCheckpoint()
    def est(name: String) = graft.operators.TextAnalysis
      .probeCmsSketch(sp, name, probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
    assert(est("cms_sapp") == est("cms_sfull"),
      "probe estimates must agree estimate-for-estimate")
  }

  test("streaming tv-drift monitor: each micro-batch row equals the " +
    "batch tvDistance of the same rows against the same reference") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
    def countsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ref = countsOf(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
      .localCheckpoint()
    val arrivals = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-tvmon-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.tvDriftMonitorStream(sp,
      input.toDF().toDF("doc_id", "text"), ref, "tv_monitor", ckpt)
    val chunks = arrivals.grouped(
      math.max(1, arrivals.length / 2 + 1)).toSeq
    chunks.foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val monitored = sp.table("tv_monitor").collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("tv_num"), r.getAs[Long]("tv_den"),
          r.getAs[Double]("tv")))).toMap
    assert(monitored.size == chunks.length, "one monitor row per batch")
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val batchDf = chunk.toIndexedSeq.toDF("doc_id", "text")
      val want = graft.operators.Quality
        .tvDistance(ref, countsOf(batchDf)).collect().head
      assert(monitored(i.toLong) ==
        ((want.getLong(0), want.getLong(1), want.getLong(2),
          want.getLong(3), want.getDouble(4))),
        s"batch $i drift reading")
      assert(monitored(i.toLong)._5 > 0.0 && monitored(i.toLong)._5 < 1.0,
        "same-corpus batches drift strictly between the extremes")
    }
  }

  test("streaming snapshot commits: one atomic version per micro-batch, " +
    "latest equals the batch union, pinned first version stays intact") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.sources.FormatIO
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapstream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-snapstream-ck").toString
    val docs = graft.sources.Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.grouped(math.max(1, docs.length / 2 + 1)).toSeq
    val input = MemoryStream[(Long, String)]
    val q = Streams.foreachBatchStream(input.toDF().toDF("doc_id", "text"),
      ckpt)((b, _) => FormatIO.appendSnapshot(sp, b, table))
    chunks.foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val versions = FormatIO.snapshotVersions(sp, table)
    assert(versions.length == chunks.length,
      "each micro-batch committed exactly one version")
    assert(FormatIO.readSnapshot(sp, table).count() == docs.length.toLong,
      "the latest version is the full streamed corpus")
    assert(FormatIO.readSnapshot(sp, table, Some(versions.head))
      .collect().map(_.getLong(0)).sorted.toSeq ==
      chunks.head.map(_._1).sorted.toSeq,
      "the pinned first version is exactly the first micro-batch")
  }

  test("streaming interval coalescing handles watermark-admitted OUT-OF-" +
    "ORDER events across micro-batches: a late event extends an island's " +
    "START downward, and a gapped-before late event opens its own island") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.intervalCoalesceStream(sp, input.toDS())
      .writeStream.format("memory").queryName("isl_late")
      .outputMode("append").start()
    // batch 1: island [5:20, 5:35) — watermark becomes 4:20
    input.addData(Event(1, tsH(5, 20), 77, "view", 0.0))
    q.processAllAvailable()
    // batch 2, both events ADMITTED (ts >= 4:20 watermark) but EARLIER
    // than the open island's start:
    //  * 5:10 → window [5:10, 5:25) overlaps [5:20, 5:35): the island's
    //    start must extend DOWNWARD (the old single-island state merged
    //    without lowering island_start)
    //  * 4:30 → window [4:30, 4:45) gaps before 5:10: a SEPARATE island
    //    must open before the existing one
    input.addData(Event(2, tsH(5, 10), 77, "view", 0.0),
      Event(3, tsH(4, 30), 77, "view", 0.0))
    q.processAllAvailable()
    // sentinel advances the watermark past every island end
    input.addData(Event(99, tsH(23, 0), 999, "view", 0.0))
    q.processAllAvailable()
    val isls = sp.sql(
      "SELECT * FROM isl_late WHERE user_id = 77 ORDER BY island_start")
      .collect()
    q.stop()
    assert(isls.length == 2, s"two islands, got ${isls.length}")
    assert(isls(0).getAs[Timestamp]("island_start") == tsH(4, 30))
    assert(isls(0).getAs[Timestamp]("island_end") == tsH(4, 45))
    assert(isls(0).getAs[Long]("n_events") == 1L)
    assert(isls(1).getAs[Timestamp]("island_start") == tsH(5, 10),
      "the late 5:10 event must extend the island's start downward")
    assert(isls(1).getAs[Timestamp]("island_end") == tsH(5, 35))
    assert(isls(1).getAs[Long]("n_events") == 2L)
    // and the result equals the batch operator over the same admitted
    // events — the bit-exact law now holds for out-of-order input
    val evDir = java.nio.file.Files
      .createTempDirectory("graft-isl-late").toString
    Seq((1L, tsH(5, 20), 77L, "view", 0.0),
      (2L, tsH(5, 10), 77L, "view", 0.0),
      (3L, tsH(4, 30), 77L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.parquet(s"$evDir/events.parquet")
    val b = graft.operators.Temporal.intervalCoalesce(sp, evDir)
      .filter(col("user_id") === 77L).collect().head
    assert(b.getLong(1) == 2L, "batch: two islands")
    val coveredStream = isls.map(r =>
      r.getAs[Timestamp]("island_end").getTime -
        r.getAs[Timestamp]("island_start").getTime).sum * 1000L
    assert(b.getLong(2) == coveredStream, "covered micros equal")
  }

  test("streaming interval coalescing merges touching windows across " +
    "batch boundaries and equals the batch islands on the real log") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.intervalCoalesceStream(sp, input.toDS())
      .writeStream.format("memory").queryName("isl_out")
      .outputMode("append").start()
    // batch 1: event at 0'; batch 2: touching event at exactly 15'
    // (same island — batch boundary must not split it), then 40'
    // opens a second island after the 15'+15' gap
    input.addData(Event(1, ts(0), 10, "view", 0.0))
    q.processAllAvailable()
    input.addData(Event(2, ts(15), 10, "view", 0.0),
      Event(3, ts(40), 10, "view", 0.0))
    q.processAllAvailable()
    // sentinel far in the future advances the watermark past every
    // timeout so the open island closes
    input.addData(Event(99, tsH(23, 0), 999, "view", 0.0))
    q.processAllAvailable()
    val crafted = sp.sql(
      "SELECT * FROM isl_out WHERE user_id = 10 ORDER BY island_start")
      .collect()
    assert(crafted.length == 2, s"two islands, got ${crafted.length}")
    assert(crafted(0).getAs[Long]("n_events") == 2L, "touching merged")
    assert(crafted(0).getAs[Timestamp]("island_end").getTime -
      crafted(0).getAs[Timestamp]("island_start").getTime == 1800000L)
    assert(crafted(1).getAs[Long]("n_events") == 1L)
    q.stop()
    // real log: closed islands must reproduce the batch rollup exactly
    val all = graft.sources.Tables.events(sp, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input2 = MemoryStream[Event]
    val q2 = Streams.intervalCoalesceStream(sp, input2.toDS())
      .writeStream.format("memory").queryName("isl_out2")
      .outputMode("append").start()
    all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
      input2.addData(chunk.toIndexedSeq)
      q2.processAllAvailable()
    }
    val lastTs = all.last.ts.getTime
    input2.addData(Event(20000000L, new Timestamp(lastTs + 48L * 3600 * 1000),
      -1L, "view", 0.0))
    q2.processAllAvailable()
    val streamed = sp.sql("SELECT * FROM isl_out2 WHERE user_id >= 0")
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[Timestamp](1).toInstant,
        r.getAs[Timestamp](2).toInstant,
        r.getLong(3)))
      .groupBy(_._1)
    q2.stop()
    val batch = graft.operators.Temporal.intervalCoalesce(sp, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(streamed.keySet == batch.keySet, "user coverage")
    streamed.foreach { case (u, isls) =>
      def us(i: java.time.Instant) =
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      val covered = isls.map(x => us(x._3) - us(x._2)).sum
      val (bN, bCov, bMax) = batch(u)
      assert(isls.length.toLong == bN, s"user $u island count")
      assert(covered == bCov, s"user $u covered micros")
      assert(isls.map(_._4).max == bMax, s"user $u max island")
    }
  }

  test("streaming weighted reservoir equals the batch per-group " +
    "Efraimidis-Spirakis sample bit-exactly; replays are absorbed") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val n = 10
      val all = graft.sources.Tables.documents(sp, sf)
        .select(col("doc_id"), col("lang"), col("text"))
        .as[Streams.LangDoc].collect().sortBy(_.doc_id)
      val input = MemoryStream[Streams.LangDoc]
      val q = Streams.reservoirStream(sp, input.toDS(), n)
        .writeStream.format("memory").queryName("res_out")
        .outputMode("update").start()
      val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
      chunks.foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // replay the middle chunk: deterministic keys dedupe, nothing moves
      input.addData(chunks(1).toIndexedSeq)
      q.processAllAvailable()
      val rows = sp.sql("SELECT * FROM res_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4)))
      q.stop()
      // the LATEST revision per language is the live reservoir
      val latest = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val maxRev = rs.map(_._2).max
        rs.filter(_._2 == maxRev).toSeq
      }
      val streamed = latest
        .map(r => (r._1, r._3, r._4, r._5)).toSet
      val docs = graft.sources.Tables.documents(sp, sf)
        .select(col("doc_id"), col("lang"),
          greatest(size(split(lower(trim(col("text"))), "\\s+"))
            .cast("long"), lit(1L)).as("n_tokens"))
      val batch = graft.operators.Sampling
        .weightedSamplePerGroup(docs, "doc_id", "n_tokens", "lang", n)
        .collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("es_key"), r.getAs[Long]("n_tokens"))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        "final reservoirs must equal the batch per-group sample " +
          "bit-exactly (deterministic ES keys)")
      // replay absorbed: the post-replay revision's membership equals
      // the pre-replay one — already implied by batch equality, but
      // assert the reservoir sizes never exceed n
      latest.groupBy(_._1).foreach { case (lang, rs) =>
        assert(rs.size <= n, s"$lang reservoir exceeded n")
      }
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("reservoir weight tokenization matches the batch n_tokens on " +
    "whitespace-prefixed docs (SQL trim is space-only: a tab-prefixed " +
    "doc keeps its leading empty token, so the ES key must too)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val n = 3
      val synth = Seq(
        Streams.LangDoc(1L, "en", "\talpha beta gamma"), // leading tab
        Streams.LangDoc(2L, "en", "alpha beta\n"),       // trailing \n
        Streams.LangDoc(3L, "en", "  alpha beta  "),     // spaces: trimmed
        Streams.LangDoc(4L, "en", "alpha\tbeta gamma delta"),
        Streams.LangDoc(5L, "en", ""))
      val input = MemoryStream[Streams.LangDoc]
      val q = Streams.reservoirStream(sp, input.toDS(), n)
        .writeStream.format("memory").queryName("res_ws_out")
        .outputMode("update").start()
      input.addData(synth.toIndexedSeq)
      q.processAllAvailable()
      val rows = sp.sql("SELECT * FROM res_ws_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4)))
      q.stop()
      val maxRev = rows.map(_._2).max
      val streamed = rows.filter(_._2 == maxRev)
        .map(r => (r._1, r._3, r._4, r._5)).toSet
      val docs = synth.toDF("doc_id", "lang", "text")
        .select(col("doc_id"), col("lang"),
          greatest(size(split(lower(trim(col("text"))), "\\s+"))
            .cast("long"), lit(1L)).as("n_tokens"))
      val batch = graft.operators.Sampling
        .weightedSamplePerGroup(docs, "doc_id", "n_tokens", "lang", n)
        .collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("es_key"), r.getAs[Long]("n_tokens"))).toSet
      assert(streamed == batch,
        s"whitespace-prefixed token counts diverged: $streamed vs $batch")
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming per-site MG summaries: exact regime is bit-equal to " +
    "the batch counts, the saturated regime honors the per-site MG " +
    "bound, and the latest revisions compose through the central " +
    "consortium merge to pooled-count accuracy") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val k = 8
      // site A: 5 distinct items (exact regime at k=8); site B: 40
      // distinct + a planted heavy item (saturated regime)
      val aRows = (0 until 200).map(i =>
        Streams.SiteItem("siteA", s"a${i % 5}"))
      val bRows = (0 until 300).map(i =>
        Streams.SiteItem("siteB",
          if (i % 3 == 0) "HEAVY" else s"b${i % 40}"))
      val all = new scala.util.Random(7).shuffle(aRows ++ bRows)
      val input = MemoryStream[Streams.SiteItem]
      val q = Streams.mgSummaryStream(sp, input.toDS(), k)
        .writeStream.format("memory").queryName("mg_out")
        .outputMode("update").start()
      all.grouped(120).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      q.stop()
      val rows = sp.sql("SELECT * FROM mg_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4)))
      val latest = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val maxRev = rs.map(_._2).max
        rs.filter(_._2 == maxRev).toSeq
      }
      // site A (unsaturated): summary ≡ exact counts, n exact
      val aGot = latest.filter(_._1 == "siteA")
        .map(r => r._3 -> r._4).toMap
      val aExact = aRows.groupBy(_.item).view.mapValues(_.size.toLong).toMap
      assert(aGot == aExact, s"unsaturated site diverged: $aGot vs $aExact")
      assert(latest.filter(_._1 == "siteA").forall(_._5 == 200L))
      // site B (saturated): ≤ k entries, every counter undercounts by
      // ≤ n_B/(k+1), the heavy item (100 > 300/9) is tracked
      val bGot = latest.filter(_._1 == "siteB")
        .map(r => r._3 -> r._4).toMap
      val bExact = bRows.groupBy(_.item).view.mapValues(_.size.toLong).toMap
      assert(bGot.size <= k)
      val bBound = 300.0 / (k + 1)
      bGot.foreach { case (item, est) =>
        val ex = bExact.getOrElse(item, 0L)
        assert(est <= ex, s"$item: $est overcounts $ex")
        assert(ex - est <= bBound, s"$item undercount ${ex - est} > $bBound")
      }
      assert(bGot.contains("HEAVY"), "planted heavy item must be tracked")
      // the live summaries compose through the consortium merge
      val merged = graft.operators.Federation.mergeSiteSummaries(
        latest.toDF("site", "rev", "item", "cnt", "n"), k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val pooledExact = (aRows ++ bRows).groupBy(_.item)
        .view.mapValues(_.size.toLong).toMap
      val nBound = 500.0 / (k + 1)
      merged.foreach { case (item, est) =>
        val ex = pooledExact.getOrElse(item, 0L)
        assert(est <= ex && ex - est <= nBound,
          s"merged $item: est=$est exact=$ex bound=$nBound")
      }
      assert(merged.contains("HEAVY"))
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming attribution credits equal the batch ledger on the " +
    "in-order log; every purchase emits exactly one credit row") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val prior = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(sp, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Event]
      val q = Streams.attributionStream(sp, input.toDS())
        .writeStream.format("memory").queryName("attr_out")
        .outputMode("append").start()
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val credits = sp.sql("SELECT * FROM attr_out").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getString(3)))
      q.stop()
      val nPurch = all.count(_.event_type == "purchase")
      assert(credits.length === nPurch,
        "exactly one credit row per purchase")
      assert(credits.map(_._1).distinct.length === nPurch)
      val firstCounts = credits.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val lastCounts = credits.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val batch = graft.operators.Behavioral.attribution(sp, sf).collect()
      batch.foreach { r =>
        val ch = r.getAs[String]("channel")
        assert(firstCounts.getOrElse(ch, 0L) === r.getAs[Long]("first_touch"),
          s"first-touch ledger for $ch")
        assert(lastCounts.getOrElse(ch, 0L) === r.getAs[Long]("last_touch"),
          s"last-touch ledger for $ch")
      }
    } finally prior match {
      case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
