package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Pipeline}
import graft.streaming.Streams
import graft.sources.Tables
import scala.jdk.CollectionConverters._

/** The round-7 capstone law: curating ONE ARRIVING BATCH against the
  * persisted corpus indexes at O(batch) cost produces EXACTLY what the
  * O(corpus) full-rebuild pipeline would have produced for those same
  * documents — under the corpus-wins keep policy (here realized by the
  * id convention corpus ids < batch ids, which makes the full
  * rebuild's min-id keepers coincide with corpus-wins). This is the
  * property that lets a 100 TB corpus curate each crawl wave without
  * rescanning itself. */
class IncrementalCurationSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("curateIncrement == curateCorpus(full) restricted to the batch; " +
    "bidirectional containment probe matches the batch-side slice of " +
    "the full containment join") {
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val cut = maxId * 2 / 3
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-cur-inc").toString
    docs.filter(col("doc_id") <= cut)
      .write.parquet(s"$corpusDir/documents.parquet")
    Dedup.buildMinhashIndex(spark, corpusDir, "cur_inc_mh", nBuckets = 4)
    Dedup.buildContainmentIndex(spark, corpusDir, "cur_inc_cont", nBuckets = 4)
    val batch = docs.filter(col("doc_id") > cut).select(col("doc_id"), col("text"))

    // the bidirectional probe alone: its pairs must be exactly the
    // batch-vs-corpus slice of the full corpus's directed containment
    // join, BOTH directions (the reverse direction is what the stored
    // index-side prefixes exist for)
    val both = Dedup.probeContainmentBoth(spark, "cur_inc_cont", batch)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val fullPairs = Dedup.containmentJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expectBoth = (for {
      (a, b, c) <- fullPairs
      if a > cut && b <= cut // probe -> index direction as stored
    } yield (a, b)).map { case (a, b) =>
      val cab = fullPairs.find(p => p._1 == a && p._2 == b).map(_._3)
      val cba = fullPairs.find(p => p._1 == b && p._2 == a).map(_._3)
      (a, b, cab, cba)
    }
    // every full-join cross-boundary hit must be found by the probe
    // with the same containment values (probe may also report pairs
    // where only the reverse direction clears tau)
    for ((a, b, cab, cba) <- expectBoth) {
      val hit = both.find(p => p._1 == a && p._2 == b)
      assert(hit.isDefined, s"probe missed full-join pair ($a, $b)")
      cab.foreach(v => assert(hit.get._3 == v, s"c_ab mismatch on ($a, $b)"))
      cba.foreach(v => assert(hit.get._4 == v, s"c_ba mismatch on ($a, $b)"))
    }
    // reverse-only evidence: the probe must also surface pairs where
    // ONLY the corpus-in-batch direction clears tau
    val fwdOnly = fullPairs.filter(p => p._1 > cut && p._2 <= cut).map(p => (p._1, p._2))
    val revOnly = both.filter(p => !fwdOnly.contains((p._1, p._2)))
    assert(revOnly.forall(_._4 >= 0.6),
      "reverse-only pairs must clear tau in the index-in-probe direction")

    // the capstone parity
    val inc = Pipeline.curateIncrement(spark, "cur_inc_mh", "cur_inc_cont", batch)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    val full = Pipeline.curateCorpus(spark, sf)
      .filter(col("doc_id") > cut)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    assert(full.nonEmpty, "the batch slice of the full pipeline is non-empty")
    assert(inc == full,
      s"increment diverged: only-inc=${(inc -- full).take(5)} " +
        s"only-full=${(full -- inc).take(5)}")

    // a too-loose probe tau must be refused loudly (stored prefixes are
    // sized for the build tau)
    val err = intercept[IllegalArgumentException] {
      Dedup.probeContainmentBoth(spark, "cur_inc_cont", batch, tau = 0.3)
    }
    assert(err.getMessage.contains("build tau"))
  }

  test("ingest-loop stream: waves curate against a GROWING corpus " +
    "(survivors admitted between waves) and match the sequential " +
    "batch reference exactly") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(sp, sf)
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val cut = maxId / 2
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-loop-inc").toString
    docs.filter(col("doc_id") <= cut)
      .write.parquet(s"$corpusDir/documents.parquet")

    def buildIdx(tag: String): (String, String) = {
      Dedup.buildMinhashIndex(sp, corpusDir, s"loop_mh_$tag", nBuckets = 4)
      Dedup.buildContainmentIndex(sp, corpusDir, s"loop_cont_$tag", nBuckets = 4)
      (s"loop_mh_$tag", s"loop_cont_$tag")
    }
    val rest = docs.filter(col("doc_id") > cut).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val mid = rest.length / 2
    val wave1 = rest.take(mid)

    // sequential batch reference: curate wave, append survivors, repeat
    val (mhRef, contRef) = buildIdx("ref")
    def curateAndAdmit(mh: String, cont: String,
        wave: Array[(Long, String)]): Set[(Long, String, Double, String)] = {
      val w = wave.toSeq.toDF("doc_id", "text")
      val out = Pipeline.curateIncrement(sp, mh, cont, w)
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      val survivors = w.join(out.map(_._1).toSeq.toDF("doc_id"),
        Seq("doc_id"), "left_semi")
      Dedup.appendToMinhashIndex(sp, mh, survivors)
      Dedup.appendToContainmentIndex(sp, cont, survivors)
      out.toSet
    }
    val ref1 = curateAndAdmit(mhRef, contRef, wave1)
    assert(ref1.nonEmpty)
    // wave 2 carries an EXACT COPY of a wave-1 SURVIVOR under a fresh
    // id: it must be dropped IFF wave 1's survivors entered the index
    val twinSrc = ref1.map(_._1).min
    val dupOfWave1 = (maxId + 1000L,
      wave1.find(_._1 == twinSrc).get._2)
    val wave2 = rest.drop(mid) :+ dupOfWave1
    val ref2 = curateAndAdmit(mhRef, contRef, wave2)
    assert(ref2.nonEmpty)
    assert(!ref2.exists(_._1 == dupOfWave1._1),
      "wave-2 duplicate of an admitted wave-1 survivor must be dropped")

    // streamed: same waves through curationIncrementStream
    val (mhS, contS) = buildIdx("st")
    val out = java.nio.file.Files.createTempDirectory("graft-loop-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-loop-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.curationIncrementStream(sp,
      input.toDF().toDF("doc_id", "text"), mhS, contS, out, ckpt)
    Seq(wave1, wave2).foreach { wave =>
      input.addData(wave.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sp.read.parquet(out).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    assert(streamed == (ref1 ++ ref2),
      s"streamed loop diverged: only-stream=${(streamed -- (ref1 ++ ref2)).take(5)} " +
        s"only-ref=${((ref1 ++ ref2) -- streamed).take(5)}")
  }

  test("curateIncrement reads the containment index's _meta row once") {
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-meta-once").toString
    docs.filter(col("doc_id") <= maxId / 2)
      .write.parquet(s"$corpusDir/documents.parquet")
    Dedup.buildMinhashIndex(spark, corpusDir, "meta_once_mh", nBuckets = 4)
    Dedup.buildContainmentIndex(spark, corpusDir, "meta_once_cont", nBuckets = 4)
    val batch = docs.filter(col("doc_id") > maxId / 2)
      .select(col("doc_id"), col("text"))
    val (_, run) = Metrics.withJobs(spark)(Pipeline.curateIncrement(spark,
      "meta_once_mh", "meta_once_cont", batch).collect())
    val metaJobs = run.jobs.flatMap(_.description)
      .filter(Set("increment.meta", "containment_both.meta"))
    assert(metaJobs.size == 1, s"_meta read by ${metaJobs.size} jobs: $metaJobs")
  }

  test("pooled branches: a branch that throws cancels its sibling's " +
    "running job, and its own exception surfaces") {
    val sc = spark.sparkContext
    val sibling = new java.util.concurrent.CountDownLatch(1)
    val siblingJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(
            Metrics.JobDescription))).contains("test.sibling")) {
          siblingJobs.add(e.jobId)
          sibling.countDown()
        }
    }
    val boom = new IllegalStateException("branch failed at once")
    sc.addSparkListener(l)
    try {
      val thrown = intercept[IllegalStateException] {
        Pipeline.inParallel(spark)(
          // throws as soon as the sibling's job is running
          () => { sibling.await(60, java.util.concurrent.TimeUnit.SECONDS); throw boom },
          // a two-minute job unless its tasks are killed
          () => Metrics.phase(spark, "test.sibling") {
            sc.parallelize(1 to 2, 2).map { i =>
              val tc = org.apache.spark.TaskContext.get()
              val end = System.currentTimeMillis() + 120000
              while (!tc.isInterrupted() && System.currentTimeMillis() < end)
                Thread.sleep(20)
              i
            }.count()
          })
      }
      assert(thrown eq boom, s"the failing branch's exception must surface: $thrown")
      org.apache.spark.graft.BusDrain.drain(sc)
      assert(!siblingJobs.isEmpty, "the sibling branch never started its job")
      val active = sc.statusTracker.getActiveJobIds().toSet
      assert(active.intersect(siblingJobs.asScala).isEmpty,
        s"sibling jobs still running after the failure: $active")
    } finally sc.removeSparkListener(l)
  }
}
