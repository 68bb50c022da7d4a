package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Metrics
import org.apache.spark.graft.CancelTagged
import graft.sources.Tables

/** End-to-end training-corpus curation: the §2c operators composed the
  * way a production pipeline runs them, cheapest filters first so each
  * stage shrinks the next one's input:
  *
  *   quality gate → language gate → exact dedup → near-dup cluster
  *   keep-one → deterministic split assignment → split-leakage
  *   suppression (drop train docs sharing verbatim-or-near content
  *   with test docs — `Dedup.splitLeakage`'s remediation applied)
  *
  * Everything stays one lazy DataFrame graph (no materialization
  * between stages besides the cluster step's own checkpoint), so
  * Catalyst fuses the scalar gates into the scan.
  */
object Pipeline {

  /** Run independent `branches` concurrently, one thread each, and
    * return their results in order. Every Spark job a branch launches
    * carries a job tag of this call. When a branch throws, the other
    * branches' jobs are cancelled — repeatedly until those branches
    * have ended, since a branch between two jobs starts its next one
    * after a cancel — and the first failure is rethrown, so a failed
    * composition leaves none of its jobs running. */
  private[graft] def inParallel[T](spark: SparkSession)(
      branches: (() => T)*): Seq[T] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
      Executors, TimeUnit}
    val sc = spark.sparkContext
    val tag = s"graft-branches-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(branches.size)
    val done = new ExecutorCompletionService[T](pool)
    // the pool's threads end with the call, so the tag needs no removal
    val futures = branches.map(b => done.submit { () => sc.addJobTag(tag); b() })
    pool.shutdown()
    try {
      branches.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch {
      case failed: Throwable =>
        do CancelTagged(sc, tag)
        while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS))
        // once more after the branches end: it queues behind the stage
        // cancels a failing AQE query posts on its way out, so every
        // tagged job has ended when this returns
        CancelTagged(sc, tag)
        throw (failed match {
          case e: ExecutionException => e.getCause
          case e => e
        })
    }
  }

  def curateCorpus(spark: SparkSession, dir: String,
      minQuality: Double = 0.3): DataFrame = {
    // near-dup clustering and split leakage both materialize expensive
    // subtrees during CONSTRUCTION (LSH bands + component labeling;
    // shingle sets + df-ordered prefixes). They are independent —
    // overlapped on two threads so the eager half of the composed
    // pipeline costs the slower branch, not the sum (guide §2.6)
    val Seq(nearKeep, leakTrainDocs) = inParallel(spark)(
      () => Dedup.dedupClusters(spark, dir)
        .filter(col("is_keeper")).select(col("doc_id")),
      () => Dedup.splitLeakage(spark, dir)
        .select(col("train_doc").as("doc_id")).distinct())
    val exactKeep = Dedup.exact(spark, dir)
      .select(col("keep_id").as("doc_id"))
    // the quality/language gates are ROW-LOCAL columns (the exact same
    // expressions qualityScore/langId project), so they fold into ONE
    // corpus scan here — joining the two scored frames back on doc_id
    // costed two extra full scans plus two corpus-sized shuffles for
    // values derivable in the row (the curateIncrement shape)
    val curated = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.qualityCol.as("quality"),
        TextAnalysis.langPredCol.as("lang_pred"))
      .filter(col("quality") >= minQuality && col("lang_pred") =!= "und")
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearKeep, Seq("doc_id"), "left_semi")
    // leakage suppression: the leak list is train-side doc ids only,
    // so the anti-join removes exactly the offending train rows and
    // cannot touch val/test. Computed on the full corpus (conservative
    // — a leak via an already-dropped doc can't resurrect it).
    Sampling.hashSplit(curated, "doc_id")
      .join(leakTrainDocs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang_pred"), col("quality"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL CURATION — [[curateCorpus]] for ONE ARRIVING BATCH at
    * O(batch) cost against the persisted corpus indexes, the round-7
    * capstone that the index append/probe machinery exists for: a 100 TB
    * corpus curates each crawl wave without ever rescanning itself.
    *
    * Stages (all batch-sized; the corpus is touched only through
    * bucketed index probes):
    *  - exact-vs-corpus: digest probe ([[Dedup.probeExactIndex]] — also
    *    catches sub-shingle docs the band probe cannot see);
    *  - near-vs-corpus: band probe ([[Dedup.probeMinhashIndex]]);
    *  - within-batch dedup: exact keep-min + batch-local components
    *    ([[Graph.connectedComponents]] over [[Dedup.minhashPairsOf]])
    *    with CLUSTER POISONING: a batch cluster containing ANY
    *    corpus-hit doc drops whole — that is exactly what a full
    *    rebuild's cluster keeper rule does when the merged cluster
    *    contains a (smaller-id) corpus doc, including chains that run
    *    THROUGH a corpus doc (the batch endpoints of such a chain
    *    always carry direct corpus hits, so the poison never misses);
    *  - decontamination / split leakage: BIDIRECTIONAL containment
    *    probe ([[Dedup.probeContainmentBoth]]) against corpus docs +
    *    [[Dedup.splitLeakageOn]] within the batch; corpus-side splits
    *    derive row-locally from the same md5-nibble rule;
    *  - the scalar quality/language gates, row-local on the batch.
    *
    * KEEP POLICY: corpus wins — an arriving duplicate of an indexed
    * document is always the copy dropped (the established corpus is
    * never invalidated by ingest). Under the id convention
    * "corpus ids < batch ids" this makes the increment provably equal
    * to a full rebuild restricted to the batch (parity-spec-proved);
    * with arbitrary ids the full rebuild's min-id keeper may differ —
    * corpus-wins is the operationally right policy either way.
    * Compose with the index appends AFTER curation to admit the
    * survivors into the corpus (and its indexes) for the next wave. */
  def curateIncrement(spark: SparkSession, mhIndex: String,
      contIndex: String, batch: DataFrame,
      minQuality: Double = 0.3,
      spanIndex: Option[String] = None): DataFrame = {
    val batchDocs = Metrics.phase(spark, "increment.batch")(
      batch.select(col("doc_id"), col("text")).localCheckpoint())
    val bIds = batchDocs.select(col("doc_id"))
    val built = Metrics.phase(spark, "increment.meta")(
      Dedup.containmentBuild(spark, contIndex))
    val tau = built.tau
    // The probe branches below are INDEPENDENT, and three of them carry
    // eager materializations during CONSTRUCTION (the near-hit probe
    // checkpoint, the within-batch LSH bands + component labeling, the
    // within-batch leakage join's sets/prefix checkpoints). Built
    // sequentially they serialize on the driver (guide §2.6: actions
    // are only sequential because driver code calls them sequentially)
    // — [[inParallel]] overlaps them so the eager half costs the slowest
    // branch, not the sum. The bidirectional containment probe stays
    // LAZY (single final-job evaluation overlaps the other stages at
    // full core count; an eager checkpoint here measured as a pure
    // 2-second barrier).
    val Seq(nearHit, comps, leakWithin) = inParallel(spark)(
      () => Metrics.phase(spark, "increment.near_hit") {
        val nearPairs = Dedup.probeMinhashIndex(spark, mhIndex, batchDocs)
        nearPairs.select(col("doc_a").as("doc_id"))
          .join(bIds, Seq("doc_id"), "left_semi")
          .unionByName(nearPairs.select(col("doc_b").as("doc_id"))
            .join(bIds, Seq("doc_id"), "left_semi"))
          .distinct()
          .localCheckpoint()
      },
      () => Metrics.phase(spark, "increment.components") {
        Graph.connectedComponents(
          Dedup.minhashPairsOf(batchDocs), "doc_a", "doc_b")
      },
      () => Metrics.phase(spark, "increment.leak_within") {
        Dedup.splitLeakageOn(batchDocs, tau)
          .select(col("train_doc").as("doc_id")).distinct()
      })
    val bothDir = Dedup.probeContainmentBoth(spark, contIndex, batchDocs, tau, built)
    // corpus hits (exact + near) — each probe is O(batch)
    val corpusExact = Dedup.probeExactIndex(spark, mhIndex, batchDocs)
      .select(col("doc_id")).distinct()
    // within-batch structure: exact keep-min + poisoned components
    val digests = batchDocs.select(col("doc_id"), Dedup.digestCol.as("digest"))
    val dropExactBatch = digests
      .join(digests.groupBy(col("digest")).agg(min(col("doc_id")).as("keep")),
        Seq("digest"))
      .filter(col("doc_id") =!= col("keep"))
      .select(col("doc_id"))
    val poisoned = comps
      .join(nearHit.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val dropNearBatch = comps
      .join(poisoned, Seq("component"), "left_semi")
      .select(col("id").as("doc_id"))
      .unionByName(comps.join(poisoned, Seq("component"), "left_anti")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id")))
    // split-leakage: batch train docs leaking against corpus OR batch
    // test docs, either containment direction
    // the split rule is ROW-LOCAL (md5 nibble of the id) — computed
    // directly on the pair columns instead of joining two hashSplit
    // frames back on; the former doc_b join ALSO re-referenced the
    // un-materialized probe subtree, running its candidate join +
    // verify twice per increment (aliases defeat ReuseExchange)
    val leakVsCorpus = bothDir
      .filter(Sampling.splitOf(col("doc_a")) === "train" &&
        Sampling.splitOf(col("doc_b")) === "test")
      .select(col("doc_a").as("doc_id"))
    val drops = corpusExact
      .unionByName(nearHit)
      .unionByName(dropExactBatch)
      .unionByName(dropNearBatch)
      .unionByName(leakVsCorpus)
      .unionByName(leakWithin)
      .distinct()
    // row-local gates last (they commute with the id-keyed drops)
    val curated = Sampling.hashSplit(
      batchDocs.select(col("doc_id"),
        TextAnalysis.qualityCol.as("quality"),
        TextAnalysis.langPredCol.as("lang_pred"))
        .filter(col("quality") >= minQuality && col("lang_pred") =!= "und"),
      "doc_id")
      .join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang_pred"), col("quality"), col("split"))
    spanIndex match {
      case None => curated.orderBy(col("doc_id"))
      case Some(si) =>
        // SPAN-CLIP GATE (r11 verdict item #2): survivors additionally
        // carry their duplicated-span-clipped text — the arriving wave
        // is clipped against the PERSISTED duplicated-window classes at
        // O(batch) ([[graft.operators.Suffix.probeSpanClip]]), instead
        // of a full-corpus suffix re-rank per wave. The doc-drop
        // semantics above are untouched: clipping rewrites text, it
        // never deletes a surviving row (SpanIndexSpec parity law:
        // the clip equals full spanClip(corpus ∪ batch) restricted to
        // the batch).
        curated
          .join(Suffix.probeSpanClip(spark, si, batchDocs),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang_pred"), col("quality"),
            col("split"), col("n_tokens"), col("n_removed"),
            col("clean_text"))
          .orderBy(col("doc_id"))
    }
  }

  /** The query-surface instance of [[curateIncrement]]: treat the
    * first nine-tenths of the id range as the ALREADY-CURATED corpus
    * (indexes staged by [[stagedIncrement]]) and curate the remaining
    * tenth as the arriving wave — the regime an increment exists for (a
    * crawl wave is SMALL relative to the corpus; per-wave cost scales
    * with the wave, so benching a corpus-sized "wave" would measure
    * the wrong thing). Rows-only (component fixpoints have no clean
    * SQL form); the full-rebuild parity is spec-proved. */
  def corpusIncrement(spark: SparkSession, dir: String,
      minQuality: Double = 0.3): DataFrame = {
    val (prefix, batch) = stagedIncrement(spark, "graft_inc", dir) {
      (prefix, corpus) =>
        Dedup.buildMinhashIndexOf(spark, corpus, s"${prefix}_mh")
        Dedup.buildContainmentIndexOf(spark, corpus, s"${prefix}_cont")
    }
    curateIncrement(spark, s"${prefix}_mh", s"${prefix}_cont", batch, minQuality)
  }

  /** The increment faces' split of `dir`'s documents: `build` indexes
    * the (doc_id, text) corpus up to nine-tenths of the largest doc_id,
    * staged by [[graft.sources.Staged]] (rebuilt when `documents`
    * changes); returns the staged prefix and the remaining docs as the
    * batch. */
  private[graft] def stagedIncrement(spark: SparkSession, kind: String,
      dir: String)(build: (String, DataFrame) => Unit): (String, DataFrame) = {
    def docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val (prefix, cut) = graft.sources.Staged(spark, kind, dir, Seq("documents")) {
      prefix =>
        val maxRow = docs.agg(max(col("doc_id"))).head
        val cut = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) * 9 / 10
        build(prefix, docs.filter(col("doc_id") <= cut))
        cut
    }
    (prefix, docs.filter(col("doc_id") > cut))
  }

  /** Per-stage survivor counts — the funnel report a pipeline run logs. */
  def curationFunnel(spark: SparkSession, dir: String,
      minQuality: Double = 0.3): DataFrame = {
    import spark.implicits._
    val total = Tables.documents(spark, dir).count()
    val q = TextAnalysis.qualityScore(spark, dir)
      .filter(col("quality") >= minQuality).count()
    val keepers = Dedup.dedupClusters(spark, dir)
      .filter(col("is_keeper")).count()
    val leakDocs = Dedup.splitLeakage(spark, dir)
      .select(col("train_doc")).distinct().count()
    val fin = curateCorpus(spark, dir, minQuality).count()
    Seq(("0_ingested", total), ("1_quality_pass", q),
      ("2_neardup_keepers", keepers), ("3_leaky_train_docs", leakDocs),
      ("4_final_corpus", fin))
      .toDF("stage", "n_docs")
  }
}
