package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.HashExpressions._
import graft.Metrics
import graft.sources.Tables

/** Deduplication operators over `documents` (SURVEY §2c 25-28).
  *
  * The scale story: exact dedup is a hash groupBy (one shuffle on the
  * digest). Near-dup never compares all pairs — MinHash/SimHash map each
  * doc to a handful of band buckets, so candidate generation is an
  * equi-join on (band, signature): linear shuffles, no O(n²) stage.
  * Exact Jaccard runs only on candidate pairs, computed in the same
  * scan that generates them (shingle arrays ride through the band join
  * instead of being recomputed per branch).
  *
  * Shingles are char-8-gram rolling hashes (native RollingShingles
  * expression, O(len)); the 32-permutation signature is one pass via
  * MinHashSignature — no string allocation anywhere in the pipeline.
  */
object Dedup {

  /** Conservative slack subtracted inside every prefix-filter pruning
    * bound before ceil/compare: the VERIFY threshold compares doubles
    * (J = inter/union as IEEE division vs the caller's tau double), so
    * a bound computed with exact-real ceil can over-round against a
    * pair the double-space verify accepts — e.g. tau = 0.07 on 100
    * shingles: real-τ·100 = 7.0000000000000006 → ceil 8, but a pair
    * with overlap 7 satisfies 7.0/100.0 >= 0.07 in double space.
    * Loosening a prune only ADDS candidates (exactness comes from the
    * verify step), so the epsilon is recall-safe at any tau. */
  private val PruneEps = 1e-9

  private val K = 32 // minhash permutations
  private val BANDS = 8 // 8 bands x 4 rows
  private val SHINGLE = 8 // char n-gram width

  /** doc_id + shingle-hash set (normalized text, char 8-grams). */
  private def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        rollingShingles(normText, SHINGLE).as("shingles"))
      .filter(size(col("shingles")) > 0)

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledOf(Tables.documents(spark, dir))

  /** doc_id (+payload cols) exploded to (band_id, band_sig) bucket keys. */
  private def banded(df: DataFrame): DataFrame = bandedWith(df, K, BANDS)

  /** [[banded]] under an explicit (signature width, band count) plan —
    * the hook [[lshBandPlan]]'s chosen (b, r) feeds. */
  private def bandedWith(df: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val r = k / bands
    df.withColumn("sig", minhashSignature(col("shingles"), k))
      .withColumn("band", explode(expr(
        s"transform(sequence(0, ${bands - 1}), " +
          s"b -> struct(b AS band_id, xxhash64(slice(sig, b * $r + 1, $r)) AS band_sig))")))
      .select(col("doc_id"), col("shingles"),
        col("band.band_id"), col("band.band_sig"))
  }

  /** LSH BAND-PLAN TUNER: for a fixed signature width k, every legal
    * (bands b, rows-per-band r = k/b) split and its S-curve anatomy —
    * P(candidate | Jaccard s) = 1 − (1 − s^r)^b — as closed forms:
    * `threshold` = (1/b)^(1/r) (the curve's steepest point, ≈ where
    * catch probability crosses 1 − 1/e), `p_at_tau` = the catch
    * probability AT the caller's target threshold, `s_at_recall` = the
    * smallest similarity caught with probability ≥ pRecall (solve
    * P(s) = p ⇒ s = (1 − (1−p)^(1/b))^(1/r)), and `p_noise` = the
    * false-candidate probability at τ/2 (the pair-mass bill: expected
    * spurious candidates ≈ pairs(s≈τ/2) · p_noise). Pick the row whose
    * threshold brackets your τ with acceptable noise — the choice the
    * shipped 8×4 default froze at τ ≈ 0.59 becomes an informed,
    * per-corpus knob. Pure math on the driver (k rows), but spec-tied
    * to the REAL [[minhashSignature]] kernel by Monte-Carlo: empirical
    * band-collision rates of planted-similarity pairs must track the
    * formula. */
  def lshBandPlan(spark: SparkSession, tau: Double, k: Int = K,
      pRecall: Double = 0.95): DataFrame = {
    import spark.implicits._
    require(k > 0 && tau > 0.0 && tau < 1.0)
    require(pRecall > 0.0 && pRecall < 1.0)
    (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      (b, r,
        BigDecimal(math.pow(1.0 / b, 1.0 / r))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(p(tau))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(math.pow(1.0 - math.pow(1.0 - pRecall, 1.0 / b), 1.0 / r))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(p(tau / 2))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("bands", "rows_per_band", "threshold", "p_at_tau",
      "s_at_recall", "p_noise")
  }

  /** The tuner's argmax: the (bands, rowsPerBand) split of width-k
    * signatures whose catch probability at `tau` is highest among
    * plans whose noise catch at τ/2 stays under `maxNoise` — "catch
    * everything at τ, pay bounded spurious pair mass"; falls back to
    * the steepest-threshold-closest plan when no plan meets the noise
    * budget. */
  def chooseLshPlan(tau: Double, k: Int = K,
      maxNoise: Double = 0.05): (Int, Int) = {
    val plans = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      (b, r, p(tau), p(tau / 2), math.pow(1.0 / b, 1.0 / r))
    }
    val eligible = plans.filter(_._4 <= maxNoise)
    val pick =
      if (eligible.nonEmpty) eligible.maxBy(_._3)
      else plans.minBy(pl => math.abs(pl._5 - tau))
    (pick._1, pick._2)
  }

  /** [[minhashPairsOf]] under a tuned band plan: k = bands·rowsPerBand
    * minhash permutations, banded by the caller's (typically
    * [[chooseLshPlan]]-picked) split. Same candidate semantics — every
    * pair sharing ≥ 1 band bucket, distinct-ed. */
  def minhashPairsWithPlan(docs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bd = bandedWith(shingledOf(docs), bands * rowsPerBand, bands)
      .select("doc_id", "band_id", "band_sig")
    val a = bd.select(col("doc_id").as("doc_a"), col("band_id"), col("band_sig"))
    val b = bd.select(col("doc_id").as("doc_b"), col("band_id"), col("band_sig"))
    a.join(b, Seq("band_id", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The exact-dup digest expression over a `text` column — shared by
    * [[exact]], [[keepBest]], the persisted digest relation and the
    * incremental curation path. */
  private[graft] def digestCol: org.apache.spark.sql.Column =
    md5(normText)

  /** Exact dedup: md5 over normalized text, keep the smallest doc_id per
    * digest. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), digestCol.as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** DUPLICATION-MULTIPLICITY HISTOGRAM: count-of-counts over the
    * exact content-digest families — per family size k, how many
    * families, how many documents they hold, and how many are
    * redundant ((k−1) per family) — the one-screen "how duplicated is
    * this crawl" readout that decides whether exact dedup is worth a
    * pass at all (the k=1 row is the unique mass; a fat tail of large
    * k is mirror/boilerplate territory). Two count aggregates (digest
    * then size — the second over the already-small family relation)
    * plus a broadcast total; result bounded by the largest family
    * size. */
  def dupMultiplicity(spark: SparkSession, dir: String): DataFrame = {
    val fams = Tables.documents(spark, dir)
      .select(digestCol.as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("k"))
    val total = fams.agg(sum(col("k")).as("n")).scalar()
    fams.groupBy(col("k").as("n_copies"))
      .agg(count(lit(1)).as("n_families"))
      .withColumn("n_docs", col("n_copies") * col("n_families"))
      .withColumn("n_redundant",
        (col("n_copies") - 1) * col("n_families"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / total, 6))
      .orderBy(col("n_copies"))
  }

  /** Quality-aware exact-dup canonicalization — the keep POLICY layer
    * over [[exact]]'s groups: real pipelines keep the most complete
    * copy, not the smallest id (truncated mirrors and snippet copies
    * share the normalized text hash with the full page whenever the
    * normalizer collapses their differences). Per digest group, keep
    * the longest raw copy (n_chars desc), doc_id as the deterministic
    * tiebreak, and report the chars the drop saves — the utility
    * metric a dedup pass is judged by.
    *
    * Plan shape: one digest-KEYED ranking window (partition per
    * digest, rows = that digest's copies — the groups a 100 TB corpus
    * actually has are small) feeding an aggregation on the SAME key,
    * so the ranking exchange is reused by the groupBy. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text_hash"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        md5(normText).as("text_hash"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("text_hash"))
      .agg(
        max(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        max(when(col("rn") === 1, col("n_chars"))).as("kept_chars"),
        count(lit(1)).as("n_copies"),
        coalesce(sum(when(col("rn") > 1, col("n_chars"))), lit(0L))
          .as("dropped_chars"))
      .orderBy(col("keep_id"))
  }

  /** MinHash+LSH near-dup candidate pairs: equi-join on band signature. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.documents(spark, dir))
      .orderBy("doc_a", "doc_b")

  /** Core of [[minhashPairs]] over any (doc_id, text) frame — the unit
    * the skew-stress probes drive with crafted boilerplate corpora. */
  def minhashPairsOf(docs: DataFrame): DataFrame = {
    // materialized ONCE (projected to keys first — no shingle payload):
    // the a/b self-join below references the banded subtree twice, and
    // the per-doc shingling + 32-permutation signature re-executed per
    // side (differing aliases defeat ReuseExchange)
    val bands = banded(shingledOf(docs)).select("doc_id", "band_id", "band_sig")
      .localCheckpoint()
    val a = bands.select(col("doc_id").as("doc_a"), col("band_id"), col("band_sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band_id"), col("band_sig"))
    a.join(b, Seq("band_id", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact n-gram Jaccard on LSH candidates, single scan: shingle arrays
    * ride through the band join; band-duplicate pairs collapse via
    * groupBy max (jaccard is identical per pair, so max = the value). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // materialized ONCE — same double-compute as [[minhashPairsOf]];
    // here the shingle arrays ride through the join for the exact
    // verify, so the checkpoint carries them
    val bands = banded(shingled(spark, dir)).localCheckpoint()
    val a = bands.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
      col("band_id"), col("band_sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
      col("band_id"), col("band_sig"))
    a.join(b, Seq("band_id", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      // |A∩B| via the count-only kernel; |A∪B| = |A|+|B|−|A∩B| exactly
      // (rollingShingles arrays are distinct by construction), so
      // neither the intersection nor the union array is materialized
      .select(col("doc_a"), col("doc_b"),
        round(intersectSize(col("sh_a"), col("sh_b")).cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) -
            intersectSize(col("sh_a"), col("sh_b"))), 4).as("j"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("j")).as("jaccard"))
      .filter(col("jaccard") >= 0.1)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-dup CLUSTERS: connected components over the LSH candidate-pair
    * graph — every doc labeled with the smallest doc_id reachable
    * through near-dup edges, isolated docs labeling themselves. The
    * canonical "keep one per cluster" dedup step. Components come from
    * [[graft.operators.Graph.connectedComponents]] (the alternating
    * large-star/small-star rewrite): measured 1.4× faster here than
    * min-label propagation even on these shallow components, and
    * O(log n) rounds on deep ones. The propagation formulation is kept
    * as [[propagationClusters]] — an algorithmically independent
    * reference the parity spec compares against. */
  def dedupClusters(spark: SparkSession, dir: String,
      maxIters: Int = 25): DataFrame = {
    // the UNORDERED pair core: connectedComponents canonicalizes and
    // distincts its input, so the query face's presentation sort was a
    // wasted corpus-pairs exchange+sort on this path
    val cc = Graph.connectedComponents(
      minhashPairsOf(Tables.documents(spark, dir)), "doc_a", "doc_b", maxIters)
      .withColumnRenamed("id", "doc_id")
    shingled(spark, dir).select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("label"))
      .withColumn("is_keeper", (col("label") === col("doc_id")).cast("boolean"))
      .orderBy(col("doc_id"))
  }

  /** Min-label propagation clusters (the original formulation): each
    * round every doc adopts the smallest label among its neighbors.
    * O(diameter) rounds — fine for shallow near-dup components, beaten
    * by the star rewrite in [[dedupClusters]]; retained as the
    * independent reference implementation for the parity spec. */
  def propagationClusters(spark: SparkSession, dir: String,
      maxIters: Int = 6): DataFrame = {
    val pairs = minhashPairsOf(Tables.documents(spark, dir))
    // undirected edge list, both directions; materialized once — an
    // iterative algorithm must not re-execute the LSH lineage per round
    // (cluster deployments would use checkpoint(dir) instead)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    val docs = shingled(spark, dir).select(col("doc_id"))
    var labels = docs.withColumn("label", col("doc_id")).localCheckpoint()
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("label", "n_label"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("n_label")).as("n_label"))
      // the convergence flag is computed inside the update projection —
      // a separate labels⋈updated diff would cost one more full shuffle
      // join per round
      val updated = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("n_label"), col("label"))).as("label"),
          (coalesce(col("n_label"), col("label")) < col("label")).as("chg"))
        .localCheckpoint()
      val changed = updated.filter(col("chg")).limit(1).count()
      labels = updated.select(col("doc_id"), col("label"))
      converged = changed == 0
      i += 1
    }
    labels.withColumn("is_keeper", (col("label") === col("doc_id")).cast("boolean"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup: 64-bit fingerprint (native Expression), 4×16-bit
    * LSH bands, Hamming ≤ 8 confirm (codegen'd bitCount). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"),
        simhash64(normText).as("fp"))
    val banded = fp.select(col("doc_id"), col("fp"),
        explode(expr("transform(sequence(0, 3), " +
          "b -> struct(b AS band_id, shiftright(fp, b * 16) & 65535 AS band_val))")).as("band"))
      .select(col("doc_id"), col("fp"), col("band.band_id"), col("band.band_val"))
    val a = banded.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"),
      col("band_id"), col("band_val"))
    val b = banded.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"),
      col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hammingDistance(col("fp_a"), col("fp_b")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Persisted MinHash band index — the batch-incremental form of
    * near-dup dedup (the batch twin of the streaming
    * `MinHashIndexProcessor`). The corpus's band buckets are written
    * BUCKETED BY a hash of the band key, so probing a batch of NEW
    * documents is an equi-join that shuffles only the (small) arrival
    * batch: the index side reads co-located, no corpus reshuffle per
    * ingest wave. At 100 TB this is the difference between "dedup the
    * new crawl against the corpus" costing O(new batch) and costing
    * O(corpus). */
  def buildMinhashIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8): Unit =
    buildMinhashIndexOf(spark, Tables.documents(spark, dir), name, nBuckets)

  /** [[buildMinhashIndex]] over any (doc_id, text) frame. */
  def buildMinhashIndexOf(spark: SparkSession, docs: DataFrame, name: String,
      nBuckets: Int = 8): Unit = {
    val bands = banded(shingledOf(docs))
      .select(col("doc_id"), col("band_id"), col("band_sig"))
      .withColumn("band_key", xxhash64(col("band_id"), col("band_sig")))
      .withColumn("epoch", lit(0L))
    graft.sources.FormatIO.writeBucketed(bands, s"${name}_bands",
      "band_key", nBuckets, sortCol = Some("band_key"))
    // the EXACT-dup digests ride with the near-dup index: sub-shingle
    // documents produce no bands (too short to shingle) yet still need
    // their verbatim twins caught at ingest — the digest relation is
    // the probe surface for that, bucketed like everything else
    graft.sources.FormatIO.writeBucketed(
      docs.select(col("doc_id"), digestCol.as("digest"))
        .withColumn("epoch", lit(0L)),
      s"${name}_digests", "digest", nBuckets)
    graft.sources.FormatIO.initIndex(spark, name, "doc_id")
  }

  /** TOMBSTONE-DELETE documents from the persisted MinHash index — the
    * erasure half of index maintenance (GDPR-class removal runs at
    * 100 TB cadence too): the documents vanish from both probes at
    * once, with no index rewrite. One
    * [[graft.sources.FormatIO.deleteWave]]; its contract (idempotent,
    * epoch-atomic, crash-scrubbed) holds for every index family. */
  def deleteFromMinhashIndex(spark: SparkSession, name: String,
      docIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name, docIds.select(col("doc_id")))

  /** Physically erase tombstoned documents' rows from the band and
    * digest relations ([[graft.sources.FormatIO.purgeTombstones]]);
    * returns the band table's stats. */
  def purgeMinhashTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_bands", s"${name}_digests")).head

  /** Probe the persisted digest relation with a batch of documents:
    * (doc_id, idx_doc) pairs whose NORMALIZED text is byte-identical —
    * the exact-dup face of the same index ([[buildMinhashIndex]]);
    * catches sub-shingle documents the band probe cannot see. */
  def probeExactIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): DataFrame = {
    // pinned ONCE: every segment table reads at the same committed
    // epoch, so a concurrent append/delete wave is invisible until its
    // single commit marker lands (FormatIO index-epoch protocol)
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    newDocs.select(col("doc_id"), digestCol.as("digest"))
      .join(graft.sources.FormatIO.liveAt(spark, name, s"${name}_digests", pin)
        .select(col("digest"), col("doc_id").as("idx_doc")), Seq("digest"))
      .filter(col("doc_id") =!= col("idx_doc"))
      .select(col("doc_id"), col("idx_doc"))
  }

  /** Probe the persisted band index with a batch of documents
    * (`doc_id`, `text`): emits candidate near-dup pairs (probe doc,
    * index doc) exactly as the batch band equi-join would — joining on
    * the full (band_key, band_id, band_sig) key keeps semantics
    * hash-collision-free while letting the bucketed layout satisfy the
    * index side without an Exchange. Probing the index's own corpus
    * reproduces `minhashPairs` (spec-checked). */
  def probeMinhashIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): DataFrame = {
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val probe = banded(shingledOf(newDocs))
      .select(col("doc_id"), col("band_id"), col("band_sig"))
      .withColumn("band_key", xxhash64(col("band_id"), col("band_sig")))
    // live rows BEFORE the pair symmetrization (deleted docs must
    // vanish from either side of the emitted pair)
    val index = graft.sources.FormatIO.liveAt(spark, name, s"${name}_bands", pin)
      .withColumnRenamed("doc_id", "idx_doc")
    // no terminal orderBy: probes are LIBRARY operators feeding further
    // plans — presentation ordering belongs at the caller's edge, not
    // as a global Exchange inside every probe (PlanHygieneSpec asserts)
    probe.join(index, Seq("band_key", "band_id", "band_sig"))
      .filter(col("doc_id") =!= col("idx_doc"))
      .select(least(col("doc_id"), col("idx_doc")).as("doc_a"),
        greatest(col("doc_id"), col("idx_doc")).as("doc_b"))
      .distinct()
  }

  /** DELTA APPEND a batch of new documents (`doc_id`, `text`) into the
    * persisted MinHash band index — the maintenance operation that was
    * missing from the build/probe pair: [[buildMinhashIndex]] is a full
    * corpus rebuild, so before this, keeping the index current cost
    * O(corpus) per ingest wave even though probing cost O(batch). The
    * batch's band rows are row-local to compute and land in the SAME
    * buckets a rebuild would place them (append reuses the table's own
    * bucket spec), so `append(batch) ∘ build(corpus)` is
    * probe-indistinguishable from `build(corpus ∪ batch)`
    * (parity-spec-proved) and per-wave cost is O(batch). Compose with
    * [[graft.sources.FormatIO.compactBucketedTable]] to fold the
    * per-wave file accretion back to one file per bucket. */
  def appendToMinhashIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit = {
    // stage → write both segment tables tagged e → one-commit publish:
    // pinned probes either see neither table's wave or both
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_bands", s"${name}_digests"))
    val bands = banded(shingledOf(newDocs))
      .select(col("doc_id"), col("band_id"), col("band_sig"))
      .withColumn("band_key", xxhash64(col("band_id"), col("band_sig")))
      .withColumn("epoch", lit(e))
    graft.sources.FormatIO.appendBucketed(spark, bands, s"${name}_bands")
    graft.sources.FormatIO.appendBucketed(spark,
      newDocs.select(col("doc_id"), digestCol.as("digest"))
        .withColumn("epoch", lit(e)),
      s"${name}_digests")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** MinHash ACCURACY AUDIT, oracle-checked: on the bounded md5 panel,
    * compare a k-position md5-minhash Jaccard ESTIMATE against the
    * exact shingle Jaccard for every pair — the calibration table that
    * justifies the banded index's (bands, rows) operating point with
    * measured error, not the textbook formula. The estimator is
    * deliberately md5-based (position p's hash = min over shingles of
    * md5(p:shingle)) so the WHOLE sketch is bit-reproducible in any
    * engine — which is what puts a sketch-accuracy audit on the exact
    * oracle surface (the production banded index keeps its faster
    * xxhash signatures; unbiasedness is hash-family-independent).
    * Signatures are row-local (k·|st| md5 calls per doc); the pair
    * kernel is panelN² over the broadcast panel — bounded at any
    * corpus size, the knn/media panel-kernel class. */
  def minhashEstAudit(spark: SparkSession, dir: String, k: Int = 16,
      panelN: Int = 40): DataFrame = {
    val sets = tokenShingleSetsOf(
      Sampling.md5TopN(Tables.documents(spark, dir), "doc_id", panelN), 3)
      .localCheckpoint()
    val sigs = sets.select(col("doc_id"), col("st"),
      expr(s"""transform(sequence(0, ${k - 1}),
           |  p -> array_min(transform(st,
           |    s -> md5(concat(CAST(p AS STRING), ':', s)))))""".stripMargin)
        .as("sig"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("st").as("sa"),
      col("sig").as("siga"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("st").as("sb"),
      col("sig").as("sigb"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("""aggregate(zip_with(siga, sigb,
             |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
             |  0, (acc, v) -> acc + v)""".stripMargin)
          .cast("long").as("est_matches"),
        intersectSize(col("sa"), col("sb")).cast("long").as("inter"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("sz_sum"))
      .withColumn("uni", col("sz_sum") - col("inter"))
      .withColumn("k", lit(k.toLong))
      .withColumn("est_j",
        round(col("est_matches").cast("double") / k, 6))
      .withColumn("exact_j",
        round(col("inter").cast("double") / col("uni"), 6))
      .select(col("doc_a"), col("doc_b"), col("k"), col("est_matches"),
        col("inter"), col("uni"), col("est_j"), col("exact_j"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** doc_id + distinct `shingle`-token shingle set, AS A PLAN. The
    * repartition BEFORE the shingle projection moves only raw text,
    * then spreads the string-heavy shingle construction across every
    * core — a small parquet input otherwise arrives as one scan task
    * and the build runs single-threaded (at cluster scale many files
    * make this a no-op cost-wise; locally it was the entire runtime).
    * Kept as a PLAN (not checkpointed): Catalyst then sees the
    * parquet-derived size estimate and plans downstream verify joins
    * as broadcasts while the corpus fits — a localCheckpoint would
    * hide the stats and force sort-merge joins that shuffle the
    * shingle arrays (measured: the array shuffle WAS the query's
    * runtime). Callers materialize their own token-level consumers, so
    * the shingle build executes a bounded number of times, in
    * parallel. */
  private[graft] def tokenShingleSetsOf(docs: DataFrame, shingle: Int): DataFrame =
    docs
      .select(col("doc_id"), col("text"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) >= shingle)
      // native gram kernel — one pass, no per-window interpreted
      // lambda/slice-copy (identical join strings; see TokenGrams)
      .select(col("doc_id"),
        array_distinct(tokenGrams(col("toks"), shingle)).as("st"))

  /** (doc_id, sz, pos, tok): the df-ordered prefix occurrences of each
    * set as shingle strings — `prefLen(sz)` picks the prefix length.
    * The containment index stores these string-keyed prefixes at build
    * and on each append; the query-time joins use the tid form
    * ([[encodedSets]]) instead. */
  private[graft] def orderedPrefixes(sets: DataFrame, dfreq: DataFrame,
      prefLen: Column => Column): DataFrame =
    sets
      .select(col("doc_id"), size(col("st")).as("sz"), explode(col("st")).as("tok"))
      .join(dfreq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(max(col("sz")).as("sz"),
        array_sort(collect_list(struct(col("df"), col("tok")))).as("ordered"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("ordered"), lit(1), prefLen(col("sz")).cast("int"))))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("pos"),
        col("col.tok").as("tok"))

  /** Spread a small candidate-pair relation to full parallelism before
    * a CPU-heavy verify projection. The pair rows are tiny (two longs),
    * so AQE's byte-based coalescing collapses the distinct's output to
    * 1-4 partitions — and the verify (broadcast attach + per-pair set
    * intersection) fuses into that stage, leaving 30+ cores idle while
    * a handful of tasks grind through millions of array intersections
    * (measured: q_corpus_pipeline reps swinging 3.9 → 37 s on identical
    * data; thread dumps show 4 runnable tasks in intersectSize while
    * the rest of the pool parks — the r12-verdict 32-core pathology).
    * An EXPLICIT partition count is the documented AQE contract for
    * "do not coalesce this" (user-specified counts are respected);
    * round-robin gives perfect work balance and the extra exchange
    * moves only the pair keys (§2.2/§2.5: coalescing is sized by
    * bytes, but this stage's cost is per-row CPU, not bytes). */
  private def spreadPairs(pairs: DataFrame): DataFrame =
    pairs.repartition(
      pairs.sparkSession.sessionState.conf.numShufflePartitions)

  /** EXACT dictionary encoding of the shingle sets: each distinct
    * shingle gets `tid` = its 1-based rank in the global
    * (df asc, tok asc) order — `row_number` over a TOTAL order (tok is
    * unique within dfreq), so the map is a deterministic BIJECTION and
    * every size/intersection count over the tid arrays equals the same
    * count over the string sets. Returns (doc_id, sz, sti) with `sti`
    * sorted ascending — tid order IS the (df, tok) order
    * [[orderedPrefixes]] sorts by, so `slice(sti, 1, prefLen)` is the
    * rare-first prefix and the SAME array serves the verify join.
    * Motivation (guide §2.3, §8): the candidate join keys and the
    * verify arrays become 8-byte longs instead of ~25-byte shingle
    * strings — measured 2× on the verify join at sf0.1 — and the
    * per-doc regroup sorts longs instead of (int, string) structs.
    * The single-partition rank window covers only the VOCABULARY
    * (distinct shingles), never the corpus. */
  private[graft] def encodedSets(sets: DataFrame, dfreq: DataFrame): DataFrame = {
    val tids = dfreq.select(col("tok"),
      row_number().over(Window.orderBy(col("df"), col("tok")))
        .cast("long").as("tid"))
    sets
      .select(col("doc_id"), size(col("st")).as("sz"), explode(col("st")).as("tok"))
      .join(tids, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(max(col("sz")).as("sz"),
        sort_array(collect_list(col("tid"))).as("sti"))
  }

  /** EXACT Jaccard set-similarity self-join WITHOUT LSH, via prefix
    * filtering (the SSJoin/PPJoin family — Chaudhuri et al. ICDE'06,
    * Xiao et al. WWW'08): order every document's set of distinct
    * `shingle`-token shingles by a global canonical order (ascending
    * document frequency, rare shingles first), keep only each set's
    * PREFIX of length |x| − ⌈τ·|x|⌉ + 1, and generate candidates from
    * an equi-join on prefix shingles — any pair with J ≥ τ must share
    * a prefix element, so recall is 1.0 BY CONSTRUCTION (not
    * probabilistically, like MinHash banding); exact Jaccard on the
    * candidates makes precision exact too. The result provably equals
    * the O(n²) all-pairs join — which is what the DuckDB oracle runs,
    * and what the parity spec checks against a naive Spark plan.
    * Shingles (not raw tokens) are the set elements: on a
    * small-vocabulary corpus single-token sets are near-identical
    * across unrelated documents, while shingle sets only overlap on
    * genuinely shared phrasing (same reason dupSpans works on grams).
    *
    * Scale shape: one shingle-level count builds the frequency order
    * (output ~ distinct shingles → AQE broadcasts it back while it
    * fits), one doc-keyed re-sort, then candidates come from an
    * equi-join on prefix shingles — rare-first ordering makes prefix
    * postings short, so candidate volume tracks genuinely-similar mass
    * rather than n². The full sets join back doc-keyed for
    * verification (they ride two hash joins, never the shingle
    * explosion). The residual risk is a frequent shingle surviving
    * into many prefixes (boilerplate) — exactly the skew AQE join
    * splitting handles. Candidate keys and verify arrays are the
    * tid-encoded sets ([[encodedSets]]). The PPJoin+ suffix bound is
    * not implemented: at sf0.1 it pruned 0 of the 124,979 candidates
    * the length and positional prunes leave. */
  def jaccardPrefixJoin(spark: SparkSession, dir: String,
      tau: Double = 0.5, shingle: Int = 3): DataFrame = {
    val setsPlan = tokenShingleSetsOf(Tables.documents(spark, dir), shingle)
    // the frequency/prefix pipeline reads the shingles twice → one
    // materialized copy for that side only
    val sets = Metrics.phase(spark, "jaccard.sets")(setsPlan.localCheckpoint())
    val dfreq = sets.select(explode(col("st")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // PPJoin prunes INSIDE the candidate join, before the distinct
    // and before any set rides anywhere:
    //  - length filter: J ≥ τ forces min(|A|,|B|) ≥ τ·max(|A|,|B|) —
    //    kills short-doc × long-doc pairs sharing one boilerplate
    //    prefix shingle
    //  - positional filter: a shared prefix token at (1-based)
    //    positions (i, j) bounds the overlap by 1 + min(|A|−i, |B|−j),
    //    which must reach α = ⌈τ/(1+τ)·(|A|+|B|)⌉ (the overlap J ≥ τ
    //    implies); a qualifying pair always passes via its FIRST
    //    shared token, so occurrence-level pruning is lossless
    val prefLenOf: Column => Column =
      sz => sz - ceil(lit(tau) * sz - lit(PruneEps)) + 1
    val alphaNeeded =
      ceil(lit(tau / (1.0 + tau)) * (col("sz_a") + col("sz_b")) - lit(PruneEps))
    val la = col("sz_a") - col("pos_a")
    val lb = col("sz_b") - col("pos_b")
    // one exactly-encoded frame ([[encodedSets]] — a bijection, so
    // counts are unchanged) serves the prefix explode AND both verify
    // sides; the candidate join and the verify arrays carry 8-byte tids
    // instead of shingle strings (§2.3 shuffle fewer bytes, measured 2×
    // on the verify)
    val enc = Metrics.phase(spark, "jaccard.encoded")(
      encodedSets(sets, dfreq).localCheckpoint())
    def side(s: String): DataFrame = enc
      .select(col("doc_id").as(s"doc_$s"), col("sz").as(s"sz_$s"),
        posexplode(slice(col("sti"), lit(1),
          prefLenOf(col("sz")).cast("int"))))
      .select(col(s"doc_$s"), col(s"sz_$s"),
        (col("pos") + 1).as(s"pos_$s"), col("col").as("tid"))
    val cands = side("a").join(side("b"), Seq("tid"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(tau) * greatest(col("sz_a"), col("sz_b")) - lit(PruneEps) &&
        (lit(1) + least(la, lb)) >= alphaNeeded)
      .select(col("doc_a"), col("doc_b")).distinct()
    // the intersection is computed ONCE per candidate (a naive
    // `filter(j) … select(j)` re-evaluates array_intersect four times —
    // it appears twice inside j and the expression isn't CSE'd across
    // filter and project); j itself stays a single int division, the
    // identical arithmetic the oracle runs
    // verify reads the MATERIALIZED sets — see containmentJoinOn
    spreadPairs(cands)
      .join(enc.select(col("doc_id").as("doc_a"), col("sti").as("sa")), Seq("doc_a"))
      .join(enc.select(col("doc_id").as("doc_b"), col("sti").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        intersectSize(col("sa"), col("sb")).as("inter"),
        (size(col("sa")) + size(col("sb"))).as("szsum"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("szsum") - col("inter"))).as("j"))
      .filter(col("j") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** EXACT containment (asymmetric-Jaccard) join: directed pairs with
    * C(A→B) = |A∩B| / |A| ≥ τ over the same token-shingle sets as
    * [[jaccardPrefixJoin]] — "A's shingles are mostly inside B", the
    * quote / excerpt / subset-contamination relation symmetric Jaccard
    * cannot see (a 50-token excerpt inside a 5000-token page has
    * J ≈ 0.01 but C ≈ 1.0). Same SSJoin prefix-filter machinery, one
    * side only: order A's set by global df (rare first); C ≥ τ forces
    * overlap ≥ ⌈τ·|A|⌉, so A must share one of its first
    * |A| − ⌈τ·|A|⌉ + 1 shingles with B — if all intersection elements
    * sat past the prefix, overlap would be ≤ ⌈τ·|A|⌉ − 1. B cannot be
    * prefix-pruned (containment is one-sided), so candidates come from
    * prefix(A) ⋈ full-postings(B); recall is 1.0 by construction and
    * exact verification on candidates makes precision exact — the
    * result provably equals the O(n²) all-pairs join the DuckDB oracle
    * runs (parity spec vs a naive Spark plan, both SFs).
    *
    * Occurrence-level prunes, both lossless via the FIRST shared
    * token: a shared prefix token at A-position i bounds the overlap
    * by 1 + (|A| − i) ≥ ⌈τ·|A|⌉, and |B| ≥ overlap ≥ ⌈τ·|A|⌉ kills
    * tiny-B pairings outright.
    *
    * Scale shape: the df count and the posting explosion are each one
    * token-level shuffle (the posting side skips the df join — it
    * needs no ordering); rare-first prefixes keep the A side's posting
    * lists short, so candidate volume tracks genuinely-contained mass.
    * Full sets ride back doc-keyed for the verify, exactly as in
    * [[jaccardPrefixJoin]]. Boilerplate shingles surviving into many
    * prefixes are the AQE-skew-split case again. */
  def containmentJoin(spark: SparkSession, dir: String,
      tau: Double = 0.6, shingle: Int = 3): DataFrame =
    containmentJoinOn(Tables.documents(spark, dir), tau, shingle)

  /** Core of [[containmentJoin]] over any (doc_id, text) frame — the
    * query entry drives it with a deterministic md5-top-N audit panel
    * ([[Sampling.md5TopN]]) so the quadratic DuckDB oracle stays
    * checker-feasible at every SF; the full-corpus operator is this
    * same plan over the whole documents table.
    *
    * Candidates come from the tid-encoded sets ([[encodedSets]]):
    * A-side prefixes joined to B-side full postings, pruned by B length
    * and A position. */
  def containmentJoinOn(docs: DataFrame,
      tau: Double = 0.6, shingle: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val setsPlan = tokenShingleSetsOf(docs, shingle)
    // the frequency/prefix pipeline reads the shingles twice → one
    // materialized copy for that side only
    val sets = Metrics.phase(spark, "containment.sets")(setsPlan.localCheckpoint())
    val dfreq = sets.select(explode(col("st")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefLen: Column => Column =
      sz => sz - ceil(lit(tau) * sz - lit(PruneEps)) + 1
    val needA = ceil(lit(tau) * col("sz_a") - lit(PruneEps))
    // ONE exactly-encoded frame ([[encodedSets]] — a bijection, counts
    // unchanged) serves the A-side prefix explode, the B-side postings
    // AND both verify sides; the candidate join and the verify arrays
    // carry 8-byte tids instead of shingle strings (§2.3, measured 2× on
    // the verify join). The B side needs no ordering, so its postings
    // are a plain explode of the same encoded array.
    val enc = Metrics.phase(spark, "containment.encoded")(
      encodedSets(sets, dfreq).localCheckpoint())
    val prefixes = enc
      .select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        posexplode(slice(col("sti"), lit(1),
          prefLen(col("sz")).cast("int"))))
      .select(col("doc_a"), col("sz_a"),
        (col("pos") + 1).as("pos_a"), col("col").as("tid"))
    val postings = enc
      .select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
        explode(col("sti")).as("tid"))
    // prunes, both lossless via the FIRST shared token (in canonical
    // order no overlap element precedes it on EITHER side — an earlier
    // shared element would itself be the first):
    //  - B length: |B| ≥ overlap ≥ ⌈τ·|A|⌉
    //  - A-positional: overlap ≤ 1 + (|A| − i)
    val cands = prefixes.join(postings, Seq("tid"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("sz_b") >= needA &&
        (lit(1) + col("sz_a") - col("pos_a")) >= needA)
      .select(col("doc_a"), col("doc_b")).distinct()
    // the verify reads the MATERIALIZED encoded sets (not the raw plan):
    // each side of the attach join would otherwise re-run tokenization +
    // shingling over the whole corpus a third and fourth time; the tid
    // arrays have the same sizes and intersection counts (bijection)
    spreadPairs(cands)
      .join(enc.select(col("doc_id").as("doc_a"), col("sti").as("sa")), Seq("doc_a"))
      .join(enc.select(col("doc_id").as("doc_b"), col("sti").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (intersectSize(col("sa"), col("sb")).cast("double") /
          size(col("sa"))).as("c"))
      .filter(col("c") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("c"), 4).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Persist the containment-join corpus side as a probe-able index —
    * the batch-incremental form of [[containmentJoin]], the same
    * index/probe split as [[buildMinhashIndex]]: "is any document of
    * the NEW crawl batch mostly contained in the existing corpus"
    * without touching the corpus per ingest wave. Three relations:
    * full token postings (doc, set size, shingle) BUCKETED BY the
    * shingle so the candidate equi-join reads the corpus co-located
    * with no Exchange; the global df relation (probes order their
    * prefixes by corpus df — ANY order is recall-lossless by
    * pigeonhole, df-order is what keeps the matched posting lists
    * short); and the shingle sets, bucketed by doc, for the verify
    * join's corpus side. */
  def buildContainmentIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8, shingle: Int = 3, tau: Double = 0.6): Unit =
    buildContainmentIndexOf(spark, Tables.documents(spark, dir), name,
      nBuckets, shingle, tau)

  /** [[buildContainmentIndex]] over any (doc_id, text) frame. */
  def buildContainmentIndexOf(spark: SparkSession, docs: DataFrame,
      name: String, nBuckets: Int = 8, shingle: Int = 3,
      tau: Double = 0.6): Unit = {
    val sets = tokenShingleSetsOf(docs, shingle).localCheckpoint()
    val postings = sets.select(col("doc_id").as("doc_b"),
      size(col("st")).as("sz_b"), explode(col("st")).as("tok"))
      .withColumn("epoch", lit(0L))
    graft.sources.FormatIO.writeBucketed(postings, s"${name}_postings",
      "tok", nBuckets, sortCol = Some("tok"))
    graft.sources.FormatIO.writeBucketed(sets.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("st", "sb").withColumn("epoch", lit(0L)),
      s"${name}_sets", "doc_b", nBuckets)
    val dfreq = sets.select(explode(col("st")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    graft.sources.FormatIO.writeSegment(spark, s"${name}_df", dfreq, 0L,
      replace = true)
    // INDEX-SIDE prefixes enable the REVERSE probe direction
    // (C(index -> probe), [[probeContainmentBoth]]): each corpus doc's
    // tau-sized rare-first prefix, bucketed by shingle like the
    // postings. The prefix theorem is subset-choice-free (ANY
    // |b| - ceil(tau*|b|) + 1 elements of b work), so prefixes built
    // under TODAY'S df stay lossless after appends shift the df.
    graft.sources.FormatIO.writeBucketed(
      orderedPrefixes(sets, dfreq,
        sz => sz - ceil(lit(tau) * sz - lit(PruneEps)) + 1)
        .select(col("tok"), col("doc_id").as("doc_b"),
          col("sz").as("sz_b"), col("pos").as("pos_b"))
        .withColumn("epoch", lit(0L)),
      s"${name}_prefixes", "tok", nBuckets, sortCol = Some("tok"))
    // build params persist with the index (the edit-index _meta
    // pattern): prefixes are sized for THIS tau, so reverse-direction
    // probes below it would silently lose recall and are refused
    import spark.implicits._
    Seq((tau, shingle)).toDF("tau", "shingle")
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_meta")
    graft.sources.FormatIO.initIndex(spark, name, "doc_b")
  }

  /** TOMBSTONE-DELETE documents from the persisted containment index —
    * a [[graft.sources.FormatIO.deleteWave]] whose compensating segment
    * is a NEGATIVE df segment derived from the index's own postings.
    * The df only orders prefixes — any order is recall-lossless — but
    * keeping it exact keeps candidate pruning sharp. */
  def deleteFromContainmentIndex(spark: SparkSession, name: String,
      docIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name,
      docIds.select(col("doc_id").as("doc_b")), Seq(s"${name}_df" ->
        graft.sources.FormatIO.subtractDf(spark, s"${name}_postings", "tok")))

  /** Physically erase tombstoned documents from the postings, sets and
    * prefixes, and collapse the df log into one segment counted from
    * the purged postings; returns the postings table's stats. */
  def purgeContainmentTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_postings", s"${name}_sets", s"${name}_prefixes"),
      graft.sources.FormatIO.rebuildDfLog(spark, s"${name}_df",
        s"${name}_postings", "tok", _)).head

  /** Probe the persisted containment index with a batch of documents
    * (`doc_id`, `text`): directed pairs (probe doc → index doc) with
    * C(probe→index) ≥ τ, exactly as [[containmentJoin]] computes them
    * (probing the index's own corpus reproduces it — spec-checked).
    * The probe side orders its prefixes by the CORPUS df (shingles the
    * corpus has never seen get df 0 and sort first: they match no
    * posting, recall is unaffected — the prefix theorem is
    * order-free); only the probe batch shuffles, the postings and the
    * verify-side sets both read on their bucket layout. */
  def probeContainmentIndex(spark: SparkSession, name: String,
      newDocs: DataFrame, tau: Double = 0.6, shingle: Int = 3): DataFrame = {
    // one pin for all four segment tables (FormatIO index epochs): a
    // concurrent append/delete wave is invisible until its commit
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val sets = tokenShingleSetsOf(newDocs, shingle).localCheckpoint()
    // the df relation is a LOG-STRUCTURED df log (FormatIO): the probe
    // reads the merged df of its own tokens only
    val dfreq = graft.sources.FormatIO.readDfLog(spark, s"${name}_df", pin,
      sets.select(explode(col("st")).as("tok")).distinct())
    val prefixes = sets
      .select(col("doc_id"), size(col("st")).as("sz"), explode(col("st")).as("tok"))
      .join(dfreq, Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(max(col("sz")).as("sz"),
        array_sort(collect_list(struct(col("df"), col("tok")))).as("ordered"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("ordered"), lit(1),
          (col("sz") - ceil(lit(tau) * col("sz") - lit(PruneEps)) + 1).cast("int"))))
      .select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        (col("pos") + 1).as("pos_a"), col("col.tok").as("tok"))
    val needA = ceil(lit(tau) * col("sz_a") - lit(PruneEps))
    val cands = prefixes.join(
      graft.sources.FormatIO.liveAt(spark, name, s"${name}_postings", pin),
      Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("sz_b") >= needA &&
        (lit(1) + col("sz_a") - col("pos_a")) >= needA)
      .select(col("doc_a"), col("doc_b")).distinct()
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("st").as("sa")), Seq("doc_a"))
      .join(graft.sources.FormatIO.pinnedAt(spark, s"${name}_sets", pin),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (intersectSize(col("sa"), col("sb")).cast("double") /
          size(col("sa"))).as("c"))
      .filter(col("c") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("c"), 4).as("containment"))
  }

  /** DELTA APPEND a batch of new documents into the persisted
    * containment index — same maintenance contract as
    * [[appendToMinhashIndex]]: the batch's postings and shingle sets
    * append into the index's own bucket layouts (bucket placement
    * matches a rebuild's, so probes stay shuffle-free on the index
    * side), and the df relation gets one more log segment that probes
    * sum on read. `append(batch) ∘ build(corpus)` is probe-equal to
    * `build(corpus ∪ batch)` — the df merge is exact integer
    * arithmetic, and candidate-prefix ORDER differences cannot change
    * results anyway (prefix filtering is recall-lossless under any
    * order; the verify join makes precision exact). */
  def appendToContainmentIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit = {
    val ContainmentBuild(tau, shingle) = containmentBuild(spark, name)
    // four segment tables move under ONE epoch commit (FormatIO index
    // epochs): a pinned probe racing this wave sees none of it until
    // the commit marker lands
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings", s"${name}_sets", s"${name}_df",
        s"${name}_prefixes"))
    val sets = tokenShingleSetsOf(newDocs, shingle).localCheckpoint()
    graft.sources.FormatIO.appendBucketed(spark,
      sets.select(col("doc_id").as("doc_b"), size(col("st")).as("sz_b"),
        explode(col("st")).as("tok")).withColumn("epoch", lit(e)),
      s"${name}_postings")
    graft.sources.FormatIO.appendBucketed(spark,
      sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("st", "sb")
        .withColumn("epoch", lit(e)),
      s"${name}_sets")
    graft.sources.FormatIO.writeSegment(spark, s"${name}_df",
      sets.select(explode(col("st")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df")), e)
    // batch prefixes order by the merged df AS OF this append, its own
    // staged segment included (read at e) — any order is
    // recall-lossless (subset-choice freedom, see build)
    val mergedDf = graft.sources.FormatIO.readDfLog(spark, s"${name}_df", e,
      sets.select(explode(col("st")).as("tok")).distinct())
    graft.sources.FormatIO.appendBucketed(spark,
      orderedPrefixes(sets, mergedDf,
        sz => sz - ceil(lit(tau) * sz - lit(PruneEps)) + 1)
        .select(col("tok"), col("doc_id").as("doc_b"),
          col("sz").as("sz_b"), col("pos").as("pos_b"))
        .withColumn("epoch", lit(e)),
      s"${name}_prefixes")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** BIDIRECTIONAL containment probe — the decontamination form of
    * [[probeContainmentIndex]]: for a batch of arriving documents,
    * find every (probe, index) pair where EITHER the probe doc sits
    * mostly inside a corpus doc (C(probe→index) ≥ τ — the arriving doc
    * is an excerpt of the corpus) OR a corpus doc sits mostly inside
    * the probe doc (C(index→probe) ≥ τ — the arrival swallowed a
    * corpus page, the direction the one-way probe cannot see; for
    * eval-set hygiene this is the worse leak). Candidates: the forward
    * direction joins probe PREFIXES against the full corpus postings
    * (as the one-way probe does); the reverse joins the persisted
    * index-side prefixes (`_prefixes`, built for the index's τ)
    * against the batch's full token postings — both directions read
    * the corpus co-located on its bucket layout, and per-wave cost
    * scales with the batch. τ must be ≥ the index's build τ (the
    * stored prefixes are sized for it — probing below would silently
    * lose reverse-direction recall; enforced against `_meta`). */
  def probeContainmentBoth(spark: SparkSession, name: String,
      newDocs: DataFrame, tau: Double = 0.6): DataFrame =
    probeContainmentBoth(spark, name, newDocs, tau,
      Metrics.phase(spark, "containment_both.meta")(containmentBuild(spark, name)))

  /** The parameters a containment index was built with, as persisted
    * in its `_meta` row by [[buildContainmentIndex]]. */
  case class ContainmentBuild(tau: Double, shingle: Int)

  /** Read `<name>_meta` (one collect job). */
  def containmentBuild(spark: SparkSession, name: String): ContainmentBuild = {
    val meta = spark.table(s"${name}_meta").collect().head
    ContainmentBuild(meta.getAs[Double]("tau"), meta.getAs[Int]("shingle"))
  }

  /** [[probeContainmentBoth]] with the index's build parameters already
    * read, for a caller that needs them too (`Pipeline.curateIncrement`
    * reads `_meta` once per call). */
  def probeContainmentBoth(spark: SparkSession, name: String,
      newDocs: DataFrame, tau: Double, built: ContainmentBuild): DataFrame = {
    val ContainmentBuild(tauBuild, shingle) = built
    require(tau >= tauBuild - 1e-12,
      s"probe tau=$tau below the index's build tau=$tauBuild " +
        s"($name stores prefixes sized for $tauBuild; probing below it " +
        "silently loses reverse-direction recall - rebuild at the lower tau)")
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val sets = Metrics.phase(spark, "containment_both.sets")(
      tokenShingleSetsOf(newDocs, shingle).localCheckpoint())
    val mergedDf = graft.sources.FormatIO.readDfLog(spark, s"${name}_df", pin,
      sets.select(explode(col("st")).as("tok")).distinct())
    // forward candidates: probe prefixes (corpus-df-ordered, df-0
    // unseen shingles sort first and match nothing) x full postings
    val pPref = sets
      .select(col("doc_id"), size(col("st")).as("sz"), explode(col("st")).as("tok"))
      .join(mergedDf, Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(max(col("sz")).as("sz"),
        array_sort(collect_list(struct(col("df"), col("tok")))).as("ordered"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("ordered"), lit(1),
          (col("sz") - ceil(lit(tau) * col("sz") - lit(PruneEps)) + 1).cast("int"))))
      .select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        (col("pos") + 1).as("pos_a"), col("col.tok").as("tok"))
    val needA = ceil(lit(tau) * col("sz_a") - lit(PruneEps))
    val fwd = pPref.join(
      graft.sources.FormatIO.liveAt(spark, name, s"${name}_postings", pin),
      Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("sz_b") >= needA &&
        (lit(1) + col("sz_a") - col("pos_a")) >= needA)
      .select(col("doc_a"), col("doc_b"))
    // reverse candidates: persisted index prefixes x batch full postings
    val pPost = sets.select(col("doc_id").as("doc_a"),
      size(col("st")).as("sz_a"), explode(col("st")).as("tok"))
    val needB = ceil(lit(tau) * col("sz_b") - lit(PruneEps))
    val rev = graft.sources.FormatIO
      .liveAt(spark, name, s"${name}_prefixes", pin)
      .join(pPost, Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("sz_a") >= needB &&
        (lit(1) + col("sz_b") - col("pos_b")) >= needB)
      .select(col("doc_a"), col("doc_b"))
    // intersection computed ONCE per candidate (the jaccardPrefixJoin
    // lesson: filter+project re-evaluates an un-CSE'd array_intersect)
    spreadPairs(fwd.unionByName(rev).distinct())
      .join(sets.select(col("doc_id").as("doc_a"), col("st").as("sa")), Seq("doc_a"))
      .join(graft.sources.FormatIO.pinnedAt(spark, s"${name}_sets", pin),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        intersectSize(col("sa"), col("sb")).cast("double").as("inter"),
        size(col("sa")).as("sz_a"), size(col("sb")).as("sz_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / col("sz_a")).as("c_ab"),
        (col("inter") / col("sz_b")).as("c_ba"))
      .filter(col("c_ab") >= tau || col("c_ba") >= tau)
      .select(col("doc_a"), col("doc_b"),
        round(col("c_ab"), 4).as("c_probe_in_index"),
        round(col("c_ba"), 4).as("c_index_in_probe"))
  }

  /** C4-style SEGMENT-level dedup (Raffel et al. 2020 dedup lines;
    * token streams without line breaks generalize to fixed k-token
    * segments): every document splits into consecutive `segTokens`-token
    * segments, and only the globally FIRST occurrence of each distinct
    * segment survives — first = smallest (doc_id, position), which also
    * drops intra-document repeats. Emits per-doc segment counts plus the
    * cleaned text (surviving segments in original order).
    *
    * Scale shape: segment generation is row-local (one scan); the
    * first-occurrence choice is one window over the segment key (row
    * volume = segments ≈ tokens/k, partitioned by segment hash — no
    * skew beyond genuinely duplicated boilerplate, which is exactly
    * what AQE skew splitting handles); the per-doc rollup reuses one
    * more shuffle on doc_id. Nothing is quadratic; memory per task is
    * one segment group. */
  def segmentDedup(spark: SparkSession, dir: String,
      segTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(
        tokenGrams(col("toks"), segTokens, segTokens, cover = true)))
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    val w = Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_idx"))
    segs
      .withColumn("kept", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-span share (the signal behind exact-substring dedup, Lee
    * et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better"): per document, the share of its DISTINCT sliding `n`-token
    * grams that occur in at least 2 distinct documents. High share =
    * the doc is largely assembled from corpus-repeated spans.
    *
    * Scale shape: gram generation is row-local; one distinct on
    * (doc_id, gram), one gram-keyed count, one gram-keyed join back
    * (reuses the count's partitioning), one doc rollup — all linear in
    * token volume, no pair enumeration anywhere. */
  def dupSpans(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val docGrams = Tables.documents(spark, dir)
      .select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(tokenGrams(col("toks"), n)).as("gram"))
      .distinct()
    val gramDocs = docGrams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs")) // post-distinct: count == distinct docs
    docGrams.join(gramDocs, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_grams"),
        round(sum(when(col("n_docs") >= 2, 1.0).otherwise(0.0))
          / count(lit(1)), 4).as("dup_share"))
      .orderBy(col("doc_id"))
  }

  /** EDIT-DISTANCE similarity self-join (τ ∈ {1, 2}) by SYMMETRIC
    * DELETION (the SymSpell scheme): every string emits itself plus
    * each variant reachable by deleting up to τ characters as join
    * keys; two strings within edit distance τ MUST share a key — take
    * an optimal alignment with s substitutions, i insertions, d
    * deletions (s+i+d ≤ τ): the aligned common string is reachable
    * from side A by s+d ≤ τ deletions and from side B by s+i ≤ τ
    * deletions. Candidate generation is therefore a plain equi-join —
    * lossless by construction, recall 1.0 — and `levenshtein` verifies
    * candidates exactly. Compare PassJoin-style segment indexing: on
    * keys with a long SHARED prefix (IDs, URLs, padded codes — exactly
    * what real-world entity keys look like) the constant segment puts
    * every row in one bucket and the join degenerates quadratic, while
    * deletion variants keep buckets near-dup-sized BECAUSE a shared
    * variant already implies the pair is within τ edits modulo
    * verification.
    *
    * Cost: τ=1 emits len+1 keys per row (linear expansion); τ=2 emits
    * O(len²/2) keys — the right trade for SHORT entity keys (names,
    * codes; a 25-char name is ~325 keys), and fenced for anything else
    * by `maxKeyLen`: a longer string raises loudly instead of silently
    * exploding the shuffle (long-string similarity belongs to the
    * shingle family — [[jaccardPrefixJoin]] / [[segmentDedup]]). One
    * equi-join shuffle, no pair enumeration stage anywhere; bucket skew
    * tracks true duplicate mass, the same property the MinHash band
    * join relies on. A length-band predicate (||a|−|b|| ≤ τ) prunes the
    * collapse-to-short collisions τ=2 creates among very short strings
    * before the pair shuffle. */
  /** The τ-deletion variant set of column `s` as a SQL expression —
    * variant 0 = the string itself; 1-deletions; for τ=2 also the
    * (i < j) 2-deletions, distinct'd (repeated chars collide). Shared
    * by [[editJoin]] and the persisted edit index. */
  private def deletionVariantsExpr(tau: Int): String = {
    val del1 = "if(length(s) < 1, array(), transform(sequence(1, length(s)), " +
      "i -> concat(substring(s, 1, i - 1), substring(s, i + 1))))"
    val del2 = "if(length(s) < 2, array(), flatten(transform(" +
      "sequence(1, length(s) - 1), i -> transform(sequence(i + 1, length(s)), " +
      "j -> concat(substring(s, 1, i - 1), substring(s, i + 1, j - i - 1), " +
      "substring(s, j + 1))))))"
    if (tau == 1) s"array_union(array(s), $del1)"
    else s"array_distinct(concat(array(s), $del1, $del2))"
  }

  def editJoin(df: DataFrame, keyCol: String, strCol: String,
      blockCols: Seq[String] = Nil, tau: Int = 1,
      maxKeyLen: Int = 256): DataFrame = {
    require(tau == 1 || tau == 2, s"editJoin supports tau 1 or 2, got $tau")
    val variants = deletionVariantsExpr(tau)
    val fenced = df
      .select(col(keyCol).as("k") +: col(strCol).as("s") +:
        blockCols.map(col): _*)
      .withColumn("s",
        if (tau == 1) col("s")
        else when(length(col("s")) <= maxKeyLen, col("s")).otherwise(raise_error(
          concat(lit(s"editJoin tau=2 key longer than maxKeyLen=$maxKeyLen " +
            "(O(len^2) key fan-out) - raise maxKeyLen deliberately or use " +
            "the shingle-family joins for long strings: "), col("s")))))
    // materialized ONCE: both sides of the variant equi-join reference
    // this subtree, and the deletion-variant fan-out (O(len) keys at
    // τ=1, O(len²/2) at τ=2) would otherwise generate twice.
    // The join carries an 8-byte xxhash of the variant, not the
    // variant STRING (§2.3 shuffle fewer bytes + long-keyed hash
    // relation): equal variants keep equal hashes so no qualifying
    // pair is lost, and a collision-born candidate fails the exact
    // banded-levenshtein verify below — the result relation is
    // identical
    val keyedPlan = fenced
      .select(col("k") +: col("s") +: blockCols.map(col) :+
        explode(expr(variants)).as("variant_s"): _*)
      .select(col("k") +: col("s") +: blockCols.map(col) :+
        xxhash64(col("variant_s")).as("variant"): _*)
    val keyed = Metrics.phase(df.sparkSession, "edit.keyed")(keyedPlan.localCheckpoint())
    val a = keyed.select(col("k").as("key_a") +: col("s").as("s_a") +:
      col("variant") +: blockCols.map(col): _*)
    val b = keyed.select(col("k").as("key_b") +: col("s").as("s_b") +:
      col("variant") +: blockCols.map(col): _*)
    a.join(b, "variant" +: blockCols)
      .filter(col("key_a") < col("key_b") &&
        abs(length(col("s_a")) - length(col("s_b"))) <= tau)
      // collapse multi-variant collisions BEFORE the verify: a pair
      // sharing v variants must pay ONE levenshtein, not v (the verify
      // is the CPU hot spot — O(len·τ) per call); the pair groupBy is a
      // shuffle of candidate pairs, which the lossless deletion
      // blocking already bounded near the true output size. (Both
      // verify-below-the-aggregate orderings — filter-then-distinct
      // and min()-per-pair — MEASURED SLOWER at sf0.1, 3.0-3.4 s vs
      // 2.2 s: the candidate set is 977k rows for 956k distinct pairs,
      // so the dedup saves nothing, and moving levenshtein below the
      // exchange re-evaluates it per occurrence while the τ-filter
      // inlining doubles it again.)
      .groupBy(col("key_a"), col("key_b"))
      .agg(first(col("s_a")).as("s_a"), first(col("s_b")).as("s_b"))
      // thresholded levenshtein: the engine's banded DP abandons a
      // pair the moment its distance provably exceeds τ (returns -1)
      // — O(len·τ) per verify instead of O(len²)
      .select(col("key_a"), col("key_b"),
        levenshtein(col("s_a"), col("s_b"), tau).cast("long").as("edit_distance"))
      .filter(col("edit_distance") >= 0 && col("edit_distance") <= tau)
  }

  /** q_edit_join: customer names within one edit of each other — the
    * entity-resolution staple (typo'd IDs / names) as a deletion-keyed
    * equi-join. Oracle = the naive length-banded quadratic verify,
    * which the lossless candidate generation must reproduce exactly. */
  def editNeighbors(spark: SparkSession, dir: String): DataFrame =
    editJoin(Tables.customer(spark, dir), "c_custkey", "c_name")
      .orderBy(col("key_a"), col("key_b"))

  /** q_edit_join_tau2: the τ=2 instance over the same names — the
    * 2-deletion neighborhood join, oracle-checked against the naive
    * length-banded quadratic `levenshtein ≤ 2` verify. The QUERY
    * audits a deterministic md5-top-1500 customer panel (the
    * containment-family pattern, [[graft.operators.Sampling.md5TopN]]):
    * at sf0.01 the panel is the whole table so the driver gate is
    * unchanged, and at larger SFs both the quadratic DuckDB checker
    * AND this join's candidate volume stay bounded — structured
    * low-entropy keys (`Customer#000…` differs only in digit tails)
    * make τ=2 TRUE-pair volume itself grow ~quadratically with the
    * table, so a fixed panel is the honest audit surface; the
    * full-table operator remains [[editJoin]] with tau=2. */
  def editNeighborsTau2(spark: SparkSession, dir: String): DataFrame =
    editJoin(Sampling.md5TopN(Tables.customer(spark, dir), "c_custkey", 1500),
      "c_custkey", "c_name", tau = 2)
      .orderBy(col("key_a"), col("key_b"))

  /** Persist the corpus side of the edit join as a PROBE-ABLE index —
    * the FIFTH index family with the build/probe split (MinHash,
    * containment, BM25, IVF, edit): deletion-variant postings
    * (variant, key, name) BUCKETED AND SORTED by variant, so an
    * arrival batch's variant equi-join reads the corpus co-located
    * with no Exchange and per-wave cost scales with the batch's
    * variant fan-out, never the corpus. The transformWithState
    * [[graft.streaming.Streams]].editIndexStream is the
    * recency-bounded STATE flavor of the same idea; this is the
    * unbounded persisted-corpus flavor (the full entity registry,
    * grown by batch appends). */
  def buildEditIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8, tau: Int = 1, maxKeyLen: Int = 256): Unit = {
    require(tau == 1 || tau == 2, s"edit index supports tau 1 or 2, got $tau")
    graft.sources.FormatIO.writeBucketed(
      editPostingsOf(Tables.customer(spark, dir)
        .select(col("c_custkey").as("k"), col("c_name").as("s")),
        tau, maxKeyLen).withColumn("epoch", lit(0L)),
      s"${name}_postings", "variant", nBuckets, sortCol = Some("variant"))
    // build parameters PERSIST WITH the index: SymSpell completeness
    // needs up-to-τ deletions on BOTH sides, so probing a τ=1-built
    // index at τ=2 would silently lose distance-2 pairs whose variants
    // require two index-side deletions — the probe reads this meta row
    // and refuses a τ above the build's instead
    import spark.implicits._
    Seq((tau, maxKeyLen)).toDF("tau", "max_key_len")
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_meta")
    graft.sources.FormatIO.initIndex(spark, name, "index_key")
  }

  /** TOMBSTONE-DELETE entity keys from the persisted edit index (a
    * [[graft.sources.FormatIO.deleteWave]]; no df relation here, the
    * variant postings just stop matching). `keys` carries one
    * `index_key` column. */
  def deleteFromEditIndex(spark: SparkSession, name: String,
      keys: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name, keys.select(col("index_key")))

  /** Physically erase tombstoned keys' variant postings. */
  def purgeEditTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_postings")).head

  /** (k, s) → fenced τ-deletion-variant postings (variant, index_key,
    * index_name) — shared by [[buildEditIndex]] and
    * [[appendToEditIndex]] so both sides of the index are generated by
    * the identical plan. */
  private def editPostingsOf(rows: DataFrame, tau: Int,
      maxKeyLen: Int): DataFrame =
    rows
      .withColumn("s",
        when(length(col("s")) <= maxKeyLen, col("s")).otherwise(raise_error(
          concat(lit(s"edit index key longer than maxKeyLen=$maxKeyLen: "),
            col("s")))))
      .select(col("k"), col("s"),
        explode(expr(deletionVariantsExpr(tau))).as("variant"))
      .select(col("variant"), col("k").as("index_key"),
        col("s").as("index_name"))

  /** DELTA APPEND a batch of (key, name) rows into the persisted edit
    * index — same maintenance contract as [[appendToMinhashIndex]]: the
    * batch's deletion-variant postings are generated under the INDEX'S
    * OWN build parameters (τ, maxKeyLen — read from the `_meta` row, so
    * an append can never mix variant neighborhoods) and land in the
    * same buckets a rebuild would place them. */
  def appendToEditIndex(spark: SparkSession, name: String,
      batch: DataFrame): Unit = {
    val meta = spark.table(s"${name}_meta").collect().head
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings"))
    graft.sources.FormatIO.appendBucketed(spark,
      editPostingsOf(batch.select(col("key").as("k"), col("name").as("s")),
        meta.getAs[Int]("tau"), meta.getAs[Int]("max_key_len"))
        .withColumn("epoch", lit(e)),
      s"${name}_postings")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** Probe the persisted edit index with a batch of (probe_key,
    * probe_name) rows: directed candidates (probe → index) within edit
    * distance ≤ τ, verified with the banded `levenshtein`. The probe τ
    * must not exceed the τ the index was BUILT with (enforced against
    * the persisted `_meta` row — a larger probe τ would silently lose
    * recall, see [[buildEditIndex]]); a smaller τ is sound, because
    * distance-≤τ' pairs need only τ' deletions on either side. A
    * probe key carrying several distinct names is matched on each name
    * and reports the BEST (minimum) verified distance per (probe,
    * index) pair — deterministic, where a `first(name)` would verify
    * against an arbitrary one. Probing the index's own corpus
    * reproduces [[editJoin]]'s pairs symmetrized (spec-proved). */
  def probeEditIndex(spark: SparkSession, name: String, probes: DataFrame,
      tau: Int = 1): DataFrame = {
    val builtTau = spark.table(s"${name}_meta").collect().head.getAs[Int]("tau")
    require(tau <= builtTau,
      s"probe tau=$tau exceeds the index's build tau=$builtTau " +
        s"($name was built with $builtTau-deletion variants; probing " +
        "above that silently loses recall — rebuild the index at the " +
        "larger tau instead)")
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val p = probes
      .select(col("probe_key"), col("probe_name")).distinct()
      .select(col("probe_key"), col("probe_name").as("s"))
      .select(col("probe_key"), col("s").as("probe_name"),
        explode(expr(deletionVariantsExpr(tau))).as("variant"))
    p.join(graft.sources.FormatIO.liveAt(spark, name, s"${name}_postings", pin),
      Seq("variant"))
      .filter(col("probe_key") =!= col("index_key") &&
        abs(length(col("probe_name")) - length(col("index_name"))) <= tau)
      // collapse multi-variant collisions to ONE verify per (probe row,
      // index row) — grouping carries both NAMES, so no nondeterministic
      // first() ever picks which string gets verified
      .select(col("probe_key"), col("probe_name"),
        col("index_key"), col("index_name"))
      .distinct()
      .select(col("probe_key"), col("index_key"),
        levenshtein(col("probe_name"), col("index_name"), tau)
          .cast("long").as("edit_distance"))
      .filter(col("edit_distance") >= 0 && col("edit_distance") <= tau)
      .groupBy(col("probe_key"), col("index_key"))
      .agg(min(col("edit_distance")).as("edit_distance"))
  }

  /** q_jw_scores: JARO-WINKLER rescoring of the τ=2 edit-join
    * candidates — the two-stage shape every record-linkage pipeline
    * runs: a recall-oriented blocker (the lossless 2-deletion
    * neighborhood) followed by the standard name-similarity scorer
    * ranking the survivors. The JW kernel is the native
    * `jaro_winkler` expression, verified BIT-IDENTICAL to DuckDB's
    * `jaro_winkler_similarity` on all 1.12M customer-name pairs
    * (incl. the floor-the-half-transpositions semantics both share),
    * which is what puts a string-similarity SCORE on the oracle
    * surface. Same md5-top-1500 audit panel as `q_edit_join_tau2`,
    * same quadratic-checker rationale. */
  def jwScores(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.jaroWinkler
    val cust = Sampling.md5TopN(Tables.customer(spark, dir), "c_custkey", 1500)
    editJoin(cust, "c_custkey", "c_name", tau = 2)
      .join(cust.select(col("c_custkey").as("key_a"),
        col("c_name").as("name_a")), Seq("key_a"))
      .join(cust.select(col("c_custkey").as("key_b"),
        col("c_name").as("name_b")), Seq("key_b"))
      .select(col("key_a"), col("key_b"), col("edit_distance"),
        round(jaroWinkler(col("name_a"), col("name_b")), 4).as("jw"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** END-TO-END entity resolution: blocked fuzzy matching → transitive
    * merge → canonical entity ids. Match rule: same market segment
    * (the BLOCK — deletion-variant keys carry the block column, so
    * cross-block candidates never materialize, the standard
    * candidate-volume lever of every production ER system) AND name
    * within one edit. Merging is [[Graph.connectedComponents]] (a
    * matched B, B matched C ⇒ one entity even if A,C never matched
    * directly — transitivity is what separates RESOLUTION from pair
    * scoring); the entity id is the component's minimum key; customers
    * matching nobody self-label as singletons. The DuckDB oracle
    * reformulates the fixpoint as a recursive-CTE transitive closure —
    * which makes this the operator family's oracle-CHECKED instance:
    * the star-contraction labels are verified equal to an
    * independently-computed closure, not just spec'd. */
  def entityResolution(spark: SparkSession, dir: String,
      tau: Int = 1): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val pairs = editJoin(
      cust.select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      "c_custkey", "c_name", Seq("c_mktsegment"), tau = tau)
    val cc = Graph.connectedComponents(pairs, "key_a", "key_b")
    cust.select(col("c_custkey"))
      .join(cc.withColumnRenamed("id", "c_custkey"), Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("component"), col("c_custkey")).as("entity_id"))
      .orderBy(col("c_custkey"))
  }

  /** Train/test split-leakage audit — the decontamination question
    * INSIDE a corpus after deterministic splitting: a train document
    * that is a verbatim-or-near subset of a test document (or the
    * reverse) lets the model memorize its own eval. Assigns splits
    * with `Sampling.hashSplit` (md5 nibble — engine-stable), keeps the
    * directed containment pairs (`containmentJoin`) that cross the
    * train/test boundary, and emits each offending train doc with its
    * test-side witness, the containment value, and the direction
    * (`train_in_test`: the train doc's content sits inside the test
    * doc; `test_in_train`: the test doc is the subset — the worse
    * leak, its whole answer key is in training). Dropping column one
    * from the train set is the remediation.
    *
    * Scale shape: containment join (prefix-filtered, see
    * [[containmentJoin]]) + one broadcast-sized split map derived
    * row-locally from the key — the boundary filter adds no shuffle. */
  def splitLeakage(spark: SparkSession, dir: String, tau: Double = 0.6,
      shingle: Int = 3): DataFrame =
    splitLeakageOn(Tables.documents(spark, dir), tau, shingle)

  /** Core of [[splitLeakage]] over any (doc_id, text) frame (audit
    * panel or full corpus — see [[containmentJoinOn]]). */
  def splitLeakageOn(docs: DataFrame, tau: Double = 0.6,
      shingle: Int = 3): DataFrame = {
    val pairs = containmentJoinOn(docs, tau, shingle)
    val splits = docs
      .select(col("doc_id"), Sampling.splitOf(col("doc_id")).as("split"))
    val withSplits = pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
    // ONE pass over the containment join: the former
    // union-of-two-filtered-branches referenced `withSplits` twice,
    // and the un-materialized containment join (the expensive subtree)
    // re-executed per branch — the branches are disjoint row sets of
    // the same relation, so a conditional projection emits the same
    // rows with the join computed once (guide §1.2: don't compute
    // things twice before tuning anything else)
    withSplits
      .filter((col("split_a") === "train" && col("split_b") === "test") ||
        (col("split_a") === "test" && col("split_b") === "train"))
      .select(
        when(col("split_a") === "train", col("doc_a")).otherwise(col("doc_b"))
          .as("train_doc"),
        when(col("split_a") === "train", col("doc_b")).otherwise(col("doc_a"))
          .as("test_doc"),
        col("containment"),
        when(col("split_a") === "train", lit("train_in_test"))
          .otherwise(lit("test_in_train")).as("direction"))
      .orderBy(col("train_doc"), col("test_doc"), col("direction"))
  }

  /** Boilerplate n-gram MINING — the lexicon view of [[dupSpans]]:
    * the top cross-document repeated `n`-token grams, with how many
    * distinct documents carry each and how often it occurs in total.
    * This is the artifact a removal pass consumes ([[segmentDedup]]
    * keeps first occurrences; a gram-lexicon join drops EVERY
    * occurrence of known boilerplate — headers, licence blocks,
    * navigation chrome), and the per-corpus report a curation run
    * publishes.
    *
    * Scale shape: gram generation row-local, one gram-keyed aggregate
    * (count + distinct docs — the distinct rides the same shuffle via
    * partial aggregation), then a global top-K that plans as
    * TakeOrderedAndProject (K rows per partition, never a global
    * sort). Total order: (n_docs DESC, gram) — gram is the grouping
    * key, so the cut is engine-stable. */
  def boilerplateGrams(spark: SparkSession, dir: String, n: Int = 8,
      topK: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(tokenGrams(col("toks"), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(topK)

  /** N-gram NOVELTY profile — the freshness complement of [[dupSpans]]:
    * per document, the share of its distinct sliding n-grams whose
    * FIRST carrier (min doc_id over the corpus) is this document —
    * i.e., content no earlier document contributed. The dedup-pipeline
    * reading: a low-novelty late document is assembled from seen
    * text even if no single pair crosses a similarity threshold.
    * Same row-local gram generation as 36q, one gram-keyed min
    * aggregate (map-side combined), one gram-keyed join back; all
    * counts integer, one closing division. */
  def ngramNovelty(spark: SparkSession, dir: String, n: Int = 8)
      : DataFrame = {
    val docGrams = Tables.documents(spark, dir)
      .select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(tokenGrams(col("toks"), n)).as("gram"))
      .distinct()
    val firstCarrier = docGrams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("fid"))
    docGrams.join(firstCarrier, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fid") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
      .orderBy(col("doc_id"))
  }

  /** The τ=1 (key_a, key_b, edit_distance) customer-name pair relation
    * of [[editJoin]], staged by [[graft.sources.Staged]]: its three
    * consumers ([[fsLinkage]], `Graph.linkageModularity`,
    * `Graph.linkageAssortativity`) are dominated by candidate
    * generation, so recomputing it per query paid 3× for one relation. */
  def stagedNameEditPairs(spark: SparkSession, dir: String): DataFrame =
    spark.table(graft.sources.Staged(spark, "graft_edit_pairs", dir,
        Seq("customer")) { name =>
      editJoin(
        Tables.customer(spark, dir).select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", Nil, tau = 1)
        .write.format("parquet")
        .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
        .saveAsTable(name)
    }._1)

  /** FELLEGI–SUNTER probabilistic record-linkage scoring (Fellegi &
    * Sunter 1969) over the lossless deletion-blocked candidate pairs —
    * the decision layer the edit join feeds: each compared field
    * multiplies the match odds by m/u on agreement and (1−m)/(1−u) on
    * disagreement. With the (illustrative, offline-trained) parameters
    * chosen as exact rationals the whole likelihood ratio rides as a
    * cleared BIGINT fraction — fs_num = Π agree-factors, fs_den =
    * Π disagree-factors (name 9, nation 24, segment 4, balance-bucket
    * 19) — and the match decision is the INTEGER gate
    * fs_num ≥ τ·fs_den, no floating point anywhere in the verdict.
    * Fields: exact-name (within the τ=1 candidate set, distance 0 vs
    * 1), nation, market segment, and the 1000-currency-unit account
    * bucket (milli-unit money + a positive offset so truncating and
    * flooring division agree for negative balances). Candidates come
    * from [[stagedNameEditPairs]] (SymSpell deletion blocking staged
    * once per session, candidate mass ~ true pair mass); attribute
    * attach is two candidate-sized equi-joins. */
  def fsLinkage(spark: SparkSession, dir: String, threshold: Long = 100L)
      : DataFrame = {
    val cust = Tables.customer(spark, dir)
    val pairs = stagedNameEditPairs(spark, dir)
    val attrs = cust.select(col("c_custkey"),
      col("c_nationkey").cast("long").as("nat"),
      col("c_mktsegment").as("seg"),
      expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) div 100000")
        .as("bal"))
    pairs
      .join(attrs.toDF("key_a", "nat_a", "seg_a", "bal_a"), Seq("key_a"))
      .join(attrs.toDF("key_b", "nat_b", "seg_b", "bal_b"), Seq("key_b"))
      .withColumn("agree_name", (col("edit_distance") === 0L).cast("int"))
      .withColumn("agree_nation", (col("nat_a") === col("nat_b")).cast("int"))
      .withColumn("agree_segment", (col("seg_a") === col("seg_b")).cast("int"))
      .withColumn("agree_bal", (col("bal_a") === col("bal_b")).cast("int"))
      .withColumn("fs_num",
        when(col("agree_name") === 1, lit(9L)).otherwise(lit(1L)) *
          when(col("agree_nation") === 1, lit(24L)).otherwise(lit(1L)) *
          when(col("agree_segment") === 1, lit(4L)).otherwise(lit(1L)) *
          when(col("agree_bal") === 1, lit(19L)).otherwise(lit(1L)))
      .withColumn("fs_den",
        when(col("agree_name") === 1, lit(1L)).otherwise(lit(9L)) *
          when(col("agree_nation") === 1, lit(1L)).otherwise(lit(24L)) *
          when(col("agree_segment") === 1, lit(1L)).otherwise(lit(4L)) *
          when(col("agree_bal") === 1, lit(1L)).otherwise(lit(19L)))
      .withColumn("fs_score",
        round(col("fs_num").cast("double") / col("fs_den"), 6))
      .withColumn("is_match",
        (col("fs_num") >= lit(threshold) * col("fs_den")).cast("int"))
      .select(col("key_a"), col("key_b"), col("edit_distance"),
        col("agree_name"), col("agree_nation"), col("agree_segment"),
        col("agree_bal"), col("fs_num"), col("fs_den"), col("fs_score"),
        col("is_match"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** TOKEN SAVINGS from exact deduplication, per source — the
    * "how much of this crawl is literal copies" budget line that
    * decides whether a source is worth re-fetching: keep-first (min
    * doc_id) per canonical digest GLOBALLY, attribute every dropped
    * copy and its token mass to the source that contributed it. Same
    * canonical digest as [[exact]] (md5 of whitespace-normalized
    * lowercase text), one digest-keyed join + one source-bounded
    * aggregate — shuffle ~ corpus rows, all counts BIGINT-exact to
    * the one closing division. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      col("source"),
      md5(normText).as("h"),
      size(split(lower(trim(col("text"))), "\\s+")).cast("long")
        .as("ntok"))
    val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    d.join(keep, Seq("h"))
      .withColumn("dropped",
        (col("doc_id") =!= col("keep_id")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dropped")).as("dup_docs"),
        sum(col("ntok")).as("tokens_total"),
        sum(col("dropped") * col("ntok")).as("tokens_dropped"))
      .withColumn("savings_share",
        round(col("tokens_dropped").cast("double") / col("tokens_total"),
          6))
      .orderBy(col("source"))
  }

  /** CONTENT-DEFINED CHUNKING dedup profile (the rsync/FastCDC family,
    * at token grain): a chunk boundary falls after position p wherever
    * the hash of the 3-token gram ENDING at p clears a 1-in-8 gate —
    * the cut points are a pure function of local CONTENT, so shared
    * passages produce identical chunks at any offset in any document
    * (the property fixed-size blocking lacks, and the reason CDC is
    * the storage-dedup standard). Per source: chunk count, token mass,
    * distinct chunk digests, and the duplicated-chunk share — the
    * sub-document dedup savings estimate that complements
    * [[segmentDedup]]'s line-grain and [[dupSpans]]'s winnow-grain
    * views. Boundary selection, chunk assembly and digests are all
    * row-local array algebra (one md5 per position, one per chunk);
    * one source-bounded aggregate after an explode. The gram hash is
    * md5 — bit-identical cross-engine, so the whole profile is
    * exact-oracle-checkable. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        split(lower(trim(col("text"))), "\\s+").as("toks"))
      // cut list = content-gated positions ∪ {n}, let-bound so the
      // boundary scan runs once per row; chunk i spans
      // (cuts[i-1], cuts[i]]. The per-position boundary hash comes
      // from ONE GramDigests kernel pass (hexLen=2 ≡ the former
      // substring(md5(…), 1, 2)); it is let-bound as a lambda variable
      // exactly like `cuts` so CollapseProject can never inline the
      // kernel call into the per-element filter.
      .select(col("source"), explode(
        transform(array(graft.functions.HashExpressions
            .gramDigests(col("toks"), 3, 2)), gd =>
          transform(array(array_distinct(concat(
              filter(sequence(lit(3), greatest(size(col("toks")), lit(3))),
                p => p <= size(col("toks")) &&
                  conv(element_at(gd, (p - lit(2)).cast("int")),
                    16, 10).cast("int") < 32),
              array(size(col("toks")))))),
            cuts => transform(sequence(lit(1), size(cuts)), i => {
              val prev = when(i === 1, lit(0))
                .otherwise(element_at(cuts, (i - 1).cast("int")))
              val end = element_at(cuts, i.cast("int"))
              struct((end - prev).as("n_tok"),
                md5(concat_ws(" ", slice(col("toks"),
                  (prev + 1).cast("int"), (end - prev).cast("int"))))
                  .as("digest"))
            })).getItem(0)).getItem(0)).as("c"))
      .select(col("source"), col("c.n_tok").cast("long").as("n_tok"),
        col("c.digest"))
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("digest")).as("n_distinct"))
      .withColumn("dup_share", when(col("n_chunks") > 0L,
        round((col("n_chunks") - col("n_distinct")).cast("double") /
          col("n_chunks"), 6)))
      .orderBy(col("source"))
  }
}
