package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.HashExpressions._
import graft.sources.Tables

/** Embedding similarity operators (SURVEY §2c 29-31).
  *
  * Brute-force cosine is the correctness baseline (O(n²) pairs — fine
  * for re-ranking, wrong as the 100 TB scan strategy). The scale path is
  * LSH bucketing: signed random-hyperplane projections put each vector
  * in one bucket per table; candidates come from bucket equi-joins
  * across tables plus 1-bit-flip multiprobe (recall measured in the
  * spec against the exact baseline).
  */
object Similarity {

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Row-count fence for the O(n²) exact baselines: they exist as recall
    * references for the LSH/IVF scale paths and must not be pointed at a
    * large corpus by accident — at 100 TB an all-pairs join is a
    * non-terminating query, not a slow one. Raise
    * `graft.exactBaseline.maxRows` (session conf) deliberately to
    * override. */
  private def fenceExactBaseline(spark: SparkSession, df: DataFrame,
      op: String): Unit = {
    val limit = spark.conf.getOption("graft.exactBaseline.maxRows")
      .map(_.toLong).getOrElse(1000000L)
    val n = df.count()
    require(n <= limit,
      s"$op is an O(n²) exact baseline fenced at $limit rows (input has $n); " +
        "use annLsh/annIvf/annBruteforceKernel as the scale path, or set " +
        "graft.exactBaseline.maxRows to override deliberately")
  }

  /** All near-duplicate pairs above a cosine threshold. The O(n²) pair
    * stage computes a dot product only: vectors are unit-normalized once
    * in the scan projection (3× fewer flops per pair). */
  def embedNeardup(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    fenceExactBaseline(spark, vecs(spark, dir), "embedNeardup")
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
    val a = normed.select(col("vec_id").as("id_a"), col("vn").as("na"))
    val b = normed.select(col("vec_id").as("id_b"), col("vn").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        dotProduct(col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force cosine top-k neighbors per vector: each unordered pair
    * is scored once (id_a < id_b) on pre-normalized vectors, then
    * mirrored for per-vector ranking. Rank on the raw double
    * (engine-stable), round only for output. */
  def annBruteforce(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    fenceExactBaseline(spark, vecs(spark, dir), "annBruteforce")
    // materialized ONCE: the pair join references `vn` on both sides and
    // the mirror union evaluates the join subtree twice — left lazy,
    // CollapseProject inlines the (now cheap, hence inlineable)
    // normalization into the per-PAIR projection, turning n·d work into
    // 2·n²·d (measured 3.5 → 5.1 s at sf0.1 when the native kernel
    // replaced the HOF form, which the optimizer had refused to inline)
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    val a = normed.select(col("vec_id").as("id_a"), col("vn").as("na"))
    val b = normed.select(col("vec_id").as("id_b"), col("vn").as("nb"))
    val half = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        dotProduct(col("na"), col("nb")).as("cos"))
    val mirrored = half.unionByName(
      half.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("cos")))
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    mirrored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy(col("id_a"), col("rank"))
  }

  /** Blocked brute-force kernel, sharded. The index is processed in
    * shards of at most `maxShardRows` vectors: each shard is collected
    * (bounded — never the whole table), broadcast as primitive arrays,
    * and every partition scores its rows against it in a tight loop with
    * a bounded top-k selection — no join machinery, no per-pair row
    * objects. Per-shard top-k candidates are unioned and re-ranked
    * globally, which is exact: a vector's global top-k neighbors are by
    * construction inside the per-shard top-k of whichever shard holds
    * them. At 100 TB this is the classic blocked matrix sweep — driver
    * memory is bounded by one shard, and the query table is scanned once
    * per shard (shard count = ceil(n / maxShardRows)). `mapPartitions`
    * is the deliberate last-resort escape hatch here: a measured 2.4×
    * win over the nested-loop join at sf0.1 on identical results
    * (spec-verified bit-equal, including with ≥2 shards forced). */
  def annBruteforceKernel(spark: SparkSession, dir: String, k: Int = 3,
      maxShardRows: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .as[(Long, Array[Double])]
      .localCheckpoint() // scanned once per shard + once per shard collect
    val total = normed.count()
    val nShards = math.max(1L, (total + maxShardRows - 1) / maxShardRows).toInt
    val perShard = (0 until nShards).map { s =>
      // bounded collect: one shard of the index, never the full table.
      // Shard on a HASH of the id, not the raw id: pmod(vec_id, n) lets
      // structured id distributions (all-even, fixed-stride) concentrate
      // far more than maxShardRows into one shard — exactly the driver
      // blow-up the sharding exists to prevent. Shards are only a
      // partition of the index, so results are unchanged.
      val index = normed
        .filter(pmod(xxhash64(col("vec_id")), lit(nShards.toLong)) === s)
        .collect()
      val bcIds = spark.sparkContext.broadcast(index.map(_._1))
      val bcVecs = spark.sparkContext.broadcast(index.map(_._2))
      normed.mapPartitions { rows =>
        val ids = bcIds.value
        val mat = bcVecs.value
        val n = ids.length
        rows.flatMap { case (qid, q) =>
          // bounded top-k: (cos desc, id asc) selection over the shard
          val topIds = new Array[Long](k)
          val topCos = Array.fill(k)(Double.NegativeInfinity)
          var i = 0
          while (i < n) {
            if (ids(i) != qid) {
              val w = mat(i)
              var dot = 0.0
              var j = 0
              while (j < q.length) { dot += q(j) * w(j); j += 1 }
              // insert if better than current kth (ties: smaller id wins)
              var pos = k - 1
              if (dot > topCos(pos) ||
                (dot == topCos(pos) && ids(i) < topIds(pos))) {
                while (pos > 0 && (dot > topCos(pos - 1) ||
                  (dot == topCos(pos - 1) && ids(i) < topIds(pos - 1)))) {
                  topCos(pos) = topCos(pos - 1); topIds(pos) = topIds(pos - 1)
                  pos -= 1
                }
                topCos(pos) = dot; topIds(pos) = ids(i)
              }
            }
            i += 1
          }
          // emit only filled slots (shard may hold < k candidates)
          (0 until k).iterator
            .filter(r => topCos(r) != Double.NegativeInfinity)
            .map(r => (qid, topIds(r), topCos(r)))
        }
      }.toDF("id_a", "id_b", "cos")
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    perShard
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"),
        col("rank"))
      .orderBy(col("id_a"), col("rank"))
  }

  /** IVF (inverted-file) ANN: vectors are assigned to their nearest
    * centroid's posting list; a query probes only the `nProbe` nearest
    * lists. Centroids here are a deterministic sample of the corpus
    * (every step-th id, normalized) — a k-means refinement would slot in
    * without changing the plan shape. Index side = equi-join on
    * centroid id; probe side explodes to nProbe rows. At scale the
    * centroid table is broadcast once and posting lists are the
    * partitioning scheme of the stored index. */
  /** K-means centroid training (shared by the in-memory operator and
    * the persisted-index builder): deterministic seed centroids
    * (smallest vec_ids), then Lloyd refinement — assign → per-bucket
    * vector-sum → renormalize. Each round is ONE map-side-combined
    * aggregation via the VectorSum native aggregate (K buffers of dim
    * doubles per map partition — no posexplode, whose shuffle volume
    * would be dim× the row count); only K×dim doubles reach the
    * driver. Partial-sum order varies with partitioning, so centroids
    * carry ~1e-16 noise across runs — assignment flips only when a
    * vector's top-two centroid margins are inside that epsilon
    * (audited bit-stable across thread counts at test SFs).
    *
    * Iteration count is PINNED (no convergence early-exit): training
    * cost is exactly `kmeansIters` assignment scans regardless of
    * data, so scale probes measure index-build cost, not Lloyd
    * variance. Per-iteration max centroid shift is logged (INFO) so a
    * probe run can verify the pinning and read convergence anyway. */
  private val kmeansLog = org.slf4j.LoggerFactory.getLogger("graft.Similarity.kmeans")
  private def trainCentroids(spark: SparkSession, normed: DataFrame,
      nCentroids: Int, kmeansIters: Int): Array[Array[Double]] = {
    import spark.implicits._
    var centroids = normed.orderBy(col("vec_id")).limit(nCentroids)
      .as[(Long, Array[Double])].collect().map(_._2)
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    for (iter <- 0 until kmeansIters if centroids.nonEmpty) {
      val dotsIter = array(centroids.toIndexedSeq.map(c =>
        dotProduct(col("vn"), typedlit(c.toSeq))): _*)
      val means = normed.withColumn("dots", dotsIter)
        .withColumn("bucket", expr("array_position(dots, array_max(dots))"))
        .groupBy(col("bucket"))
        .agg(graft.functions.Aggregates.vectorSum(col("vn"), dim).as("s"),
          count(lit(1)).as("n"))
        .as[(Long, Array[Double], Long)].collect()
        .map { case (b, s, n) => b -> s.map(_ / n) }.toMap
      val next = centroids.indices.map { i =>
        means.get(i + 1L) match { // array_position is 1-based
          case Some(m) =>
            val norm = math.sqrt(m.map(x => x * x).sum)
            if (norm == 0.0) centroids(i) else m.map(_ / norm)
          case None => centroids(i) // empty bucket keeps its centroid
        }
      }.toArray
      val maxShift = centroids.indices.iterator.map { i =>
        math.sqrt(centroids(i).indices.iterator
          .map(j => { val d = next(i)(j) - centroids(i)(j); d * d }).sum)
      }.foldLeft(0.0)(math.max)
      kmeansLog.info(f"lloyd iter ${iter + 1}/$kmeansIters k=$nCentroids " +
        f"maxShift=$maxShift%.6g")
      centroids = next
    }
    centroids
  }

  /* Defaults are measured, not guessed (graft.tools.IvfSweep at sf0.1):
   * recall@3 vs exact = 0.54 at nProbe=4, 0.81 at nProbe=8 (+iters=3),
   * 0.94 at nProbe=12. The shipped probe budget is nProbe/nCentroids =
   * 8/16 of the posting lists, the knee that clears 80% on the
   * synthetic embeddings — which are near-random (recall tracks the
   * probe FRACTION almost alone; k-means adds only ~+2pt). Real
   * clustered embeddings reach the same recall at much smaller
   * fractions; the parameters are per-call tunable either way. */
  def annIvf(spark: SparkSession, dir: String, k: Int = 3,
      nCentroids: Int = 16, nProbe: Int = 8, kmeansIters: Int = 3): DataFrame = {
    // materialized ONCE: every Lloyd iteration (and the final assignment)
    // re-reads this working set — without the checkpoint each iteration
    // would rescan parquet and renormalize, iters× the corpus at 100 TB
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    val centroids = trainCentroids(spark, normed, nCentroids, kmeansIters)
    if (centroids.isEmpty) {
      // empty corpus → empty result with the operator's schema
      return normed.select(col("vec_id").as("id_a"), col("vec_id").as("id_b"),
        lit(0.0).as("cosine"), lit(0L).as("rank")).limit(0)
    }
    val dots: Column = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    // centroid distances evaluated ONCE; both the posting-list side and
    // the probe side derive from this materialized assignment
    val assigned = normed.withColumn("dots", dots).localCheckpoint()
    ivfTopK(assigned, centroids.length, nProbe, k)
  }

  /** IVF candidate-join + exact-rerank over a materialized centroid
    * assignment (`vec_id, vn, dots`). Shared by [[annIvf]] and
    * [[tuneNProbe]] so tuning evaluates probe budgets against ONE
    * trained assignment instead of re-running Lloyd per candidate.
    * `probeIds` restricts the probe side (left-semi on vec_id) BEFORE
    * the posting-list join — a query's candidates depend only on its own
    * probes, so sample results are identical to the full run's. */
  private def ivfTopK(assigned: DataFrame, nLists: Int, nProbe: Int, k: Int,
      probeIds: Option[DataFrame] = None): DataFrame = {
    // index side: each vector in exactly one posting list (argmax dot)
    val indexed = assigned
      .withColumn("bucket",
        expr("array_position(dots, array_max(dots))").cast("long"))
      .select(col("vec_id").as("id_b"), col("vn").as("vb"), col("bucket"))
    // probe side: nProbe nearest centroids per query vector
    val probed = probeIds.fold(assigned)(ids =>
        assigned.join(ids, Seq("vec_id"), "left_semi"))
      .withColumn("bucket", explode(expr(
        s"""transform(
           |  slice(array_sort(zip_with(dots, sequence(1, $nLists),
           |    (d, i) -> struct(-d AS nd, i AS idx))), 1, $nProbe),
           |  s -> CAST(s.idx AS BIGINT))""".stripMargin)))
      .select(col("vec_id").as("id_a"), col("vn").as("va"), col("bucket"))
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    // each index vector sits in exactly ONE posting list and a query's
    // nProbe bucket ids are distinct, so a (query, index) pair can match
    // at most once — no pair-dedup aggregation needed (unlike LSH,
    // where a pair can surface from several tables)
    probed.join(indexed, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), dotProduct(col("va"), col("vb")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy(col("id_a"), col("rank"))
  }

  /** Persist an IVF index: centroids to a small table, posting lists to
    * a table BUCKETED (and sorted) by posting-list id — the stored
    * layout IS the partitioning scheme, so every later probe joins
    * shuffle-free on the index side. Build once over the corpus, probe
    * many times; at 100 TB this converts the per-query index shuffle
    * into a one-time write. */
  def buildIvfIndex(spark: SparkSession, dir: String, name: String,
      nCentroids: Int = 16, kmeansIters: Int = 3, nBuckets: Int = 8,
      centroidSource: Option[String] = None): Unit = {
    import spark.implicits._
    // materialized once — Lloyd iterations + the posting-list write all
    // re-read this working set (see annIvf)
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    // centroidSource REUSES another index's trained codebook instead of
    // running Lloyd — the "re-shard with frozen centroids" maintenance
    // rebuild, and the pinned-codebook reference the append parity spec
    // compares [[appendToIvfIndex]] against (append assigns under the
    // existing centroids; retraining is by definition a full rebuild)
    val centroids = centroidSource match {
      case Some(src) => loadCentroids(spark, src,
        graft.sources.FormatIO.committedEpoch(spark, src))
      case None => trainCentroids(spark, normed, nCentroids, kmeansIters)
    }
    // the codebook is epoch-tagged like every segment table: build
    // writes generation 0, a retrain appends its codebook at the rebase
    // epoch — readers pick the generation their pin's rebase cut names
    centroids.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c) }.toSeq
      .toDF("bucket", "centroid")
      .withColumn("epoch", lit(0L))
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_centroids")
    // empty corpus → empty index with the right schema (array() of zero
    // dot columns would otherwise feed array_max)
    val postings =
      if (centroids.isEmpty)
        normed.select(col("vec_id").as("id_b"), col("vn").as("vb"),
          lit(0L).as("bucket")).limit(0)
      else {
        val dots = array(centroids.toIndexedSeq.map(c =>
          dotProduct(col("vn"), typedlit(c.toSeq))): _*)
        normed.withColumn("dots", dots)
          .withColumn("bucket",
            expr("array_position(dots, array_max(dots))").cast("long"))
          .select(col("vec_id").as("id_b"), col("vn").as("vb"), col("bucket"))
      }
    graft.sources.FormatIO.writeBucketed(
      postings.withColumn("epoch", lit(0L)), s"${name}_postings",
      "bucket", nBuckets, sortCol = Some("bucket"))
    graft.sources.FormatIO.initIndex(spark, name, "id_b")
  }

  /** TOMBSTONE-DELETE vectors from the persisted IVF index — one
    * [[graft.sources.FormatIO.deleteWave]]. The frozen codebook is
    * untouched (deletion, like append, never retrains — retraining is
    * by definition a rebuild). */
  def deleteFromIvfIndex(spark: SparkSession, name: String,
      vecIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name,
      vecIds.select(col("vec_id").as("id_b")))

  /** Physically erase tombstoned vectors' postings. */
  def purgeIvfTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_postings")).head

  /** The live postings of IVF-family index `name` at `pin`: the
    * generation `pin`'s rebase cut opens
    * ([[graft.sources.FormatIO.pinnedSince]]), tombstoned vectors
    * anti-joined out. */
  private def liveGeneration(spark: SparkSession, name: String,
      pin: Long): DataFrame =
    graft.sources.FormatIO.live(spark, name, pin,
      graft.sources.FormatIO.pinnedSince(spark, s"${name}_postings",
        graft.sources.FormatIO.rebaseEpochOf(spark, name, pin), pin))

  /** IVF CODEBOOK-STALENESS PROBE: sampled recall of the LIVE index
    * against exact search over the same live vectors. Appends and
    * deletes never retrain the frozen codebook (that contract is what
    * keeps maintenance O(batch)), so as appended mass drifts away from
    * the trained centroids, true neighbors scatter across posting
    * lists the probe budget never visits and recall decays SILENTLY —
    * the one failure mode of the maintenance design that no parity
    * spec can catch, because the degraded index is exactly what a
    * rebuild-with-frozen-centroids would produce. This probe is the
    * alarm: a deterministic md5 panel of `sampleN` live vectors (the
    * panel discipline of tuneNProbe/matryoshka — spread across build
    * AND appended mass), exact top-k over the live postings (panel ×
    * corpus, linear), the index's own probe at the SAME (k, nProbe),
    * and one recall row with a `retrain_recommended` verdict when it
    * undershoots `target`. Run it after heavy append waves; a true
    * verdict means rebuild (retrain) rather than append further. */
  def checkIvfRecall(spark: SparkSession, name: String,
      target: Double = 0.8, k: Int = 3, nProbe: Int = 8,
      sampleN: Int = 64): DataFrame = {
    import spark.implicits._
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val live = liveGeneration(spark, name, pin)
      .select(col("id_b"), col("vb"))
      .localCheckpoint()
    val sample = graft.operators.Sampling.md5TopN(live, "id_b", sampleN)
      .select(col("id_b").as("id_a"), col("vb").as("va"))
      .localCheckpoint()
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b"))
    val exact = sample.crossJoin(live)
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        dotProduct(col("va"), col("vb")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val hits = probeIvfNormalized(spark, name,
      sample.select(col("id_a").as("vec_id"), col("va").as("vn")),
      k, nProbe)
      .select(col("id_a"), col("id_b"))
      .join(exact, Seq("id_a", "id_b"), "left_semi").count()
    val nExact = exact.count()
    val nSample = sample.count()
    val recall =
      if (nExact == 0L) 1.0
      else BigDecimal(hits.toDouble / nExact)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nSample, nExact, hits, recall, target, recall < target))
      .toDF("n_sample", "n_exact", "n_hits", "recall", "target",
        "retrain_recommended")
  }

  /** The query-surface instance of [[checkIvfRecall]], over an IVF
    * index of the corpus staged by [[graft.sources.Staged]]. Rows-only
    * (float recall over k-means lists); the alarm semantics are
    * IvfRecallSpec's planted drift scenario. */
  def ivfRecallAudit(spark: SparkSession, dir: String): DataFrame =
    checkIvfRecall(spark, graft.sources.Staged(spark, "graft_ivfrec", dir,
      Seq("embeddings"))(buildIvfIndex(spark, dir, _))._1)

  /** The stored codebook of index `name` at pin `pin` as K×dim doubles
    * — dim-bounded driver state (K centroids, never corpus rows). The
    * generation read is the one `pin`'s rebase cut names: exactly the
    * codebook whose assignment produced the postings [[pinnedSince]]
    * exposes at the same pin, so a probe racing a retrain reads the
    * OLD codebook with the OLD postings until the single rebase-commit
    * marker lands. */
  private def loadCentroids(spark: SparkSession, name: String,
      pin: Long): Array[Array[Double]] = {
    import spark.implicits._
    val gen = graft.sources.FormatIO.rebaseEpochOf(spark, name, pin)
    spark.table(s"${name}_centroids")
      .filter(col("epoch") === gen)
      .select(col("bucket"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
  }

  /** DELTA APPEND a batch of (vec_id, v) vectors into the persisted IVF
    * index — same maintenance contract as
    * [[graft.operators.Dedup.appendToMinhashIndex]]: each batch vector
    * is assigned to its nearest EXISTING centroid (the codebook is
    * frozen on append, as in every production IVF — retraining is by
    * definition a rebuild) and its posting appends into the index's own
    * bucket layout. `append(batch) ∘ build(corpus)` is probe-equal to
    * `build(corpus ∪ batch, centroidSource = the corpus codebook)`
    * (parity-spec-proved). Periodically rebuild when the appended mass
    * shifts the data distribution enough that frozen-codebook recall
    * decays — the standard IVF maintenance trade. */
  def appendToIvfIndex(spark: SparkSession, name: String,
      batch: DataFrame): Unit = {
    val centroids = loadCentroids(spark, name,
      graft.sources.FormatIO.committedEpoch(spark, name))
    require(centroids.nonEmpty,
      s"appendToIvfIndex($name): index has no centroids (built on an " +
        "empty corpus) — rebuild on a non-empty corpus before appending")
    val dots = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    val postings = batch
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .withColumn("dots", dots)
      .withColumn("bucket",
        expr("array_position(dots, array_max(dots))").cast("long"))
      .select(col("vec_id").as("id_b"), col("vn").as("vb"), col("bucket"))
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings"))
    graft.sources.FormatIO.appendBucketed(spark,
      postings.withColumn("epoch", lit(e)), s"${name}_postings")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** RETRAIN the persisted IVF index in place — the maintenance verb
    * that remedies what [[checkIvfRecall]] detects: appends assign
    * under a frozen codebook, so heavy drifted-append waves scatter
    * true neighbors across lists the probe budget never visits.
    * Retrain runs Lloyd over the LIVE vectors (current generation minus
    * tombstones — so it doubles as the physical purge of tombstoned
    * postings), stages the new codebook AND fully reassigned postings
    * at one epoch E, and publishes both with a single REBASE commit
    * ([[graft.sources.FormatIO.commitIndexEpoch]] `rebase = true`): a
    * probe pinned before the commit reads the old codebook with the old
    * postings, consistently; the first post-commit pin reads only the
    * new generation ([[graft.sources.FormatIO.pinnedSince]]). Cost is
    * O(corpus) by definition (a retrain IS a rebuild) — but in place,
    * crash-safe, and invisible until the commit, where the old remedy
    * was an offline rebuild under a new name and a caller-side swap.
    * Reclaim the superseded generation's bytes later with
    * [[graft.sources.FormatIO.purgeStaleGenerations]]. */
  def retrainIvfIndex(spark: SparkSession, name: String,
      nCentroids: Int = 16, kmeansIters: Int = 3): Unit = {
    val e = stageRetrainIvf(spark, name, nCentroids, kmeansIters)
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e, rebase = true)
  }

  /** Space reclamation after retrains: drop superseded generations
    * from BOTH the bucketed postings
    * ([[graft.sources.FormatIO.purgeStaleGenerations]], a
    * bucket-preserving rewrite) and the small non-bucketed codebook
    * table (kept rows = the current rebase generation). Run once no
    * reader still pins a pre-rebase epoch; probe results are
    * unchanged by construction (pinned reads never touch pre-rebase
    * rows). */
  def purgeIvfStaleGenerations(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats = {
    val stats = graft.sources.FormatIO.purgeStaleGenerations(spark, name,
      s"${name}_postings")
    val gen = graft.sources.FormatIO.rebaseEpochOf(spark, name,
      graft.sources.FormatIO.committedEpoch(spark, name))
    val kept = spark.table(s"${name}_centroids")
      .filter(col("epoch") === gen).localCheckpoint()
    kept.write.format("parquet")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_centroids")
    spark.catalog.refreshTable(s"${name}_centroids")
    stats
  }

  /** The staging phase of [[retrainIvfIndex]], split out as the
    * two-phase maintenance hook (and so specs can interleave a pinned
    * probe between stage and commit): trains, writes codebook +
    * reassigned postings at epoch E, returns E uncommitted. */
  def stageRetrainIvf(spark: SparkSession, name: String,
      nCentroids: Int = 16, kmeansIters: Int = 3): Long = {
    import spark.implicits._
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val live = liveGeneration(spark, name, pin)
      .select(col("id_b").as("vec_id"), col("vb").as("vn"))
      .localCheckpoint()
    val centroids = trainCentroids(spark, live, nCentroids, kmeansIters)
    require(centroids.nonEmpty,
      s"retrainIvfIndex($name): no live vectors to train on")
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings", s"${name}_centroids"))
    centroids.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c) }.toSeq
      .toDF("bucket", "centroid")
      .withColumn("epoch", lit(e))
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${name}_centroids")
    spark.catalog.refreshTable(s"${name}_centroids")
    val dots = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    graft.sources.FormatIO.appendBucketed(spark,
      live.withColumn("dots", dots)
        .withColumn("bucket",
          expr("array_position(dots, array_max(dots))").cast("long"))
        .select(col("vec_id").as("id_b"), col("vn").as("vb"), col("bucket"))
        .withColumn("epoch", lit(e)),
      s"${name}_postings")
    e
  }

  /** Probe a persisted IVF index: centroids load as K×dim doubles (a
    * broadcast-sized read), the query side explodes to its nProbe
    * nearest lists, and the candidate join hits the bucketed posting
    * table without shuffling it. Same scoring/ranking as [[annIvf]] —
    * bit-equal when probing the index's own corpus with the same
    * parameters (spec-checked). */
  def probeIvfIndex(spark: SparkSession, name: String, dir: String,
      k: Int = 3, nProbe: Int = 8): DataFrame =
    probeIvfIndexOn(spark, name, vecs(spark, dir), k, nProbe)

  /** Core of [[probeIvfIndex]] over any (vec_id, v: array<double>)
    * query frame — the unit the streaming probe feeds one micro-batch
    * at a time. */
  def probeIvfIndexOn(spark: SparkSession, name: String, queries: DataFrame,
      k: Int = 3, nProbe: Int = 8): DataFrame =
    probeIvfNormalized(spark, name,
      queries.select(col("vec_id"),
        l2Normalize(col("v")).as("vn")), k, nProbe)

  /** [[probeIvfIndexOn]] over ALREADY-normalized (vec_id, vn) queries —
    * the flavor [[checkIvfRecall]] feeds with the index's own stored
    * vectors (re-normalizing a stored unit vector would perturb its
    * last ulp and could flip a cosine tie). */
  private def probeIvfNormalized(spark: SparkSession, name: String,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    // pinned ONCE (FormatIO index epochs), BEFORE the codebook load: a
    // concurrent append/delete/RETRAIN wave is invisible until its
    // commit marker lands, and the codebook generation matches the
    // postings generation at the same pin
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val centroids = loadCentroids(spark, name, pin)
    if (centroids.isEmpty)
      return queries.select(col("vec_id").as("id_a"),
        col("vec_id").as("id_b"), lit(0.0).as("cosine"), lit(0L).as("rank"))
        .limit(0)
    val dots = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    val probed = queries
      .withColumn("dots", dots)
      .withColumn("bucket", explode(expr(
        s"""transform(
           |  slice(array_sort(zip_with(dots, sequence(1, ${centroids.length}),
           |    (d, i) -> struct(-d AS nd, i AS idx))), 1, $nProbe),
           |  s -> CAST(s.idx AS BIGINT))""".stripMargin)))
      .select(col("vec_id").as("id_a"), col("vn").as("va"), col("bucket"))
    val indexed = liveGeneration(spark, name, pin)
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    probed.join(indexed, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), dotProduct(col("va"), col("vb")).as("cos"))
      // at-least-once replay hygiene: duplicate postings score
      // identically so they sort ADJACENT — a lag() guard in the same
      // window spec drops them without an extra exchange (see
      // probeIvfPqIndex for the full rationale)
      .withColumn("_prev", lag(col("id_b"), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col("id_b"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"), col("rank"))
    // no terminal orderBy: the rank column carries the per-query order;
    // presentation sorting belongs at the caller's edge, not as a
    // global Exchange inside a library probe
  }

  /** Sample-based nProbe auto-tuning: estimate recall@k on a
    * deterministic query sample (smallest `sampleN` vec_ids) by
    * comparing IVF hits against the exact neighbors OF THE SAMPLE ONLY
    * — the exact side is sampleN × corpus, linear in the corpus, never
    * all-pairs — and return the smallest nProbe whose estimated recall
    * clears the target. The 100 TB form of "pick the probe budget":
    * measure on a bounded sample, apply to the fleet. */
  def tuneNProbe(spark: SparkSession, dir: String, targetRecall: Double = 0.8,
      k: Int = 3, nCentroids: Int = 16, kmeansIters: Int = 3,
      sampleN: Int = 200): Int = {
    // materialized once — Lloyd iterations re-read it (see annIvf)
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    // ONE Lloyd training + ONE materialized assignment; every candidate
    // probe budget is evaluated against it (centroids are identical
    // across budgets, so retraining per candidate would be pure waste)
    val centroids = trainCentroids(spark, normed, nCentroids, kmeansIters)
    if (centroids.isEmpty) return 1
    val dots: Column = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    val assigned = normed.withColumn("dots", dots).localCheckpoint()
    val sample = assigned.orderBy(col("vec_id")).limit(sampleN)
      .select(col("vec_id").as("id_a"), col("vn").as("va"))
      .localCheckpoint()
    val corpus = assigned.select(col("vec_id").as("id_b"), col("vn").as("vb"))
    // exact top-k of the sample queries only: |sample| × corpus scores
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    val exact = sample.crossJoin(corpus)
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), dotProduct(col("va"), col("vb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val exactN = exact.count().toDouble
    val sampleIds = sample.select(col("id_a").as("vec_id")).localCheckpoint()
    var probe = 1
    while (probe < nCentroids) {
      // probe side restricted to the sample BEFORE the candidate join —
      // each tuning job is sample-sized, not corpus-sized
      val hits = ivfTopK(assigned, centroids.length, probe, k, Some(sampleIds))
        .select(col("id_a"), col("id_b"))
        .join(exact, Seq("id_a", "id_b"), "left_semi").count()
      if (exactN == 0.0 || hits / exactN >= targetRecall) return probe
      probe += 1
    }
    nCentroids
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded, plan-time
    * literal — data-independent, identical on every executor). */
  private def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** LSH-bucketed ANN: per table, a signed-projection bucket; candidates
    * are the union over tables (OR-amplification) widened by multiprobe
    * (the query side also probes every bucket one bit-flip away —
    * nPlanes extra probes per table for ~(nPlanes+1)× recall at the
    * same table count). Exact cosine + top-k on candidates only. Every
    * join is an equi-join on (table, bucket) — the shape that scales;
    * recall vs. the exact baseline is measured in the spec. */
  def annLsh(spark: SparkSession, dir: String, k: Int = 3, nPlanes: Int = 8,
      nTables: Int = 4, multiprobe: Boolean = true): DataFrame = {
    val base = vecs(spark, dir)
    val tables = (0 until nTables).map { t =>
      val planes = hyperplanes(64, nPlanes, seed = 42L + t)
      val bucketCol = planes.zipWithIndex.map { case (p, j) =>
        when(dotProduct(col("v"), typedlit(p)) > 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      base.select(col("vec_id"), col("v"), lit(t).as("table_id"),
        bucketCol.as("bucket"))
    }.reduce(_ unionByName _)
    lshTopK(tables, nPlanes, k, multiprobe)
  }

  /** Shared LSH candidate-join + exact-rerank tail over a bucketed table
    * set (`vec_id, v, table_id, bucket`): multiprobe widens the query
    * side to every 1-bit-flip bucket, candidates come from (table,
    * bucket) equi-joins, exact cosine in the ORIGINAL space ranks them.
    * Used by [[annLsh]] (buckets from full-space hyperplanes) and
    * [[annPcaLsh]] (buckets from PCA-reduced-space hyperplanes). */
  private def lshTopK(tables: DataFrame, nPlanes: Int, k: Int,
      multiprobe: Boolean): DataFrame = {
    val probed =
      if (!multiprobe) tables
      else tables.select(col("vec_id"), col("v"), col("table_id"),
        explode(expr(
          s"array_union(array(bucket), transform(sequence(0, ${nPlanes - 1}), " +
            "j -> bucket ^ shiftleft(1L, j)))")).as("bucket"))
    val a = probed.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("table_id"), col("bucket"))
    val b = tables.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("table_id"), col("bucket"))
    // vectors ride through the bucket join (single scan); a pair seen in
    // several tables collapses via groupBy max (cosine is identical)
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    a.join(b, Seq("table_id", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("va"), col("vb")).as("c"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("c")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy(col("id_a"), col("rank"))
  }

  /** PCA-reduced LSH ANN: bucket in the top-`r` principal-component
    * space instead of the raw 64-dim space, rerank candidates with
    * exact full-space cosine. Two effects at scale: (a) hyperplane
    * evaluation costs r dots instead of dim (the PCA projection itself
    * ships as r literal directions — [[graft.operators.Embeddings]]'s
    * dim-bounded fit, no corpus-sized driver state); (b) on real
    * embeddings, variance concentrates in the leading components, so
    * buckets split along directions where neighbors actually separate
    * — fewer wasted probes than isotropic hyperplanes spending bits on
    * noise dimensions. PCA also mean-centers the projection, which is
    * what makes origin hyperplanes informative on non-centered inputs
    * (the mediaNeighbors lesson). Recall is measured against the exact
    * baseline in the spec, side by side with plain [[annLsh]]. */
  def annPcaLsh(spark: SparkSession, dir: String, k: Int = 3, r: Int = 8,
      nPlanes: Int = 8, nTables: Int = 4, multiprobe: Boolean = true,
      dim: Int = 64): DataFrame = {
    val (mu, _, comps) = Embeddings.pcaFit(spark, dir, dim)
    val pcCols: Seq[Column] = Embeddings.projectionCols(mu, comps, r, "v")
    // materialized once: every LSH table (and both join sides) reads
    // the projected base — without the checkpoint the r-dot projection
    // re-executes per union branch (2×nTables scans of it)
    val base = vecs(spark, dir).withColumn("pc", array(pcCols: _*))
      .localCheckpoint()
    val tables = (0 until nTables).map { t =>
      val planes = hyperplanes(math.min(r, dim), nPlanes, seed = 137L + t)
      val bucketCol = planes.zipWithIndex.map { case (p, j) =>
        when(dotProduct(col("pc"), typedlit(p)) > 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      base.select(col("vec_id"), col("v"), lit(t).as("table_id"),
        bucketCol.as("bucket"))
    }.reduce(_ unionByName _)
    lshTopK(tables, nPlanes, k, multiprobe)
  }

  /** Symmetric int8 quantization of the embedding column — the storage/
    * bandwidth step of an embedding pipeline (4× smaller than float32,
    * 8× smaller than float64, with per-vector scale preserved so cosine
    * ranking survives dequantization). Per vector: scale = max|x|/127,
    * q_i = floor(x_i/scale + 0.5) ∈ [-127, 127]; the all-zero vector
    * degenerates to scale 0 / all-zero codes. Entirely row-local (zero
    * shuffles — the 100 TB cost is one scan), and every arithmetic step
    * is pinned to double IEEE ops (`floor(x + 0.5)`, never a
    * locale/engine-dependent rounding mode) so the oracle reproduces the
    * codes bit-for-bit. Codes serialize to a CSV string at the query
    * edge (arrays stay off the oracle surface; the typed array lives on
    * the library API). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
      .withColumn("scale",
        expr("array_max(transform(vd, x -> abs(x)))") / 127.0)
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        expr("array_join(transform(vd, x -> CAST(CASE WHEN scale = 0 " +
          "THEN 0 ELSE floor(x / scale + 0.5) END AS BIGINT)), ',')")
          .as("q8"),
        round(expr("array_max(transform(vd, x -> abs(CASE WHEN scale = 0 " +
          "THEN 0D ELSE floor(x / scale + 0.5) END * scale - x)))"), 6)
          .as("max_err"))
      .orderBy(col("vec_id"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    * k-means cluster the embeddings, then prune near-duplicates ONLY
    * within each cluster — the cluster assignment replaces the O(n²)
    * global pair scan with per-cluster work bounded by cluster size.
    * Within a cluster, members are visited in vec_id order and each is
    * either kept (no kept member has cosine > tau with it) or pruned,
    * recording the kept representative that shadowed it — deterministic
    * greedy, so results are reproducible and spec-checkable.
    *
    * Scale shape: Lloyd iterations are map-side-combined VectorSum
    * aggregations (shuffle = K×dim doubles per partition); assignment is
    * row-local against K broadcast centroids; the prune is one shuffle
    * on cluster_id with per-task memory = cluster size × dim. At 100 TB
    * K scales with the corpus (the paper uses n/K ≈ constant cluster
    * size); a degenerate giant cluster should be sub-split by
    * re-clustering its members before pruning — K here is per-call. */
  def semanticDedup(spark: SparkSession, dir: String, tau: Double = 0.9,
      nCentroids: Int = 16, kmeansIters: Int = 2): DataFrame = {
    import spark.implicits._
    // materialized once — Lloyd iterations + the final assignment pass
    // all re-read this working set (see annIvf)
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    val centroids = trainCentroids(spark, normed, nCentroids, kmeansIters)
    if (centroids.isEmpty) {
      return normed.select(col("vec_id"), lit(0L).as("cluster_id"),
        lit(true).as("kept"), col("vec_id").as("rep_id")).limit(0)
    }
    val dots: Column = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    normed
      .withColumn("dots", dots)
      .withColumn("cluster_id",
        expr("array_position(dots, array_max(dots))").cast("long"))
      .select(col("cluster_id"), col("vec_id"), col("vn"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val members = it.toArray.sortBy(_._2)
        val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        val out = Seq.newBuilder[(Long, Long, Boolean, Long)]
        members.foreach { case (_, id, v) =>
          kept.find { case (_, kv) =>
            var s = 0.0; var i = 0
            while (i < kv.length) { s += kv(i) * v(i); i += 1 }
            s > tau
          } match {
            case Some((repId, _)) => out += ((id, cid, false, repId))
            case None => kept += ((id, v)); out += ((id, cid, true, id))
          }
        }
        out.result().iterator
      }
      .toDF("vec_id", "cluster_id", "kept", "rep_id")
      .orderBy(col("vec_id"))
  }

  /** D4-style prototypicality diversification (Tirumala et al. 2023):
    * the step AFTER [[semanticDedup]] in the D4 pipeline. Cluster the
    * embeddings (same VectorSum Lloyd), score every vector by cosine
    * similarity to its OWN centroid ("prototypicality" — how
    * cluster-typical it is), and DROP the most prototypical ρ fraction
    * of each cluster: near-centroid points are the redundant mass SSL
    * prototypes identify, the diverse tail is what's worth training
    * on. Keep decision is integer arithmetic (rank ≤ ⌊ρ·n_c⌋ drops),
    * so ties can't flip membership between runs.
    *
    * Scale: assignment is the same broadcast-literal argmax as
    * [[annIvf]] (row-local); the per-cluster ranking window partitions
    * by cluster_id — at 100 TB cluster count grows ∝ √n (the IVF/
    * SemDeDup parameter-growth path, D4 itself runs 11k clusters), so
    * per-cluster membership stays bounded and no window partition
    * degenerates to a corpus-sized task. */
  def prototypicality(spark: SparkSession, dir: String, rho: Double = 0.25,
      nCentroids: Int = 16, kmeansIters: Int = 2): DataFrame =
    prototypicalityOn(spark, vecs(spark, dir), rho, nCentroids, kmeansIters)

  /** [[prototypicality]] over an arbitrary (vec_id, v) frame — the core
    * the spec drives with crafted clusters. */
  def prototypicalityOn(spark: SparkSession, raw: DataFrame, rho: Double,
      nCentroids: Int, kmeansIters: Int): DataFrame = {
    // materialized once — Lloyd iterations + the final assignment pass
    // all re-read this working set (see annIvf)
    val normed = raw
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    val centroids = trainCentroids(spark, normed, nCentroids, kmeansIters)
    if (centroids.isEmpty) {
      return normed.select(col("vec_id"), lit(0L).as("cluster_id"),
        lit(0.0).as("proto_sim"), lit(true).as("kept")).limit(0)
    }
    val dots: Column = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    val assigned = normed
      .withColumn("dots", dots)
      .withColumn("cluster_id",
        expr("array_position(dots, array_max(dots))").cast("long"))
      .withColumn("proto_sim", round(expr("array_max(dots)"), 6))
    assigned
      .withColumn("rn", row_number().over(
        w.orderBy(col("proto_sim").desc, col("vec_id"))))
      .withColumn("n_c", count(lit(1)).over(w))
      .select(col("vec_id"), col("cluster_id"), col("proto_sim"),
        (col("rn") > floor(lit(rho) * col("n_c"))).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Greedy k-center (farthest-first) DIVERSE SUBSET selection over
    * the embedding corpus — the coverage-maximizing data-selection
    * step (Gonzalez 1985: 2-approximation of the k-center optimum):
    * seed with the min vec_id, then k−1 rounds of "pick the point
    * farthest (cosine) from the chosen set", ties broken by vec_id.
    * Each round is ONE distributed scan — distances to the ≤k chosen
    * centers ride a broadcast literal array, the argmax is a
    * TakeOrderedAndProject to one row — so the driver holds only the
    * k selected vectors (the Lloyd-loop discipline of
    * `trainCentroids`); k bounds the rounds. Rows-only surface
    * (iterative argmax has no clean SQL form); the planted-cluster
    * coverage law lives in the spec. */
  def kCenterSelect(spark: SparkSession, dir: String, k: Int = 8)
      : DataFrame = {
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
    kCenterSelectOn(spark, normed, k)
  }

  /** Core of [[kCenterSelect]] over any (vec_id, vn) frame with
    * unit-norm vectors — split out so specs can plant clusters. */
  def kCenterSelectOn(spark: SparkSession, normed: DataFrame, k: Int)
      : DataFrame = {
    import spark.implicits._
    val pinned = normed.localCheckpoint() // reused k times
    val seed = pinned.orderBy(col("vec_id")).limit(1)
      .as[(Long, Array[Double])].collect()
    var chosen = seed.map { case (id, v) => (id, v, Double.NaN) }.toVector
    var round = 1
    while (round < k && chosen.nonEmpty) {
      val dots = array(chosen.map(c =>
        dotProduct(col("vn"), typedlit(c._2.toSeq))): _*)
      val picked = pinned
        .filter(!col("vec_id").isin(chosen.map(_._1): _*))
        .withColumn("min_dist", lit(1.0) - array_max(dots))
        .orderBy(col("min_dist").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("vn"), col("min_dist"))
        .as[(Long, Array[Double], Double)].collect()
      picked.headOption.foreach(chosen :+= _)
      round += 1
    }
    chosen.zipWithIndex.map { case ((id, _, d), i) =>
      (i.toLong + 1L, id,
        if (d.isNaN) None else Some(BigDecimal(d)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toDF("sel_rank", "vec_id", "dist_to_set")
  }

  /** MATRYOSHKA TRUNCATION AUDIT: recall@k of brute-force cosine
    * search run on PREFIX dimensions (the MRL deployment question —
    * "how many leading dims can we keep and still retrieve what the
    * full embedding retrieves") against the full-dimension top-k as
    * ground truth, over the md5-top-`panelN` query panel (the
    * bounded-panel audit discipline). The kernel is panel × corpus ×
    * |dims| — LINEAR in the corpus with a 4·panelN constant, never
    * quadratic: prefixes via `slice` in a plain projection (no lambda
    * the optimizer could inline a recompute into), scores through the
    * native codegen'd dot product, per-(dim, query) top-k on the
    * (score DESC, vec_id) total order. The full-dim row of the output
    * is the identity audit: recall = 1.0 by construction (spec law).
    * Zero-norm prefixes score −1 rather than tripping ANSI division.
    * Rows-only: float cosine ties under truncation are not an
    * engine-portable oracle surface. */
  def matryoshkaRecall(spark: SparkSession, dir: String,
      dims: Seq[Int] = Seq(8, 16, 32, 64), k: Int = 3,
      panelN: Int = 32): DataFrame = {
    val all = vecs(spark, dir).localCheckpoint()
    val maxDim = dims.max
    def byDim(df: DataFrame): DataFrame = df
      .select(col("vec_id"), explode(typedlit(dims)).as("dim"), col("v"))
      .withColumn("prefix", slice(col("v"), lit(1), col("dim")))
      .withColumn("norm", sqrt(sqNorm(col("prefix"))))
      .select(col("vec_id"), col("dim"), col("prefix"), col("norm"))
    val corpus = byDim(all)
    val queries = byDim(graft.operators.Sampling.md5TopN(all, "vec_id",
      panelN))
      .select(col("vec_id").as("qid"), col("dim"),
        col("prefix").as("qprefix"), col("norm").as("qnorm"))
    val w = Window.partitionBy(col("dim"), col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    val topk = corpus.join(broadcast(queries), Seq("dim"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score",
        when(col("norm") * col("qnorm") > 0D,
          dotProduct(col("prefix"), col("qprefix"))
            / (col("norm") * col("qnorm"))).otherwise(lit(-1D)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("dim"), col("qid"), col("vec_id"))
      .localCheckpoint()
    val truth = topk.filter(col("dim") === maxDim)
      .select(col("qid"), col("vec_id"))
    val nq = queries.select(col("qid")).distinct().count()
    topk.join(truth, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("dim")).agg(count(lit(1)).as("hits"))
      .withColumn("n_queries", lit(nq))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall",
        round(col("hits").cast("double") / (lit(nq) * k), 4))
      .select(col("dim").cast("long").as("dim"), col("n_queries"),
        col("k"), col("hits"), col("recall"))
      .orderBy(col("dim"))
  }

  /** MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein
    * 1998) — the relevance-vs-redundancy greedy every RAG/context
    * assembler runs: pick argmax λ·rel(d) − (1−λ)·max_{s∈chosen}
    * sim(d, s), with relevance against the corpus CENTROID prototype
    * (the §2e VectorSum aggregate, normalized driver-side — one
    * 64-double vector, never the data). Same distributed-argmax
    * discipline as [[kCenterSelectOn]]: the relevance column is
    * computed once on a pinned frame, each round broadcasts ≤k chosen
    * vectors as literals and takes ONE row via TakeOrderedAndProject
    * on the (score DESC, vec_id) total order — the driver holds only
    * the k selected vectors. λ = 1 degenerates to pure relevance
    * ranking (spec law); λ = 0 is pure diversity (k-center's
    * criterion against the chosen set). Rows-only + spec. */
  def mmrSelect(spark: SparkSession, dir: String, k: Int = 8,
      lam: Double = 0.5): DataFrame = {
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
    mmrSelectOn(spark, normed, k, lam)
  }
  def mmrSelectOn(spark: SparkSession, normed: DataFrame, k: Int,
      lam: Double): DataFrame = {
    import spark.implicits._
    val head = normed.select(size(col("vn"))).limit(1).collect()
    if (head.isEmpty) return finishMmr(spark, Vector.empty)
    val dim = head.head.getInt(0)
    val sums = normed.agg(
      graft.functions.Aggregates.vectorSum(col("vn"), dim).as("s"),
      count(lit(1)).as("n")).first()
    val (sv, n) = (sums.getSeq[Double](0).toArray, sums.getLong(1))
    val cn = {
      val mean = sv.map(_ / n)
      val norm = math.sqrt(mean.map(x => x * x).sum)
      if (norm > 0) mean.map(_ / norm) else mean
    }
    val pinned = normed
      .withColumn("rel", dotProduct(col("vn"), typedlit(cn.toSeq)))
      .localCheckpoint() // reused k times
    var chosen = pinned.orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("vn"), col("rel"),
        col("rel").as("mmr"))
      .as[(Long, Array[Double], Double, Double)].collect().toVector
    while (chosen.size < k && chosen.nonEmpty) {
      val sims = array(chosen.map(c =>
        dotProduct(col("vn"), typedlit(c._2.toSeq))): _*)
      val picked = pinned
        .filter(!col("vec_id").isin(chosen.map(_._1): _*))
        .withColumn("mmr",
          lit(lam) * col("rel") - lit(1.0 - lam) * array_max(sims))
        .orderBy(col("mmr").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("vn"), col("rel"), col("mmr"))
        .as[(Long, Array[Double], Double, Double)].collect()
      if (picked.isEmpty) return finishMmr(spark, chosen)
      chosen :+= picked.head
    }
    finishMmr(spark, chosen)
  }
  private def finishMmr(spark: SparkSession,
      chosen: Vector[(Long, Array[Double], Double, Double)]): DataFrame = {
    import spark.implicits._
    chosen.zipWithIndex.map { case ((id, _, rel, mmr), i) =>
      (i.toLong + 1L, id,
        BigDecimal(rel).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        BigDecimal(mmr).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }.toDF("sel_rank", "vec_id", "relevance", "mmr_score")
  }

  /** 1-NN LABEL AGREEMENT on the bounded md5 query panel — the
    * embedding-quality-vs-labels probe ("does nearest-neighbor
    * structure respect the labels this table claims"): for each panel
    * query, the cosine 1-NN over the full corpus (self excluded); per
    * label, the share of queries whose neighbor carries the same
    * label. Panel × corpus kernel — LINEAR with a panelN constant,
    * the matryoshka discipline — scores through the native dot
    * product, 1-NN on the (score DESC, vec_id) total order. Rows-only
    * (float-tie surface) + planted-cluster and share-bounds specs. */
  def knnLabelCheck(spark: SparkSession, dir: String, panelN: Int = 48)
      : DataFrame = {
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        l2Normalize(col("embedding").cast("array<double>")).as("vn"))
      .localCheckpoint()
    val queries = graft.operators.Sampling.md5TopN(all, "vec_id", panelN)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("vn").as("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    all.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", dotProduct(col("vn"), col("qn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("label") === col("q_label")).cast("long")).as("hits"))
      .withColumn("agree_share",
        round(col("hits").cast("double") / col("n_queries"), 4))
      .select(col("label"), col("n_queries"), col("hits"),
        col("agree_share"))
      .orderBy(col("label"))
  }

  /** Lloyd over ALL m PQ subspaces FUSED into one job per iteration:
    * plain-L2 k-means on each `s0..s{m−1}` subvector column (PQ
    * codebooks are unnormalized means, unlike the cosine-space
    * [[trainCentroids]]). Deterministic seeds (smallest vec_ids, one
    * pass for all m); per iteration ONE assignment scan that computes
    * every subspace's argmin code, explodes to an (sub, code,
    * subvector) relation — m rows per vector, still the same single
    * scan — and aggregates every (sub, code) cell in one groupBy,
    * followed by one ≤m·k-row collect. m×iters jobs → iters jobs:
    * at toy scale the 12-job driver overhead was two-thirds of
    * q_pq_codes' wall; at 100 TB it is m− 1 redundant full scans per
    * iteration. Ties in the argmin go to the LOWEST code
    * (array_position returns the first minimum) — assignment is a
    * pure function of the data, and per-cell sums use the same
    * VectorSum merge as the unfused trainer, so codebooks are
    * unchanged. */
  private def trainCodebooks(spark: SparkSession, subs: DataFrame,
      m: Int, k: Int, iters: Int): IndexedSeq[Array[Array[Double]]] = {
    import spark.implicits._
    val seedRows = subs.orderBy(col("vec_id")).limit(k)
      .select((0 until m).map(i => col(s"s$i")): _*).collect()
    var cents: IndexedSeq[Array[Array[Double]]] = (0 until m).map(i =>
      seedRows.map(_.getSeq[Double](i).toArray))
    if (seedRows.isEmpty) return cents
    val dim = cents(0).headOption.map(_.length).getOrElse(0)
    for (_ <- 0 until iters) {
      // bind each subspace's distance array to a named column so the
      // argmin reads it once (let-binding, not a repeated subtree)
      val withDists = (0 until m).foldLeft(subs) { (df, i) =>
        df.withColumn(s"d$i", array(cents(i).toIndexedSeq.map(c =>
          sqEuclidean(col(s"s$i"), typedlit(c.toSeq))): _*))
      }
      val cells = (0 until m).map(i =>
        struct(lit(i).as("sub"),
          expr(s"array_position(d$i, array_min(d$i))").as("code"),
          col(s"s$i").as("sv")))
      val means = withDists
        .select(explode(array(cells: _*)).as("cell"))
        .select(col("cell.sub"), col("cell.code"), col("cell.sv"))
        .groupBy(col("sub"), col("code"))
        .agg(graft.functions.Aggregates.vectorSum(col("sv"), dim).as("s"),
          count(lit(1)).as("n"))
        .as[(Int, Long, Array[Double], Long)].collect()
        .map { case (i, b, s, n) => (i, b) -> s.map(_ / n) }.toMap
      cents = (0 until m).map(i => cents(i).indices.map(j =>
        means.getOrElse((i, j + 1L), cents(i)(j))).toArray)
    }
    cents
  }

  /** PRODUCT QUANTIZATION (Jégou et al., TPAMI 2011 — the IVF-PQ
    * compression half): the 64-dim embedding splits into `m`
    * subspaces, each with its own `codebookK`-entry Lloyd codebook;
    * every vector compresses to m small codes (here 4×4 bits against
    * 64×32-bit floats — a 128× ratio) plus a reconstruction error.
    * This is the memory story that makes billion-vector ANN fit RAM:
    * distance tables against the codebooks replace raw vectors at
    * query time. Rows-only by design (Lloyd means are float
    * iterations); determinism, zero-error-on-coverable-data, and the
    * capacity law (err(k=16) ≤ err(k=1) everywhere) are spec-carried.
    * Scale shape: training is iters assignment scans per subspace over
    * the column-pruned slice (the working set localCheckpoints once);
    * encoding is ONE row-local pass — codes and error come from the
    * same broadcast codebook expressions; nothing shuffles. */
  def pqCodes(spark: SparkSession, dir: String, m: Int = 4,
      codebookK: Int = 16, iters: Int = 3): DataFrame = {
    val trained = trainPq(spark, dir, m, codebookK, iters)
    if (trained.isEmpty) {
      return vecs(spark, dir).select(col("vec_id"), lit("").as("code"),
        lit(0.0).as("err")).limit(0)
    }
    val (coded, mm, _) = trained.get
    coded.select(col("vec_id"),
      concat_ws("-", (0 until mm).map(i => col(s"c$i")): _*).as("code"),
      round((0 until mm).map(i => col(s"e$i")).reduce(_ + _), 6).as("err"))
      .orderBy(col("vec_id"))
  }

  /** Shared PQ training + encoding: returns the coded frame (vec_id,
    * s0..s{m−1} subvectors, c0..c{m−1} codes, e0..e{m−1} residuals)
    * plus m and the codebooks, or None on an empty corpus. */
  private def trainPq(spark: SparkSession, dir: String, m: Int,
      codebookK: Int, iters: Int)
      : Option[(DataFrame, Int, IndexedSeq[Array[Array[Double]]])] = {
    val base = vecs(spark, dir)
    val dim = base.select(size(col("v"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    if (dim == 0) return None
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val sub = dim / m
    val subs = base.select(
      col("vec_id") +: (0 until m).map(i =>
        expr(s"slice(v, ${i * sub + 1}, $sub)").as(s"s$i")): _*)
      .localCheckpoint()
    val codebooks = trainCodebooks(spark, subs, m, codebookK, iters)
    val coded = (0 until m).foldLeft(subs) { (df, i) =>
      val dists = array(codebooks(i).toIndexedSeq.map(c =>
        sqEuclidean(col(s"s$i"), typedlit(c.toSeq))): _*)
      df.withColumn(s"d$i", dists)
        .withColumn(s"c$i", expr(s"array_position(d$i, array_min(d$i))"))
        .withColumn(s"e$i", expr(s"array_min(d$i)"))
    }
    Some((coded, m, codebooks))
  }

  /** PQ-ADC RECALL AUDIT — the [[checkIvfRecall]] of the compression
    * path: for an md5-sampled query panel, rank the corpus by the
    * ASYMMETRIC distance (query subvector vs the indexed vector's
    * codebook entry — raw query, compressed corpus: exactly how an
    * IVF-PQ serving tier scores) and measure top-k overlap against the
    * exact L2 ranking. The number that tells you whether 4×4-bit
    * compression is still safe for YOUR corpus, and the alarm that
    * says the codebooks need retraining after drift. Rows-only (Lloyd
    * floats); the exact side is panel-bounded — |panel|·corpus
    * row-local distances, the recall-audit shape the IVF audit
    * established, never all-pairs. */
  def pqRecallAudit(spark: SparkSession, dir: String, nQueries: Int = 20,
      k: Int = 5, m: Int = 4, codebookK: Int = 16,
      iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trained = trainPq(spark, dir, m, codebookK, iters)
    if (trained.isEmpty) {
      return vecs(spark, dir).select(lit(0L).as("n_queries"),
        lit(0L).as("k"), lit(0.0).as("mean_recall"),
        lit(0.0).as("min_recall")).limit(0)
    }
    val (coded, _, codebooks) = trained.get
    val corpus = coded.localCheckpoint()
    // md5-stable query panel: raw vectors + their per-subspace ADC
    // distance tables against the trained codebooks — an m × K
    // array-of-arrays column, so the plumbing is m-generic (the probe
    // path always was; the audit's t0..t3 columns used to pin m=4)
    val queries = graft.operators.Sampling
      .md5TopN(vecs(spark, dir), "vec_id", nQueries)
      .collect().map { r =>
        val id = r.getAs[Long]("vec_id")
        val v = r.getSeq[Double](r.fieldIndex("v")).toArray
        val tables = (0 until m).map { i =>
          val s = v.slice(i * (v.length / m), (i + 1) * (v.length / m))
          codebooks(i).map(c =>
            c.indices.iterator.map(j => {
              val d = s(j) - c(j); d * d
            }).sum).toSeq
        }
        (id, v.toSeq, tables)
      }
    val sp = spark
    import sp.implicits._
    val qdf = broadcast(queries.toSeq.toDF("q_id", "qv", "tables"))
    val scored = corpus.join(qdf, col("vec_id") =!= col("q_id"))
      // same left-to-right summation order as the t0..t3 form — the
      // m=4 output is bit-identical
      .withColumn("adc", (0 until m).map(i =>
        element_at(element_at(col("tables"), i + 1),
          col(s"c$i").cast("int"))).reduce(_ + _))
      .withColumn("exact", sqEuclidean(
        concat((0 until m).map(i => col(s"s$i")): _*), col("qv")))
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("vec_id"))
    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("exact"), col("vec_id"))
    // Rank each leg in its OWN projection with the rank cut adjacent
    // to its window, so InferWindowGroupLimit pushes BOTH cuts (an
    // OR-of-two-ranks filter over one frame can push neither — a row
    // failing one rank may pass the other, leaving two full
    // panel-partition sorts). Each leg is a partial per-partition
    // top-k + one k-row window; the overlap join is nQueries·k rows.
    val adcTop = scored.select(col("q_id"), col("vec_id"), col("adc"))
      .withColumn("ra", row_number().over(wA))
      .filter(col("ra") <= k)
      .select(col("q_id"), col("vec_id"))
    val exactTop = scored.select(col("q_id"), col("vec_id"), col("exact"))
      .withColumn("re", row_number().over(wE))
      .filter(col("re") <= k)
      .select(col("q_id"), col("vec_id"))
    // exact leg carries the panel (≥1 row per query whenever the
    // corpus has a non-self row), so zero-overlap queries keep recall 0
    val perQuery = exactTop
      .join(adcTop.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"),
        "left")
      .groupBy(col("q_id"))
      .agg((sum(coalesce(col("hit"), lit(0L)))
        .cast("double") / k).as("recall"))
    perQuery.agg(count(lit(1)).as("n_queries"), lit(k.toLong).as("k"),
      round(avg(col("recall")), 6).as("mean_recall"),
      round(min(col("recall")), 6).as("min_recall"))
  }

  // ──────────────────────────────────────────────────────────────────
  // IVF-PQ: the composed index — IVF posting lists whose entries are
  // PQ CODES, not raw vectors (Jégou et al., TPAMI 2011). The raw IVF
  // index stores a unit vector per posting (dim doubles); at 10⁹+
  // vectors the posting bytes are the serving bill. Here a posting is
  // m small codes (m longs; 4×4 bits of information at the default
  // config against 64 doubles — the memory story the PQ docstring
  // promises), probes score via per-query ADC tables against the PQ
  // codebook, and an optional rerank stage fetches ONLY the top
  // candidates' full vectors from a side table keyed by id. Same
  // epoch-pin maintenance protocol as the raw IVF family: append under
  // frozen codebooks, tombstone deletes, retrain = one rebase commit.
  // ──────────────────────────────────────────────────────────────────

  /** Loaded PQ codebook of index `name` at pin `pin`: m × K × (dim/m)
    * doubles — driver-bounded (K·dim values, never corpus rows); the
    * generation is the pin's rebase cut, matching [[loadCentroids]].
    * Also returns the generation's RESIDUAL flag (true = codewords
    * quantize v − centroid(bucket), the Jégou et al. TPAMI 2011
    * IVF-ADC recipe; false = raw subvectors) so probes score
    * consistently with how the postings were encoded. */
  private def loadPqCodebooks(spark: SparkSession, name: String,
      pin: Long): (IndexedSeq[Array[Array[Double]]], Boolean) = {
    import spark.implicits._
    val gen = graft.sources.FormatIO.rebaseEpochOf(spark, name, pin)
    val pq = spark.table(s"${name}_pq")
    // indexes persisted before the residual column existed encoded raw
    // subvectors — read them as residual=false instead of throwing
    val resCol = if (pq.columns.contains("residual")) col("residual")
      else lit(false).as("residual")
    val rows = pq
      .filter(col("epoch") === gen)
      .select(col("sub"), col("code"), col("centroid"), resCol)
      .as[(Int, Long, Array[Double], Boolean)].collect()
    val m = if (rows.isEmpty) 0 else rows.map(_._1).max + 1
    ((0 until m).map(i =>
       rows.filter(_._1 == i).sortBy(_._2).map(_._3)),
     rows.headOption.exists(_._4))
  }

  /** The per-row residual v − centroid(bucket) against a
    * broadcast-literal centroid list (1-based `bucket`, matching
    * array_position) — row-local, no join. */
  private def residualExpr(vecCol: String,
      centroids: IndexedSeq[Array[Double]]): Column =
    zip_with(col(vecCol),
      element_at(typedlit(centroids.map(_.toSeq)),
        col("bucket").cast("int")),
      (a, b) => a - b)

  /** Encode normalized vectors (vec_id, vn, bucket [, keep…]) to
    * (vec_id, codes [, keep…]): per-subspace L2 argmin against the
    * broadcast codebooks — one row-local pass, ties to the lowest code
    * (array_position). With `residualCentroids` set, the encoded
    * quantity is the RESIDUAL v − centroid(bucket) (IVF-ADC): at the
    * same m × codebookK budget the codewords only have to span the
    * within-list spread, not the whole corpus — the recall lever. */
  private def pqEncode(normed: DataFrame,
      codebooks: IndexedSeq[Array[Array[Double]]],
      keep: Seq[String] = Seq.empty,
      residualCentroids: Option[IndexedSeq[Array[Double]]] = None)
      : DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val src = residualCentroids match {
      case Some(cents) => normed.withColumn("_enc",
        residualExpr("vn", cents))
      case None => normed.withColumn("_enc", col("vn"))
    }
    val withDists = (0 until m).foldLeft(
      (0 until m).foldLeft(src) { (df, i) =>
        df.withColumn(s"s$i", expr(s"slice(_enc, ${i * sub + 1}, $sub)"))
      }) { (df, i) =>
      df.withColumn(s"d$i", array(codebooks(i).toIndexedSeq.map(c =>
        sqEuclidean(col(s"s$i"), typedlit(c.toSeq))): _*))
    }
    withDists.withColumn("codes", array((0 until m).map(i =>
        expr(s"array_position(d$i, array_min(d$i))")): _*)
      .cast("array<long>"))
      .select(col("vec_id") +: col("codes") +: keep.map(col): _*)
  }

  /** Build the persisted IVF-PQ index: IVF centroids (cosine Lloyd,
    * as [[buildIvfIndex]]) + PQ codebooks (L2 Lloyd per subspace over
    * the NORMALIZED vectors, the fused [[trainCodebooks]]); postings
    * store (bucket, id_b, codes) bucketed by posting list — the
    * compressed serving layout — and the full unit vectors land in a
    * SEPARATE `_vecs` side table bucketed by id, read only by the
    * rerank stage and by retrain (the refine pattern: codes in RAM,
    * raw on disk, fetched per-candidate). */
  def buildIvfPqIndex(spark: SparkSession, dir: String, name: String,
      nCentroids: Int = 16, kmeansIters: Int = 3, nBuckets: Int = 8,
      m: Int = 4, codebookK: Int = 16, pqIters: Int = 3,
      residual: Boolean = true): Unit = {
    import spark.implicits._
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    val centroids = trainCentroids(spark, normed, nCentroids, kmeansIters)
    centroids.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c) }.toSeq
      .toDF("bucket", "centroid")
      .withColumn("epoch", lit(0L))
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_centroids")
    val dim = normed.select(size(col("vn"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    require(centroids.isEmpty || dim % m == 0,
      s"embedding dim $dim not divisible by m=$m")
    // IVF assignment BEFORE codebook training: residual mode (the
    // default — Jégou et al.'s IVF-ADC) trains the codebooks on
    // v − centroid(bucket), which at fixed m × codebookK budget only
    // has to span the within-list spread instead of the whole corpus —
    // typically halving quantization error at the same posting bytes.
    val assigned =
      if (centroids.isEmpty) normed.withColumn("bucket", lit(0L)).limit(0)
      else {
        val dots = array(centroids.toIndexedSeq.map(c =>
          dotProduct(col("vn"), typedlit(c.toSeq))): _*)
        normed.withColumn("dots", dots)
          .withColumn("bucket",
            expr("array_position(dots, array_max(dots))").cast("long"))
          .select(col("vec_id"), col("vn"), col("bucket"))
          .localCheckpoint()
      }
    val trainSrc =
      if (residual) assigned.withColumn("_enc",
        residualExpr("vn", centroids))
      else assigned.withColumn("_enc", col("vn"))
    val subCols = (0 until m).foldLeft(trainSrc) { (df, i) =>
      df.withColumn(s"s$i", expr(s"slice(_enc, ${i * (dim / m) + 1}, ${dim / m})"))
    }
    val codebooks =
      if (centroids.isEmpty) IndexedSeq.empty[Array[Array[Double]]]
      else trainCodebooks(spark, subCols, m, codebookK, pqIters)
    codebooks.zipWithIndex.flatMap { case (cb, i) =>
      cb.zipWithIndex.map { case (c, j) => (i, (j + 1).toLong, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .withColumn("epoch", lit(0L))
      .withColumn("residual", lit(residual))
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_pq")
    val postings =
      if (centroids.isEmpty)
        normed.select(col("vec_id").as("id_b"),
          lit(null).cast("array<long>").as("codes"), lit(0L).as("bucket"))
          .limit(0)
      else
        pqEncode(assigned, codebooks, keep = Seq("bucket"),
          residualCentroids = if (residual) Some(centroids) else None)
          .select(col("vec_id").as("id_b"), col("codes"), col("bucket"))
    graft.sources.FormatIO.writeBucketed(
      postings.withColumn("epoch", lit(0L)), s"${name}_postings",
      "bucket", nBuckets, sortCol = Some("bucket"))
    graft.sources.FormatIO.writeBucketed(
      normed.select(col("vec_id").as("id_b"), col("vn").as("vb"))
        .withColumn("epoch", lit(0L)),
      s"${name}_vecs", "id_b", nBuckets, sortCol = Some("id_b"))
    graft.sources.FormatIO.initIndex(spark, name, "id_b")
  }

  /** DELTA APPEND into the IVF-PQ index: bucket under the frozen IVF
    * centroids, encode under the frozen PQ codebooks (append never
    * retrains — the [[appendToIvfIndex]] contract), postings and full
    * vectors land in their own bucket layouts under one epoch. A wave
    * a stream replays after its commit (`Streams.foreachBatchStream`)
    * appends duplicate posting AND `_vecs` rows; [[probeIvfPqIndex]]
    * drops them with an in-window lag() guard before BOTH rank cuts
    * (duplicates sort adjacent), so a replay cannot consume k-slots or
    * multiply the rerank join. The duplicates still occupy storage
    * until the next retrain rewrites the generation. */
  def appendToIvfPqIndex(spark: SparkSession, name: String,
      batch: DataFrame): Unit = {
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val centroids = loadCentroids(spark, name, pin)
    val (codebooks, residual) = loadPqCodebooks(spark, name, pin)
    require(centroids.nonEmpty && codebooks.nonEmpty,
      s"appendToIvfPqIndex($name): index has no codebooks (built on an " +
        "empty corpus) — rebuild on a non-empty corpus before appending")
    val dots = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    val assigned = batch
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .withColumn("dots", dots)
      .withColumn("bucket",
        expr("array_position(dots, array_max(dots))").cast("long"))
      .select(col("vec_id"), col("vn"), col("bucket"))
      .localCheckpoint()
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings", s"${name}_vecs"))
    graft.sources.FormatIO.appendBucketed(spark,
      pqEncode(assigned, codebooks, keep = Seq("bucket"),
          residualCentroids = if (residual) Some(centroids) else None)
        .select(col("vec_id").as("id_b"), col("codes"), col("bucket"))
        .withColumn("epoch", lit(e)),
      s"${name}_postings")
    graft.sources.FormatIO.appendBucketed(spark,
      assigned.select(col("vec_id").as("id_b"), col("vn").as("vb"))
        .withColumn("epoch", lit(e)),
      s"${name}_vecs")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** TOMBSTONE-DELETE from the IVF-PQ index — postings AND the vector
    * side table share one tombstone set (both are read live). */
  def deleteFromIvfPqIndex(spark: SparkSession, name: String,
      vecIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name,
      vecIds.select(col("vec_id").as("id_b")))

  /** Physically erase tombstoned entries from postings and the vector
    * side table. */
  def purgeIvfPqTombstones(spark: SparkSession, name: String)
      : (graft.sources.FormatIO.TableCompactStats,
        graft.sources.FormatIO.TableCompactStats) = {
    val Seq(p, v) = graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_postings", s"${name}_vecs"))
    (p, v)
  }

  /** RETRAIN the IVF-PQ index in place — the [[retrainIvfIndex]] verb
    * for the compressed family: Lloyd over the LIVE full vectors (the
    * `_vecs` side table minus tombstones — the codes are lossy, so
    * retrain reads the raw side, never reconstructs), new IVF
    * centroids + new PQ codebooks + fully re-encoded postings staged
    * at one epoch and published with a single REBASE commit. The
    * `_vecs` table itself is NOT rewritten (vectors don't change on
    * retrain); it stays append-only under [[pinnedAt]] reads.
    *
    * MIGRATION NOTE: the codebook table gained a `residual` column;
    * probes of a pre-residual index read it as residual=false
    * (loadPqCodebooks' fallback), but retrain/append WRITE the widened
    * schema — an index persisted before the column existed must be
    * rebuilt ([[buildIvfPqIndex]]) before its first retrain. */
  def retrainIvfPqIndex(spark: SparkSession, name: String,
      nCentroids: Int = 16, kmeansIters: Int = 3,
      m: Int = 4, codebookK: Int = 16, pqIters: Int = 3,
      residual: Boolean = true): Unit = {
    val e = stageRetrainIvfPq(spark, name, nCentroids, kmeansIters, m,
      codebookK, pqIters, residual)
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e, rebase = true)
  }

  /** Staging phase of [[retrainIvfPqIndex]] (two-phase hook so specs
    * can interleave a pinned probe between stage and commit). */
  def stageRetrainIvfPq(spark: SparkSession, name: String,
      nCentroids: Int, kmeansIters: Int, m: Int, codebookK: Int,
      pqIters: Int, residual: Boolean = true): Long = {
    import spark.implicits._
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val live = graft.sources.FormatIO.liveAt(spark, name, s"${name}_vecs", pin)
      .select(col("id_b").as("vec_id"), col("vb").as("vn"))
      .localCheckpoint()
    val centroids = trainCentroids(spark, live, nCentroids, kmeansIters)
    require(centroids.nonEmpty,
      s"retrainIvfPqIndex($name): no live vectors to train on")
    val dim = live.select(size(col("vn"))).limit(1).collect()
      .head.getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    // assignment before codebook training (residual mode trains on
    // v − centroid(bucket) against the NEW centroids — see
    // buildIvfPqIndex)
    val preDots = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    val preAssigned = live.withColumn("dots", preDots)
      .withColumn("bucket",
        expr("array_position(dots, array_max(dots))").cast("long"))
      .select(col("vec_id"), col("vn"), col("bucket"))
      .localCheckpoint()
    val trainSrc =
      if (residual) preAssigned.withColumn("_enc",
        residualExpr("vn", centroids))
      else preAssigned.withColumn("_enc", col("vn"))
    val subCols = (0 until m).foldLeft(trainSrc) { (df, i) =>
      df.withColumn(s"s$i", expr(s"slice(_enc, ${i * (dim / m) + 1}, ${dim / m})"))
    }
    val codebooks = trainCodebooks(spark, subCols, m, codebookK, pqIters)
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings", s"${name}_centroids", s"${name}_pq"))
    centroids.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c) }.toSeq
      .toDF("bucket", "centroid")
      .withColumn("epoch", lit(e))
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${name}_centroids")
    spark.catalog.refreshTable(s"${name}_centroids")
    codebooks.zipWithIndex.flatMap { case (cb, i) =>
      cb.zipWithIndex.map { case (c, j) => (i, (j + 1).toLong, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .withColumn("epoch", lit(e))
      .withColumn("residual", lit(residual))
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${name}_pq")
    spark.catalog.refreshTable(s"${name}_pq")
    graft.sources.FormatIO.appendBucketed(spark,
      pqEncode(preAssigned, codebooks, keep = Seq("bucket"),
          residualCentroids = if (residual) Some(centroids) else None)
        .select(col("vec_id").as("id_b"), col("codes"), col("bucket"))
        .withColumn("epoch", lit(e)),
      s"${name}_postings")
    e
  }

  /** Space reclamation after IVF-PQ retrains: drop superseded
    * generations from the postings plus the small codebook tables
    * (`_vecs` is never rebased — nothing stale to drop there). */
  def purgeIvfPqStaleGenerations(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats = {
    val stats = graft.sources.FormatIO.purgeStaleGenerations(spark, name,
      s"${name}_postings")
    val gen = graft.sources.FormatIO.rebaseEpochOf(spark, name,
      graft.sources.FormatIO.committedEpoch(spark, name))
    for (t <- Seq(s"${name}_centroids", s"${name}_pq")) {
      val kept = spark.table(t).filter(col("epoch") === gen)
        .localCheckpoint()
      kept.write.format("parquet")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(t)
      spark.catalog.refreshTable(t)
    }
    stats
  }

  /** Probe the IVF-PQ index: queries explode to their nProbe nearest
    * lists exactly as [[probeIvfIndexOn]]; candidates score by ADC —
    * per query, an m × K table of subvector·codeword dot products
    * (row-local against the broadcast codebook), each posting's score
    * is m table lookups on its codes, NO vector math per candidate —
    * and the per-query rank cut sits adjacent to its window
    * (WindowGroupLimit). With `rerank > 0` the top `rerank` ADC
    * candidates per query fetch their full vectors from the `_vecs`
    * side table (a bucketed equi-join on id — candidate-mass I/O, not
    * corpus I/O) and re-rank by exact cosine to k: the refine stage
    * that buys back quantization error at the cost of rerank·|queries|
    * row lookups. */
  def probeIvfPqIndex(spark: SparkSession, name: String,
      queries: DataFrame, k: Int = 3, nProbe: Int = 8,
      rerank: Int = 0): DataFrame = {
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val centroids = loadCentroids(spark, name, pin)
    val (codebooks, residual) = loadPqCodebooks(spark, name, pin)
    val normQ = queries.select(col("vec_id"),
      l2Normalize(col("v")).as("vn"))
    if (centroids.isEmpty || codebooks.isEmpty)
      return normQ.select(col("vec_id").as("id_a"),
        col("vec_id").as("id_b"), lit(0.0).as("score"), lit(0L).as("rank"))
        .limit(0)
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val dots = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    // per-query ADC tables: t_i[c] = dot(query subvector i, codeword c)
    // — computed ONCE per (query, probe) row, broadcast-literal
    // codebooks, no per-candidate vector arithmetic downstream
    val probed = (0 until m).foldLeft(
      normQ.withColumn("dots", dots)
        .withColumn("bucket", explode(expr(
          s"""transform(
             |  slice(array_sort(zip_with(dots, sequence(1, ${centroids.length}),
             |    (d, i) -> struct(-d AS nd, i AS idx))), 1, $nProbe),
             |  s -> CAST(s.idx AS BIGINT))""".stripMargin)))) { (df, i) =>
      df.withColumn(s"t$i", array(codebooks(i).toIndexedSeq.map(c =>
        dotProduct(expr(s"slice(vn, ${i * sub + 1}, $sub)"),
          typedlit(c.toSeq))): _*))
    }
      // residual generation: dot(q, v̂) = dot(q, centroid(bucket)) +
      // dot(q, residual-decode) — the first term is already in `dots`
      // (it ranked the probe lists), so it rides along as cdot and the
      // ADC lookups below score the residual part. Raw generation:
      // cdot ≡ 0.
      .withColumn("cdot",
        if (residual) element_at(col("dots"), col("bucket").cast("int"))
        else lit(0.0))
      .select(col("vec_id").as("id_a") +: col("vn").as("va") +:
        col("bucket") +: col("cdot") +: (0 until m).map(i => col(s"t$i")): _*)
    val indexed = liveGeneration(spark, name, pin)
    val cut = if (rerank > 0) math.max(rerank, k) else k
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("adc").desc, col("id_b"))
    // At-least-once replay hygiene: a replayed append leaves duplicate
    // posting rows (and duplicate _vecs rows), which would consume
    // multiple rank slots per (id_a, id_b) and displace true
    // neighbors. Duplicates carry IDENTICAL (adc, id_b) so they are
    // ADJACENT in the rank window's sort — a lag() guard in the SAME
    // window spec drops them with zero extra exchange or sort (the
    // follow-up row_number reuses the partitioning+ordering the first
    // window established). A dropDuplicates would cost a second
    // candidate-set shuffle; this costs nothing.
    val adcTop = probed.join(indexed, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("adc", (0 until m).map(i =>
        element_at(col(s"t$i"), element_at(col("codes"), i + 1)
          .cast("int"))).reduce(_ + _) + col("cdot"))
      .select(col("id_a"), col("va"), col("id_b"), col("adc"))
      .withColumn("_prev", lag(col("id_b"), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col("id_b"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= cut)
    if (rerank <= 0)
      adcTop.select(col("id_a"), col("id_b"),
        round(col("adc"), 6).as("score"), col("rank"))
    else {
      val vecsT = graft.sources.FormatIO.pinnedAt(spark, s"${name}_vecs",
        pin)
      val wx = Window.partitionBy(col("id_a"))
        .orderBy(col("cos").desc, col("id_b"))
      adcTop.select(col("id_a"), col("va"), col("id_b"))
        .join(vecsT, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          dotProduct(col("va"), col("vb")).as("cos"))
        // replayed _vecs duplicates: same lag-guard, same zero-cost
        // rationale as the ADC leg above
        .withColumn("_prev", lag(col("id_b"), 1).over(wx))
        .filter(col("_prev").isNull || col("_prev") =!= col("id_b"))
        .withColumn("rank", row_number().over(wx).cast("long"))
        .filter(col("rank") <= k)
        .select(col("id_a"), col("id_b"),
          round(col("cos"), 6).as("score"), col("rank"))
    }
  }

  /** IVF-PQ RECALL AUDIT — [[checkIvfRecall]] for the compressed
    * family, measuring BOTH faces of the compression trade on a
    * deterministic md5 panel of live vectors: `recall_adc` (pure
    * code-table scoring — what the RAM-resident serving tier sees) and
    * `recall_rerank` (ADC shortlist 4k wide, exact refine — what the
    * probe-with-refine deployment sees) against exact top-k over the
    * live full vectors. `retrain_recommended` fires on the REFINED
    * recall undershooting target: rerank is the shipped read path, and
    * a shortlist that misses is the signal codebooks drifted. */
  def checkIvfPqRecall(spark: SparkSession, name: String,
      target: Double = 0.8, k: Int = 3, nProbe: Int = 8,
      sampleN: Int = 64): DataFrame = {
    import spark.implicits._
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val live = graft.sources.FormatIO.liveAt(spark, name, s"${name}_vecs", pin)
      .select(col("id_b"), col("vb"))
      .localCheckpoint()
    val sample = graft.operators.Sampling.md5TopN(live, "id_b", sampleN)
      .select(col("id_b").as("vec_id"), col("vb").as("v"))
      .localCheckpoint()
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b"))
    val exact = sample
      .select(col("vec_id").as("id_a"), col("v").as("va"))
      .crossJoin(live)
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        dotProduct(col("va"), col("vb")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val nExact = exact.count()
    def recallOf(hitsDf: DataFrame): Double = {
      val hits = hitsDf.select(col("id_a"), col("id_b"))
        .join(exact, Seq("id_a", "id_b"), "left_semi").count()
      if (nExact == 0) 1.0
      else BigDecimal(hits.toDouble / nExact)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // the probe normalizes internally; stored vectors are already unit
    // so the re-normalize is an exact no-op modulo last-ulp — the
    // sample feeds the probe as raw (vec_id, v), the public face
    val rAdc = recallOf(probeIvfPqIndex(spark, name, sample, k, nProbe))
    val rRefine = recallOf(probeIvfPqIndex(spark, name, sample, k, nProbe,
      rerank = 4 * k))
    val nSample = sample.count()
    Seq((nSample, nExact, k.toLong, rAdc, rRefine, rRefine < target))
      .toDF("n_sample", "n_exact", "k", "recall_adc", "recall_rerank",
        "retrain_recommended")
  }

  /** Query-surface instance of [[checkIvfPqRecall]] — the compressed
    * index staged like [[ivfRecallAudit]]'s, then the two-face recall
    * row. Rows-only (float Lloyd + ADC); semantics are IvfPqSpec's
    * planted lossless fixture and the real-data bound below. */
  def ivfPqRecallAudit(spark: SparkSession, dir: String): DataFrame =
    checkIvfPqRecall(spark, graft.sources.Staged(spark, "graft_ivfpqrec", dir,
      Seq("embeddings"))(buildIvfPqIndex(spark, dir, _))._1)

  /** One row of the IVF-PQ budget tuner's priced table. */
  case class PqPlan(m: Int, codebookK: Int, nProbe: Int, rerank: Int,
      bytesPerVec: Double, recall: Double)

  /** IVF-PQ BUDGET TUNER — completes the tuner trio next to
    * [[graft.operators.Dedup.lshBandPlan]] (bands × rows) and
    * [[tuneNProbe]] (probe budget): price every candidate
    * (m, codebookK, nProbe, rerank) quadruple by MEASURED recall@k on
    * the bounded md5 query panel against exact top-k, and by posting
    * bytes per vector (m · ⌈log2 codebookK⌉ / 8 — the RAM-resident
    * serving bill the compression exists to shrink).
    *
    * Cost discipline (the [[tuneNProbe]] pattern at a wider grid): the
    * IVF centroids train ONCE (they don't depend on the PQ split);
    * the exact side is |sample| × corpus, computed once; per (m, K)
    * the residual codebooks train once and the sample's candidate
    * table (probe rank, ADC score, exact cosine) materializes once —
    * each (nProbe, rerank) cell is then a filter + two bounded
    * windows over that sample-sized table. Nothing all-pairs. */
  def ivfPqPlanTable(spark: SparkSession, dir: String, k: Int = 3,
      nCentroids: Int = 16, kmeansIters: Int = 3, pqIters: Int = 3,
      sampleN: Int = 32,
      ms: Seq[Int] = Seq(4, 8, 16),
      codebookKs: Seq[Int] = Seq(16, 256),
      nProbes: Seq[Int] = Seq(1, 2, 4, 8),
      reranks: Seq[Int] = Seq(0, 12)): DataFrame =
    pqTunerCandidates(spark, dir, k, nCentroids, kmeansIters, pqIters,
      sampleN, ms, codebookKs) match {
      case None => emptyPlanTable(spark)
      case Some(t) =>
        // ONE aggregation prices the whole (nProbe, rerank) grid per
        // (m, K) candidate table — the per-cell evaluation fired a
        // count() action per cell (48 jobs at the default grid, r11
        // verdict item #8); here each cell is a slice of one exploded
        // frame and the grid resolves in a single job at collect time.
        import spark.implicits._
        val probes = nProbes.filter(_ <= t.nCentroids).distinct
        val maxCut = (k +: reranks).max
        val priced = t.cands.map { case (m, ck, bytes, cand) =>
          val wAdc = Window.partitionBy(col("id_a"), col("n_probe"))
            .orderBy(col("adc").desc, col("id_b"))
          val wCos = Window.partitionBy(col("id_a"), col("n_probe"),
            col("rerank")).orderBy(col("cos").desc, col("id_b"))
          cand
            // a candidate participates in every probe budget ≥ its
            // probe rank; the explode multiplies only the
            // sample-bounded candidate table
            .withColumn("n_probe", explode(typedlit(probes)))
            .filter(col("pr") <= col("n_probe"))
            .withColumn("ra", row_number().over(wAdc))
            .filter(col("ra") <= maxCut) // superset of every cell's cut
            .withColumn("rerank", explode(typedlit(reranks.distinct)))
            .filter(col("ra") <= greatest(col("rerank"), lit(k)))
            .withColumn("rc", row_number().over(wCos))
            .filter(when(col("rerank") <= 0, col("ra") <= k)
              .otherwise(col("rc") <= k))
            .join(t.exact.withColumn("hit", lit(1L)),
              Seq("id_a", "id_b"), "left")
            .groupBy(col("n_probe"), col("rerank"))
            .agg((sum(coalesce(col("hit"), lit(0L))) / t.exactN)
              .as("recall"))
            .select(lit(m).as("m"), lit(ck).as("codebook_k"),
              col("n_probe"), col("rerank"),
              lit(bytes).as("bytes_per_vec"), col("recall"))
        }
        // empty cells (no surviving candidates) must still price at
        // recall 0 — a groupBy drops them, so the dense driver-side
        // grid left-joins the measured slices back
        val grid = (for {
          (m, ck, bytes, _) <- t.cands
          p <- probes
          r <- reranks.distinct
        } yield (m, ck, p, r, bytes))
          .toDF("m", "codebook_k", "n_probe", "rerank", "bytes_per_vec")
        val measured = priced.reduceOption(_ unionByName _)
        val joined = measured match {
          case Some(mdf) => grid.join(mdf,
            Seq("m", "codebook_k", "n_probe", "rerank", "bytes_per_vec"),
            "left")
          case None => grid.withColumn("recall", lit(null).cast("double"))
        }
        joined
          .withColumn("recall", round(coalesce(col("recall"), lit(0.0)), 4))
          .select("m", "codebook_k", "n_probe", "rerank", "bytes_per_vec",
            "recall")
    }

  private def emptyPlanTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Int, Int, Int, Double, Double)]
      .toDF("m", "codebook_k", "n_probe", "rerank", "bytes_per_vec",
        "recall")
  }

  /** The tuner's shared, strategy-independent setup: IVF centroids
    * (trained once — they don't depend on the PQ split), the exact
    * top-k of the bounded md5 panel (computed once), and per (m, K)
    * the residual-trained codebooks + the sample-sized candidate
    * table (probe rank, ADC score, exact cosine), each materialized
    * once. Both evaluation strategies — the batched grid aggregation
    * ([[ivfPqPlanTable]]) and the per-cell reference
    * ([[ivfPqPlanTableReference]], the differential spec's oracle) —
    * price THESE tables, so a divergence is strictly an evaluation
    * bug, never a training difference. */
  private[graft] case class PqTunerInputs(
      cands: Seq[(Int, Int, Double, DataFrame)],
      exact: DataFrame, exactN: Double, nCentroids: Int)

  private[graft] def pqTunerCandidates(spark: SparkSession, dir: String,
      k: Int, nCentroids: Int, kmeansIters: Int, pqIters: Int,
      sampleN: Int, ms: Seq[Int], codebookKs: Seq[Int])
      : Option[PqTunerInputs] = {
    val normed = vecs(spark, dir)
      .select(col("vec_id"),
        l2Normalize(col("v")).as("vn"))
      .localCheckpoint()
    val dim = normed.select(size(col("vn"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    if (dim == 0) return None
    val centroids = trainCentroids(spark, normed, nCentroids, kmeansIters)
    if (centroids.isEmpty) return None
    val nC = centroids.length
    val dots = array(centroids.toIndexedSeq.map(c =>
      dotProduct(col("vn"), typedlit(c.toSeq))): _*)
    val assigned = normed.withColumn("dots", dots)
      .withColumn("bucket",
        expr("array_position(dots, array_max(dots))").cast("long"))
      .localCheckpoint()
    val sample = graft.operators.Sampling
      .md5TopN(assigned, "vec_id", sampleN)
      .select(col("vec_id").as("id_a"), col("vn").as("va"),
        col("dots").as("qdots"))
      .localCheckpoint()
    // exact top-k of the panel only — |sample| × corpus, the fenced
    // recall-audit shape
    val corpus = assigned.select(col("vec_id").as("id_b"),
      col("vn").as("vb"))
    val wx = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b"))
    val exact = sample.select(col("id_a"), col("va")).crossJoin(corpus)
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        dotProduct(col("va"), col("vb")).as("cos"))
      .withColumn("rank", row_number().over(wx))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val exactN = exact.count().toDouble
    if (exactN == 0.0) return None
    // probe-ranked buckets per query: pr = 1 means the nearest list
    val qExpl = sample.withColumn("pb", expr(
        s"""transform(
           |  array_sort(zip_with(qdots, sequence(1, $nC),
           |    (d, i) -> struct(-d AS nd, i AS idx))),
           |  s -> CAST(s.idx AS BIGINT))""".stripMargin))
      .select(col("id_a"), col("va"), col("qdots"),
        posexplode(col("pb")).as(Seq("pr0", "bucket")))
      .withColumn("pr", col("pr0") + 1)
      .withColumn("cdot", element_at(col("qdots"), col("bucket").cast("int")))
      .drop("pr0", "qdots")
      .localCheckpoint()
    val cands = for {
      m <- ms if dim % m == 0
      ck <- codebookKs
    } yield {
      val sub = dim / m
      val trainSrc = assigned
        .withColumn("_enc", residualExpr("vn", centroids))
      val subCols = (0 until m).foldLeft(trainSrc) { (df, i) =>
        df.withColumn(s"s$i", expr(s"slice(_enc, ${i * sub + 1}, $sub)"))
      }
      val codebooks = trainCodebooks(spark, subCols, m, ck, pqIters)
      val postings = pqEncode(assigned, codebooks, keep = Seq("bucket"),
          residualCentroids = Some(centroids))
        .select(col("vec_id").as("id_b"), col("codes"), col("bucket"))
      val withT = (0 until m).foldLeft(qExpl) { (df, i) =>
        df.withColumn(s"t$i", array(codebooks(i).toIndexedSeq.map(c =>
          dotProduct(expr(s"slice(va, ${i * sub + 1}, $sub)"),
            typedlit(c.toSeq))): _*))
      }
      // sample-bounded candidate table: probe rank + ADC + exact cos
      val cand = withT.join(postings, Seq("bucket"))
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("adc", (0 until m).map(i =>
          element_at(col(s"t$i"), element_at(col("codes"), i + 1)
            .cast("int"))).reduce(_ + _) + col("cdot"))
        .join(corpus, Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("pr"), col("adc"),
          dotProduct(col("va"), col("vb")).as("cos"))
        .localCheckpoint()
      val bytes = m * math.ceil(math.log(ck.toDouble) / math.log(2.0)) / 8.0
      (m, ck, bytes, cand)
    }
    Some(PqTunerInputs(cands, exact, exactN, nC))
  }

  /** PER-CELL evaluation of the tuner grid — the pre-r12 strategy
    * (one count() action per (nProbe, rerank) cell), kept as the
    * DIFFERENTIAL REFERENCE for the batched grid aggregation: both
    * price the same candidate tables, so IvfPqSpec asserts table
    * equality cell by cell. Not on the query surface. */
  private[graft] def ivfPqPlanTableReference(spark: SparkSession,
      dir: String, k: Int = 3, nCentroids: Int = 16,
      kmeansIters: Int = 3, pqIters: Int = 3, sampleN: Int = 32,
      ms: Seq[Int] = Seq(4, 8, 16),
      codebookKs: Seq[Int] = Seq(16, 256),
      nProbes: Seq[Int] = Seq(1, 2, 4, 8),
      reranks: Seq[Int] = Seq(0, 12)): DataFrame =
    pqTunerCandidates(spark, dir, k, nCentroids, kmeansIters, pqIters,
      sampleN, ms, codebookKs) match {
      case None => emptyPlanTable(spark)
      case Some(t) =>
        import spark.implicits._
        val rows = for {
          (m, ck, bytes, cand) <- t.cands
          p <- nProbes.filter(_ <= t.nCentroids)
          r <- reranks
        } yield {
          val cut = math.max(r, k)
          val wa = Window.partitionBy(col("id_a"))
            .orderBy(col("adc").desc, col("id_b"))
          val adcTop = cand.filter(col("pr") <= p)
            .withColumn("ra", row_number().over(wa))
            .filter(col("ra") <= cut)
          val top =
            if (r <= 0) adcTop.filter(col("ra") <= k)
            else {
              val wc = Window.partitionBy(col("id_a"))
                .orderBy(col("cos").desc, col("id_b"))
              adcTop.withColumn("rc", row_number().over(wc))
                .filter(col("rc") <= k)
            }
          val hits = top.select(col("id_a"), col("id_b"))
            .join(t.exact, Seq("id_a", "id_b"), "left_semi").count()
          (m, ck, p, r, bytes, hits / t.exactN)
        }
        rows.toDF("m", "codebook_k", "n_probe", "rerank",
            "bytes_per_vec", "recall")
          .withColumn("recall", round(col("recall"), 4))
    }

  /** The tuner's argmin — [[graft.operators.Dedup.chooseLshPlan]] for
    * the compressed family: the CHEAPEST plan (posting bytes first,
    * then rerank fetches, then probe lists) whose measured recall
    * clears the floor; falls back to the highest-recall plan when
    * nothing does (the honest answer on structureless corpora). */
  def chooseIvfPqPlan(spark: SparkSession, dir: String,
      targetRecall: Double = 0.8, k: Int = 3, nCentroids: Int = 16,
      sampleN: Int = 32,
      ms: Seq[Int] = Seq(4, 8, 16),
      codebookKs: Seq[Int] = Seq(16, 256),
      nProbes: Seq[Int] = Seq(1, 2, 4, 8),
      reranks: Seq[Int] = Seq(0, 12)): PqPlan = {
    val rows = ivfPqPlanTable(spark, dir, k = k, nCentroids = nCentroids,
      sampleN = sampleN, ms = ms, codebookKs = codebookKs,
      nProbes = nProbes, reranks = reranks).collect()
      .map(r => PqPlan(r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getDouble(4), r.getDouble(5)))
    require(rows.nonEmpty, s"ivfPqPlanTable($dir) produced no plans")
    val eligible = rows.filter(_.recall >= targetRecall)
    if (eligible.nonEmpty)
      eligible.minBy(p => (p.bytesPerVec, p.rerank, p.nProbe))
    else rows.maxBy(p => (p.recall, -p.bytesPerVec))
  }
}
