package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** The IVF-PQ composed index ([[Similarity.buildIvfPqIndex]]): posting
  * lists carry PQ CODES instead of raw vectors; probes score by ADC
  * tables; rerank refines from the `_vecs` side table.
  *
  * Fixture discipline: a LOSSLESS planted corpus — every distinct
  * subvector is covered by its own PQ codeword (≤ K distinct values
  * per subspace, all seeded, so Lloyd converges at zero reconstruction
  * error) — makes ADC scoring EXACTLY the true dot product, so the
  * compressed probe must reproduce the raw-vector IVF probe rank for
  * rank. Drift/retrain reuses IvfRecallSpec's boundary-straddling twin
  * geometry (margins far above double noise). */
class IvfPqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark

  private def writeEmb(rows: Seq[(Long, Array[Double])]): String = {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    rows.map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def norm(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** 12 unit vectors, 3 clusters × 4, dim 4 (m=2 → subspaces (1,2) and
    * (3,4)): cluster A = (1, xᵢ, 0, 0), B = (xᵢ, 1, 0, 0), C =
    * (0, 0, 1, xᵢ) with xᵢ ∈ {0, .01, .02, .03} — 9 distinct
    * subvectors in subspace 0 and 5 in subspace 1, every one covered
    * by a K=16 codebook seeded from all 12 rows. Ids 1,2,3 are one
    * per cluster so a 3-centroid IVF seeds every cluster. */
  private def losslessCorpus: Seq[(Long, Array[Double])] = {
    val xs = Seq(0.0, 0.01, 0.02, 0.03)
    val a = xs.map(x => norm(Array(1.0, x, 0.0, 0.0)))
    val b = xs.map(x => norm(Array(x, 1.0, 0.0, 0.0)))
    val c = xs.map(x => norm(Array(0.0, 0.0, 1.0, x)))
    Seq(1L -> a(0), 2L -> b(0), 3L -> c(0),
      4L -> a(1), 5L -> a(2), 6L -> a(3),
      7L -> b(1), 8L -> b(2), 9L -> b(3),
      10L -> c(1), 11L -> c(2), 12L -> c(3))
  }

  /** Shared lossless fixture: built ONCE, lazily, by whichever test
    * touches it first — so every test in this suite passes in
    * isolation (a test reading spark.table("ivfpq_pq_postings") must
    * not depend on suite-level declaration order). */
  private lazy val losslessBuilt: String = {
    val dir = writeEmb(losslessCorpus)
    Similarity.buildIvfIndex(spark, dir, "ivfpq_raw", nCentroids = 3,
      kmeansIters = 2, nBuckets = 2)
    Similarity.buildIvfPqIndex(spark, dir, "ivfpq_pq", nCentroids = 3,
      kmeansIters = 2, nBuckets = 2, m = 2, codebookK = 16, pqIters = 2)
    dir
  }

  test("lossless fixture: the ADC probe reproduces the raw-vector IVF " +
    "probe rank for rank (PQ codewords cover every subvector, so ADC " +
    "IS the exact dot product); the rerank face agrees; the audit " +
    "reads recall 1.0 on both faces") {
    val sp = spark
    import sp.implicits._
    losslessBuilt
    val queries = losslessCorpus
      .map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")
    def ranksOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("id_a"), col("id_b"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val raw = ranksOf(Similarity.probeIvfIndexOn(spark, "ivfpq_raw",
      queries, k = 3, nProbe = 2))
    val adc = ranksOf(Similarity.probeIvfPqIndex(spark, "ivfpq_pq",
      queries, k = 3, nProbe = 2))
    val refined = ranksOf(Similarity.probeIvfPqIndex(spark, "ivfpq_pq",
      queries, k = 3, nProbe = 2, rerank = 6))
    assert(raw.nonEmpty)
    assert(adc == raw,
      s"lossless ADC probe must equal the raw-vector probe:\n" +
        s"adc-only=${(adc -- raw).toSeq.sorted}\nraw-only=${(raw -- adc).toSeq.sorted}")
    assert(refined == raw, "the rerank face must agree on lossless data")
    // ADC scores equal exact cosine up to sub-rounding float noise
    val scoreGap = Similarity.probeIvfPqIndex(spark, "ivfpq_pq",
      queries, k = 3, nProbe = 2)
      .select(col("id_a"), col("id_b"), col("score"))
      .join(Similarity.probeIvfIndexOn(spark, "ivfpq_raw", queries,
        k = 3, nProbe = 2)
        .select(col("id_a"), col("id_b"), col("cosine")),
        Seq("id_a", "id_b"))
      .select(max(abs(col("score") - col("cosine")))).collect()
      .head.getDouble(0)
    assert(scoreGap < 1e-9, s"lossless ADC score drift: $scoreGap")
    val audit = Similarity.checkIvfPqRecall(spark, "ivfpq_pq",
      target = 0.9, k = 1, nProbe = 1).collect().head
    assert(audit.getAs[Double]("recall_adc") == 1.0 &&
      audit.getAs[Double]("recall_rerank") == 1.0 &&
      !audit.getAs[Boolean]("retrain_recommended"),
      s"lossless audit must read 1.0/1.0: $audit")
  }

  // the IvfRecallSpec twin geometry: pair j straddles the frozen
  // centroid boundary, each twin's true 1-NN is its sibling
  private val eps = 0.01
  private def twinPair(j: Int): Seq[Array[Double]] = {
    val d = 0.3 + 0.3 * j
    Seq(norm(Array(0.7 + eps, 0.7 - eps, d, 0.0)),
      norm(Array(0.7 - eps, 0.7 + eps, d, 0.0)))
  }
  private val axisA = Array(1.0, 0.0, 0.0, 0.0)
  private val axisB = Array(0.0, 1.0, 0.0, 0.0)

  test("planted drift + in-place retrain: appended straddling twins " +
    "drop the refined recall and raise the alarm; retrain (new IVF " +
    "centroids + new PQ codebooks + re-encoded postings under ONE " +
    "rebase commit) recovers 1.0/1.0; a probe pinned mid-retrain reads " +
    "the old generation; tombstones are honored and purge changes " +
    "nothing") {
    val sp = spark
    import sp.implicits._
    import graft.sources.FormatIO
    // base: seeds 1=a, 2=b; copies at 21+; twins later at 3..10 so a
    // 3-centroid retrain's seeds (3 smallest live ids) cover all three
    // clusters
    val base = Seq((1L, axisA), (2L, axisB)) ++
      (0 until 7).flatMap(i => Seq((21L + 3 * i, axisA), (22L + 3 * i, axisB)))
    val dir = writeEmb(base)
    Similarity.buildIvfPqIndex(spark, dir, "ivfpq_ret", nCentroids = 2,
      kmeansIters = 2, nBuckets = 2, m = 2, codebookK = 16, pqIters = 2)
    val clean = Similarity.checkIvfPqRecall(spark, "ivfpq_ret",
      target = 0.9, k = 1, nProbe = 1).collect().head
    assert(clean.getAs[Double]("recall_rerank") == 1.0 &&
      !clean.getAs[Boolean]("retrain_recommended"),
      s"clean index must read full refined recall: $clean")

    val twins = (0 until 4).flatMap { j =>
      val Seq(u, v) = twinPair(j)
      Seq((3L + 2 * j, u), (4L + 2 * j, v))
    }
    Similarity.appendToIvfPqIndex(spark, "ivfpq_ret",
      twins.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v"))
    val drifted = Similarity.checkIvfPqRecall(spark, "ivfpq_ret",
      target = 0.9, k = 1, nProbe = 1).collect().head
    assert(drifted.getAs[Double]("recall_rerank") < 0.9,
      s"straddling twins must drop the refined recall: $drifted")
    assert(drifted.getAs[Boolean]("retrain_recommended"),
      "the audit must raise the retrain alarm")

    // tombstone one axis copy: retrain must not resurrect it
    Similarity.deleteFromIvfPqIndex(spark, "ivfpq_ret",
      Seq(39L).toDF("vec_id"))
    // a retried delete changes nothing: one tombstone for the id, and
    // probes equal to the single delete's
    def probeAll() = Similarity.probeIvfPqIndex(spark, "ivfpq_ret",
      base.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v"),
      k = 3, nProbe = 2).collect().map(_.toString).sorted.toSeq
    val once = probeAll()
    Similarity.deleteFromIvfPqIndex(spark, "ivfpq_ret",
      Seq(39L).toDF("vec_id")) // retry
    assert(spark.table("ivfpq_ret_tombstones").select("id_b").collect()
      .map(_.getLong(0)).toSeq == Seq(39L),
      "a retried delete must leave one tombstone per deleted id")
    assert(probeAll() == once, "a retried delete must not change probes")

    // two-phase retrain: a probe pinned BETWEEN stage and commit reads
    // the old codebooks with the old postings, consistently
    val qTwin = Seq((3L, twinPair(0).head.toSeq)).toDF("vec_id", "v")
    val preStage = Similarity.probeIvfPqIndex(spark, "ivfpq_ret", qTwin,
      k = 1, nProbe = 1).collect().map(_.getLong(1)).toSeq
    val e = Similarity.stageRetrainIvfPq(spark, "ivfpq_ret",
      nCentroids = 3, kmeansIters = 3, m = 2, codebookK = 16, pqIters = 2)
    val midStage = Similarity.probeIvfPqIndex(spark, "ivfpq_ret", qTwin,
      k = 1, nProbe = 1).collect().map(_.getLong(1)).toSeq
    assert(midStage == preStage,
      "a probe racing the staged (uncommitted) retrain must read the " +
        s"old generation: pre=$preStage mid=$midStage")
    FormatIO.commitIndexEpoch(spark, "ivfpq_ret", e, rebase = true)

    val retrained = Similarity.checkIvfPqRecall(spark, "ivfpq_ret",
      target = 0.9, k = 1, nProbe = 1).collect().head
    assert(retrained.getAs[Double]("recall_adc") == 1.0 &&
      retrained.getAs[Double]("recall_rerank") == 1.0 &&
      !retrained.getAs[Boolean]("retrain_recommended"),
      s"retrained index must recover 1.0/1.0: $retrained")
    // the twin's 1-NN is now its sibling, found in ONE probe
    val postRetrain = Similarity.probeIvfPqIndex(spark, "ivfpq_ret",
      qTwin, k = 1, nProbe = 1).collect().map(_.getLong(1)).toSeq
    assert(postRetrain == Seq(4L),
      s"post-retrain the twin must find its sibling: $postRetrain")
    // tombstoned id 39 stays dead across the retrain
    val all = Similarity.probeIvfPqIndex(spark, "ivfpq_ret",
      base.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v"),
      k = 3, nProbe = 2).collect().map(_.getLong(1)).toSet
    assert(!all.contains(39L), "retrain resurrected a tombstoned vector")

    // purge (stale generations + tombstones) must not change probes
    val before = Similarity.probeIvfPqIndex(spark, "ivfpq_ret",
      base.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v"),
      k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSet
    Similarity.purgeIvfPqStaleGenerations(spark, "ivfpq_ret")
    Similarity.purgeIvfPqTombstones(spark, "ivfpq_ret")
    val after = Similarity.probeIvfPqIndex(spark, "ivfpq_ret",
      base.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v"),
      k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSet
    assert(after == before, "purge changed probe results")
  }

  test("postings store codes, not vectors: the compressed posting row " +
    "is m longs against dim doubles on the raw index — the memory " +
    "story the composition exists for") {
    losslessBuilt // force the shared fixture (isolation-safe)
    val postings = spark.table("ivfpq_pq_postings")
    val schema = postings.schema.fields.map(f =>
      f.name -> f.dataType.simpleString).toMap
    assert(schema("codes") == "array<bigint>",
      s"postings must carry PQ codes: $schema")
    assert(!schema.contains("vb"),
      "the compressed postings must NOT carry raw vectors")
    val m = postings.select(size(col("codes"))).limit(1).collect()
      .head.getInt(0)
    assert(m == 2, s"m=2 codes per posting, got $m")
    // raw vectors live ONLY in the rerank side table
    val vecs = spark.table("ivfpq_pq_vecs").schema.fieldNames.toSet
    assert(vecs.contains("vb"))
  }

  /** 8 directions (±eᵢ in 4D), 4 members each: the raw subvector
    * vocabulary per subspace is ~5 macro patterns × perturbations
    * (> K=4), while residuals are the tiny per-member offsets. */
  private def planted8: Seq[(Long, Array[Double])] = {
    def mk(i: Int, s: Double): Array[Double] = {
      val a = Array.fill(4)(0.0); a(i) = s; a
    }
    val dirs = (0 until 4).flatMap(i => Seq(mk(i, 1.0), mk(i, -1.0)))
    val eps = Seq(
      Array(0.0, 0.0, 0.0, 0.0), Array(0.03, 0.01, 0.0, 0.0),
      Array(0.0, 0.03, 0.01, 0.0), Array(0.0, 0.0, 0.03, 0.01))
    dirs.zipWithIndex.flatMap { case (d, j) =>
      eps.zipWithIndex.map { case (e, i) =>
        ((j * 10 + i + 1).toLong,
          norm(d.zip(e).map { case (a, b) => a + b }))
      }
    }
  }

  test("residual encoding (Jégou IVF-ADC) beats raw-subvector encoding " +
    "at the SAME m × codebookK budget on a planted clustered corpus: " +
    "8 well-separated lists whose raw subvectors overflow a K=4 " +
    "codebook, but whose within-list residuals it covers — ADC recall " +
    "strictly above; the rerank face stays high in both modes") {
    val dir = writeEmb(planted8)
    Similarity.buildIvfPqIndex(spark, dir, "res_on", nCentroids = 8,
      kmeansIters = 3, nBuckets = 2, m = 2, codebookK = 4, pqIters = 3,
      residual = true)
    Similarity.buildIvfPqIndex(spark, dir, "res_off", nCentroids = 8,
      kmeansIters = 3, nBuckets = 2, m = 2, codebookK = 4, pqIters = 3,
      residual = false)
    def recalls(name: String): (Double, Double) = {
      val r = Similarity.checkIvfPqRecall(spark, name, target = 0.9,
        k = 3, nProbe = 2, sampleN = 32).collect().head
      (r.getAs[Double]("recall_adc"), r.getAs[Double]("recall_rerank"))
    }
    val (adcRes, rerankRes) = recalls("res_on")
    val (adcRaw, rerankRaw) = recalls("res_off")
    assert(adcRes > adcRaw,
      s"residual ADC recall must beat raw at the same budget: " +
        s"residual=$adcRes raw=$adcRaw")
    assert(adcRes >= 0.95, s"residual ADC recall regressed: $adcRes " +
      s"(measured 0.9583 at pin time)")
    assert(rerankRes >= 0.95 && rerankRaw >= 0.95,
      "exact rerank must recover high recall in both modes: " +
        s"residual=$rerankRes raw=$rerankRaw")
  }

  test("generated-corpus signal (r12): GenData embeddings are a " +
    "label-aligned Gaussian mixture — within-label cosine high, " +
    "cross-label near zero — so residual PQ beats raw encoding ON " +
    "GENERATED corpora, not only on the crafted planted fixture") {
    val out = java.nio.file.Files.createTempDirectory("graft-gen-mix").toString
    graft.tools.GenData.generate(spark, "/root/testdata/sf0.001", out, 1)
    // mixture structure: normalized dot within a label ≫ across labels
    val e = spark.read.parquet(s"$out/embeddings.parquet")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "label",
        "transform(v, x -> x / sqrt(aggregate(v, 0D, (a, y) -> a + y * y))) AS vn")
      .limit(200).collect()
      .map(r => (r.getInt(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val pairs = for {
      i <- e.indices; j <- e.indices if i < j
    } yield (e(i)._1 == e(j)._1, cos(e(i)._2, e(j)._2))
    val within = pairs.filter(_._1).map(_._2)
    val across = pairs.filterNot(_._1).map(_._2)
    val mWithin = within.sum / within.size
    val mAcross = across.sum / across.size
    assert(mWithin >= 0.8,
      s"within-label cosine must show cluster structure: $mWithin")
    assert(math.abs(mAcross) <= 0.2,
      s"cross-label cosine must be near zero: $mAcross")
    // the residual-PQ win must now be measurable on GENERATED data
    Similarity.buildIvfPqIndex(spark, out, "gen_res_on", nCentroids = 10,
      kmeansIters = 3, nBuckets = 2, m = 8, codebookK = 16, pqIters = 3,
      residual = true)
    Similarity.buildIvfPqIndex(spark, out, "gen_res_off", nCentroids = 10,
      kmeansIters = 3, nBuckets = 2, m = 8, codebookK = 16, pqIters = 3,
      residual = false)
    def adcRecall(name: String): Double =
      Similarity.checkIvfPqRecall(spark, name, target = 0.5, k = 3,
        nProbe = 3, sampleN = 32).collect().head
        .getAs[Double]("recall_adc")
    val res = adcRecall("gen_res_on")
    val raw = adcRecall("gen_res_off")
    assert(res > raw,
      s"residual ADC recall must beat raw on the generated mixture: " +
        s"residual=$res raw=$raw")
  }

  test("IVF-PQ budget tuner: the priced table measures recall per " +
    "(m, codebookK, nProbe, rerank) with correct byte pricing, and " +
    "the chooser picks the CHEAPEST plan clearing the floor on the " +
    "planted fixture (falling back to max recall on an impossible " +
    "floor)") {
    import graft.operators.Similarity.PqPlan
    val dir = writeEmb(planted8)
    val table = Similarity.ivfPqPlanTable(spark, dir, k = 3,
      nCentroids = 8, sampleN = 32, ms = Seq(2, 4),
      codebookKs = Seq(4, 16), nProbes = Seq(1, 2), reranks = Seq(0, 6))
      .collect()
      .map(r => PqPlan(r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getDouble(4), r.getDouble(5)))
    assert(table.length == 2 * 2 * 2 * 2, s"full grid expected: ${table.length}")
    table.foreach { p =>
      assert(p.recall >= 0.0 && p.recall <= 1.0, s"recall out of range: $p")
      val bits = p.m * math.ceil(math.log(p.codebookK) / math.log(2)).toInt
      assert(p.bytesPerVec == bits / 8.0, s"byte pricing wrong: $p")
    }
    // some plan clears 0.9 on this clustered corpus (the residual test
    // measured 0.9583 at m=2/K=4/nProbe=2)
    val floor = 0.9
    val eligible = table.filter(_.recall >= floor)
    assert(eligible.nonEmpty, s"no plan cleared $floor: ${table.toSeq}")
    val chosen = Similarity.chooseIvfPqPlan(spark, dir,
      targetRecall = floor, k = 3, nCentroids = 8, sampleN = 32,
      ms = Seq(2, 4), codebookKs = Seq(4, 16), nProbes = Seq(1, 2),
      reranks = Seq(0, 6))
    assert(chosen.recall >= floor, s"chooser missed the floor: $chosen")
    assert(chosen.bytesPerVec == eligible.map(_.bytesPerVec).min,
      s"chooser must pick minimal posting bytes among eligible: $chosen " +
        s"vs ${eligible.toSeq.sortBy(_.bytesPerVec).take(3)}")
    // impossible floor → honest fallback: the max-recall plan
    val fallback = Similarity.chooseIvfPqPlan(spark, dir,
      targetRecall = 1.01, k = 3, nCentroids = 8, sampleN = 32,
      ms = Seq(2, 4), codebookKs = Seq(4, 16), nProbes = Seq(1, 2),
      reranks = Seq(0, 6))
    assert(fallback.recall == table.map(_.recall).max,
      s"fallback must be the max-recall plan: $fallback")
  }

  test("batched tuner grid: identical PqPlan table to the per-cell " +
    "reference (same candidate tables, differential compare), at a " +
    "measured job saving of at least cells − evaluation-stages — the " +
    "r12 fold of 16 count() actions into one grid aggregation") {
    val dir = writeEmb(planted8)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
        ((r.getDouble(4), r.getDouble(5)))).toMap
    val (batched, jBatched) = Metrics.withJobCount(spark)(asMap(
      Similarity.ivfPqPlanTable(spark, dir, k = 3, nCentroids = 8,
        sampleN = 32, ms = Seq(2, 4), codebookKs = Seq(4, 16),
        nProbes = Seq(1, 2), reranks = Seq(0, 6))))
    val (reference, jReference) = Metrics.withJobCount(spark)(asMap(
      Similarity.ivfPqPlanTableReference(spark, dir, k = 3,
        nCentroids = 8, sampleN = 32, ms = Seq(2, 4),
        codebookKs = Seq(4, 16), nProbes = Seq(1, 2),
        reranks = Seq(0, 6))))
    assert(batched.keySet == reference.keySet,
      s"grid mismatch: ${batched.keySet} vs ${reference.keySet}")
    batched.foreach { case (cell, (bytes, recall)) =>
      val (rBytes, rRecall) = reference(cell)
      assert(bytes == rBytes && recall == rRecall,
        s"cell $cell diverged: batched=($bytes,$recall) " +
          s"reference=($rBytes,$rRecall)")
    }
    // 16 cells: the reference fires a count() action per cell (each
    // several AQE stage-jobs); the batched strategy resolves the whole
    // grid in ONE collect. Shared setup (training, checkpoints, exact
    // panel) is identical — the saving is the evaluation loop itself.
    assert(jBatched < jReference,
      s"batched must schedule fewer jobs: $jBatched vs $jReference")
    assert(jReference - jBatched >= 12,
      s"expected ≥ 12 evaluation jobs saved over 16 cells: " +
        s"batched=$jBatched reference=$jReference")
  }

  test("at-least-once replay: appending the same batch TWICE leaves " +
    "every probe face identical to a single append — duplicate " +
    "postings/_vecs rows cannot consume k rank slots or multiply the " +
    "rerank join (the in-window lag guard)") {
    val sp = spark
    import sp.implicits._
    val base = losslessCorpus.take(6)
    val extra = losslessCorpus.drop(6)
    val dir = writeEmb(base)
    for (n <- Seq("ivfpq_rp1", "ivfpq_rp2"))
      Similarity.buildIvfPqIndex(spark, dir, n, nCentroids = 3,
        kmeansIters = 2, nBuckets = 2, m = 2, codebookK = 16, pqIters = 2)
    val batch = extra.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "v")
    Similarity.appendToIvfPqIndex(spark, "ivfpq_rp1", batch)
    Similarity.appendToIvfPqIndex(spark, "ivfpq_rp2", batch)
    Similarity.appendToIvfPqIndex(spark, "ivfpq_rp2", batch) // the replay
    val queries = losslessCorpus.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "v")
    def probe(name: String, rr: Int): Set[(Long, Long, Double, Long)] =
      Similarity.probeIvfPqIndex(spark, name, queries, k = 3,
          nProbe = 2, rerank = rr)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    val onceAdc = probe("ivfpq_rp1", 0)
    val replAdc = probe("ivfpq_rp2", 0)
    assert(replAdc == onceAdc,
      s"ADC face diverged under replay:\nextra=${(replAdc -- onceAdc).toSeq}" +
        s"\nmissing=${(onceAdc -- replAdc).toSeq}")
    assert(probe("ivfpq_rp2", 6) == probe("ivfpq_rp1", 6),
      "rerank face diverged under replay")
    // ranks stay contiguous per query — a leaked duplicate would gap
    // or repeat them
    replAdc.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._4).toSeq.sorted == (1L to rows.size).toSeq,
        s"query $qid ranks not contiguous: $rows")
      assert(rows.map(_._2).size == rows.map(_._2).toSeq.distinct.size,
        s"query $qid has a duplicate neighbor: $rows")
    }
    // the RAW IVF index shares the probe contract — same replay law
    for (n <- Seq("ivf_rp1", "ivf_rp2"))
      Similarity.buildIvfIndex(spark, dir, n, nCentroids = 3,
        kmeansIters = 2, nBuckets = 2)
    Similarity.appendToIvfIndex(spark, "ivf_rp1", batch)
    Similarity.appendToIvfIndex(spark, "ivf_rp2", batch)
    Similarity.appendToIvfIndex(spark, "ivf_rp2", batch)
    def probeRaw(name: String): Set[(Long, Long, Double, Long)] =
      Similarity.probeIvfIndexOn(spark, name, queries, k = 3, nProbe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    assert(probeRaw("ivf_rp2") == probeRaw("ivf_rp1"),
      "raw IVF probe diverged under replay")
  }
}
