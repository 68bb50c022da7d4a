package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.functions.HashExpressions._

/** Semantic checks for the operators whose signatures are
  * engine-specific (no DuckDB oracle): MinHash/SimHash LSH, n-gram
  * Jaccard, LSH ANN. */
class DedupSimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("minhash LSH finds the planted near-duplicate pairs") {
    val pairs = Dedup.minhashPairs(spark, sf)
    assert(pairs.count() > 0, "expected candidate pairs on planted near-dups")
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("lsh band-plan tuner: closed forms are internally consistent, " +
    "the chooser respects the noise budget, and the S-curve tracks " +
    "the REAL minhash kernel's empirical band-collision rate on " +
    "known-similarity synthetic pairs") {
    val sp = spark
    import sp.implicits._
    val plans = Dedup.lshBandPlan(spark, tau = 0.6, k = 32).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(plans.map(p => p._1 * p._2).forall(_ == 32))
    plans.foreach { case (b, r, thr, pTau, sRec, pNoise) =>
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      // threshold = steepest point; catch probability there is
      // 1 - (1 - 1/b)^b ∈ [0.5, 1 - 1/e] for b ≥ 1
      assert(math.abs(p(math.pow(1.0 / b, 1.0 / r)) -
        (1.0 - math.pow(1.0 - 1.0 / b, b))) < 1e-9)
      // s_at_recall inverts P: catching at that similarity ≥ pRecall
      assert(p(sRec) >= 0.95 - 1e-4, s"b=$b r=$r: P($sRec)=${p(sRec)}")
      assert(pNoise <= pTau + 1e-12, "noise catch cannot exceed tau catch")
      // b=1 (a single AND-band) degenerates to threshold exactly 1.0
      assert(thr > 0.0 && (thr < 1.0 || b == 1))
    }
    // chooser: eligible plans respect the noise budget and maximize
    // catch at tau; the shipped 8x4 default is what tau≈0.59 picks
    val (b1, r1) = Dedup.chooseLshPlan(tau = 0.59, k = 32,
      maxNoise = 0.05)
    def pOf(b: Int, r: Int, s: Double) =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    assert(pOf(b1, r1, 0.295) <= 0.05, "chosen plan busts the noise budget")
    val better = (1 to 32).filter(32 % _ == 0).map(b => (b, 32 / b))
      .filter { case (b, r) => pOf(b, r, 0.295) <= 0.05 }
      .maxBy { case (b, r) => pOf(b, r, 0.59) }
    assert((b1, r1) == better, s"chooser is not argmax: ($b1,$r1) vs $better")
    // Monte-Carlo against the REAL kernel: synthetic shingle sets with
    // planted Jaccard s (share s·n of n hashes), banded by the actual
    // minhashSignature expression — empirical collision rate must
    // track 1-(1-s^r)^b within CLT noise
    val nPairs = 400
    val nSh = 200
    for (s <- Seq(0.4, 0.7); (b, r) <- Seq((8, 4), (16, 2))) {
      // |A|=|B|=nSh, |A∩B|=shared ⇒ J = shared/(2·nSh − shared); solve
      // for the planted target s (trueJ below recomputes the exact J)
      val shared = (2.0 * nSh * s / (1 + s)).round.toInt
      val rows = (0 until nPairs).flatMap { i =>
        val base = i.toLong * 1000000L
        val inter = (0 until shared).map(j => base + j)
        val onlyA = (0 until nSh - shared).map(j => base + 1000 + j)
        val onlyB = (0 until nSh - shared).map(j => base + 2000 + j)
        Seq((2L * i, inter ++ onlyA), (2L * i + 1, inter ++ onlyB))
      }
      val trueJ = shared.toDouble / (shared + 2 * (nSh - shared))
      val df = rows.toDF("doc_id", "shingles")
        .withColumn("shingles", col("shingles").cast("array<long>"))
      val k = b * r
      val bandsDf = df
        .withColumn("sig", minhashSignature(col("shingles"), k))
        .withColumn("band", explode(expr(
          s"transform(sequence(0, ${b - 1}), " +
            s"x -> struct(x AS band_id, xxhash64(slice(sig, x * $r + 1, $r)) AS band_sig))")))
        .select(col("doc_id"), col("band.band_id"), col("band.band_sig"))
      val hits = bandsDf.as("x").join(bandsDf.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.band_sig") === col("y.band_sig") &&
            col("x.doc_id") + 1 === col("y.doc_id") &&
            pmod(col("x.doc_id"), lit(2)) === 0)
        .select(col("x.doc_id")).distinct().count()
      val empirical = hits.toDouble / nPairs
      val formula = 1.0 - math.pow(1.0 - math.pow(trueJ, r), b)
      val tol = 4 * math.sqrt(formula * (1 - formula) / nPairs) + 0.03
      assert(math.abs(empirical - formula) <= tol,
        s"S-curve drift at J=$trueJ b=$b r=$r: empirical=$empirical " +
          s"formula=$formula tol=$tol")
    }
    // the tuned-pairs entry point catches planted near-dups
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely unrelated text about spark catalyst optimizers")
    ).toDF("doc_id", "text")
    val tuned = Dedup.minhashPairsWithPlan(docs, bands = 16,
      rowsPerBand = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tuned.contains((1L, 2L)), "tuned plan must catch the near-dup")
    assert(!tuned.contains((1L, 3L)) && !tuned.contains((2L, 3L)))
  }

  test("ngram jaccard on candidates is within (0,1] and candidates overlap") {
    val j = Dedup.ngramJaccard(spark, sf)
    assert(j.count() > 0)
    assert(j.filter(col("jaccard") < 0.1 || col("jaccard") > 1.0).count() == 0)
  }

  test("minhash candidates have genuinely high jaccard vs random pairs") {
    // candidate pairs' mean jaccard must dominate a random-pair estimate
    val j = Dedup.ngramJaccard(spark, sf)
    val candMean = j.agg(avg("jaccard")).head.getDouble(0)
    assert(candMean > 0.3, s"candidate mean jaccard $candMean suspiciously low")
  }

  test("simhash pairs are within the hamming ball and deterministic") {
    val p1 = Dedup.simhashPairs(spark, sf).collect()
    val p2 = Dedup.simhashPairs(spark, sf).collect()
    assert(p1.sameElements(p2), "simhash must be deterministic")
    assert(p1.forall(_.getLong(2) <= 8))
  }

  test("simhash of identical texts is identical, near piles are near") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e f g h", "a b c d e f g h"),
      ("a b c d e f g h", "a b c d e f g z")).toDF("t1", "t2")
      .select(hammingDistance(simhash64(col("t1")), simhash64(col("t2"))).as("d"))
      .collect().map(_.getInt(0))
    assert(df(0) == 0)
    assert(df(1) > 0 && df(1) <= 32)
  }

  test("O(n²) exact baselines are fenced: refuse oversized inputs unless " +
    "the override conf is set deliberately") {
    spark.conf.set("graft.exactBaseline.maxRows", "10")
    try {
      intercept[IllegalArgumentException] {
        Similarity.annBruteforce(spark, sf, k = 3)
      }
      intercept[IllegalArgumentException] {
        Similarity.embedNeardup(spark, sf)
      }
    } finally spark.conf.unset("graft.exactBaseline.maxRows")
    // with the fence at its default, the test corpus passes
    assert(Similarity.annBruteforce(spark, sf, k = 3).count() > 0)
  }

  test("brute-force ANN: k rows per vector, self excluded, cosine in [-1,1]") {
    val ann = Similarity.annBruteforce(spark, sf, k = 3)
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(ann.count() == n * 3)
    assert(ann.filter(col("id_a") === col("id_b")).count() == 0)
    assert(ann.filter(abs(col("cosine")) > 1.0).count() == 0)
  }

  test("blocked kernel matches the declarative brute-force bit for bit") {
    val declarative = Similarity.annBruteforce(spark, sf, k = 3).collect()
    val kernel = Similarity.annBruteforceKernel(spark, sf, k = 3).collect()
    assert(kernel.length == declarative.length)
    assert(kernel.sameElements(declarative),
      "kernel and declarative paths must produce identical neighbors")
    // sharded path: force several bounded index shards (the 100 TB shape
    // — no single collect may exceed maxShardRows) and require the same
    // bit-exact result after the per-shard top-k union + global re-rank
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    val shardRows = math.max(1L, n / 3).toInt // ≥3 shards
    val sharded = Similarity.annBruteforceKernel(spark, sf, k = 3,
      maxShardRows = shardRows).collect()
    assert(sharded.sameElements(declarative),
      "sharded kernel must stay bit-equal to the declarative baseline")
  }

  test("IVF ANN recall beats random bucketing; structure is valid") {
    val exact = Similarity.annBruteforce(spark, sf, k = 3)
      .select(col("id_a"), col("id_b"))
    val ivf = Similarity.annIvf(spark, sf, k = 3)
    assert(ivf.count() > 0)
    assert(ivf.filter(col("id_a") === col("id_b")).count() == 0)
    val hit = ivf.select(col("id_a"), col("id_b"))
      .join(exact, Seq("id_a", "id_b"), "left_semi").count()
    val recall = hit.toDouble / exact.count()
    info(f"IVF recall@3 = $recall%.3f")
    // recall floor for the shipped defaults (nProbe/nCentroids = 8/16
    // probe budget): 0.81 measured at sf0.1 via graft.tools.IvfSweep;
    // floor set with margin for SF-dependent noise
    assert(recall >= 0.75, f"IVF recall regressed below floor: $recall%.3f")
  }

  test("nProbe auto-tuner returns a probe budget that meets the target") {
    val target = 0.7
    val probe = Similarity.tuneNProbe(spark, sf, targetRecall = target,
      sampleN = 100)
    info(s"tuned nProbe = $probe")
    assert(probe >= 1 && probe <= 16)
    // the tuned budget must actually deliver the target on full recall
    val exact = Similarity.annBruteforce(spark, sf, k = 3)
      .select(col("id_a"), col("id_b"))
    val ivf = Similarity.annIvf(spark, sf, k = 3, nProbe = probe)
      .select(col("id_a"), col("id_b"))
    val recall = ivf.join(exact, Seq("id_a", "id_b"), "left_semi").count()
      .toDouble / exact.count()
    info(f"recall at tuned probe = $recall%.3f")
    assert(recall >= target - 0.1,
      f"tuned budget underdelivers: $recall%.3f vs target $target")
  }

  test("LSH ANN is a valid approximation: subset semantics + recall report") {
    val exact = Similarity.annBruteforce(spark, sf, k = 3)
      .select(col("id_a"), col("id_b"))
    val approx = Similarity.annLsh(spark, sf, k = 3)
      .select(col("id_a"), col("id_b"))
    val hit = approx.join(exact, Seq("id_a", "id_b"), "left_semi").count()
    val total = exact.count()
    val recall = hit.toDouble / total
    info(f"LSH recall@3 = $recall%.3f ($hit/$total)")
    // multiprobe keeps recall well above the single-bucket baseline even
    // on this dataset, where "neighbors" sit at cosine ~0.5
    assert(recall >= 0.2, f"recall regressed: $recall%.3f")
    assert(approx.count() > 0)
  }

  test("PCA-reduced LSH: valid top-k shape, recall at least comparable " +
      "to full-space LSH at the same probe budget") {
    val exact = Similarity.annBruteforce(spark, sf, k = 3)
      .select(col("id_a"), col("id_b"))
    val total = exact.count()
    val pca = Similarity.annPcaLsh(spark, sf, k = 3)
    assert(pca.filter(col("rank") < 1 || col("rank") > 3).count() == 0)
    assert(pca.filter(col("id_a") === col("id_b")).count() == 0)
    val pcaRecall = pca.select(col("id_a"), col("id_b"))
      .join(exact, Seq("id_a", "id_b"), "left_semi").count().toDouble / total
    val lshRecall = Similarity.annLsh(spark, sf, k = 3)
      .select(col("id_a"), col("id_b"))
      .join(exact, Seq("id_a", "id_b"), "left_semi").count().toDouble / total
    info(f"PCA-LSH recall@3 = $pcaRecall%.3f vs full-space LSH $lshRecall%.3f")
    assert(pcaRecall >= 0.2, f"recall floor: $pcaRecall%.3f")
    // the reduced space must not collapse recall vs the isotropic
    // variant (these embeddings are near-random, so parity is the bar;
    // clustered real embeddings are where the reduction wins)
    assert(pcaRecall >= lshRecall - 0.15,
      f"PCA bucketing lost too much recall: $pcaRecall%.3f vs $lshRecall%.3f")
  }

  test("encodedSets is an exact bijection: per-doc sizes and every " +
      "pairwise intersection count match the string shingle sets") {
    val sp = spark
    import sp.implicits._
    // boilerplate shared across docs, df ties (tokens with equal df
    // must still get distinct tids), a doc that is a subset of another
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox"),
      (4L, "completely different text with unique words here"),
      (5L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val sets = Dedup.tokenShingleSetsOf(docs, 3).localCheckpoint()
    val dfreq = sets.select(explode(col("st")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val enc = Dedup.encodedSets(sets, dfreq)
    val strSets = sets.collect().map(r =>
      r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val tidSets = enc.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).map {
      case (id, sz, sti) =>
        // sorted strictly ascending = distinct tids = injective map
        assert(sti == sti.sorted && sti.distinct == sti,
          s"doc $id: tid array not strictly sorted: $sti")
        assert(sz == strSets(id).size && sti.size == sz,
          s"doc $id: size drift sz=$sz |st|=${strSets(id).size} |sti|=${sti.size}")
        id -> sti.toSet
    }.toMap
    assert(tidSets.keySet == strSets.keySet)
    for (a <- strSets.keys; b <- strSets.keys if a < b)
      assert((strSets(a) & strSets(b)).size == (tidSets(a) & tidSets(b)).size,
        s"pair ($a,$b): string-intersection ${(strSets(a) & strSets(b)).size} " +
          s"!= tid-intersection ${(tidSets(a) & tidSets(b)).size}")
  }

  test("prefix-filter jaccard join equals the naive all-pairs join " +
      "(recall 1.0 by construction, both scale factors, non-default tau)") {
    // tau = 0.3 exercises the FP-boundary epsilon in the pruning
    // bounds (0.5 is a power of two — exact in every float product)
    for ((dir, tau) <- Seq(
      ("/root/testdata/sf0.001", 0.5), ("/root/testdata/sf0.01", 0.5),
      ("/root/testdata/sf0.001", 0.3), ("/root/testdata/sf0.01", 0.3))) {
      val fast = Dedup.jaccardPrefixJoin(spark, dir, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // naive reference: all pairs, exact jaccard over the same
      // 3-token shingle sets, same threshold
      val sets = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"),
          split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), " +
            "i -> concat_ws(' ', slice(toks, i, 3)))")).as("st"))
      val a = sets.select(col("doc_id").as("doc_a"), col("st").as("sa"))
      val b = sets.select(col("doc_id").as("doc_b"), col("st").as("sb"))
      val j = size(array_intersect(col("sa"), col("sb"))).cast("double") /
        (size(col("sa")) + size(col("sb")) -
          size(array_intersect(col("sa"), col("sb"))))
      val naive = a.join(b, col("doc_a") < col("doc_b"))
        .filter(j >= tau)
        .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == naive,
        s"prefix filter diverged at $dir tau=$tau: " +
          s"missing=${naive -- fast} extra=${fast -- naive}")
      assert(naive.nonEmpty || dir.endsWith("0.001"),
        "expected at least one qualifying pair at sf0.01")
    }
  }

  test("containment join equals the naive all-pairs directed join " +
      "(recall 1.0 by construction, both scale factors, non-default tau)") {
    // tau = 0.35 exercises the FP-boundary epsilon in the one-sided
    // pruning bounds (0.6 stresses the B-length prune instead)
    for ((dir, tau) <- Seq(
      ("/root/testdata/sf0.001", 0.6), ("/root/testdata/sf0.01", 0.6),
      ("/root/testdata/sf0.001", 0.35), ("/root/testdata/sf0.01", 0.35))) {
      val fast = Dedup.containmentJoin(spark, dir, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // naive reference: all DIRECTED pairs, exact containment over the
      // same 3-token shingle sets, same threshold
      val sets = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"),
          split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), " +
            "i -> concat_ws(' ', slice(toks, i, 3)))")).as("st"))
      val a = sets.select(col("doc_id").as("doc_a"), col("st").as("sa"))
      val b = sets.select(col("doc_id").as("doc_b"), col("st").as("sb"))
      val c = size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(col("sa"))
      val naive = a.join(b, col("doc_a") =!= col("doc_b"))
        .filter(c >= tau)
        .select(col("doc_a"), col("doc_b"), round(c, 4).as("containment"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == naive,
        s"containment prefix filter diverged at $dir tau=$tau: " +
          s"missing=${naive -- fast} extra=${fast -- naive}")
      assert(naive.nonEmpty || dir.endsWith("0.001"),
        "expected at least one qualifying directed pair at sf0.01")
      // directionality: containment must see asymmetric pairs Jaccard
      // thresholds at the same tau would reject — at minimum, every
      // symmetric jaccard-qualifying pair appears in BOTH directions
      val sym = Dedup.jaccardPrefixJoin(spark, dir, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val directed = fast.map(t => (t._1, t._2))
      assert(sym.forall(p => directed.contains(p) && directed.contains(p.swap)),
        "J >= tau implies containment >= tau in both directions")
    }
  }

  test("contamination: shares bounded, counts consistent, overlap detected") {
    val c = TextAnalysis.contamination(spark, sf)
    assert(c.count() > 0)
    assert(c.filter(col("n_contaminated") > col("n_grams")).count() == 0)
    assert(c.filter(col("contamination_share") < 0.0 ||
      col("contamination_share") > 1.0).count() == 0)
    // the synthetic corpus shares vocabulary across sources, so SOME
    // eval grams must hit the train index — a dead detector returns 0
    assert(c.agg(sum(col("n_contaminated"))).head.getLong(0) > 0,
      "contamination detector found zero overlap on an overlapping corpus")
  }

  test("stratified hash sample: deterministic, fractions tracked per stratum") {
    val s1 = graft.operators.Sampling.stratifiedSample(spark, sf).collect()
    val s2 = graft.operators.Sampling.stratifiedSample(spark, sf).collect()
    assert(s1.sameElements(s2), "hash sampling must be deterministic")
    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    for ((lang, n) <- total; if n >= 50) {
      val expected = if (lang == "en") 0.5 else 0.25
      val got = kept.getOrElse(lang, 0L).toDouble / n
      assert(math.abs(got - expected) < 0.15,
        f"$lang sampled $got%.2f, expected ~$expected")
    }
  }

  test("stratified top-N: exactly min(n, stratum) rows, deterministic") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val n = 20
    val s1 = graft.operators.Sampling.stratifiedTopN(docs, "doc_id", "lang", n)
    val s2 = graft.operators.Sampling.stratifiedTopN(docs, "doc_id", "lang", n)
    assert(s1.collect().map(_.toString).sorted
      .sameElements(s2.collect().map(_.toString).sorted),
      "fixed-size draw must be deterministic")
    val strata = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val drawn = s1.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, total) <- strata)
      assert(drawn.getOrElse(lang, 0L) == math.min(n.toLong, total),
        s"$lang drew ${drawn.getOrElse(lang, 0L)}, stratum has $total")
  }

  test("unigram logprob: negative scores, rare-token docs score lower") {
    val lp = TextAnalysis.unigramLogprob(spark, sf)
    assert(lp.count() > 0)
    assert(lp.filter(col("avg_logprob") >= 0.0).count() == 0,
      "log probabilities must be negative")
  }

  test("dedup clusters: labels are cluster minima, pairs share labels") {
    val labels = Dedup.dedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (doc, lab) =>
      assert(lab <= doc, "label must be the cluster minimum")
      assert(labels(lab) == lab, "cluster representative must label itself")
    }
    val keepers = labels.values.toSet
    assert(keepers.size < labels.size || pairs.isEmpty,
      "near-dup pairs must reduce the keeper count")
  }

  test("corpus pipeline: monotone funnel, deterministic, valid splits") {
    import graft.operators.Pipeline
    val corpus = Pipeline.curateCorpus(spark, sf).collect()
    val corpus2 = Pipeline.curateCorpus(spark, sf).collect()
    assert(corpus.sameElements(corpus2), "pipeline must be deterministic")
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(corpus.length > 0 && corpus.length <= total)
    assert(corpus.map(_.getAs[String]("split")).toSet.subsetOf(
      Set("train", "val", "test")))
    val funnel = Pipeline.curationFunnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel("0_ingested") >= funnel("1_quality_pass"))
    assert(funnel("4_final_corpus") == corpus.length)
    // leakage suppression: no surviving train doc appears in the
    // full-corpus leak list
    val leaks = Dedup.splitLeakage(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val survivingTrain = corpus
      .filter(_.getAs[String]("split") == "train")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(survivingTrain.intersect(leaks).isEmpty,
      "curated train split still contains leaky docs")
  }

  test("rolling shingles: deterministic, k-sensitive") {
    import spark.implicits._
    val r = Seq(("abcdefabcdef", "abcdefabcdeg")).toDF("t1", "t2")
      .select(rollingShingles(col("t1"), 4).as("s1"),
        rollingShingles(col("t2"), 4).as("s2"))
      .select(size(array_intersect(col("s1"), col("s2"))).as("common"),
        size(col("s1")).as("n1"))
      .head
    assert(r.getInt(1) > 0)
    assert(r.getInt(0) > 0 && r.getInt(0) <= r.getInt(1))
  }

  test("language id is deterministic and respects zh short-circuit") {
    import spark.implicits._
    val out = TextAnalysis.langId(spark, sf).collect()
    assert(out.nonEmpty)
    val df = Seq("the cat is out of the bag", "你好世界")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
      .withColumn("lang", lit("x"))
    // reuse predicate logic through a temp view of the same shape
    df.createOrReplaceTempView("documents_tmp")
  }

  test("bpe training: learns the planted merges in order, rewrite is " +
    "left-to-right non-overlapping, deterministic") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    Seq((0L, "a b a b a b", "en", "s0", 11L), (1L, "a b c", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = TextAnalysis.bpeTrain(spark, dir, nMerges = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,b) wins with 4 ("a b a b a b" counts it 3×, "a b c" 1×);
    // round 2: the merged corpus [[ab ab ab],[ab c]] pairs (ab,ab) 2×;
    // round 3: nothing repeats → training stops early
    assert(merges.toSeq == Seq((1L, "a", "b", 4L), (2L, "a b", "a b", 2L)),
      s"unexpected merge table: ${merges.mkString(", ")}")
    val again = TextAnalysis.bpeTrain(spark, dir, nMerges = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.sameElements(again))
    // real corpus: full budget of merges, nonincreasing frequencies
    val real = TextAnalysis.bpeTrain(spark, sf, nMerges = 3).collect()
    assert(real.length == 3)
    assert(real.map(_.getLong(3)).sliding(2).forall(p => p(0) >= p(1)),
      "merge frequencies should not increase across rounds")
    // APPLY replays the learned table: on the training corpus it must
    // leave no adjacent pair equal to a learned merge (all were merged)
    val table = real.map(r => (r.getString(1), r.getString(2))).toSeq
    val applied = TextAnalysis.bpeApply(
      graft.sources.Tables.documents(spark, sf), table)
    val learned = table.map { case (a, b) => s"$a $b" }.toSet
    val leftover = applied
      .select(explode(when(size(col("tokens")) >= 2, expr(
        "transform(sequence(1, size(tokens) - 1), " +
          "i -> concat_ws(' ', tokens[i-1], tokens[i]))"))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .filter(col("pair").isInCollection(learned))
      .count()
    assert(leftover == 0,
      "after apply, no learned merge pair may remain adjacent")
    // toy corpus: applying the learned merges reproduces the hand-traced
    // final corpus of the trainer
    val toyApplied = TextAnalysis.bpeApply(
      graft.sources.Tables.documents(spark, dir),
      merges.map(m => (m._2, m._3)).toSeq)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(toyApplied(0L) == Seq("a b a b", "a b"))
    assert(toyApplied(1L) == Seq("a b", "c"))
  }

  test("semantic dedup: greedy prune is valid — every pruned vector has " +
    "a kept same-cluster rep above tau, kept set is tau-separated") {
    val tau = 0.95
    val out = Similarity.semanticDedup(spark, sf, tau = tau).collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getBoolean(2), r.getLong(3))).toMap
    // structural invariants
    byId.foreach { case (id, (cluster, kept, rep)) =>
      if (kept) assert(rep == id, s"kept $id must be its own rep")
      else {
        val (repCluster, repKept, _) = byId(rep)
        assert(repKept, s"pruned $id points at non-kept rep $rep")
        assert(repCluster == cluster, s"rep $rep of $id is in another cluster")
        assert(rep < id, s"greedy order violated: rep $rep >= pruned $id")
      }
    }
    // similarity invariants against the actual unit vectors
    import spark.implicits._
    val vn = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(cast(embedding AS array<double>), " +
          "x -> x / sqrt(aggregate(cast(embedding AS array<double>), 0D, (acc, y) -> acc + y * y)))"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Long, b: Long): Double =
      vn(a).zip(vn(b)).map { case (x, y) => x * y }.sum
    out.filter(!_.getBoolean(2)).foreach { r =>
      assert(cos(r.getLong(0), r.getLong(3)) > tau,
        s"pruned ${r.getLong(0)} not within tau of rep ${r.getLong(3)}")
    }
    // kept members of one cluster are pairwise tau-separated
    out.filter(_.getBoolean(2)).groupBy(_.getLong(1)).foreach { case (_, ms) =>
      val ids = ms.map(_.getLong(0)).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        assert(cos(ids(i), ids(j)) <= tau,
          s"kept ${ids(i)}, ${ids(j)} exceed tau in the same cluster")
    }
    // deterministic
    val again = Similarity.semanticDedup(spark, sf, tau = tau).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("edit join: deletion-keyed candidates equal the naive quadratic " +
      "on substitutions, insertions, deletions, and duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // every edit species at τ=1, plus distance-2 decoys and an exact pair
    val rows = Seq(
      (1L, "window"), (2L, "window"),   // substitution
      (3L, "windw"),                    // deletion of 'o'
      (4L, "windowx"),                  // insertion at end
      (5L, "xwindow"),                  // insertion at front
      (6L, "wandiw"),                   // distance 2 from window — decoy
      (7L, "window"),                   // exact duplicate of 1
      (8L, "batch"), (9L, "patch"),     // substitution at position 0
      (10L, "")                         // empty string edge case
    ).toDF("id", "s")
    val got = graft.operators.Dedup.editJoin(rows, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val data = Seq((1L, "window"), (2L, "window"), (3L, "windw"),
      (4L, "windowx"), (5L, "xwindow"), (6L, "wandiw"), (7L, "window"),
      (8L, "batch"), (9L, "patch"), (10L, ""))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val naive = (for {
      (ia, sa) <- data; (ib, sb) <- data
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib, lev(sa, sb).toLong)).toSet
    assert(got == naive, s"deletion join $got vs naive $naive")
    // and on the real table at sf0.001 (the oracle's shape)
    val real = graft.operators.Dedup.editNeighbors(spark, sf).count()
    val cust = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey").as("k"), col("c_name").as("s"))
    val naiveReal = cust.as("a").join(cust.as("b"),
        col("a.k") < col("b.k") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= 1 &&
          levenshtein(col("a.s"), col("b.s")) <= 1)
      .count()
    assert(real == naiveReal,
      s"real-table deletion join $real vs naive $naiveReal")
  }

  test("edit join tau=2: 2-deletion neighborhood equals the naive quadratic " +
      "on every edit species, and the long-key fence raises") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // every species at τ≤2: each single edit, each double (sub+sub,
    // ins+ins, del+del, sub+ins, sub+del, ins+del), a transposition
    // (distance 2 in plain Levenshtein), distance-3 decoys, very short
    // strings whose 2-deletions collapse to "" / single chars, exact dups
    val data = Seq(
      (1L, "window"), (2L, "wandow"),    // 1 substitution
      (3L, "wandaw"),                    // 2 substitutions
      (4L, "windowxy"),                  // 2 insertions
      (5L, "wind"),                      // 2 deletions
      (6L, "xwandow"),                   // sub + ins
      (7L, "windo"),                     // 1 deletion
      (8L, "wndot"),                     // del + sub
      (9L, "wnidow"),                    // transposition = 2 (sub+sub path)
      (10L, "walrus"),                   // distance ≥3 decoy
      (11L, "window"),                   // exact duplicate of 1
      (12L, "ab"), (13L, "ba"), (14L, ""), (15L, "a"), (16L, "cd"))
    val rows = data.toDF("id", "s")
    val got = graft.operators.Dedup.editJoin(rows, "id", "s", tau = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val naive = (for {
      (ia, sa) <- data; (ib, sb) <- data
      if ia < ib && lev(sa, sb) <= 2
    } yield (ia, ib, lev(sa, sb).toLong)).toSet
    assert(got == naive, s"tau=2 deletion join $got vs naive $naive")
    // real table at sf0.001 — parity with the length-banded quadratic
    val real = graft.operators.Dedup.editNeighborsTau2(spark, sf).count()
    val cust = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey").as("k"), col("c_name").as("s"))
    val naiveReal = cust.as("a").join(cust.as("b"),
        col("a.k") < col("b.k") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= 2 &&
          levenshtein(col("a.s"), col("b.s")) <= 2)
      .count()
    assert(real == naiveReal,
      s"real-table tau=2 join $real vs naive $naiveReal")
    // the O(len²) fence: a key past maxKeyLen raises loudly at τ=2
    val long = Seq((1L, "x" * 40), (2L, "x" * 40)).toDF("id", "s")
    val err = intercept[Exception] {
      graft.operators.Dedup.editJoin(long, "id", "s", tau = 2, maxKeyLen = 30)
        .collect()
    }
    assert(err.getMessage.contains("maxKeyLen"),
      s"expected the maxKeyLen fence, got: ${err.getMessage}")
  }

  test("entity resolution at tau=2: labels equal a driver union-find over " +
      "the naive quadratic tau=2 blocked pairs") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Dedup.entityResolution(spark, sf, tau = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cust = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val parent = scala.collection.mutable.Map(cust.map(c => c._1 -> c._1): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for {
      (ka, na, sa) <- cust; (kb, nb, sb) <- cust
      if ka < kb && sa == sb && math.abs(na.length - nb.length) <= 2 &&
        lev(na, nb) <= 2
    } {
      val (ra, rb) = (find(ka), find(kb))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = cust.map(c => c._1 -> find(c._1)).toMap
    assert(got == want, s"tau=2 ER labels diverge: " +
      s"${(got.toSet -- want.toSet).take(5)} vs ${(want.toSet -- got.toSet).take(5)}")
    // tau=2 must merge at least as aggressively as tau=1
    val n1 = graft.operators.Dedup.entityResolution(spark, sf)
      .select(col("entity_id")).distinct().count()
    assert(want.values.toSet.size <= n1,
      "tau=2 components must be no finer than tau=1")
  }

  test("split leakage: exactly the cross-boundary containment pairs, " +
    "train/test roles straight") {
    val leaks = Dedup.splitLeakage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    // independent reconstruction: containment pairs + the split nibble
    val split = graft.operators.Sampling
      .hashSplit(graft.sources.Tables.documents(spark, sf), "doc_id")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.containmentJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = (pairs.collect {
      case (a, b, c) if split(a) == "train" && split(b) == "test" =>
        (a, b, c, "train_in_test")
    } ++ pairs.collect {
      case (a, b, c) if split(a) == "test" && split(b) == "train" =>
        (b, a, c, "test_in_train")
    }).toSet
    assert(leaks.toSet === expect)
    assert(leaks.nonEmpty, "corpus should exhibit cross-split leakage")
    // roles: every train_doc is train-split, every test_doc test-split
    leaks.foreach { case (tr, te, _, _) =>
      assert(split(tr) == "train" && split(te) == "test")
    }
    // val-split docs never appear in either role
    assert(leaks.forall { case (tr, te, _, _) =>
      split(tr) != "val" && split(te) != "val" })
  }

  test("keep-best dedup: same groups as exact dedup, keeper is the " +
    "longest copy with id tiebreak, char accounting closes") {
    import org.apache.spark.sql.functions._
    val best = graft.operators.Dedup.keepBest(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("keep_id"), r.getAs[Long]("kept_chars"),
          r.getAs[Long]("n_copies"), r.getAs[Long]("dropped_chars"))).toMap
    val exact = graft.operators.Dedup.exact(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_copies")).toMap
    assert(best.keySet == exact.keySet, "policy must not change the groups")
    assert(best.view.mapValues(_._3).toMap == exact,
      "copy counts must match exact dedup")
    // driver recount of the policy over the raw table
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    docs.groupBy(_._3).foreach { case (h, rows) =>
      val keeper = rows.minBy(r => (-r._2, r._1))
      val (keepId, keptChars, _, dropped) = best(h)
      assert(keepId == keeper._1 && keptChars == keeper._2,
        s"group $h keeps $keepId, driver policy picks ${keeper._1}")
      assert(dropped == rows.map(_._2).sum - keeper._2,
        s"group $h char accounting must close")
    }
  }

  test("boilerplate grams: doc and occurrence counts recount from the " +
    "raw corpus; the top-K cut follows the declared total order") {
    import org.apache.spark.sql.functions._
    val n = 8
    val got = Dedup.boilerplateGrams(spark, sf, n, 100).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got.length <= 100)
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector)
    val all = toks.flatMap { case (id, t) =>
      if (t.length >= n) t.sliding(n).map(g => (id, g.mkString(" ")))
      else Iterator.empty
    }
    val byGram = all.groupBy(_._2).view.mapValues(v =>
      (v.map(_._1).distinct.size.toLong, v.size.toLong)).toMap
    got.foreach { case (g, nd, no) =>
      assert(byGram(g) == ((nd, no)), s"counts for '$g' disagree")
      assert(nd >= 2L, "below the repeat floor")
    }
    val expect = byGram.filter(_._2._1 >= 2L).toSeq
      .map { case (g, (nd, no)) => (g, nd, no) }
      .sortBy(t => (-t._2, t._1)).take(100)
    assert(got == expect, "top-K cut or ordering diverges from the recount")
  }

  test("fs linkage: crafted all-agree/partial pairs score the exact " +
    "cleared fraction; real-data scores recount against a naive " +
    "driver replay of the full quadratic candidate set") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Dedup
    val dirF = java.nio.file.Files.createTempDirectory("graft-fs").toString
    // k1/k2: name dist 0, same nation/segment/balance bucket -> every
    // field agrees: num = 9*24*4*19 = 16416, den = 1, match.
    // k1/k3: name dist 1, different nation, same segment, different
    // bucket -> num = 4, den = 9*24*19 = 4104, non-match.
    Seq(
      (1L, "Customer#000000001", 7, 1234.56, "BUILDING"),
      (2L, "Customer#000000001", 7, 1890.00, "BUILDING"),
      (3L, "Customer#000000011", 9, 7500.00, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.parquet(s"$dirF/customer.parquet")
    val crafted = Dedup.fsLinkage(sp, dirF).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val full = crafted((1L, 2L))
    assert(full.getLong(7) == 16416L && full.getLong(8) == 1L)
    assert(full.getInt(10) == 1, "all-agree pair clears the gate")
    val part = crafted((1L, 3L))
    assert(part.getLong(7) == 4L && part.getLong(8) == 4104L)
    assert(part.getInt(10) == 0)
    // real data: replay the naive quadratic pipeline driver-side
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val cust = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long"), col("c_acctbal"),
        col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
    val naive = (for {
      a <- cust; b <- cust
      if a._1 < b._1 && math.abs(a._2.length - b._2.length) <= 1
      d = lev(a._2, b._2) if d <= 1
    } yield {
      def bucket(x: Double) = (math.round(x * 100) + 100000000L) / 100000L
      val agrees = Seq(d == 0, a._3 == b._3, a._5 == b._5,
        bucket(a._4) == bucket(b._4))
      val num = agrees.zip(Seq(9L, 24L, 4L, 19L))
        .map { case (g, f) => if (g) f else 1L }.product
      val den = agrees.zip(Seq(9L, 24L, 4L, 19L))
        .map { case (g, f) => if (g) 1L else f }.product
      (a._1, b._1) -> ((d.toLong, num, den, num >= 100L * den))
    }).toMap
    val res = Dedup.fsLinkage(spark, sf).collect()
    assert(res.nonEmpty && res.length == naive.size,
      "deletion blocking must reproduce the full quadratic pair set")
    res.foreach { r =>
      val exp = naive((r.getLong(0), r.getLong(1)))
      assert((r.getLong(2), r.getLong(7), r.getLong(8),
        r.getInt(10) == 1) == exp,
        s"pair ${r.getLong(0)}/${r.getLong(1)}")
    }
  }

  test("dedup savings: crafted copies attribute token mass to the " +
    "contributing source; real-data figures recount from digests") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Dedup
    val dirS = java.nio.file.Files.createTempDirectory("graft-sav").toString
    // srcA contributes the original (id 1) and one copy (id 3, dropped);
    // srcB contributes one unique doc and one copy of A's text (dropped)
    Seq((1L, "alpha beta gamma", "srcA"), (2L, "delta", "srcB"),
      (3L, "alpha  beta gamma ", "srcA"), (4L, "ALPHA beta gamma", "srcB"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dirS/documents.parquet")
    val c = Dedup.dedupSavings(sp, dirS).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(c("srcA").getLong(1) == 2L && c("srcA").getLong(2) == 1L)
    assert(c("srcA").getLong(3) == 6L && c("srcA").getLong(4) == 3L)
    assert(c("srcA").getDouble(5) == 0.5,
      "half of srcA's token mass is literal copies")
    assert(c("srcB").getLong(2) == 1L && c("srcB").getLong(4) == 3L,
      "the cross-source copy is attributed to the source that sent it")
    // real data: recount from driver-side digests
    val rows = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    val keep = rows.groupBy(_._3).map { case (h, xs) =>
      h -> xs.map(_._1).min }
    val res = Dedup.dedupSavings(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val mine = rows.filter(_._2 == r.getString(0))
      val dropped = mine.filter(x => keep(x._3) != x._1)
      assert(r.getLong(1) == mine.length.toLong)
      assert(r.getLong(2) == dropped.length.toLong, s"${r.getString(0)} dups")
      assert(r.getLong(3) == mine.map(_._4).sum)
      assert(r.getLong(4) == dropped.map(_._4).sum)
    }
  }

  test("minhash accuracy audit: identical docs read a full-agreement " +
    "signature at exact Jaccard 1, disjoint docs read zero; real-data " +
    "exact sides recount from raw shingles and estimates stay in [0,k]") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Dedup
    val dirM = java.nio.file.Files.createTempDirectory("graft-mhe").toString
    Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
      .write.parquet(s"$dirM/documents.parquet")
    val rows = Dedup.minhashEstAudit(sp, dirM).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val same = rows((1L, 2L))
    assert(same.getLong(3) == 16L && same.getDouble(6) == 1.0 &&
      same.getDouble(7) == 1.0, "identical sets agree at every position")
    for (p <- Seq((1L, 3L), (2L, 3L))) {
      val r = rows(p)
      assert(r.getLong(3) == 0L && r.getLong(4) == 0L &&
        r.getDouble(7) == 0.0,
        "disjoint shingle sets share no min-hash and no mass")
    }
    // real data: the exact side recounts from raw shingle sets; the
    // estimate is bounded and exact at the J=1 diagonal cases
    val res = Dedup.minhashEstAudit(spark, sf).collect()
    assert(res.nonEmpty)
    val sets = graft.operators.Sampling.md5TopN(
      graft.sources.Tables.documents(spark, sf), "doc_id", 40)
      .select(col("doc_id"),
        split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
          .as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector)
      .filter(_._2.size >= 3)
      .map { case (id, toks) =>
        id -> toks.sliding(3).map(_.mkString(" ")).toSet }
      .toMap
    res.foreach { r =>
      val (sa, sb) = (sets(r.getLong(0)), sets(r.getLong(1)))
      assert(r.getLong(4) == (sa & sb).size.toLong, "exact intersection")
      assert(r.getLong(5) == (sa | sb).size.toLong, "exact union")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 16L)
      if (sa == sb) assert(r.getLong(3) == 16L,
        "equal sets must agree at every signature position")
    }
  }

  test("dup multiplicity: crafted histogram closes by hand; real-data " +
    "rows recount from the exact-dedup family sizes") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Dedup
    val dirD = java.nio.file.Files.createTempDirectory("graft-mult").toString
    Seq((1L, "x x", "s"), (2L, "x x", "s"), (3L, "x  x", "s"),
      (4L, "y", "s"), (5L, "y", "s"), (6L, "z", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dirD/documents.parquet")
    // whitespace normalization folds doc 3 into the x-family: k=3
    val rows = Dedup.dupMultiplicity(sp, dirD).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(1) == 1L && rows(1L).getLong(3) == 0L)
    assert(rows(2L).getLong(1) == 1L && rows(2L).getLong(3) == 1L)
    assert(rows(3L).getLong(1) == 1L && rows(3L).getLong(2) == 3L &&
      rows(3L).getLong(3) == 2L && rows(3L).getDouble(4) == 0.5)
    // real data: the histogram is exactly the count-of-counts of the
    // exact-dedup family sizes, and doc mass closes to the corpus
    val fams = Dedup.exact(spark, sf).collect()
      .map(_.getLong(2)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val real = Dedup.dupMultiplicity(spark, sf).collect()
    assert(real.map(r => r.getLong(0) -> r.getLong(1)).toMap == fams)
    assert(real.map(_.getLong(2)).sum ==
      graft.sources.Tables.documents(spark, sf).count())
  }
}
