package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Search, Similarity}
import graft.sources.{FormatIO, Tables}

/** DELTA APPEND for the five persisted index families (MinHash,
  * containment, BM25, IVF, edit) — the maintenance half of the
  * build/probe contract. Each family's parity law:
  *
  *   append(batch) ∘ build(corpus)  ≡  build(corpus ∪ batch)
  *
  * with ≡ meaning PROBE results are equal (the index is defined by what
  * probes read from it). Before these appends existed, probes were
  * O(batch) but keeping an index current was an O(corpus) full rebuild
  * per ingest wave — the one operation that could not run at 100 TB
  * cadence. Plus the file-hygiene half:
  * [[FormatIO.compactBucketedTable]] folds per-wave file accretion back
  * to one file per bucket WITHOUT changing probe results or breaking
  * the bucketed layout.
  */
class IndexAppendSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** Write the corpus split of `table` (rows with key % 3 != 0) into a
    * temp dir laid out like a testdata SF dir, so the family's builder
    * can read it; return (corpusDir, batchDf). The batch is the
    * complement, so corpus ∪ batch == the full sf table and the
    * full-build reference can read `sf` directly. */
  private def splitDir(table: String, keyCol: String): (String, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-app-$table").toString
    val full = Tables.load(spark, sf, table)
    full.filter(pmod(col(keyCol), lit(3)) =!= 0)
      .write.parquet(s"$dir/$table.parquet")
    (dir, full.filter(pmod(col(keyCol), lit(3)) === 0))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A retried delete changes nothing: `index` holds exactly one
    * tombstone per deleted id, and `retried` (probe rows after the
    * retry) equals `once` (the same probe after the single delete). */
  private def assertRetryNoOp(index: String, ids: DataFrame,
      once: Seq[String], retried: Seq[String]): Unit = {
    assert(rows(spark.table(s"${index}_tombstones").drop("epoch")) ==
      rows(ids.distinct()),
      s"$index: a retried delete must leave one tombstone per deleted id")
    assert(retried == once, s"$index: a retried delete must not change probes")
  }

  test("minhash append: append∘build == build(union), probe-equal; " +
    "compaction folds the appended files without changing probes") {
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    Dedup.buildMinhashIndex(spark, corpusDir, "mh_app_inc", nBuckets = 4)
    Dedup.appendToMinhashIndex(spark, "mh_app_inc",
      batch.select(col("doc_id"), col("text")))
    Dedup.buildMinhashIndex(spark, sf, "mh_app_full", nBuckets = 4)
    val probes = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(60).localCheckpoint()
    val inc = rows(Dedup.probeMinhashIndex(spark, "mh_app_inc", probes))
    val full = rows(Dedup.probeMinhashIndex(spark, "mh_app_full", probes))
    assert(inc.nonEmpty, "probe must find candidates on this corpus")
    assert(inc == full, "append∘build must be probe-equal to build(union)")
    // the appended wave accreted files; compaction folds them back to
    // one per bucket, probes unchanged, layout still bucketed
    val stats = FormatIO.compactBucketedTable(spark, "mh_app_inc_bands")
    assert(stats.filesAfter < stats.filesBefore,
      s"compaction must reduce the appended file count, got $stats")
    val compacted = Dedup.probeMinhashIndex(spark, "mh_app_inc", probes)
    assert(rows(compacted) == full, "compaction must not change probe results")
    val formatted = compacted.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("Bucketed: true"),
      s"compacted index must still read bucketed:\n$formatted")
  }

  test("containment append: probe-equal to build(union) — including the " +
    "log-structured df relation's merge-on-read") {
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    Dedup.buildContainmentIndex(spark, corpusDir, "cont_app_inc", nBuckets = 4)
    Dedup.appendToContainmentIndex(spark, "cont_app_inc",
      batch.select(col("doc_id"), col("text")))
    Dedup.buildContainmentIndex(spark, sf, "cont_app_full", nBuckets = 4)
    val probes = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(80).localCheckpoint()
    val inc = rows(Dedup.probeContainmentIndex(spark, "cont_app_inc", probes))
    val full = rows(Dedup.probeContainmentIndex(spark, "cont_app_full", probes))
    assert(full.nonEmpty, "probe must find containments on this corpus")
    assert(inc == full, "append∘build must be probe-equal to build(union)")
    // the df relation really is segmented (build segment + append
    // segment), and the merged sums equal the full build's one-shot df
    assert(spark.table("cont_app_inc_df").select(col("tok")).distinct().count()
      == spark.table("cont_app_full_df").count(),
      "merged df vocabulary must equal the one-shot build's")
  }

  test("bm25 append: probe-equal to build(union) — postings, norms and " +
    "the mergeable (count, sum_dl) stats segments") {
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    Search.buildSearchIndex(spark, corpusDir, "srch_app_inc", nBuckets = 4)
    Search.appendToSearchIndex(spark, "srch_app_inc",
      batch.select(col("doc_id"), col("text")))
    Search.buildSearchIndex(spark, sf, "srch_app_full", nBuckets = 4)
    val inc = rows(Search.probeSearchIndex(spark, "srch_app_inc"))
    val full = rows(Search.probeSearchIndex(spark, "srch_app_full"))
    assert(full.nonEmpty)
    assert(inc == full, "append∘build must be probe-equal to build(union)")
    import spark.implicits._
    val queries = Seq((1L, "data"), (1L, "model"), (2L, "table"), (2L, "join"))
      .toDF("query_id", "tok")
    assert(rows(Search.probeSearchIndexMany(spark, "srch_app_inc", queries))
      == rows(Search.probeSearchIndexMany(spark, "srch_app_full", queries)),
      "multi-query probe must agree too")
    assert(spark.table("srch_app_inc_stats").count() == 2L,
      "stats must be two log segments (build + append), merged on read")
  }

  test("edit append: probe-equal to build(union); build params persist " +
    "in _meta and fence an over-tau probe loudly") {
    val (corpusDir, batch) = splitDir("customer", "c_custkey")
    Dedup.buildEditIndex(spark, corpusDir, "edit_app_inc", nBuckets = 4)
    Dedup.appendToEditIndex(spark, "edit_app_inc",
      batch.select(col("c_custkey").as("key"), col("c_name").as("name")))
    Dedup.buildEditIndex(spark, sf, "edit_app_full", nBuckets = 4)
    val probes = Tables.customer(spark, sf)
      .select(col("c_custkey").as("probe_key"), col("c_name").as("probe_name"))
      .localCheckpoint()
    val inc = rows(Dedup.probeEditIndex(spark, "edit_app_inc", probes))
    val full = rows(Dedup.probeEditIndex(spark, "edit_app_full", probes))
    assert(full.nonEmpty, "self-probe must find within-1-edit neighbors")
    assert(inc == full, "append∘build must be probe-equal to build(union)")
    // probing above the build tau must fail LOUDLY (silent recall loss
    // otherwise: SymSpell completeness needs tau deletions on BOTH sides)
    val err = intercept[IllegalArgumentException] {
      Dedup.probeEditIndex(spark, "edit_app_inc", probes, tau = 2)
    }
    assert(err.getMessage.contains("build tau"))
    // a SMALLER probe tau is sound: tau=1 probe of a tau=2-built index
    // equals the tau=1-built index's probe (the completeness argument,
    // measured)
    Dedup.buildEditIndex(spark, sf, "edit_app_t2", nBuckets = 4, tau = 2,
      maxKeyLen = 64)
    assert(rows(Dedup.probeEditIndex(spark, "edit_app_t2", probes, tau = 1))
      == full, "tau=1 probe must be invariant to the index's larger build tau")
  }

  test("ivf append: frozen-codebook append is probe-equal to a " +
    "pinned-centroid rebuild over the union") {
    val (corpusDir, _) = splitDir("embeddings", "vec_id")
    val batch = Tables.embeddings(spark, sf)
      .filter(pmod(col("vec_id"), lit(3)) === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Similarity.buildIvfIndex(spark, corpusDir, "ivf_app_inc", nBuckets = 4)
    // the reference: same UNION of vectors, centroids PINNED to the
    // corpus-trained codebook (append never retrains — that's a rebuild)
    Similarity.buildIvfIndex(spark, sf, "ivf_app_ref", nBuckets = 4,
      centroidSource = Some("ivf_app_inc"))
    Similarity.appendToIvfIndex(spark, "ivf_app_inc", batch)
    val queries = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50).localCheckpoint()
    val inc = rows(Similarity.probeIvfIndexOn(spark, "ivf_app_inc", queries))
    val ref = rows(Similarity.probeIvfIndexOn(spark, "ivf_app_ref", queries))
    assert(ref.nonEmpty)
    assert(inc == ref,
      "append∘build must be probe-equal to the pinned-centroid rebuild")
  }

  test("winnow index: probing its own corpus reproduces winnowCandidates " +
    "symmetrized, with the df cap applied from _meta") {
    import graft.operators.TextAnalysis
    TextAnalysis.buildWinnowIndex(spark, sf, "wn_self_idx", nBuckets = 4)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val probed = TextAnalysis.probeWinnowIndex(spark, "wn_self_idx", docs)
    // every directed pair appears in both directions, equal strength
    val asMap = probed.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(asMap.nonEmpty)
    asMap.foreach { case ((a, b), n) =>
      assert(asMap.get((b, a)).contains(n), s"pair ($a,$b) not symmetric")
    }
    val sym = rows(probed.filter(col("doc_id") < col("idx_doc"))
      .select(col("doc_id").as("doc_a"), col("idx_doc").as("doc_b"),
        col("n_shared")))
    val direct = rows(TextAnalysis.winnowCandidates(spark, sf))
    assert(sym == direct,
      "self-probe must reproduce the batch candidate operator")
  }

  test("winnow append: append∘build == build(union), probe-equal " +
    "including the log-structured fp-df merge; compaction preserves " +
    "probes and the bucketed read") {
    import graft.operators.TextAnalysis
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    TextAnalysis.buildWinnowIndex(spark, corpusDir, "wn_app_inc", nBuckets = 4)
    TextAnalysis.appendToWinnowIndex(spark, "wn_app_inc",
      batch.select(col("doc_id"), col("text")))
    TextAnalysis.buildWinnowIndex(spark, sf, "wn_app_full", nBuckets = 4)
    val probes = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(80).localCheckpoint()
    val inc = rows(TextAnalysis.probeWinnowIndex(spark, "wn_app_inc", probes))
    val full = rows(TextAnalysis.probeWinnowIndex(spark, "wn_app_full", probes))
    assert(inc.nonEmpty, "probe must find shared-fingerprint pairs")
    assert(inc == full, "append∘build must be probe-equal to build(union)")
    val stats = FormatIO.compactBucketedTable(spark, "wn_app_inc_fps")
    assert(stats.filesAfter < stats.filesBefore,
      s"compaction must reduce the appended file count, got $stats")
    val compacted = TextAnalysis.probeWinnowIndex(spark, "wn_app_inc", probes)
    assert(rows(compacted) == full, "compaction must not change probe results")
    val formatted = compacted.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("Bucketed: true"),
      s"compacted index must still read bucketed:\n$formatted")
  }

  test("phash index (8th family): self-probe reproduces phashDupOn; " +
    "append∘build == build(union) probe-equal; a staged-uncommitted " +
    "append is invisible to a pinned probe; tombstones erase pairs") {
    import graft.operators.Multimodal
    val (corpusDir, batchDocs) = splitDir("documents", "doc_id")
    val allHashes = Multimodal.mediaPhash(spark, sf).localCheckpoint()
    // self-probe law: probing the full index with its own corpus ==
    // phashDupOn over the same hashes (symmetrized both ways already
    // by least/greatest vs doc_a < doc_b)
    Multimodal.buildPhashIndex(spark, sf, "ph_full", nBuckets = 4)
    val selfProbe = rows(Multimodal.probePhashIndex(spark, "ph_full",
      allHashes))
    val direct = rows(Multimodal.phashDupOn(allHashes, 3))
    assert(selfProbe.nonEmpty, "this corpus holds exact-dup payloads")
    assert(selfProbe == direct,
      "self-probe must reproduce the per-query band join")
    // append parity: build(corpus) + append(batch) probe-equal to
    // build(corpus ∪ batch)
    Multimodal.buildPhashIndex(spark, corpusDir, "ph_inc", nBuckets = 4)
    Multimodal.appendToPhashIndex(spark, "ph_inc",
      Multimodal.mediaPhashOf(spark,
        batchDocs.select(col("doc_id"), col("text"))))
    // the probe set always contains srcId, whose phash the phantom
    // below clones — so the committed phantom is guaranteed to pair
    val srcId = allHashes.select(min(col("doc_id"))).head().getLong(0)
    val probes = allHashes.filter(col("doc_id") === srcId)
      .unionByName(allHashes.limit(80)).distinct().localCheckpoint()
    val inc = rows(Multimodal.probePhashIndex(spark, "ph_inc", probes))
    val full = rows(Multimodal.probePhashIndex(spark, "ph_full", probes))
    assert(inc == full, "append∘build must be probe-equal to build(union)")
    // epoch pin: a staged-but-uncommitted append wave (clone of srcId's
    // bands under a phantom id) changes no probe result
    val before = rows(Multimodal.probePhashIndex(spark, "ph_full", probes))
    val e = FormatIO.stageIndexEpoch(spark, "ph_full", Seq("ph_full_bands"))
    FormatIO.appendBucketed(spark,
      spark.table("ph_full_bands").drop("epoch")
        .filter(col("doc_id") === srcId)
        .withColumn("doc_id", lit(-999L)).withColumn("epoch", lit(e)),
      "ph_full_bands")
    val torn = rows(Multimodal.probePhashIndex(spark, "ph_full", probes))
    assert(torn == before,
      "a staged-uncommitted wave must be invisible to pinned probes")
    FormatIO.commitIndexEpoch(spark, "ph_full", e)
    assert(rows(Multimodal.probePhashIndex(spark, "ph_full", probes))
      != before, "the committed wave IS visible (phantom twin pairs)")
    // tombstone delete: the phantom vanishes from probe results at once
    val sp2 = spark
    import sp2.implicits._
    Multimodal.deleteFromPhashIndex(spark, "ph_full",
      Seq(-999L).toDF("doc_id"))
    val afterDel = rows(Multimodal.probePhashIndex(spark, "ph_full", probes))
    assert(afterDel == before, "tombstoned doc must vanish from pairs")
    Multimodal.deleteFromPhashIndex(spark, "ph_full",
      Seq(-999L).toDF("doc_id")) // retry
    assertRetryNoOp("ph_full", Seq(-999L).toDF("doc_id"), afterDel,
      rows(Multimodal.probePhashIndex(spark, "ph_full", probes)))
    // physical purge preserves probe results and the bucketed layout
    Multimodal.purgePhashTombstones(spark, "ph_full")
    assert(rows(Multimodal.probePhashIndex(spark, "ph_full", probes))
      == before)
    assert(spark.table("ph_full_bands")
      .filter(col("doc_id") === -999L).count() == 0L,
      "purge erases the tombstoned rows physically")
  }

  test("tombstone deletion: delete∘build is probe-equal to building on " +
    "the reduced corpus (minhash + winnow incl. the negative-df " +
    "segment, idempotent retry); purge erases the bytes, probes and " +
    "the collapsed df unchanged") {
    import graft.operators.TextAnalysis
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    val delIds = batch.select(col("doc_id")).localCheckpoint()
    val probes = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(60).localCheckpoint()

    // ---- minhash: logical delete == reduced rebuild, for both faces
    Dedup.buildMinhashIndex(spark, sf, "mh_del_full", nBuckets = 4)
    val preDelete = rows(Dedup.probeMinhashIndex(spark, "mh_del_full", probes))
    Dedup.deleteFromMinhashIndex(spark, "mh_del_full", delIds)
    val mhOnce = rows(Dedup.probeMinhashIndex(spark, "mh_del_full", probes))
    Dedup.deleteFromMinhashIndex(spark, "mh_del_full", delIds) // retry
    assertRetryNoOp("mh_del_full", delIds, mhOnce,
      rows(Dedup.probeMinhashIndex(spark, "mh_del_full", probes)))
    Dedup.buildMinhashIndex(spark, corpusDir, "mh_del_ref", nBuckets = 4)
    val del = rows(Dedup.probeMinhashIndex(spark, "mh_del_full", probes))
    assert(del == rows(Dedup.probeMinhashIndex(spark, "mh_del_ref", probes)),
      "band probe after delete must equal the reduced rebuild")
    assert(rows(Dedup.probeExactIndex(spark, "mh_del_full", probes)) ==
      rows(Dedup.probeExactIndex(spark, "mh_del_ref", probes)),
      "digest probe after delete must equal the reduced rebuild")
    assert(del != preDelete, "deletion must visibly change probe results")
    // physical purge: probes unchanged, bytes gone, tombstones reset
    Dedup.purgeMinhashTombstones(spark, "mh_del_full")
    assert(rows(Dedup.probeMinhashIndex(spark, "mh_del_full", probes)) == del,
      "purge must not change probe results")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    val liveBands = spark.table("mh_del_full_bands")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(liveBands.intersect(delSet).isEmpty, "purge must erase the rows")
    assert(spark.table("mh_del_full_tombstones").count() == 0L)

    // ---- winnow: delete carries a negative df segment derived from
    // the index's own postings (no source text needed); retry is a no-op
    TextAnalysis.buildWinnowIndex(spark, sf, "wn_del_full", nBuckets = 4)
    TextAnalysis.deleteFromWinnowIndex(spark, "wn_del_full", delIds)
    val wnOnce = rows(TextAnalysis.probeWinnowIndex(spark, "wn_del_full", probes))
    TextAnalysis.deleteFromWinnowIndex(spark, "wn_del_full", delIds) // retry
    assertRetryNoOp("wn_del_full", delIds, wnOnce,
      rows(TextAnalysis.probeWinnowIndex(spark, "wn_del_full", probes)))
    TextAnalysis.buildWinnowIndex(spark, corpusDir, "wn_del_ref", nBuckets = 4)
    val wDel = rows(TextAnalysis.probeWinnowIndex(spark, "wn_del_full", probes))
    assert(wDel ==
      rows(TextAnalysis.probeWinnowIndex(spark, "wn_del_ref", probes)),
      "winnow probe after delete must equal the reduced rebuild")
    def dfMap(table: String) = spark.table(table)
      .groupBy(col("fp")).agg(sum(col("df")).as("df")).filter(col("df") =!= 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfMap("wn_del_full_fpdf") == dfMap("wn_del_ref_fpdf"),
      "merged df after delete must equal the reduced rebuild's df exactly")
    TextAnalysis.purgeWinnowTombstones(spark, "wn_del_full")
    assert(rows(TextAnalysis.probeWinnowIndex(spark, "wn_del_full", probes))
      == wDel, "winnow purge must not change probe results")
    assert(dfMap("wn_del_full_fpdf") == dfMap("wn_del_ref_fpdf"),
      "the df collapse must reproduce the reduced rebuild's relation")
    val liveFps = spark.table("wn_del_full_fps")
      .select(col("idx_doc")).distinct().collect().map(_.getLong(0)).toSet
    assert(liveFps.intersect(delSet).isEmpty, "purge must erase fp rows")
    assert(spark.table("wn_del_full_tombstones").count() == 0L)
  }

  test("tombstone deletion across the remaining families — containment " +
    "(both directions + exact df mass), BM25 (live-counted df + " +
    "negative moments), edit, IVF (frozen codebook) — probe-equal to " +
    "the reduced rebuild; purges probe-invariant") {
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    val delIds = batch.select(col("doc_id")).localCheckpoint()
    val probes = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(60).localCheckpoint()

    // ---- containment
    Dedup.buildContainmentIndex(spark, sf, "cont_del_full", nBuckets = 4)
    Dedup.deleteFromContainmentIndex(spark, "cont_del_full", delIds)
    val contOnce = rows(Dedup.probeContainmentBoth(spark, "cont_del_full",
      probes))
    Dedup.deleteFromContainmentIndex(spark, "cont_del_full", delIds) // retry
    assertRetryNoOp("cont_del_full", delIds, contOnce,
      rows(Dedup.probeContainmentBoth(spark, "cont_del_full", probes)))
    Dedup.buildContainmentIndex(spark, corpusDir, "cont_del_ref", nBuckets = 4)
    assert(rows(Dedup.probeContainmentIndex(spark, "cont_del_full", probes))
      == rows(Dedup.probeContainmentIndex(spark, "cont_del_ref", probes)),
      "containment forward probe after delete must equal reduced rebuild")
    val bothRef = rows(Dedup.probeContainmentBoth(spark, "cont_del_ref",
      probes))
    assert(rows(Dedup.probeContainmentBoth(spark, "cont_del_full", probes))
      == bothRef, "bidirectional probe after delete must equal rebuild")
    def dfm(t: String) = spark.table(t)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
      .filter(col("df") =!= 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfm("cont_del_full_df") == dfm("cont_del_ref_df"),
      "merged containment df must equal the reduced rebuild's exactly")
    Dedup.purgeContainmentTombstones(spark, "cont_del_full")
    assert(rows(Dedup.probeContainmentBoth(spark, "cont_del_full", probes))
      == bothRef, "containment purge must not change probes")
    assert(dfm("cont_del_full_df") == dfm("cont_del_ref_df"),
      "purged df collapse must reproduce the reduced rebuild's relation")

    // ---- BM25: df is COUNTED from live postings, avgdl merges the
    // negative moment segment (whole-number doubles: exact arithmetic)
    Search.buildSearchIndex(spark, sf, "srch_del_full", nBuckets = 4)
    Search.deleteFromSearchIndex(spark, "srch_del_full", delIds)
    val srchOnce = rows(Search.probeSearchIndex(spark, "srch_del_full"))
    Search.deleteFromSearchIndex(spark, "srch_del_full", delIds) // retry
    assertRetryNoOp("srch_del_full", delIds, srchOnce,
      rows(Search.probeSearchIndex(spark, "srch_del_full")))
    Search.buildSearchIndex(spark, corpusDir, "srch_del_ref", nBuckets = 4)
    assert(rows(Search.probeSearchIndex(spark, "srch_del_full"))
      == rows(Search.probeSearchIndex(spark, "srch_del_ref")),
      "BM25 probe after delete must equal the reduced rebuild")
    import spark.implicits._
    val qs = Seq((1L, "data"), (1L, "spark"), (2L, "model"))
      .toDF("query_id", "tok")
    assert(rows(Search.probeSearchIndexMany(spark, "srch_del_full", qs))
      == rows(Search.probeSearchIndexMany(spark, "srch_del_ref", qs)),
      "batched BM25 probe after delete must equal the reduced rebuild")
    Search.purgeSearchTombstones(spark, "srch_del_full")
    assert(rows(Search.probeSearchIndex(spark, "srch_del_full"))
      == rows(Search.probeSearchIndex(spark, "srch_del_ref")),
      "BM25 purge must not change probes")

    // ---- edit
    val (custDir, custBatch) = splitDir("customer", "c_custkey")
    Dedup.buildEditIndex(spark, sf, "edit_del_full", nBuckets = 4)
    val eProbes = Tables.customer(spark, sf)
      .select(col("c_custkey").as("probe_key"), col("c_name").as("probe_name"))
      .localCheckpoint()
    val delKeys = custBatch.select(col("c_custkey").as("index_key"))
      .localCheckpoint()
    Dedup.deleteFromEditIndex(spark, "edit_del_full", delKeys)
    val editOnce = rows(Dedup.probeEditIndex(spark, "edit_del_full", eProbes))
    Dedup.deleteFromEditIndex(spark, "edit_del_full", delKeys) // retry
    assertRetryNoOp("edit_del_full", delKeys, editOnce,
      rows(Dedup.probeEditIndex(spark, "edit_del_full", eProbes)))
    Dedup.buildEditIndex(spark, custDir, "edit_del_ref", nBuckets = 4)
    val eRef = rows(Dedup.probeEditIndex(spark, "edit_del_ref", eProbes))
    assert(rows(Dedup.probeEditIndex(spark, "edit_del_full", eProbes))
      == eRef, "edit probe after delete must equal the reduced rebuild")
    Dedup.purgeEditTombstones(spark, "edit_del_full")
    assert(rows(Dedup.probeEditIndex(spark, "edit_del_full", eProbes))
      == eRef, "edit purge must not change probes")

    // ---- IVF: reference pins the FULL corpus codebook (deletion never
    // retrains — retraining is by definition a rebuild)
    val (embDir, embBatch) = splitDir("embeddings", "vec_id")
    Similarity.buildIvfIndex(spark, sf, "ivf_del_full", nBuckets = 4)
    val queries = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50).localCheckpoint()
    val delVecs = embBatch.select(col("vec_id")).localCheckpoint()
    Similarity.deleteFromIvfIndex(spark, "ivf_del_full", delVecs)
    val ivfOnce = rows(Similarity.probeIvfIndexOn(spark, "ivf_del_full",
      queries))
    Similarity.deleteFromIvfIndex(spark, "ivf_del_full", delVecs) // retry
    assertRetryNoOp("ivf_del_full", delVecs, ivfOnce,
      rows(Similarity.probeIvfIndexOn(spark, "ivf_del_full", queries)))
    Similarity.buildIvfIndex(spark, embDir, "ivf_del_ref", nBuckets = 4,
      centroidSource = Some("ivf_del_full"))
    val vRef = rows(Similarity.probeIvfIndexOn(spark, "ivf_del_ref", queries))
    assert(rows(Similarity.probeIvfIndexOn(spark, "ivf_del_full", queries))
      == vRef, "IVF probe after delete must equal the pinned rebuild")
    Similarity.purgeIvfTombstones(spark, "ivf_del_full")
    assert(rows(Similarity.probeIvfIndexOn(spark, "ivf_del_full", queries))
      == vRef, "IVF purge must not change probes")
  }

  test("compactBucketedTable refuses unbucketed tables; concurrent " +
    "compact() fails loudly on the lock") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").saveAsTable("plain_tbl")
    val err = intercept[IllegalArgumentException] {
      FormatIO.compactBucketedTable(spark, "plain_tbl")
    }
    assert(err.getMessage.contains("bucket"))
    // directory-compaction single-writer guard: a held lock makes a
    // second compact fail loudly instead of corrupting the swap
    val dir = java.nio.file.Files.createTempDirectory("graft-lock").toString
    val tbl = s"$dir/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(tbl)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(tbl + ".compact-lock"), false).close()
    val lockErr = intercept[IllegalStateException] {
      FormatIO.compact(spark, tbl)
    }
    assert(lockErr.getMessage.contains("compact-lock"))
    fs.delete(new org.apache.hadoop.fs.Path(tbl + ".compact-lock"), false)
    // with the lock released the same compact succeeds
    assert(FormatIO.compact(spark, tbl, targetBytes = Long.MaxValue)
      .filesAfter >= 1L)
  }

  test("lm index: probe of the held-out split against an even-id build " +
    "reproduces backoffLevels; append/delete/purge keep the seventh " +
    "family on the shared lifecycle contract") {
    import graft.operators.TextAnalysis
    // ---- parity with the live operator: build on the even ids (the
    // operator's internal train split), probe the odd ids
    val all = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val evenDir = java.nio.file.Files
      .createTempDirectory("graft-lm-even").toString
    all.filter(pmod(col("doc_id"), lit(2)) === 0)
      .write.parquet(s"$evenDir/documents.parquet")
    TextAnalysis.buildLmIndex(spark, evenDir, "lm_par_idx", nBuckets = 4)
    val odd = all.filter(pmod(col("doc_id"), lit(2)) === 1)
    val probed = rows(TextAnalysis.probeLmIndex(spark, "lm_par_idx", odd))
    val direct = rows(TextAnalysis.backoffLevelsOn(all))
    assert(probed.nonEmpty)
    assert(probed == direct,
      "index probe must reproduce the inline train-split operator")

    // ---- append∘build == build(union), probe-equal
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    TextAnalysis.buildLmIndex(spark, corpusDir, "lm_app_inc", nBuckets = 4)
    TextAnalysis.appendToLmIndex(spark, "lm_app_inc",
      batch.select(col("doc_id"), col("text")))
    TextAnalysis.buildLmIndex(spark, sf, "lm_app_full", nBuckets = 4)
    val probes = all.limit(80).localCheckpoint()
    val inc = rows(TextAnalysis.probeLmIndex(spark, "lm_app_inc", probes))
    val full = rows(TextAnalysis.probeLmIndex(spark, "lm_app_full", probes))
    assert(inc.nonEmpty)
    assert(inc == full, "append∘build must be probe-equal to build(union)")
    assert(spark.table("lm_app_inc_gramdf")
      .select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .count() > 1L, "df must be log segments, merged on read")

    // ---- delete == reduced rebuild (negative df segments from the
    // index's own postings); retry no-op; purge probe-invariant with
    // the bytes verifiably gone
    val delIds = batch.select(col("doc_id")).localCheckpoint()
    val preDelete = rows(TextAnalysis.probeLmIndex(spark, "lm_app_full", probes))
    TextAnalysis.deleteFromLmIndex(spark, "lm_app_full", delIds)
    val del = rows(TextAnalysis.probeLmIndex(spark, "lm_app_full", probes))
    assert(del != preDelete, "deletion must visibly change probe results")
    TextAnalysis.buildLmIndex(spark, corpusDir, "lm_del_ref", nBuckets = 4)
    assert(del == rows(TextAnalysis.probeLmIndex(spark, "lm_del_ref", probes)),
      "probe after delete must equal the reduced rebuild")
    TextAnalysis.deleteFromLmIndex(spark, "lm_app_full", delIds) // retry
    assert(rows(TextAnalysis.probeLmIndex(spark, "lm_app_full", probes)) == del,
      "retried delete must be a no-op (no double subtraction)")
    assertRetryNoOp("lm_app_full", delIds, del,
      rows(TextAnalysis.probeLmIndex(spark, "lm_app_full", probes)))
    TextAnalysis.purgeLmTombstones(spark, "lm_app_full")
    assert(rows(TextAnalysis.probeLmIndex(spark, "lm_app_full", probes)) == del,
      "purge must not change probe results")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    val livePosts = spark.table("lm_app_full_postings")
      .select(col("idx_doc")).distinct().collect().map(_.getLong(0)).toSet
    assert(livePosts.intersect(delSet).isEmpty, "purge must erase the rows")
    assert(spark.table("lm_app_full_tombstones").count() == 0L)
  }

  test("cms sketch: append∘build is CELL-equal to build(union) — the " +
    "additive law — and probe estimates dominate true counts") {
    import graft.operators.TextAnalysis
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    TextAnalysis.buildCmsSketch(spark, corpusDir, "cms_inc")
    TextAnalysis.appendToCmsSketch(spark, "cms_inc",
      batch.select(col("doc_id"), col("text")))
    TextAnalysis.buildCmsSketch(spark, sf, "cms_full")
    def cells(t: String) = spark.table(t)
      .groupBy(col("j"), col("b")).agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val inc = cells("cms_inc_segments")
    assert(inc.nonEmpty)
    assert(inc == cells("cms_full_segments"),
      "counters of a union must equal the per-part counter sums")
    assert(spark.table("cms_inc_segments")
      .select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .count() > 1L, "append must be a new log segment, not a rewrite")
    // probe: min over merged rows, one-sided vs the true counts
    val toks = Tables.documents(spark, sf)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val sample = toks.distinct().limit(50).localCheckpoint()
    val est = TextAnalysis.probeCmsSketch(spark, "cms_inc", sample)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = toks.groupBy(col("tok")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    est.foreach { case (t, e) =>
      assert(e >= truth(t), s"estimate for '$t' must dominate")
    }
  }

  test("cms compact: folding the segment log to one segment preserves " +
    "every cell and every probe estimate") {
    import graft.operators.TextAnalysis
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    TextAnalysis.buildCmsSketch(spark, corpusDir, "cms_cpt")
    TextAnalysis.appendToCmsSketch(spark, "cms_cpt",
      batch.select(col("doc_id"), col("text")))
    def cells() = spark.table("cms_cpt_segments")
      .groupBy(col("j"), col("b")).agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val probes = Tables.documents(spark, sf)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .distinct().limit(40).localCheckpoint()
    def est() = TextAnalysis.probeCmsSketch(spark, "cms_cpt", probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
    val (cellsBefore, estBefore) = (cells(), est())
    assert(spark.table("cms_cpt_segments").count() > cellsBefore.size.toLong,
      "the appended log must carry more rows than live cells pre-compact")
    TextAnalysis.compactCmsSketch(spark, "cms_cpt")
    assert(spark.table("cms_cpt_segments").count() == cellsBefore.size.toLong,
      "post-compact the log is exactly one row per live cell")
    assert(cells() == cellsBefore, "compaction must preserve every cell")
    assert(est() == estBefore, "compaction must preserve every estimate")
  }

  test("positional index (9th family): phrase probe reproduces the " +
    "row-local scan; append∘build == build(union); staged wave " +
    "invisible until commit; tombstone + purge erase a doc's matches") {
    val phrase = Search.DefaultPhrase
    // probe ≡ scan law: the index answers exactly what the zero-shuffle
    // per-doc array scan answers (positions, counts, and doc set)
    Search.buildPositionalIndex(spark, sf, "pos_full", nBuckets = 4)
    val direct = rows(Search.phraseMatchesOn(
      Tables.documents(spark, sf), phrase))
    val probe = rows(Search.phraseProbe(spark, "pos_full", phrase))
    assert(direct.nonEmpty, "the corpus holds phrase occurrences")
    assert(probe == direct, "phrase probe must equal the row-local scan")
    // a longer phrase (3 tokens, k-1 = 2 position joins) agrees too
    val doc = Tables.documents(spark, sf)
      .filter(col("doc_id") === direct.head
        .stripPrefix("[").takeWhile(_ != ',').toLong)
      .select("text").head().getString(0)
    val toks = doc.trim.toLowerCase.split("\\s+")
    val at = toks.indices.dropRight(2).find(i =>
      toks(i) == phrase.head && toks(i + 1) == phrase(1)).get
    val tri = Seq(toks(at), toks(at + 1), toks(at + 2))
    assert(rows(Search.phraseProbe(spark, "pos_full", tri)) ==
      rows(Search.phraseMatchesOn(Tables.documents(spark, sf), tri)),
      "3-token phrase probe must equal the scan")
    // append parity
    val (corpusDir, batch) = splitDir("documents", "doc_id")
    Search.buildPositionalIndex(spark, corpusDir, "pos_inc", nBuckets = 4)
    Search.appendToPositionalIndex(spark, "pos_inc",
      batch.select(col("doc_id"), col("text")))
    assert(rows(Search.phraseProbe(spark, "pos_inc", phrase)) == probe,
      "append∘build must be probe-equal to build(union)")
    // epoch pin: a staged-uncommitted append (a synthetic doc made of
    // the phrase itself) changes no probe result until commit
    val sp2 = spark
    import sp2.implicits._
    val phantom = Seq((-999L, phrase.mkString(" "))).toDF("doc_id", "text")
    val e = FormatIO.stageIndexEpoch(spark, "pos_full",
      Seq("pos_full_postings"))
    FormatIO.appendBucketed(spark,
      phantom.select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+"))
            .as(Seq("p0", "tok")))
        .select(col("doc_id"), col("tok"),
          (col("p0") + 1).cast("long").as("pos"))
        .withColumn("epoch", lit(e)),
      "pos_full_postings")
    assert(rows(Search.phraseProbe(spark, "pos_full", phrase)) == probe,
      "a staged-uncommitted wave must be invisible to pinned probes")
    FormatIO.commitIndexEpoch(spark, "pos_full", e)
    val withPhantom = rows(Search.phraseProbe(spark, "pos_full", phrase))
    assert(withPhantom.size == probe.size + 1,
      "the committed phantom doc matches the phrase once")
    // tombstone delete: the phantom vanishes immediately
    Search.deleteFromPositionalIndex(spark, "pos_full",
      Seq(-999L).toDF("doc_id"))
    assert(rows(Search.phraseProbe(spark, "pos_full", phrase)) == probe,
      "tombstoned doc must vanish from matches")
    Search.deleteFromPositionalIndex(spark, "pos_full",
      Seq(-999L).toDF("doc_id")) // retry
    assertRetryNoOp("pos_full", Seq(-999L).toDF("doc_id"), probe,
      rows(Search.phraseProbe(spark, "pos_full", phrase)))
    // physical purge preserves probe results and erases the rows
    Search.purgePositionalTombstones(spark, "pos_full")
    assert(rows(Search.phraseProbe(spark, "pos_full", phrase)) == probe)
    assert(spark.table("pos_full_postings")
      .filter(col("doc_id") === -999L).count() == 0L,
      "purge erases the tombstoned postings physically")
  }
}
