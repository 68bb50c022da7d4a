package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.HashExpressions.normToks
import graft.sources.Tables

/** Distributed SUFFIX RANKING by prefix doubling, and the exact
  * variable-length duplicate-span extraction it enables (the
  * suffix-array half of Lee et al. 2022 "Deduplicating Training Data
  * Makes Language Models Better" — the exact-substring method the
  * fixed-gram signals `Dedup.dupSpans`/`Dedup.segmentDedup`
  * approximate).
  *
  * The corpus is the set of per-document token suffixes (each suffix
  * ends at its OWN document's end — the per-doc terminator is "end of
  * tokens", ranked below every real token, so suffixes never run
  * across documents). Prefix doubling (Manber & Myers 1990, the
  * sort-based formulation used by every distributed suffix-array
  * builder): after step k each suffix carries a DENSE rank that
  * orders suffixes by their first 2^k tokens; step k+1 re-ranks by
  * the pair (rank(p), rank(p + 2^k)) — log(maxLen) keyed sorts over
  * integer pairs, never token strings. At 100 TB that is the whole
  * point: every round shuffles fixed-width longs, and the sorts are
  * Spark's range-partitioned exchange — no single-partition window
  * anywhere.
  */
object Suffix {

  /** Default minimal duplicated-window length in tokens — the ONE
    * constant both the Scala operators ([[suffixSpans]]/[[spanClip]])
    * and their GENERATED DuckDB oracles ([[spanOracleSql]]/
    * [[clipOracleSql]]) derive from, so the two sides cannot drift
    * (the fdAudit shared-constant pattern, Profiling.scala). */
  val SpanMinLen = 8

  /** Dense 1-based lexicographic ids for the distinct values of
    * `keys`' columns: distinct → range-partitioned sort → RDD
    * zipWithIndex (order-preserving, two light jobs — the standard
    * distributed dense_rank; a Window.orderBy would pull the whole
    * key space into ONE partition). Linear in |distinct keys|.
    *
    * The sorted RDD is PERSISTED across zipWithIndex's size job and
    * the caller's join — without it every downstream action re-runs
    * the distinct + range sort (zipWithIndex's partition-size pass
    * does not retain its input), doubling each doubling round's sort
    * mass. The caller unpersists the returned handle once its join
    * has materialized. */
  private def denseIds(keys: DataFrame, outCol: String)
      : (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
    val cols = keys.columns.map(col).toIndexedSeq
    val sorted = keys.distinct().orderBy(cols: _*)
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val schema = sorted.schema.add(outCol, LongType, nullable = false)
    (sorted.sparkSession.createDataFrame(
      rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (i + 1L))
      }, schema), rdd)
  }

  /** (doc_id, pos, tok) position table of the documents' normalized
    * tokens — pos is 0-based. */
  private def positionsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))

  private def positions(spark: SparkSession, dir: String): DataFrame =
    positionsOf(Tables.documents(spark, dir))

  /** (doc_id, pos, digest) — md5 class digests of every FULL
    * `minLen`-token window. For fixed window length, digest equality
    * ⟺ window equality ⟺ rank-key equality, which is
    * what lets the duplicated-window mark relation PERSIST across
    * corpora (rank keys are corpus-relative; digests are content-
    * addressed) — the probe-able face of the span family. */
  private def windowDigests(docs: DataFrame, minLen: Int): DataFrame =
    docs.select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) >= minLen)
      // native digest kernel: identical md5-hex values, one pass per
      // row instead of a per-window interpreted lambda (GramDigests)
      .select(col("doc_id"), posexplode(graft.functions.HashExpressions
        .gramDigests(col("toks"), minLen, 32))
        .as(Seq("pos", "digest")))

  /** Prefix-doubling suffix ranks over `pos` tables (doc_id, pos, tok):
    * returns (doc_id, pos, rank) where rank is a DENSE 1-based rank of
    * the suffix starting at (doc_id, pos) by its first
    * min(2^`steps`, remaining) tokens — with `2^steps ≥` the longest
    * document, the full lexicographic suffix order (end-of-doc sorts
    * below every token; identical cross-doc suffixes TIE, which is
    * exactly the equality-class semantics the span extraction needs).
    *
    * Each doubling step: one self-equi-join on (doc_id, pos + 2^k)
    * (the "next rank"), one dense re-rank of the (rank, next) pairs —
    * a distinct + range sort over integer pairs — and one join back.
    * All shuffles carry (long, long) keys; nothing is quadratic. */
  /** localCheckpoint with a handle for FREEING the blocks later:
    * checkpoint blocks are not cacheManager-owned (Dataset.unpersist
    * is a no-op on them), so the handle is the checkpointed RDD id,
    * diffed off getPersistentRDDs around the eager checkpoint. */
  private def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val cp = df.localCheckpoint() // eager: materialized on return
    (cp, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  private def freeIds(spark: SparkSession, ids: Set[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))

  def suffixRanks(pos: DataFrame, steps: Int): DataFrame = {
    val spark = pos.sparkSession
    // Each round localCheckpoints its rank table (cutting the
    // compounding join lineage), and FREES the previous round's blocks
    // as soon as the new round has materialized — without this,
    // log(maxLen) corpus-sized rank tables pile up in block-manager
    // storage for the life of the job.
    val toks = pos.select(col("doc_id"), col("pos"), col("tok"))
    val (dict, dictHandle) = denseIds(toks.select(col("tok")), "rank")
    var (cur, curIds) = checkpointTracked(toks.join(dict, Seq("tok"))
      .select(col("doc_id"), col("pos"), col("rank")))
    dictHandle.unpersist(blocking = false)
    var k = 0
    while (k < steps) {
      val stepLen = 1L << k
      val shifted = cur.select(col("doc_id"),
        (col("pos") - stepLen).as("pos"), col("rank").as("rnext"))
      val paired = cur.join(shifted, Seq("doc_id", "pos"), "left")
        // 0 = past end-of-doc: ranks are 1-based, so the terminator
        // sorts below every real rank (shorter suffix first — the
        // standard suffix-array sentinel)
        .withColumn("rnext", coalesce(col("rnext"), lit(0L)))
      val (pairDict, handle) = denseIds(
        paired.select(col("rank"), col("rnext")), "nrank")
      val (next, nextIds) = checkpointTracked(
        paired.join(pairDict, Seq("rank", "rnext"))
          .select(col("doc_id"), col("pos"), col("nrank").as("rank")))
      handle.unpersist(blocking = false)
      freeIds(spark, curIds) // round k−1 superseded — round k materialized
      cur = next
      curIds = nextIds
      k += 1
    }
    cur
  }

  /** EXACT maximal duplicated spans ≥ `minLen` tokens (q_suffix_spans):
    * every maximal token interval of a document all of whose
    * minLen-token windows occur at some OTHER corpus position (another
    * doc or another offset of the same doc — Lee et al.'s
    * exact-substring coverage set: a substring of length m ≥ minLen
    * occurring twice marks all its minLen-windows, and conversely
    * every marked position is covered by a duplicated window, so the
    * merged runs ARE the exact variable-length spans, boundaries and
    * all). Fixed-gram signals at stride k miss nothing at the
    * position level but cannot report exact span extents; this emits
    * (doc_id, start_pos, span_len) with span_len = run + minLen − 1
    * exact.
    *
    * Scale shape: ⌈log2 minLen⌉ prefix-doubling rounds over integer
    * pairs (vs shuffling minLen-token gram STRINGS — at minLen = 50
    * the gram bytes dwarf the corpus; ranks stay 16 bytes), one
    * count-over-key mark, one per-doc gap-and-island window. Every
    * shuffle is linear in token volume. */
  def suffixSpans(spark: SparkSession, dir: String,
      minLen: Int = SpanMinLen): DataFrame =
    suffixSpansOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      minLen)._1
      .orderBy(col("doc_id"), col("start_pos"))

  /** The span extraction core: (unordered span relation, its backing
    * checkpoint block ids — the caller frees them once it has
    * materialized whatever it derives; the [[suffixSpans]] face leaves
    * them pinned because the tiny span relation IS its result).
    *
    * MARKING IS CONTENT-ADDRESSED: a position is marked iff its
    * minLen-token window's md5 digest class has ≥ 2 members — the
    * identical equality classes the rank keys produced (fixed window
    * length makes digest equality ⟺ window equality ⟺ rank-key
    * equality, the invariant the PERSISTED span index was already
    * built on and q_span_classes/q_span_clip_inc are oracle-checked
    * under). One native-kernel digest pass + one map-side-combined
    * class count + one semi-join replace ⌈log2 minLen⌉ prefix-doubling
    * rounds of (distinct + range sort + join + checkpoint) — at any
    * scale the digest path is one corpus-linear shuffle of
    * (doc, pos, digest) against the rank path's ~3 per round. The
    * prefix-doubling ranker stays as the library face for FULL suffix
    * order ([[fullSuffixOrder]]), which digests cannot express. */
  private def suffixSpansOf(docs: DataFrame, minLen: Int)
      : (DataFrame, Set[Int]) = {
    require(minLen >= 2, s"minLen must be ≥ 2, got $minLen")
    val spark = docs.sparkSession
    // keyed is MATERIALIZED (one checkpoint) because both the class
    // count and the mark-back read it — lazily it would compute twice
    // (the two consumers' exchanges differ, so ReuseExchange cannot
    // fold them) — and because the semi-join below only becomes
    // AQE-skew-splittable when BOTH its children are plain shuffle
    // stages (OptimizeSkewedJoin matches SMJ-over-Sort-over-shuffle
    // directly, nothing in between).
    val (keyed, keyedIds) = checkpointTracked(windowDigests(docs, minLen))
    // a window "occurs elsewhere" ⟺ its digest class has ≥ 2 members.
    // Class sizes come from a map-side-combined groupBy (the
    // Dedup.dupSpans shape) — NOT a count-over-window: the hottest
    // class IS the most-duplicated window (boilerplate), and
    // WindowExec cannot be skew-split, so a `count(*) OVER (PARTITION
    // BY digest)` funnels the whole hot class into one unsplittable
    // sort task. Partial aggregation combines the hot class on every
    // map task instead, and the mark-back semi-join — checkpointed
    // class relation against checkpointed positions — is an equi-join
    // AQE's skew-join CAN split (SkewStressSpec measures the split).
    val (dupClasses, dupIds) = checkpointTracked(
      keyed.groupBy(col("digest"))
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= 2)
        .select(col("digest")))
    val marked = keyed.join(dupClasses, Seq("digest"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // gap-and-island per doc: consecutive marked positions merge into
    // one maximal span of run + minLen − 1 tokens. The span relation
    // is tiny (duplicated-run count, not token count) — materializing
    // it is what lets the corpus-sized digest blocks free HERE instead
    // of pinning for the session lifetime (the r12 leak class).
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val (spans, spanIds) = checkpointTracked(marked
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        (max(col("pos")) - min(col("pos")) + minLen).cast("long")
          .as("span_len"))
      .select(col("doc_id"), col("start_pos"), col("span_len")))
    freeIds(spark, keyedIds ++ dupIds)
    (spans, spanIds)
  }

  /** SPAN-CLIP — the transformation [[suffixSpans]]'s span set exists
    * for (Lee et al. 2022's actual dedup step): remove every token
    * position covered by a cross-corpus duplicated span ≥ `minLen`
    * and reassemble the surviving tokens in order. Emits per doc the
    * token counts (total, removed) and the cleaned text; docs with no
    * duplicated span pass through intact (including docs shorter than
    * minLen). Scale shape: [[suffixSpans]]'s rounds + one explode of
    * span intervals to covered positions (linear in REMOVED token
    * volume, a subset of the corpus), one anti-join on (doc, pos),
    * one per-doc ordered reassembly — the segmentDedup rollup shape. */
  def spanClip(spark: SparkSession, dir: String,
      minLen: Int = SpanMinLen): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the position table serves the clip rollup's two reads (anti-join
    // side + per-doc totals); the span extraction digests the docs
    // directly and needs no positions
    val (pos, posIds) = checkpointTracked(positionsOf(docs))
    val (spans, spanIds) = suffixSpansOf(docs, minLen)
    val covered = spans
      .select(col("doc_id"), explode(expr(
        "sequence(start_pos, start_pos + span_len - 1)")).as("pos"))
    // eager-materialize the doc-sized rollup, then FREE the
    // corpus-sized position and span blocks: left lazy they pin for
    // the session lifetime (the r12 verdict's leak class — invisible
    // under the bench's per-query reset, real in a long-lived
    // session). A cluster deployment writes the rollup to storage at
    // this point instead of the block manager.
    val (out, _) = checkpointTracked(assembleClipUnordered(pos, covered))
    freeIds(spark, posIds ++ spanIds)
    out.orderBy(col("doc_id"))
  }

  /** The clip rollup shared by [[spanClip]] and [[probeSpanClip]]:
    * drop every covered (doc, pos), reassemble survivors in order —
    * the segmentDedup rollup shape. */
  private def assembleClip(pos: DataFrame, covered: DataFrame)
      : DataFrame =
    assembleClipUnordered(pos, covered).orderBy(col("doc_id"))

  private def assembleClipUnordered(pos: DataFrame, covered: DataFrame)
      : DataFrame =
    pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
      // docs fully covered by duplicated spans drop out of the
      // anti-join — restore them with empty text (the doc row must
      // survive its own clipping), and carry the total for the share
      .join(pos.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))

  // ──────────────────────────────────────────────────────────────────
  // SPAN INDEX — the duplicated-window mark relation PERSISTED
  // (r11 verdict item #2, the eleventh index family): distinct window
  // digests with occurrence counts, bucketed by digest, under the
  // FormatIO index-epoch protocol (build / probe / append + pin, the
  // Dedup.buildMinhashIndex contract). The probe clips an ARRIVING
  // batch at O(batch): a batch position is covered iff its window
  // occurs anywhere in the indexed corpus (≥ 1 — the batch copy makes
  // it ≥ 2 total) or ≥ 2 times within the batch itself, which is
  // exactly full spanClip(corpus ∪ batch) restricted to the batch
  // (the parity law SpanIndexSpec proves).
  // ──────────────────────────────────────────────────────────────────

  /** Build the span index over `docs` (doc_id, text): one table
    * `name_classes` (digest, n_occ, epoch) bucketed by digest — the
    * classes relation is LOG-STRUCTURED like the containment df
    * (appends add count segments; the true count is the merge-on-read
    * sum, exact integer arithmetic), which keeps appends O(batch). */
  def buildSpanIndexOf(spark: SparkSession, docs: DataFrame,
      name: String, nBuckets: Int = 8, minLen: Int = SpanMinLen): Unit = {
    val counts = windowDigests(docs, minLen)
      .groupBy(col("digest")).agg(count(lit(1)).as("n_occ"))
      .withColumn("epoch", lit(0L))
    graft.sources.FormatIO.writeBucketed(counts, s"${name}_classes",
      "digest", nBuckets, sortCol = Some("digest"))
    // the window length persists with the index: probes MUST digest
    // at the build length or every lookup silently misses
    import spark.implicits._
    Seq(minLen).toDF("min_len")
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_meta")
    graft.sources.FormatIO.initIndexEpoch(spark, name)
  }

  def buildSpanIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8, minLen: Int = SpanMinLen): Unit =
    buildSpanIndexOf(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      name, nBuckets, minLen)

  /** APPEND a batch's window classes — stage at a fresh epoch, one
    * commit marker publishes; pinned probes see the wave atomically
    * (the appendToMinhashIndex contract). */
  def appendSpanIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit = {
    val minLen = spark.table(s"${name}_meta").collect().head
      .getAs[Int]("min_len")
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_classes"))
    graft.sources.FormatIO.appendBucketed(spark,
      windowDigests(newDocs, minLen)
        .groupBy(col("digest")).agg(count(lit(1)).as("n_occ"))
        .withColumn("epoch", lit(e)),
      s"${name}_classes")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** The persisted mark relation read back: classes duplicated in the
    * INDEXED corpus (merge-on-read summed n_occ ≥ 2) at the committed
    * pin — [[spanClasses]] over whatever the index has ingested. */
  def spanIndexClasses(spark: SparkSession, name: String): DataFrame = {
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    graft.sources.FormatIO.pinnedAt(spark, s"${name}_classes", pin)
      .groupBy(col("digest")).agg(sum(col("n_occ")).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("digest"), col("n_occ").cast("long").as("n_occ"))
  }

  /** SPAN-CLIP an arriving batch against the indexed corpus at
    * O(batch): batch window digests probe the bucketed classes (the
    * index side reads on its bucket layout — no corpus shuffle), the
    * within-batch duplicate classes come from a batch-sized groupBy,
    * and the clip rollup is [[spanClip]]'s. Emits exactly full
    * spanClip(corpus ∪ batch) restricted to the batch docs. */
  def probeSpanClip(spark: SparkSession, name: String,
      batch: DataFrame): DataFrame = {
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val minLen = spark.table(s"${name}_meta").collect().head
      .getAs[Int]("min_len")
    val docs = batch.select(col("doc_id"), col("text"))
    val keys = windowDigests(docs, minLen).localCheckpoint()
    val corpusHit = keys.join(
      graft.sources.FormatIO.pinnedAt(spark, s"${name}_classes", pin)
        .select(col("digest")),
      Seq("digest"), "left_semi")
    val batchDup = keys.join(
      keys.groupBy(col("digest")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select(col("digest")),
      Seq("digest"), "left_semi")
    val covered = corpusHit.select(col("doc_id"), col("pos"))
      .unionByName(batchDup.select(col("doc_id"), col("pos")))
      .distinct()
      .select(col("doc_id"), explode(expr(
        s"sequence(pos, pos + ${minLen - 1})")).as("pos"))
      .distinct()
    assembleClip(positionsOf(docs), covered)
  }

  /** The duplicated-window CLASS relation of a corpus directory —
    * what [[buildSpanIndexOf]] persists, as an oracle-checked query
    * face (q_span_classes): md5 window digests occurring ≥ 2 times.
    * DuckDB's md5 of the same gram string is bit-identical, which is
    * what puts a digest relation on the exact oracle surface. */
  def spanClasses(spark: SparkSession, dir: String,
      minLen: Int = SpanMinLen): DataFrame =
    windowDigests(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      minLen)
      .groupBy(col("digest")).agg(count(lit(1)).cast("long").as("n_occ"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("digest"))

  /** [[probeSpanClip]] as a query face (q_span_clip_inc), the
    * corpusIncrement staging convention: the first nine-tenths of the
    * id range is the indexed corpus (span index staged by
    * `Pipeline.stagedIncrement` — the untimed half of the build/probe
    * split), the last tenth is the arriving wave, clipped at O(batch). */
  def spanClipIncrement(spark: SparkSession, dir: String): DataFrame = {
    val (name, batch) = Pipeline.stagedIncrement(spark, "graft_span", dir) {
      (prefix, corpus) => buildSpanIndexOf(spark, corpus, prefix)
    }
    probeSpanClip(spark, name, batch)
  }

  /** GENERATED DuckDB oracle for [[spanClasses]] — the shared-constant
    * contract of [[spanOracleSql]]. */
  def classesOracleSql(minLen: Int = SpanMinLen): String = {
    val g = minLen - 1
    s"""WITH t AS (
       | SELECT doc_id,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       | FROM documents),
       |g AS (
       | SELECT doc_id, md5(array_to_string(toks[i:(i+$g)], ' ')) AS digest
       | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - $g)) AS i)
       | WHERE len(toks) >= $minLen)
       |SELECT digest, CAST(count(*) AS BIGINT) AS n_occ
       |FROM g GROUP BY digest HAVING count(*) >= 2 ORDER BY digest""".stripMargin
  }

  /** GENERATED DuckDB oracle for [[spanClipIncrement]]: the parity law
    * says the incremental clip IS full [[spanClip]] restricted to the
    * arriving tenth, so the oracle is [[clipOracleSql]]'s query with
    * the batch restriction — marks still count over the WHOLE corpus
    * (a batch window matching a corpus-unique window is a duplicate). */
  def clipIncOracleSql(minLen: Int = SpanMinLen): String = {
    val g = minLen - 1
    s"""WITH t AS (
       | SELECT doc_id,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       | FROM documents),
       |cut AS (SELECT CAST(max(doc_id) * 9 // 10 AS BIGINT) AS c FROM documents),
       |p AS (
       | SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
       | WHERE len(toks) > 0 AND doc_id > (SELECT c FROM cut)),
       |g AS (
       | SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:(i+$g)], ' ') AS gram
       | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - $g)) AS i)
       | WHERE len(toks) >= $minLen),
       |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |cov AS (
       | SELECT DISTINCT m.doc_id, m.pos + o AS pos
       | FROM (SELECT doc_id, pos FROM g JOIN c USING (gram)
       |       WHERE doc_id > (SELECT c FROM cut)) m,
       |      LATERAL (SELECT unnest(generate_series(0, $g)) AS o)),
       |kept AS (
       | SELECT p.doc_id, p.pos, p.tok
       | FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
       | WHERE cov.pos IS NULL)
       |SELECT p.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(count(*) - count(kept.tok) AS BIGINT) AS n_removed,
       |       coalesce(string_agg(kept.tok, ' ' ORDER BY p.pos), '') AS clean_text
       |FROM p LEFT JOIN kept ON p.doc_id = kept.doc_id AND p.pos = kept.pos
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin
  }

  /** GENERATED DuckDB oracle for [[suffixSpans]] at `minLen` — the SQL
    * SparkEntry registers for q_suffix_spans derives from the same
    * [[SpanMinLen]] constant as the Scala side, so changing the window
    * length regenerates both (r11 verdict item #7; the grams here are
    * provably the same equality classes as the rank keys — fixed
    * window length makes digest/gram equality ⟺ rank-key equality). */
  def spanOracleSql(minLen: Int = SpanMinLen): String = {
    val g = minLen - 1
    s"""WITH t AS (
       | SELECT doc_id,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       | FROM documents),
       |g AS (
       | SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:(i+$g)], ' ') AS gram
       | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - $g)) AS i)
       | WHERE len(toks) >= $minLen),
       |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |m AS (SELECT doc_id, pos FROM g JOIN c USING (gram)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |      FROM m)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
       |       CAST(max(pos) - min(pos) + $minLen AS BIGINT) AS span_len
       |FROM r GROUP BY doc_id, grp ORDER BY doc_id, start_pos""".stripMargin
  }

  /** GENERATED DuckDB oracle for [[spanClip]] at `minLen` — same
    * shared-constant contract as [[spanOracleSql]]. */
  def clipOracleSql(minLen: Int = SpanMinLen): String = {
    val g = minLen - 1
    s"""WITH t AS (
       | SELECT doc_id,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       | FROM documents),
       |p AS (
       | SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
       | WHERE len(toks) > 0),
       |g AS (
       | SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:(i+$g)], ' ') AS gram
       | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - $g)) AS i)
       | WHERE len(toks) >= $minLen),
       |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |cov AS (
       | SELECT DISTINCT m.doc_id, m.pos + o AS pos
       | FROM (SELECT doc_id, pos FROM g JOIN c USING (gram)) m,
       |      LATERAL (SELECT unnest(generate_series(0, $g)) AS o)),
       |kept AS (
       | SELECT p.doc_id, p.pos, p.tok
       | FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
       | WHERE cov.pos IS NULL)
       |SELECT p.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(count(*) - count(kept.tok) AS BIGINT) AS n_removed,
       |       coalesce(string_agg(kept.tok, ' ' ORDER BY p.pos), '') AS clean_text
       |FROM p LEFT JOIN kept ON p.doc_id = kept.doc_id AND p.pos = kept.pos
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin
  }

  /** Library face of [[suffixRanks]] over a corpus directory, doubled
    * to the full suffix order (2^steps ≥ longest document). */
  def fullSuffixOrder(spark: SparkSession, dir: String): DataFrame = {
    val pos = positions(spark, dir).localCheckpoint()
    val maxLen = pos.groupBy(col("doc_id")).count()
      .agg(max(col("count"))).collect().head.getLong(0)
    val steps = if (maxLen <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(maxLen - 1)
    suffixRanks(pos, steps.toInt)
  }
}
