package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Full-text retrieval operators over `documents` (SURVEY §2c search
  * family): inverted-index build, TF-IDF term weighting, BM25 keyword
  * ranking. The retrieval stack a training-data pipeline needs for
  * corpus exploration, near-benchmark mining, and quality-weighted
  * sampling.
  *
  * Plan shapes at 100 TB:
  *  - index build: ONE token-level shuffle to (tok, doc) partial counts
  *    (map-side combined), then a tok-keyed window + aggregation that
  *    reuse the same hash partitioning — posting lists come out
  *    grouped by term, which IS the layout a stored index wants.
  *  - probes (BM25): the query-term filter is pushed BELOW the token
  *    shuffle, so only postings of matched terms move; document-length
  *    norms ride from a corpus-sized but column-pruned side; per-term
  *    IDF is a handful of rows, broadcast.
  */
object Search {

  private def tokensCol: Column = split(lower(trim(col("text"))), "\\s+")

  /** Per-(term, doc) token frequencies — the posting-list fact every
    * operator here derives from. One shuffle, map-side combined. */
  private def termFreqs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokensCol).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Inverted-index build: per term, document frequency, collection
    * frequency, and the head of the posting list (top-5 docs by tf,
    * serialized — arrays stay off the oracle surface). The window and
    * the final aggregation both key on `tok`, so they reuse the
    * (tok, doc) shuffle's partitioning — the whole build is one
    * token-level shuffle plus one tok-level exchange. */
  def invertedIndex(spark: SparkSession, dir: String, minDf: Long = 5L): DataFrame = {
    val w = Window.partitionBy(col("tok")).orderBy(col("tf").desc, col("doc_id"))
    termFreqs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") <= 5,
              struct(col("rn").as("rn"),
                concat_ws(":", col("doc_id"), col("tf")).as("p"))))),
            x => x.getField("p")),
          ",").as("postings_head"))
      .filter(col("df") >= minDf)
      .orderBy(col("tok"))
  }

  /** TF-IDF top terms: each document's 3 most distinctive terms by
    * tf · ln(N/df). Ranked on the ROUNDED score (6dp) with a term
    * tiebreak — cross-engine ulp noise in `ln` can't flip a rank.
    * The doc-count N rides as a 1-row broadcast, df joins on the
    * tok-partitioned postings (no extra shuffle before the doc-keyed
    * ranking exchange). */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = termFreqs(spark, dir)
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_r").desc, col("tok"))
    tf.join(df, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("score_r",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("tok"), round(col("score_r"), 4).as("tfidf"),
        col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** BM25 keyword search: rank documents against a bag of query terms
    * with the classic Robertson/Sparck-Jones scoring
    * (k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5))).
    * The term filter sits BELOW the token shuffle — only postings of
    * query terms are ever shuffled, so probe cost scales with the
    * match volume, not the corpus. Doc-length norms come from a
    * column-pruned length scan; per-term IDF is |terms| rows. */
  def bm25Search(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("data", "model", "spark"),
      topN: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(spark, dir, terms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topN)

  /** Full BM25 score relation (every matching doc, unranked) — the
    * shared core of [[bm25Search]] and the keyword leg of
    * [[hybridRrf]]. Same plan shape as documented on [[bm25Search]]. */
  def bm25Scores(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("data", "model", "spark"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lens = docs.select(col("doc_id"), size(tokensCol).cast("double").as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // postings of query terms only — the isin filter pushes below the
    // (tok, doc) aggregation's shuffle
    val tf = docs.select(col("doc_id"), explode(tokensCol).as("tok"))
      .filter(col("tok").isInCollection(terms))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .select(col("tok"), col("idf"), col("avgdl"))
    val scored = tf
      .join(broadcast(idf), Seq("tok"))
      .join(lens, Seq("doc_id"))
      .withColumn("term_score",
        col("idf") * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("bm25"),
        count(lit(1)).as("n_terms_matched"))
    scored
  }

  /** Persist the corpus side of BM25 as a PROBE-ABLE index — the
    * search-family instance of the build/probe split the MinHash,
    * containment and IVF indexes already follow: staging is the
    * untimed build half, and each query probe touches only the
    * postings of ITS terms. Three relations:
    *  - `<name>_postings` (tok, doc_id, tf), BUCKETED AND SORTED by
    *    tok — a term probe prunes to its term's buckets and reads
    *    postings co-located, no Exchange on the corpus side;
    *  - `<name>_lens` (doc_id, dl), bucketed by doc_id — the
    *    doc-length norms join reads co-located by doc;
    *  - `<name>_stats` (n_docs, avgdl) — the 1-row corpus constants.
    * Per-term df is NOT materialized separately: it is derivable from
    * the matched postings at probe time with one |terms|-sized
    * aggregate, which keeps the index two bucketed tables + one row
    * rather than a third relation to keep consistent. */
  def buildSearchIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8): Unit = {
    val docs = Tables.documents(spark, dir)
    val lens = docs.select(col("doc_id"), size(tokensCol).cast("double").as("dl"))
    graft.sources.FormatIO.writeBucketed(
      docs.select(col("doc_id"), explode(tokensCol).as("tok"))
        .groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("epoch", lit(0L)),
      s"${name}_postings", "tok", nBuckets, sortCol = Some("tok"))
    graft.sources.FormatIO.writeBucketed(lens.withColumn("epoch", lit(0L)),
      s"${name}_lens", "doc_id", nBuckets)
    // stats persist as MERGEABLE moments (count, Σdl) rather than the
    // finished avgdl: the build writes one segment and every
    // [[appendToSearchIndex]] adds another, so probes derive
    // avgdl = ΣΣdl / Σn on read — exact (dl is a whole number, the sums
    // never leave the 2^53 integer-exact range at any plausible corpus)
    graft.sources.FormatIO.writeSegment(spark, s"${name}_stats",
      lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")), 0L,
      replace = true)
    graft.sources.FormatIO.initIndex(spark, name, "doc_id")
  }

  /** TOMBSTONE-DELETE documents from the persisted BM25 index — a
    * [[graft.sources.FormatIO.deleteWave]]: because BM25 df is counted
    * from live postings, idf is exact at once, and the wave's NEGATIVE
    * (count, Σdl) moment segment, derived from the index's own lens
    * rows, keeps the merged avgdl exact. */
  def deleteFromSearchIndex(spark: SparkSession, name: String,
      docIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name, docIds.select(col("doc_id")),
      Seq(s"${name}_stats" -> (fresh =>
        spark.table(s"${name}_lens").join(fresh, Seq("doc_id"), "left_semi")
          .agg((-count(lit(1))).as("n_docs"),
            (-coalesce(sum(col("dl")), lit(0.0))).as("sum_dl")))))

  /** Physically erase tombstoned documents' postings and lens rows and
    * rebuild the stats relation from the purged lens (one exact
    * segment collapsing all appends and deletes, tagged at the
    * committed epoch so pinned probes keep reading it); returns the
    * postings table's stats. */
  def purgeSearchTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_postings", s"${name}_lens"), pin =>
        graft.sources.FormatIO.writeSegment(spark, s"${name}_stats",
          spark.table(s"${name}_lens")
            .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
          pin, replace = true)).head

  /** The 1-row merged corpus stats (n_docs, avgdl) from the
    * log-structured `_stats` segments. A fully-tombstoned index sums
    * to zero live docs; the guard keeps avgdl NULL instead of the
    * 0/0 NaN that would otherwise ride into any probe arithmetic
    * (probes of such an index already return empty — they read the
    * live postings — but the stats row itself must stay NaN-free for
    * callers that read it directly). */
  private def mergedStats(spark: SparkSession, name: String,
      pin: Long): DataFrame =
    graft.sources.FormatIO.pinnedAt(spark, s"${name}_stats", pin)
      .agg(sum(col("n_docs")).cast("double").as("n_docs"),
        when(sum(col("n_docs")) > 0L,
          sum(col("sum_dl")) / sum(col("n_docs")).cast("double")).as("avgdl"))

  /** DELTA APPEND a batch of new documents (`doc_id`, `text`) into the
    * persisted BM25 index — same maintenance contract as
    * [[graft.operators.Dedup.appendToMinhashIndex]]: postings and
    * doc-length norms append into the index's own bucket layouts, the
    * stats relation gets one more (count, Σdl) segment. Appended doc
    * ids must be NEW (the standard immutable-corpus ingest contract —
    * postings are unique per (tok, doc), which is what lets probes
    * derive df by counting matched postings). A batch a stream
    * replays after its commit (`Streams.foreachBatchStream`) breaks
    * that uniqueness: its postings count twice in df and its stats
    * segment twice in n_docs, so scores drift until
    * [[graft.sources.FormatIO.compactBucketedTable]] plus a distinct
    * rewrite repairs the index, or batches are keyed idempotently
    * upstream. */
  def appendToSearchIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit = {
    // three segment tables under ONE epoch commit (FormatIO index
    // epochs): pinned probes never see postings without their stats
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings", s"${name}_lens", s"${name}_stats"))
    val lens = newDocs.select(col("doc_id"),
      size(tokensCol).cast("double").as("dl"))
    graft.sources.FormatIO.appendBucketed(spark,
      newDocs.select(col("doc_id"), explode(tokensCol).as("tok"))
        .groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("epoch", lit(e)),
      s"${name}_postings")
    graft.sources.FormatIO.appendBucketed(spark,
      lens.withColumn("epoch", lit(e)), s"${name}_lens")
    graft.sources.FormatIO.writeSegment(spark, s"${name}_stats",
      lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")), e)
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** Probe the persisted index with a bag of query terms: exactly
    * [[bm25Search]]'s scoring (parity spec-proved) without touching
    * the documents table — probe cost scales with the MATCHED posting
    * volume. The matched-postings relation is filtered at the bucketed
    * scan (bucket pruning on the isin predicate), df/idf are
    * |terms|-row broadcasts, and the norms join hits the doc-bucketed
    * lens table. */
  def probeSearchIndex(spark: SparkSession, name: String,
      terms: Seq[String] = Seq("data", "model", "spark"),
      topN: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    // both probes read the LIVE postings, which keeps df (derived by
    // COUNTING matched postings) automatically consistent with deletions
    val tf = graft.sources.FormatIO.liveAt(spark, name, s"${name}_postings", pin)
      .filter(col("tok").isInCollection(terms))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = mergedStats(spark, name, pin)
    val idf = df.crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .select(col("tok"), col("idf"), col("avgdl"))
    tf.join(broadcast(idf), Seq("tok"))
      .join(graft.sources.FormatIO.pinnedAt(spark, s"${name}_lens", pin),
        Seq("doc_id"))
      .withColumn("term_score",
        col("idf") * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("bm25"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topN)
  }

  /** Probe the persisted index with a BATCH of keyword queries —
    * `queries` is (query_id, tok), one row per query term. The probe
    * is one |batch-terms|-sized broadcast against the bucketed
    * postings (matched postings move once), per-term df/idf derive
    * from the matched relation, and the final ranking is a
    * query-KEYED window (partition count = |queries in the batch|,
    * each partition ≤ the query's match volume). Single-query parity
    * with [[probeSearchIndex]] / [[bm25Search]] is spec-proved. */
  def probeSearchIndexMany(spark: SparkSession, name: String,
      queries: DataFrame, topN: Int = 20, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val qterms = queries.select(col("query_id"), col("tok")).distinct()
    val toks = qterms.select(col("tok")).distinct()
    val matched = graft.sources.FormatIO.liveAt(spark, name, s"${name}_postings", pin)
      .join(broadcast(toks), Seq("tok"))
    // postings are unique per (tok, doc) — count IS the doc frequency
    val df = matched.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = mergedStats(spark, name, pin)
    val idf = df.crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .select(col("tok"), col("idf"), col("avgdl"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    matched
      .join(broadcast(idf), Seq("tok"))
      .join(graft.sources.FormatIO.pinnedAt(spark, s"${name}_lens", pin),
        Seq("doc_id"))
      .withColumn("term_score",
        col("idf") * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
      .join(broadcast(qterms), Seq("tok"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("bm25"),
        count(lit(1)).as("n_terms_matched"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("doc_id"), col("bm25"),
        col("n_terms_matched"), col("rank"))
    // no terminal orderBy: the per-query rank column already carries the
    // semantics; global presentation ordering belongs at the caller's
    // edge, not as an Exchange inside a library probe
  }

  /** HYBRID retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009): fuse a keyword leg (BM25 over the query
    * terms) with a dense leg (cosine against a query embedding) as
    * score(d) = Σ_legs 1/(rrfK + rank_leg(d)) — rank fusion needs no
    * score calibration between legs, which is why it is the standard
    * first fusion in hybrid (sparse+dense) search stacks.
    *
    * Determinism/oracle contract: each leg ranks on its ROUNDED score
    * (bm25 4dp, cosine 6dp) with a doc_id tiebreak, so cross-engine
    * ulp noise cannot flip a rank; the fused score is a sum of exactly
    * two IEEE-exact reciprocals in fixed order, rounded at the edge.
    *
    * Plan shape at 100 TB: the BM25 leg is [[bm25Scores]] (postings of
    * query terms only move); the dense leg is a BROADCAST of the 1-row
    * query vector against a column-pruned embeddings scan — one
    * row-local dot product per vector, no pair shuffle, then two
    * `TakeOrderedAndProject`-able legK windows over leg-sized
    * relations and a legK-row fuse join. Nothing here is O(corpus²):
    * at real scale the dense leg's top-legK comes from [[Similarity]]'s
    * IVF/LSH index probes instead of the exhaustive scan — the fusion
    * stage is identical either way. */
  def hybridRrf(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("data", "model", "spark"),
      queryVecId: Long = 0L, legK: Int = 50, rrfK: Int = 60,
      topN: Int = 20): DataFrame = {
    import graft.functions.HashExpressions.dotProduct
    // each leg: TakeOrderedAndProject to legK rows FIRST (scales — no
    // global window over the corpus-sized score relation), then the
    // rank window runs over exactly legK rows. Rank-after-limit equals
    // rank-then-filter because both use the same total order. The
    // partition key is constant-VALUED but non-foldable (a literal
    // would be optimized away, re-emptying the spec): same single
    // group, but no misleading global-window WARN for a frame that is
    // legK-bounded by construction.
    def oneGroup: Column = pmod(col("doc_id"), lit(1))
    val wB = Window.partitionBy(oneGroup)
      .orderBy(col("bm25").desc, col("doc_id"))
    val bmLeg = bm25Scores(spark, dir, terms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(legK)
      .withColumn("bm25_rank", row_number().over(wB).cast("long"))
      .select(col("doc_id"), col("bm25_rank"))
    val normed = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.HashExpressions.l2Normalize(
          col("embedding").cast("array<double>")).as("vn"))
    val qv = normed.filter(col("vec_id") === queryVecId)
      .select(col("vn").as("qn"))
    val wV = Window.partitionBy(oneGroup)
      .orderBy(col("cos").desc, col("doc_id"))
    // vec_id IS the doc_id (the embeddings table is the documents
    // table's dense view; ids align by construction of the testdata)
    val vecLeg = normed.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(dotProduct(col("vn"), col("qn")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(legK)
      .withColumn("cos_rank", row_number().over(wV).cast("long"))
      .select(col("doc_id"), col("cos_rank"))
    // fuse join + final window both run over <= 2·legK rows
    val wF = Window.partitionBy(oneGroup)
      .orderBy(col("rrf").desc, col("doc_id"))
    bmLeg.join(vecLeg, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("cos_rank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        col("rrf"), col("rank"))
      .orderBy(col("rank"))
  }

  // ---------------------------------------------------------------
  // Exact PHRASE SEARCH — two faces of one semantics:
  //  - a zero-shuffle row-local array scan (the one-off query path:
  //    every doc checks its own token array, embarrassingly parallel,
  //    nothing crosses the wire but the matching rows);
  //  - a persisted POSITIONAL index (the NINTH family on the shared
  //    build/probe/append/delete/purge + epoch-pin contract): postings
  //    (tok, doc_id, pos) bucketed by token, so a phrase query touches
  //    ONLY its own tokens' postings — O(Σ postings of phrase terms)
  //    instead of O(corpus), the right trade once the corpus is
  //    indexed and queries repeat.
  // ---------------------------------------------------------------

  /** The phrase the `q_phrase_search` query and its GENERATED DuckDB
    * oracle share — one constant, no drift. */
  val DefaultPhrase: Seq[String] = Seq("table", "scan")

  /** Row-local phrase-occurrence scan over any (doc_id, text) frame:
    * for each doc, the number of positions where the token sequence
    * equals `phrase` (overlaps counted — every anchor position is
    * tested independently) and the first such 1-based position.
    * `sequence` is guarded: Spark's sequence(1, stop) runs BACKWARD
    * when stop < 1, so short docs take the empty-array branch. */
  def phraseMatchesOn(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val k = phrase.length
    // the token array is LET-BOUND as a lambda variable (the
    // winnowFpsOf idiom): a projection alias would be CollapseProject-
    // inlined into the filter lambda's BODY and re-tokenize the text
    // per anchor position — O(len²) interpreted eval per doc (the
    // plan-hygiene net catches exactly this). element_at, not t[..]:
    // SQL array subscripts are 0-based while the anchor convention
    // here (and DuckDB's t[i]) is 1-based.
    val hits = transform(array(tokensCol), t =>
      when(size(t) >= k,
        filter(sequence(lit(1), size(t) - (k - 1)), i =>
          phrase.zipWithIndex.map { case (w, j) =>
            element_at(t, (i + lit(j)).cast("int")) === lit(w)
          }.reduce(_ && _)))
        .otherwise(array().cast("array<int>"))).getItem(0)
    docs
      .select(col("doc_id"), hits.as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast("long").as("n_matches"),
        element_at(col("hits"), 1).cast("long").as("first_pos"))
  }

  /** Exact phrase search over the corpus — the `q_phrase_search`
    * surface: docs containing [[DefaultPhrase]] as a consecutive token
    * run, with occurrence count and first position. Scale shape: one
    * scan, all work row-local (no explode, no shuffle); the only
    * exchange is the terminal presentation sort over matching docs. */
  def phraseSearch(spark: SparkSession, dir: String,
      phrase: Seq[String] = DefaultPhrase): DataFrame =
    phraseMatchesOn(Tables.documents(spark, dir), phrase)
      .orderBy(col("doc_id"))

  /** [[phraseSearch]] on the NATIVE packed-scan kernel
    * ([[graft.functions.PhrasePack]], §2e): one codegen'd long per
    * document instead of the declarative sequence + lambda filter +
    * array materialization — same rows, same oracle (the q_asof_join /
    * q_asof_join_native pattern: one semantics, two engines' worth of
    * evidence). */
  def phraseSearchNative(spark: SparkSession, dir: String,
      phrase: Seq[String] = DefaultPhrase): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("pack",
        graft.functions.HashExpressions.phrasePack(col("text"), phrase))
      .filter(col("pack") > 0L)
      .select(col("doc_id"),
        shiftright(col("pack"), 32).as("n_matches"),
        col("pack").bitwiseAND(lit(0xffffffffL)).as("first_pos"))
      .orderBy(col("doc_id"))

  /** Positional postings (doc_id, tok, pos) — pos is 1-based to match
    * the SQL-side array convention. */
  private def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokensCol).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("tok"), (col("p0") + 1).cast("long").as("pos"))

  /** Build the persisted POSITIONAL index: postings bucketed+sorted by
    * token (a phrase probe's per-term slices read co-located), plus
    * the family-standard tombstones and epoch marker. */
  def buildPositionalIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8): Unit =
    buildPositionalIndexOn(spark, Tables.documents(spark, dir), name,
      nBuckets)

  /** Core of [[buildPositionalIndex]] over any (doc_id, text) frame. */
  def buildPositionalIndexOn(spark: SparkSession, docs: DataFrame,
      name: String, nBuckets: Int = 8): Unit = {
    graft.sources.FormatIO.writeBucketed(
      positionalPostings(docs).withColumn("epoch", lit(0L)),
      s"${name}_postings", "tok", nBuckets, sortCol = Some("tok"))
    graft.sources.FormatIO.initIndex(spark, name, "doc_id")
  }

  /** PHRASE PROBE against the positional index: each phrase term pulls
    * its own postings slice (the token filter prunes at the bucketed
    * scan), normalizes position to the phrase anchor (pos − offset),
    * and the k slices intersect by (doc_id, anchor) equi-joins —
    * an anchor surviving all k is exactly one phrase occurrence.
    * Probe cost is the phrase terms' posting mass, never the corpus.
    * Epoch-pinned once; tombstoned docs anti-joined out. Output is
    * probe-equal to [[phraseMatchesOn]] on the indexed corpus
    * (parity-spec-proved). No terminal orderBy: library probe. */
  def phraseProbe(spark: SparkSession, name: String,
      phrase: Seq[String] = DefaultPhrase): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val live = graft.sources.FormatIO
      .liveAt(spark, name, s"${name}_postings", pin)
    val slices = phrase.zipWithIndex.map { case (w, j) =>
      live.filter(col("tok") === lit(w))
        .select(col("doc_id"), (col("pos") - lit(j.toLong)).as("anchor"))
    }
    slices.reduce(_.join(_, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("anchor")).as("first_pos"))
  }

  /** DELTA APPEND a document batch into the positional index —
    * O(batch) per wave, one epoch commit; `append ∘ build` is
    * probe-equal to a full rebuild on the union (parity-spec). */
  def appendToPositionalIndex(spark: SparkSession, name: String,
      docs: DataFrame): Unit = {
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings"))
    graft.sources.FormatIO.appendBucketed(spark,
      positionalPostings(docs).withColumn("epoch", lit(e)),
      s"${name}_postings")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** TOMBSTONE-DELETE docs from the positional index — one
    * [[graft.sources.FormatIO.deleteWave]]. */
  def deleteFromPositionalIndex(spark: SparkSession, name: String,
      docIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name, docIds.select(col("doc_id")))

  /** Physically erase tombstoned docs' postings (bucket-preserving
    * rewrite + compaction). */
  def purgePositionalTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_postings")).head
}
