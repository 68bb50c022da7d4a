package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions.{normText, normToks}
import graft.sources.Tables

/** Text-analysis operators over `documents` (SURVEY §2c 32-35). All are
  * codegen'd built-in string expressions — linear scans that partition
  * trivially at 100 TB.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "for")

  private def tokensCol: Column = split(lower(trim(col("text"))), "\\s+")

  /** Row-local adjacent-bigram generation over a token-array column:
    * (l, r) structs, empty for sub-2-token docs (the size guard
    * matters: sequence(1, 0) counts DOWN, so an unguarded single-token
    * doc would emit a phantom pair). The single source of truth for
    * bigram generation — [[bpeTrain]], [[pmiCollocations]] and
    * [[bigramLogprob]] all consume it. */
  private def bigramStructs(tokCol: String): Column =
    when(size(col(tokCol)) >= 2, expr(
      s"transform(sequence(1, size($tokCol) - 1), " +
        s"i -> struct($tokCol[i-1] AS l, $tokCol[i] AS r))"))
      .otherwise(expr("CAST(array() AS array<struct<l:string,r:string>>)"))

  /** RAG/TRAINING CHUNKING: split every document into overlapping
    * token-window chunks — the standard retrieval/context-window prep
    * step (window `w` tokens, stride `s` < w for overlap, tail chunk
    * truncated, never dropped). Emits (doc_id, chunk_idx, start_tok
    * 1-based, n_toks, chunk) — offsets ride along so downstream spans
    * (dedup hits, PII redactions, citations) can be mapped back into
    * the source document.
    *
    * Scale shape: entirely ROW-LOCAL — one projection computes each
    * doc's chunk count (1 + ⌈max(0, len−w)/s⌉) and explodes its
    * windows; no shuffle at all, output volume ≈ tokens/s × w. The
    * same plan at 100 TB is a single scan. Fully oracle-checkable:
    * chunk boundaries are integer arithmetic and the chunk text is an
    * exact token-slice join. */
  def chunkSpans(spark: SparkSession, dir: String,
      w: Int = 32, s: Int = 24): DataFrame = {
    require(s > 0 && w >= s, s"need 0 < stride <= window, got w=$w s=$s")
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol.as("toks"))
      .select(col("doc_id"), size(col("toks")).as("len"), col("toks"))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("len"),
        posexplode(graft.functions.HashExpressions
          .tokenGrams(col("toks"), w, s, cover = true)))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        (col("pos") * s + 1).cast("long").as("start_tok"),
        least(lit(w), col("len") - col("pos") * s).cast("long").as("n_toks"),
        col("col").as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / single digits / punctuation marks). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokensCol).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))
          .cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** The composite quality score (length, stopword share, punctuation
    * density), rounded to 4 decimals so both engines rank identical
    * values — shared by [[qualityScore]], [[qualityGate]] and the
    * streaming curation topology (`Streams.curationStream`). */
  private[graft] def qualityCol: Column = {
    val nTok = size(tokensCol).cast("double")
    // native stopword count: identical to the interpreted
    // size(filter(toks, t -> t.isInCollection(stopwords))) pair it
    // replaces (bytewise equality; parity spec-pinned) — the float
    // blend below is untouched, so the rounded score is bit-identical
    val nStop = graft.functions.HashExpressions
      .stopwordCount(tokensCol, stopwords).cast("double")
    val nPunct = regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("double")
    val len = length(col("text")).cast("double")
    round(
      least(len / lit(500.0), lit(1.0)) * lit(0.4)
        + least(nStop / nTok * lit(4.0), lit(1.0)) * lit(0.4)
        + (lit(1.0) - least(nPunct / len * lit(10.0), lit(1.0))) * lit(0.2),
      4)
  }

  /** The interpreted-HOF form of [[qualityCol]]'s stopword count — the
    * parity-spec reference for the native kernel. */
  private[graft] def stopwordCountDeclarative: Column =
    size(filter(tokensCol, t => t.isInCollection(stopwords)))

  /** Quality scoring: length, punctuation density, stopword share — the
    * standard cheap pre-filters of a training-data pipeline. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokensCol).cast("double")
    val nStop = graft.functions.HashExpressions
      .stopwordCount(tokensCol, stopwords).cast("double")
    val nPunct = regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("double")
    val len = length(col("text")).cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(nStop / nTok, 4).as("stopword_ratio"),
        round(nPunct / len, 4).as("punct_ratio"),
        round(len / nTok, 4).as("avg_token_len"),
        qualityCol.as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Percentile quality gate: keep documents scoring at or above their
    * language's exact `pct` quantile — the relative (per-stratum)
    * variant of a fixed-threshold quality filter, so a verbose language
    * never crowds out a terse one. Thresholds are one tiny per-language
    * exact-percentile aggregate (|langs| rows → broadcast), the gate
    * itself is a row-local comparison: at 100 TB this is one scan plus
    * a KB-sized broadcast. Exact (interpolated) percentile, not a
    * sketch: the kept-set boundary must be deterministic for the oracle
    * and for reproducible corpus builds. */
  def qualityGate(spark: SparkSession, dir: String,
      pct: Double = 0.25): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), qualityCol.as("quality"))
    val thresholds = scored.groupBy(col("lang"))
      .agg(percentile(col("quality"), lit(pct)).as("thr"))
    scored.join(broadcast(thresholds), Seq("lang"))
      .filter(col("quality") >= col("thr"))
      .select(col("doc_id"), col("lang"), col("quality"),
        round(col("thr"), 4).as("lang_thr"))
      .orderBy(col("doc_id"))
  }

  /** The heuristic language-ID expression over a `text` column —
    * shared by [[langId]] and the incremental curation path. */
  private[graft] def langPredCol: Column =
    // native single-pass scan: the declarative form below pays 18
    // separate regexp engine scans of the text per row (parity with it
    // is spec-pinned on real corpora + crafted edge texts)
    graft.functions.HashExpressions.langPredict(col("text"))

  /** The 18-regexp declarative form of [[langPredCol]] — the
    * parity-spec reference for the native kernel. */
  private[graft] def langPredColDeclarative: Column = {
    def hits(words: Seq[String]): Column =
      words.map(w => regexp_count(col("text"),
        lit("(?i)\\b" + w + "\\b")).cast("long")).reduce(_ + _)
    val sEn = hits(Seq("the", "and", "of", "is"))
    val sEs = hits(Seq("el", "la", "los", "que", "y"))
    val sDe = hits(Seq("der", "die", "das", "und", "ist"))
    val sFr = hits(Seq("le", "les", "des", "est", "et"))
    val sZh = regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long")
    val best = greatest(sEn, sEs, sDe, sFr)
    when(sZh > 0, "zh")
      .when(best === lit(0L), "und")
      .when(sEn === best, "en")
      .when(sEs === best, "es")
      .when(sDe === best, "de")
      .otherwise("fr")
  }

  /** Heuristic language ID: count marker-stopword hits per language,
    * CJK-codepoint presence short-circuits to zh; deterministic
    * precedence en > es > de > fr on ties. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("lang_label"),
        langPredCol.as("lang_pred"))
      .orderBy(col("doc_id"))

  /** Language-ID CONFUSION MATRIX: predicted-vs-labeled language cells
    * with each cell's share of its TRUE class — the supervised audit
    * of [[langId]] ("which languages does the heuristic confuse, and
    * how badly"), the summary a crawl-routing decision actually reads
    * where the per-doc table is the debugging view. One row-local
    * prediction projection + one |langs|²-bounded count + a broadcast
    * |langs|-row class-total attach; shuffle ~ corpus rows once,
    * result bounded by the label-domain square at any corpus size.
    * Diagonal share = per-class recall. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("lang").as("lang_label"), langPredCol.as("lang_pred"))
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy(col("lang_label")).agg(sum(col("n")).as("n_label"))
    cells.join(broadcast(tot), Seq("lang_label"))
      .withColumn("share",
        round(col("n").cast("double") / col("n_label"), 6))
      .select(col("lang_label"), col("lang_pred"), col("n"),
        col("n_label"), col("share"))
      .orderBy(col("lang_label"), col("lang_pred"))
  }

  /** Per-source PII DENSITY — the hygiene budget line over
    * [[piiRedact]]'s per-doc counts: email / phone / long-digit-run
    * hits per source, normalized to hits per 10k tokens (the unit a
    * "this crawl needs scrubbing before it trains" decision is made
    * in). Row-local regexp counting folded by one source-keyed
    * aggregate — map-side combined, result bounded by the source
    * cardinality; the density closes in one fixed double division
    * over exact integer sums. */
  def piiDensity(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9() .-]{7,}[0-9]"
    val idrun = "[0-9]{9,}"
    Tables.documents(spark, dir)
      .select(col("source"),
        regexp_count(col("text"), lit(email)).cast("long").as("e"),
        regexp_count(col("text"), lit(phone)).cast("long").as("p"),
        regexp_count(col("text"), lit(idrun)).cast("long").as("i"),
        size(tokensCol).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        sum(col("e")).as("n_emails"), sum(col("p")).as("n_phones"),
        sum(col("i")).as("n_idruns"))
      .withColumn("pii_per_10k",
        when(col("n_tokens") > 0L, round(
          (lit(10000L) * (col("n_emails") + col("n_phones") +
            col("n_idruns"))).cast("double") / col("n_tokens"), 6)))
      .orderBy(col("source"))
  }

  /** Per-source TOKENIZER FERTILITY: chars per token and tokens per
    * document — the budget constants that turn a byte-sized crawl
    * estimate into a token count (and the drift screen for a source
    * whose markup suddenly inflates token mass). Exact integer sums,
    * two fixed closing divisions; one map-side-combined aggregate,
    * result bounded by source cardinality. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), size(tokensCol).cast("long").as("t"),
        length(col("text")).cast("long").as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        sum(col("c")).as("n_chars"))
      .withColumn("chars_per_token",
        when(col("n_tokens") > 0L,
          round(col("n_chars").cast("double") / col("n_tokens"), 6)))
      .withColumn("tokens_per_doc",
        round(col("n_tokens").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))

  /** Per-source ENCODING-ARTIFACT SCREEN — the mojibake/corruption
    * budget line a crawl triage reads before any content filter:
    * counts of U+FFFD replacement characters (a decoder already gave
    * up), C0 control characters (binary bleed; tab/newline/CR exempt),
    * UTF-8-read-as-Latin-1 marker sequences (Ã/Â/â€ followed by a
    * continuation-range char — the classic double-encoding signature),
    * and the non-ASCII mass that contextualizes them, folded to one
    * row per source with a bad-chars-per-10k-chars density. Row-local
    * regexp counting, one map-side-combined aggregate bounded by
    * source cardinality; density closes in one fixed double division
    * over exact integer sums. */
  def mojibakeScreen(spark: SparkSession, dir: String): DataFrame = {
    val control = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
    val moji = "\\x{00c3}[\\x{0080}-\\x{00ff}]|\\x{00e2}\\x{20ac}" +
      "|\\x{00c2}[\\x{00a0}-\\x{00bf}]"
    Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("c"),
        regexp_count(col("text"), lit("\\x{fffd}")).cast("long").as("r"),
        regexp_count(col("text"), lit(control)).cast("long").as("k"),
        regexp_count(col("text"), lit(moji)).cast("long").as("m"),
        regexp_count(col("text"), lit("[^\\x00-\\x7F]")).cast("long")
          .as("na"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_chars"),
        sum(col("r")).as("n_replacement"), sum(col("k")).as("n_control"),
        sum(col("m")).as("n_mojibake"), sum(col("na")).as("n_nonascii"))
      .withColumn("bad_per_10k",
        when(col("n_chars") > 0L, round(
          (lit(10000L) * (col("n_replacement") + col("n_control") +
            col("n_mojibake"))).cast("double") / col("n_chars"), 6)))
      .orderBy(col("source"))
  }

  /** Per-source SENTENCE-SEGMENTATION statistics: sentence count
    * (non-blank segments between [.!?]+ runs), sentences per document,
    * and mean whitespace-tokens per sentence — the structural
    * complement of [[tokenFertility]] (a source whose sentences
    * suddenly lengthen is usually concatenation or markup damage, and
    * packing/chunking budgets are sized in sentences). Both engines
    * drop blank segments explicitly, so trailing-empty split semantics
    * never reach the result. Row-local split + one source-bounded
    * aggregate; ratios close in fixed divisions over exact sums. */
  def sentenceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(filter(split(col("text"), "[.!?]+"),
          s => trim(s) =!= lit(""))).cast("long").as("s"),
        size(tokensCol).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s")).as("n_sents"),
        sum(col("t")).as("n_tokens"))
      .withColumn("sents_per_doc",
        round(col("n_sents").cast("double") / col("n_docs"), 6))
      .withColumn("tokens_per_sent",
        when(col("n_sents") > 0L,
          round(col("n_tokens").cast("double") / col("n_sents"), 6)))
      .orderBy(col("source"))

  /** Per-source FLESCH READING-EASE panel: words/sentence and
    * vowel-group syllables/word assembled from exact corpus sums, with
    * the classic 206.835 − 1.015·wps − 84.6·spw score — the
    * readability axis of a quality-mixture decision (too-easy boiler
    * and too-hard OCR soup both score away from prose). The syllable
    * proxy is the deterministic [aeiouy]+ run count — a heuristic, but
    * an EXACTLY specified one, so the whole operator stays on the
    * oracle surface: integer sums, then a fixed tree of two
    * correctly-rounded divisions and the affine close. Degenerate
    * sources (no sentences / no words) report NULL, not a throw. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(filter(split(col("text"), "[.!?]+"),
          s => trim(s) =!= lit(""))).cast("long").as("s"),
        size(tokensCol).cast("long").as("t"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s")).as("n_sents"),
        sum(col("t")).as("n_words"), sum(col("y")).as("n_syllables"))
      .withColumn("words_per_sent",
        when(col("n_sents") > 0L,
          round(col("n_words").cast("double") / col("n_sents"), 6)))
      .withColumn("syll_per_word",
        when(col("n_words") > 0L,
          round(col("n_syllables").cast("double") / col("n_words"), 6)))
      .withColumn("flesch",
        when(col("n_sents") > 0L && col("n_words") > 0L,
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
            6)))
      .orderBy(col("source"))

  /** ROUGE-N OVERLAP PANEL (set/Dice form): distinct unigram and
    * bigram precision / recall / F1 for every pair of the bounded md5
    * panel — the n-gram-overlap eval kernel (summary-vs-reference,
    * paraphrase mining, cross-source template detection) expressed as
    * the same panelN²-bounded broadcast pair kernel as the minhash
    * audit. Set semantics (distinct grams) keep both engines on
    * identical integer intersections; P = o/|B|, R = o/|A|,
    * F1 = 2o/(|A|+|B|) close in fixed divisions. Linear in the corpus
    * (panel membership is one broadcast semi-join); pair mass is
    * panelN², bounded at any scale. */
  def rougePairs(spark: SparkSession, dir: String, panelN: Int = 20)
      : DataFrame = {
    val panel = Sampling.md5TopN(Tables.documents(spark, dir),
      "doc_id", panelN)
      .select(col("doc_id"), tokensCol.as("toks"))
      .select(col("doc_id"), array_distinct(col("toks")).as("g1"),
        array_distinct(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
            |  slice(toks, 2, size(toks) - 1),
            |  (a, b) -> concat(a, ' ', b))""".stripMargin)).as("g2"))
      .localCheckpoint()
    val a = panel.select(col("doc_id").as("doc_a"), col("g1").as("g1a"),
      col("g2").as("g2a"))
    val b = panel.select(col("doc_id").as("doc_b"), col("g1").as("g1b"),
      col("g2").as("g2b"))
    val pairs = a.join(broadcast(b), col("doc_a") < col("doc_b"))
    val grams = pairs.select(col("doc_a"), col("doc_b"), lit(1L).as("n"),
        col("g1a").as("ga"), col("g1b").as("gb"))
      .unionAll(pairs.select(col("doc_a"), col("doc_b"), lit(2L).as("n"),
        col("g2a").as("ga"), col("g2b").as("gb")))
    grams.select(col("doc_a"), col("doc_b"), col("n"),
        graft.functions.HashExpressions.intersectSize(col("ga"), col("gb"))
          .cast("long").as("inter"),
        size(col("ga")).cast("long").as("sz_a"),
        size(col("gb")).cast("long").as("sz_b"))
      .withColumn("prec", when(col("sz_b") > 0L,
        round(col("inter").cast("double") / col("sz_b"), 6)))
      .withColumn("rec", when(col("sz_a") > 0L,
        round(col("inter").cast("double") / col("sz_a"), 6)))
      .withColumn("f1", when(col("sz_a") + col("sz_b") > 0L,
        round((lit(2L) * col("inter")).cast("double")
          / (col("sz_a") + col("sz_b")), 6)))
      .orderBy(col("doc_a"), col("doc_b"), col("n"))
  }

  /** PII detection + redaction battery (training-data hygiene): count
    * and mask email / phone-like / long-digit-run patterns. Pure regexp
    * expressions — linear scan, trivially partitionable. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9() .-]{7,}[0-9]"
    val idrun = "[0-9]{9,}"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(phone)).cast("long").as("n_phones"),
        regexp_count(col("text"), lit(idrun)).cast("long").as("n_idruns"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          email, "<EMAIL>"), phone, "<PHONE>"), idrun, "<ID>"))
          .as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-based quality filter (Gopher/RefinedWeb-style): share of
    * the document occupied by its most frequent token, and distinct
    * token ratio. High top-token share = boilerplate/spam signal.
    * Computed in ONE row-local pass: sort the token array, then a
    * single `aggregate` fold tracks (current run, longest run, distinct
    * count) — zero shuffle (the explode + double-groupBy formulation
    * shuffles one row per TOKEN, i.e. ~corpus word count). O(n log n)
    * per document, embarrassingly parallel across the corpus. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("acc", expr(
        """aggregate(array_sort(toks),
          |  struct(CAST(NULL AS STRING) AS prev, 0L AS run,
          |         0L AS maxr, 0L AS nd),
          |  (a, x) -> struct(x,
          |    IF(x <=> a.prev, a.run + 1L, 1L),
          |    GREATEST(a.maxr, IF(x <=> a.prev, a.run + 1L, 1L)),
          |    a.nd + IF(x <=> a.prev, 0L, 1L)))""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(col("acc.maxr").cast("double") / size(col("toks")), 4)
          .as("top_tok_share"),
        round(col("acc.nd").cast("double") / size(col("toks")), 4)
          .as("distinct_ratio"))
      .orderBy(col("doc_id"))

  /** Document-length histogram: 50-char buckets — the corpus-shape
    * profile every pipeline run reports. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy((floor(length(col("text")) / 50) * 50).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("len_bucket"))

  /** Document fingerprint: md5 over whitespace-normalized lowercase text
    * (the oracle-checkable half; the rolling-hash shingle set feeds the
    * Dedup family and is spec-checked). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(normText).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Benchmark-contamination detection (the decontamination step every
    * serious training pipeline runs before training): for each document
    * of the held-out eval source, the share of its distinct token
    * n-grams that appear anywhere in the training side of the corpus.
    * Plan shape at 100 TB: the train-gram distinct is the one heavy
    * shuffle (inherent — it IS the decontamination index); the eval
    * side is benchmark-sized, so AQE broadcasts it into the final join
    * and the runtime bloom filter built from it prunes the train-gram
    * stream. N-grams are generated row-locally (no token explode
    * before the distinct). */
  def contamination(spark: SparkSession, dir: String,
      evalSource: String = "src0", n: Int = 5): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokensCol.as("t"))
      .select(col("doc_id"), col("source"),
        // native gram kernel: returns EMPTY below n tokens, exactly
        // like the former when(size >= n, …).otherwise(array()) guard
        explode(array_distinct(graft.functions.HashExpressions
          .tokenGrams(col("t"), n))).as("g"))
    val train = grams.filter(col("source") =!= evalSource)
      .select(col("g")).distinct()
      .withColumn("hit", lit(1))
    val evalG = grams.filter(col("source") === evalSource)
      .select(col("doc_id"), col("g"))
    evalG.join(train, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_contaminated"),
        round(count(col("hit")).cast("double") / count(lit(1)), 4)
          .as("contamination_share"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge-candidate counting — step 1 of byte-pair/wordpiece vocab
    * induction: frequency of every ADJACENT token pair, top-N by count.
    * Pairs are generated row-locally (no pre-explode self-join — the
    * adjacency is an array transform inside the scan), so the only
    * shuffle is the pair-count aggregation, map-side combined. The
    * size(t) >= 2 guard matters: Spark's sequence(1, 0) counts DOWN, so
    * an unguarded single-token doc would emit a phantom pair. */
  def bpePairs(spark: SparkSession, dir: String, topN: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(tokensCol.as("t"))
      .select(explode(when(size(col("t")) >= 2, expr(
        "transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i]))"))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)

  /** BPE merge TRAINING (vocab induction steps 1..N; [[bpePairs]] is a
    * single step's count): N rounds of "count adjacent pairs, adopt the
    * most frequent as a merge, rewrite the corpus". Each round is one
    * map-side-combined pair count (shuffle ~ |distinct pairs|) plus a
    * ROW-LOCAL rewrite — the left-to-right non-overlapping merge is a
    * fold over the token array (`aggregate` HOF carrying (out, pending)
    * state), so the rewrite costs a scan, never a shuffle. Intermediate
    * corpora localCheckpoint so round R's plan doesn't replay rounds
    * 1..R-1 (a cluster deployment would checkpoint(dir)). Pairs are
    * tracked STRUCTURALLY as (left, right) — merged tokens contain
    * separators, so a concatenated pair string cannot be split back.
    * Ties break on (left, right) text for cross-run determinism.
    * Returns the learned merge table (rank, left, right, freq) — the
    * vocabulary artifact a tokenizer consumes. */
  def bpeTrain(spark: SparkSession, dir: String,
      nMerges: Int = 5): DataFrame = {
    import spark.implicits._
    var corpus = Tables.documents(spark, dir)
      .select(tokensCol.as("t")).localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var rank = 1L
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = corpus
        .select(explode(bigramStructs("t")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < 2) exhausted = true
      else {
        val a = top.head.getString(0)
        val b = top.head.getString(1)
        val freq = top.head.getLong(2)
        merges += ((rank, a, b, freq))
        corpus = corpus.select(mergeFold("t", a, b).as("t")).localCheckpoint()
        rank += 1
      }
    }
    merges.result().toDF("rank", "left", "right", "freq").orderBy(col("rank"))
  }

  /** The left-to-right non-overlapping merge of adjacent (a, b) token
    * pairs as a row-local fold: `aggregate` HOF carrying (out, pending)
    * state — (pending==a && t==b) emits the merged token and clears
    * pending. Shared by [[bpeTrain]] (one merge per round) and
    * [[bpeApply]] (replay of a learned table). */
  private def mergeFold(tokCol: String, a: String, b: String): Column =
    graft.functions.HashExpressions.pairMergeFold(col(tokCol), a, b)

  /** The declarative twin of the native fold — kept as the reference
    * implementation the parity spec compares [[mergeFold]] against
    * (identical pending-token state machine; the `array_append` copies
    * make it O(n²) per row, which is why the hot path runs the
    * kernel). */
  private[graft] def mergeFoldDeclarative(tokCol: String, a: String,
      b: String): Column = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val (aLit, bLit) = (esc(a), esc(b))
    expr(
      s"""aggregate($tokCol,
         |  struct(CAST(array() AS array<string>) AS out, CAST(NULL AS string) AS pend),
         |  (s, x) -> CASE
         |    WHEN s.pend = '$aLit' AND x = '$bLit'
         |      THEN struct(array_append(s.out, '$aLit $bLit') AS out, CAST(NULL AS string) AS pend)
         |    WHEN s.pend IS NULL THEN struct(s.out AS out, x AS pend)
         |    ELSE struct(array_append(s.out, s.pend) AS out, x AS pend) END,
         |  s -> CASE WHEN s.pend IS NULL THEN s.out
         |            ELSE array_append(s.out, s.pend) END)""".stripMargin)
  }

  /** Tokenizer APPLY: replay a learned merge table (rank order) over a
    * document set — the inference half of [[bpeTrain]]. All merges are
    * row-local fold rewrites composed into ONE lazy projection chain
    * (no checkpoint, no shuffle, no iteration over data — N merges cost
    * one scan with N fused rewrites); at 100 TB this is a single
    * embarrassingly-parallel pass. Applying the table bpeTrain learned
    * to bpeTrain's own corpus reproduces the trainer's final rewritten
    * corpus (spec-checked). */
  def bpeApply(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val toks = docs.select(col("doc_id"), tokensCol.as("t"))
    val applied = merges.foldLeft(toks) { case (df, (a, b)) =>
      df.select(col("doc_id"), mergeFold("t", a, b).as("t"))
    }
    applied.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      col("t").as("tokens"))
  }

  /** Unigram log-probability scoring (CCNet-style language-model-lite
    * quality signal): score each document by the mean log corpus
    * frequency of its tokens — spammy/templated text scores high,
    * rare-garbage text scores low. Two-stage plan: stage 1 builds the
    * unigram table (one token-level shuffle — the vocabulary build);
    * stage 2 rescans the corpus and joins tokens to the vocab, which
    * AQE broadcasts while it fits (real vocabularies cap via min-count
    * pruning). The corpus total rides along as a 1-row broadcast rather
    * than a driver round-trip. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramScored(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("s").as("avg_logprob"))
      .orderBy(col("doc_id"))

  /** The shared per-document unigram scoring subplan of
    * [[unigramLogprob]] and [[qualityTiers]] — (doc_id, lang,
    * n_tokens, s) where s is the 4-decimal rounded mean log corpus
    * frequency. One tokenize, one vocab shuffle, one broadcastable
    * vocab join; the single source of truth so score semantics cannot
    * drift between the scorer and its tier consumer. */
  private def unigramScored(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(tokensCol).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("n_corpus"))
    toks.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("c").cast("double") / col("n_corpus"))), 4).as("s"))
  }

  /** Character-entropy quality signal via the native [[
    * graft.functions.CharEntropy]] expression: Shannon entropy (bits)
    * of each document's code-point distribution, plus the ratio against
    * the maximum possible at its alphabet size (entropy / log2(distinct
    * chars)) — low raw entropy flags repeated-character garbage, a low
    * ratio flags skewed keyboard-mash. One row-local codegen'd pass per
    * document; the explode→groupBy formulation this replaces shuffles a
    * row per CHARACTER of the corpus. */
  def charEntropyProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.charEntropy
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        round(charEntropy(col("text")), 4).as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** Pointwise-mutual-information collocations (the classic bigram
    * association score behind phrase mining / tokenizer seeding):
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) from the adjacent
    * bigram distribution and p(a), p(b) from the unigram distribution.
    * High-PMI pairs co-occur far more than their token frequencies
    * predict — multiword expressions, not just frequent pairs (which is
    * what raw [[bpePairs]] counts rank).
    *
    * Plan shape: bigrams are generated row-locally (same transform as
    * bpePairs — no pre-explode self-join), so the corpus costs one
    * token-level and one bigram-level map-side-combined count. The
    * unigram joins hit a vocabulary-sized table (AQE broadcasts while
    * it fits) and both totals ride as 1-row broadcasts. The min-count
    * floor kills the unstable low-frequency tail — the standard PMI
    * correction AND the thing that keeps the scored bigram table
    * pruned at 100 TB. */
  def pmiCollocations(spark: SparkSession, dir: String, minCount: Int = 5,
      topN: Int = 50): DataFrame = {
    val toks = Tables.documents(spark, dir).select(tokensCol.as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totTok = uni.agg(sum(col("c")).cast("double").as("t_tok"))
    val pairs = toks
      .select(explode(bigramStructs("t")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("n"))
    val totPair = pairs.agg(sum(col("n")).cast("double").as("t_pair"))
    // formula written as ONE quotient of products, mirrored verbatim in
    // the oracle so both engines execute the identical IEEE op sequence
    pairs.filter(col("n") >= minCount)
      .join(uni.select(col("tok").as("l"), col("c").as("c_l")), Seq("l"))
      .join(uni.select(col("tok").as("r"), col("c").as("c_r")), Seq("r"))
      .crossJoin(broadcast(totTok)).crossJoin(broadcast(totPair))
      .select(col("l"), col("r"), col("n"),
        round(log(
          (col("n").cast("double") * col("t_tok") * col("t_tok")) /
            (col("t_pair") * col("c_l").cast("double") * col("c_r").cast("double"))),
          4).as("pmi"))
      .orderBy(col("pmi").desc, col("l"), col("r"))
      .limit(topN)
  }

  /** Vocabulary-coverage / OOV-rate scoring: share of each document's
    * tokens outside the top-`vocabSize` corpus vocabulary — the signal
    * behind "will my tokenizer fragment this doc into bytes". The vocab
    * is an aggregate + deterministic top-N (count desc, token asc), a
    * fixed-size table broadcast into a row-local membership probe; the
    * only corpus-sized shuffle is the vocabulary count itself. */
  def vocabCoverage(spark: SparkSession, dir: String,
      vocabSize: Int = 100): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokensCol).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - count(col("in_vocab"))).as("n_oov"),
        round((count(lit(1)) - count(col("in_vocab"))).cast("double")
          / count(lit(1)), 4).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated bigram language-model scoring — the two-gram upgrade
    * of [[unigramLogprob]] (CCNet uses a 5-gram KenLM; the interpolated
    * bigram is the same signal class with the same plan shape): each
    * document scores the mean over its bigram positions of
    * ln( λ·P(b|a) + (1−λ)·P(b) ), P(b|a) = c(ab)/c(a), P(b) = c(b)/T.
    * Interpolation (not backoff) keeps the score total and smooth —
    * unseen bigrams can't occur when the model is trained on the scored
    * corpus itself, but λ<1 still damps one-off bigram noise.
    *
    * Plan shape: ONE bigram-level count (map-side combined) builds the
    * model; the scoring pass re-generates each doc's bigrams row-locally
    * and equi-joins the model table on (l, r) — at 100 TB the model is
    * min-count-pruned in practice and the join is the same
    * vocabulary-join shape as unigram scoring; the unigram sides are
    * broadcastable and the corpus total rides as a 1-row broadcast. */
  def bigramLogprob(spark: SparkSession, dir: String,
      lambda: Double = 0.7): DataFrame = {
    // materialized ONCE: the model count and the scoring join both read
    // the exploded bigram frame — lazily the corpus-wide tokenize +
    // explode executes once per consumer (the alias plans differ, so
    // ReuseExchange cannot fold them)
    val docBigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol.as("t"))
      .select(col("doc_id"), explode(bigramStructs("t")).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
      .localCheckpoint()
    val bi = docBigrams.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c_ab"))
    val uni = Tables.documents(spark, dir)
      .select(explode(tokensCol).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totTok = uni.agg(sum(col("c")).cast("double").as("t_tok"))
    docBigrams
      .join(bi, Seq("l", "r"))
      .join(uni.select(col("tok").as("l"), col("c").as("c_l")), Seq("l"))
      .join(uni.select(col("tok").as("r"), col("c").as("c_r")), Seq("r"))
      .crossJoin(broadcast(totTok))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(
          lit(lambda) * (col("c_ab").cast("double") / col("c_l").cast("double"))
            + lit(1.0 - lambda) * (col("c_r").cast("double") / col("t_tok")))),
          4).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Heavy tokens per language by sketch-then-recount: a Misra–Gries
    * summary ([[graft.functions.HeavyHitters]], constant memory per
    * group, map-side combined) finds CANDIDATE tokens; an exact second
    * pass recounts only those candidates (broadcast semi-join — the
    * recount groupBy shuffles candidate hits, never the full distinct
    * vocabulary) and keeps tokens with frequency > n/(k+1). The MG
    * recall guarantee makes the two-pass result provably EQUAL to the
    * exact all-tokens computation — which is what the DuckDB oracle
    * runs — while the sketch pass is what survives a 100 TB vocabulary.
    * The threshold compares integers (cnt·(k+1) > n): no float
    * boundary. */
  def heavyTokens(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // materialized ONCE: the sketch pass and the candidate recount both
    // read the exploded token frame — without the checkpoint each pass
    // re-tokenizes the raw corpus, doubling the dominant scan cost
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokensCol).as("tok"))
      .localCheckpoint()
    val sketch = toks.groupBy(col("lang"))
      .agg(graft.functions.Aggregates.heavyHitters(col("tok"), k).as("hh"),
        count(lit(1)).as("n"))
    val candidates = sketch
      .select(col("lang"), col("n"), explode(col("hh")).as("e"))
      .select(col("lang"), col("n"), col("e.item").as("tok"))
    toks.join(broadcast(candidates), Seq("lang", "tok"))
      .groupBy(col("lang"), col("tok"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(col("lang"), col("tok"), col("cnt"))
      .orderBy(col("lang"), col("cnt").desc, col("tok"))
  }

  /** CCNet-style quality-tier partition (Wenzek et al. 2020: split each
    * language's documents into head/middle/tail by language-model score;
    * the tail gets dropped or down-weighted when assembling training
    * data). The score is the unigram log-probability of
    * [[unigramLogprob]]; what differs is HOW documents rank into tiers.
    * The obvious `ntile(k) OVER (PARTITION BY lang ORDER BY score)`
    * puts an entire language into one window partition — at 100 TB
    * that is corpus/n_langs rows on a single task, the classic global-
    * window scale killer. Instead tiers come from the per-language
    * DISTINCT-SCORE distribution: scores are rounded to 4 decimals, so
    * the cumulative window runs over (lang, score) groups — thousands
    * of rows per language, not billions — and a score group's tier is
    * `(docs strictly better) * nTiers div n + 1`, pure BIGINT
    * arithmetic that both engines evaluate identically. Equal scores
    * share a tier (threshold semantics): the only stable choice once
    * ranking is distributional, and what you want operationally — two
    * identical-quality documents never land on opposite sides of a
    * keep/drop boundary because of a doc_id tiebreak.
    *
    * Residual cross-engine risk, accepted and bounded: the rounded
    * score feeds GROUP membership, so a document whose unrounded mean
    * sits within 1 ulp of a .00005 rounding midpoint could in
    * principle round differently per engine and shift one count
    * between adjacent tiers. The same rounded value is already on the
    * hash-compared surface of `q_unigram_logprob` (green at both
    * verification SFs), so any such divergence fails THAT oracle
    * first — this query adds no new float boundary, it only consumes
    * one that is independently pinned.
    *
    * The DuckDB oracle and the driver compare fix nTiers = 3 (the
    * CCNet head/middle/tail); other values are API surface, exercised
    * by the nTiers=5 spec, not by the oracle. */
  def qualityTiers(spark: SparkSession, dir: String, nTiers: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dist = unigramScored(spark, dir)
      .groupBy(col("lang"), col("s")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-language totals come from a whole-partition frame over the
    // SAME tiny dist relation — not a second aggregation of the
    // corpus-scale scored subtree, which would scan token volume twice
    // whenever exchange reuse is defeated
    val wLang = Window.partitionBy(col("lang"))
    dist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("nbetter", col("cum") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wLang))
      .withColumn("tier", expr(s"nbetter * $nTiers div n + 1"))
      .groupBy(col("lang"), col("tier"))
      .agg(sum(col("cnt")).as("n_docs"),
        round(max(col("s")), 4).as("best_lp"),
        round(min(col("s")), 4).as("worst_lp"))
      .orderBy(col("lang"), col("tier"))
  }

  /** Token-budget selection — "assemble the best N tokens": admit
    * whole quality-score groups from the top down while the cumulative
    * token count stays within budget (the boundary group that would
    * overflow is excluded, so the kept set is deterministic and
    * tie-safe: equal-scoring docs are admitted or excluded together,
    * never split by an arbitrary doc ordering).
    *
    * Scale shape (the `qualityTiers` argument, sharpened): the global
    * cumulative window runs over the DISTINCT rounded-score relation,
    * which is hard-capped at 10,001 rows (quality ∈ [0,1] at 4
    * decimals) REGARDLESS of corpus size — a corpus-level greedy
    * selection whose windowed state never grows with the corpus. The
    * heavy work is one map-side-combined groupBy(score) over the docs
    * scan. All-integer token sums → exact cross-engine. */
  def tokenBudgetSelect(spark: SparkSession, dir: String,
      budgetTokens: Long = 20000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), qualityCol.as("quality"),
        size(tokensCol).cast("long").as("n_tok"))
    val dist = docs.groupBy(col("quality"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("grp_tokens"))
    val wCum = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dist
      .withColumn("cum_tokens", sum(col("grp_tokens")).over(wCum))
      .withColumn("selected", col("cum_tokens") <= budgetTokens)
      .orderBy(col("quality").desc)
  }

  /** Per-source token quotas — the domain-capping step of mixture
    * control (no source may contribute more than its quota to the
    * training mix, regardless of how much raw text it crawled):
    * [[tokenBudgetSelect]]'s greedy score-group prefix, partitioned by
    * source. Every window partition is one source's distinct
    * rounded-score relation (≤ 10,001 rows by construction), so no
    * source — however large its crawl — ever concentrates more than a
    * bounded slice of window state on one task. Whole-group admission
    * keeps the per-source kept set deterministic and tie-safe. */
  def sourceQuotaSelect(spark: SparkSession, dir: String,
      quotaTokens: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), qualityCol.as("quality"),
        size(tokensCol).cast("long").as("n_tok"))
    val dist = docs.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("grp_tokens"))
    val wCum = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dist
      .withColumn("cum_tokens", sum(col("grp_tokens")).over(wCum))
      .withColumn("selected", col("cum_tokens") <= quotaTokens)
      .orderBy(col("source"), col("quality").desc)
  }

  /** WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every `k`-token gram, slide
    * a window of `w` consecutive gram hashes, keep each window's
    * MINIMUM hash, emit the distinct selected hashes per document.
    * The winnowing guarantee: any shared token run of length
    * ≥ `w + k - 1` between two documents produces at least one SHARED
    * fingerprint, while storage is ~1/w of the gram count — the
    * standard local fingerprinting scheme for plagiarism / near-dup
    * detection where [[fingerprint]]'s whole-document digest is too
    * brittle and the full shingle set too large.
    *
    * Scale shape: gram hashing and window-min selection are one
    * row-local projection chain (nested `transform` over arrays — no
    * explode before selection, so the shuffle-facing row count is
    * already down-sampled ~1/w). Hashes are lexicographic-min over
    * md5 hex prefixes: engine-portable and uniform, which is all the
    * min-selection needs. Output is the exploded (doc_id, fp)
    * relation — composable as a join key for fingerprint-overlap
    * candidate generation. */
  def winnowFingerprints(spark: SparkSession, dir: String,
      k: Int = 4, w: Int = 5): DataFrame =
    winnowFpsOf(Tables.documents(spark, dir), k, w)
      .orderBy(col("doc_id"), col("fp"))

  /** The unordered (doc_id, fp) winnow relation — the library form
    * [[winnowCandidates]] composes (presentation ordering belongs to
    * the query edge, not inside an operator another join consumes).
    *
    * The token and gram-hash arrays are LET-BOUND as lambda variables
    * (`transform(array(x), t -> …)[1]`) instead of aliased projection
    * columns: CollapseProject inlines a column alias into the lambda
    * bodies that reference it, and an expression inlined into a
    * `transform` lambda re-evaluates PER ELEMENT — the chained
    * toks→hs→fps aliases collapsed into O(tokens³)-per-doc interpreted
    * eval (caught live by a thread dump: `String.split` at the bottom
    * of a per-window-element stack). A bound lambda variable cannot be
    * inlined away, so each array is computed exactly once per row. */
  private[graft] def winnowFpsOf(docs: DataFrame, k: Int, w: Int): DataFrame = {
    // Both stages are native kernels now (GramDigests → WinnowMins):
    // one pass each per row, no interpreted per-window lambdas — which
    // also retires this function's historical let-binding contortions
    // against CollapseProject inlining (a nested scalar kernel call
    // evaluates exactly once per row wherever the optimizer puts it).
    // Identical output: md5-hex[0,16) window digests, sliding-w minima,
    // first-occurrence distinct; docs under k tokens drop at the guard.
    import graft.functions.HashExpressions.{gramDigests, winnowMins}
    docs
      .select(col("doc_id"),
        when(size(normToks) >= k,
          winnowMins(gramDigests(normToks, k, 16), w)).as("fps"))
      .filter(col("fps").isNotNull)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
  }

  /** Near-dup CANDIDATE pairs from shared winnow fingerprints — the
    * join [[winnowFingerprints]] exists to feed (MOSS's match step):
    * doc pairs sharing ≥ `minShared` selected fingerprints, with the
    * shared count as the match strength. Fingerprints carried by more
    * than `maxFpDf` documents are EXCLUDED from pair generation — they
    * are corpus boilerplate (the [[Dedup.boilerplateGrams]] kind), and
    * a fingerprint shared by d documents emits d·(d−1)/2 pairs: the
    * cap is what keeps the bucket join's hottest key bounded at any
    * corpus size (the same df-capping every production fingerprint
    * index applies), so candidate volume scales with true near-dup
    * mass, not with how popular one license header is.
    *
    * Scale shape: one fp-keyed count (map-side combined) semi-filters
    * the relation, one fp-keyed self-join emits pairs, one pair-keyed
    * count — no stage sees more than `maxFpDf`-bounded bucket fanout. */
  def winnowCandidates(spark: SparkSession, dir: String,
      k: Int = 4, w: Int = 5, minShared: Int = 2,
      maxFpDf: Int = 50): DataFrame = {
    // the fp relation feeds the df count AND both self-join sides —
    // checkpoint once instead of re-hashing the corpus three times
    val fps = winnowFpsOf(Tables.documents(spark, dir), k, w).localCheckpoint()
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df")) // fps are distinct per doc: count == doc df
      .filter(col("df") <= maxFpDf)
      .select(col("fp"))
    val kept = fps.join(rare, Seq("fp"), "left_semi")
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Persisted WINNOW fingerprint index — the sixth index family on
    * the shared build/probe/append contract (MinHash, containment,
    * BM25, IVF, edit, winnow): the corpus fp relation stored BUCKETED
    * BY fp so probing an arriving batch is an equi-join that shuffles
    * only the batch, plus a LOG-STRUCTURED fp-df relation (build
    * writes one count segment, appends add segments, probes sum on
    * read — exact integer merge) for the df cap, and a `_meta` table
    * pinning (k, w, maxFpDf) so probes can never run with mismatched
    * shingle parameters (the edit-index `_meta` pattern). Winnow's
    * niche among the families: substring-robust local fingerprints at
    * ~1/w the containment index's posting volume. */
  def buildWinnowIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8, k: Int = 4, w: Int = 5, maxFpDf: Int = 50): Unit = {
    val fps = winnowFpsOf(Tables.documents(spark, dir), k, w).localCheckpoint()
    graft.sources.FormatIO.writeBucketed(
      fps.withColumnRenamed("doc_id", "idx_doc")
        .withColumn("epoch", lit(0L)), s"${name}_fps",
      "fp", nBuckets, sortCol = Some("fp"))
    graft.sources.FormatIO.writeSegment(spark, s"${name}_fpdf",
      fps.groupBy(col("fp")).agg(count(lit(1)).as("df")), 0L, replace = true)
    import spark.implicits._
    Seq((k, w, maxFpDf)).toDF("k", "w", "max_fp_df")
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_meta")
    graft.sources.FormatIO.initIndex(spark, name, "idx_doc")
  }

  /** TOMBSTONE-DELETE documents from the persisted winnow index — a
    * [[graft.sources.FormatIO.deleteWave]] whose compensating segment
    * is a NEGATIVE df segment derived from the index's OWN postings, so
    * the merged fp-df reports each fingerprint's live document
    * frequency exactly and the df cap reflects deletions (a
    * boilerplate fp whose carriers were erased re-enters candidate
    * generation the moment its live df drops under the cap). */
  def deleteFromWinnowIndex(spark: SparkSession, name: String,
      docIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name,
      docIds.select(col("doc_id").as("idx_doc")), Seq(s"${name}_fpdf" ->
        graft.sources.FormatIO.subtractDf(spark, s"${name}_fps", "fp")))

  /** Physically erase tombstoned documents from the fp postings and
    * collapse the fp-df log into one segment counted from the purged
    * postings. */
  def purgeWinnowTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name, Seq(s"${name}_fps"),
      graft.sources.FormatIO.rebuildDfLog(spark, s"${name}_fpdf",
        s"${name}_fps", "fp", _)).head

  /** Probe the persisted winnow index with a batch of documents
    * (`doc_id`, `text`): directed (probe doc → index doc) pairs
    * sharing ≥ `minShared` fingerprints, with the shared count.
    * Shingle/window params and the df cap come from the index's
    * `_meta` (a probe can't silently mismatch the stored layout); the
    * df merge semi-joins the PROBE's fingerprints below the
    * log-segment sum, so per-probe df cost is O(probe fingerprints),
    * never O(corpus vocabulary). Probing the index's own corpus
    * reproduces [[winnowCandidates]] symmetrized (spec-checked). No
    * terminal orderBy: probes are library operators (PlanHygieneSpec
    * asserts no global Sort). */
  def probeWinnowIndex(spark: SparkSession, name: String,
      newDocs: DataFrame, minShared: Int = 2): DataFrame = {
    val meta = spark.table(s"${name}_meta").collect().head
    val (k, w) = (meta.getAs[Int]("k"), meta.getAs[Int]("w"))
    val maxFpDf = meta.getAs[Int]("max_fp_df")
    // one pin for fps + fpdf + tombstones (FormatIO index epochs)
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val probe = winnowFpsOf(newDocs, k, w).localCheckpoint()
    val dfreq = graft.sources.FormatIO.readDfLog(spark, s"${name}_fpdf", pin,
      probe.select(col("fp")).distinct())
    val rare = dfreq.filter(col("df") <= maxFpDf).select(col("fp"))
    // live postings: a deleted doc's df mass is already subtracted by
    // its delete's negative segment
    probe.join(rare, Seq("fp"), "left_semi")
      .join(graft.sources.FormatIO.liveAt(spark, name, s"${name}_fps", pin),
        Seq("fp"))
      .filter(col("doc_id") =!= col("idx_doc"))
      .groupBy(col("doc_id"), col("idx_doc"))
      // countDistinct, not count: an at-least-once replayed append may
      // leave duplicate (idx_doc, fp) postings, and a raw join-row
      // count would inflate the match strength — distinct fps make the
      // pair count replay-proof (duplicate df rows only push a fp
      // TOWARD the cap: conservative, never phantom pairs)
      .agg(countDistinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DELTA APPEND a batch into the persisted winnow index — same
    * maintenance contract as the other five families:
    * `append(batch) ∘ build(corpus)` is probe-equal to
    * `build(corpus ∪ batch)` (parity-spec-proved; the fp relation is
    * append-only rows and the df merge is exact integer arithmetic),
    * per-wave cost O(batch). Compose with
    * [[graft.sources.FormatIO.compactBucketedTable]] for file
    * hygiene. Replay-safe by probe construction: when a stream replays
    * a committed batch (`Streams.foreachBatchStream`), pair strength
    * still counts DISTINCT fps (a duplicated posting can't inflate it)
    * and duplicate df rows only push a fingerprint toward the cap —
    * conservative exclusion, never phantom pairs. */
  def appendToWinnowIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit = {
    val meta = spark.table(s"${name}_meta").collect().head
    val (k, w) = (meta.getAs[Int]("k"), meta.getAs[Int]("w"))
    // fps + fpdf move under ONE epoch commit (FormatIO index epochs)
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_fps", s"${name}_fpdf"))
    val fps = winnowFpsOf(newDocs, k, w).localCheckpoint()
    graft.sources.FormatIO.appendBucketed(spark,
      fps.withColumnRenamed("doc_id", "idx_doc")
        .withColumn("epoch", lit(e)), s"${name}_fps")
    graft.sources.FormatIO.writeSegment(spark, s"${name}_fpdf",
      fps.groupBy(col("fp")).agg(count(lit(1)).as("df")), e)
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** Naive-Bayes TRAINING for supervised language/domain ID — the
    * sufficient statistics of the multinomial NB classifier (the
    * fastText-baseline class of corpus labelers): per (class = lang,
    * token) counts over the training split (doc_id % 10 ≠ 7 — the
    * same hash-split discipline as `Sampling.hashSplit`), class token
    * totals, and the class-conditional relative frequency. Counts are
    * exact BIGINTs; `rel_freq` is one correctly-rounded division, so
    * the whole model table is bit-identical across engines. The
    * smoothed NB log-weights are ln(n+1)−ln(total+V) — derivable from
    * these columns by any consumer; ln itself stays out of the oracle
    * surface (libm skew, SURVEY §4).
    *
    * Scale shape: one map-side-combined (lang, tok) count (THE
    * corpus-sized shuffle), then a broadcast join of the |langs|-row
    * totals frame. minCount prunes the emitted vocabulary; the totals
    * are computed BEFORE pruning (they must cover the full mass). */
  def nbTrain(spark: SparkSession, dir: String,
      minCount: Long = 20L): DataFrame =
    nbTrainOn(Tables.documents(spark, dir), minCount)

  /** Core of [[nbTrain]] over any (doc_id, lang, text) frame. */
  def nbTrainOn(docs: DataFrame, minCount: Long = 20L): DataFrame = {
    val toks = docs
      .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(col("lang"), explode(tokensCol).as("tok"))
    val counts = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("lang").as("t_lang"))
      .agg(sum(col("n")).as("class_tokens"))
    counts.filter(col("n") >= minCount)
      .join(broadcast(totals), col("lang") === col("t_lang"))
      .select(col("lang"), col("tok"), col("n"), col("class_tokens"),
        round(col("n").cast("double") / col("class_tokens"), 6)
          .as("rel_freq"))
      .orderBy(col("lang"), col("tok"))
  }

  /** CLASSIFY the held-out split (doc_id % 10 = 7) against the
    * [[nbTrain]] statistics with the ln-free additive scorer:
    * score(d, c) = Σ_t tf_dt · n_ct / T_c — the class-conditional
    * frequency dot product (the multinomial centroid member of the NB
    * family; the ln-smoothed variant changes only the per-pair kernel,
    * not the plan). The numerator is an exact BIGINT sum, T_c a BIGINT,
    * and the single division is correctly rounded — so scores, the
    * (score desc, lang asc) argmax, and the `correct` flag are all
    * bit-stable across engines and partitionings.
    *
    * Scale shape: test term frequencies shuffle once on tok into the
    * model join (model side is vocabulary-sized); per-(doc, class)
    * aggregation then a per-doc window over ≤ |langs| rows. Documents
    * sharing no vocabulary with any class never produce candidate rows
    * and drop out (impossible once any common token crosses minCount —
    * callers wanting a row per doc left-join this result back). */
  def nbClassify(spark: SparkSession, dir: String,
      minCount: Long = 20L): DataFrame =
    nbClassifyOn(Tables.documents(spark, dir), minCount)

  /** Core of [[nbClassify]] over any (doc_id, lang, text) frame —
    * split out so specs can drive disjoint-signature crafted corpora
    * through the score algebra. */
  def nbClassifyOn(docs: DataFrame, minCount: Long = 20L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val model = nbTrainOn(docs, minCount)
      .select(col("lang").as("m_lang"), col("tok"), col("n"),
        col("class_tokens"))
    val tf = docs
      .filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("lang").as("true_lang"),
        explode(tokensCol).as("tok"))
      .groupBy(col("doc_id"), col("true_lang"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(model, Seq("tok"))
      .groupBy(col("doc_id"), col("true_lang"), col("m_lang"))
      .agg(sum(col("tf") * col("n")).as("score_num"),
        max(col("class_tokens")).as("class_tokens"))
      .withColumn("score",
        round(col("score_num").cast("double") / col("class_tokens"), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("m_lang"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"),
        col("m_lang").as("pred_lang"), col("score_num"),
        col("class_tokens"), col("score"),
        (col("true_lang") === col("m_lang")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Stupid-backoff COVERAGE profile (Brants et al. 2007) — the
    * structural half of large-LM scoring: for every trigram position
    * of the held-out split (doc_id % 2 = 1), which model order the
    * backoff chain resolves at against the training split's counts —
    * trigram hit (level 3), else bigram (t₂t₃, level 2), else unigram
    * (t₃, level 1), else OOV (level 0). Per-document level counts are
    * exact integers (the score a KenLM-style filter thresholds on is
    * Σ level·λ — derivable; the λ^k weights would drag ln/pow onto the
    * oracle surface, the counts don't). `tri_rate` is the one
    * correctly-rounded division.
    *
    * Scale shape: three map-side-combined count relations over the
    * training split (tri/bi/uni), then the test trigram stream joins
    * each ON ITS OWN key (three shuffles, each bounded by test-corpus
    * trigram mass — at 100 TB these become the bucketed-model probe
    * the persisted-index families implement). No quadratic stage. */
  def backoffLevels(spark: SparkSession, dir: String): DataFrame =
    backoffLevelsOn(Tables.documents(spark, dir))

  /** Core of [[backoffLevels]] over any (doc_id, text) frame — split
    * out so specs can hand-compute the backoff chain on a crafted
    * train/test pair. */
  /** Row-local adjacent-trigram generation — the 3-gram sibling of
    * [[bigramStructs]], shared by [[backoffLevelsOn]] and the
    * persisted LM index. */
  private def triStructs(tokCol: String): Column =
    when(size(col(tokCol)) >= 3, expr(
      s"transform(sequence(2, size($tokCol) - 1), " +
        s"i -> struct($tokCol[i-2] AS a, $tokCol[i-1] AS b, $tokCol[i] AS c))"))
      .otherwise(expr(
        "CAST(array() AS array<struct<a:string,b:string,c:string>>)"))

  def backoffLevelsOn(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), tokensCol.as("t"))
    val train = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val tri = train.select(explode(triStructs("t")).as("g"))
      .groupBy(col("g.a").as("a"), col("g.b").as("b"), col("g.c").as("c"))
      .agg(count(lit(1)).as("n3"))
    val bi = train.select(explode(bigramStructs("t")).as("p"))
      .groupBy(col("p.l").as("b"), col("p.r").as("c"))
      .agg(count(lit(1)).as("n2"))
    val uni = train.select(explode(col("t")).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n1"))
    val test = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), explode(triStructs("t")).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"),
        col("g.c").as("c"))
    test
      .join(tri, Seq("a", "b", "c"), "left")
      .join(bi, Seq("b", "c"), "left")
      .join(uni, Seq("c"), "left")
      .withColumn("lvl",
        when(col("n3").isNotNull, 3)
          .when(col("n2").isNotNull, 2)
          .when(col("n1").isNotNull, 1)
          .otherwise(0))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_l3"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_l2"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_l1"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_l0"))
      .withColumn("tri_rate",
        round(col("n_l3").cast("double") / col("n_pos"), 6))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, gram) stream of all three model orders for the LM index —
    * trigrams/bigrams/unigrams space-joined into ONE gram key column.
    * The space count encodes the order unambiguously (tokens come from
    * a \\s+ split, so a token can never contain whitespace), which is
    * what lets one bucketed relation serve the whole backoff chain
    * with single-column equi-joins. */
  private def lmGramsOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokensCol.as("t"))
    toks.select(col("doc_id"), explode(triStructs("t")).as("g"))
      .select(col("doc_id"),
        concat_ws(" ", col("g.a"), col("g.b"), col("g.c")).as("gram"))
      .unionByName(toks.select(col("doc_id"),
        explode(bigramStructs("t")).as("p"))
        .select(col("doc_id"),
          concat_ws(" ", col("p.l"), col("p.r")).as("gram")))
      .unionByName(toks.select(col("doc_id"), explode(col("t")).as("gram")))
  }

  /** Persisted N-GRAM LM index — the SEVENTH index family on the shared
    * build/probe/append/delete/purge lifecycle (MinHash, containment,
    * BM25, IVF, edit, winnow, LM): the scale path for
    * [[backoffLevelsOn]], whose train-side tri/bi/uni counts must be a
    * MAINTAINED artifact at 100 TB, not a per-query rebuild. Two
    * relations plus tombstones:
    *  - `<name>_postings` (gram, idx_doc, tf), bucketed AND sorted by
    *    gram — the provenance that makes deletion derivable from the
    *    index alone (the deleted documents' text is never needed);
    *  - `<name>_gramdf` (gram, df), LOG-STRUCTURED: build writes one
    *    count segment, every append adds one, deletes add NEGATIVE
    *    segments — probes sum on read (exact integer merge), so a
    *    gram's live existence is merged df > 0 with no postings touch.
    * Model semantics (which order a position resolves at) depend only
    * on gram EXISTENCE among live documents, so probe cost is
    * O(probe-batch grams): the df merge semi-joins the probe's gram
    * set below the segment sum, the winnow-index trick. */
  def buildLmIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8): Unit = {
    val grams = lmGramsOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))).localCheckpoint()
    graft.sources.FormatIO.writeBucketed(
      grams.groupBy(col("gram"), col("doc_id").as("idx_doc"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("epoch", lit(0L)),
      s"${name}_postings", "gram", nBuckets, sortCol = Some("gram"))
    graft.sources.FormatIO.rebuildDfLog(spark, s"${name}_gramdf",
      s"${name}_postings", "gram", 0L)
    graft.sources.FormatIO.initIndex(spark, name, "idx_doc")
  }

  /** DELTA APPEND a batch of new (doc_id, text) rows into the persisted
    * LM index — same maintenance contract as the other six families:
    * `append(batch) ∘ build(corpus)` is probe-equal to
    * `build(corpus ∪ batch)` (postings are append-only rows into the
    * same bucket layout; the df merge is exact integer addition),
    * per-wave cost O(batch). Appended ids must be new (the immutable-
    * corpus ingest contract shared by every family). A batch a stream
    * replays after its commit (`Streams.foreachBatchStream`) inflates
    * df counts like BM25's; existence (df > 0) stays correct, so probe
    * results are replay-proof and only the counts need the compaction
    * runbook. */
  def appendToLmIndex(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit = {
    // postings + gramdf move under ONE epoch commit (FormatIO index
    // epochs)
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_postings", s"${name}_gramdf"))
    val posts = lmGramsOf(newDocs.select(col("doc_id"), col("text")))
      .groupBy(col("gram"), col("doc_id").as("idx_doc"))
      .agg(count(lit(1)).as("tf")).localCheckpoint()
    graft.sources.FormatIO.appendBucketed(spark,
      posts.withColumn("epoch", lit(e)), s"${name}_postings")
    graft.sources.FormatIO.writeSegment(spark, s"${name}_gramdf",
      posts.groupBy(col("gram")).agg(count(lit(1)).as("df")), e)
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** TOMBSTONE-DELETE documents from the persisted LM index — a
    * [[graft.sources.FormatIO.deleteWave]] whose NEGATIVE df segment,
    * derived from the index's OWN postings, joins the log: a gram whose
    * every live carrier is deleted reaches merged df 0 and immediately
    * stops resolving probe positions (the model forgets the erased
    * text with no rebuild). */
  def deleteFromLmIndex(spark: SparkSession, name: String,
      docIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name,
      docIds.select(col("doc_id").as("idx_doc")), Seq(s"${name}_gramdf" ->
        graft.sources.FormatIO.subtractDf(spark, s"${name}_postings", "gram")))

  /** Physically erase tombstoned documents' postings and collapse the
    * gram-df log into one segment counted from the purged postings.
    * Probe-invariant (spec-proved) with the bytes verifiably gone. */
  def purgeLmTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_postings"),
      graft.sources.FormatIO.rebuildDfLog(spark, s"${name}_gramdf",
        s"${name}_postings", "gram", _)).head

  /** Probe the persisted LM index with a batch of documents (doc_id,
    * text): [[backoffLevelsOn]]'s per-document resolution profile
    * (n_pos, n_l3..n_l0, tri_rate) computed against the INDEX's live
    * grams instead of an inline train split — parity-spec-proved
    * equal. Per-probe cost is O(batch grams): the df merge semi-joins
    * the probe's gram set below the segment sum (never O(corpus
    * vocabulary)), and the three existence joins run against that
    * probe-sized relation. No terminal orderBy: probes are library
    * operators (PlanHygieneSpec asserts no global Sort). */
  def probeLmIndex(spark: SparkSession, name: String,
      docs: DataFrame): DataFrame = {
    val test = docs.select(col("doc_id"), tokensCol.as("t"))
      .select(col("doc_id"), explode(triStructs("t")).as("g"))
      .select(col("doc_id"),
        concat_ws(" ", col("g.a"), col("g.b"), col("g.c")).as("g3"),
        concat_ws(" ", col("g.b"), col("g.c")).as("g2"),
        col("g.c").as("g1"))
      .localCheckpoint()
    val probeGrams = test.select(col("g3").as("gram"))
      .unionByName(test.select(col("g2").as("gram")))
      .unionByName(test.select(col("g1").as("gram"))).distinct()
    // pinned (FormatIO index epochs): a concurrent append/delete wave
    // is invisible until its commit
    val live = graft.sources.FormatIO.readDfLog(spark, s"${name}_gramdf",
        graft.sources.FormatIO.committedEpoch(spark, name), probeGrams)
      .filter(col("df") > 0)
    test
      .join(live.select(col("gram").as("g3"), lit(1).as("h3")),
        Seq("g3"), "left")
      .join(live.select(col("gram").as("g2"), lit(1).as("h2")),
        Seq("g2"), "left")
      .join(live.select(col("gram").as("g1"), lit(1).as("h1")),
        Seq("g1"), "left")
      .withColumn("lvl",
        when(col("h3").isNotNull, 3)
          .when(col("h2").isNotNull, 2)
          .when(col("h1").isNotNull, 1)
          .otherwise(0))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_l3"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_l2"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_l1"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_l0"))
      .withColumn("tri_rate",
        round(col("n_l3").cast("double") / col("n_pos"), 6))
  }

  /** Heaps'-law vocabulary-growth curve: cumulative distinct-type and
    * total-token counts at ten corpus-prefix checkpoints. The prefix
    * order is the doc_id RANGE split into deciles from the 1-row
    * (min, max) scalar — O(1) thresholds with NO global sort (a
    * row_number prefix order would shuffle every doc to one ordering
    * at 100 TB; range deciles are deterministic and free). Each
    * type's contribution lands in the decile of its FIRST carrier
    * (one vocab-keyed min aggregate, map-side combined — the only
    * token-volume shuffle); the curve itself is a cumulative window
    * over the ≤10-row bucket panel. All counts integer-exact. */
  def heapsCurve(spark: SparkSession, dir: String): DataFrame =
    heapsCurveOn(Tables.documents(spark, dir))

  /** Core of [[heapsCurve]] over any frame with (doc_id, text) — split
    * out so specs can recount a crafted corpus' curve by hand. */
  def heapsCurveOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), tokensCol.as("toks"))
    val ids = base.agg(min(col("doc_id")).as("id0"),
      (max(col("doc_id")) - min(col("doc_id")) + 1L).as("span"))
    def bucket(c: Column): Column =
      expr(s"((${c.toString} - id0) * 10) DIV span") + 1L
    val docStats = base
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .crossJoin(broadcast(ids))
      .groupBy(bucket(col("doc_id")).as("decile"))
      .agg(count(lit(1)).as("new_docs"), sum(col("n_toks")).as("new_toks"))
    val firstCarrier = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fid"))
      .crossJoin(broadcast(ids))
      .groupBy(bucket(col("fid")).as("decile"))
      .agg(count(lit(1)).as("new_types"))
    val wCum = Window.partitionBy(pmod(col("decile"), lit(1)))
      .orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docStats.join(firstCarrier, Seq("decile"), "full_outer")
      .select(col("decile"),
        coalesce(col("new_docs"), lit(0L)).as("nd"),
        coalesce(col("new_toks"), lit(0L)).as("nt"),
        coalesce(col("new_types"), lit(0L)).as("nv"))
      .select(col("decile"),
        sum(col("nd")).over(wCum).as("docs_cum"),
        sum(col("nt")).over(wCum).as("tokens_cum"),
        sum(col("nv")).over(wCum).as("vocab_cum"))
      .orderBy(col("decile"))
  }

  /** Zipf rank–frequency head: the top-K tokens by corpus frequency
    * with their rank and the rank·frequency product (Zipf's law says
    * the product is roughly constant down the head). One vocab-keyed
    * count, a TakeOrderedAndProject cut on the (freq DESC, tok) total
    * order, then row_number over the K-row remnant behind a
    * non-foldable constant partition key — never a global sort. */
  def zipfRanks(spark: SparkSession, dir: String, k: Int = 50)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(spark, dir)
      .select(explode(tokensCol).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(k)
    val w = Window.partitionBy(pmod(col("freq"), lit(1)))
      .orderBy(col("freq").desc, col("tok"))
    freq
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("rank_x_freq", col("rank") * col("freq"))
      .select(col("rank"), col("tok"), col("freq"), col("rank_x_freq"))
      .orderBy(col("rank"))
  }

  /** TOP-V VOCABULARY COVERAGE CURVE: for each candidate vocabulary
    * size V, the share of corpus token MASS the top-V types cover —
    * the table a tokenizer-vocab or stopword-list sizing decision
    * reads ("10k types cover 97% of tokens; the tail is hapax noise").
    * One token-shuffle type count (map-side combined, checkpointed so
    * the curve's three readers scan it, not the corpus), top-maxCut
    * types via TakeOrderedAndProject on the (freq desc, tok) total
    * order, rank window over that bounded frame behind a non-foldable
    * constant partition key, cut sums against the broadcast |cuts|-row
    * dimension. Exact integers; one fixed closing division per row. */
  def vocabCurve(spark: SparkSession, dir: String,
      cuts: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cuts.nonEmpty && cuts == cuts.sorted, "cuts ascending")
    val freq = Tables.documents(spark, dir)
      .select(explode(tokensCol).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val totalToks = freq.agg(sum(col("freq")).as("tt")).scalar()
    val totalTypes = freq.agg(count(lit(1)).as("tv")).scalar()
    val top = freq.orderBy(col("freq").desc, col("tok")).limit(cuts.max)
    val w = Window.partitionBy(pmod(col("freq"), lit(1)))
      .orderBy(col("freq").desc, col("tok"))
    val ranked = top.withColumn("rank", row_number().over(w).cast("long"))
    val cutDim = spark.createDataFrame(cuts.map(Tuple1(_)))
      .toDF("v").select(col("v").cast("long").as("v_cut"))
    ranked.crossJoin(broadcast(cutDim))
      .filter(col("rank") <= col("v_cut"))
      .groupBy(col("v_cut"))
      .agg(max(col("rank")).as("n_types"),
        sum(col("freq")).as("covered_tokens"))
      .withColumn("total_tokens", totalToks.cast("long"))
      .withColumn("total_types", totalTypes.cast("long"))
      .withColumn("share", round(
        col("covered_tokens").cast("double") / col("total_tokens"), 6))
      .select(col("v_cut"), col("n_types"), col("covered_tokens"),
        col("total_tokens"), col("total_types"), col("share"))
      .orderBy(col("v_cut"))
  }

  /** Per-source CHARACTER-CLASS PROFILE: ASCII letters / digits /
    * whitespace / ASCII punctuation / other, as exact counts with
    * per-10k-chars shares — the coarse companion of the mojibake
    * screen (a source whose digit or punctuation mass spikes is
    * tables, logs, or markup, not prose, whatever its language).
    * Row-local regexp counts, one source-bounded aggregate, fixed
    * closing divisions. */
  def charClasses(spark: SparkSession, dir: String): DataFrame = {
    val counted = Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("c"),
        regexp_count(col("text"), lit("[A-Za-z]")).cast("long").as("l"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("g"),
        regexp_count(col("text"), lit("\\s")).cast("long").as("w"),
        regexp_count(col("text"),
          lit("[!-/:-@\\[-`{-~]")).cast("long").as("p"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_chars"),
        sum(col("l")).as("n_letters"), sum(col("g")).as("n_digits"),
        sum(col("w")).as("n_space"), sum(col("p")).as("n_punct"))
      .withColumn("n_other",
        col("n_chars") - col("n_letters") - col("n_digits") -
          col("n_space") - col("n_punct"))
    Seq("letters", "digits", "space", "punct").foldLeft(counted) {
      (df, cls) =>
        df.withColumn(s"${cls}_per_10k", when(col("n_chars") > 0L,
          round((lit(10000L) * col(s"n_$cls")).cast("double") /
            col("n_chars"), 6)))
    }.orderBy(col("source"))
  }

  /** Count–Min Sketch point-frequency audit: build a (depth × width)
    * CMS over the corpus token stream with md5-derived row hashes
    * (bucket key = the first two hex chars of md5(row ‖ ':' ‖ token) —
    * 256 buckets/row, engine-portable with NO hex→int conversion,
    * the winnow-hash discipline), then compare the sketch estimate
    * min_j counter[j][h_j(tok)] against the true count for the top-K
    * tokens. The one-sided error law (est ≥ true, overshoot bounded by
    * collisions) lands in the `over` column — all integers, so the
    * sketch itself rides the DuckDB oracle. Counter table is
    * depth·256 rows (broadcastable at any corpus size); the token scan
    * is the only data-sized pass. */
  private def cmsBucket(j: Column, tok: Column): Column =
    substring(md5(concat(j.cast("string"), lit(":"), tok)), 1, 2)

  /** CMS counter relation (j, b, c) for a (…, text) frame — the
    * ADDITIVE core both the batch audit and the streamed sketch share:
    * counters of a union are the per-part counter sums, exactly. */
  def cmsCountersOf(docs: DataFrame, depth: Int = 4): DataFrame =
    docs.select(explode(tokensCol).as("tok"))
      .select(col("tok"),
        explode(array((0 until depth).map(lit(_)): _*)).as("j"))
      .withColumn("b", cmsBucket(col("j"), col("tok")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))

  def cmsTokenCounts(spark: SparkSession, dir: String, depth: Int = 4,
      topK: Int = 30): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counters = cmsCountersOf(docs, depth)
    val top = docs.select(explode(tokensCol).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("tok")).limit(topK)
    top.select(col("tok"), col("true_n"),
        explode(array((0 until depth).map(lit(_)): _*)).as("j"))
      .withColumn("b", cmsBucket(col("j"), col("tok")))
      .join(broadcast(counters), Seq("j", "b"))
      .groupBy(col("tok"), col("true_n"))
      .agg(min(col("c")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("true_n"))
      .orderBy(col("true_n").desc, col("tok"))
  }

  /** PERSIST a CMS sketch as LOG-STRUCTURED counter segments: build
    * writes one (j, b, c) segment plus a 1-row `_meta` (depth) pin;
    * [[appendToCmsSketch]] appends one segment per batch — O(batch)
    * maintenance with NO read-modify-write (CMS is additive: counters
    * of a union are the per-part sums, merged on read). The sketch is
    * the bounded-state sibling of the seven index families: depth·256
    * rows per segment regardless of corpus size, so the merge-on-read
    * sum is constant work. */
  def buildCmsSketch(spark: SparkSession, dir: String, name: String,
      depth: Int = 4): Unit = {
    import spark.implicits._
    cmsCountersOf(Tables.documents(spark, dir), depth).localCheckpoint()
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_segments")
    Seq(depth).toDF("depth")
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_meta")
  }

  /** Append a document batch into the persisted CMS sketch — one more
    * counter segment (depth read from `_meta` so a probe can never see
    * mixed-depth segments). CMS additivity makes streamed growth
    * EXACTLY equal a batch rebuild on the union (cell-equal,
    * spec-proved). The sketch stages no index epoch, so every batch a
    * stream re-delivers (`Streams.foreachBatchStream`) inflates counts;
    * the estimate stays an upper bound — the one-sided error law
    * survives at-least-once delivery. */
  def appendToCmsSketch(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit = {
    val depth = spark.table(s"${name}_meta").collect().head.getInt(0)
    cmsCountersOf(newDocs, depth).localCheckpoint()
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${name}_segments")
    spark.catalog.refreshTable(s"${name}_segments")
  }

  /** Point-frequency estimates for a (tok) probe frame against the
    * persisted sketch: merge the counter log (one constant-size sum —
    * depth·256 live cells), hash the probe tokens, min over rows.
    * Probe cost is O(probe tokens); the corpus is never rescanned. */
  def probeCmsSketch(spark: SparkSession, name: String,
      toks: DataFrame): DataFrame = {
    val depth = spark.table(s"${name}_meta").collect().head.getInt(0)
    val merged = spark.table(s"${name}_segments")
      .groupBy(col("j"), col("b")).agg(sum(col("c")).as("c"))
    toks.select(col("tok")).distinct()
      .select(col("tok"),
        explode(array((0 until depth).map(lit(_)): _*)).as("j"))
      .withColumn("b", cmsBucket(col("j"), col("tok")))
      .join(broadcast(merged), Seq("j", "b"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
  }

  /** Per-source hapax-legomena profile: vocabulary size, tokens seen
    * exactly once WITHIN the source (local hapax — the lexical-richness
    * signal), tokens whose CORPUS-WIDE frequency is one (global hapax —
    * a global hapax lives in exactly one source, so the per-source
    * counts partition the corpus hapax set), and the local-hapax share
    * of the vocabulary. One (source, token) count, one token-keyed
    * re-aggregate for the global frequency, one token-keyed join back —
    * both shuffles vocabulary-keyed (map-side combined), no grid, no
    * window. */
  def hapaxShare(spark: SparkSession, dir: String): DataFrame =
    hapaxShareOn(Tables.documents(spark, dir))

  /** Core of [[hapaxShare]] over any frame with (source, text) — split
    * out so specs can drive crafted corpora through it. */
  def hapaxShareOn(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokensCol).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n_st"))
    val glob = st.groupBy(col("tok")).agg(sum(col("n_st")).as("n_g"))
    st.join(glob, Seq("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n_st") === 1L, 1L).otherwise(0L)).as("hapax_local"),
        sum(when(col("n_g") === 1L, 1L).otherwise(0L)).as("hapax_global"),
        sum(col("n_st")).as("n_tokens"))
      .withColumn("hapax_share",
        when(col("vocab") > 0L,
          round(col("hapax_local").cast("double") / col("vocab"), 6)))
      .orderBy(col("source"))
  }

  /** Token BURSTINESS (Church–Gale): variance-to-mean ratio of a
    * token's per-document frequency over the whole corpus — bursty
    * tokens (names, topics) concentrate in few documents while
    * function words spread evenly at the same total count; the
    * signal term-weighting and topic-shift screens key on. Cleared of
    * both /N denominators so everything before the closing division
    * is EXACT: the variance numerator N·Σtf² − T² forms in
    * DECIMAL(38,0) (HUGEINT on the oracle side — exact to N·Σtf² <
    * 10³⁸, i.e. any realistic corpus), the ratio closes in a fixed
    * double tree over those exact operands (ratio = var/mean over all
    * N docs, zeros included). One (doc, token) count, one token-keyed
    * moment aggregate, a broadcast 1-row N; top-K on the (rounded
    * ratio DESC, tok) total order; only linear-magnitude columns
    * cross the output boundary. */
  def tokenBurstiness(spark: SparkSession, dir: String, minDf: Int = 5,
      topK: Int = 40): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_corpus"))
    docs.select(col("doc_id"), explode(tokensCol).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
        sum(col("tf").cast("decimal(38,0)") * col("tf")).as("tf_sq"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .withColumn("burstiness",
        when(col("tf_total") > 0L,
          round((col("n_corpus") * col("tf_sq") -
            col("tf_total").cast("decimal(38,0)") * col("tf_total"))
            .cast("double") /
            (col("n_corpus").cast("double") *
              col("tf_total").cast("double")), 6)))
      .select(col("tok"), col("df"), col("tf_total"), col("burstiness"))
      .orderBy(col("burstiness").desc, col("tok")).limit(topK)
  }

  /** Good–Turing frequency-of-frequencies table with the smoothed
    * count r* = (r+1)·N_{r+1} / N_r kept as cleared BIGINT num/den —
    * the adjusted-count law every GT-smoothed language model keys on
    * (and the companion of the persisted n-gram LM's add-one backoff:
    * N_1/T is the unseen-mass estimate). One vocabulary-keyed token
    * count, then a count-of-counts aggregate capped to the `maxR`
    * LOWEST observed r values (a RANK cap, not a value cap — a corpus
    * whose rarest token still occurs 26 times keeps a full table,
    * which a `r <= 20` filter would silently empty). The cap window
    * reads `maxR + 1` rows so the N_{r+1} lookup is lossless: if r is
    * among the lowest maxR values then at most maxR values are
    * < r+1, so r+1 (when present at all) ranks ≤ maxR+1. Both the
    * window and the lookup are TakeOrderedAndProject-bounded
    * broadcast-scale relations regardless of corpus size. Closure law
    * (spec): Σ r·N_r over ALL r equals the corpus token total. */
  def goodTuring(spark: SparkSession, dir: String, maxR: Int = 20)
      : DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(tokensCol).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("r"))
    val fof = counts.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      .orderBy(col("r")).limit(maxR + 1).localCheckpoint()
    val next = fof.select((col("r") - 1L).as("r"), col("n_r").as("n_r1"))
    fof.join(broadcast(next), Seq("r"), "left")
      .withColumn("gt_num", (col("r") + 1L) * coalesce(col("n_r1"), lit(0L)))
      .withColumn("gt_rstar",
        round(col("gt_num").cast("double") / col("n_r"), 6))
      .select(col("r"), col("n_r"), col("gt_num"),
        col("n_r").as("gt_den"), col("gt_rstar"))
      .orderBy(col("r")).limit(maxR)
  }

  /** Chao1 species-richness estimator per source — the "how much
    * vocabulary haven't we crawled yet" audit: bias-corrected
    * chao1 = V + f1·(f1−1) / (2·(f2+1)) from the singleton/doubleton
    * counts of the source-local token frequencies (defined even when
    * f2 = 0). The correction numerator f1·(f1−1) forms in
    * DECIMAL(38,0) (HUGEINT oracle-side) — exact for any singleton
    * count, where BIGINT capped out near 3·10⁹ hapax types — and the
    * estimate closes in a fixed double tree; chao1 ≥ vocab by
    * construction (spec law). One (source, token) count + one
    * source-keyed re-aggregate — the hapax shuffle shape, result
    * bounded by the source cardinality. */
  def chao1Richness(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokensCol).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n_st"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n_st") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n_st") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        round(col("vocab").cast("double") +
          (col("f1").cast("decimal(38,0)") * (col("f1") - 1L))
            .cast("double") /
          (lit(2L) * (col("f2") + 1L)).cast("double"), 6))
      .orderBy(col("source"))

  /** Cross-source VOCABULARY OVERLAP: exact Jaccard of the token
    * vocabularies for every source pair — the redundancy screen run
    * before unioning crawls (a pair near 1.0 is the same feed twice).
    * Intersections come from one vocabulary-keyed self-equi-join of
    * the distinct (source, token) relation with `source_a < source_b`
    * (each unordered pair counted once); union = |A| + |B| − |A∩B|,
    * all BIGINT until the one closing division. Pair cardinality is
    * bounded by the source-category count squared, so the per-source
    * vocab relation broadcasts; the only data-sized shuffle is the
    * distinct. */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(tokensCol).as("tok"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val inter = st.toDF("source_a", "tok")
      .join(st.toDF("source_b", "tok"), Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.toDF("source_a", "vocab_a")), Seq("source_a"))
      .join(broadcast(sizes.toDF("source_b", "vocab_b")), Seq("source_b"))
      .withColumn("uni", col("vocab_a") + col("vocab_b") - col("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("uni"), 6))
      .select(col("source_a"), col("source_b"), col("vocab_a"),
        col("vocab_b"), col("inter"), col("uni"), col("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** COMPACT the CMS segment log: fold every appended counter segment
    * into one (merge-on-read cost goes back to a single depth·256-row
    * scan after many appends). Additivity makes this a pure
    * re-aggregation — probes are estimate-equal before and after
    * (spec). The `localCheckpoint` materializes the merged cells
    * before the overwrite so the swap never reads the table it is
    * replacing; same single-writer maintenance window as
    * [[graft.sources.FormatIO.compact]]. (Deletion is structurally
    * impossible for a CMS — counters are additive-only; retire the
    * sketch and rebuild to forget.) */
  def compactCmsSketch(spark: SparkSession, name: String): Unit = {
    val merged = spark.table(s"${name}_segments")
      .groupBy(col("j"), col("b")).agg(sum(col("c")).as("c"))
      .localCheckpoint()
    merged.write.format("parquet")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_segments")
    spark.catalog.refreshTable(s"${name}_segments")
  }

  /** Gini–Simpson token DIVERSITY per source: 1 − Σp² over the
    * source's unigram distribution, plus the inverse-Simpson
    * "effective vocabulary" T²/Σc² (the number of equally-common
    * types that would produce the same concentration — the
    * ecology-standard pair of concentration readings, and unlike
    * Shannon entropy both are RATIONAL in the counts, so they ride
    * the exact oracle: (T² − Σc²)/T² and T²/Σc², each one closing
    * division over EXACT integer moments). One (source, token) count
    * + one source-keyed moment re-aggregate — the hapax shuffle
    * shape, result bounded by the source cardinality. Σc² and T²
    * form in DECIMAL(38,0) (HUGEINT on the oracle side) — exact at
    * any corpus size (overflow needs T > 10¹⁹ tokens per source) —
    * and only linear-magnitude columns cross the output boundary;
    * the two readings close in a fixed, correctly-rounded double
    * tree identical in both engines. */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokensCol).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("tokens"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("s2"))
      .withColumn("t2", col("tokens").cast("decimal(38,0)") * col("tokens"))
      .withColumn("simpson",
        round((col("t2") - col("s2")).cast("double") /
          col("t2").cast("double"), 6))
      .withColumn("eff_vocab",
        round(col("t2").cast("double") / col("s2").cast("double"), 6))
      .select(col("source"), col("vocab"), col("tokens"),
        col("simpson"), col("eff_vocab"))
      .orderBy(col("source"))

  /** Per-source chi-square KEYNESS: the topK tokens most
    * over-represented in each source vs the rest of the corpus — the
    * "what is this crawl actually about" audit (corpus-linguistics
    * standard; the χ² variant is rational where log-likelihood G²
    * is transcendental). Per (source, token) the 2×2 contingency
    * margins (a = c_st, b = T_s−a, c = C_t−a, d = T−T_s−C_t+a) stay
    * exact BIGINT, as does z = ad − bc (headroom documented: a·d ≤
    * T_s·T < 2^63 to ~10⁹·10⁹); χ² = T·z²/((a+b)(c+d)(a+c)(b+d))
    * closes in ONE fixed left-associated double tree over those exact
    * operands — identical inputs + identical shape ⇒ bit-stable, the
    * OLS/Cramer discipline. Only over-represented cells (z > 0)
    * rank; degenerate margins (single-source corpus, single-token
    * vocabulary) are guarded. Shuffles: the (source, token) count and
    * one vocabulary-keyed join of the token margin — both map-side
    * combined; source margins broadcast; topK via a source-partitioned
    * rank window over the vocabulary-bounded scored relation on the
    * (rounded χ² DESC, tok) total order. */
  def chi2Keyness(spark: SparkSession, dir: String, topK: Int = 5)
      : DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(tokensCol).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("a"))
      .localCheckpoint()
    val ctok = st.groupBy(col("tok")).agg(sum(col("a")).as("c_t"))
    val ts = st.groupBy(col("source")).agg(sum(col("a")).as("t_s"))
    val tAll = ts.agg(sum(col("t_s")).as("t_all"))
    val scored = st.join(ctok, Seq("tok"))
      .join(broadcast(ts), Seq("source"))
      .crossJoin(broadcast(tAll))
      .withColumn("z",
        col("a") * (col("t_all") - col("t_s") - col("c_t") + col("a")) -
          (col("t_s") - col("a")) * (col("c_t") - col("a")))
      .filter(col("z") > 0L &&
        col("t_all") > col("t_s") && col("t_all") > col("c_t"))
      .withColumn("chi2", round(
        col("t_all").cast("double") * col("z") / col("t_s") * col("z") /
          (col("t_all") - col("t_s")) / col("c_t") /
          (col("t_all") - col("c_t")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("chi2").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("source"), col("tok"), col("a"), col("c_t"),
        col("t_s"), col("z"), col("chi2"), col("rnk"))
      .orderBy(col("source"), col("rnk"))
  }

  /** DEFLATE compressibility profile — the CCNet/RefinedWeb
    * repetitiveness filter as a first-class signal: template spam and
    * boilerplate compress far below natural prose, so the LOWEST
    * ratios are the repetition suspects. Row-local via the native
    * codegen'd [[graft.functions.CompressRatio]] expression (one
    * thread-local Deflater per executor core, no per-row allocation),
    * so the whole profile is FileScan → Project →
    * TakeOrderedAndProject at any corpus size. Rows-only (DEFLATE
    * output length is JDK-specific, not an engine-portable oracle
    * surface); semantics carried by the crafted-corpus spec. */
  def compressProfile(spark: SparkSession, dir: String, topK: Int = 40)
      : DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        round(graft.functions.HashExpressions.compressRatio(col("text")), 4)
          .as("ratio"))
      .orderBy(col("ratio").asc, col("doc_id")).limit(topK)

  /** SPAN-CORRUPTION MASKING STATISTICS (the T5/UL2 denoising recipe's
    * data-side audit): per source, how many tokens a deterministic
    * span-masking pass would corrupt — span starts drawn at ~15% of
    * positions, span lengths 1–3, overlapping spans counted once. The
    * coin is the repo's hash-uniform (two md5 hex digits of
    * doc_id:position drive both the start draw and the length), so the
    * whole randomized mechanism is a pure function of the data —
    * bit-reproducible in any engine, which puts masking-budget
    * accounting on the exact-oracle surface (production swaps a seeded
    * RNG; the accounting plan is unchanged). Everything is row-local
    * array algebra under one source-bounded aggregate; the masked-
    * position union is let-bound (`transform(array(x), ...)`) so the
    * start list is computed once per row, not re-inlined per element. */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokensCol.as("toks"))
      .select(col("source"), size(col("toks")).cast("long").as("n_tok"),
        expr(
          """transform(array(filter(transform(sequence(1, size(toks)),
            |   p -> struct(p AS p,
            |     CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),
            |       ':', CAST(p AS STRING))), 1, 2), 16, 10) AS INT) AS u)),
            |  s -> s.u < 38)),
            | st -> struct(size(st) AS n_spans,
            |   size(array_distinct(flatten(transform(st,
            |     s -> sequence(s.p, least(s.p + s.u % 3, size(toks)))))))
            |     AS n_masked))[0]""".stripMargin).as("m"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("m.n_spans").cast("long")).as("n_spans"),
        sum(col("m.n_masked").cast("long")).as("n_masked"))
      .withColumn("mask_ratio", when(col("n_tokens") > 0L,
        round(col("n_masked").cast("double") / col("n_tokens"), 6)))
      .orderBy(col("source"))

  /** STANDARDIZED TYPE-TOKEN RATIO (Johnson 1944's STTR — the windowed
    * lexical-diversity measure): each document's token stream is cut
    * into non-overlapping windows of `w` tokens; per window the
    * distinct-type count; the document's STTR is Σ distinct / (w ·
    * windows). Windowing is what makes TTR length-comparable — raw
    * TTR monotonically falls with document length, so corpus quality
    * gates built on it silently favor short docs. Trailing partial
    * windows are dropped (the standard convention); docs shorter than
    * one window are excluded. All counts integer; one closing division
    * at ratio magnitude, where round(·, 6) is exactly representable.
    * Scale shape: entirely ROW-LOCAL array algebra under one scan —
    * no explode, no shuffle but the terminal presentation sort. */
  def sttr(spark: SparkSession, dir: String, w: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("t", tokensCol)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("n_windows", expr(s"size(t) div $w").cast("long"))
      .filter(col("n_windows") > 0L)
      .withColumn("distinct_sum", expr(
        s"""aggregate(
           |  transform(sequence(0, int(n_windows) - 1),
           |    i -> size(array_distinct(slice(t, i * $w + 1, $w)))),
           |  0L, (acc, x) -> acc + x)""".stripMargin))
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        col("distinct_sum"),
        round(col("distinct_sum").cast("double") /
          (col("n_windows") * w), 6).as("sttr"))
      .orderBy(col("doc_id"))
}
