package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions._
import graft.functions.Aggregates
import graft.sources.Tables

/** Data-quality + snapshot-maintenance operators: the engine form of the
  * mCIDE dictionary-enforcement and status-snapshot workflows.
  */
object Quality {

  /** Dictionary validation (the enforcement half of mcide.py: permitted
    * category values): anti-join fact values against the dictionary,
    * count violations per offending value. At scale the dictionary side
    * broadcasts. */
  def dictViolations(spark: SparkSession, dir: String): DataFrame = {
    val dict = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("permitted"))
      .filter(col("permitted").isin("1-URGENT", "2-HIGH", "3-MEDIUM"))
      .distinct()
    Tables.orders(spark, dir)
      .join(broadcast(dict), col("o_orderpriority") === col("permitted"), "left_anti")
      .groupBy(col("o_orderpriority").as("violating_value"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("violating_value"))
  }

  /** Column-level quality profile: null/blank/range violations counted
    * in one pass (conditional aggregation — no per-rule scans). */
  def qualityProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") <= 0.0 || col("l_quantity") > 50.0, 1L)
          .otherwise(0L)).as("qty_out_of_range"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
          .otherwise(0L)).as("disc_out_of_range"),
        sum(when(col("l_returnflag").isNull || col("l_returnflag") === "", 1L)
          .otherwise(0L)).as("flag_missing"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("date_missing"))

  /** Snapshot upsert (last-write-wins merge of an update stream into a
    * snapshot — the persistent form of the status store): union + keep
    * newest per key. One shuffle on the key; identical semantics to
    * re-deriving from the full log. */
  def upsertSnapshot(snapshot: DataFrame, updates: DataFrame,
      key: String, ts: String, tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tieBreak).desc)
    snapshot.unionByName(updates)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The upsert exercised over events split at mid-month — must equal
    * deriving latest-status from the full log (oracle: same SQL as
    * q_latest_status). */
  def upsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    val snapshot = ev.filter(col("ts") < cut)
    val updates = ev.filter(col("ts") >= cut)
    upsertSnapshot(snapshot, updates, "user_id", "ts", "event_id")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_status"))
      .orderBy(col("user_id"))
  }

  /** Group-level MinHash sketch union: one 32-long signature per source,
    * then pairwise signature-agreement = estimated Jaccard between each
    * source's shingle universe. No doc-to-doc comparison anywhere. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .select(col("source"),
        minhashSignature(rollingShingles(normText, 8), 32)
          .as("sig"))
      .groupBy(col("source"))
      .agg(Aggregates.groupMinhash(col("sig"), 32).as("gsig"))
    val a = sigs.select(col("source").as("src_a"), col("gsig").as("sig_a"))
    val b = sigs.select(col("source").as("src_b"), col("gsig").as("sig_b"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(expr(
          "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / CAST(32.0 AS DOUBLE)"),
          4).as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The Gopher quality-rule battery (Rae et al. 2021, MassiveWeb
    * filtering, Appendix A) — the standard rule-based document filter
    * applied before LLM pretraining. Every rule is a row-local
    * expression over the document alone (no corpus statistics), so the
    * whole battery is one embarrassingly-parallel projection: FileScan
    * → Project at any corpus size, the cheapest possible 100 TB shape.
    *
    * Rules (paper defaults): word count in [minWords, maxWords]; mean
    * word length in [3, 10]; ≤10% of words contain '#' or an ellipsis;
    * <90% of lines start with a bullet; ≤30% of lines end with an
    * ellipsis; ≥80% of words contain an alphabetic character; document
    * mentions ≥ minStopHits distinct stop words from the paper's
    * 8-word list. `gopher_pass` is the conjunction.
    *
    * Ratios are single divisions of engine-identical integers, so the
    * output carries exact doubles — no rounding surface. The shipped
    * query instance lowers minStopHits to 1 (documented corpus
    * adaptation: the synthetic word-soup corpus contains only "the"
    * from the stop list — the paper default would be constant-false
    * here); the spec exercises the ≥2 default on crafted documents. */
  def gopherRules(spark: SparkSession, dir: String, minWords: Int = 50,
      maxWords: Int = 100000, minStopHits: Int = 2): DataFrame =
    gopherRulesOn(Tables.documents(spark, dir), minWords, maxWords,
      minStopHits)

  /** [[gopherRules]] over an arbitrary (doc_id, lang, text) frame —
    * the core the spec drives with crafted multi-line documents. */
  def gopherRulesOn(docs: DataFrame, minWords: Int = 50,
      maxWords: Int = 100000, minStopHits: Int = 2): DataFrame = {
    val stopList = "array('the','be','to','of','and','that','have','with')"
    docs
      .select(col("doc_id"), col("lang"),
        split(lower(trim(col("text"))), "\\s+").as("t"),
        split(col("text"), "\n").as("ln"))
      .select(col("doc_id"), col("lang"),
        size(col("t")).cast("long").as("n_words"),
        (expr("aggregate(t, 0L, (s, x) -> s + length(x))").cast("double") /
          size(col("t"))).as("mean_word_len"),
        (expr("size(filter(t, x -> contains(x, '#') OR contains(x, '...')" +
          " OR contains(x, '…')))").cast("double") /
          size(col("t"))).as("frac_sym"),
        (expr("size(filter(ln, x -> startswith(ltrim(x), '-')" +
          " OR startswith(ltrim(x), '*') OR startswith(ltrim(x), '•')))")
          .cast("double") / size(col("ln"))).as("frac_bullet"),
        (expr("size(filter(ln, x -> endswith(rtrim(x), '...')" +
          " OR endswith(rtrim(x), '…')))").cast("double") /
          size(col("ln"))).as("frac_ellipsis"),
        (expr("size(filter(t, x -> x rlike '[a-z]'))").cast("double") /
          size(col("t"))).as("frac_alpha"),
        expr(s"size(array_intersect(array_distinct(t), $stopList))")
          .cast("long").as("stop_hits"))
      .withColumn("gopher_pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          (col("frac_sym") <= 0.1) && (col("frac_bullet") < 0.9) &&
          (col("frac_ellipsis") <= 0.3) && (col("frac_alpha") >= 0.8) &&
          (col("stop_hits") >= minStopHits))
      .orderBy(col("doc_id"))
  }

  /** The shipped audit instance of [[gopherRules]] (minStopHits=1 —
    * see the corpus-adaptation note above). */
  def gopherRulesDocs(spark: SparkSession, dir: String): DataFrame =
    gopherRules(spark, dir, minStopHits = 1)

  /** Per-source QUALITY-SCORE CALIBRATION: replace each document's raw
    * quality score with its within-source percentile — the
    * rank-transform that makes incomparable per-source score scales
    * mixable (source A's "0.5" may be source B's top decile). Semantics
    * are exactly `percent_rank() OVER (PARTITION BY source ORDER BY
    * quality)` — ties share a percentile, so no arbitrary tiebreak can
    * flip anything — but built the `q_quality_tiers` way: a cumulative
    * window over the per-(source, rounded-score) DISTINCT-SCORE
    * relation (thousands of rows per source) joined back to the docs,
    * never a window that puts an entire source's documents in one
    * partition. Integer rank arithmetic + one division → oracle-exact. */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.operators.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val groups = scored.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val ranked = groups
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("n_src", sum(col("n")).over(wTot))
      .select(col("source"), col("quality"),
        // docs strictly worse / (n-1): percent_rank with shared ties;
        // a single-doc source has no rank spread — calib 0 (the ANSI
        // division would otherwise hit 0/0)
        when(col("n_src") > 1,
          round((col("cum") - col("n")).cast("double")
            / (col("n_src") - 1), 6)).otherwise(lit(0.0)).as("calib"))
    scored.join(ranked, Seq("source", "quality"))
      .select(col("doc_id"), col("source"), col("quality"), col("calib"))
      .orderBy(col("doc_id"))
  }

  /** Duplication rate PER SOURCE — "which sources are copying whom",
    * the curation diagnostic that decides where dedup budget goes:
    * share of each source's documents that lose [[Dedup.exact]]'s
    * keep-one vote (they duplicate a smaller-id doc, here or
    * elsewhere). Keep set from the digest groupBy; one left join on
    * the keeper flag; per-source conditional aggregation. */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val keepers = graft.operators.Dedup.exact(spark, dir)
      .select(col("keep_id").as("doc_id"), lit(1).as("is_keeper"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(keepers, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_keeper").isNull, 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_rate",
        round(col("n_dups").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  /** REFERENTIAL-INTEGRITY audit across the star schema: per foreign-key
    * edge, how many child rows point at a missing parent — the
    * ingest-health check a warehouse runs after every load (orphans mean
    * a partial load, a late dimension, or key corruption). One
    * left-anti join per edge (parent side column-pruned to its key;
    * broadcast at dimension scale, shuffle at fact scale — AQE's call),
    * unioned into a fixed |edges|-row report. */
  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    def orphanCount(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame =
      child.select(col(childKey))
        .join(parent.select(col(parentKey)),
          col(childKey) === col(parentKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_orphans"))
    orphanCount("lineitem.l_orderkey -> orders",
        Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(orphanCount("lineitem.l_partkey -> part",
        Tables.lineitem(spark, dir), "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(orphanCount("lineitem.l_suppkey -> supplier",
        Tables.lineitem(spark, dir), "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionByName(orphanCount("orders.o_custkey -> customer",
        Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .unionByName(orphanCount("customer.c_nationkey -> nation",
        Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  /** BENFORD first-digit screening of a monetary column — the classic
    * fabricated-data / unit-mixing detector: observed first-significant-
    * digit shares vs Benford's log distribution, with each digit's
    * chi-square contribution. The Benford expectations are nine LITERAL
    * constants (log10(1+1/d) pre-rounded to 6dp), so every figure is a
    * fixed tree of exact counts and correctly-rounded divisions — fully
    * oracle-checkable, no libm in either engine. One map-side-combined
    * digit groupBy; the total rides as a window over the 9-row result. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val expected = Map(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939,
      4 -> 0.096910, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
      8 -> 0.051153, 9 -> 0.045757)
    val expCol = expected.foldLeft(lit(null).cast("double")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("digit"), lit(1)))
    // first NONZERO char of the decimal rendering — i.e. the first
    // significant digit even for values in (0,1) ("0.042" -> 4), which
    // a substring(…,1,1) would misread as '0' and silently drop. The
    // [1-9] scan is render-robust: in E-notation the mantissa leads
    // with its first significant digit, so both engines agree without
    // dragging libm log10 onto the oracle surface.
    // ANSI cast of the no-match "" (an all-zero value) must yield null,
    // not throw — hence the nullif guard on both engines
    Tables.lineitem(spark, dir)
      .select(nullif(regexp_extract(col("l_extendedprice").cast("string"),
        "[1-9]", 0), lit("")).cast("int").as("digit"))
      .filter(col("digit").between(1, 9))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(w))
      .select(col("digit").cast("long").as("digit"), col("n"),
        expCol.as("expected_p"),
        round(col("n").cast("double") / col("total"), 6).as("observed_p"),
        round(
          (col("n").cast("double") - expCol * col("total"))
            * (col("n").cast("double") - expCol * col("total"))
            / (expCol * col("total")), 6).as("chi2_part"))
      .orderBy(col("digit"))
  }

  /** SOURCE token-distribution DRIFT — "which tokens make source X read
    * differently from the rest of the corpus", the monitoring question
    * behind mixture rebalancing and contamination triage. Per token, a
    * 2×2 chi-square contribution comparing in-source vs rest-of-corpus
    * counts (expected under independence) — chi-square rather than KL
    * because it is POLYNOMIAL in the counts (KL's ln is libm-skewed →
    * rows-only; this stays on the oracle surface). Two map-side token
    * counts + a |vocab|-row join; top-N cut on (rounded chi2, token),
    * a total order. */
  def sourceDrift(spark: SparkSession, dir: String,
      source: String = "src0", minCount: Long = 20L,
      topN: Int = 30): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+"))
        .as("tok"))
    val counts = toks
      .groupBy(col("tok"))
      .agg(sum(when(col("source") === source, 1L).otherwise(0L)).as("n_in"),
        sum(when(col("source") =!= source, 1L).otherwise(0L)).as("n_out"))
      .filter(col("n_in") + col("n_out") >= minCount)
    val totals = counts.agg(sum(col("n_in")).as("t_in"),
      sum(col("n_out")).as("t_out"))
    counts.crossJoin(broadcast(totals))
      .select(col("tok"), col("n_in"), col("n_out"),
        round(
          ((col("n_in").cast("double")
              - (col("n_in") + col("n_out")).cast("double") * col("t_in")
                / (col("t_in") + col("t_out")))
            * (col("n_in").cast("double")
              - (col("n_in") + col("n_out")).cast("double") * col("t_in")
                / (col("t_in") + col("t_out")))
            / ((col("n_in") + col("n_out")).cast("double") * col("t_in")
              / (col("t_in") + col("t_out")))), 6).as("chi2_in"))
      .orderBy(col("chi2_in").desc, col("tok"))
      .limit(topN)
  }

  /** Ranking-signal discrimination audit — exact Mann-Whitney AUC of a
    * candidate ranking signal (document length) against a partition
    * label (lang = 'en'), per source. The question a curation run asks
    * before using ANY scalar signal to rank or threshold a corpus:
    * does this signal secretly rank one language/partition above the
    * rest (AUC far from 0.5 ⇒ thresholding on it skews the mix).
    *
    * Exactness: AUC = U/(n₁·n₀) with U the tie-corrected rank-sum
    * statistic. Midranks over a tie run of size c starting after cb
    * rows satisfy 2·midrank = 2·cb + c + 1 — an INTEGER — so
    * 2U = Σ_ties pos·(2cb + c + 1) − n₁(n₁+1) is computed entirely in
    * BIGINTs; the single final division is correctly rounded, so the
    * reported `auc` is bit-identical across engines.
    *
    * Scale shape: one map-side-combined (source, score) count, then a
    * cumulative window per source over the DISTINCT-score relation
    * (|scores| rows per source, not |docs| — ties collapse before the
    * window), then one per-source aggregate. No corpus-sized window,
    * no float accumulation. One-class sources report NULL (den 0). */
  def aucBySource(spark: SparkSession, dir: String): DataFrame =
    aucOn(Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y")))

  /** Core of [[aucBySource]] over any (source, score, y ∈ {0,1})
    * frame — split out so specs can drive crafted separations
    * (perfect ⇒ 1, inverted ⇒ 0, all-tied ⇒ exactly 0.5) through the
    * midrank algebra. */
  def aucOn(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ties = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("pos"))
    val w = Window.partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ties
      .withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("pos") * (lit(2L) * col("cb") + col("c") + lit(1L)))
          .as("rank2_pos"))
      .select(col("source"), col("n"), col("n_pos"),
        (col("rank2_pos") - col("n_pos") * (col("n_pos") + lit(1L)))
          .as("auc_num2"),
        (lit(2L) * col("n_pos") * (col("n") - col("n_pos")))
          .as("auc_den2"))
      .withColumn("auc", when(col("auc_den2") > 0L,
        round(col("auc_num2").cast("double") / col("auc_den2"), 6)))
      .orderBy(col("source"))
  }

  /** Inter-rater agreement (Cohen's κ) between two deterministic
    * quality raters — the calibration check a labeling pipeline runs
    * before trusting heuristic gates as silver labels: rater A flags
    * long documents (n_chars ≥ 300), rater B flags token-rich ones
    * (≥ 50 whitespace tokens). Per language: the 2×2 confusion counts
    * and κ = (N·agree − Σ marginal products)/(N² − Σ marginal
    * products) — numerator and denominator are exact BIGINTs (the
    * po/pe fractions cleared of their N² denominators), one final
    * correctly-rounded division. Degenerate classes (pe = 1, κ
    * undefined) report NULL rather than dividing by zero.
    *
    * Scale shape: both raters are row-local predicates folded into ONE
    * map-side-combined aggregation over the corpus — the whole
    * operator is a single shuffle of |langs| × 4 counters. */
  def raterKappa(spark: SparkSession, dir: String): DataFrame =
    raterKappaOn(Tables.documents(spark, dir)
      .select(col("lang"),
        when(col("n_chars") >= 300L, 1L).otherwise(0L).as("a"),
        when(size(split(lower(trim(col("text"))), "\\s+")) >= 50, 1L)
          .otherwise(0L).as("b")))

  /** Core of [[raterKappa]] over any (lang, a ∈ {0,1}, b ∈ {0,1})
    * frame — split out so specs can drive perfect agreement (κ = 1),
    * independence (κ = 0) and the degenerate pe = 1 class through the
    * cleared-fraction algebra. */
  def raterKappaOn(rated: DataFrame): DataFrame = {
    rated.groupBy(col("lang"))
      .agg(sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(col("lang"), col("n11"), col("n10"), col("n01"), col("n00"),
        ((col("n11") + col("n10") + col("n01") + col("n00"))
            * (col("n11") + col("n00"))
          - ((col("n11") + col("n10")) * (col("n11") + col("n01"))
            + (col("n00") + col("n01")) * (col("n00") + col("n10"))))
          .as("kappa_num"),
        ((col("n11") + col("n10") + col("n01") + col("n00"))
            * (col("n11") + col("n10") + col("n01") + col("n00"))
          - ((col("n11") + col("n10")) * (col("n11") + col("n01"))
            + (col("n00") + col("n01")) * (col("n00") + col("n10"))))
          .as("kappa_den"))
      .withColumn("kappa", when(col("kappa_den") > 0L,
        round(col("kappa_num").cast("double") / col("kappa_den"), 6)))
      .orderBy(col("lang"))
  }

  /** Source-concentration GINI — one number for "how unbalanced is
    * the corpus across sources" (the diversity metric a mixture
    * rebalance run reports before/after). Computed from the closed
    * form over ascending-sorted source counts x₁ ≤ … ≤ x_n:
    * G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx) — numerator and denominator are
    * exact BIGINTs (the sort order is totalized by a source tiebreak),
    * so the only float op is the one final correctly-rounded division.
    *
    * Scale shape: one map-side-combined source count; the rank window
    * runs over the |sources| dimension relation (bounded — the same
    * fixed-cardinality class every broadcast dim in the repo relies
    * on) under a non-foldable constant partition key. */
  def giniSources(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("x"))
    def oneGroup = pmod(length(col("source")), lit(1))
    val w = Window.partitionBy(oneGroup).orderBy(col("x"), col("source"))
    val wAll = Window.partitionBy(oneGroup)
    counts
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .agg(max(col("n")).as("n_sources"),
        sum(col("x")).as("total_docs"),
        sum((lit(2L) * col("i") - col("n") - lit(1L)) * col("x"))
          .as("gini_num"),
        (max(col("n")) * sum(col("x"))).as("gini_den"))
      .withColumn("gini",
        round(col("gini_num").cast("double") / col("gini_den"), 6))
  }

  /** SOURCE-CONCENTRATION LORENZ CURVE — the curve behind
    * [[giniSources]]'s scalar: sources ordered by ascending TOKEN mass
    * (the Lorenz order), each row carrying the cumulative source share
    * and the cumulative token share — the picture a data-mixture audit
    * reads before setting [[Sampling.mixtureWeights]]: how far the
    * curve bows below the diagonal is how much of the corpus a handful
    * of sources own. Shares are exact-integer cumulative sums divided
    * once at the output edge (round 6); token mass uses the repo's
    * standard tokenization (greatest(size(split(lower(trim), ws)), 1)).
    * Scale shape: one map-side-combined per-source aggregate, then one
    * rank window over the |sources| dimension relation under a
    * non-foldable constant key — the [[giniSources]] class. */
  def lorenzSources(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        greatest(size(split(lower(trim(col("text"))), "\\s+")).cast("long"),
          lit(1L)).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_tokens"))
    def oneGroup = pmod(length(col("source")), lit(1))
    val w = Window.partitionBy(oneGroup)
      .orderBy(col("n_tokens"), col("source"))
    val wAll = Window.partitionBy(oneGroup)
    perSource
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_sources", count(lit(1)).over(wAll))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(wAll))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("i").cast("double") / col("n_sources"), 6)
          .as("cum_source_share"),
        round(col("cum_tokens").cast("double") / col("tot_tokens"), 6)
          .as("cum_token_share"))
      .orderBy(col("cum_source_share"))
  }

  /** Two-sample Kolmogorov–Smirnov drift screen: per source, the KS
    * statistic between the source's document-length distribution and
    * the REST of the corpus — the distributional complement of
    * [[sourceDrift]]'s token-level chi². The statistic is kept
    * INTEGER-EXACT by clearing both CDF denominators:
    * D·n_s·n_rest = max over merged values v of
    * |n_rest·F_s(v)·n_s − n_s·F_rest(v)·n_rest| = |n_rest·cum_s −
    * n_s·(cum_all − cum_s)| — a float CDF would ulp-wobble the max on
    * near-ties. The dense (source × value) grid rides the same bounded
    * broadcast-dimension pattern as [[Privacy.tClosenessOn]]: the value
    * dimension is the distinct length domain (bounded by content, not
    * corpus size), each source must see every global value (missing ⇒
    * zero mass) for its CDF to align. BIGINT headroom: n_s·n_rest must
    * stay < 2^63 — fine to ~3·10^9 docs; past that promote the cleared
    * products to decimal. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame =
    ksDriftOn(Tables.documents(spark, dir))

  /** Core of [[ksDrift]] over any frame with (source, n_chars) — split
    * out so specs can drive crafted distributions (identical ⇒ D = 0,
    * disjoint supports ⇒ D = 1) through it. */
  def ksDriftOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = docs.select(col("source"), col("n_chars").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("n_sv"))
    val srcTot = cnt.groupBy(col("source")).agg(sum(col("n_sv")).as("n_s"))
    def oneGroup = pmod(col("v"), lit(1))
    val wCum = Window.partitionBy(oneGroup).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(oneGroup)
    val bins = cnt.groupBy(col("v")).agg(sum(col("n_sv")).as("n_v"))
      .withColumn("cum_all", sum(col("n_v")).over(wCum))
      .withColumn("n_tot", sum(col("n_v")).over(wAll))
      .select(col("v"), col("cum_all"), col("n_tot"))
    val grid = srcTot.crossJoin(broadcast(bins))
      .join(cnt, Seq("source", "v"), "left")
      .withColumn("n_in", coalesce(col("n_sv"), lit(0L)))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_s", sum(col("n_in")).over(wSrc))
      .withColumn("n_rest", col("n_tot") - col("n_s"))
      .withColumn("gap", abs(col("n_rest") * col("cum_s") -
        col("n_s") * (col("cum_all") - col("cum_s"))))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_src"), max(col("n_rest")).as("n_rest"),
        max(col("gap")).as("ks_num"))
      .withColumn("ks",
        when(col("n_src") * col("n_rest") > 0L,
          round(col("ks_num").cast("double") /
            (col("n_src") * col("n_rest")).cast("double"), 6)))
      .orderBy(col("source"))
  }

  /** Pairwise TOTAL-VARIATION drift between source unigram
    * distributions: TV(a,b) = ½ Σ_tok |p_a − p_b| over the UNION of
    * the two vocabularies — the mass-level companion of the
    * vocabulary-set Jaccard ([[graft.operators.TextAnalysis.vocabOverlap]]):
    * two feeds can share every type yet weight them so differently
    * that mixing them shifts the training distribution. Exact and
    * rational: with per-source totals T, each term is
    * |c_a·T_b − c_b·T_a| / (T_a·T_b); tokens OUTSIDE the
    * intersection contribute (T_a − Σ∩c_a)·T_b + (T_b − Σ∩c_b)·T_a,
    * recovered from the INNER-join aggregate alone by
    * inclusion–exclusion — the union never materializes. tv_num /
    * tv_den stay BIGINT to one closing division (headroom: c·T exact
    * while per-source tokens < 3·10⁹; swap the two products to
    * DECIMAL(38,0) beyond). The (source, token) relation is
    * localCheckpoint'd once across its three uses (totals + both join
    * legs — the winnow-fp discipline); per-token fanout in the
    * self-join is bounded by the source cardinality, pair frame by
    * its square, so the only data-sized shuffle is the first count.
    * Sharing-nothing pairs (no common token) surface with tv = 1 via
    * the broadcast totals-pair frame. */
  def unigramTvDrift(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(split(lower(trim(col("text"))),
        "\\s+")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = st.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val stt = st.join(broadcast(totals), Seq("source"))
    val la = stt.select(col("source").as("source_a"), col("tok"),
      col("c").as("c_a"), col("t").as("t_a"))
    val lb = stt.select(col("source").as("source_b"), col("tok"),
      col("c").as("c_b"), col("t").as("t_b"))
    val inner = la.join(lb, Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(abs(col("c_a") * col("t_b") - col("c_b") * col("t_a")))
        .as("m"), sum(col("c_a")).as("sa"), sum(col("c_b")).as("sb"))
    val pairs = totals.toDF("source_a", "t_a")
      .join(broadcast(totals.toDF("source_b", "t_b")),
        col("source_a") < col("source_b"))
    pairs.join(inner, Seq("source_a", "source_b"), "left")
      .withColumn("tv_num",
        coalesce(col("m"), lit(0L)) +
          (col("t_a") - coalesce(col("sa"), lit(0L))) * col("t_b") +
          (col("t_b") - coalesce(col("sb"), lit(0L))) * col("t_a"))
      .withColumn("tv_den", lit(2L) * col("t_a") * col("t_b"))
      .withColumn("tv",
        round(col("tv_num").cast("double") / col("tv_den"), 6))
      .select(col("source_a"), col("source_b"), col("t_a"), col("t_b"),
        col("tv_num"), col("tv_den"), col("tv"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** TV distance between ONE pair of token-count relations — the
    * kernel the streaming drift monitor replays per micro-batch (the
    * corpus-wide pairwise form is [[unigramTvDrift]]). `ref` and `cur`
    * are (tok, c) count frames; the distance runs over the vocabulary
    * UNION via a full-outer join (both sides are vocabulary-bounded —
    * and in the monitor the current side is one micro-batch), zeros
    * for absent types, same cleared BIGINT num/den as the pairwise
    * operator (totals attach as a broadcast 1-row scalar). Returns
    * exactly one row (n_ref, n_cur, tv_num, tv_den, tv); an empty
    * side scores tv = 1 against any non-empty other side, and the
    * degenerate both-empty case surfaces NULL tv rather than dividing
    * by zero. */
  def tvDistance(ref: DataFrame, cur: DataFrame): DataFrame = {
    val cells = ref.select(col("tok"), col("c").as("c_ref"))
      .join(cur.select(col("tok"), col("c").as("c_cur")), Seq("tok"),
        "full_outer")
      .select(coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
      .localCheckpoint()
    val totals = cells.agg(sum(col("c_ref")).as("n_ref"),
      sum(col("c_cur")).as("n_cur"))
    cells.crossJoin(broadcast(totals))
      .agg(first(col("n_ref")).as("n_ref"), first(col("n_cur")).as("n_cur"),
        sum(abs(col("c_ref") * col("n_cur") - col("c_cur") * col("n_ref")))
          .as("raw_num"))
      .withColumn("tv_num",
        when(col("n_ref") > 0L && col("n_cur") > 0L, col("raw_num"))
          .when(col("n_ref") > 0L || col("n_cur") > 0L,
            lit(2L) * greatest(col("n_ref"), col("n_cur"))))
      .withColumn("tv_den",
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          lit(2L) * col("n_ref") * col("n_cur"))
          .when(col("n_ref") > 0L || col("n_cur") > 0L,
            lit(2L) * greatest(col("n_ref"), col("n_cur"))))
      .withColumn("tv",
        when(col("tv_den") > 0L,
          round(col("tv_num").cast("double") / col("tv_den"), 6)))
      .select(coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        col("tv_num"), col("tv_den"), col("tv"))
  }

  /** Per-source chi-square DRIFT over equi-width document-length
    * bins — the binned-mass companion of [[ksDriftOn]]'s max-gap
    * statistic (KS is sensitive to one sharp gap, the binned χ² to
    * diffuse reweighting). SCALE-SAFE binning: bin = ((n − lo)·B) div
    * (hi − lo + 1) off the broadcast 1-row (min, max, N) scalar —
    * row-local integer arithmetic with an identical expression tree
    * in both engines, never a global ntile sort. Per (source, bin)
    * cell with ZEROS materialized from the broadcast ≤B-row bin
    * dimension (the t-closeness grid class); bin totals derive from
    * `obs` (one documents scan feeds the whole statistic). The cell
    * gap o·N − n_s·b_t forms in DECIMAL(38,0) — exact at any corpus
    * size (|gap| ≤ N² needs N > 10¹⁹ to overflow 38 digits) — and the
    * χ² contribution closes per CELL as (gap·gap)/(N·n_s·b_t) in
    * DOUBLE: every step of that fixed tree (decimal→double cast, two
    * products, one division) is correctly rounded IEEE, so DuckDB
    * evaluating the identical tree is bit-equal. No cross-bin double
    * summation whose order could wobble. Closure laws (spec): Σo over
    * bins = n_s, Σb_t = N; the DECIMAL path is exercised by a crafted
    * beyond-BIGINT cell grid in ScaleStrategySpec via [[chiCells]]. */
  def lengthDrift(spark: SparkSession, dir: String, nBins: Int = 10)
      : DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("long").as("n"))
    val mm = d.agg(min(col("n")).as("lo"), max(col("n")).as("hi"),
      count(lit(1)).as("n_all"))
    val obs = d.crossJoin(broadcast(mm))
      .withColumn("bin",
        expr(s"((n - lo) * ${nBins}L) div (hi - lo + 1L)"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("o"))
    val binTot = obs.groupBy(col("bin")).agg(sum(col("o")).as("b_t"))
    val srcTot = obs.groupBy(col("source")).agg(sum(col("o")).as("n_s"))
    chiCells(srcTot.crossJoin(broadcast(binTot))
      .join(obs, Seq("source", "bin"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(mm.select(col("n_all")))))
      .orderBy(col("source"), col("bin"))
  }

  /** Append the per-cell χ² contribution to a (source, bin, o, n_s,
    * b_t, n_all) grid — the arithmetic kernel of [[lengthDrift]],
    * factored out so a crafted beyond-BIGINT grid can exercise the
    * DECIMAL(38,0) gap formation directly (counts near 2^62 would
    * throw under ANSI BIGINT; here they are exact). Output carries no
    * decimal column — only the BIGINT grid plus the double `contrib`
    * — so the oracle boundary stays engine-neutral. */
  private[graft] def chiCells(grid: DataFrame): DataFrame =
    grid
      .withColumn("gap",
        col("o").cast("decimal(38,0)") * col("n_all") -
          col("n_s").cast("decimal(38,0)") * col("b_t"))
      .withColumn("contrib",
        round((col("gap").cast("double") * col("gap").cast("double")) /
          (col("n_all").cast("double") * col("n_s").cast("double") *
            col("b_t").cast("double")), 6))
      .select(col("source"), col("bin"), col("o"), col("n_s"),
        col("b_t"), col("n_all"), col("contrib"))

  /** SOURCE × LANGUAGE COMPOSITION MATRIX: per (source, lang) cell the
    * doc count, its share of the source, and its share of the corpus —
    * the mixture table a multilingual rebalance reads next to the
    * temperature mix (which languages does each crawl actually
    * contribute, and how lopsided). One map-side-combined cell count;
    * marginals derive from the cell table, never a second fact scan
    * (the crosstab discipline); two fixed closing divisions. */
  def langMix(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val srcTot = cells.groupBy(col("source")).agg(sum(col("n")).as("n_source"))
    val total = cells.agg(sum(col("n")).as("t")).scalar()
    cells.join(broadcast(srcTot), Seq("source"))
      .withColumn("source_share",
        round(col("n").cast("double") / col("n_source"), 6))
      .withColumn("corpus_share",
        round(col("n").cast("double") / total, 6))
      .select(col("source"), col("lang"), col("n"), col("n_source"),
        col("source_share"), col("corpus_share"))
      .orderBy(col("source"), col("lang"))
  }

  /** SHARD-ROUTING BALANCE AUDIT: route every document to one of
    * `nShards` writer shards by a content-stable hash of its id (the
    * md5-hex prefix, so the assignment is engine-portable and
    * reproducible at any cluster size) and report each shard's doc
    * count, byte mass, and skew factor vs the uniform expectation —
    * the pre-flight check before a 100 TB write fleet commits to a
    * partitioning (one hot shard = one straggling writer). One
    * map-side-combined aggregate; the skew closes over broadcast
    * scalars. */
  def shardBalance(spark: SparkSession, dir: String,
      nShards: Int = 32): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % nShards).as("shard"),
        col("n_chars"))
    val shards = d.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val total = shards.agg(sum(col("n_docs")).as("t")).scalar()
    shards
      .withColumn("skew", when(total > 0L,
        round(col("n_docs").cast("double") * nShards / total, 6)))
      .orderBy(col("shard"))
  }
}
