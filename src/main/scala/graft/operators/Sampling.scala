package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions.normToks
import graft.sources.Tables

/** Sampling and split-assignment operators. The workhorse is
  * content-hash splitting: membership depends only on the key's digest,
  * so splits are reproducible across runs, engines and cluster sizes,
  * and rows never migrate between train/test when the corpus grows —
  * properties rng-based sampling cannot give at 100 TB.
  */
object Sampling {

  /** The split of key `c` from the first hex nibble of md5(key): 16
    * equal slices mapped to train/val/test (12/2/2). Row-local, so
    * callers apply it to pair columns directly. */
  def splitOf(c: Column): Column = {
    val nibble = substring(md5(c.cast("string")), 1, 1)
    when(nibble.isin("0", "1"), "test")
      .when(nibble.isin("2", "3"), "val")
      .otherwise("train")
  }

  /** `df` with a `split` column: [[splitOf]] its `keyCol`. */
  def hashSplit(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("split", splitOf(col(keyCol)))

  /** Split-assignment audit: per (split, lang) document counts. */
  def splitCounts(spark: SparkSession, dir: String): DataFrame =
    hashSplit(Tables.documents(spark, dir), "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang"))

  /** Deterministic md5-top-N audit panel: the `n` keys with the
    * lexicographically smallest md5(key) digests (ties broken by key).
    * A content-hash panel, not a sample-by-rng: both engines compute
    * the identical set, so a quadratic ORACLE (all-pairs containment,
    * transitive reach) stays checker-feasible at any corpus size by
    * auditing the panel while the library operator runs full-corpus.
    * Scale shape: TakeOrderedAndProject over bare keys (no global
    * sort materializes), then a broadcast semi-join back. */
  def md5TopN(docs: DataFrame, keyCol: String, n: Int): DataFrame = {
    val panel = docs
      .select(col(keyCol), md5(col(keyCol).cast("string")).as("h"))
      .orderBy(col("h"), col(keyCol)).limit(n)
      .select(col(keyCol))
    docs.join(broadcast(panel), Seq(keyCol))
  }

  /** Stratified sampling by a category column (seeded Bernoulli per
    * stratum — Spark's sampleBy). Approximate by design; the spec
    * checks proportions, not exact counts. */
  def stratified(df: DataFrame, strataCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** DETERMINISTIC stratified sampling: per-stratum fraction applied by
    * content-hash threshold (first two hex digits of md5(key) as a
    * uniform draw over 0..255), so membership is a pure function of the
    * key — reproducible across engines/runs/cluster sizes, and stable
    * under corpus growth, which rng-based sampleBy cannot give. A row
    * joins the sample iff its draw < fraction(stratum)·256. */
  def stratifiedHash(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double], default: Double = 0.0): DataFrame = {
    val draw = conv(substring(md5(col(keyCol).cast("string")), 1, 2), 16, 10)
      .cast("int")
    val threshold = fractions.foldLeft(lit(default * 256)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(f * 256)).otherwise(acc)
    }
    df.filter(draw < threshold)
  }

  /** Stratified-sample audit query: deterministic per-language sample
    * (en kept at 50%, others at 25%) — emits the sampled ids so the
    * oracle check is membership-exact, not just count-close. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedHash(Tables.documents(spark, dir), "doc_id", "lang",
      Map("en" -> 0.5), default = 0.25)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Exact-N per-stratum sample: where [[stratifiedHash]] gives a
    * deterministic RATE (membership stable under growth), this gives a
    * deterministic SIZE — rank rows inside each stratum by the md5 of
    * their key (a uniform, engine-reproducible order) and keep the
    * first `n`. The eval-set/holdout shape: "exactly 1000 docs per
    * language, reproducibly". One keyed window shuffle; skew bounded by
    * stratum size. Unlike rate draws, membership shifts as the corpus
    * grows (rank is relative) — that's the contract of a fixed-size
    * draw, documented here deliberately. */
  def stratifiedTopN(df: DataFrame, keyCol: String, strataCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= n)
      .drop("_rk")
  }

  /** Audit query: exactly 20 docs per language, deterministic. */
  def stratifiedTopNSample(spark: SparkSession, dir: String,
      n: Int = 20): DataFrame =
    stratifiedTopN(Tables.documents(spark, dir), "doc_id", "lang", n)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis 2006): each row draws u ∈ (0,1) and ranks by u^(1/w) —
    * the top-n ranks are an exact weighted draw. We rank by the
    * monotone-equivalent ln(u)/w (no pow), with u derived from the
    * row's content hash (13 md5 hex digits → 52 bits, exact in a
    * double), so the draw is a pure function of the key: reproducible
    * across engines, runs and cluster sizes. The key is rounded to 9
    * decimals (kills cross-engine ln ulp noise, cf. q_tfidf) and ties
    * break on the key column. Weights must be strictly positive — a
    * zero/negative weight inverts the ranking for that row (callers
    * clamp, cf. [[weightedSampleDocs]]). Plan shape: row-local key
    * computation +
    * `orderBy.limit(n)` — Spark plans the global top-n as
    * TakeOrderedAndProject (per-partition heap, driver merge of n·P
    * rows), never a global sort. The returned frame keeps `es_key`
    * for auditability. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      n: Int): DataFrame = {
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(math.pow(16.0, 13))
    df.withColumn("es_key",
        round(log(u) / col(weightCol).cast("double"), 9))
      .orderBy(col("es_key").desc, col(keyCol))
      .limit(n)
  }

  /** Per-GROUP Efraimidis–Spirakis weighted sample — [[weightedSample]]
    * stratified: the same deterministic content-hash key, ranked inside
    * each `groupCol` partition, top `n` kept per group. The batch
    * reference for the streaming reservoir
    * ([[graft.streaming.Streams.reservoirStream]]), and the "n docs per
    * language, drawn ∝ weight" selection shape. The rank window's
    * partitions are per-group reservoirs; the heavy input should be
    * pre-aggregated to one row per key (as the doc tables are). */
  def weightedSamplePerGroup(df: DataFrame, keyCol: String,
      weightCol: String, groupCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(math.pow(16.0, 13))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("es_key").desc, col(keyCol))
    df.withColumn("es_key",
        round(log(u) / col(weightCol).cast("double"), 9))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .drop("rk")
  }

  /** Audit query: 100 docs drawn with probability ∝ token count (the
    * "sample training docs proportional to length" shape). */
  def weightedSampleDocs(spark: SparkSession, dir: String,
      n: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        greatest(size(split(lower(trim(col("text"))), "\\s+")).cast("long"),
          lit(1L)).as("n_tokens"))
    weightedSample(docs, "doc_id", "n_tokens", n)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing for training batches: assign documents to packs
    * of ~`budget` tokens. Docs are spread over hash buckets (so packing
    * parallelizes — each bucket packs independently, which is the 100 TB
    * shape: bucket count scales with the cluster, the window inside a
    * bucket is a keyed running sum, never global), ordered
    * deterministically within the bucket, and cut greedily at the
    * running-token-sum boundary: pack = floor((prefix_sum − 1)/budget).
    * A document longer than the budget nominally owns an overflowing
    * pack — the greedy contract (splitting is the tokenizer's job).
    * Deterministic: membership is a pure function of doc_id order. */
  def sequencePack(spark: SparkSession, dir: String,
      budget: Long = 512L, nBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        col("bucket") * lit(1000000L) + floor((col("cum") - 1) / budget))
      .select(col("doc_id"), col("n_tokens"), col("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** Domain-mixing resampler (the "data mixture" step of a training
    * pipeline): given target mix WEIGHTS per domain, downsample each
    * domain so the surviving corpus matches the target proportions as
    * closely as downsampling allows. The scarcest domain relative to
    * its weight binds the total (cap = min n_d/w_d — no upsampling);
    * every domain then keeps rate_d = w_d·cap/n_d of its rows via the
    * same content-hash draw as [[stratifiedHash]], so membership is a
    * pure function of the key: reproducible across engines and stable
    * under corpus growth. Plan shape: one tiny per-domain count (the
    * only shuffle), rates broadcast back, acceptance is a row-local
    * predicate — 100 TB cost = one scan. Domains missing from the
    * weight map are excluded (the mix DEFINES the kept domains). */
  def sourceMix(spark: SparkSession, dir: String,
      weights: Map[String, Double] = Map("en" -> 0.4, "zh" -> 0.2,
        "de" -> 0.2, "es" -> 0.1, "fr" -> 0.1),
      domainCol: String = "lang"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wCol = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (k, v)) => when(col(domainCol) === k, lit(v)).otherwise(acc)
    }
    val counts = docs.groupBy(col(domainCol))
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("w", wCol)
      .filter(col("w").isNotNull)
    val cap = counts.agg(min(col("n") / col("w")).as("cap"))
    val rates = counts.crossJoin(broadcast(cap))
      .withColumn("rate", least(lit(1.0), col("w") * col("cap") / col("n")))
      .select(col(domainCol), col("rate"))
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
      .cast("int")
    docs.join(broadcast(rates), Seq(domainCol))
      .filter(draw < col("rate") * 256)
      .select(col("doc_id"), col(domainCol).as("domain"))
      .orderBy(col("doc_id"))
  }

  /** TEMPERATURE-SCALED source mixture weights (α = 0.5): the standard
    * multilingual/multi-source rebalancing rule (sample source i
    * ∝ nᵢ^α, α < 1 upsamples the tail — mT5/XLM-R's recipe) computed
    * per source over the documents table. α is PINNED to 1/2 because
    * that is the one temperature whose power is an IEEE
    * correctly-rounded primitive (`sqrt`) on every engine — an
    * arbitrary-α `pow` is libm-skewed and would force rows-only. Two
    * deterministic outputs per source: the fixed-point weight
    * w_micro = ⌊√n·10⁶ + ½⌋ (exact integer, no cross-source float
    * sums on the oracle surface) and rel_rate = √n / √n_max rounded
    * 6dp — the relative up/down-sampling factor vs the largest source
    * (a single correctly-rounded division, deterministic; a
    * normalized share would sum √n in engine-dependent order).
    * One tiny aggregation; the 1-row max rides a broadcast. */
  def mixtureWeights(spark: SparkSession, dir: String,
      domainCol: String = "source"): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    val nMax = counts.agg(max(col("n_docs")).as("n_max"))
    counts.crossJoin(broadcast(nMax))
      .select(col("domain"), col("n_docs"),
        floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5)
          .cast("long").as("w_micro"),
        round(sqrt(col("n_docs").cast("double"))
          / sqrt(col("n_max").cast("double")), 6).as("rel_rate"))
      .orderBy(col("domain"))
  }

  /** Pack-level audit of [[sequencePack]]: docs and tokens per pack. */
  def packAudit(spark: SparkSession, dir: String): DataFrame =
    sequencePack(spark, dir)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
      .orderBy(col("pack_id"))

  /** Padding-waste profile under power-of-two length bucketing — the
    * batching-efficiency report behind length-bucketed training
    * batches (docs padded to their bucket cap; waste = paid-but-empty
    * token slots). The bucket cap is the least power of two ≥ the
    * token count, computed INTEGER-exactly from the bit length of
    * n−1 (`length(bin(n-1))`) — `ceil(log2(n))` via floating log
    * misbuckets exact powers of two when `log(2^k)/log(2)` lands a
    * half-ulp high. Row-local bucket assignment, one ≤ ~30-group
    * aggregate: linear scan at any corpus size. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(size(normToks).cast("long").as("n"))
      .withColumn("len_bucket", when(col("n") <= 1, 1L)
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), length(bin(n - 1)))")))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .withColumn("padding",
        col("len_bucket") * col("n_docs") - col("sum_tokens"))
      .withColumn("waste_share", round(col("padding").cast("double")
        / (col("len_bucket") * col("n_docs")), 4))
      .orderBy(col("len_bucket"))

  /** TEMPERATURE-SAMPLED source mixture at α = 1/2 — the multilingual
    * up-sampling law (weights ∝ n^α, XLM/mBERT's exponentiated
    * smoothing) made EXACT: α = 1/2 is the one non-trivial temperature
    * computable bit-stably cross-engine, because √ is IEEE
    * correctly-rounded (unlike pow/ln) and scaling by 2^20 is an
    * exponent shift — weight = floor(√n_tok · 2²⁰) is the same BIGINT
    * in any engine. The token budget is then apportioned by LARGEST
    * REMAINDER (Hamilton): base = (B·w) div W, remainder = (B·w) mod
    * W, and the Σbase-vs-B deficit goes to the largest remainders on
    * the (rem DESC, source) total order — pure integer arithmetic,
    * Σalloc = B exactly (spec law). One scan (row-local `size` of the
    * token split — no explode), a source-bounded aggregate, two
    * broadcast 1-row scalars, and a rank window over the
    * source-cardinality frame behind a non-foldable constant key.
    * Headroom: B·w < 2^63 holds to ~10¹² tokens/source at the default
    * budget. */
  def temperatureMix(spark: SparkSession, dir: String,
      budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
        .as("n_tok"))
      .withColumn("weight",
        floor(sqrt(col("n_tok").cast("double")) * lit(1048576.0))
          .cast("long"))
    val wsum = counts.agg(sum(col("weight")).as("wsum"))
    val based = counts.crossJoin(broadcast(wsum))
      .withColumn("base", expr(s"(${budget}L * weight) div wsum"))
      .withColumn("rem", expr(s"(${budget}L * weight) % wsum"))
    val deficit = based.agg((lit(budget) - sum(col("base"))).as("deficit"))
    val w = Window.partitionBy(pmod(col("weight"), lit(1)))
      .orderBy(col("rem").desc, col("source"))
    based.crossJoin(broadcast(deficit))
      .withColumn("rnk", row_number().over(w))
      .withColumn("alloc",
        col("base") + when(col("rnk") <= col("deficit"), 1L).otherwise(0L))
      .withColumn("share", round(col("alloc").cast("double") / budget, 6))
      .select(col("source"), col("n_tok"), col("weight"), col("base"),
        col("rem"), col("alloc"), col("share"))
      .orderBy(col("source"))
  }
}
