package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Metrics
import graft.sources.Tables

/** Engine-capability surface that only exists on Spark 4: the VARIANT
  * semi-structured type, recursive CTEs, and collation-aware
  * comparison — each expressed as a real analytics pattern over the
  * test tables (not a syntax demo), each with a DuckDB oracle.
  */
object Modern {

  /** VARIANT-typed semi-structured extraction: `parse_json` converts
    * the JSON payload to Spark 4's binary VARIANT encoding ONCE, then
    * `variant_get` extracts typed paths without re-parsing — at 100 TB
    * this replaces per-access string parsing (`get_json_object`, the
    * `q_json_extract` twin) with parse-once/extract-many over a
    * columnar binary encoding. Aggregates the extracted metric per
    * event type. */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k").cast("long")).as("k_sum"),
        round(avg(col("k")), 4).as("k_avg"))
      .orderBy(col("event_type"))

  /** Recursive CTE month spine: generate the dense month series
    * covering the order history RECURSIVELY (Spark 4 `WITH RECURSIVE`),
    * then left-join monthly order counts so empty months appear as
    * explicit zero rows — the canonical "dense calendar spine" pattern
    * that a plain groupBy cannot produce (it silently drops empty
    * buckets; downstream time-series models need the gaps). The
    * recursion is bounded by the date range (driver-side fixpoint of
    * ~80 rows, broadcast into the join). */
  def monthSpine(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_ms")
    spark.sql(
      """WITH RECURSIVE months AS (
        |  SELECT TIMESTAMP '1995-01-01 00:00:00' AS month_start
        |  UNION ALL
        |  SELECT month_start + INTERVAL 1 MONTH FROM months
        |  WHERE month_start < TIMESTAMP '2001-07-01 00:00:00'
        |)
        |SELECT m.month_start,
        |       count(o.o_orderkey) AS n_orders,
        |       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
        |FROM months m
        |LEFT JOIN orders_ms o
        |  ON date_trunc('MONTH', o.o_orderdate) = m.month_start
        |GROUP BY m.month_start
        |ORDER BY m.month_start""".stripMargin)
  }

  /** Collation-aware grouping: mixed-case category values (the mess
    * every federated ingest produces) grouped under the UTF8_LCASE
    * collation — the engine-level form of "group case-insensitively"
    * that keeps comparisons collation-correct inside the aggregation
    * instead of lossy lower() rewrites scattered through queries. The
    * output key is canonicalized to lowercase so the oracle (which
    * groups by lower()) compares exactly. */
  def collationGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
          .otherwise(lower(col("c_mktsegment"))).as("seg_mixed"))
      .select(col("c_custkey"),
        expr("seg_mixed COLLATE UTF8_LCASE").as("seg"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"))
      .select(lower(col("seg")).as("segment"), col("n_customers"))
      .orderBy(col("segment"))

  /** LATERAL correlated subquery with per-row ORDER BY … LIMIT — the
    * "top-k related rows per outer row" idiom stated the way analysts
    * write it. Spark DECORRELATES the lateral into a keyed window
    * rank under the hood (DecorrelateInnerQuery), so the executed plan
    * is one shuffle on the correlation key — the same plan the manual
    * window formulation gets, proving the sugar costs nothing at
    * scale. Deterministic: the LIMIT is taken under a total order
    * (price desc, then key). */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_lt")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_lt")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer_lt c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders_lt o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  /** Contamination blast radius — recursive CTE as GRAPH TRAVERSAL
    * (the self-referencing-join form, vs [[monthSpine]]'s series
    * form): seed with every document that is a VERBATIM subset of
    * another (containment 1.0 from `Dedup.containmentJoin` — the
    * quote/excerpt relation), then expand ≤ `maxHops` hops through the
    * symmetrized containment graph. The quarantine question an eval-
    * decontamination pass asks: "these docs leaked; what else is
    * transitively entangled with them?" Emits each reached doc with
    * its minimum hop distance.
    *
    * Spark's recursive CTE (4.1) supports UNION ALL only, so the
    * recursive member carries the visited path and prunes revisits
    * (`array_contains`) — on a cyclic graph UNION ALL alone would spin
    * until the hop bound while multiplying rows. The min(hop) GROUP BY
    * outside the recursion makes the result IDENTICAL to engines that
    * dedup with UNION (the DuckDB oracle does), path guard or not.
    *
    * Scale shape: each recursion round is one frontier ⋈ edges
    * equi-join — exactly iterative BFS; `maxHops` bounds rounds, and
    * the simple-path guard bounds intermediate multiplicity to simple
    * paths of length ≤ maxHops (near-dup graphs are sparse AFTER
    * dedup; practical H is 1-3). UNBOUNDED closure is deliberately not
    * this operator — that is `Graph.connectedComponents`' O(log n)
    * star contraction. */
  def blastRadius(spark: SparkSession, dir: String, tau: Double = 0.6,
      shingle: Int = 3, maxHops: Int = 2): DataFrame =
    blastRadiusOn(spark, Dedup.containmentJoin(spark, dir, tau, shingle),
      maxHops)

  /** Core of [[blastRadius]] over any (doc_a, doc_b, containment)
    * pair frame — split out so specs can drive crafted graphs
    * (cycles, chains, diamonds, cliques) through the recursion.
    *
    * Two physical strategies with identical min-hop semantics,
    * dispatched on the hop bound:
    *
    *  - `maxHops` ≤ 2: the recursive CTE. Its simple-path visited
    *    guard bounds revisits, but inside a dense clique of k docs it
    *    still materializes O(k^maxHops) simple paths per seed before
    *    the outer min(hop) collapses them — fine at ≤ 2 hops on
    *    post-dedup graphs, a real blowup deeper on boilerplate-heavy
    *    corpora.
    *  - `maxHops` ≥ 3: iterative frontier joins with PER-ROUND
    *    frontier dedup and an anti-join against the reached set —
    *    textbook distributed BFS. Intermediate rows per round are
    *    bounded by |edges| regardless of density (each edge
    *    contributes at most one candidate per round), so a k-clique
    *    costs O(k²) per round, not O(k^H) paths. Each round's
    *    frontier is localCheckpoint'd: bounded lineage, and the next
    *    round's join reads materialized blocks (cluster deployments
    *    would use reliable checkpoints; the plan shape is the same).
    */
  def blastRadiusOn(spark: SparkSession, pairs: DataFrame,
      maxHops: Int): DataFrame = {
    // materialize the pair computation ONCE: both strategies read the
    // pairs several times, and the recursive member re-evaluates its
    // edge subtree every round — an un-checkpointed containment join
    // would re-run per hop (measured 29s vs 7s at sf0.1 for maxHops=2)
    val p = Metrics.phase(spark, "blast.pairs")(pairs.localCheckpoint())
    if (maxHops <= 2) blastRadiusRecursive(spark, p, maxHops)
    else Metrics.phase(spark, "blast.rounds")(blastRadiusIterative(p, maxHops))
  }

  /** The `maxHops` ≤ 2 path of [[blastRadiusOn]] over materialized
    * `pairs`. */
  private def blastRadiusRecursive(spark: SparkSession, pairs: DataFrame,
      maxHops: Int): DataFrame = {
    // The coalesce sits ON TOP of the checkpoint, so the pair
    // computation itself still materializes at full parallelism (the
    // upstream verify needs the cores — see Dedup.spreadPairs); only
    // the per-round re-reads shrink. Without it every CTE round
    // schedules one near-empty task per checkpoint partition over a
    // pair relation that is panel-bounded tiny by contract (measured
    // +0.6 s/query at 32 partitions × 2 subtrees × rounds).
    val p = pairs.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 8))
    // per-invocation view names: fixed names would clobber caller
    // views and race concurrent invocations sharing one session; the
    // views are dropped once the (eagerly analyzed) plan holds their
    // resolved subtrees
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val edgesV = s"blast_edges_$tag"
    val seedsV = s"blast_seeds_$tag"
    p.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(p.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .createOrReplaceTempView(edgesV)
    p.filter(col("containment") === 1.0)
      .select(col("doc_a").as("doc_id")).distinct()
      .createOrReplaceTempView(seedsV)
    try {
      spark.sql(
        s"""WITH RECURSIVE reach(doc_id, hop, path) AS (
           |  SELECT doc_id, 0, array(doc_id) FROM $seedsV
           |  UNION ALL
           |  SELECT e.b, r.hop + 1, array_append(r.path, e.b)
           |  FROM reach r JOIN $edgesV e ON e.a = r.doc_id
           |  WHERE r.hop < $maxHops AND NOT array_contains(r.path, e.b))
           |SELECT doc_id, CAST(min(hop) AS BIGINT) AS hop
           |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    } finally {
      spark.catalog.dropTempView(edgesV)
      spark.catalog.dropTempView(seedsV)
    }
  }

  /** Iterative-join BFS (the `maxHops` ≥ 3 path of [[blastRadiusOn]])
    * over materialized `pairs`: reached ∪= (frontier ⋈ edges) \
    * reached, one round per hop. */
  private def blastRadiusIterative(p: DataFrame,
      maxHops: Int): DataFrame = {
    val edges = p.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(p.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .localCheckpoint()
    var reached = p.filter(col("containment") === 1.0)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("hop", lit(0L))
      .localCheckpoint()
    var frontier = reached.select(col("doc_id"))
    var h = 0
    while (h < maxHops && !frontier.isEmpty) {
      h += 1
      // per-round dedup BEFORE the anti-join: a dense clique fans a
      // frontier node into k candidates, but distinct collapses them
      // to one row per doc before anything accumulates
      val next = frontier.join(edges, frontier("doc_id") === edges("a"))
        .select(col("b").as("doc_id")).distinct()
        .join(reached.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .localCheckpoint()
      reached = reached.union(next).localCheckpoint()
      frontier = next.select(col("doc_id"))
    }
    reached.select(col("doc_id"), col("hop")).orderBy(col("doc_id"))
  }

  /** JSON SCHEMA DISCOVERY over the semi-structured `props` column:
    * per top-level key — occurrence count, presence share, how many
    * values parse as integers (and their exact min/max/sum), and the
    * distinct-value count — the profile that turns "a bag of JSON
    * blobs" into a typed-extraction plan (which keys are dense enough
    * to promote to columns, which are numeric, which are
    * high-cardinality junk). Keys surface through one
    * `from_json(map<string,string>)` explode (row-local — no schema
    * supplied up front, which is the point); numeric inference is
    * `try_cast` (never an ANSI throw on a stray string); one
    * key-bounded aggregate. */
  def jsonProfile(spark: SparkSession, dir: String): DataFrame = {
    val total = Tables.events(spark, dir)
      .agg(count(lit(1)).as("n")).scalar()
    Tables.events(spark, dir)
      .select(explode(from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))))
      .withColumnRenamed("value", "v")
      .withColumn("num", expr("try_cast(v AS BIGINT)"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("num").isNotNull, 1L).otherwise(0L)).as("n_numeric"),
        min(col("num")).as("num_min"), max(col("num")).as("num_max"),
        sum(col("num")).as("num_sum"),
        countDistinct(col("v")).as("n_distinct"))
      .withColumn("presence",
        round(col("n_rows").cast("double") / total, 6))
      .select(col("key"), col("n_rows"), col("presence"),
        col("n_numeric"), col("num_min"), col("num_max"),
        col("num_sum"), col("n_distinct"))
      .orderBy(col("key"))
  }
}
