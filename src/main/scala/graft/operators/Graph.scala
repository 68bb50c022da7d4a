package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Iterative graph operators over plain edge-list DataFrames — the
  * pregel-as-joins shape: node state is a (id, value) frame, every
  * superstep is ONE equi-join against the edge list plus ONE keyed
  * aggregation, and lineage is cut per round so the job graph stays
  * flat. The edge list (with degrees) is materialized once up front and
  * reused by every superstep — at 100 TB the adjacency is read from
  * memory/disk blocks each round, never recomputed from source.
  * Complements [[Dedup.dedupClusters]] (connected-component labels)
  * with a weighted-importance signal.
  */
object Graph {

  /** Driver-side fast-path threshold in canonical edges, shared by the
    * small-graph branches of [[connectedComponents]], [[kCore]] and
    * [[pagerankPanel]]. CLAMPED to 64M edges (~1 GB of driver arrays):
    * the conf is the adaptive-local-fallback knob, not a license to
    * collect a corpus-sized graph — a misconfigured 10¹² must not OOM
    * the driver. */
  private[graft] val LocalMaxEdgesCeiling = 64000000L

  private[graft] def localMaxEdges(spark: SparkSession): Long =
    math.min(LocalMaxEdgesCeiling,
      spark.conf.getOption("graft.cc.localMaxEdges")
        .map(_.toLong).getOrElse(4000000L))

  /** PageRank by fixed-count power iteration over an UNDIRECTED edge
    * list: rank(v) = (1-d) + d·Σ_{u ∈ N(v)} rank(u)/deg(u), started
    * from rank ≡ 1 so ranks sum to the node count (no dangling mass in
    * a symmetrized graph — every node has deg ≥ 1).
    *
    * The adjacency (with degrees) is staged ONCE as a table bucketed +
    * sorted by src — the stored layout IS the partitioning, so every
    * iteration's join reads the EDGE side shuffle-free and only the
    * node-sized rank frame moves. This matters: localCheckpoint does
    * not carry hash-partitioning into the logical plan (measured — the
    * scan re-exchanges every round), so a checkpointed adjacency would
    * re-shuffle the edge volume each iteration; the bucketed layout is
    * what makes per-iteration cost O(nodes), the difference between a
    * usable and unusable 100 TB PageRank. Per iteration: ranks exchange
    * to the bucket layout, sort-merge join, then a map-side-combined
    * groupBy(dst) sum. Fixed iteration count keeps the job graph
    * deterministic; float summation order still varies with
    * partitioning, so callers needing cross-run stability round the
    * emitted rank (see [[dupCentrality]]). LocalCheckpoint bounds rank
    * lineage per round; cluster deployments would use checkpoint(dir).
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      damping: Double = 0.85, iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    val adjTable = "graft_pr_adj_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    stageAdjacency(edges, srcCol, dstCol, adjTable)
    try pagerankOnAdjacency(spark, adjTable, damping, iters)
    finally spark.sql(s"DROP TABLE IF EXISTS $adjTable")
  }

  /** Symmetrize `edges`, attach out-degrees, and persist the result as
    * a table bucketed + sorted by src — the index-build half of the
    * PageRank build/iterate split (the adjacency analogue of
    * [[Dedup.buildMinhashIndex]]). The frame is repartitioned onto the
    * bucket hash BEFORE the write so each task owns exactly one bucket
    * and the table lands as nBuckets files — without it every writer
    * task emits a sliver of every bucket (up to tasks × buckets tiny
    * files) and each later iteration pays the whole file-open storm
    * again. Idempotent per table name (Overwrite). */
  def stageAdjacency(edges: DataFrame, srcCol: String, dstCol: String,
      adjTable: String): Unit = {
    val spark = edges.sparkSession
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges
        .select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nBuckets = spark.sessionState.conf.numShufflePartitions
    sym.join(deg, Seq("src"))
      .select(col("src"), col("dst"), col("deg"))
      .repartition(nBuckets, col("src"))
      .write.bucketBy(nBuckets, "src").sortBy("src")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(adjTable)
  }

  /** Power iteration over a pre-staged adjacency table (the probe half
    * of the build/iterate split — callers amortize [[stageAdjacency]]
    * across runs exactly like the MinHash/IVF index probes). Per
    * iteration: the node-sized rank frame exchanges onto the bucket
    * layout, sort-merge joins the shuffle-free edge side, then one
    * map-side-combined groupBy(dst) sum. The symmetrized graph has
    * deg ≥ 1 everywhere, so every node is some edge's dst and the
    * contribution aggregate already covers the whole node set — no
    * per-round base-rank join is needed. */
  def pagerankOnAdjacency(spark: SparkSession, adjTable: String,
      damping: Double = 0.85, iters: Int = 10): DataFrame = {
    val adj = spark.table(adjTable)
    var ranks = adj.select(col("src").as("id")).distinct()
      .withColumn("pr", lit(1.0))
      .localCheckpoint()
    for (i <- 1 to iters) {
      ranks = adj.join(ranks, col("src") === col("id"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in"))
        .select(col("dst").as("id"),
          (lit(1.0 - damping) + lit(damping) * col("in")).as("pr"))
      // lineage cut every SECOND round (and on the last): each eager
      // localCheckpoint is a scheduled job, and at panel scale the
      // fixpoint is job-count-bound (guide §2/§5 — fuse per-round
      // overhead). Two rounds of join+aggregate per materialized job
      // halves the job count; the per-round operators, partitioning
      // and float summation order are unchanged, so the ranks are
      // bit-identical to the every-round-checkpoint form.
      if (i % 2 == 0 || i == iters) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round rewrites the edge set so every node
    * links closer to its component minimum — large-star hangs every
    * neighbor LARGER than u off u's neighborhood minimum, small-star
    * re-hangs the smaller neighbors. The edge set converges to a
    * star forest (every node → its component root) in O(log n) rounds
    * even on DEEP components — a path of length n needs ~n rounds of
    * min-label propagation ([[Dedup.propagationClusters]]'s shape,
    * fine for shallow near-dup clusters) but only ~log n alternations,
    * which at 100 TB is the difference between 40 shuffles and 12 on
    * chain-shaped duplication structures (version histories, serial
    * crawl mirrors). Each half-round is one groupBy(min) + one
    * equi-join on the edge list, lineage cut per round; convergence is
    * detected by an order-independent (count, hash-xor) signature —
    * one tiny aggregate per round instead of a full edge-set diff
    * (xor, not sum: ±2⁶³ hashes overflow a long sum under ANSI mode;
    * xor is closed, and edges are distinct so nothing cancels).
    *
    * Returns (id, component) for every node incident to an edge,
    * component = smallest node id reachable. Callers add isolated
    * nodes with component = self (see the spec's parity harness). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    def bothDirs(df: DataFrame): DataFrame =
      df.select(col("u"), col("v"))
        .union(df.select(col("v").as("u"), col("u").as("v")))
    var l = canon(edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))).localCheckpoint()
    // SMALL-GRAPH FAST PATH: below `graft.cc.localMaxEdges` (default
    // 4M canonical edges ≈ 64 MB on the driver) the star-contraction
    // fixpoint's per-round cost is pure job-scheduling overhead —
    // ~3 jobs/round × O(log n) rounds over kilobytes — so the
    // materialized edge list is collected once and union-find labels
    // it on the driver with IDENTICAL semantics (component = smallest
    // reachable id; parity with the distributed path is spec-pinned).
    // Above the threshold the distributed O(log n) path runs unchanged
    // — this is an adaptive local fallback like the broadcast-join
    // threshold, not a scale strategy.
    val spark = edges.sparkSession
    val localMax = localMaxEdges(spark)
    val nEdges = l.count()
    if (nEdges <= localMax) {
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      l.collect().foreach { row =>
        val (u, v) = (row.getLong(0), row.getLong(1))
        if (!parent.containsKey(u)) parent.put(u, u)
        if (!parent.containsKey(v)) parent.put(v, v)
        val (ru, rv) = (find(u), find(v))
        // union by MIN root: the root invariant IS the component label
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      val it = parent.keySet().iterator()
      while (it.hasNext) { val id = it.next(); out += ((id, find(id))) }
      return out.toSeq.toDF("id", "component")
    }
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var prev = signature(l)
    var i = 0
    var done = l.isEmpty
    while (i < maxIters && !done) {
      // large-star: for each u, every neighbor v > u links to
      // min(N(u) ∪ {u})
      val nbrs = bothDirs(l)
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = canon(nbrs.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))).localCheckpoint()
      // small-star: for each u, the neighbors v < u (and u itself)
      // re-hang on their minimum
      val down = bothDirs(large).filter(col("v") < col("u"))
      val mins2 = down.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = down.join(mins2, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
      l = canon(small).localCheckpoint()
      val cur = signature(l)
      done = cur == prev
      prev = cur
      i += 1
    }
    // a non-converged edge set would label nodes with NON-minima —
    // fail loudly instead of returning silently wrong components (the
    // worst-case round bound is polylog, so hitting maxIters means the
    // caller under-budgeted, not that the answer is "close enough")
    require(done,
      s"connectedComponents did not converge within $maxIters alternations; " +
        "raise maxIters")
    bothDirs(l).groupBy(col("u").as("id"))
      .agg(min(col("v")).as("mv"))
      .select(col("id"), least(col("mv"), col("id")).as("component"))
  }

  /** INCREMENTAL connected components — the batch-ingest companion of
    * [[connectedComponents]] and the component-level twin of the
    * persisted MinHash band index ([[Dedup.probeMinhashIndex]]): given
    * the previous run's labels and the NEW edges an arrival batch
    * introduced (e.g. index-probe candidate pairs), recompute only the
    * components those edges touch. Untouched components pass through
    * unread; each affected component is re-expressed as its star
    * (member → root edges — labels ARE a converged star forest, which
    * is what makes them a sufficient summary of the old graph), the
    * stars union the new edges, and the alternating-star rewrite
    * re-converges in O(log) rounds over AFFECTED nodes only. At 100 TB
    * this is the difference between per-crawl-wave cost scaling with
    * the wave's blast radius and scaling with the corpus.
    *
    * `oldLabels` is (id, component); returns the same shape covering
    * every old node plus every node in `newEdges`. Parity with a full
    * recompute over the union graph is spec-proved. */
  def incrementalComponents(oldLabels: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val eRaw = newEdges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
    val e = eRaw.filter(col("u") =!= col("v"))
    // touched nodes come from the RAW edges: a brand-new node whose
    // only edges are self-loops still belongs in the output (as its
    // own singleton component)
    val touched = eRaw.select(col("u").as("id"))
      .union(eRaw.select(col("v").as("id"))).distinct()
    // components whose membership the new edges can possibly change
    val touchedComps = oldLabels
      .join(touched, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val affected = oldLabels
      .join(touchedComps, Seq("component"), "left_semi")
    val untouched = oldLabels
      .join(touchedComps, Seq("component"), "left_anti")
    // star edges re-encode each affected component exactly
    val starEdges = affected
      .filter(col("id") =!= col("component"))
      .select(col("id").as("u"), col("component").as("v"))
    val merged = connectedComponents(
      starEdges.unionByName(e), "u", "v")
    // nodes touched only by self-loops never reach the merged graph
    // (no real edge): previously-known ones keep their old label,
    // brand-new ones self-label as singleton components
    val silentSingletons = affected
      .join(merged.select(col("id")), Seq("id"), "left_anti")
    val newSingletons = touched
      .join(oldLabels.select(col("id")), Seq("id"), "left_anti")
      .join(merged.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    untouched.select(col("id"), col("component"))
      .unionByName(merged.select(col("id"), col("component")))
      .unionByName(silentSingletons.select(col("id"), col("component")))
      .unionByName(newSingletons)
  }

  /** Duplication-graph centrality: PageRank over the MinHash near-dup
    * candidate graph. Documents that sit in the middle of large
    * duplication structures (boilerplate, templates, mirrored content)
    * rank high — a corpus-curation signal the pair list alone doesn't
    * give, and the weighted companion to the connected-components
    * labels of [[Dedup.dedupClusters]]. Rank rounded to 6 decimals to
    * pin partial-sum order noise.
    *
    * The adjacency is a persisted bucketed table that
    * [[graft.sources.Staged]] builds once per session and `documents`
    * contents, and later calls reuse (build/iterate split — the MinHash
    * band index contract). */
  def dupCentrality(spark: SparkSession, dir: String): DataFrame = {
    val adjTable = graft.sources.Staged(spark, "graft_pr_adj_dc", dir,
        Seq("documents")) { t =>
      // unordered pair core: stageAdjacency symmetrizes + distincts,
      // so the query face's presentation sort is wasted here
      stageAdjacency(Dedup.minhashPairsOf(
        graft.sources.Tables.documents(spark, dir)), "doc_a", "doc_b", t)
    }._1
    pagerankOnAdjacency(spark, adjTable)
      .select(col("id").as("doc_id"), round(col("pr"), 6).as("centrality"))
      .orderBy(col("doc_id"))
  }

  /** Triangle participation over the co-purchase graph by DEGREE-ORDERED
    * orientation — the join-based formulation that survives scale.
    * Graph: parts are nodes; an edge connects parts co-ordered in ≥
    * `minWeight` distinct orders (the weight prune is the density
    * lever: it strips one-off co-occurrence noise AND keeps the edge
    * set tracking genuinely-associated pairs rather than growing with
    * raw order volume). Counting: orient every edge from its
    * lower-degree endpoint (ties by id) and count directed paths
    * a→b→c closed by a→c. Orientation is WHY this scales: max
    * out-degree after degree-orientation is O(√m), so the wedge join
    * emits O(m^1.5) candidates worst-case instead of Σdeg² — the
    * classical bound that makes triangle counting a pair of equi-joins
    * at any graph size, never a nested loop. Pair generation is
    * row-local (sorted combinations inside each order's part set —
    * order baskets are bounded small), so the whole operator is
    * 3 keyed shuffles: basket build, edge weight count, degree join;
    * the wedge/closure joins run over the weight-pruned edge list,
    * which is materialized once (tiny by construction) instead of
    * re-deriving the basket lineage three times. */
  /** Per-node triangle participation of an undirected simple graph
    * (edges deduplicated, u ≠ v assumed) — the degree-orientation
    * counting core shared by [[coorderTriangles]] and the spec's
    * synthetic graphs. */
  def triangleParticipation(edges: DataFrame, uCol: String,
      vCol: String): DataFrame = {
    val e0 = edges.select(
      least(col(uCol), col(vCol)).as("u"),
      greatest(col(uCol), col(vCol)).as("v"))
      // a self-loop (x,x) would close every wedge through x into a
      // phantom triangle — simple-graph semantics drop it here
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = e0.select(col("u").as("p")).unionByName(e0.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    // materialized once: three joins below reuse it, and its true
    // (tiny) size lets AQE broadcast the wedge-closure probes
    val ori = e0
      .join(deg.select(col("p").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("p").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"))
      .localCheckpoint()
    val wedges = ori.select(col("s").as("a"), col("t").as("b"))
      .join(ori.select(col("s").as("b"), col("t").as("c")), Seq("b"))
    val tri = wedges.join(ori.select(col("s").as("a"), col("t").as("c")),
      Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_tri"))
  }

  /** DEGREE HISTOGRAM of the co-purchase graph: count-of-counts over
    * node degrees — the one-screen shape readout (a power-law tail is
    * organic co-purchase structure; a spike at one degree is a
    * template/batch artifact). One edge-list degree count + one
    * count-of-counts over the already-node-sized relation; result
    * bounded by the max degree. */
  def degreeHist(spark: SparkSession, dir: String,
      minWeight: Int = 2): DataFrame =
    degreeHistOf(copurchaseEdges(spark, dir, minWeight))

  /** Core of [[degreeHist]] over any (u, v) edge list — split out so
    * specs can drive crafted graphs through it. */
  def degreeHistOf(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(col("u"), col("v"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
      .groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** GLOBAL CLUSTERING COEFFICIENT of the co-purchase graph:
    * C = 3·triangles / wedges, assembled entirely from exact BIGINT
    * counts — node and edge totals, wedges Σ d(d−1) div 2, and the
    * triangle-participation sum (which IS 3·triangles: every triangle
    * contributes one participation at each of its three corners) — so
    * the one closing division is the only IEEE op and the statistic is
    * bit-stable. The transitivity screen over the basket graph:
    * high C = communities (real product affinity), C near the random
    * baseline = noise edges. Reuses the degree-oriented triangle
    * kernel; wedge counting is one node-sized aggregate. Zero wedges
    * (no node of degree ≥ 2) reports NULL, not a throw. */
  def clusteringCoeff(spark: SparkSession, dir: String,
      minWeight: Int = 2): DataFrame =
    clusteringCoeffOf(copurchaseEdges(spark, dir, minWeight))

  /** Core of [[clusteringCoeff]] over any (u, v) edge list — split out
    * so specs can drive closed-form graphs (triangle ⇒ 1, star ⇒ 0)
    * through it. */
  def clusteringCoeffOf(edges: DataFrame): DataFrame = {
    val e = edges.localCheckpoint()
    val tri3 = triangleParticipation(e, "u", "v")
      .agg(coalesce(sum(col("n_tri")), lit(0L)).as("t3")).scalar()
    val nEdges = e.agg(count(lit(1)).as("ne")).scalar()
    e.select(explode(array(col("u"), col("v"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
      .withColumn("n_edges", nEdges.cast("long"))
      .withColumn("tri3", tri3.cast("long"))
      .withColumn("n_triangles", expr("tri3 div 3"))
      .withColumn("global_cc", when(col("n_wedges") > 0L,
        round(col("tri3").cast("double") / col("n_wedges"), 6)))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), col("tri3"), col("global_cc"))
  }

  def coorderTriangles(spark: SparkSession, dir: String,
      minWeight: Int = 2): DataFrame =
    triangleParticipation(copurchaseEdges(spark, dir, minWeight), "u", "v")
      .orderBy(col("n_tri").desc, col("p")).limit(20)

  /** The co-purchase part graph shared by [[coorderTriangles]] and
    * [[kCoreParts]]: parts co-ordered in ≥ `minWeight` distinct orders.
    * Basket pair-generation is row-local over each order's sorted part
    * set (baskets are bounded small); the weight floor is the density
    * lever that keeps the edge list sparse at any corpus size. */
  def copurchaseEdges(spark: SparkSession, dir: String,
      minWeight: Int = 2): DataFrame =
    copurchaseEdgesOf(graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")), minWeight)

  /** Core of [[copurchaseEdges]] over any (o, p) order-part frame —
    * the unit the panel-bounded oracle queries drive. */
  def copurchaseEdgesOf(op: DataFrame, minWeight: Int): DataFrame = {
    op.groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      // native pair kernel — same (i < j) pairs in the same order, no
      // nested interpreted lambdas / per-element slice copies
      .select(explode(graft.functions.HashExpressions.pairCombos(col("ps")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
      .select(col("u"), col("v"))
  }

  /** K-CORE decomposition membership: the maximal subgraph in which
    * every node keeps degree ≥ k — the standard density filter for
    * link-graph cleaning (crawl spam rings and boilerplate mirror
    * clusters survive k-cores that organic link neighborhoods don't)
    * and for selecting well-connected duplicate neighborhoods worth
    * clustering at all.
    *
    * Iterative PEELING, the textbook fixpoint: each round computes
    * degrees (one groupBy over the current edge list) and drops every
    * node below k together with its incident edges (two semi-joins).
    * Both sides only ever SHRINK, so each round costs at most one
    * degree aggregation + edge-list filter over the surviving graph —
    * per-round cost tracks the surviving edge count, and the
    * edge-count signature detects the fixpoint (edges unchanged ⇒
    * degrees unchanged ⇒ nothing left below k). Lineage is cut per
    * round like [[connectedComponents]]. Round count is bounded by the
    * graph's degeneracy ordering depth — tens on real link graphs; the
    * `maxRounds` fence fails LOUDLY on adversarial path-shaped inputs
    * (each round peels only the frontier) rather than looping
    * unbounded.
    *
    * Returns (p, core_deg): nodes of the k-core with their degree
    * WITHIN the core. */
  def kCore(edges: DataFrame, uCol: String, vCol: String, k: Int,
      maxRounds: Int = 40): DataFrame = {
    def bothDirs(df: DataFrame): DataFrame =
      df.select(col("u"), col("v"))
        .union(df.select(col("v").as("u"), col("u").as("v")))
    var e = edges.select(
      least(col(uCol), col(vCol)).as("u"),
      greatest(col(uCol), col(vCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var nEdges = e.count()
    // SMALL-GRAPH FAST PATH (the [[connectedComponents]] union-find
    // shape): below the shared threshold the peeling fixpoint's
    // per-round cost is pure job-scheduling overhead — 2 jobs/round
    // (checkpoint + count) over kilobytes — so the already-materialized
    // edge list is collected once and peeled on the driver with
    // IDENTICAL semantics, including the maxRounds failure contract
    // (one sweep here = one distributed round; the fixpoint itself is
    // unique, so core membership and in-core degrees cannot differ —
    // GraphSpec pins parity and forces the distributed loop with
    // conf 0). Above the threshold the distributed peel runs unchanged.
    val spark = edges.sparkSession
    if (nEdges <= localMaxEdges(spark)) {
      var es = e.collect().map(r => (r.get(0), r.get(1))).toSeq
      var round = 0
      var done = es.isEmpty
      while (round < maxRounds && !done) {
        val deg = new java.util.HashMap[Any, Long]()
        es.foreach { case (u, v) =>
          deg.merge(u, 1L, java.lang.Long.sum _)
          deg.merge(v, 1L, java.lang.Long.sum _)
        }
        val next = es.filter { case (u, v) =>
          deg.get(u) >= k && deg.get(v) >= k }
        done = next.length == es.length
        es = next
        round += 1
      }
      require(done,
        s"kCore did not reach its fixpoint within $maxRounds peeling rounds; " +
          "raise maxRounds (peel depth exceeds the budget on this graph)")
      val coreDeg = new java.util.HashMap[Any, Long]()
      es.foreach { case (u, v) =>
        coreDeg.merge(u, 1L, java.lang.Long.sum _)
        coreDeg.merge(v, 1L, java.lang.Long.sum _)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("p",
          e.schema("u").dataType, e.schema("u").nullable),
        org.apache.spark.sql.types.StructField("core_deg",
          LongType, nullable = false)))
      val rows = new java.util.ArrayList[Row](coreDeg.size)
      val it = coreDeg.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next(); rows.add(Row(en.getKey, en.getValue))
      }
      return spark.createDataFrame(rows, schema)
    }
    var round = 0
    var done = nEdges == 0L
    while (round < maxRounds && !done) {
      val deg = bothDirs(e).groupBy(col("u").as("p"))
        .agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("p"))
      val next = e
        .join(keep.select(col("p").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("p").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
      val n2 = next.count()
      done = n2 == nEdges
      e = next
      nEdges = n2
      round += 1
    }
    require(done,
      s"kCore did not reach its fixpoint within $maxRounds peeling rounds; " +
        "raise maxRounds (peel depth exceeds the budget on this graph)")
    bothDirs(e).groupBy(col("u").as("p"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** Market-basket ASSOCIATION RULES over the order/part baskets —
    * support, confidence and lift for every directed part pair
    * co-ordered in ≥ `minSupport` orders (Agrawal & Srikant's Apriori
    * readout at the pair level, which is where retail/corpus
    * co-occurrence mining starts). Oracle-surface arithmetic: supports
    * are exact longs; confidence (n_ab/n_a) and lift (n_ab·N /
    * (n_a·n_b)) are fixed trees of correctly-rounded IEEE divisions,
    * rounded at the edge, ranked on the rounded value with pair
    * tiebreaks.
    *
    * Plan: row-local basket pair generation (sorted per-order part
    * sets, the same prologue as [[copurchaseEdges]]), one pair-keyed
    * count, a |parts|-sized count relation joined twice (broadcast at
    * dimension scale), the order total as a 1-row broadcast, and a
    * `TakeOrderedAndProject` top-N. */
  def basketRules(spark: SparkSession, dir: String, minSupport: Int = 2,
      topN: Int = 50): DataFrame = {
    val op = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val nOrders = op.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val partN = op.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val pairN = op.groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      // native pair kernel — same (i < j) pairs in the same order, no
      // nested interpreted lambdas / per-element slice copies
      .select(explode(graft.functions.HashExpressions.pairCombos(col("ps")))
        .as("e"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v"))
      .agg(count(lit(1)).as("n_uv"))
      .filter(col("n_uv") >= minSupport)
    val directed = pairN.select(col("u").as("antecedent"),
        col("v").as("consequent"), col("n_uv").as("n_both"))
      .unionByName(pairN.select(col("v").as("antecedent"),
        col("u").as("consequent"), col("n_uv").as("n_both")))
    directed
      .join(partN.select(col("p").as("antecedent"), col("n_p").as("n_ant")),
        Seq("antecedent"))
      .join(partN.select(col("p").as("consequent"), col("n_p").as("n_cons")),
        Seq("consequent"))
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ant"), col("n_cons"),
        round(col("n_both").cast("double") / col("n_ant"), 6).as("confidence"),
        round(col("n_both").cast("double") * col("n_orders")
          / (col("n_ant").cast("double") * col("n_cons")), 6).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(topN)
  }

  /** q_kcore: the 3-core of the co-purchase part graph — parts that
    * stay mutually densely co-ordered after everything weakly attached
    * is peeled away. */
  def kCoreParts(spark: SparkSession, dir: String, k: Int = 3,
      minWeight: Int = 2): DataFrame =
    kCore(copurchaseEdges(spark, dir, minWeight), "u", "v", k)
      .orderBy(col("core_deg").desc, col("p")).limit(50)

  /** The number of peel rounds [[kCorePanel]] runs AND its DuckDB
    * oracle unrolls — shared so the two computations are the same
    * algorithm by construction. */
  val KCorePanelRounds = 16

  /** The iteration count [[pagerankPanel]] runs AND its DuckDB oracle
    * unrolls — fixed, not convergence-driven: a pinned round count IS
    * the spec, shared so the two computations are the same algorithm
    * by construction. */
  val PagerankPanelRounds = 10

  /** ORACLE-CHECKED PageRank: INTEGER-EXACT power iteration over the
    * same md5-top-order-panel co-purchase graph as [[kCorePanel]] —
    * the second iterative-fixpoint family on the oracle surface. The
    * trick is fixed-point mass in micro-units: total mass 10¹², every
    * contribution `pr div deg` and damping `(85·Σ) div 100` are
    * INTEGER floor divisions, and integer sums are order-independent —
    * so every round is bit-identical on every engine (float PageRank
    * would die on cross-engine partial-sum order). Truncation loss is
    * deterministic and part of the spec. Fixed
    * [[PagerankPanelRounds]] rounds, no convergence question. */
  def pagerankPanel(spark: SparkSession, dir: String,
      panelN: Int = 2000): DataFrame = {
    val panel = graft.operators.Sampling.md5TopN(
      graft.sources.Tables.orders(spark, dir).select(col("o_orderkey")),
      "o_orderkey", panelN)
    val op = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .join(broadcast(panel.select(col("o_orderkey").as("o"))), Seq("o"),
        "left_semi")
    val e = copurchaseEdgesOf(op, minWeight = 1).localCheckpoint()
    // SMALL-GRAPH FAST PATH: the fixed-point mass arithmetic is ALL
    // integer (floor divisions and long sums — order-independent), so
    // a driver power iteration is BIT-IDENTICAL to the distributed one
    // at any partitioning; below the shared threshold it replaces
    // ~2 scheduled jobs × [[PagerankPanelRounds]] rounds over kilobytes
    // (GraphSpec pins parity and forces the distributed loop with
    // conf 0). Above the threshold the distributed iteration runs
    // unchanged.
    if (e.count() <= localMaxEdges(spark)) {
      val es = e.collect().map { r =>
        (r.get(0).asInstanceOf[Number].longValue,
          r.get(1).asInstanceOf[Number].longValue)
      }
      val degM = new java.util.HashMap[Long, Long]()
      es.foreach { case (u, v) =>
        degM.merge(u, 1L, java.lang.Long.sum _)
        degM.merge(v, 1L, java.lang.Long.sum _)
      }
      val n = degM.size.toLong
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("p", LongType, nullable = true),
        org.apache.spark.sql.types.StructField("pr_int", LongType,
          nullable = true)))
      if (n == 0L)
        return spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      val base = 1000000000000L / n
      val teleport = 150000000000L / n
      var pr = new java.util.HashMap[Long, Long]()
      degM.keySet().forEach(p => pr.put(p, base))
      for (_ <- 1 to PagerankPanelRounds) {
        val sums = new java.util.HashMap[Long, Long]()
        es.foreach { case (u, v) =>
          // both directions: u contributes to v and v to u
          sums.merge(v, pr.get(u) / degM.get(u), java.lang.Long.sum _)
          sums.merge(u, pr.get(v) / degM.get(v), java.lang.Long.sum _)
        }
        val next = new java.util.HashMap[Long, Long]()
        degM.keySet().forEach { p =>
          val s = sums.getOrDefault(p, 0L)
          next.put(p, teleport + (85L * s) / 100L)
        }
        pr = next
      }
      val rows = new java.util.ArrayList[Row](pr.size)
      pr.forEach((p, v) => rows.add(Row(p, v)))
      return spark.createDataFrame(rows, schema).orderBy(col("p"))
    }
    val both = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = both.groupBy(col("u").as("p"))
      .agg(count(lit(1)).as("d")).localCheckpoint()
    val n = deg.count()
    if (n == 0L)
      return deg.select(col("p").cast("long"), col("d").as("pr_int")).limit(0)
    // driver constants: Scala long division == SQL DIV for positives
    val base = 1000000000000L / n
    val teleport = 150000000000L / n
    var pr = deg.select(col("p"), lit(base).as("pr"))
    for (_ <- 1 to PagerankPanelRounds) {
      val contrib = pr.join(deg, Seq("p"))
        .selectExpr("p AS src", "pr DIV d AS c")
      val sums = both.join(contrib, col("u") === col("src"))
        .groupBy(col("v").as("p")).agg(sum(col("c")).as("s"))
      pr = deg.select(col("p")).join(sums, Seq("p"), "left")
        .select(col("p"),
          (lit(teleport) + expr("(85 * coalesce(s, 0L)) DIV 100")).as("pr"))
        .localCheckpoint()
    }
    pr.select(col("p").cast("long").as("p"), col("pr").cast("long").as("pr_int"))
      .orderBy(col("p"))
  }

  /** ORACLE-CHECKED k-core: the peeling fixpoint over the subgraph
    * induced by a deterministic md5-top-N part panel (the containment
    * family's audit-surface pattern). The full-graph operator stays
    * [[kCoreParts]] (rows-only — an unbounded fixpoint has no clean
    * SQL form); THIS query makes the peel itself oracle-checkable by
    * bounding the graph and UNROLLING the rounds: peeling is a nested
    * fixpoint (each round aggregates the full surviving state, which a
    * recursive CTE's bag-union semantics cannot express), but a fixed
    * unroll of [[KCorePanelRounds]] chained CTE rounds is exact
    * whenever the peel converges within them — extra rounds past the
    * fixpoint are no-ops, and NON-convergence cannot pass silently:
    * the Spark side throws (same round budget), and an unconverged
    * oracle side would still hold sub-k nodes and hash-mismatch. */
  def kCorePanel(spark: SparkSession, dir: String, k: Int = 2,
      panelN: Int = 2000): DataFrame = {
    // the panel bounds ORDERS, not parts: each surviving basket is a
    // clique (so ≥3-part baskets guarantee the 2-core is non-empty at
    // every SF — a part panel would starve the induced graph as the
    // corpus grows), the edge list is ≤ panel × basket² at any scale,
    // and 2-part baskets / chains still give the peel real work
    val panel = graft.operators.Sampling.md5TopN(
      graft.sources.Tables.orders(spark, dir).select(col("o_orderkey")),
      "o_orderkey", panelN)
    val op = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .join(broadcast(panel.select(col("o_orderkey").as("o"))), Seq("o"),
        "left_semi")
    kCore(copurchaseEdgesOf(op, minWeight = 1), "u", "v", k,
      maxRounds = KCorePanelRounds)
      .select(col("p").cast("long").as("p"),
        col("core_deg").cast("long").as("core_deg"))
      .orderBy(col("p"))
  }

  /** MODULARITY of the nation partition on the τ=1 NAME-LINKAGE
    * graph (nodes = customers, edges = [[graft.operators.Dedup.editJoin]]
    * candidates) — the Newman-Girvan clustering-quality reading "do
    * near-duplicate names concentrate within nations, or does the
    * blocking leak across them". EXACT AND RATIONAL with the
    * denominators cleared: per community c, contribution
    * q_num_c = 4m·e_c − d_c² over q_den = 4m² (m edges, e_c
    * within-community edges, d_c the community degree sum), global
    * modularity Q = Σq_num_c / 4m². Plan: the edit join (lossless
    * deletion blocking), one broadcast nation attach per endpoint,
    * one community aggregate over the nation-bounded relation, the
    * 1-row m scalar broadcast; nodes outside every edge contribute
    * zero by definition and carry no row. Σe_c ≤ m and Σd_c = 2m are
    * the spec closure laws. */
  def linkageModularity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val cust = graft.sources.Tables.customer(spark, dir)
    val nat = cust.select(col("c_custkey"), col("c_nationkey").cast("long")
      .as("nation"))
    // candidate generation staged once per session and shared with
    // fsLinkage / linkageAssortativity (it dominates all three)
    val edges = Dedup.stagedNameEditPairs(spark, dir)
      .select(col("key_a"), col("key_b"))
      .join(nat.toDF("key_a", "nat_a"), Seq("key_a"))
      .join(nat.toDF("key_b", "nat_b"), Seq("key_b"))
      .localCheckpoint()
    val m = edges.agg(count(lit(1)).as("m_edges"))
    val degs = edges.select(col("key_a").as("k"), col("nat_a").as("nation"))
      .unionAll(edges.select(col("key_b").as("k"), col("nat_b").as("nation")))
      .groupBy(col("k"), col("nation")).agg(count(lit(1)).as("deg"))
    val dSum = degs.groupBy(col("nation")).agg(sum(col("deg")).as("d_sum"))
    val eIn = edges.filter(col("nat_a") === col("nat_b"))
      .groupBy(col("nat_a").as("nation")).agg(count(lit(1)).as("e_in"))
    dSum.join(eIn, Seq("nation"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("q_num",
        lit(4L) * col("m_edges") * col("e_in") - col("d_sum") * col("d_sum"))
      .withColumn("q_den", lit(4L) * col("m_edges") * col("m_edges"))
      .withColumn("q_part",
        round(col("q_num").cast("double") / col("q_den"), 6))
      .select(col("nation"), col("e_in"), col("d_sum"), col("m_edges"),
        col("q_num"), col("q_den"), col("q_part"))
      .orderBy(col("nation"))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002) of the same name-linkage
    * graph: the Pearson correlation of endpoint degrees over edges —
    * "do well-connected names link to other well-connected names"
    * (positive on social graphs, NEGATIVE on hub-and-spoke near-dup
    * blocks, where one canonical spelling links to many one-off
    * typos). Fully RATIONAL once the /2M moments are cleared: with
    * S1 = Σ(j+k), S2 = Σ(j²+k²), S3 = Σjk over the M edges,
    * r = (4M·S3 − S1²) / (2M·S2 − S1²) — no square root survives
    * the clearing, so the whole statistic is BIGINT-exact to one
    * closing division. One degree aggregate + two candidate-sized
    * attach joins + one 1-row moment reduction; the zero-variance
    * degenerate (every endpoint the same degree) surfaces NULL. */
  def linkageAssortativity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    // staged once per session, shared with fsLinkage / linkageModularity
    val edges = Dedup.stagedNameEditPairs(spark, dir)
      .select(col("key_a"), col("key_b"))
    val degs = edges.select(col("key_a").as("k"))
      .unionAll(edges.select(col("key_b").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("deg"))
    edges
      .join(degs.toDF("key_a", "deg_a"), Seq("key_a"))
      .join(degs.toDF("key_b", "deg_b"), Seq("key_b"))
      .agg(count(lit(1)).as("m_edges"),
        sum(col("deg_a") + col("deg_b")).as("s1"),
        sum(col("deg_a") * col("deg_a") + col("deg_b") * col("deg_b"))
          .as("s2"),
        sum(col("deg_a") * col("deg_b")).as("s3"))
      .withColumn("r_num",
        lit(4L) * col("m_edges") * col("s3") - col("s1") * col("s1"))
      .withColumn("r_den",
        lit(2L) * col("m_edges") * col("s2") - col("s1") * col("s1"))
      .withColumn("assortativity",
        when(col("r_den") =!= 0L,
          round(col("r_num").cast("double") / col("r_den"), 6)))
      .select(col("m_edges"), col("s1"), col("s2"), col("s3"),
        col("r_num"), col("r_den"), col("assortativity"))
  }

  /** NEIGHBORHOOD JACCARD over the co-order part graph (the classical
    * link-prediction / item-similarity score, Salton-family): for part
    * pairs co-ordered at least `minSupport` times, the Jaccard of
    * their ORDER NEIGHBORHOODS |N(a)∩N(b)| / |N(a)∪N(b)| — "customers
    * who ordered a also ordered b, normalized by how common each is".
    * Where [[basketRules]] reads the same pair counts as directed
    * confidence/lift, this is the symmetric set-overlap face. All
    * counts exact BIGINTs; the union comes from inclusion-exclusion
    * (n_a + n_b − n_common), one correctly-rounded closing division;
    * the top-N cut is `TakeOrderedAndProject` under the (rounded
    * jaccard, pair) TOTAL order — cross-engine identical. Scale shape:
    * distinct (order, part) reduce, row-local sorted pair generation
    * per order (baskets bounded by order size), one pair-keyed count —
    * the minSupport filter keeps only recurring pairs. */
  def nodeJaccard(spark: SparkSession, dir: String, minSupport: Int = 2,
      topN: Int = 50): DataFrame = {
    val op = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val partN = op.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val pairN = op.groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      // native pair kernel — same (i < j) pairs in the same order, no
      // nested interpreted lambdas / per-element slice copies
      .select(explode(graft.functions.HashExpressions.pairCombos(col("ps")))
        .as("e"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minSupport)
    pairN
      .join(partN.select(col("p").as("u"), col("n_p").as("n_a")), Seq("u"))
      .join(partN.select(col("p").as("v"), col("n_p").as("n_b")), Seq("v"))
      .select(col("u").as("part_a"), col("v").as("part_b"),
        col("n_common"), col("n_a"), col("n_b"),
        (col("n_a") + col("n_b") - col("n_common")).as("n_union"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }
}
