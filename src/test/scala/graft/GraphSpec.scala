package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PageRank power iteration: closed-form star graph, mass
  * conservation, determinism of the rounded centrality query. */
class GraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("pagerank: star graph matches the closed form") {
    // undirected star, center 0, k leaves: the fixed point solves to
    //   pr(center) = (1-d)(1+dk)/(1-d^2),  pr(leaf) = (1-d) + d*pr(center)/k
    val k = 5
    val d = 0.85
    val edges = (1 to k).map(i => (0L, i.toLong)).toDF("s", "t")
    val pr = graft.operators.Graph.pagerank(edges, "s", "t", d, iters = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cExpect = (1 - d) * (1 + d * k) / (1 - d * d)
    val lExpect = (1 - d) + d * cExpect / k
    assert(math.abs(pr(0L) - cExpect) < 0.05,
      s"center ${pr(0L)} vs closed form $cExpect")
    (1 to k).foreach { i =>
      assert(math.abs(pr(i.toLong) - lExpect) < 0.05,
        s"leaf ${pr(i.toLong)} vs closed form $lExpect")
    }
    // rank mass is conserved: sum = node count (no dangling nodes in a
    // symmetrized graph)
    assert(math.abs(pr.values.sum - (k + 1)) < 1e-6)
  }

  test("pagerank fixpoint job-count: the every-second-round lineage " +
      "cut schedules strictly fewer jobs than per-round cuts, ranks " +
      "bit-identical") {
    // the panel-scale fixpoint is job-count-bound, not data-bound
    // (guide §2/§5): each eager localCheckpoint is a materialization,
    // and with AQE every materialization fans into several scheduled
    // jobs (one per query stage) — so the contract is pinned
    // RELATIVELY against an in-test reference loop that cuts lineage
    // every round (the pre-optimization shape), not with an absolute
    // per-round bound that would track AQE stage-splitting instead of
    // the optimization. A regression back to per-round cuts makes the
    // two counts equal and fails the strict inequality.
    import org.apache.spark.sql.DataFrame
    val iters = 10
    val damping = 0.85
    val edges = (0L until 200L).map(i => (i, (i + 1) % 200)).toDF("a", "b")
    val t = "graft_test_pr_jobcount_adj"
    graft.operators.Graph.stageAdjacency(edges, "a", "b", t)
    def jobsInGroup(group: String): Int = {
      // the status tracker fills from the async listener queue
      org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    def grouped[A](group: String)(f: => A): A = {
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
    }
    val fast = grouped("pr-jobs-fast") {
      graft.operators.Graph.pagerankOnAdjacency(spark, t, damping, iters)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    }
    val nFast = jobsInGroup("pr-jobs-fast")
    // reference: identical per-round operators, lineage cut EVERY round
    val ref = grouped("pr-jobs-ref") {
      val adj = spark.table(t)
      var ranks: DataFrame = adj.select(col("src").as("id")).distinct()
        .withColumn("pr", lit(1.0)).localCheckpoint()
      for (_ <- 1 to iters)
        ranks = adj.join(ranks, col("src") === col("id"))
          .select(col("dst"), (col("pr") / col("deg")).as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("in"))
          .select(col("dst").as("id"),
            (lit(1.0 - damping) + lit(damping) * col("in")).as("pr"))
          .localCheckpoint()
      ranks.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    }
    val nRef = jobsInGroup("pr-jobs-ref")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(nFast > 0 && nRef > 0, "job-group accounting broke")
    assert(nFast < nRef,
      s"every-2nd-round cut scheduled $nFast jobs vs per-round $nRef — " +
        "expected strictly fewer")
    // same operators, partitioning and float summation order per
    // round ⇒ the ranks must be bit-identical, not just close
    assert(fast.length == ref.length)
    fast.zip(ref).foreach { case ((ia, pa), (ib, pb)) =>
      assert(ia == ib && pa == pb, s"rank drift at node $ia/$ib: $pa vs $pb")
    }
  }

  test("alternating-star connected components: deep chain converges " +
      "in O(log n) rounds and labels equal the component minimum") {
    // a 64-node path needs ~63 rounds of min-label propagation; the
    // alternating-star rewrite must finish it inside the default 25
    // (it actually takes O(log n)) — this is the round-complexity win.
    // The local-union-find threshold is forced to 0 here so the test
    // exercises the DISTRIBUTED loop, not the small-graph fast path.
    spark.conf.set("graft.cc.localMaxEdges", "0")
    try {
      val chain = (0L until 63L).map(i => (i, i + 1)).toDF("s", "t")
      val cc = graft.operators.Graph.connectedComponents(chain, "s", "t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc.size == 64)
      assert(cc.values.forall(_ == 0L), "one path component rooted at 0")
      // two separate components + correct minima
      val two = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("s", "t")
      val cc2 = graft.operators.Graph.connectedComponents(two, "s", "t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc2 == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L))
    } finally spark.conf.unset("graft.cc.localMaxEdges")
  }

  test("small-graph union-find fast path equals the distributed " +
      "star-contraction labels on a seeded random multigraph") {
    val r = new scala.util.Random(11L)
    val edges = (0 until 400).map(_ =>
      (r.nextInt(120).toLong, r.nextInt(120).toLong)) ++
      Seq((500L, 500L), (600L, 601L)) // self-loop dropped, isolated pair
    val df = edges.toDF("s", "t").localCheckpoint()
    val viaLocal = graft.operators.Graph.connectedComponents(df, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("graft.cc.localMaxEdges", "0")
    val viaDist =
      try graft.operators.Graph.connectedComponents(df, "s", "t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("graft.cc.localMaxEdges")
    assert(viaLocal == viaDist)
  }

  test("alternating-star components agree with min-label propagation " +
      "on the real near-dup graph") {
    val dir = "/root/testdata/sf0.01"
    val viaStars = graft.operators.Graph.connectedComponents(
        graft.operators.Dedup.minhashPairs(spark, dir), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the INDEPENDENT min-label-propagation formulation (dedupClusters
    // itself now delegates to the star rewrite, so comparing against it
    // would be circular)
    val viaProp = graft.operators.Dedup.propagationClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // propagation covers every doc (isolated docs label themselves);
    // the star rewrite covers nodes with edges — compare on those, and
    // check the propagation kept isolated docs self-labeled
    viaStars.foreach { case (id, comp) =>
      assert(viaProp(id) == comp, s"doc $id: stars=$comp prop=${viaProp(id)}")
    }
    (viaProp.keySet -- viaStars.keySet).foreach { id =>
      assert(viaProp(id) == id, s"isolated doc $id must self-label")
    }
  }

  test("incremental components equal a full recompute over the union " +
      "graph; untouched components pass through") {
    import graft.operators.Graph
    // old graph: {0-1-2}, {10-11}, {20-21-22}, singleton 30 (isolated
    // nodes carry self-labels, as dedupClusters emits them)
    val oldEdges = Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("s", "t")
    val oldLabels = Graph.connectedComponents(oldEdges, "s", "t")
      .unionByName(Seq((30L, 30L)).toDF("id", "component"))
    // new edges: bridge {0..2} and {10,11}; attach brand-new node 40
    // to 20's component; component {30} and nothing else touched
    val newEdges = Seq((2L, 10L), (40L, 22L)).toDF("s", "t")
    val inc = Graph.incrementalComponents(oldLabels, newEdges, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Graph.connectedComponents(
        oldEdges.unionByName(newEdges), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap + (30L -> 30L)
    assert(inc == full, s"incremental $inc vs full $full")
    assert(inc(10L) == 0L && inc(11L) == 0L, "bridged component re-roots to 0")
    assert(inc(40L) == 20L, "new node joins the existing component")
    assert(inc(30L) == 30L, "silent singleton passes through")
    // a brand-new node whose only edge is a self-loop must still
    // appear, as its own singleton component
    val incLoop = Graph.incrementalComponents(oldLabels,
        Seq((50L, 50L)).toDF("s", "t"), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incLoop(50L) == 50L, "self-loop-only new node self-labels")
    assert(incLoop - 50L ==
      oldLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "everything else passes through unchanged")
  }

  test("pagerank: ranks bounded below by (1-d), degree drives order") {
    // path 0-1-2-3-4 plus hub 2 connected to 5,6: node 2 has max degree
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L),
      (2L, 6L)).toDF("s", "t")
    val pr = graft.operators.Graph.pagerank(edges, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.values.forall(_ >= 0.15 - 1e-9))
    assert(pr(2L) == pr.values.max, "highest-degree node must rank first")
  }

  test("dup centrality: deterministic, covers exactly the pair-graph " +
    "nodes, hubs outrank leaves") {
    val a = graft.operators.Graph.dupCentrality(spark, sf).collect()
    val b = graft.operators.Graph.dupCentrality(spark, sf).collect()
    assert(a.sameElements(b), "rounded centrality must be deterministic")
    val pairs = graft.operators.Dedup.minhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    assert(a.map(_.getLong(0)).sorted.sameElements(nodes),
      "centrality must cover exactly the candidate-graph nodes")
    if (nodes.nonEmpty) {
      val deg = pairs.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).view.mapValues(_.length).toMap
      val cent = a.map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val maxDegNode = deg.maxBy { case (id, dg) => (dg, -id) }._1
      val minDeg = deg.values.min
      // the busiest node must outrank any degree-minimal node
      deg.collect { case (id, dg) if dg == minDeg => id }.foreach { leaf =>
        assert(cent(maxDegNode) >= cent(leaf),
          s"hub $maxDegNode must outrank minimal-degree $leaf")
      }
    }
  }

  test("triangle participation: K4 closed form, robust to duplicate and " +
      "reversed input edges") {
    // K4: C(4,3) = 4 triangles, every node sits in C(3,2) = 3 of them.
    // Feed each edge twice, once reversed — the canonicalize+distinct
    // prologue must collapse them.
    // self-loops must be inert (a loop at 0 would otherwise close
    // every wedge through 0 into a phantom triangle)
    val k4 = ((for {
      i <- 0 to 3; j <- 0 to 3 if i < j
    } yield (i.toLong, j.toLong)).flatMap(e => Seq(e, e.swap))) :+ (0L, 0L)
    val got = graft.operators.Graph
      .triangleParticipation(k4.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), s"got $got")
  }

  test("triangle participation: degree-oriented count equals brute-force " +
      "all-triples on a deterministic irregular graph") {
    // nodes 0..19, edge iff (i*7 + j*13) % 5 == 0 — irregular degrees so
    // the orientation actually flips edges both ways
    val edges = for {
      i <- 0L until 20L; j <- 0L until 20L
      if i < j && (i * 7 + j * 13) % 5 == 0
    } yield (i, j)
    val adj = edges.toSet
    def connected(a: Long, b: Long) = adj((a min b, a max b))
    val brute = (for {
      a <- 0L until 20L; b <- a + 1 until 20L; c <- b + 1 until 20L
      if connected(a, b) && connected(b, c) && connected(a, c)
      n <- Seq(a, b, c)
    } yield n).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Graph
      .triangleParticipation(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute, s"oriented $got vs brute $brute")
  }

  test("small-graph k-core fast path equals the distributed peel, " +
      "including the maxRounds failure contract") {
    val r = new scala.util.Random(13L)
    val edges = ((0 until 500).map(_ =>
      (r.nextInt(90).toLong, r.nextInt(90).toLong)) ++
      (100L until 110L).map(i => (i, i + 1))) // path tail: multi-round peel
      .toDF("u", "v").localCheckpoint()
    val viaLocal = graft.operators.Graph.kCore(edges, "u", "v", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("graft.cc.localMaxEdges", "0")
    val viaDist =
      try graft.operators.Graph.kCore(edges, "u", "v", k = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("graft.cc.localMaxEdges")
    assert(viaLocal == viaDist)
    // the failure contract is shared: a peel needing more rounds than
    // the budget throws on BOTH paths (a pure path peels end-in)
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("u", "v")
    intercept[IllegalArgumentException] {
      graft.operators.Graph.kCore(path, "u", "v", k = 2, maxRounds = 3)
        .count()
    }
    spark.conf.set("graft.cc.localMaxEdges", "0")
    try intercept[IllegalArgumentException] {
      graft.operators.Graph.kCore(path, "u", "v", k = 2, maxRounds = 3)
        .count()
    } finally spark.conf.unset("graft.cc.localMaxEdges")
  }

  test("small-graph integer-pagerank fast path is bit-identical to the " +
      "distributed iteration (integer arithmetic is order-independent)") {
    val viaLocal = graft.operators.Graph.pagerankPanel(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    spark.conf.set("graft.cc.localMaxEdges", "0")
    val viaDist =
      try graft.operators.Graph.pagerankPanel(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally spark.conf.unset("graft.cc.localMaxEdges")
    assert(viaLocal == viaDist)
  }

  test("graft.cc.localMaxEdges is clamped to the 64M driver ceiling") {
    spark.conf.set("graft.cc.localMaxEdges", "1000000000000")
    try assert(graft.operators.Graph.localMaxEdges(spark) ==
      graft.operators.Graph.LocalMaxEdgesCeiling)
    finally spark.conf.unset("graft.cc.localMaxEdges")
    assert(graft.operators.Graph.localMaxEdges(spark) == 4000000L)
  }

  test("k-core: clique survives with its full degree, attached tail " +
      "peels away over multiple rounds") {
    // K5 (nodes 0..4) with a path tail 4-5-6-7: the 3-core is exactly
    // the clique (tail degrees are 2,2,1), and peeling must cascade —
    // 7 goes first, which drops 6 under k, which drops 5
    val k5 = for { i <- 0L to 4L; j <- 0L to 4L if i < j } yield (i, j)
    val edges = (k5 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("u", "v")
    val got = graft.operators.Graph.kCore(edges, "u", "v", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 4L).map(_ -> 4L).toMap, s"3-core got $got")
    // k above the max degree peels everything
    assert(graft.operators.Graph.kCore(edges, "u", "v", k = 10).count() == 0)
    // a pure path has no 2-core: peeling consumes it end-in over
    // ~n/2 rounds — exercises the multi-round fixpoint loop
    val path = (0L until 10L).map(i => (i, i + 1)).toDF("u", "v")
    assert(graft.operators.Graph.kCore(path, "u", "v", k = 2).count() == 0)
  }

  test("k-core equals a brute-force driver peel on a deterministic " +
      "irregular graph") {
    val edges = for {
      i <- 0L until 20L; j <- 0L until 20L
      if i < j && (i * 7 + j * 13) % 5 == 0
    } yield (i, j)
    val k = 4
    var adj = edges.toSet
    var changed = true
    while (changed) {
      val deg = adj.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = adj.filter(e => keep(e._1) && keep(e._2))
      changed = next != adj
      adj = next
    }
    val brute = adj.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Graph.kCore(edges.toDF("u", "v"), "u", "v", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute, s"kCore $got vs brute peel $brute")
  }

  test("basket rules: supports, confidence and lift equal a driver " +
    "recount over the raw baskets") {
    val got = graft.operators.Graph.basketRules(spark, sf).collect()
    assert(got.nonEmpty && got.length <= 50)
    val op = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = op.map(_._1).distinct.length.toLong
    val partN = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val baskets = op.groupBy(_._1).values.map(_.map(_._2).sorted)
    val pairN = baskets.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j)))
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2L)
    got.foreach { r =>
      val (a, c) = (r.getLong(0), r.getLong(1))
      val nBoth = pairN.getOrElse(if (a < c) (a, c) else (c, a), -1L)
      assert(r.getAs[Long]("n_both") == nBoth, s"support for ($a,$c)")
      assert(r.getAs[Long]("n_ant") == partN(a) &&
        r.getAs[Long]("n_cons") == partN(c))
      val conf = BigDecimal(nBoth.toDouble / partN(a))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("confidence") - conf) < 1e-9)
      val lift = BigDecimal(nBoth.toDouble * nOrders / (partN(a).toDouble * partN(c)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-9)
    }
    // ranked by (lift desc, antecedent, consequent) — a total order
    val key = got.map(r => (-r.getAs[Double]("lift"), r.getLong(0), r.getLong(1)))
    assert(key.sameElements(key.sorted), "rule ranking must follow the total order")
  }

  test("q_kcore: co-purchase 3-core members all hold core degree >= 3, " +
      "core_deg is the within-core degree, and the query is its top slice") {
    val full = graft.operators.Graph.kCore(
      graft.operators.Graph.copurchaseEdges(spark, sf), "u", "v", k = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("core_deg")).toMap
    full.foreach { case (p, d) =>
      assert(d >= 3L, s"node $p below k in its own core") }
    // membership is closed: every core member's degree counted over
    // core-internal edges only equals the reported core_deg
    if (full.nonEmpty) {
      val e = graft.operators.Graph.copurchaseEdges(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter(e => full.contains(e._1) && full.contains(e._2))
      val deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      assert(deg == full, "core_deg must be the within-core degree")
    }
    // the query entry is the top-50 slice of the same relation
    val q = graft.operators.Graph.kCoreParts(spark, sf, k = 3).collect()
    assert(q.length <= 50)
    q.foreach(r => assert(full.get(r.getLong(0)).contains(r.getAs[Long]("core_deg"))))
  }

  test("integer pagerank: mass conserved up to deterministic truncation, " +
    "every rank at least the teleport floor, hubs outrank leaves") {
    import org.apache.spark.sql.functions._
    val pr = graft.operators.Graph.pagerankPanel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pr.nonEmpty)
    val n = pr.length.toLong
    val teleport = 150000000000L / n
    assert(pr.forall(_._2 >= teleport),
      "every node keeps at least its teleport mass")
    // each round loses < 1 unit per division: n teleport divisions +
    // one per directed edge contribution + n damping divisions
    val mass = pr.map(_._2).sum
    assert(mass <= 1000000000000L && mass > 850000000000L,
      s"mass $mass outside the deterministic-truncation band")
    // structural sanity: the max-degree node outranks the min-degree one
    val deg = graft.operators.Graph.copurchaseEdgesOf(
      graft.sources.Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .join(broadcast(graft.operators.Sampling.md5TopN(
          graft.sources.Tables.orders(spark, sf).select(col("o_orderkey")),
          "o_orderkey", 2000).select(col("o_orderkey").as("o"))), Seq("o"),
          "left_semi"),
      minWeight = 1)
      .select(explode(array(col("u"), col("v"))).as("p"))
      .groupBy("p").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prMap = pr.toMap
    val hub = deg.maxBy(_._2)._1
    val leaf = deg.minBy(_._2)._1
    assert(prMap(hub) > prMap(leaf),
      s"hub $hub (deg ${deg(hub)}) must outrank leaf $leaf (deg ${deg(leaf)})")
  }

  test("linkage modularity: two nation-pure name triangles score the " +
    "textbook 0.25 each; real-data contributions recount and the " +
    "degree/edge closure laws hold") {
    val sp = spark
    import sp.implicits._
    val dirM = java.nio.file.Files.createTempDirectory("graft-mod").toString
    // two dist-1 triangles, each inside its own nation; cross-triangle
    // name distance >= 3 so no edge leaks
    Seq((1L, "aaa1", 1), (2L, "aaa2", 1), (3L, "aaa3", 1),
      (4L, "zzz1", 2), (5L, "zzz2", 2), (6L, "zzz3", 2))
      .map { case (k, n, nat) => (k, n, nat, 100.0, "BUILDING") }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.parquet(s"$dirM/customer.parquet")
    val crafted = graft.operators.Graph.linkageModularity(sp, dirM).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(crafted.keySet == Set(1L, 2L))
    crafted.values.foreach { r =>
      assert(r.getLong(1) == 3L && r.getLong(2) == 6L && r.getLong(3) == 6L)
      assert(r.getLong(4) == 36L && r.getLong(5) == 144L)
      assert(r.getDouble(6) == 0.25,
        "a nation-pure triangle contributes exactly 1/4")
    }
    // real data: recount from a naive driver replay
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
        col("c_nationkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val edges = for {
      a <- cust; b <- cust
      if a._1 < b._1 && math.abs(a._2.length - b._2.length) <= 1 &&
        lev(a._2, b._2) <= 1
    } yield (a, b)
    val m = edges.length.toLong
    val res = graft.operators.Graph.linkageModularity(spark, sf).collect()
    assert(res.nonEmpty && m > 0)
    assert(res.map(_.getLong(1)).sum <= m, "within-edges cannot exceed m")
    assert(res.map(_.getLong(2)).sum == 2 * m, "degree mass is 2m")
    res.foreach { r =>
      val nat = r.getLong(0)
      val eIn = edges.count { case (a, b) =>
        a._3 == nat && b._3 == nat }.toLong
      val dSum = edges.flatMap { case (a, b) => Seq(a, b) }
        .count(_._3 == nat).toLong
      assert(r.getLong(1) == eIn && r.getLong(2) == dSum, s"nation $nat")
      assert(r.getLong(4) == 4 * m * eIn - dSum * dSum)
    }
  }

  test("linkage assortativity: a deletion-variant star is exactly -1; " +
    "real-data moments recount from the naive edge replay") {
    val sp = spark
    import sp.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("graft-ast").toString
    // hub "abc" with three single-insertion leaves that sit pairwise at
    // distance 2: a pure star, the textbook perfectly-disassortative
    // graph, r = -1 exactly
    Seq((1L, "abc"), (2L, "xabc"), (3L, "abxc"), (4L, "abcx"))
      .map { case (k, n) => (k, n, 1, 100.0, "BUILDING") }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.parquet(s"$dirA/customer.parquet")
    val star = graft.operators.Graph.linkageAssortativity(sp, dirA).collect().head
    assert(star.getLong(0) == 3L && star.getLong(1) == 12L &&
      star.getLong(2) == 30L && star.getLong(3) == 9L)
    assert(star.getLong(4) == -36L && star.getLong(5) == 36L)
    assert(star.getDouble(6) == -1.0, "a star is perfectly disassortative")
    // real data: recount S1/S2/S3 from the naive replay
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val edges = for {
      a <- names; b <- names
      if a._1 < b._1 && math.abs(a._2.length - b._2.length) <= 1 &&
        lev(a._2, b._2) <= 1
    } yield (a._1, b._1)
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val (s1, s2, s3) = edges.foldLeft((0L, 0L, 0L)) {
      case ((x, y, z), (a, b)) =>
        val (da, db) = (deg(a), deg(b))
        (x + da + db, y + da * da + db * db, z + da * db)
    }
    val r = graft.operators.Graph.linkageAssortativity(spark, sf).collect().head
    assert(r.getLong(0) == edges.length.toLong)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((s1, s2, s3)))
    val m = edges.length.toLong
    assert(r.getLong(4) == 4 * m * s3 - s1 * s1)
    assert(r.getLong(5) == 2 * m * s2 - s1 * s1)
  }

  test("degree histogram and clustering coefficient: closed forms on a " +
    "triangle and a star; real-data moments recount from the edge list") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Graph
    // triangle: every node degree 2, wedges 3, participations 3, C = 1
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val dh = Graph.degreeHistOf(tri).collect()
    assert(dh.length == 1 && dh.head.getLong(0) == 2L &&
      dh.head.getLong(1) == 3L)
    val cc = Graph.clusteringCoeffOf(tri).collect().head
    assert(cc.getLong(0) == 3L && cc.getLong(1) == 3L &&
      cc.getLong(2) == 3L && cc.getLong(3) == 1L && cc.getLong(4) == 3L)
    assert(cc.getDouble(5) == 1.0)
    // 4-star: center degree 4, leaves 1; wedges 6, no triangle, C = 0
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("u", "v")
    val sh = Graph.degreeHistOf(star).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh == Map(1L -> 4L, 4L -> 1L))
    val sc = Graph.clusteringCoeffOf(star).collect().head
    assert(sc.getLong(2) == 6L && sc.getLong(3) == 0L &&
      sc.getDouble(5) == 0.0)
    // real data: histogram and wedge/triangle moments recount from the
    // collected co-purchase edge list
    val edges = Graph.copurchaseEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).map { case (p, v) => p -> v.size.toLong }
    val wantHist = deg.values.groupBy(identity)
      .map { case (d, v) => d -> v.size.toLong }
    val gotHist = Graph.degreeHist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotHist == wantHist, "degree histogram recount")
    val got = Graph.clusteringCoeff(spark, sf).collect().head
    assert(got.getLong(0) == deg.size.toLong)
    assert(got.getLong(1) == edges.length.toLong)
    assert(got.getLong(2) == deg.values.map(d => d * (d - 1) / 2).sum)
    // triangle recount: brute-force over the collected adjacency
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (u, v) => u -> v.map(_._2).toSet }
    // each triangle counted once: at its (min, mid) edge via the
    // common neighbor above both endpoints
    val triExact = edges.map { case (u, v) =>
      (adj(u) & adj(v)).count(c => c > math.max(u, v)).toLong }.sum
    assert(got.getLong(3) == triExact, "triangle recount")
  }
}
