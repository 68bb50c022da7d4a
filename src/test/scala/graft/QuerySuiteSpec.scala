package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Smoke + semantic checks over every SparkEntry query at sf0.001. */
class QuerySuiteSpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query executes and yields a stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("no silent duplicate keys in the queries/oracle source maps") {
    // a duplicated literal key collapses silently in a Map — compare the
    // source text's key counts against the runtime Map sizes
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")))
    val qBlock = src.substring(src.indexOf("def queries"), src.indexOf("def oracleSql"))
    val oBlock = src.substring(src.indexOf("def oracleSql"))
    val keyRe = "\"(q[a-z0-9_]+)\" ->".r
    val qKeys = keyRe.findAllMatchIn(qBlock).map(_.group(1)).toSeq
    val oKeys = keyRe.findAllMatchIn(oBlock).map(_.group(1)).toSeq
    def dups(ks: Seq[String]) = ks.groupBy(identity).filter(_._2.size > 1).keys
    assert(qKeys.distinct.size == qKeys.size, s"duplicate query keys: ${dups(qKeys)}")
    assert(oKeys.distinct.size == oKeys.size, s"duplicate oracle keys: ${dups(oKeys)}")
    assert(SparkEntry.queries.size == qKeys.size)
    assert(SparkEntry.oracleSql.size == oKeys.size)
  }

  test("custom sessionizer matches the engine's session_window in batch") {
    import org.apache.spark.sql.functions._
    // the engine-managed gap-merge (session_window works in batch too)
    // cross-validates the lag-based sessionizer: same 30-min gap, same
    // sessions. Boundary semantics differ only at EXACTLY gap-sized
    // silences (lag keeps the session on ==, session_window splits);
    // assert the dataset has none so the comparison is meaningful.
    val ev = graft.sources.Tables.events(spark, sf)
    val engine = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("sess_start"))
      .select(col("user_id"), col("sess_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val custom = SparkEntry.queries("q_sessionize")(spark, sf)
      .select(col("user_id"), col("sess_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(custom == engine,
      s"sessionizers disagree: onlyCustom=${custom -- engine} onlyEngine=${engine -- custom}")
  }

  test("q1 aggregates are consistent with a direct recount") {
    val df = SparkEntry.queries("q1_pricing_agg")(spark, sf)
    val total = df.agg(org.apache.spark.sql.functions.sum("count_order"))
      .head.getLong(0)
    val raw = graft.sources.Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp"))
      .count()
    assert(total == raw)
  }

  test("approx_count_distinct tracks exact distinct counts within 2%") {
    import org.apache.spark.sql.functions._
    // pins the sketch semantics the DuckDB oracle can't hash-check:
    // HLL++ at rsd=0.01 must stay within 2% of the exact count per group
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val approx = SparkEntry.queries("q_approx_distinct")(spark, dir)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val exact = graft.sources.Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("p"),
          countDistinct(col("l_orderkey")).as("o"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(approx.keySet == exact.keySet)
      for ((flag, (p, o)) <- exact) {
        val (ap, ao) = approx(flag)
        assert(math.abs(ap - p).toDouble / p <= 0.02,
          s"$dir $flag parts: approx $ap vs exact $p")
        assert(math.abs(ao - o).toDouble / o <= 0.02,
          s"$dir $flag orders: approx $ao vs exact $o")
      }
    }
  }

  test("approx percentile sketch lies inside the exact ±1% rank " +
    "neighborhood per group") {
    import org.apache.spark.sql.functions._
    // pins the quantile-sketch semantics the oracle can't hash-check:
    // a rank-error-bounded sketch value must fall between the exact
    // (q-δ) and (q+δ) percentiles — value-space error is unbounded by
    // design, rank-space error is the contract
    val approx = SparkEntry.queries("q_approx_percentiles")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.nonEmpty)
    for ((flag, aps) <- approx;
         (q, ap) <- Seq(0.5, 0.9, 0.99).zip(aps)) {
      val delta = 0.01
      val row = graft.sources.Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === flag)
        .agg(
          expr(s"percentile(l_extendedprice, ${math.max(0.0, q - delta)})"),
          expr(s"percentile(l_extendedprice, ${math.min(1.0, q + delta)})"))
        .head
      val (lo, hi) = (row.getDouble(0), row.getDouble(1))
      assert(ap >= lo - 1e-9 && ap <= hi + 1e-9,
        s"$flag p$q: approx $ap outside exact rank window [$lo, $hi]")
    }
  }

  test("latest_status has exactly one row per user") {
    val df = SparkEntry.queries("q_latest_status")(spark, sf)
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("asof join: every matched view precedes its purchase") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_asof_join")(spark, sf)
    val bad = df.filter(col("last_view_ts").isNotNull &&
      col("last_view_ts") > col("ts")).count()
    assert(bad == 0)
  }

  test("sessionize: session bounds ordered, counts positive") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_sessionize")(spark, sf)
    assert(df.filter(col("sess_end") < col("sess_start")).count() == 0)
    assert(df.filter(col("n_events") <= 0).count() == 0)
  }

  test("status_matrix is dense: one row per registry site, no null cells, " +
    "unreported combos default-filled") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_status_matrix")(spark, sf)
    val nSites = graft.sources.Tables.nation(spark, sf).count()
    assert(df.count() == nSites, "matrix must cover every registry site")
    val cells = df.columns.filter(_ != "n_name")
    assert(cells.length == 5, "one column per registry project")
    for (c <- cells)
      assert(df.filter(col(c).isNull).count() == 0, s"null cell in $c")
    // cells are either a real status or the explicit default fill
    val legal = Set("F", "O", "P", "❓")
    for (c <- cells) {
      val vals = df.select(col(c)).distinct().collect().map(_.getString(0)).toSet
      assert(vals.subsetOf(legal), s"$c carries unexpected values: $vals")
    }
    // a site with no orders at all must still appear, fully default-filled
    val reported = SparkEntry.queries("q_status_pivot")(spark, sf)
      .select(col("n_name"))
    val silent = df.join(reported, Seq("n_name"), "left_anti")
    silent.collect().foreach { r =>
      cells.zipWithIndex.foreach { case (c, i) =>
        assert(r.getString(r.fieldIndex(c)) == "❓",
          s"site ${r.getString(0)} never reported but $c is not default")
      }
    }
  }

  test("meta_typed: explicit-schema struct parse with split+trim table list") {
    import org.apache.spark.sql.functions._
    // typed library surface: real array<string> column
    val typed = graft.operators.Clif.metaTyped(spark, sf)
    assert(typed.count() == graft.sources.Tables.documents(spark, sf).count())
    assert(typed.schema("tables_required").dataType.typeName == "array")
    // the [,;] split yields exactly 3 elements here, all trimmed
    assert(typed.filter(size(col("tables_required")) =!= 3).count() == 0)
    val untrimmed = typed.filter(
      exists(col("tables_required"), x => x =!= trim(x))).count()
    assert(untrimmed == 0, "tables_required entries must be trimmed")
    assert(typed.filter(!col("project_name").startsWith("proj_")).count() == 0)
    // oracle surface: same data, array serialized to a canonical string
    val q = SparkEntry.queries("q_meta_typed")(spark, sf)
    assert(q.schema("tables_required").dataType.typeName == "string")
    val joined = typed.withColumn("tables_required",
      array_join(col("tables_required"), "|"))
    assert(q.exceptAll(joined).count() == 0)
  }

  test("meta_yaml: subset parser honors project_name->name precedence, " +
    "strips quotes, and splits the block sequence") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val typed = graft.operators.Clif.metaYaml(spark, sf)
    assert(typed.count() == docs.count())
    assert(typed.schema("tables_required").dataType.typeName == "array")
    // every row resolves a project name — even rows carry only `name:`,
    // odd rows `project_name:`; both funnel into the same field
    assert(typed.filter(!col("project_name").startsWith("proj_")).count() == 0)
    // yaml.safe_load-style quote stripping on the description scalar
    assert(typed.filter(col("description").contains("\"")).count() == 0)
    // block sequence: exactly 3 entries (lang, source, events), trimmed,
    // dash markers gone
    assert(typed.filter(size(col("tables_required")) =!= 3).count() == 0)
    assert(typed.filter(
      exists(col("tables_required"),
        x => x =!= trim(x) || x.startsWith("-"))).count() == 0)
    assert(typed.filter(
      element_at(col("tables_required"), 3) =!= "events").count() == 0)
    // oracle surface serializes the array, nothing else changes
    val q = SparkEntry.queries("q_meta_yaml")(spark, sf)
    assert(q.schema("tables_required").dataType.typeName == "string")
    val joined = typed.withColumn("tables_required",
      array_join(col("tables_required"), "|"))
    assert(q.exceptAll(joined).count() == 0)
  }

  test("sequence packing: packs respect the token budget except " +
    "single-oversize docs; assignment is deterministic") {
    import org.apache.spark.sql.functions._
    val budget = 512L
    val packs = graft.operators.Sampling.packAudit(spark, sf)
    // greedy floor-cut invariant: a pack spans at most (budget + its
    // largest member) tokens — the straddling doc is the only slack
    val offenders = packs
      .join(graft.operators.Sampling.sequencePack(spark, sf)
        .groupBy(col("pack_id")).agg(max(col("n_tokens")).as("max_doc")),
        Seq("pack_id"))
      .filter(col("pack_tokens") >= lit(budget) + col("max_doc"))
      .count()
    assert(offenders == 0,
      "pack exceeded the greedy bound budget + max member size")
    // deterministic across runs
    val a = graft.operators.Sampling.sequencePack(spark, sf).collect()
    val b = graft.operators.Sampling.sequencePack(spark, sf).collect()
    assert(a.sameElements(b))
    // every doc lands in exactly one pack
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(a.length == n)
  }

  test("scd2 intervals: contiguous per user, one current row, no " +
    "zero-length or duplicate-status-adjacent intervals") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = SparkEntry.queries("q_scd2_intervals")(spark, sf)
    // exactly one open (current) interval per user
    val openPerUser = df.filter(col("is_current"))
      .groupBy(col("user_id")).count().filter(col("count") =!= 1).count()
    assert(openPerUser == 0)
    // each interval ends exactly where the next begins (contiguity)
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    val broken = df.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("next_from").isNotNull && col("valid_to") =!= col("next_from"))
      .count()
    assert(broken == 0, "intervals must tile the timeline")
    // consecutive intervals never carry the same status (change-collapsed)
    val sameAdjacent = df.withColumn("next_status", lead(col("status"), 1).over(w))
      .filter(col("next_status").isNotNull && col("status") === col("next_status"))
      .count()
    assert(sameAdjacent == 0, "adjacent intervals must differ in status")
  }

  test("cdc diff: change set equals brute-force snapshot comparison") {
    import org.apache.spark.sql.functions._
    val diff = SparkEntry.queries("q_cdc_diff")(spark, sf)
    assert(diff.count() > 0, "cut points must produce a non-trivial change set")
    assert(diff.filter(col("change_type") === "update")
      .filter(col("old_status") === col("new_status")).count() == 0,
      "updates must actually change the value")
    // inserts have no old value; the event log never deletes, so no deletes
    assert(diff.filter(col("change_type") === "insert")
      .filter(col("old_status").isNotNull).count() == 0)
    assert(diff.filter(col("change_type") === "delete").count() == 0)
  }

  test("category_append: no duplicate dict values, new flagged correctly") {
    val df = SparkEntry.queries("q_category_append")(spark, sf)
    assert(df.count() == df.select("dict_value").distinct().count())
  }

  test("category_append: one row per type, null types and sizes included") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-append").toString
    Seq[(String, Option[Int])](
      ("A", Some(10)), ("A", Some(30)), // in the base and a candidate
      ("B", Some(30)), ("B", Some(26)), // candidate only
      ("C", None), // no size: neither base nor candidate
      ("D", None), ("D", Some(40)), // candidate once its size is known
      ("E", Some(25)), // the base's upper edge
      (null, Some(10)), (null, Some(30)), (null, None))
      .toDF("p_type", "p_size")
      .write.parquet(s"$dir/part.parquet")
    val got = graft.operators.Clif.categoryAppend(spark, dir).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(got.sortBy(_._1.getOrElse("")) == Seq(None -> 0L, Some("A") -> 0L,
      Some("B") -> 1L, Some("D") -> 1L, Some("E") -> 0L))
  }

  test("federated_union: row count equals full customer count") {
    val df = SparkEntry.queries("q_federated_union")(spark, sf)
    val n = graft.sources.Tables.customer(spark, sf).count()
    assert(df.count() == n)
  }

  test("key gaps: range-partitioned stitch equals global window on gappy " +
    "keys, stable under high partition counts, data window is keyed") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // synthetic gappy sequence: drop multiples of 7 and a long run
    val keys = spark.range(0, 2000)
      .filter(col("id") % 7 =!= 0 && !(col("id") >= 500 && col("id") < 600))
      .select(col("id").as("k"))
    // single-window reference (the formulation the scale path replaced)
    val wg = Window.orderBy(col("k"))
    val reference = keys.withColumn("prev", lag(col("k"), 1).over(wg))
      .filter(col("k") - col("prev") > 1)
      .select(col("prev"), col("k").as("next_key"),
        (col("k") - col("prev") - 1).as("gap_size"))
      .orderBy(col("prev")).collect()
    val stitched = graft.operators.RelationalExt.gapsOf(keys, "k").collect()
    assert(stitched.sameElements(reference),
      "stitched gaps must equal the global-window reference")
    // the answer must not depend on how many ranges the keys split into
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val high = graft.operators.RelationalExt.gapsOf(keys, "k").collect()
      assert(high.sameElements(reference),
        "gaps must be partition-count invariant")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    // plan hygiene: the data-bearing window is keyed by partition id
    // (the checkpoint truncates lineage, so look for the pid-keyed
    // window spec); only the one-row-per-partition bounds window is
    // global
    val plan = graft.operators.RelationalExt.gapsOf(keys, "k")
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(pid#".r.findFirstIn(plan).isDefined,
      s"scale path must window per range partition:\n$plan")
  }

  test("key gaps: randomized key sets match the global-window reference") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val kept = (0 until 500).filter(_ => rng.nextDouble() < 0.6).map(_.toLong)
      import spark.implicits._
      val keys = kept.toDF("k")
      val wg = Window.orderBy(col("k"))
      val reference = keys.withColumn("prev", lag(col("k"), 1).over(wg))
        .filter(col("k") - col("prev") > 1)
        .select(col("prev"), col("k").as("next_key"),
          (col("k") - col("prev") - 1).as("gap_size"))
        .orderBy(col("prev")).collect()
      val stitched = graft.operators.RelationalExt.gapsOf(keys, "k").collect()
      assert(stitched.sameElements(reference), s"trial $trial diverged")
    }
  }

  test("interval overlap: bucketized equi-join equals the naive " +
    "non-equi join") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Temporal.intervalOverlap(spark, sf).collect()
    // naive reference: the overlap predicate as a raw non-equi join
    // (nested-loop planned — fine at test scale, the thing the operator
    // exists to avoid at 100 TB)
    val ev = graft.sources.Tables.events(spark, sf)
    val errHours = ev.filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("w_start"))
      .agg(count(lit(1)).as("n_errors"))
    val thresh = errHours.agg(avg(col("n_errors")) * 1.5).head.getDouble(0)
    val inc = errHours.filter(col("n_errors") > thresh)
    val naive = graft.operators.Temporal.sessionize(spark, sf)
      .select(col("user_id"), col("sess_start"), col("sess_end"))
      .join(inc,
        col("sess_start") < col("w_start") + expr("INTERVAL 1 HOUR") &&
        col("sess_end") >= col("w_start"))
      .groupBy(col("w_start"), col("n_errors"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("w_start")).collect()
    assert(out.nonEmpty, "no incident windows at test scale")
    assert(out.map(_.toString).toSeq == naive.map(_.toString).toSeq)
  }

  test("weighted sample: matches a driver-side reimplementation of the " +
    "Efraimidis-Spirakis draw; deterministic") {
    import org.apache.spark.sql.functions._
    val n = 20
    val got = graft.operators.Sampling.weightedSampleDocs(spark, sf, n)
      .collect().map(_.getLong(0))
    val again = graft.operators.Sampling.weightedSampleDocs(spark, sf, n)
      .collect().map(_.getLong(0))
    assert(got.sameElements(again), "draw must be deterministic")
    // independent reimplementation: md5 -> u -> round9(ln(u)/w) rank
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def esKey(id: Long, text: String): Double = {
      val w = math.max(text.trim.toLowerCase.split("\\s+").length, 1)
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / math.pow(16.0, 13)
      BigDecimal(math.log(u) / w)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = docs.map { case (id, t) => (id, esKey(id, t)) }
      .sortBy { case (id, k) => (-k, id) }.take(n).map(_._1).sorted
    assert(got.sorted.sameElements(expected),
      "TakeOrdered top-n must equal the driver-side E-S ranking")
  }

  test("trend slope: exact-moment OLS matches a driver-side double fold; " +
      "chi2 cells partition the table and terms are non-negative") {
    import org.apache.spark.sql.functions._
    val slopes = graft.operators.RelationalExt.trendSlope(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val pts = graft.sources.Tables.orders(spark, sf)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("2000-01-01").cast("date"))
          .cast("long").as("x"),
        round(col("o_totalprice") * 100).cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pts.groupBy(_._1).foreach { case (cust, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxy = rows.map(r => r._2 * r._3).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      val den = n * sxx - sx * sx
      val expect =
        if (den == 0) None
        else Some(BigDecimal((n * sxy - sx * sy).toDouble / den.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(slopes(cust) == expect, s"cust $cust: ${slopes(cust)} vs $expect")
    }
    val chi = graft.operators.RelationalExt.crosstabChi2(spark, sf).collect()
    val orders = graft.sources.Tables.orders(spark, sf).count()
    assert(chi.map(_.getLong(2)).sum == orders,
      "chi2 cells must partition the fact table")
    chi.foreach { r =>
      assert(r.getDouble(4) >= 0.0, "chi2 term must be non-negative")
      assert(r.getDouble(3) > 0.0, "expected count must be positive")
    }
  }

  test("histogram: bins conserve row mass, bounds are contiguous, and " +
      "every value lands inside its bin's range") {
    import org.apache.spark.sql.functions._
    val h = graft.operators.RelationalExt.histogram(spark, sf)
      .collect().sortBy(_.getLong(0))
    val orders = graft.sources.Tables.orders(spark, sf)
    assert(h.map(_.getLong(3)).sum == orders.count(),
      "histogram must conserve total row count")
    h.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(2) == b.getDouble(1),
          s"bins ${a.getLong(0)} and ${b.getLong(0)} are not contiguous")
      case _ =>
    }
    val mn = orders.agg(min(col("o_totalprice"))).head().getDouble(0)
    val mx = orders.agg(max(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(h.head.getDouble(1) - mn) < 1e-2 &&
      math.abs(h.last.getDouble(2) - mx) < 1e-2,
      "outer bin bounds must meet the data min/max (up to output rounding)")
  }

  test("equi-depth histogram: mass conserved, buckets ordered and " +
      "near-balanced") {
    import org.apache.spark.sql.functions._
    val h = graft.operators.RelationalExt.equiDepthHistogram(spark, sf)
      .collect().sortBy(_.getLong(0))
    val total = graft.sources.Tables.orders(spark, sf).count()
    assert(h.map(_.getLong(1)).sum == total, "bucket mass must sum to total")
    assert(h.length <= 8 && h.nonEmpty)
    // value ranges are ordered and non-overlapping across buckets
    h.foreach(r => assert(r.getDouble(2) <= r.getDouble(3)))
    h.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(2),
        s"bucket ranges overlap: ${a.getLong(0)} vs ${b.getLong(0)}")
      case _ =>
    }
    // equal-depth contract: on continuous-ish price data every bucket
    // holds total/8 within a generous 2x tie allowance
    val ideal = total.toDouble / 8
    h.foreach { r =>
      assert(r.getLong(1) > ideal / 2 && r.getLong(1) < ideal * 2,
        s"bucket ${r.getLong(0)} holds ${r.getLong(1)} vs ideal $ideal")
    }
  }

  test("gap fill: observed rows pass through, fills stay inside the " +
      "customer's observed envelope, nulls only on all-null keys") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Temporal.gapFill(spark, sf).collect()
    val orders = graft.sources.Tables.orders(spark, sf).count()
    assert(rows.length == orders, "gap fill must be row-preserving")
    val byCust = rows.groupBy(_.getLong(0))
    byCust.foreach { case (cust, rs) =>
      val observed = rs.filter(!_.isNullAt(2)).map(_.getDouble(2))
      rs.foreach { r =>
        if (!r.isNullAt(2)) {
          // an observed point must carry itself through both fills
          assert(r.getDouble(3) == r.getDouble(2),
            s"cust $cust ffill rewrote an observed value")
          assert(math.abs(r.getDouble(4) - r.getDouble(2)) < 1e-4,
            s"cust $cust interp rewrote an observed value")
        }
        if (observed.isEmpty) {
          assert(r.isNullAt(3) && r.isNullAt(4),
            s"cust $cust has no observations but a fill appeared")
        } else if (!r.isNullAt(4)) {
          // interpolation/edge fill cannot leave the convex hull of
          // the key's observations
          assert(r.getDouble(4) >= observed.min - 1e-4 &&
            r.getDouble(4) <= observed.max + 1e-4,
            s"cust $cust interp ${r.getDouble(4)} escapes " +
              s"[${observed.min}, ${observed.max}]")
        }
      }
    }
  }

  test("quality tiers: per-language doc mass is conserved, tiers are " +
      "near-balanced, and score ranges are disjoint and ordered") {
    val tiers = graft.operators.TextAnalysis.qualityTiers(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
    import org.apache.spark.sql.functions._
    val perLang = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byLang = tiers.groupBy(_.getString(0))
    assert(byLang.keySet == perLang.keySet, "a language went missing")
    byLang.foreach { case (lang, rs) =>
      val n = perLang(lang)
      assert(rs.map(_.getLong(2)).sum == n, s"$lang lost documents")
      rs.foreach { r =>
        val tier = r.getLong(1)
        assert(tier >= 1 && tier <= 3, s"$lang tier $tier out of range")
        // threshold semantics put whole score-groups into one tier, so a
        // tier can exceed n/3 by at most its boundary group — but it can
        // never hold MORE than the docs at or below its start boundary.
        // The load-bearing balance check: each tier must be non-empty
        // once the language has >= 3 distinct scores.
        assert(r.getLong(2) > 0, s"$lang tier $tier empty")
      }
      // tiers are ordered by quality: tier t's worst score is still >=
      // tier t+1's best score (equal only if a score group straddles
      // nothing — distinct groups make it strict)
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getDouble(4) > lo.getDouble(3),
            s"$lang tier overlap: worst(${hi.getLong(1)})=" +
              s"${hi.getDouble(4)} <= best(${lo.getLong(1)})=${lo.getDouble(3)}")
        case _ =>
      }
    }
    // the nTiers parameter is live API surface (the oracle pins only the
    // default 3): k=5 must keep tiers in range and conserve doc mass
    val five = graft.operators.TextAnalysis.qualityTiers(spark, sf, nTiers = 5)
      .collect()
    assert(five.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 5),
      "nTiers=5 produced an out-of-range tier")
    assert(five.map(_.getLong(2)).sum == perLang.values.sum,
      "nTiers=5 lost documents")
  }

  test("interval coalesce: crafted islands merge exactly (overlap " +
    "merges, touching merges, gaps split); real-data rollup matches " +
    "an independent driver fold") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val dirI = java.nio.file.Files.createTempDirectory("graft-isl").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 10, 0).plusMinutes(m.toLong))
    // user 1: 0' and 10' overlap (merge), 40' starts after 10'+15' ends;
    // user 2: singleton; user 3: 60' and 75' touch exactly (s = prev
    // end, half-open windows -> merge)
    Seq((1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(10), 1L, "view", 0.0, "{}"),
      (3L, ts(40), 1L, "view", 0.0, "{}"),
      (4L, ts(0), 2L, "view", 0.0, "{}"),
      (5L, ts(60), 3L, "view", 0.0, "{}"),
      (6L, ts(75), 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dirI/events.parquet")
    val rows = graft.operators.Temporal.intervalCoalesce(sp, dirI)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((2L, 2400000000L, 2L)), "overlap + gap")
    assert(rows(2L) == ((1L, 900000000L, 1L)), "singleton")
    assert(rows(3L) == ((1L, 1800000000L, 2L)), "touching merges")
    // real data: fold islands in the driver from raw (user, ts) pairs —
    // an independent implementation of the same half-open merge rule
    val span = 900000000L
    val raw = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("s"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = raw.groupBy(_._1).map { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3)).map(_._2)
      var nIsl = 0L; var covered = 0L; var maxEv = 0L
      var iStart = 0L; var iEnd = Long.MinValue; var nEv = 0L
      for (s <- sorted) {
        if (nIsl == 0L || s > iEnd) {
          if (nIsl > 0L) { covered += iEnd - iStart; maxEv = maxEv.max(nEv) }
          nIsl += 1; iStart = s; iEnd = s + span; nEv = 1L
        } else { iEnd = iEnd.max(s + span); nEv += 1 }
      }
      covered += iEnd - iStart; maxEv = maxEv.max(nEv)
      u -> ((nIsl, covered, maxEv))
    }
    val res = graft.operators.Temporal.intervalCoalesce(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(res == want, "driver island fold disagrees")
  }

  test("peak concurrency: crafted overlap stack reads its closed form; " +
    "real-data peaks match a naive driver sweep line") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val dirP = java.nio.file.Files.createTempDirectory("graft-peak").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 10, 0).plusMinutes(m.toLong))
    // A: 0'/5'/10' stack to 3 open windows at 10', then 40' alone;
    // B: a singleton peaks at 1 at its own start
    Seq((1L, ts(0), 1L, "A", 0.0, "{}"), (2L, ts(5), 1L, "A", 0.0, "{}"),
      (3L, ts(10), 2L, "A", 0.0, "{}"), (4L, ts(40), 1L, "A", 0.0, "{}"),
      (5L, ts(0), 3L, "B", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dirP/events.parquet")
    val rows = graft.operators.Temporal.peakConcurrency(sp, dirP)
      .collect().map(r => r.getString(0) -> r).toMap
    val t10 = ts(10).toInstant
    assert(rows("A").getLong(1) == 4L && rows("A").getLong(2) == 3L)
    assert(rows("A").getLong(3) ==
      t10.getEpochSecond * 1000000L + t10.getNano / 1000L,
      "peak first attained when the third window opens")
    assert(rows("B").getLong(2) == 1L)
    // real data: fold the naive single sweep line in the driver
    val span = 900000000L
    val raw = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = raw.groupBy(_._1).map { case (t, evs) =>
      val endpoints = (evs.map(e => (e._2, 1L)) ++
        evs.map(e => (e._2 + span, -1L))).sortBy(x => (x._1, x._2))
      var cur = 0L; var peak = 0L; var peakAt = 0L
      endpoints.foreach { case (tt, d) =>
        cur += d
        if (cur > peak) { peak = cur; peakAt = tt }
      }
      t -> ((evs.length.toLong, peak, peakAt))
    }
    val real = graft.operators.Temporal.peakConcurrency(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(real == want, "naive sweep disagrees with the two-level plan")
  }

  test("json profile: crafted keys profile by hand (typed stats, " +
    "presence); real-data numeric sums recount from raw extraction") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val dirJ = java.nio.file.Files.createTempDirectory("graft-jp").toString
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    Seq((1L, ts0, 1L, "view", 0.0, """{"a": 1, "b": "x"}"""),
      (2L, ts0, 1L, "view", 0.0, """{"a": 2}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dirJ/events.parquet")
    val rows = graft.operators.Modern.jsonProfile(sp, dirJ).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = rows("a")
    assert(a.getLong(1) == 2L && a.getDouble(2) == 1.0 &&
      a.getLong(3) == 2L && a.getLong(4) == 1L && a.getLong(5) == 2L &&
      a.getLong(6) == 3L && a.getLong(7) == 2L)
    val b = rows("b")
    assert(b.getLong(1) == 1L && b.getDouble(2) == 0.5 &&
      b.getLong(3) == 0L && b.isNullAt(4) && b.isNullAt(6) &&
      b.getLong(7) == 1L)
    // real data: the numeric sum per key recounts from raw extraction
    val real = graft.operators.Modern.jsonProfile(spark, sf).collect()
    assert(real.nonEmpty)
    val rawSum = graft.sources.Tables.events(spark, sf)
      .select(expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
        .as("v"))
      .agg(sum(col("v"))).head.getLong(0)
    val kRow = real.find(_.getString(0) == "k")
    kRow.foreach(r => assert(r.getLong(6) == rawSum, "k sum recount"))
  }

  test("lang mix: cell mass closes to source and corpus totals and " +
    "source shares sum to one") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Quality.langMix(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val nSrc = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum == nSrc, s"$src closure")
      assert(math.abs(rs.map(_.getDouble(4)).sum - 1.0) < 1e-4,
        s"$src shares")
    }
  }
}
