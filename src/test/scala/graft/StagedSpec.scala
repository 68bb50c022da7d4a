package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Pipeline, Suffix}
import graft.sources.Staged

/** [[graft.sources.Staged]]: staged indexes follow their inputs, evict
  * what they replace, build once under concurrency and release their
  * dirs at application end. Every test stages over its own temp copy of
  * the sf0.001 tables. */
class StagedSpec extends AnyFunSuite {
  import TestSpark._

  private def copyOf(tables: String*): String = {
    val d = Files.createTempDirectory("graft-staged")
    tables.foreach { t =>
      val to = d.resolve(s"$t.parquet")
      Files.copy(Paths.get(sf, s"$t.parquet"), to)
      to.toFile.setWritable(true)
    }
    d.toString
  }

  private def original(table: String): DataFrame =
    spark.read.parquet(s"$sf/$table.parquet")

  /** Rewrite `dir/documents.parquet`: the corpus docs (at or below the
    * increment cut) named in `clones` take the text of the batch doc
    * they map to, so each of those batch docs becomes an exact copy of
    * an indexed doc. doc_ids, and with them the cut, stay the same. */
  private def rewriteDocs(dir: String, clones: Map[Long, String]): Unit = {
    import spark.implicits._
    original("documents")
      .join(clones.toSeq.toDF("doc_id", "clone"), Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("clone"), col("text")))
      .drop("clone")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def rows(df: DataFrame) = df.collect().toSeq

  private def warehouse = new Path(spark.sessionState.conf.warehousePath)

  private def names(p: Path): Set[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  private def stagedDirs(prefix: String): Set[String] =
    (names(warehouse) ++ names(new Path(warehouse, "_graft_epochs")))
      .filter(_.startsWith(prefix))

  private def tmpCorpusCopies: Int =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .count(_.startsWith("graft-inc-corpus"))

  /** First call, then a rewrite that clones three surviving batch docs
    * into the corpus: returns (dir, first result, clones). */
  private def incrementThenRewrite(): (String, Seq[org.apache.spark.sql.Row],
      Map[Long, String]) = {
    val dir = copyOf("documents")
    val first = rows(Pipeline.corpusIncrement(spark, dir))
    val cut = original("documents").agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val texts = original("documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val survivors = first.map(_.getAs[Long]("doc_id")).take(3)
    assert(survivors.size == 3 && survivors.forall(_ > cut))
    (dir, first, survivors.zipWithIndex.map { case (b, i) =>
      i.toLong -> texts(b) }.toMap)
  }

  test("a rewritten documents table rebuilds corpusIncrement's indexes: " +
      "the answer equals a fresh build and differs from the first") {
    val (dir, first, clones) = incrementThenRewrite()
    rewriteDocs(dir, clones)
    val second = rows(Pipeline.corpusIncrement(spark, dir))
    // reference: indexes built directly over the rewritten corpus
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val fresh = Files.createTempDirectory("graft-staged-fresh").toString
    docs.filter(col("doc_id") <= cut)
      .write.parquet(s"$fresh/documents.parquet")
    Dedup.buildMinhashIndex(spark, fresh, "graft_test_staged_fresh_mh")
    Dedup.buildContainmentIndex(spark, fresh, "graft_test_staged_fresh_cont")
    val expected = rows(Pipeline.curateIncrement(spark,
      "graft_test_staged_fresh_mh", "graft_test_staged_fresh_cont",
      docs.filter(col("doc_id") > cut).select(col("doc_id"), col("text"))))
    assert(second == expected)
    assert(second != first)
  }

  test("the rebuild drops the replaced prefix: no old tables or epoch " +
      "dirs, the graft_* warehouse count unchanged, no temp corpus copy") {
    val copies = tmpCorpusCopies
    val before = stagedDirs("graft_inc_")
    val (dir, _, clones) = incrementThenRewrite()
    val firstDirs = stagedDirs("graft_inc_") -- before
    val oldTables = spark.catalog.listTables().collect().map(_.name)
      .filter(firstDirs)
    assert(firstDirs.nonEmpty && oldTables.nonEmpty)
    val count = stagedDirs("graft_").size
    rewriteDocs(dir, clones)
    Pipeline.corpusIncrement(spark, dir).count()
    val after = stagedDirs("graft_inc_")
    assert((after intersect firstDirs).isEmpty, s"left behind: ${after intersect firstDirs}")
    assert(spark.catalog.listTables().collect().map(_.name)
      .forall(n => !oldTables.contains(n)))
    assert(stagedDirs("graft_").size == count)
    assert(tmpCorpusCopies == copies)
  }

  test("rewriting documents keeps the staged customer edit pairs; " +
      "rewriting customer rebuilds them") {
    val dir = copyOf("documents", "customer")
    val before = stagedDirs("graft_edit_pairs_")
    val pairs = rows(Dedup.stagedNameEditPairs(spark, dir))
    val built = stagedDirs("graft_edit_pairs_")
    assert((built -- before).size == 1)
    rewriteDocs(dir, Map(0L -> "rewritten"))
    assert(rows(Dedup.stagedNameEditPairs(spark, dir)).toSet == pairs.toSet)
    assert(stagedDirs("graft_edit_pairs_") == built)
    original("customer").write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    Dedup.stagedNameEditPairs(spark, dir).count()
    val rebuilt = stagedDirs("graft_edit_pairs_")
    assert(rebuilt.size == built.size && rebuilt != built)
  }

  test("a failed build drops what it wrote and rethrows; the next call " +
      "builds again") {
    val dir = copyOf("documents")
    val kind = "graft_test_staged_fail"
    intercept[IllegalStateException](Staged(spark, kind, dir, Seq("documents")) { p =>
      spark.range(1).write.saveAsTable(p)
      throw new IllegalStateException("build failed")
    })
    assert(stagedDirs(kind).isEmpty)
    assert(spark.catalog.listTables().collect().forall(!_.name.startsWith(kind)))
    assert(Staged(spark, kind, dir, Seq("documents"))(_ => "built")._2 == "built")
  }

  test("eight pooled concurrent dupCentrality calls on a fresh dir " +
      "build the adjacency once") {
    val dir = copyOf("documents")
    val before = stagedDirs("graft_pr_adj_dc_")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(Future.sequence((1 to 8).map(_ =>
        Future(rows(Graph.dupCentrality(spark, dir))))), 10.minutes)
      assert(results.distinct.size == 1 && results.head.nonEmpty)
      assert((stagedDirs("graft_pr_adj_dc_") -- before).size == 1)
    } finally pool.shutdown()
  }

  test("the application-end release deletes the app's staged dirs and " +
      "forgets its entries") {
    val dir = copyOf("documents")
    val before = stagedDirs("graft_span_")
    val clip = rows(Suffix.spanClipIncrement(spark, dir))
    val mine = stagedDirs("graft_span_") -- before
    assert(mine.nonEmpty)
    Staged.release(spark.sparkContext.applicationId, warehouse,
      spark.sparkContext.hadoopConfiguration)
    assert((stagedDirs("graft_span_") intersect mine).isEmpty)
    // forgotten: the next call stages afresh instead of probing the
    // deleted tables
    assert(rows(Suffix.spanClipIncrement(spark, dir)).toSet == clip.toSet)
    assert((stagedDirs("graft_span_") -- before).size == mine.size)
  }
}
