package graft

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables.load` resolves a schema once per input fingerprint: it must
  * load what a bare `spark.read.parquet` loads, fail as it fails, follow
  * rewrites and conf changes, and skip the inference job on a repeat. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  private def firstParquetFile(tableDir: String): Path =
    Files.list(Paths.get(tableDir)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get

  /** The schema a read resolves to, or the class and error condition it
    * fails with. */
  private def outcome(read: => DataFrame): Either[(String, String), StructType] =
    try Right(read.schema) catch {
      case e: SparkThrowable with Throwable => Left((e.getClass.getName, e.getCondition))
    }

  /** Spark jobs the calling thread launches while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body finally {
      sc.clearJobGroup()
      BusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("a table rewritten between two loads returns its new rows and column") {
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    Seq((3L, "c", 30.0)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("k", "v", "w"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((3L, "c", 30.0)))
  }

  test("a TIMESTAMP(NANOS) column resolves as nanosAsLong says, per load") {
    val dir = tmpDir()
    val file = s"$dir/ns.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(file), hadoopConf))
      .withType(schema).withConf(hadoopConf).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try {
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(key, v)
        val bare = outcome(spark.read.parquet(file))
        assert(outcome(Tables.load(spark, dir, "ns")) == bare,
          s"nanosAsLong=$v")
        bare
      }
      assert(seen.head.map(_("ts").dataType) == Right(LongType))
      assert(seen(1) != seen.head, "flipping the conf must change the resolution")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a single file and a k=v partitioned directory load as a bare read does") {
    val dir = tmpDir()
    Seq((1L, "a", Option(1.5)), (2L, "b", Option.empty[Double])).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$dir/multi.parquet")
    Files.copy(firstParquetFile(s"$dir/multi.parquet"), Paths.get(s"$dir/single.parquet"))
    Seq((1L, "x", 2024, "eu"), (2L, "y", 2024, "us"), (3L, "z", 2025, "eu"))
      .toDF("id", "s", "year", "region")
      .write.partitionBy("year", "region").parquet(s"$dir/parted.parquet")
    // first load infers, second serves the resolved schema
    for (t <- Seq("single", "parted"); _ <- 1 to 2) {
      val bare = spark.read.parquet(s"$dir/$t.parquet")
      val loaded = Tables.load(spark, dir, t)
      assert(loaded.schema == bare.schema, t)
      assert(loaded.collect().toSet == bare.collect().toSet, t)
    }
  }

  test("concurrent loads of one table from a pool agree on its schema") {
    val dir = tmpDir()
    spark.range(100).selectExpr("id", "cast(id as string) s").write.parquet(s"$dir/t.parquet")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val schemas = Await.result(Future.sequence(
        (1 to 16).map(_ => Future(Tables.load(spark, dir, "t").schema))), 2.minutes)
      assert(schemas.distinct == Seq(spark.read.parquet(s"$dir/t.parquet").schema))
    } finally pool.shutdown()
  }

  test("first orders load runs one job; a repeat of the unchanged dir runs none") {
    val dir = tmpDir()
    Tables.orders(spark, sf).write.parquet(s"$dir/orders.parquet")
    assert(jobsDuring(Tables.orders(spark, dir)) == 1)
    assert(jobsDuring(Tables.orders(spark, dir)) == 0)
  }

  test("missing path, empty dir and non-parquet file fail as a bare read, every time") {
    val dir = tmpDir()
    Files.createDirectory(Paths.get(s"$dir/empty.parquet"))
    Files.write(Paths.get(s"$dir/text.parquet"), "not parquet\n".getBytes)
    val bare = Seq("missing", "empty", "text").map { t =>
      val expected = outcome(spark.read.parquet(s"$dir/$t.parquet"))
      // twice: a failed inference must not leave a schema behind
      for (_ <- 1 to 2) assert(outcome(Tables.load(spark, dir, t)) == expected, t)
      expected
    }
    val analysis = classOf[org.apache.spark.sql.AnalysisException].getName
    assert(bare.take(2) == Seq(Left((analysis, "PATH_NOT_FOUND")),
      Left((analysis, "UNABLE_TO_INFER_SCHEMA"))))
    assert(bare(2).isLeft)
  }

  test("the schema map stays within its cap past cap + 10 tables") {
    val dir = tmpDir()
    spark.range(1).write.parquet(s"$dir/seed.parquet")
    val part = firstParquetFile(s"$dir/seed.parquet")
    val n = Tables.SchemaCacheCap + 10
    (0 until n).foreach { i =>
      val t = Files.createDirectory(Paths.get(s"$dir/t$i.parquet"))
      Files.copy(part, t.resolve(part.getFileName))
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(
      (0 until n).map(i => Future(Tables.load(spark, dir, s"t$i")))), 10.minutes)
    finally pool.shutdown()
    assert(Tables.cachedSchemaCount == Tables.SchemaCacheCap)
  }
}
