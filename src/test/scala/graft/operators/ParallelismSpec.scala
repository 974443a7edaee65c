package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.{Jobs, SparkSuite}

class ParallelismSpec extends SparkSuite {

  private def tmp(p: String) = Files.createTempDirectory(p).toString + "/t"

  private def repartitioned(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: Repartition => r.shuffle && r.numPartitions == spark.sparkContext.defaultParallelism
    case _ => false
  }

  private def assertNoJobs(df: DataFrame): (DataFrame, DataFrame) = {
    val (out, jobs) = Jobs.counted(spark)((Parallelism.ensure(df), Parallelism.ensureCompute(df)))
    assert(jobs == 0, s"ensure/ensureCompute submitted $jobs job(s)")
    out
  }

  test("ensure submits no job on a shuffle-fed input, and leaves it to AQE") {
    val agg = spark.range(0, 100000).groupBy((col("id") % 7).as("k")).count()
    val (a, b) = assertNoJobs(agg)
    assert((a eq agg) && (b eq agg), "a shuffle output counts at its planned partitions")
  }

  test("ensure submits no job on a broadcast-join input") {
    val small = spark.range(0, 10).withColumnRenamed("id", "k")
    val wide = spark.range(0, 50000).withColumn("k", col("id") % 10).join(broadcast(small), "k")
    val (a, _) = assertNoJobs(wide)
    assert(a eq wide, "the streamed side's range slices count, the broadcast side counts 0")
    val narrow = spark.range(0, 50000, 1, 1).withColumn("k", col("id") % 10).join(broadcast(small), "k")
    val (_, c) = assertNoJobs(narrow)
    assert(repartitioned(c), "one streamed partition is spread by ensureCompute")
  }

  test("ensure submits no job on a persisted input that is not materialized yet") {
    val cached = spark.range(0, 100000).groupBy((col("id") % 11).as("k")).count().persist()
    try {
      val (a, _) = assertNoJobs(cached)
      assert(a eq cached)
      val relation = cached.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      assert(relation.exists(!_.cacheBuilder.isCachedColumnBuffersLoaded),
        "counting partitions must not build the cache")
    } finally cached.unpersist(blocking = true)
  }

  test("a single-row-group parquet file above minBytes is repartitioned") {
    val path = tmp("onegroup")
    spark.range(0, 30000).select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      .coalesce(1).write.parquet(path)
    val bytes = new java.io.File(path).listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes >= (1L << 20) && bytes < (4L << 20), s"fixture must be one split above minBytes: $bytes")
    val df = spark.read.parquet(path)
    val (a, b) = assertNoJobs(df)
    assert(repartitioned(a) && repartitioned(b))
  }

  test("a multi-file scan with enough partitions is returned untouched") {
    val path = tmp("files")
    val parallelism = spark.sparkContext.defaultParallelism
    spark.range(0, 4000, 1, parallelism * 2).write.parquet(path)
    val df = spark.read.parquet(path)
    assert(df.rdd.getNumPartitions >= parallelism)
    val (a, b) = assertNoJobs(df)
    assert((a eq df) && (b eq df))
  }

  test("a tiny input is returned untouched by ensure") {
    import spark.implicits._
    val tiny = Seq(1, 2, 3).toDF("x")
    val (a, b) = assertNoJobs(tiny)
    assert(a eq tiny, "below minBytes: no shuffle for a tiny dim")
    assert(repartitioned(b), "ensureCompute spreads even a tiny input")
  }

  test("a stream is returned untouched") {
    val stream = spark.readStream.format("rate").load()
    assert(Parallelism.ensure(stream) eq stream)
    assert(Parallelism.ensureCompute(stream) eq stream)
  }
}
