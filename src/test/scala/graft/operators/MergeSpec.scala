package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Jobs, SparkSuite}
import graft.sources.Paginated
import graft.sources.PaginatedSpec.{fetched, CountingFetcher}

class MergeSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def dest = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("id", "name", "v")

  private def source = Seq(
    (2L, "b", 20.0),   // unchanged -> keep dest row
    (3L, "c2", 30.0),  // changed   -> take source row
    (4L, "d", 40.0)    // new       -> insert
  ).toDF("id", "name", "v")

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("merge semantics: keep / update / insert") {
    for (strategy <- Seq(Merge.MergeStrategy.BroadcastSource, Merge.MergeStrategy.ShuffleFullOuter)) {
      val out = Merge.merge(dest, source, Seq("id"), strategy)
      assert(asSet(out) == Set(
        Seq(1L, "a", 10.0), Seq(2L, "b", 20.0), Seq(3L, "c2", 30.0), Seq(4L, "d", 40.0)),
        s"strategy=$strategy")
    }
  }

  test("unchanged rows keep the OLD audit stamp (change predicate excludes audit cols)") {
    val d = Audit.stampAt(dest, lit("2024-01-01 00:00:00"))
    val s = Audit.stampAt(source, lit("2024-02-01 00:00:00"))
    val out = Merge.merge(d, s, Seq("id")).cache()
    val stampOf = out.select($"id", $"record_loaded_at".cast("string"))
      .as[(Long, String)].collect().toMap
    assert(stampOf(1L).startsWith("2024-01-01"), "untouched row keeps stamp")
    assert(stampOf(2L).startsWith("2024-01-01"), "unchanged re-send keeps OLD stamp")
    assert(stampOf(3L).startsWith("2024-02-01"), "updated row takes source stamp")
    assert(stampOf(4L).startsWith("2024-02-01"), "insert takes source stamp")
  }

  test("merge is idempotent: merge(merge(T,S),S) == merge(T,S)") {
    val once = Merge.merge(dest, source, Seq("id"))
    val twice = Merge.merge(once, source, Seq("id"))
    assert(asSet(once) == asSet(twice))
  }

  test("null-safe change detection treats NULL as a value") {
    val d = Seq((1L, Option("x")), (2L, Option.empty[String])).toDF("id", "name")
    val s = Seq((1L, Option.empty[String]), (2L, Option.empty[String])).toDF("id", "name")
    val out = Merge.merge(d, s, Seq("id"))
    // row 1: x -> null is a change; row 2: null -> null is not
    assert(asSet(out) == Set(Seq(1L, null), Seq(2L, null)))
  }

  test("upsertBatch dedups the batch on pk first (at-least-once safety)") {
    val batch = Seq(
      (4L, "dup-old", 1.0), (4L, "dup-new", 2.0)
    ).toDF("id", "name", "v")
    val out = Merge.upsertBatch(dest, batch, Seq("id"), orderCols = Seq("v"))
    assert(out.where($"id" === 4L).select($"name").as[String].collect().toSeq == Seq("dup-new"))
  }

  test("the change predicate is evaluated once per row, not once per output column") {
    for (strategy <- Seq(Merge.MergeStrategy.BroadcastSource, Merge.MergeStrategy.ShuffleFullOuter)) {
      val plan = Merge.merge(dest, source, Seq("id"), strategy).queryExecution.optimizedPlan
      val comparisons = plan.flatMap(_.expressions.flatMap(_.collect { case e: EqualNullSafe => e }))
      assert(comparisons.size == 2, s"strategy=$strategy: ${comparisons.size} null-safe comparisons in\n$plan")
    }
  }

  // ---- plan and lifecycle of a written merge ----

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Write `df` as parquet and return the executed plan of the write. */
  private def writtenPlan(df: DataFrame): SparkPlan = {
    val seen = new AtomicReference[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.compareAndSet(null, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.mode("overwrite").parquet(tmp("merge-out"))
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.get == null && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.get != null, "the write's query execution was never reported")
    seen.get.executedPlan
  }

  /** Every scan of `dir` in `plan`, each with whether a shuffle sits above it. */
  private def scansOf(plan: SparkPlan, dir: String): Seq[(FileSourceScanExec, Boolean)] = {
    def walk(p: SparkPlan, shuffled: Boolean): Seq[(FileSourceScanExec, Boolean)] = p match {
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains(dir))) Seq((f, shuffled))
        else Seq.empty
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, shuffled)
      case q: QueryStageExec => walk(q.plan, shuffled)
      case _ => p.children.flatMap(walk(_, shuffled || p.isInstanceOf[ShuffleExchangeLike]))
    }
    walk(plan, shuffled = false)
  }

  private def parquetDest(): (DataFrame, String) = {
    val dir = tmp("merge-dest")
    dest.write.mode("overwrite").parquet(dir)
    (spark.read.parquet(dir), dir)
  }

  test("broadcast merge plan: nothing cached, dest scanned twice (one pk-only), never shuffled") {
    spark.catalog.clearCache()
    val (d, dir) = parquetDest()
    val plan = writtenPlan(Merge.merge(d, source, Seq("id")))
    assert(spark.sharedState.cacheManager.isEmpty, "merge left a cache entry behind")
    assert(find(plan)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty, s"cached scan in:\n$plan")
    val scans = scansOf(plan, dir)
    assert(scans.size == 2, s"dest scanned ${scans.size} times:\n$plan")
    assert(scans.count(_._1.requiredSchema.fieldNames.toSeq == Seq("id")) == 1,
      s"expected one pk-only dest scan: ${scans.map(_._1.requiredSchema.simpleString)}")
    assert(!scans.exists(_._2), s"a shuffle sits above a dest scan:\n$plan")
  }

  test("broadcast merge plan: a union-shaped source does not clone the dest scans") {
    val (d, dir) = parquetDest()
    val s1 = source.where($"id" < 4L)
    val s2 = source.where($"id" >= 4L)
    val out = Merge.merge(d, s1.unionByName(s2), Seq("id"))
    // Exchange reuse can hide a cloned subtree in the physical plan, so
    // count dest relations in the optimized plan too.
    val relations = out.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation if r.relation.asInstanceOf[HadoopFsRelation]
          .location.rootPaths.exists(_.toString.contains(dir)) => r
    }
    assert(relations.size == 2,
      s"dest appears ${relations.size} times:\n${out.queryExecution.optimizedPlan}")
    val plan = writtenPlan(out)
    assert(scansOf(plan, dir).size == 2, s"dest scanned ${scansOf(plan, dir).size} times:\n$plan")
    assert(asSet(out) == asSet(Merge.merge(dest, source, Seq("id"))))
  }

  test("ETL endpoint-day: no job before the sink, pages 2..n fetched once, a fixed sink job count") {
    for ((withFullRow, sinkJobs) <- Seq((true, 6), (false, 5))) {
      val root = tmp("merge-etl")
      Sinks.swapIntoVersioned(spark, root, Audit.stampAt(
        Paginated.ingest(spark, Paginated.SyntheticMovieFetcher(pages = 3, perPage = 10), "popular")
          .drop("page"),
        lit("2024-01-01 00:00:00")))
      val f = CountingFetcher(s"etl-day-$withFullRow", pages = 6, perPage = 10)
      val (merged, planJobs) = Jobs.counted(spark) {
        val ingested = Paginated.ingest(spark, f, "popular")
        val deduped = if (withFullRow) Dedup.fullRow(ingested) else ingested
        val latest = Dedup.byKeyLatest(deduped, Seq("id"), Seq("page"))
        val stamped = Audit.stampAt(latest.drop("page"), lit("2024-01-02 00:00:00"))
        val (d, s) = SchemaDrift.align(Sinks.readCurrent(spark, root), stamped)
        Merge.merge(d, s, Seq("id"))
      }
      assert(planJobs == 0, s"building the endpoint-day submitted $planJobs job(s)")
      val (_, jobs) = Jobs.counted(spark)(Sinks.swapIntoVersioned(spark, root, merged))
      assert(fetched(f.key).map(_._1).sorted == (1 to 6), "pages 2..6 fetched exactly once each")
      assert(jobs == sinkJobs, s"fullRow=$withFullRow: the sink ran $jobs job(s)")
      assert(Sinks.readCurrent(spark, root).count() == 60)
    }
  }
}
