package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Layout operators: partition pruning actually prunes, clustered files
  * carry disjoint key ranges (the min/max-skipping enabler), compaction
  * bin-packs without changing data.
  */
class LayoutSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def orders = Tables.load(spark, sf, "orders")
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))

  test("writePartitioned: partition filter prunes directories at planning time") {
    val dir = Files.createTempDirectory("graft_part").toString
    Layout.writePartitioned(orders, dir, Seq("o_orderstatus"))
    val nStatuses = orders.select(col("o_orderstatus")).distinct().count()

    val filtered = spark.read.parquet(dir).where(col("o_orderstatus") === "F")
    filtered.collect()
    val scans = collect(filtered.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val scanStr = scans.head.toString
    assert(scanStr.contains("PartitionFilters") && scanStr.contains("o_orderstatus"),
      s"partition filter not pushed:\n$scanStr")
    // Planning-time pruning: the scan selected exactly 1 of the partitions.
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected === 1, s"expected 1 of $nStatuses partitions, got $selected")
    // And the data round-trips.
    assert(filtered.count() === orders.where(col("o_orderstatus") === "F").count())
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    val dir = Files.createTempDirectory("graft_dpp").toString
    Layout.writePartitioned(orders, dir, Seq("o_orderstatus"))
    val fact = spark.read.parquet(dir)
    // the dim predicate must not be constant-foldable to a join-key
    // literal (Catalyst would propagate it as a STATIC PartitionFilter);
    // the md5 gate is opaque to folding and selects exactly status 'F'
    val dim = orders.select(col("o_orderstatus")).distinct()
      .where(substring(md5(concat(lit("s:"), col("o_orderstatus"))), 1, 2) === "11")
    val joined = fact
      .join(broadcast(dim), Seq("o_orderstatus"))
      .groupBy(col("o_orderstatus")).count()
    joined.collect()
    val scans = collect(joined.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.toString.contains("graft_dpp") => s
    }
    assert(scans.nonEmpty, "fact scan not found")
    val scanStr = scans.head.toString
    assert(scanStr.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan:\n$scanStr")
    // and the runtime subquery actually pruned: 1 of N partitions read
    assert(scans.head.selectedPartitions.partitionCount === 1,
      s"DPP should leave one partition, got ${scans.head.selectedPartitions.partitionCount}")
  }

  test("writeClustered: files carry disjoint cluster-key ranges") {
    val dir = Files.createTempDirectory("graft_clust").toString
    Layout.writeClustered(orders, dir, Seq("o_custkey"), numFiles = 5)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_custkey").as("lo"), max("o_custkey").as("hi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length === 5)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // Round-trip equality.
    assert(spark.read.parquet(dir).count() === orders.count())
  }

  test("writeZOrdered: file ranges prunable on BOTH dimensions, beats 1-D clustering") {
    val src = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") / 1000).cast("int").as("price_kb"),
        col("o_totalprice"))
    val n = 8
    val zDir = Files.createTempDirectory("graft_z").toString
    Layout.writeZOrdered(src, zDir, "o_custkey", "price_kb", numFiles = n)
    val cDir = Files.createTempDirectory("graft_c").toString
    Layout.writeClustered(src, cDir, Seq("o_custkey"), numFiles = n)

    // files whose [min,max] on column c intersects [lo, hi]
    def touching(path: String, c: String, lo: Long, hi: Long): Int =
      Layout.fileRanges(spark, path, c).count { case (mn, mx) => mx >= lo && mn <= hi }

    val (loC, hiC) = (0L, 30L)     // narrow custkey band
    val (loP, hiP) = (0L, 60L)     // narrow price band
    // z-order must allow skipping on EACH dimension independently
    assert(touching(zDir, "o_custkey", loC, hiC) < n,
      "z-order: no file skipped on custkey")
    assert(touching(zDir, "price_kb", loP, hiP) < n,
      "z-order: no file skipped on price")
    // 1-D clustering on custkey scatters price across every file — the
    // z-layout must not be worse on the second dimension
    assert(touching(zDir, "price_kb", loP, hiP) <= touching(cDir, "price_kb", loP, hiP),
      "z-order lost to 1-D clustering on the second dimension")
    // and the data round-trips
    assert(spark.read.parquet(zDir).count() === src.count())
  }

  test("writeZOrderedN: 3-dim layout prunes on EACH of the three dimensions") {
    import spark.implicits._
    // three independent 64-valued dims scattered against row order
    val src = (0 until 8192).map { i =>
      (i.toLong, (i % 64).toLong, (i * 7919 % 64).toLong, (i * 104729 % 64).toLong)
    }.toDF("id", "x", "y", "z3")
    val n = 16
    val dir = Files.createTempDirectory("graft_z3").toString
    Layout.writeZOrderedN(src, dir, Seq("x", "y", "z3"), numFiles = n)
    def touching(c: String): Int =
      Layout.fileRanges(spark, dir, c).count { case (mn, mx) => mx >= 0L && mn <= 7L }
    val total = Layout.fileRanges(spark, dir, "x").size
    assert(total > 4, s"layout degenerated to $total files")
    Seq("x", "y", "z3").foreach { c =>
      assert(touching(c) < total, s"3-dim z-order: no file skipped on $c ($total files)")
    }
    assert(spark.read.parquet(dir).count() === 8192L)
    // zValueN guards: dims out of range
    intercept[IllegalArgumentException] { Layout.zValueN(Seq(col("x"))) }
    intercept[IllegalArgumentException] {
      Layout.zValueN(Seq(col("a"), col("b"), col("c"), col("d"), col("e")))
    }
  }
}
