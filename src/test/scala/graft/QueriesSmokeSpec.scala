package graft

/** DAG-integrity analog (SURVEY §5): every declared query must run on the
  * sf0.001 smoke data and return rows; the entry query must be non-empty.
  * (Value-level correctness is the DuckDB oracle gate, not this suite.)
  */
class QueriesSmokeSpec extends SparkSuite {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  // each query also leaves the CacheManager as it found it: whatever a
  // query caches inside the call is released before its result is read
  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows on sf0.001") {
      spark.catalog.clearCache()
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
    }
  }

  test("q28: the numeric HLL estimate itself lands within the 4×rsd bound") {
    // the oracle row only certifies the reduced boolean; this pins the raw
    // estimate the boolean was derived from (rsd 0.05 → |err| ≤ 20%)
    import org.apache.spark.sql.functions._
    val r = spark.read.parquet(s"$sf/lineitem.parquet").agg(
        countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey"), rsd = 0.05).as("approx"))
      .head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact) <= exact * 0.20,
      s"HLL estimate $approx vs exact $exact exceeds 4×rsd")
    val flag = Queries.q28ApproxDistinct(spark, sf)
      .select("approx_within_rsd").head().getBoolean(0)
    assert(flag, "q28's reduced boolean must certify the bound")
  }
}
