package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session settings that keep steady-state runs from recompiling
  * generated code, and the UI history they are paid for with.
  */
class SessionsSpec extends SparkSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One whole-stage pipeline (range -> project -> filter, no exchange)
    * whose generated source differs per `k`: the literals are inlined.
    */
  private def plan(k: Int) =
    spark.range(0, 200, 1, 2).selectExpr(s"id * $k + 1 AS v").where(s"v % 7 != $k")

  test("a steady-state plan is not recompiled after many other distinct plans") {
    plan(1).collect()
    // each plan takes a driver entry and a task entry in the class cache:
    // 80 plans need more than 160, past the 100-entry default
    (2 to 81).foreach(k => plan(k).collect())
    val before = compiles
    plan(1).collect()
    assert(compiles == before, s"${compiles - before} fresh compile(s) for an already compiled plan")
  }

  test("the status store keeps no finished SQL execution but the latest") {
    val store = spark.sharedState.statusStore
    // other suites' executions, finished or not, are not this test's to count
    val before = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    (1 to 5).foreach(k => plan(k).collect())
    // Spark drops finished executions when the next one is first recorded,
    // and asynchronously: the latest stays until another query starts
    def kept = store.executionsList().filter(e => e.executionId > before && e.completionTime.isDefined)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (kept.size > 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(kept.size <= 1, s"finished executions kept: ${kept.map(_.executionId).mkString(", ")}")
  }
}
