package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for this engine.
  *
  * - shuffle partitions sized to the local core count (not the 200 default —
  *   on a real cluster this would be tuned to ~2-3x total cores / AQE
  *   coalesces down);
  * - AQE on: runtime coalescing, skew-join splitting, broadcast demotion;
  * - UTC session timezone for oracle parity;
  * - legacy nanosAsLong so parquet TIMESTAMP(NANOS) (events.ts) is readable;
  *   [[graft.operators.Tables]] converts it back to a µs timestamp;
  * - NTZ inference OFF: driver testdata writes events.ts as
  *   TIMESTAMP(µs, isAdjustedToUTC=false), which would otherwise read as
  *   TIMESTAMP_NTZ — a type streaming watermarks reject. With the session
  *   timezone pinned UTC the TimestampType read is value-identical;
  * - `spark.sql.codegen.cache.maxEntries=1000`: the JVM-wide cache of
  *   compiled generated classes (default 100) keys on (thread context class
  *   loader, source), so each whole-stage class takes one driver entry and
  *   one task entry, and one pass over the benchmark's query mix needs about
  *   260 entries. At 100 its steady-state calls compiled 40 classes each
  *   (0.85 s of codegen); at 1000 they compile 3 (0.08 s). Each entry holds
  *   about 27 KB of heap (its class loader and bytecode). A static conf: it
  *   takes effect only if set before the JVM's first compile;
  * - `spark.sql.codegen.useIdInClassName=false`: AQE's per-plan
  *   `codegenStageId` in the class name would make identical pipelines
  *   distinct sources, which never hit the cache;
  * - UI history off: `spark.ui.enabled=false` hides the UI, but its status
  *   store still kept every finished job, stage and SQL execution (64,459
  *   plan metric objects over 58 executions). Retaining none of them pays
  *   for the class cache: with both, live heap after the query mix fell
  *   from 92.3 to 83.6 MB. Spark drops a finished execution when the next
  *   one starts, and job ids cannot be read back from `statusTracker`:
  *   count jobs with a SparkListener instead.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.plans.GraftExtensions.apply)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "0")
      .config("spark.ui.retainedJobs", "0")
      .config("spark.ui.retainedStages", "0")

  /** Session for local tooling (Verify/Bench/tests): local[cpus]. */
  def local(cpus: Int, appName: String): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4))
      .appName(appName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
