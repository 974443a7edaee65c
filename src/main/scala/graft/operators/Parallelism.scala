package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, LeafExecNode, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Adaptive minimum-parallelism guard for compute- and shuffle-heavy
  * operators.
  *
  * Parquet scan parallelism is row-group-bounded: a file with one row group
  * yields ONE input partition no matter how small
  * `spark.sql.files.maxPartitionBytes` is, so every downstream narrow stage
  * (shingling, hashing, map-side partial aggregation) runs on a single core.
  * That is exactly the layout the driver testdata ships (one file, one row
  * group per table) — and single-writer pipelines produce it in the wild too.
  *
  * `ensure` repartitions ONLY when the input's planned partition count is
  * below the session's parallelism. On a healthy 100 TB layout (thousands of
  * row groups) it is a no-op, so filter pushdown and scan pruning are
  * untouched; on a degenerate layout it trades one round-robin shuffle of
  * the raw input for full-cluster parallelism in everything downstream —
  * and in the degenerate case the pushdown it bypasses could not have
  * skipped anything anyway (one row group = one stats bucket).
  *
  * The count is read from the unexecuted physical plan, never by running
  * it: `ensure` sits inside operators that only build plans, and running
  * the input to count its partitions (as `df.rdd.getNumPartitions` does
  * under AQE, which finalizes the adaptive plan) executes every upstream
  * shuffle and broadcast stage once here and again at the sink. A shuffle
  * counts at its declared partition count, before AQE coalescing: what
  * happens to a shuffle's output belongs to AQE, so an input fed by a
  * shuffle is never repartitioned again.
  */
object Parallelism {

  /** Planned-partition counts memoized by (session, canonicalized-plan
    * semantic hash): planning the input (file listing and split planning
    * included) is not free, and `ensure` sits on hot operator paths that
    * probe the same table loads over and over. The count is a parallelism
    * DECISION input, not a correctness input — a stale entry (e.g. the same
    * path re-read after a sink swap grew it) costs at most a suboptimal
    * repartition choice — so a plain bounded cache is safe.
    */
  private val partitionCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Int]()

  private def plannedPartitions(df: DataFrame): Int = {
    val key = (System.identityHashCode(df.sparkSession).toString,
      df.queryExecution.logical.canonicalized.semanticHash())
    if (partitionCounts.size > 4096) partitionCounts.clear()
    partitionCounts.computeIfAbsent(key, _ =>
      partitions(df.queryExecution.executedPlan, df.sparkSession.sparkContext.defaultParallelism))
  }

  /** Whether `e` needs a subquery's result, which only a job can give. */
  private def needsSubquery(e: Expression): Boolean = e.exists(_.isInstanceOf[PlanExpression[_]])

  /** Partitions `p` will produce, read from the plan without submitting a
    * job. `unknown` stands for a leaf whose count needs a subquery's result;
    * it is the session parallelism, so such an input is left as it is.
    */
  private def partitions(p: SparkPlan, unknown: Int): Int = p match {
    case a: AdaptiveSparkPlanExec => partitions(a.executedPlan, unknown)
    case s: QueryStageExec => partitions(s.plan, unknown)
    case r: ReusedExchangeExec => partitions(r.child, unknown)
    case e: ShuffleExchangeLike => e.numPartitions
    case _: BroadcastExchangeLike => 0
    case u: UnionExec => u.children.map(partitions(_, unknown)).sum
    case c: CoalesceExec => math.min(c.numPartitions, partitions(c.child, unknown))
    case f: FileSourceScanExec =>
      // split planning only; runtime (subquery) partition filters are
      // dropped, so the count is the one before dynamic pruning
      val static = f.partitionFilters.filterNot(needsSubquery)
      val scan = if (static.size == f.partitionFilters.size) f else f.copy(partitionFilters = static)
      scan.inputRDD.getNumPartitions
    case m: InMemoryTableScanExec => partitions(m.relation.cachedPlan, unknown)
    case l: LeafExecNode =>
      if (l.expressions.exists(needsSubquery)) unknown else l.execute().getNumPartitions
    case n if n.outputPartitioning == SinglePartition => 1
    case n => n.children.map(partitions(_, unknown)).maxOption.getOrElse(unknown)
  }

  /** Repartition `df` up to the default parallelism if its planned partition
    * count is lower and its estimated size exceeds `minBytes` (tiny dims are
    * cheaper single-partition than shuffled). Submits no job: the count
    * comes from the plan (see the object doc).
    *
    * Streaming DataFrames are returned untouched (no RDD to inspect; micro-
    * batch parallelism is the source's concern).
    */
  def ensure(df: DataFrame, minBytes: Long = 1L << 20): DataFrame = {
    if (df.isStreaming) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    val have = plannedPartitions(df)
    if (have >= want) return df
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes < minBytes) df else df.repartition(want)
  }

  /** `ensure` for per-row compute so heavy that even a tiny input is worth
    * spreading (minhash shingling, simhash folds, codec decode).
    */
  def ensureCompute(df: DataFrame): DataFrame = ensure(df, minBytes = 0L)
}
