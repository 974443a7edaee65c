package perfbench

/** Every metric name the benchmark prints, in BENCHMARK.json order.
  *
  * Each workload fills the end-to-end set from its own operations. An
  * "op" is one endpoint-day load (`etl_upsert`) or one query or curation
  * call (`query_mix`); a "round" is one day of all endpoints, read-back
  * included, or one pass over the op list. A run does a fixed number of
  * rounds. Times of ops and rounds are the program's CPU time
  * ([[Cpu.programSeconds]]): every JVM thread but the JIT compiler's,
  * without the time the host withheld the CPU. On a shared host wall
  * time follows the host's load, and in the first minutes of a JVM the
  * compiler takes a third or more of all CPU, in an amount set by how far
  * it has got. Both are means over the timed window, since collector and
  * background work lands in whichever op happens to run: `op_cpu_s` is
  * the geometric mean, over the kinds of op, of each kind's mean;
  * `etl_upsert` has one kind, the endpoint-day, whose CPU is a day's
  * load CPU over its endpoints, since they run at once. `round_cpu_s` is
  * the mean round. Wall times stay in the details (`etl.load_s_p50`,
  * `etl.day_s_p50`, `mix.op_s_gmean`, `mix.round_s`, ...). `setup_s` is
  * wall time.
  * `heap_live_mb` is the heap the program still holds after the timed
  * operations, once forced collections have let Spark's cleaner release
  * what they dropped; the benchmark's own input model is not in it. The
  * heap after each collection during the window (`heap_used_mb_p50`,
  * `heap_used_mb_max`, details only) follows the collector's timing and
  * spreads too widely across runs to gate.
  * Per-layer metrics of a layer a workload never calls read 0 on that
  * workload.
  */
object Catalog {
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_cpu_s" -> "s",
    "round_cpu_s" -> "s",
    "heap_live_mb" -> "MB")

  /** The per-layer metrics a traced run prints in its result line: the
    * time of each layer's calls, the quality guards, and the engine
    * figures an optimization is most likely to move. The result line
    * must stay under 2000 characters, so the rest go to [[LayerDetails]].
    */
  val Layers: Seq[(String, String)] = Seq(
    "sources.ingest_s" -> "s",
    "pipeline.fanout_wait_s" -> "s",
    "Dedup.fullRow_s" -> "s",
    "Dedup.byKeyLatest_s" -> "s",
    "Dedup.byContent_s" -> "s",
    "SchemaDrift.align_s" -> "s",
    "Merge.merge_s" -> "s",
    "Merge.shuffle_bytes" -> "bytes",
    "Merge.cached_bytes_per_day" -> "bytes/day",
    "Sinks.commit_s" -> "s",
    "Sinks.readCurrent_s" -> "s",
    "MinHashDedup.dedup_s" -> "s",
    "MinHashDedup.verifiedPairs_s" -> "s",
    "MinHashDedup.duplicateGroups_s" -> "s",
    "MinHashDedup.recall" -> "ratio",
    "Similarity.trainCentroids_s" -> "s",
    "Similarity.semanticDedup_s" -> "s",
    "Similarity.ivfTopKJoin_s" -> "s",
    "Similarity.recall_at_k" -> "ratio",
    "SparkEntry.build_s" -> "s",
    "SparkEntry.write_s" -> "s",
    "spark.plan_s" -> "s",
    "spark.codegen_s" -> "s",
    "spark.jobs" -> "count",
    "spark.driver_gap_s" -> "s",
    "spark.core_util" -> "ratio")

  /** Per-layer counts and ratios printed with the details and kept in the
    * record file, but not in the result line.
    */
  val LayerDetails: Seq[(String, String)] = Seq(
    "sources.pages" -> "count",
    "Dedup.keep_ratio" -> "ratio",
    "SchemaDrift.evolutions" -> "count",
    "Merge.dest_rows_read_per_src_row" -> "ratio",
    "Merge.inserted" -> "count",
    "Merge.updated" -> "count",
    "Merge.unchanged" -> "count",
    "Merge.cached_bytes" -> "bytes",
    "Sinks.bytes_written_per_src_byte" -> "ratio",
    "Sinks.files_written" -> "count",
    "Sinks.space_amp" -> "ratio",
    "MinHashDedup.candidate_pairs" -> "count",
    "MinHashDedup.verify_yield" -> "ratio",
    "MinHashDedup.duplicateGroups_jobs" -> "count",
    "Similarity.pairs_scored_per_query" -> "count",
    "SparkEntry.build_jobs" -> "count",
    "spark.codegen_compiles" -> "count",
    "spark.plan_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s")

  def e2e(values: Map[String, Double]): Seq[Metric] = {
    val missing = E2E.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    E2E.map { case (n, u) => Metric(n, values(n), u) }
  }

  /** (result-line metrics, detail metrics) of a run's per-layer values;
    * a result-line metric the run never measured reads 0.
    */
  def layers(values: Map[String, Double]): (Seq[Metric], Seq[Metric]) = {
    val unknown = values.keySet -- (Layers ++ LayerDetails).map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: ${unknown.mkString(", ")}")
    (Layers.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) },
      LayerDetails.collect { case (n, u) if values.contains(n) => Metric(n, values(n), u) })
  }
}
