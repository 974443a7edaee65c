package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Parallelism, Sinks}

/** Streaming surface (§2.7).
  *
  * The reference's "streaming" is a daily batch re-run + idempotent MERGE
  * (`themovies.py:130` @daily, retries `:117-122`, MERGE `queries.py:35-48`)
  * — i.e. an at-least-once, upsert-deduplicated micro-batch pipeline. That
  * maps 1:1 onto Structured Streaming with `foreachBatch{ merge }`:
  * the same [[graft.operators.Merge]] operator serves batch and stream,
  * and within-batch dedup + MERGE idempotence upgrade at-least-once
  * delivery to effectively-once results.
  *
  * All aggregations here are written on plain DataFrames so the identical
  * code runs in batch (for the DuckDB oracle) and under a streaming plan
  * (watermark + append/update sink) — the Spark-idiomatic unification.
  */
object Streams {

  /** Tumbling-window counts/sums. Works on batch or streaming input
    * ([[Parallelism.ensure]] is a streaming-safe no-op on a stream).
    */
  def tumblingAgg(events: DataFrame, tsCol: String, width: String): DataFrame =
    Parallelism.ensure(events)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding-window variant. */
  def slidingAgg(events: DataFrame, tsCol: String, width: String, slide: String): DataFrame =
    Parallelism.ensure(events)
      .groupBy(window(col(tsCol), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n_events"))

  /** Session-window counts per user (gap-based). */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String): DataFrame =
    Parallelism.ensure(events)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n_events"))

  /** The reference pipeline as a stream: each micro-batch is deduped on pk
    * (deterministic winner) and MERGEd into the manifest-table destination,
    * rewriting only the files that hold a batch key (see
    * [[Sinks.upsertInto]]).
    */
  def upsertStream(
      spark: SparkSession,
      stream: DataFrame,
      destPath: String,
      pk: Seq[String],
      orderCols: Seq[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Sinks.upsertInto(spark, destPath, batch, pk, orderCols)
      }
      .start()

  /** STREAMING ANN ingest into a RESIDUAL (IVFADC) index over an
    * optionally block-rotated space — the arrival half of the dim-512
    * block-OPQ lakehouse lifecycle: each micro-batch of RAW vectors is
    * rotated with the index's FROZEN per-block sub-rotations (map-only;
    * arrivals must live in the rotated space the router, centroids, and
    * codebooks were trained in), routed with the frozen `listOf`,
    * residual-projected against the FROZEN per-list centroids, product-
    * encoded with the FROZEN residual codebooks, and appended
    * exactly-once (`txn = (queryName, batchId)` through the manifest
    * ledger) — the streamed encode path IS the batch encode path by
    * construction, so a streamed vector is probe-visible at commit with
    * no compaction wait and no index drift. After a reindex swap the
    * caller restarts the sink with the new (blocks, cents, books)
    * triple — the three artifacts version together.
    */
  def streamingIvfPqResidualIngest(tableRoot: String, queryName: String,
      idCol: String, vecCol: String,
      cents: Map[Int, Array[Double]],
      books: graft.operators.ProductQuantizer.Codebooks, dim: Int,
      listOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      blocks: Array[Array[Array[Double]]] = null,
      statsCols: Seq[String] = Nil)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val inSpace = if (blocks == null) batch.select(col(idCol),
        col(vecCol).cast("array<double>").as(vecCol))
      else batch.select(col(idCol),
        graft.operators.ProductQuantizer.rotatedBlocks(
          col(vecCol).cast("array<double>"), blocks).as(vecCol))
    // batch-sized barrier BEFORE the encode (the adcTopK CollapseProject
    // discipline): inlined into the m·ksub argmin projection, the dim²-
    // term rotation fold would re-evaluate once per centroid reference —
    // a 100× blow-up at production dim. A micro-batch is bounded by
    // contract, so the checkpoint is batch-sized.
    val routed = graft.operators.Parallelism.ensureCompute(
      inSpace.withColumn("list", listOf(col(vecCol)))).localCheckpoint()
    val resid = graft.operators.ProductQuantizer.residuals(
      routed, vecCol, "list", cents)
    graft.operators.ManifestTable.streamInto(tableRoot, queryName, statsCols)(
      graft.operators.ProductQuantizer.encode(resid, idCol, "resid", books,
        dim, carryCols = Seq("list")),
      batchId)
  }

  /** STREAMING ANN ingest into an SQ8 index: map-only byte encode with
    * the frozen grid, exactly-once append through the txn ledger. After
    * a grid retrain the caller restarts the sink with the new Stats —
    * grid and codes version together.
    */
  def streamingSq8Ingest(tableRoot: String, queryName: String,
      idCol: String, vecCol: String,
      stats: graft.operators.ScalarQuantizer.Stats,
      listOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = null,
      statsCols: Seq[String] = Nil)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val routed = if (listOf == null) batch
      else batch.withColumn("list", listOf(col(vecCol)))
    graft.operators.ManifestTable.streamInto(tableRoot, queryName, statsCols)(
      graft.operators.ScalarQuantizer.encode(routed, idCol, vecCol, stats,
        carryCols = if (listOf == null) Nil else Seq("list")),
      batchId)
  }

  /** PREFERENCE-DELTA sink — pass to `foreachBatch`: each micro-batch
    * of (winner, loser) comparisons collapses to its own count-matrix
    * DELTA (one partial agg, K²-bounded rows) and APPENDS it to a
    * manifest table, stamped `txn = (queryName, batchId)` so a restart
    * replay is a no-op — the exactly-once contract of
    * [[graft.operators.ManifestTable.streamInto]] on the counter-delta
    * path. Counters are additive ([[graft.operators.Preference
    * .mergeMatrices]]), so the SERVE folds the appended deltas with one
    * model-sized `groupBy sum` at read time and a compaction rewrite of
    * the folded form is read-equal by construction — the count-min /
    * incremental-agg maintenance shape (q143/q91) for preference data:
    * the comparison log is never rescanned, each micro-batch pays one
    * K²-bounded append.
    */
  def streamingPreferenceIngest(tableRoot: String, queryName: String)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      batch.groupBy(col("winner"), col("loser")).agg(count(lit(1)).as("n")),
      batchId)
  }

  /** SPARSE merge-on-read UPDATE sink — pass to `foreachBatch`: each
    * micro-batch of key-unique changelog rows applies as ONE
    * [[graft.operators.ManifestTable.updateKeysMor]] commit (replacement
    * rows land as a data file, displaced keys as a stats-scoped
    * equality tombstone — ZERO base files rewritten at ingest time),
    * stamped `txn = (queryName, batchId)` so a foreachBatch replay
    * after restart is a no-op: the exactly-once contract of
    * [[graft.operators.ManifestTable.streamInto]], on the update path.
    * This is the 100 TB changelog shape: a CDC stream upserting a
    * key-clustered fact table pays O(|batch|) per micro-batch and
    * defers file rewrites to [[graft.operators.ManifestTable
    * .rewriteDeletes]] at compaction cadence, where cost is bounded by
    * files that actually contain displaced keys. Batches must be
    * key-unique (pre-dedup latest-wins upstream — the
    * [[graft.operators.Dedup.byKeyLatest]] shape); the base table must
    * be committed before the stream starts.
    */
  def streamingMorUpdateSink(tableRoot: String, queryName: String,
      keyCol: String)(batch: DataFrame, batchId: Long): Unit = {
    graft.operators.ManifestTable.updateKeysMor(batch.sparkSession,
      tableRoot, batch, keyCol, txn = Some(queryName -> batchId))
    ()
  }
}
