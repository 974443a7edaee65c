package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Parallelism, Pins, Sinks}

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

  /** Streaming tumbling agg with watermarked late-data handling. */
  def streamingTumblingAgg(stream: DataFrame, tsCol: String, width: String,
      watermark: String): DataFrame =
    tumblingAgg(stream.withWatermark(tsCol, watermark), tsCol, width)

  /** Streaming dedup on key within the watermark horizon (A1/A2 streaming
    * analog): `withWatermark + dropDuplicates(keys)`.
    */
  def streamingDedup(stream: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark).dropDuplicates(keys :+ tsCol)

  /** Streaming dedup on the KEY ALONE within the watermark horizon
    * (`dropDuplicatesWithinWatermark`): where [[streamingDedup]] drops
    * exact (key, ts) re-deliveries, this also suppresses re-sends whose
    * event time DIFFERS — the at-least-once producer that re-stamps on
    * retry. State is one row per key seen inside the horizon and expires
    * with the watermark.
    */
  def streamingDedupWithinWatermark(stream: DataFrame, tsCol: String,
      watermark: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-dup drop: fingerprint each document with the simhash
    * vote vector and drop later arrivals whose fingerprint collides inside
    * the watermark horizon. Same ingest-time shape the batch
    * [[graft.operators.SimHashDedup]] pipeline has offline — identical
    * (and near-identical, since simhash quantizes local edits into the
    * same 64-bit code for highly similar text) documents are suppressed at
    * the door instead of at the next batch compaction. State is one row
    * per DISTINCT fingerprint inside the horizon — bounded by the
    * watermark, not the stream history. The identical plan runs in batch
    * (fingerprint + dropDuplicates), which the spec compares against.
    */
  def streamingNearDupDrop(
      stream: DataFrame, tsCol: String, watermark: String,
      textCol: String): DataFrame = {
    val fp = graft.operators.SimHashDedup.simhash(col(textCol))
    val in = stream.withColumn("__fp", fp)
    (if (in.isStreaming) in.withWatermark(tsCol, watermark) else in)
      .dropDuplicates("__fp")
      .drop("__fp")
  }

  /** Key-equality interval join: left row matches right rows with the same
    * key whose timestamp lands in [leftTs, leftTs + maxDelay] — the
    * impression->click shape. Written on plain DataFrames so the identical
    * plan runs in batch (oracle-comparable) and as a stream-stream join.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      maxDelay: String, joinType: String = "inner"): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"),
      joinType)

  /** Stream-stream interval join with state cleanup: both sides
    * watermarked, and the time-range condition bounds how long either
    * side's rows are retained in the join state — without it a
    * stream-stream join buffers forever, the canonical 100 TB streaming
    * failure mode. `joinType` is any [[intervalJoin]] type:
    *  - `inner`: matches emit as they pair up;
    *  - `left_outer`: an UNMATCHED left row also emits, with a NULL right
    *    side, once the watermark has passed its join window (the earliest
    *    moment the engine can prove no match is still coming) — the
    *    attribution shape where unclicked impressions must still land;
    *  - `full_outer`: an unmatched row on EITHER side emits with a NULL
    *    other side once its window has passed — the reconciliation shape
    *    (orders vs payments). The null-side flush is a state-expiry read,
    *    not extra state.
    */
  def streamingIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      maxDelay: String, watermark: String,
      joinType: String = "inner"): DataFrame =
    intervalJoin(
      left.withWatermark(leftTs, watermark),
      right.withWatermark(rightTs, watermark),
      leftKey, rightKey, leftTs, rightTs, maxDelay, joinType)

  /** Stream-static enrichment: join each micro-batch against a (slowly
    * changing) dimension table with an explicit broadcast. The static side
    * is re-resolved every micro-batch (Spark re-plans it), so a dim
    * refresh lands without restarting the query, and the stream side never
    * shuffles — at 100 TB/day the enrichment has to stay map-side. Left
    * join: an unmatched fact is a data-quality signal, not a dropped row.
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

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

  /** STREAMING near-dup suppression against a PERSISTED fingerprint
    * store — the "suppress at the door" loop for hash-fingerprinted
    * corpora (image dHash, simhash, audio fingerprints), with the
    * Hamming tolerance [[streamingNearDupDrop]]'s exact-code
    * `dropDuplicates` cannot give: each micro-batch of
    * (id, fingerprint, payload…) rows is screened with
    * [[graft.operators.SimHashDedup.incrementalHammingPairs]] (band
    * collisions touching the batch only), survivors append to `outDir`,
    * and ALL batch fingerprints append to `storeDir` — so later
    * micro-batches match against everything previously SEEN (greedy
    * keep-first: a row is dropped iff some earlier row is within
    * `maxHamming`; the batch-equivalent comparator is
    * `hammingPairs(...)` keep-ids-never-appearing-as-idB, which the
    * spec asserts).
    *
    * Contract: ids must be assigned in arrival order (monotone across
    * micro-batches — the usual ingest sequence), so "earlier" and
    * "smaller id" coincide. State is the store itself — 16 bytes/row of
    * parquet, NOT driver or executor memory, which is what lets the
    * horizon be "everything ever seen" where watermark-state operators
    * must expire. foreachBatch replays (at-least-once) may append a
    * fingerprint twice; duplicate store rows cannot change any
    * dedup decision (same hash, same collisions) — route the store
    * through [[graft.operators.ManifestTable.streamInto]] when
    * exactly-once bookkeeping matters.
    */
  def streamingFingerprintDedup(
      stream: DataFrame, idCol: String, hashCol: String,
      storeDir: String, outDir: String, checkpoint: String,
      maxHamming: Int, maxBucketSize: Int = 1000,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        Pins.scoped { s =>
          val b = s.pin(batch)
          b.count()
          val store =
            if (fs.exists(new org.apache.hadoop.fs.Path(storeDir)))
              spark.read.parquet(storeDir)
            else b.select(col(idCol), col(hashCol)).limit(0)
          val dropped = graft.operators.SimHashDedup
            .incrementalHammingPairs(store, b, idCol, hashCol,
              maxHamming, maxBucketSize)
            .select(col("idB").as("__dropped")).distinct()
          b.join(dropped, col(idCol) === col("__dropped"), "left_anti")
            .write.mode("append").parquet(outDir)
          b.select(col(idCol), col(hashCol))
            .write.mode("append").parquet(storeDir)
        }
      }
      .start()

  /** STREAMING count-min maintenance: each micro-batch collapses to its
    * own sketch ([[graft.operators.CountMin.build]] — depth×width rows,
    * input-batch-sized work, sketch-sized output) and APPENDS into a
    * [[graft.operators.ManifestTable]] through the exactly-once txn
    * ledger. Counter addition is NOT idempotent — a naive foreachBatch
    * "add into a store" double-counts on at-least-once replays — which
    * is precisely what the manifest's per-app batchId high-water mark
    * rules out: the replayed batch's commit is a no-op. The live corpus
    * sketch is the counter sum over every appended row
    * ([[currentCountMin]], q143's additivity theorem); history collapses
    * in the maintenance window via `ManifestTable.compact` (the txn
    * ledger survives compaction, so restarts still dedup).
    */
  def streamingCountMinSink(tableRoot: String, queryName: String,
      keyCol: String, depth: Int, width: Int)(
      batch: DataFrame, batchId: Long): Unit =
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      graft.operators.CountMin.build(batch, keyCol, depth, width), batchId)

  /** The maintained sketch as of the table's current snapshot: one
    * counter per (d, bucket), identical to a from-scratch build over
    * everything the stream has delivered.
    */
  def currentCountMin(spark: SparkSession, tableRoot: String): DataFrame =
    graft.operators.CountMin.merge(
      graft.operators.ManifestTable.read(spark, tableRoot))

  /** STREAMING regression-trend maintenance: each micro-batch collapses
    * to its [[graft.operators.TimeSeries.trendMoments]] rows (exact
    * additive accumulators, group-table-sized) and appends through the
    * manifest's exactly-once txn ledger — the [[streamingCountMinSink]]
    * pattern for OLS: moment addition is not idempotent, the batchId
    * high-water mark makes replays no-ops. [[currentTrend]] merges
    * everything delivered into the identical full-history fit.
    */
  def streamingTrendSink(tableRoot: String, queryName: String,
      keyCols: Seq[String], xCol: String, yCol: String)(
      batch: DataFrame, batchId: Long): Unit =
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      graft.operators.TimeSeries.trendMoments(batch, keyCols, xCol, yCol),
      batchId)

  /** The maintained fit as of the table's current snapshot — equal to
    * [[graft.operators.TimeSeries.trendOls]] over everything the
    * stream has delivered, bit-for-bit.
    */
  def currentTrend(spark: SparkSession, tableRoot: String,
      keyCols: Seq[String]): DataFrame =
    graft.operators.TimeSeries.mergeTrendMoments(
      graft.operators.ManifestTable.read(spark, tableRoot), keyCols)

  /** STREAMING quantile maintenance ([[streamingCountMinSink]]'s
    * pattern for DDSketch): each micro-batch collapses to its own
    * bucket table ([[graft.operators.QuantileSketch.sketch]] — a pure
    * function of the values, group × ~hundreds of rows) and appends
    * through the manifest's exactly-once txn ledger; bucket-count
    * addition is not idempotent, the batchId high-water mark makes
    * replays no-ops. Live percentiles read from
    * [[currentQuantiles]] equal a from-scratch sketch over everything
    * delivered — bit-for-bit, the DDSketch mergeability theorem q192
    * proves in batch.
    */
  def streamingQuantileSink(tableRoot: String, queryName: String,
      valueCol: String, groupCols: Seq[String], alpha: Double = 0.01)(
      batch: DataFrame, batchId: Long): Unit =
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      graft.operators.QuantileSketch.sketch(batch, valueCol, groupCols, alpha),
      batchId)

  /** STREAMING UPSERT into a manifest table — foreachBatch MERGE with
    * the exactly-once txn ledger: each micro-batch COW-merges on
    * `keyCol` (changed same-key rows replaced, new keys inserted, only files
    * holding a matching key rewritten) stamped `(queryName, batchId)`,
    * so an at-least-once replay of the last batch is a no-op instead
    * of a double-apply — the CDC-into-lakehouse sink shape
    * ([[streamingCountMinSink]]'s idempotence for MERGE semantics,
    * where [[graft.operators.ManifestTable.streamInto]] is append-only).
    */
  def streamMergeInto(tableRoot: String, queryName: String, keyCol: String,
      mergeSchema: Boolean = false)(batch: DataFrame, batchId: Long): Unit = {
    graft.operators.ManifestTable.merge(batch.sparkSession, tableRoot,
      batch, Seq(keyCol), mergeSchema = mergeSchema,
      txn = Some(queryName -> batchId))
    ()
  }

  /** The maintained quantiles as of the table's current snapshot. */
  def currentQuantiles(spark: SparkSession, tableRoot: String,
      groupCols: Seq[String], qs: Seq[Double],
      alpha: Double = 0.01): DataFrame =
    graft.operators.QuantileSketch.quantiles(
      graft.operators.QuantileSketch.merge(
        graft.operators.ManifestTable.read(spark, tableRoot), groupCols),
      groupCols, qs, alpha)

  /** LIVE drift: sketch-space Wasserstein-1 of the stream-maintained
    * distribution ([[streamingQuantileSink]]'s snapshot, merged) against
    * a frozen reference sketch — q210's monitor as a standing readout
    * over fixed-size state. Because the maintained sketch equals the
    * from-scratch sketch bit-for-bit (the sink's exactly-once + merge
    * purity), this W1 equals the batch answer over everything delivered
    * — no approximation is introduced by streaming itself.
    */
  def currentDriftW1(spark: SparkSession, tableRoot: String,
      referenceSketch: DataFrame, alpha: Double = 0.01): DataFrame =
    graft.operators.QuantileSketch.sketchW1(
      graft.operators.QuantileSketch.merge(
        graft.operators.ManifestTable.read(spark, tableRoot), Nil),
      referenceSketch, alpha)

  /** STREAMING ANN ingest — the production lifecycle's arrival half:
    * each micro-batch of new embeddings is PQ-encoded against the
    * FROZEN codebooks (map-only, no shuffle — the train-once/deploy
    * discipline) and appended exactly-once into the manifest-backed
    * codes table via the txn ledger, so replays are no-ops and a probe
    * ([[graft.operators.ProductQuantizer.adcTopK]] over
    * `ManifestTable.read`) always sees a consistent snapshot. Pass a
    * `listOf` router to land the coarse list id alongside the codes
    * (the IVF-PQ layout q208 probes).
    */
  def streamingPqIngest(tableRoot: String, queryName: String,
      idCol: String, vecCol: String,
      books: graft.operators.ProductQuantizer.Codebooks, dim: Int,
      listOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = null)(
      batch: DataFrame, batchId: Long): Unit = {
    val withList = graft.operators.ProductQuantizer.codesWithList(
      batch, idCol, vecCol, books, dim, listOf)
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      withList, batchId)
  }

  /** [[streamingPqIngest]] for a RESIDUAL (IVFADC) index over an
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

  /** [[streamingPqIngest]] for an OPQ index — the arrival half of the
    * q226 lifecycle: each micro-batch is ROTATED with the index's
    * frozen R (map-only — arrivals must live in the same rotated space
    * the codes and coarse router were trained in), then encoded and
    * appended exactly-once like the raw path. `listOf` routes on the
    * ROTATED vector, matching [[graft.operators.ProductQuantizer
    * .reindexOpq]]'s layout; after a reindex swap the caller restarts
    * the sink with the NEW (R, books) pair — both artifacts version
    * together.
    */
  def streamingOpqIngest(tableRoot: String, queryName: String,
      idCol: String, vecCol: String, r: Array[Array[Double]],
      books: graft.operators.ProductQuantizer.Codebooks, dim: Int,
      listOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = null)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val rotBatch = batch.select(col(idCol),
      graft.operators.ProductQuantizer.rotated(
        col(vecCol).cast("array<double>"), r).as(vecCol))
    streamingPqIngest(tableRoot, queryName, idCol, vecCol, books, dim,
      listOf)(rotBatch, batchId)
  }

  /** STREAMING codebook-staleness monitor — the retrain gate a
    * standing train-once/ingest-many ANN deployment needs: each
    * micro-batch's ADC quantization error
    * ([[graft.operators.ProductQuantizer.quantizationError]] against
    * the FROZEN codebooks) collapses to its own DDSketch bucket table
    * and appends through the manifest's exactly-once txn ledger (the
    * [[streamingQuantileSink]] machinery), so the maintained error
    * distribution equals the from-scratch one bit-for-bit and
    * [[currentStaleness]] can price "how far has the corpus drifted
    * from what the codebooks were trained on" at any moment, from
    * fixed-size state, without ground-truth labels.
    */
  def streamingPqErrorSink(tableRoot: String, queryName: String,
      idCol: String, vecCol: String,
      books: graft.operators.ProductQuantizer.Codebooks, dim: Int,
      alpha: Double = 0.01)(batch: DataFrame, batchId: Long): Unit =
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      graft.operators.QuantileSketch.sketch(
        graft.operators.ProductQuantizer.quantizationError(
          batch, idCol, vecCol, books, dim),
        "err", Nil, alpha), batchId)

  /** [[streamingPqIngest]] for an SQ8 index: map-only byte encode with
    * the frozen grid, exactly-once append through the txn ledger.
    * After a [[graft.operators.ScalarQuantizer.reindex]] swap the
    * caller restarts the sink with the new Stats — grid and codes
    * version together.
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

  /** STREAMING grid-staleness monitor for a frozen SQ8 index: each
    * micro-batch's [[graft.operators.ScalarQuantizer.clipReport]] row
    * (out-of-box coordinate counts against the FROZEN grid) appends
    * exactly-once; the maintained totals equal the from-scratch batch
    * report bit-for-bit (integer counts — no sketch needed), so
    * [[currentClipRate]] prices grid staleness at any moment from
    * one row per batch of state.
    */
  def streamingSq8ClipSink(tableRoot: String, queryName: String,
      vecCol: String, stats: graft.operators.ScalarQuantizer.Stats)(
      batch: DataFrame, batchId: Long): Unit =
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      graft.operators.ScalarQuantizer.clipReport(batch, vecCol, stats),
      batchId)

  /** [[streamingSq8ClipSink]] for the RESIDUAL tier — the gate the
    * serving IVF-SQ8 index actually uses: each micro-batch is routed
    * with the frozen `listOf`, residual-projected against the FROZEN
    * per-list centroids, and clip-reported against the FROZEN residual
    * grid (the [[graft.operators.ScalarQuantizer.reindexResidual]]
    * artifacts). A raw-tier monitor can stay calm while residual-space
    * magnitudes drift out of the residual grid's box (centroid drift
    * moves residuals even when raw coordinates stay in range), so the
    * residual index must watch residual clips. Same exactly-once
    * ledger + bit-equal-to-batch totals contract; read the gate with
    * [[currentClipRate]]. After a reindexResidual swap, restart the
    * sink with the new centroids AND grid — all three artifacts
    * version together.
    */
  def streamingSq8ResidualClipSink(tableRoot: String, queryName: String,
      vecCol: String,
      cents: Map[Int, Array[Double]],
      stats: graft.operators.ScalarQuantizer.Stats,
      listOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    require(listOf != null, "streamingSq8ResidualClipSink: the coarse " +
      "router is the point of the residual tier — pass the ingest-time listOf")
    graft.operators.ManifestTable.streamInto(tableRoot, queryName)(
      graft.operators.ScalarQuantizer.clipReport(
        graft.operators.ProductQuantizer.residuals(
          batch.withColumn("list", listOf(col(vecCol))), vecCol, "list", cents),
        "resid", stats),
      batchId)
  }

  /** The SQ8 retrain signal: aggregate the stream-maintained per-batch
    * clip reports and flag `retrain = clip_rate > threshold`. Integer
    * sums — bit-equal to running [[graft.operators.ScalarQuantizer
    * .clipReport]] over the concatenated batches.
    */
  def currentClipRate(spark: org.apache.spark.sql.SparkSession,
      tableRoot: String, threshold: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.ManifestTable.read(spark, tableRoot)
      .agg(coalesce(sum(col("n_vecs")), lit(0L)).as("n_vecs"),
        coalesce(sum(col("n_coords")), lit(0L)).as("n_coords"),
        coalesce(sum(col("n_clipped")), lit(0L)).as("n_clipped"))
      .select(col("n_vecs"), col("n_coords"), col("n_clipped"),
        when(col("n_coords") > 0,
          round(col("n_clipped").cast("double") / col("n_coords").cast("double"), 6))
          .otherwise(lit(0.0)).as("clip_rate"))
      .withColumn("retrain", col("clip_rate") > lit(threshold))
  }

  /** The retrain signal: sketch-space W1 between the stream-maintained
    * quantization-error distribution ([[streamingPqErrorSink]]'s
    * snapshot) and the frozen TRAINING-TIME error sketch, with
    * `retrain = w1 > threshold` — distribution shift shows up as
    * rising reconstruction error long before recall audits (which need
    * exact ground truth) can see it. Same bit-equality-with-batch
    * guarantee as [[currentDriftW1]]; q221 pins the batch twin against
    * the oracle.
    */
  def currentStaleness(spark: SparkSession, tableRoot: String,
      trainErrorSketch: DataFrame, threshold: Double,
      alpha: Double = 0.01): DataFrame =
    currentDriftW1(spark, tableRoot, trainErrorSketch, alpha)
      .withColumn("retrain", col("w1") > lit(threshold))

  /** PER-SEGMENT live drift: [[graft.operators.QuantileSketch
    * .sketchDriftReport]] (W1 + bucket-KS + shared-bucket PSI) of the
    * grouped maintained stream against a grouped frozen reference —
    * one monitor row per segment, all from fixed-size state, same
    * bit-equality-with-batch guarantee as [[currentDriftW1]].
    */
  def currentDriftReport(spark: SparkSession, tableRoot: String,
      referenceSketch: DataFrame, groupCols: Seq[String],
      alpha: Double = 0.01): DataFrame =
    graft.operators.QuantileSketch.sketchDriftReport(
      graft.operators.QuantileSketch.merge(
        graft.operators.ManifestTable.read(spark, tableRoot), groupCols),
      referenceSketch, groupCols, alpha)
}
