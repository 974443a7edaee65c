package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.{ManifestTable, Tables}

class StreamsSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming tumbling agg equals the batch plan on the same data") {
    val batchEvents = Tables.load(spark, sf, "events")
    val dir = tmpDir("events-stream")
    batchEvents.write.mode("overwrite").parquet(dir)

    val streamIn = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val agg = Streams.tumblingAgg(streamIn.withWatermark("ts", "2 hours"), "ts", "1 hour")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("tumbling_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
      val batch = Streams.tumblingAgg(batchEvents, "ts", "1 hour")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("upsertStream: foreachBatch MERGE gives effectively-once upserts") {
    val destPath = tmpDir("upsert-dest") + "/t"
    val in = tmpDir("upsert-in")
    // batch 1: initial load (with an in-batch dup on pk -> latest wins)
    Seq((1L, 1L, "a"), (2L, 1L, "b"), (2L, 2L, "b2"))
      .toDF("id", "seq", "v").write.mode("overwrite").parquet(in)
    val stream1 = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
    val q1 = Streams.upsertStream(spark, stream1, destPath,
      pk = Seq("id"), orderCols = Seq("seq"), checkpoint = tmpDir("ck1"))
    q1.processAllAvailable(); q1.stop()
    val afterFirst = ManifestTable.read(spark, destPath)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(afterFirst == Map(1L -> "a", 2L -> "b2"))

    // batch 2 (re-sent + changed + new), new stream on a fresh dir
    val in2 = tmpDir("upsert-in2")
    Seq((2L, 3L, "b3"), (3L, 1L, "c"), (1L, 1L, "a"))
      .toDF("id", "seq", "v").write.mode("overwrite").parquet(in2)
    val stream2 = spark.readStream.schema(spark.read.parquet(in2).schema).parquet(in2)
    val q2 = Streams.upsertStream(spark, stream2, destPath,
      pk = Seq("id"), orderCols = Seq("seq"), checkpoint = tmpDir("ck2"))
    q2.processAllAvailable(); q2.stop()
    val afterSecond = ManifestTable.read(spark, destPath)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(afterSecond == Map(1L -> "a", 2L -> "b3", 3L -> "c"))
  }

  test("upsertStream leaves no cache entry behind over many micro-batches") {
    spark.catalog.clearCache()
    val destPath = tmpDir("upsert-nocache") + "/t"
    val in = tmpDir("upsert-nocache-in")
    // one file per micro-batch: initial load, then a change + an insert each
    Seq(Seq((1L, 1L, "a"), (2L, 1L, "b")), Seq((2L, 2L, "b2"), (3L, 1L, "c")),
        Seq((1L, 2L, "a2"), (4L, 1L, "d")))
      .foreach(_.toDF("id", "seq", "v").coalesce(1).write.mode("append").parquet(in))
    val q = Streams.upsertStream(spark,
      spark.readStream.schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      destPath, pk = Seq("id"), orderCols = Seq("seq"), checkpoint = tmpDir("nocache-ck"))
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3, "expected three micro-batches")
    assert(ManifestTable.read(spark, destPath).select($"id", $"v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b2", 3L -> "c", 4L -> "d"))
    assert(spark.sharedState.cacheManager.isEmpty, "a micro-batch's merge left a cache entry behind")
  }

  test("SCD2 composes with foreachBatch: per-micro-batch history maintenance") {
    import graft.operators.Scd2
    val in = tmpDir("scd2-stream")
    // day-1 and day-2 dimension snapshots arrive as ONE file each (so
    // maxFilesPerTrigger=1 yields exactly one micro-batch per snapshot)
    Seq((1L, "gold", 10.0), (2L, "silver", 5.0))
      .toDF("k", "tier", "score").coalesce(1).write.mode("append").parquet(in)
    Seq((1L, "gold", 10.0), (2L, "gold", 7.0), (3L, "bronze", 1.0))
      .toDF("k", "tier", "score").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stamps = Map(0L -> "2024-01-01 00:00:00", 1L -> "2024-02-01 00:00:00")
    var hist: org.apache.spark.sql.DataFrame = null
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val cur = if (hist == null) Scd2.emptyHistory(batch, "k") else hist
        // localCheckpoint materializes each generation so the next batch
        // builds on data, not on a plan referencing a consumed stream
        hist = Scd2.applyBatch(cur, batch, "k", stamps(id)).localCheckpoint()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // order of file discovery is append order; equals the batch-mode fold
    val b1 = Seq((1L, "gold", 10.0), (2L, "silver", 5.0)).toDF("k", "tier", "score")
    val b2 = Seq((1L, "gold", 10.0), (2L, "gold", 7.0), (3L, "bronze", 1.0))
      .toDF("k", "tier", "score")
    val expect = Scd2.applyBatch(
      Scd2.applyBatch(Scd2.emptyHistory(b1, "k"), b1, "k", stamps(0L)),
      b2, "k", stamps(1L))
    assert(hist.count() == expect.count())
    assert(hist.exceptAll(expect).count() == 0 && expect.exceptAll(hist).count() == 0)
  }

  test("IncrementalAgg composes with foreachBatch: streaming materialized-view refresh") {
    import graft.operators.IncrementalAgg
    val in = tmpDir("mv-stream")
    def chg(rows: (String, String, String, String, String)*) =
      rows.toDF("op", "group", "value", "old_group", "old_value")
        .select($"op", $"group", $"value".cast("decimal(18,2)").as("value"),
          $"old_group", $"old_value".cast("decimal(18,2)").as("old_value"))
    // two change batches arrive as one file each
    chg(("I", "a", "10.00", null, null), ("I", "b", "5.00", null, null))
      .coalesce(1).write.mode("append").parquet(in)
    chg(("U", "a", "12.00", "a", "10.00"), ("D", null, null, "b", "5.00"),
        ("I", "c", "1.00", null, null))
      .coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    var view = IncrementalAgg.build(
      chg().select($"group".as("g"), $"value".as("v")), "g", "v").localCheckpoint()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        view = IncrementalAgg.applyChanges(view, batch, "g").localCheckpoint()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = view.select($"g", $"n", $"total".cast("string"))
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(("a", 1L, "12.00"), ("c", 1L, "1.00")),
      s"streamed MV must equal the folded changelog: $got")
  }

  test("streaming IVF maintenance: foreachBatch appends keep the index probe-identical to batch") {
    // the production ANN-ingest loop: vectors arrive as a stream, each
    // micro-batch is assigned against the FROZEN centroids and appended
    // into the partitioned index — the index is never rebuilt, and a
    // probe after the stream drains equals a from-scratch batch build
    import graft.operators.Similarity
    val in = tmpDir("ivf-stream-in")
    val idx = tmpDir("ivf-stream-idx") + "/index"
    val corpus = Seq(
      (0L, Array(1f, 0.10f, 0f, 0f)), (2L, Array(1f, 0.20f, 0f, 0f)),
      (4L, Array(1f, 0.30f, 0f, 0f)),
      (1L, Array(0f, 0f, 1f, 0.10f)), (3L, Array(0f, 0f, 1f, 0.25f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    // three arrival batches, one file each
    corpus.where($"vec_id" < 2).coalesce(1).write.mode("append").parquet(in)
    corpus.where($"vec_id" >= 2 && $"vec_id" < 4).coalesce(1).write.mode("append").parquet(in)
    corpus.where($"vec_id" >= 4).coalesce(1).write.mode("append").parquet(in)
    val q = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.appendToIvfIndex(batch, "vec_id", "embedding", idx, cents)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val batchIdx = tmpDir("ivf-stream-batch") + "/index"
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", batchIdx, cents)
    for (qid <- Seq(0L, 1L)) {
      val queries = corpus.where($"vec_id" === qid)
      val streamed = Similarity.probeIvfIndex(spark, idx, queries,
        "vec_id", "embedding", k = 3, centroids = cents, nProbe = 1)
      val batch = Similarity.probeIvfIndex(spark, batchIdx, queries,
        "vec_id", "embedding", k = 3, centroids = cents, nProbe = 1)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        s"stream-maintained index diverged for query $qid")
    }
    assert(spark.read.parquet(idx).count() == corpus.count())
  }

  test("streaming manifest maintenance: foreachBatch append commits feed changes() incrementally") {
    // the batch-CDC loop over the manifest log: each micro-batch lands as
    // one append commit; a downstream consumer checkpointing version
    // numbers reads changes(lastSeen, current) and reconstructs the table
    // exactly, never rescanning the base
    import graft.operators.ManifestTable
    val in = tmpDir("manifest-stream-in")
    val root = tmpDir("manifest-stream-tbl") + "/t"
    val rows = (0 until 90).map(i => (i.toLong, s"r_$i")).toDF("id", "payload")
    rows.where($"id" < 30).coalesce(1).write.mode("append").parquet(in)
    rows.where($"id" >= 30 && $"id" < 60).coalesce(1).write.mode("append").parquet(in)
    rows.where($"id" >= 60).coalesce(1).write.mode("append").parquet(in)
    val q = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ManifestTable.commit(spark, root, batch, Seq("id"),
          append = ManifestTable.listVersions(spark, root).nonEmpty)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val versions = ManifestTable.listVersions(spark, root)
    assert(versions.size == 3, s"expected one commit per micro-batch: $versions")
    // consumer replay: fold every changes() delta — must equal the table
    val replayed = versions.sliding(2).map { case Seq(a, b) =>
      ManifestTable.changes(spark, root, a, b)
    }.foldLeft(ManifestTable.read(spark, root, Some(versions.head)))(_ unionByName _)
    val full = ManifestTable.read(spark, root)
    assert(replayed.exceptAll(full).isEmpty && full.exceptAll(replayed).isEmpty,
      "changes() replay diverged from the table")
    assert(full.count() == 90)
  }

  test("streamInto is exactly-once through a crash-window restart (replayed batch skipped)") {
    // foreachBatch is at-least-once: if the process dies after the sink
    // effect but before the checkpoint commit marker, the restart replays
    // the batch. Simulate exactly that window by deleting the last
    // commits/ marker, then prove the manifest txn ledger absorbs the
    // replay: same rows, no duplicates, no extra version.
    import graft.operators.ManifestTable
    val in = tmpDir("minto-in")
    val ck = tmpDir("minto-ck")
    val root = tmpDir("minto-tbl") + "/t"
    val rows = (0 until 40).map(i => (i.toLong, s"r_$i")).toDF("id", "payload")
    rows.where($"id" < 20).coalesce(1).write.mode("append").parquet(in)
    rows.where($"id" >= 20).coalesce(1).write.mode("append").parquet(in)
    val batchesRun = new java.util.concurrent.atomic.AtomicInteger
    def run() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batchesRun.incrementAndGet()
        ManifestTable.streamInto(root, "minto", Seq("id"))(b, id)
      }
      .start()
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(ManifestTable.read(spark, root).count() == 40)
    val vBefore = ManifestTable.currentVersion(spark, root)
    // crash window: sink effects landed, last commit marker did not
    val commits = new java.io.File(ck, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    // the local FS keeps a checksum sidecar; leaving it behind would make
    // the restart's atomic re-write of this marker look like a collision
    new java.io.File(commits.last.getParentFile, s".${commits.last.getName}.crc").delete()
    assert(commits.last.delete(), "failed to simulate the crash window")
    val ranBefore = batchesRun.get()
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(batchesRun.get() > ranBefore,
      "restart must actually replay the uncommitted batch")
    val t = ManifestTable.read(spark, root)
    assert(t.count() == 40, "replayed batch must not duplicate rows")
    assert(t.select("id").distinct().count() == 40)
    assert(ManifestTable.currentVersion(spark, root) == vBefore,
      "a skipped replay must not advance the manifest log")
  }

  test("upsertStream restart resumes the checkpoint — committed files never replay") {
    val destPath = tmpDir("restart-dest") + "/t"
    val in = tmpDir("restart-in")
    val ck = tmpDir("restart-ck")
    Seq((1L, 1L, "a")).toDF("id", "seq", "v").write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val q1 = Streams.upsertStream(spark,
      spark.readStream.schema(schema).parquet(in), destPath,
      pk = Seq("id"), orderCols = Seq("seq"), checkpoint = ck)
    q1.processAllAvailable(); q1.stop()
    Seq((2L, 1L, "b")).toDF("id", "seq", "v").write.mode("append").parquet(in)
    val q2 = Streams.upsertStream(spark,
      spark.readStream.schema(schema).parquet(in), destPath,
      pk = Seq("id"), orderCols = Seq("seq"), checkpoint = ck)
    q2.processAllAvailable(); q2.stop()
    val dest = ManifestTable.read(spark, destPath)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(dest == Map(1L -> "a", 2L -> "b"))
    // offsets resumed: the restarted run ingested ONLY the new file's row
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    assert(replayed == 1, s"restart must skip committed files, read $replayed rows")
  }

  test("streaming OHLC resampling equals the batch bars") {
    import graft.operators.TimeSeries
    val dir = tmpDir("ohlc-in")
    val ticks = Seq(
      ("2024-01-01 10:00:00", 1L, "a", 5.0),
      ("2024-01-01 10:00:00", 2L, "a", 9.0),
      ("2024-01-01 10:30:00", 3L, "a", 1.0),
      ("2024-01-01 10:59:00", 4L, "a", 7.0),
      ("2024-01-01 11:00:00", 5L, "a", 100.0),
      ("2024-01-01 10:15:00", 6L, "b", 42.0)
    ).toDF("ts_s", "id", "k", "v")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    ticks.write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .withWatermark("ts", "2 hours")
    val q = TimeSeries.resampleOhlc(streamIn, Seq("k"), "ts", "id", "v")
      .writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ohlc_out")
      val batch = TimeSeries.resampleOhlc(
        spark.read.parquet(dir), Seq("k"), "ts", "id", "v")
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "streamed bars must equal the batch bars (same code path)")
      assert(streamed.count() == 3)
    } finally q.stop()
  }

  test("streaming IVF-PQ residual ingest: frozen blocks/router/centroids/books; replay-safe; equals batch") {
    import graft.operators.{ManifestTable, ProductQuantizer}
    val root = Files.createTempDirectory("graft_stream_ivfpqr").resolve("t").toString
    // cross-correlated within blocks so the block rotation is non-trivial
    def vecs(lo: Int, hi: Int) = (lo until hi).map { i =>
      val t = (i % 4) * 10.0
      val s = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Array(t + s, (i % 3) / 100.0, t - s, (i % 5) / 100.0,
        -t + s, (i % 7) / 100.0, -t - s, (i % 11) / 100.0))
    }.toDF("id", "vec")
    val (blocks, _) = ProductQuantizer.trainBlockRotation(vecs(0, 64), "id", "vec",
      m = 2, ksub = 2, dim = 8, nBlocks = 2, alternations = 1, lloydIters = 1)
    val rotAll = vecs(0, 80).select(col("id"),
      ProductQuantizer.rotatedBlocks(col("vec"), blocks).as("vec"))
      .localCheckpoint()
    val listOf = (v: org.apache.spark.sql.Column) =>
      when(element_at(v, 1) >= element_at(v, 5), 0).otherwise(1)
    val routed = rotAll.withColumn("list", listOf(col("vec")))
    val cents = ProductQuantizer.coarseCentroids(routed, "vec", "list", 8)
    val resid = ProductQuantizer.residuals(routed, "vec", "list", cents)
    val books = ProductQuantizer.train(resid, "id", "resid",
      m = 2, ksub = 2, dim = 8, iters = 1, saltPrefix = "sr")
    val sink = Streams.streamingIvfPqResidualIngest(root, "ivfpqr_ingest",
      "id", "vec", cents, books, dim = 8, listOf = listOf, blocks = blocks,
      statsCols = Seq("id")) _
    sink(vecs(0, 40), 0L)
    sink(vecs(40, 80), 1L)
    sink(vecs(40, 80), 1L) // at-least-once replay: must be a no-op
    val streamed = ManifestTable.read(spark, root)
    val direct = ProductQuantizer.encode(resid, "id", "resid", books,
      dim = 8, carryCols = Seq("list"))
    assert(streamed.count() == 80,
      s"replayed batch must not double-ingest: ${streamed.count()}")
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty,
      "stream-ingested residual codes must equal the one-shot batch encode " +
        "(frozen blocks -> router -> centroids -> codebooks)")
  }

  test("SQ8 ingest: replay-safe, snapshot equals the batch encode; a retrained grid stops clipping") {
    import graft.operators.{ManifestTable, ScalarQuantizer}
    val codesRoot = Files.createTempDirectory("graft_sq8_codes").resolve("t").toString
    def vecs(lo: Int, hi: Int, scale: Double) = (lo until hi).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i % 5) + j * 0.25) * scale))
    }.toDF("id", "vec")
    val base = vecs(0, 64, 1.0)
    val stats = ScalarQuantizer.train(base, "vec", 8)
    val ingest = Streams.streamingSq8Ingest(codesRoot, "ing", "id", "vec", stats) _
    ingest(base, 0L)
    val drifted = vecs(64, 128, 2.5)
    ingest(drifted, 1L)
    // replayed batch is a no-op (exactly-once through the txn ledger)
    val vReplay = ManifestTable.currentVersion(spark, codesRoot)
    ingest(drifted, 1L)
    assert(ManifestTable.currentVersion(spark, codesRoot) == vReplay)
    val corpus = base.unionByName(drifted)
    val snapshot = ManifestTable.read(spark, codesRoot)
    val direct = ScalarQuantizer.encode(corpus, "id", "vec", stats)
    assert(snapshot.exceptAll(direct).isEmpty && direct.exceptAll(snapshot).isEmpty,
      "stream-ingested codes must equal the one-shot batch encode")
    // drifted arrivals clip against the frozen grid
    assert(ScalarQuantizer.clipReport(base, "vec", stats).head()
      .getAs[Long]("n_clipped") == 0L, "training-range batches must not clip")
    val alarmed = ScalarQuantizer.clipReport(drifted, "vec", stats).head()
    assert(alarmed.getAs[Double]("clip_rate") > 0.01, s"drift must clip: $alarmed")
    // the grid retrained on the full corpus covers the drifted batch
    val newStats = ScalarQuantizer.train(corpus, "vec", 8)
    val recovered = ScalarQuantizer.clipReport(drifted, "vec", newStats).head()
    assert(recovered.getAs[Long]("n_clipped") == 0L,
      s"retrained grid must cover the drifted range: $recovered")
  }

  test("txn-stamped merge: an upsert stream is exactly-once under replay; keys converge") {
    import graft.operators.ManifestTable
    val root = Files.createTempDirectory("graft_stream_merge").resolve("t").toString
    ManifestTable.commit(spark, root,
      (0L until 20L).map(i => (i, s"v0_$i")).toDF("k", "v"), Seq("k"))
    def sink(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      ManifestTable.merge(spark, root, batch, Seq("k"), txn = Some("cdc" -> batchId))
    // batch 0 updates keys 0-4; batch 1 updates 3-7 + inserts 100-102
    sink((0L to 4L).map(i => (i, s"b0_$i")).toDF("k", "v"), 0L)
    val vAfterB1 = { sink(((3L to 7L).map(i => (i, s"b1_$i")) ++
      (100L to 102L).map(i => (i, s"b1_$i"))).toDF("k", "v"), 1L)
      ManifestTable.currentVersion(spark, root) }
    sink(((3L to 7L).map(i => (i, s"b1_$i")) ++
      (100L to 102L).map(i => (i, s"b1_$i"))).toDF("k", "v"), 1L) // replay
    assert(ManifestTable.currentVersion(spark, root) == vAfterB1,
      "a replayed merge batch must not advance the log")
    val t = ManifestTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t.size == 23)
    assert(t(0L) == "b0_0" && t(4L) == "b1_4" && t(7L) == "b1_7")
    assert(t(10L) == "v0_10" && t(101L) == "b1_101")
  }

  test("session windows merge events within the gap") {
    val df = Seq(
      ("2024-01-01 00:00:00", 1L), ("2024-01-01 00:10:00", 1L), // one session
      ("2024-01-01 02:00:00", 1L),                              // new session
      ("2024-01-01 00:05:00", 2L)
    ).toDF("ts_s", "user_id").withColumn("ts", $"ts_s".cast("timestamp"))
    val out = Streams.sessionAgg(df, "ts", "30 minutes")
    assert(out.count() == 3)
    assert(out.where($"user_id" === 1L && $"n_events" === 2).count() == 1)
  }

  test("streamingMorUpdateSink: live CDC stream — zero ingest rewrites, " +
      "stream == batch == COW, crash-window replay is a no-op") {
    import graft.operators.ManifestTable
    val in = tmpDir("morupd-in")
    val ck = tmpDir("morupd-ck")
    val root = tmpDir("morupd-tbl") + "/t"
    val twin = tmpDir("morupd-twin") + "/t"
    val cow = tmpDir("morupd-cow") + "/t"
    // 16 key-range-clustered base files; the changelog touches ONLY the
    // lowest file's key range [0, 100)
    val base = (0 until 1600).map(i => (i.toLong, s"doc_$i", i * 10.0))
      .toDF("id", "name", "score")
      .repartitionByRange(16, $"id").sortWithinPartitions("id")
    Seq(root, twin, cow).foreach(r => ManifestTable.commit(spark, r, base, Seq("id")))
    val baseEntries = ManifestTable.listEntries(spark, root).toSet
    assert(baseEntries.size == 16)
    // three key-disjoint micro-batches (one parquet file each, replayed
    // in order by maxFilesPerTrigger=1)
    def upd(i: Int) = (0 until 100).filter(_ % 3 == i)
      .map(k => (k.toLong, s"upd${i}_$k", k * 10.0 + 1000.0 * (i + 1)))
      .toDF("id", "name", "score")
    (0 to 2).foreach(i => upd(i).coalesce(1).write.mode("append").parquet(in))
    def run() = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch(Streams.streamingMorUpdateSink(root, "morupd", "id") _)
      .start()
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    // ingest-time pin: every base file carried byte-identical through
    // all three mor-update commits
    assert(ManifestTable.listEntries(spark, root).toSet
      .intersect(baseEntries) == baseEntries,
      "MOR CDC ingest must rewrite zero base files")
    // crash window: drop the last commit marker, restart, replay no-ops
    val vBefore = ManifestTable.currentVersion(spark, root)
    val commits = new java.io.File(ck, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    new java.io.File(commits.last.getParentFile, s".${commits.last.getName}.crc").delete()
    assert(commits.last.delete(), "failed to simulate the crash window")
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(ManifestTable.currentVersion(spark, root) == vBefore,
      "a replayed mor-update batch must not commit a new version")
    // stream == the same batches applied directly == the COW merge
    val allUpd = upd(0).unionByName(upd(1)).unionByName(upd(2))
    (0 to 2).foreach(i => ManifestTable.updateKeysMor(spark, twin, upd(i), "id"))
    ManifestTable.merge(spark, cow, allUpd, Seq("id"))
    val got = ManifestTable.read(spark, root).orderBy("id").collect().toSeq
    assert(got == ManifestTable.read(spark, twin).orderBy("id").collect().toSeq,
      "live stream must equal the batch-applied twin row for row")
    assert(got == ManifestTable.read(spark, cow).orderBy("id").collect().toSeq,
      "MOR overlay read must equal the COW merge row for row")
    assert(got.size == 1600)
    // deferred maintenance bounded by displaced files
    val st = ManifestTable.rewriteDeletes(spark, root)
    assert(st.filesRewritten >= 1 && st.filesRewritten <= 2,
      s"three sparse batches displace <= 2 of 16 files, rewrote ${st.filesRewritten}")
    assert(ManifestTable.read(spark, root).orderBy("id").collect().toSeq == got,
      "maintenance must not change the read")
  }

  test("streamingPreferenceIngest: fold-on-read == batch matrix; replay is a no-op") {
    import graft.operators.{ManifestTable, Preference}
    val in = tmpDir("pref-stream")
    // two micro-batches of (winner, loser) comparisons, one file each
    Seq(("A", "B"), ("A", "B"), ("B", "C"))
      .toDF("winner", "loser").coalesce(1).write.mode("append").parquet(in)
    Seq(("A", "B"), ("C", "A"))
      .toDF("winner", "loser").coalesce(1).write.mode("append").parquet(in)
    val root = tmpDir("pref-table") + "/t"
    val schema = spark.read.parquet(in).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch(Streams.streamingPreferenceIngest(root, "pref_test") _)
      .start()
    try q.processAllAvailable() finally q.stop()
    val folded = ManifestTable.read(spark, root)
      .groupBy($"winner", $"loser").agg(sum($"n").as("n"))
    val batch = Preference.countMatrix(
      spark.read.parquet(in).select($"winner", $"loser"))
    assert(folded.exceptAll(batch).isEmpty && batch.exceptAll(folded).isEmpty,
      "streamed delta fold must equal the batch count matrix")
    // restart replay of the last micro-batch: txn ledger makes it a no-op
    val v = ManifestTable.currentVersion(spark, root)
    Streams.streamingPreferenceIngest(root, "pref_test")(
      Seq(("A", "B"), ("C", "A")).toDF("winner", "loser"), 1L)
    assert(ManifestTable.currentVersion(spark, root) == v,
      "replaying a committed batch id must not commit")
    // the fit over the folded table matches the direct fit
    val viaTable = Preference.fitFromMatrix(folded).collect().toSet
    val direct = Preference.btStrengths(
      spark.read.parquet(in).select($"winner", $"loser")).collect().toSet
    assert(viaTable == direct)
  }
}
