package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Tables

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
    val agg = Streams.streamingTumblingAgg(streamIn, "ts", "1 hour", watermark = "2 hours")
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
    val afterFirst = spark.read.parquet(destPath)
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
    val afterSecond = spark.read.parquet(destPath)
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
    assert(spark.read.parquet(destPath).select($"id", $"v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b2", 3L -> "c", 4L -> "d"))
    assert(spark.sharedState.cacheManager.isEmpty, "a micro-batch's merge left a cache entry behind")
  }

  test("upsertStream heals a crashed swap before merging — prior rows survive") {
    val destPath = tmpDir("upsert-crash") + "/t"
    val in = tmpDir("upsert-crash-in")
    Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "v")
      .write.mode("overwrite").parquet(in)
    val q1 = Streams.upsertStream(spark,
      spark.readStream.schema(spark.read.parquet(in).schema).parquet(in),
      destPath, pk = Seq("id"), orderCols = Seq("seq"), checkpoint = tmpDir("crash-ck1"))
    q1.processAllAvailable(); q1.stop()
    // the swap's crash window: dest renamed to .old, the staged table
    // never published — only the backup holds the table's rows
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dest = new org.apache.hadoop.fs.Path(destPath)
    val bak = new org.apache.hadoop.fs.Path(destPath + ".old")
    assert(fs.rename(dest, bak) && !fs.exists(dest), "precondition: crashed swap")
    val in2 = tmpDir("upsert-crash-in2")
    Seq((2L, 2L, "b2"), (3L, 1L, "c")).toDF("id", "seq", "v")
      .write.mode("overwrite").parquet(in2)
    val q2 = Streams.upsertStream(spark,
      spark.readStream.schema(spark.read.parquet(in2).schema).parquet(in2),
      destPath, pk = Seq("id"), orderCols = Seq("seq"), checkpoint = tmpDir("crash-ck2"))
    q2.processAllAvailable(); q2.stop()
    val after = spark.read.parquet(destPath)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "a", 2L -> "b2", 3L -> "c"),
      s"the backed-up rows must be restored, then merged: $after")
    assert(!fs.exists(bak), ".old must be consumed by the restore")
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
    val dest = spark.read.parquet(destPath)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(dest == Map(1L -> "a", 2L -> "b"))
    // offsets resumed: the restarted run ingested ONLY the new file's row
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    assert(replayed == 1, s"restart must skip committed files, read $replayed rows")
  }

  test("stream-stream interval join equals the batch interval join") {
    val events = Tables.load(spark, sf, "events")
    val clicks = events.where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
    val views = events.where($"event_type" === "view")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("v_id"))
    val vDir = tmpDir("views-stream")
    val cDir = tmpDir("clicks-stream")
    views.write.mode("overwrite").parquet(vDir)
    clicks.write.mode("overwrite").parquet(cDir)

    val vStream = spark.readStream.schema(views.schema).parquet(vDir)
    val cStream = spark.readStream.schema(clicks.schema).parquet(cDir)
    val joined = Streams.streamingIntervalJoin(
      vStream, cStream, "v_user", "c_user", "v_ts", "c_ts",
      maxDelay = "10 minutes", watermark = "1 hour")
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("ssjoin_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_out")
      val batch = Streams.intervalJoin(
        views, clicks, "v_user", "c_user", "v_ts", "c_ts", "10 minutes")
      assert(batch.count() > 0, "fixture must produce at least one join row")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: matches pair up, unmatched flush on watermark") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val views = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1L),
      ("b", ts("2024-01-01 10:05:00"), 2L)   // never clicked
    ).toDF("v_user", "v_ts", "v_id")
    val clicks = Seq(
      ("a", ts("2024-01-01 10:03:00"), 11L)
    ).toDF("c_user", "c_ts", "c_id")
    val vDir = tmpDir("lo-views")
    val cDir = tmpDir("lo-clicks")
    views.write.mode("overwrite").parquet(vDir)
    clicks.write.mode("overwrite").parquet(cDir)
    val vStream = spark.readStream.schema(views.schema).parquet(vDir)
    val cStream = spark.readStream.schema(clicks.schema).parquet(cDir)
    val joined = Streams.streamingIntervalJoin(
      vStream, cStream, "v_user", "c_user", "v_ts", "c_ts",
      maxDelay = "10 minutes", watermark = "5 minutes", joinType = "left_outer")
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("lojoin_out").start()
    try {
      q.processAllAvailable()
      // unmatched 'b' can only emit once the watermark PROVES no click is
      // coming — push it with a late sentinel on both sides, then let the
      // engine run its watermark-advance batch
      Seq(("zz", ts("2024-01-01 23:00:00"), 9L)).toDF("v_user", "v_ts", "v_id")
        .write.mode("append").parquet(vDir)
      Seq(("zz", ts("2024-01-01 23:00:00"), 99L)).toDF("c_user", "c_ts", "c_id")
        .write.mode("append").parquet(cDir)
      q.processAllAvailable()
      val out = spark.table("lojoin_out").where($"v_user" =!= "zz")
      val matched = out.where($"c_id".isNotNull)
        .select($"v_user", $"c_id").as[(String, Long)].collect().toSet
      assert(matched == Set(("a", 11L)), s"got $matched")
      val unmatched = out.where($"c_id".isNull)
        .select($"v_user").as[String].collect().toSeq
      assert(unmatched == Seq("b"),
        s"unmatched view must emit with a NULL right side, got $unmatched")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER interval join: both sides' unmatched flush on watermark") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val views = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1L),
      ("b", ts("2024-01-01 10:05:00"), 2L)   // never clicked
    ).toDF("v_user", "v_ts", "v_id")
    val clicks = Seq(
      ("a", ts("2024-01-01 10:03:00"), 11L),
      ("c", ts("2024-01-01 10:06:00"), 12L)  // click with no view
    ).toDF("c_user", "c_ts", "c_id")
    val vDir = tmpDir("fo-views")
    val cDir = tmpDir("fo-clicks")
    views.write.mode("overwrite").parquet(vDir)
    clicks.write.mode("overwrite").parquet(cDir)
    val vStream = spark.readStream.schema(views.schema).parquet(vDir)
    val cStream = spark.readStream.schema(clicks.schema).parquet(cDir)
    val joined = Streams.streamingIntervalJoin(
      vStream, cStream, "v_user", "c_user", "v_ts", "c_ts",
      maxDelay = "10 minutes", watermark = "5 minutes", joinType = "full_outer")
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("fojoin_out").start()
    try {
      q.processAllAvailable()
      // unmatched rows emit only once the watermark PROVES no partner is
      // coming — late sentinels advance it, then the expiry batch runs
      Seq(("zz", ts("2024-01-01 23:00:00"), 9L)).toDF("v_user", "v_ts", "v_id")
        .write.mode("append").parquet(vDir)
      Seq(("zz", ts("2024-01-01 23:00:00"), 99L)).toDF("c_user", "c_ts", "c_id")
        .write.mode("append").parquet(cDir)
      q.processAllAvailable()
      val out = spark.table("fojoin_out")
        .where(coalesce($"v_user", lit("")) =!= "zz" &&
          coalesce($"c_user", lit("")) =!= "zz")
      val matched = out.where($"c_id".isNotNull && $"v_id".isNotNull)
        .select($"v_user", $"c_id").as[(String, Long)].collect().toSet
      assert(matched == Set(("a", 11L)), s"got $matched")
      val leftOnly = out.where($"c_id".isNull)
        .select($"v_user").as[String].collect().toSeq
      assert(leftOnly == Seq("b"),
        s"unmatched view must emit with a NULL right side, got $leftOnly")
      val rightOnly = out.where($"v_id".isNull)
        .select($"c_user").as[String].collect().toSeq
      assert(rightOnly == Seq("c"),
        s"unmatched click must emit with a NULL left side, got $rightOnly")
      // stream result == the batch full-outer interval join on the same
      // (sentinel-free) inputs
      val batch = Streams.intervalJoin(views, clicks,
        "v_user", "c_user", "v_ts", "c_ts", "10 minutes", "full_outer")
      assert(out.exceptAll(batch).count() == 0 &&
        batch.exceptAll(out).count() == 0,
        "stream full-outer must equal the batch full-outer")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment equals the batch join, keeps unmatched facts") {
    val events = Tables.load(spark, sf, "events")
      .select($"event_id", $"user_id", $"event_type")
    val dim = Tables.load(spark, sf, "customer")
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    val eDir = tmpDir("enrich-stream")
    events.write.mode("overwrite").parquet(eDir)
    val eStream = spark.readStream.schema(events.schema).parquet(eDir)
    val q = Streams.streamStaticEnrich(eStream, dim, Seq("user_id"))
      .writeStream.outputMode("append").format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
      val batch = Streams.streamStaticEnrich(events, dim, Seq("user_id"))
      assert(batch.count() == events.count(), "left join must keep every fact row")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streamingDedup drops in-horizon duplicate keys, stream==batch distinct") {
    val dir = tmpDir("dedup-stream")
    Seq(
      ("2024-01-01 00:00:00", 1L, "a"),
      ("2024-01-01 00:01:00", 1L, "a"), // same key+ts grid? different ts, same id
      ("2024-01-01 00:00:00", 1L, "a"), // exact dup of row 1 -> dropped
      ("2024-01-01 00:02:00", 2L, "b")
    ).toDF("ts_s", "id", "v")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
      .write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val out = Streams.streamingDedup(streamIn, "ts", "1 hour", keys = Seq("id"))
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("sdedup_out").start()
    try {
      q.processAllAvailable()
      // (id, ts) pairs: exact duplicate collapsed, distinct ts survive
      assert(spark.table("sdedup_out").count() == 3)
    } finally q.stop()
  }

  test("Quality gate composes onto streams: validate/pass is a pure projection") {
    import graft.operators.Quality
    val dir = tmpDir("quality-stream")
    Seq((1L, 10.0, "ok"), (2L, -5.0, "ok"), (3L, 20.0, "bad"), (4L, 7.5, "ok"))
      .toDF("id", "price", "status")
      .write.mode("overwrite").parquet(dir)
    val exps = Seq(
      Quality.Expectation("positive_price", $"price" > 0),
      Quality.Expectation("ok_status", $"status" === "ok"))
    val streamIn = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val out = Quality.pass(Quality.validate(streamIn, exps))
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("quality_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("quality_out").select($"id").as[Long].collect().toSet
      val batch = Quality.pass(Quality.validate(spark.read.parquet(dir), exps))
        .select($"id").as[Long].collect().toSet
      assert(streamed == batch && streamed == Set(1L, 4L), s"got $streamed")
    } finally q.stop()
  }

  test("streamingDedupWithinWatermark collapses re-stamped re-sends of a key") {
    val dir = tmpDir("dedup-wwm-stream")
    Seq(
      ("2024-01-01 00:00:00", 1L, "a"),
      ("2024-01-01 00:01:00", 1L, "a"), // re-send, new stamp -> DROPPED here
      ("2024-01-01 00:02:00", 2L, "b"),
      ("2024-01-01 00:03:00", 1L, "a")  // another re-stamp, still in horizon
    ).toDF("ts_s", "id", "v")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
      .write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val out = Streams.streamingDedupWithinWatermark(streamIn, "ts", "1 hour",
      keys = Seq("id"))
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("sdedupw_out").start()
    try {
      q.processAllAvailable()
      // one row per key inside the horizon, despite three distinct stamps
      // for key 1 (streamingDedup would keep all three)
      val ids = spark.table("sdedupw_out").select($"id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("streamingNearDupDrop suppresses identical-fingerprint docs, stream==batch") {
    val dir = tmpDir("neardup-stream")
    val docs = Seq(
      ("2024-01-01 00:00:00", 10L, "the quick brown fox jumps over the lazy dog today"),
      ("2024-01-01 00:01:00", 11L, "the quick brown fox jumps over the lazy dog today"), // exact dup
      ("2024-01-01 00:02:00", 12L, "completely different text about spark physical planning"),
      ("2024-01-01 00:03:00", 13L, "completely different text about spark physical planning"), // dup
      ("2024-01-01 00:04:00", 14L, "a third unique document with its own words entirely")
    ).toDF("ts_s", "doc_id", "text")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    docs.write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val out = Streams.streamingNearDupDrop(streamIn, "ts", "1 hour", "text")
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("sneardup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sneardup_out")
      val batch = Streams.streamingNearDupDrop(spark.read.parquet(dir), "ts", "1 hour", "text")
      assert(streamed.count() == 3) // 5 docs, 2 fingerprint collisions
      assert(streamed.count() == batch.count())
      // The same text GROUPS survive either way (representative may differ).
      assert(streamed.select("text").distinct().collect().map(_.getString(0)).sorted
        === batch.select("text").distinct().collect().map(_.getString(0)).sorted)
    } finally q.stop()
  }

  test("streamingFingerprintDedup: greedy keep-first vs a persisted store, stream==batch") {
    import graft.operators.{Multimodal, SimHashDedup}
    val srcDir = tmpDir("fpdedup-src")
    val storeDir = tmpDir("fpdedup-store") + "/store"
    val outDir = tmpDir("fpdedup-out") + "/out"
    val ckpt = tmpDir("fpdedup-ckpt")
    // ids 256 apart render identical PNGs -> dhash clones; three arrival
    // waves, each written as its own file (maxFilesPerTrigger=1 -> three
    // micro-batches): 3 arrives first, its clones 259/515 later, plus
    // independents
    val waves = Seq(Seq(3L, 40L), Seq(259L, 77L), Seq(515L, 296L))
    waves.foreach { ids =>
      val hashes = Multimodal.dhash56(Multimodal.attachPngPayload(
        ids.toDF("id"), "id", lit(16), lit(16)))
      hashes.coalesce(1).write.mode("append").parquet(srcDir)
    }
    val streamIn = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = Streams.streamingFingerprintDedup(streamIn, "media_id", "dhash",
      storeDir, outDir, ckpt, maxHamming = 3)
    try q.awaitTermination() finally q.stop()
    val kept = spark.read.parquet(outDir)
      .select($"media_id").as[Long].collect().toSet
    // batch comparator: greedy keep-first = ids never appearing as idB
    val all = spark.read.parquet(srcDir)
    val dropped = SimHashDedup.hammingPairs(all, "media_id", "dhash",
        maxHamming = 3, maxBucketSize = 1000)
      .select($"idB").as[Long].collect().toSet
    val expect = all.select($"media_id").as[Long].collect().toSet -- dropped
    assert(kept == expect, s"stream $kept vs batch $expect")
    // 40 ~ 296 are clones too: 296 must be dropped by the STORE rule
    // (different micro-batches), 259/515 by store+chain
    assert(Set(259L, 515L, 296L).forall(!kept(_)), s"clones survived: $kept")
    assert(kept(3L) && kept(40L) && kept(77L), "first arrivals survive")
    // the store now holds every seen fingerprint
    assert(spark.read.parquet(storeDir).count() == 6L)
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

  test("streaming count-min maintenance: replay-safe, equals the one-shot build") {
    import graft.operators.CountMin
    val root = Files.createTempDirectory("graft_stream_cms").resolve("t").toString
    val sink = Streams.streamingCountMinSink(root, "cms", "k", 4, 64) _
    def keys(lo: Long, hi: Long) = (lo to hi).map(i => i % 17).toDF("k")
    sink(keys(1, 30), 0L)
    sink(keys(31, 60), 1L)
    sink(keys(31, 60), 1L) // at-least-once replay: must be a no-op
    sink(keys(61, 90), 2L)
    val maintained = Streams.currentCountMin(spark, root)
    val oneShot = CountMin.build(keys(1, 90), "k", 4, 64)
    assert(maintained.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(maintained).isEmpty,
      "maintained sketch must equal the from-scratch build bit-for-bit")
    // a double-add would inflate the replayed batch's counters: total
    // counter mass must be exactly depth * 90 rows
    val mass = maintained.agg(sum($"cnt")).as[Long].head()
    assert(mass == 4L * 90, s"counter mass $mass != 360")
  }

  test("streaming trend maintenance: replay-safe, equals the one-shot fit") {
    import graft.operators.TimeSeries
    val root = Files.createTempDirectory("graft_stream_ols").resolve("t").toString
    val sink = Streams.streamingTrendSink(root, "ols", Seq("k"), "x", "y") _
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => ("g", i.toLong, 10.0 + 0.5 * i + (if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("k", "x", "y")
    sink(slice(0, 40), 0L)
    sink(slice(40, 80), 1L)
    sink(slice(40, 80), 1L) // at-least-once replay: must be a no-op
    sink(slice(80, 120), 2L)
    val maintained = Streams.currentTrend(spark, root, Seq("k")).collect().toSeq
    val oneShot = TimeSeries.trendOls(slice(0, 120), Seq("k"), "x", "y")
      .collect().toSeq
    assert(maintained == oneShot,
      s"maintained fit must equal the from-scratch fit: $maintained vs $oneShot")
  }

  test("streaming quantile maintenance: replay-safe, equals the one-shot sketch readout") {
    import graft.operators.QuantileSketch
    val root = Files.createTempDirectory("graft_stream_dds").resolve("t").toString
    val sink = Streams.streamingQuantileSink(root, "dds", "v", Seq("k")) _
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (if (i % 2 == 0) "a" else "b", 1.0 + i * 3.7)).toDF("k", "v")
    sink(slice(0, 50), 0L)
    sink(slice(50, 100), 1L)
    sink(slice(50, 100), 1L) // at-least-once replay: must be a no-op
    sink(slice(100, 150), 2L)
    val maintained = Streams.currentQuantiles(spark, root, Seq("k"),
      Seq(0.5, 0.95)).collect().map(r =>
      (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val oneShot = QuantileSketch.quantiles(
      QuantileSketch.sketch(slice(0, 150), "v", Seq("k")), Seq("k"),
      Seq(0.5, 0.95)).collect().map(r =>
      (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(maintained == oneShot,
      s"maintained quantiles must equal from-scratch: $maintained vs $oneShot")
    assert(maintained.size == 4)
  }

  test("streaming drift monitor: live sketch-W1 equals the batch answer, replay-stable") {
    import graft.operators.QuantileSketch
    val root = Files.createTempDirectory("graft_stream_w1").resolve("t").toString
    val sink = Streams.streamingQuantileSink(root, "w1m", "v", Nil) _
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => 1.0 + i * 2.3).toDF("v")
    val reference = QuantileSketch.sketch(
      (0 until 150).map(i => 5.0 + i * 1.9).toDF("v"), "v", Nil)
    sink(slice(0, 60), 0L)
    sink(slice(60, 120), 1L)
    val live1 = Streams.currentDriftW1(spark, root, reference).head()
    sink(slice(60, 120), 1L) // at-least-once replay: W1 must not move
    val live2 = Streams.currentDriftW1(spark, root, reference).head()
    assert(live1 == live2, s"replay moved the monitor: $live1 vs $live2")
    val batch = QuantileSketch.sketchW1(
      QuantileSketch.sketch(slice(0, 120), "v", Nil), reference).head()
    assert(live2 == batch,
      s"live drift must equal the from-scratch answer: $live2 vs $batch")
    assert(live2.getDouble(2) > 0.0)
  }

  test("streaming per-segment drift report equals the batch report") {
    import graft.operators.QuantileSketch
    val root = Files.createTempDirectory("graft_stream_w1g").resolve("t").toString
    val sink = Streams.streamingQuantileSink(root, "w1g", "v", Seq("k")) _
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (if (i % 2 == 0) "a" else "b", 1.0 + i * 2.3)).toDF("k", "v")
    val reference = QuantileSketch.sketch(
      (0 until 100).map(i => (if (i % 2 == 0) "a" else "b", 5.0 + i * 1.9))
        .toDF("k", "v"), "v", Seq("k"))
    sink(slice(0, 60), 0L)
    sink(slice(60, 120), 1L)
    val live = Streams.currentDriftReport(spark, root, reference, Seq("k"))
      .collect().sortBy(_.getString(0)).toSeq
    val batch = QuantileSketch.sketchDriftReport(
      QuantileSketch.sketch(slice(0, 120), "v", Seq("k")), reference, Seq("k"))
      .collect().sortBy(_.getString(0)).toSeq
    assert(live == batch, s"live $live vs batch $batch")
    assert(live.size == 2 && live.forall(_.getDouble(3) > 0.0))
  }

  test("streaming PQ ingest: replay-safe, snapshot probe == batch encode-then-probe") {
    import graft.operators.{ManifestTable, ProductQuantizer}
    val root = Files.createTempDirectory("graft_stream_pq").resolve("t").toString
    def vecs(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == (i % 4) * 2) 10.0 else 0.0) + (i % 7) / 10.0))
    }.toDF("id", "vec")
    val books = ProductQuantizer.train(vecs(0, 64), "id", "vec",
      m = 2, ksub = 4, dim = 8, iters = 2)
    val sink = Streams.streamingPqIngest(root, "pq_ingest", "id", "vec",
      books, dim = 8) _
    sink(vecs(0, 40), 0L)
    sink(vecs(40, 80), 1L)
    sink(vecs(40, 80), 1L) // at-least-once replay: must be a no-op
    sink(vecs(80, 120), 2L)
    val streamed = ManifestTable.read(spark, root)
    val direct = ProductQuantizer.encode(vecs(0, 120), "id", "vec", books, dim = 8)
    assert(streamed.count() == 120,
      s"replayed batch must not double-ingest: ${streamed.count()}")
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty,
      "stream-ingested codes must equal the one-shot batch encode")
    // a probe over the live snapshot equals the probe over the batch codes
    val q = vecs(0, 4)
    val live = ProductQuantizer.adcTopK(q, "id", "vec",
      streamed, "id", books, dim = 8, k = 3).collect().toSet
    val batchProbe = ProductQuantizer.adcTopK(q, "id", "vec",
      direct, "id", books, dim = 8, k = 3).collect().toSet
    assert(live == batchProbe)
  }

  test("streaming OPQ ingest: arrivals rotate with the index's frozen R; replay-safe; equals batch") {
    import graft.operators.{ManifestTable, ProductQuantizer}
    val root = Files.createTempDirectory("graft_stream_opq").resolve("t").toString
    // cross-subspace-correlated corpus so the rotation is non-trivial
    def vecs(lo: Int, hi: Int) = (lo until hi).map { i =>
      val t = (i % 4) * 10.0
      val s = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Array(t + s, (i % 3) / 100.0, t - s, (i % 5) / 100.0))
    }.toDF("id", "vec")
    val (r, books) = ProductQuantizer.trainRotation(vecs(0, 64), "id", "vec",
      m = 2, ksub = 2, dim = 4, alternations = 1, lloydIters = 2)
    val sink = Streams.streamingOpqIngest(root, "opq_ingest", "id", "vec",
      r, books, dim = 4) _
    sink(vecs(0, 40), 0L)
    sink(vecs(40, 80), 1L)
    sink(vecs(40, 80), 1L) // at-least-once replay: must be a no-op
    val streamed = ManifestTable.read(spark, root)
    val rotAll = vecs(0, 80).select(col("id"),
      ProductQuantizer.rotated(col("vec"), r).as("vec"))
    val direct = ProductQuantizer.encode(rotAll, "id", "vec", books, dim = 4)
    assert(streamed.count() == 80,
      s"replayed batch must not double-ingest: ${streamed.count()}")
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty,
      "stream-ingested OPQ codes must equal the one-shot rotated batch encode")
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

  test("codebook-staleness gate: live == batch, replay-stable, retrain flips on drift") {
    import graft.operators.{ProductQuantizer, QuantileSketch}
    val root = Files.createTempDirectory("graft_stream_stale").resolve("t").toString
    def vecs(lo: Int, hi: Int, scale: Double) = (lo until hi).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        ((if (j == (i % 4) * 2) 10.0 else 0.0) + (i % 7) / 10.0) * scale))
    }.toDF("id", "vec")
    val train = vecs(0, 64, 1.0)
    val books = ProductQuantizer.train(train, "id", "vec",
      m = 2, ksub = 4, dim = 8, iters = 2)
    val trainSketch = QuantileSketch.sketch(
      ProductQuantizer.quantizationError(train, "id", "vec", books, dim = 8),
      "err", Nil)
    val sink = Streams.streamingPqErrorSink(root, "stale", "id", "vec",
      books, dim = 8) _
    // in-distribution batch (same generator, later ids): error dist
    // matches training, W1 stays small
    sink(vecs(64, 96, 1.0), 0L)
    val calm = Streams.currentStaleness(spark, root, trainSketch,
      threshold = Double.MaxValue).head()
    // a 3x-scaled drifted batch: reconstruction error jumps
    sink(vecs(96, 128, 3.0), 1L)
    sink(vecs(96, 128, 3.0), 1L) // at-least-once replay: must be a no-op
    val alarmed = Streams.currentStaleness(spark, root, trainSketch,
      threshold = calm.getDouble(2)).head()
    assert(alarmed.getDouble(2) > calm.getDouble(2),
      s"drift must raise the error W1: calm $calm vs alarmed $alarmed")
    assert(alarmed.getBoolean(3), s"retrain flag must fire: $alarmed")
    // live readout equals the from-scratch batch answer bit-for-bit
    val batch = QuantileSketch.sketchW1(
      QuantileSketch.sketch(ProductQuantizer.quantizationError(
        vecs(64, 96, 1.0).unionByName(vecs(96, 128, 3.0)),
        "id", "vec", books, dim = 8), "err", Nil),
      trainSketch).head()
    assert((alarmed.getLong(0), alarmed.getLong(1), alarmed.getDouble(2)) ==
      ((batch.getLong(0), batch.getLong(1), batch.getDouble(2))),
      s"live staleness must equal batch: $alarmed vs $batch")
  }

  test("full ANN lifecycle: ingest -> staleness fires -> reindex swaps atomically -> error recovers") {
    import graft.operators.{ManifestTable, ProductQuantizer, QuantileSketch}
    val codesRoot = Files.createTempDirectory("graft_pq_codes").resolve("t").toString
    val errRoot = Files.createTempDirectory("graft_pq_err").resolve("t").toString
    def vecs(lo: Int, hi: Int, scale: Double) = (lo until hi).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        ((if (j == (i % 4) * 2) 10.0 else 0.0) + (i % 7) / 10.0) * scale))
    }.toDF("id", "vec")
    val base = vecs(0, 64, 1.0)
    val books = ProductQuantizer.train(base, "id", "vec",
      m = 2, ksub = 4, dim = 8, iters = 2)
    val trainSketch = QuantileSketch.sketch(
      ProductQuantizer.quantizationError(base, "id", "vec", books, dim = 8),
      "err", Nil)
    val ingest = Streams.streamingPqIngest(codesRoot, "ing", "id", "vec",
      books, dim = 8) _
    val errSink = Streams.streamingPqErrorSink(errRoot, "err", "id", "vec",
      books, dim = 8) _
    ingest(base, 0L); errSink(base, 0L)
    val calm = Streams.currentStaleness(spark, errRoot, trainSketch,
      threshold = Double.MaxValue).head().getDouble(2)
    // drifted arrivals land in the codes table AND trip the gate
    val drifted = vecs(64, 128, 3.0)
    ingest(drifted, 1L); errSink(drifted, 1L)
    val alarmed = Streams.currentStaleness(spark, errRoot, trainSketch,
      threshold = calm).head()
    assert(alarmed.getBoolean(3), s"gate must fire: $alarmed")
    // act: retrain on the full current corpus and swap the codes table
    val corpus = base.unionByName(drifted)
    val vBefore = ManifestTable.currentVersion(spark, codesRoot)
    val (newBooks, vAfter) = ProductQuantizer.reindex(spark, codesRoot,
      corpus, "id", "vec", m = 2, ksub = 4, dim = 8)
    assert(vAfter > vBefore, "reindex must commit a new version")
    // the swapped snapshot equals a from-scratch encode under new books
    val snapshot = ManifestTable.read(spark, codesRoot)
    val direct = ProductQuantizer.encode(corpus, "id", "vec", newBooks, dim = 8)
    assert(snapshot.exceptAll(direct).isEmpty && direct.exceptAll(snapshot).isEmpty,
      "swapped index must equal the fresh encode")
    // the old version is still time-travel readable (probe-in-flight safety)
    assert(ManifestTable.read(spark, codesRoot, Some(vBefore)).count() == 128)
    // and the drifted rows' reconstruction error recovered
    val staleErr = ProductQuantizer.quantizationError(
      drifted, "id", "vec", books, dim = 8).agg(sum($"err")).head().getDouble(0)
    val freshErr = ProductQuantizer.quantizationError(
      drifted, "id", "vec", newBooks, dim = 8).agg(sum($"err")).head().getDouble(0)
    assert(freshErr < staleErr / 2,
      s"reindex must collapse drifted-row error: stale $staleErr fresh $freshErr")
  }

  test("SQ8 lifecycle: ingest -> clip gate fires -> reindex swaps -> clipping stops") {
    import graft.operators.{ManifestTable, ScalarQuantizer}
    val codesRoot = Files.createTempDirectory("graft_sq8_codes").resolve("t").toString
    val clipRoot = Files.createTempDirectory("graft_sq8_clip").resolve("t").toString
    def vecs(lo: Int, hi: Int, scale: Double) = (lo until hi).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i % 5) + j * 0.25) * scale))
    }.toDF("id", "vec")
    val base = vecs(0, 64, 1.0)
    val stats = ScalarQuantizer.train(base, "vec", 8)
    val ingest = Streams.streamingSq8Ingest(codesRoot, "ing", "id", "vec", stats) _
    val clipSink = Streams.streamingSq8ClipSink(clipRoot, "clip", "vec", stats) _
    ingest(base, 0L); clipSink(base, 0L)
    val calm = Streams.currentClipRate(spark, clipRoot, threshold = 0.01).head()
    assert(!calm.getBoolean(4) && calm.getAs[Long]("n_clipped") == 0L,
      s"training-range batches must not clip: $calm")
    // replayed batch is a no-op (exactly-once through the txn ledger)
    val vReplay = ManifestTable.currentVersion(spark, clipRoot)
    clipSink(base, 0L)
    assert(ManifestTable.currentVersion(spark, clipRoot) == vReplay)
    // drifted arrivals clip and trip the gate
    val drifted = vecs(64, 128, 2.5)
    ingest(drifted, 1L); clipSink(drifted, 1L)
    val alarmed = Streams.currentClipRate(spark, clipRoot, threshold = 0.01).head()
    assert(alarmed.getBoolean(4), s"clip gate must fire on drift: $alarmed")
    // maintained totals equal the from-scratch batch report
    val batchReport = ScalarQuantizer.clipReport(
      base.unionByName(drifted), "vec", stats).head()
    assert(alarmed.getAs[Long]("n_clipped") == batchReport.getAs[Long]("n_clipped")
      && alarmed.getAs[Long]("n_coords") == batchReport.getAs[Long]("n_coords"),
      "stream-maintained clip totals must equal the batch report")
    // act: retrain the grid on the full corpus, atomic swap
    val corpus = base.unionByName(drifted)
    val vBefore = ManifestTable.currentVersion(spark, codesRoot)
    val (newStats, vAfter) = ScalarQuantizer.reindex(spark, codesRoot,
      corpus, "id", "vec", dim = 8)
    assert(vAfter > vBefore)
    val snapshot = ManifestTable.read(spark, codesRoot)
    val direct = ScalarQuantizer.encode(corpus, "id", "vec", newStats)
    assert(snapshot.exceptAll(direct).isEmpty && direct.exceptAll(snapshot).isEmpty,
      "swapped index must equal the fresh encode")
    assert(ManifestTable.read(spark, codesRoot, Some(vBefore)).count() == 128,
      "old version stays time-travel readable")
    // the new grid covers the drifted batch: zero clipping
    val recovered = ScalarQuantizer.clipReport(drifted, "vec", newStats).head()
    assert(recovered.getAs[Long]("n_clipped") == 0L,
      s"retrained grid must cover the drifted range: $recovered")
  }

  test("residual-SQ8 lifecycle: residual clip gate fires -> reindexResidual swaps -> clipping stops") {
    import graft.operators.{ManifestTable, ProductQuantizer, ScalarQuantizer}
    import org.apache.spark.sql.Column
    val codesRoot = Files.createTempDirectory("graft_sq8r_codes").resolve("t").toString
    val clipRoot = Files.createTempDirectory("graft_sq8r_clip").resolve("t").toString
    // two clusters on the lead dims so the router has real lists
    def vecs(lo: Int, hi: Int, shift: Double) = (lo until hi).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == (i % 2) * 4) 4.0 else 0.0) + shift + (i % 5) * 0.1 + j * 0.05))
    }.toDF("id", "vec")
    val listOf: Column => Column = v =>
      when(element_at(v, 1) >= element_at(v, 5), 0).otherwise(1)
    val base = vecs(0, 64, 0.0)
    val routedBase = base.withColumn("list", listOf(col("vec")))
    val (cents, rStats) = ScalarQuantizer.trainResidual(routedBase, "vec", "list", 8)
    ScalarQuantizer.reindexResidual(spark, codesRoot, base, "id", "vec", 8, listOf)
    val clipSink = Streams.streamingSq8ResidualClipSink(
      clipRoot, "rclip", "vec", cents, rStats, listOf) _
    clipSink(base, 0L)
    val calm = Streams.currentClipRate(spark, clipRoot, threshold = 0.01).head()
    assert(!calm.getBoolean(4) && calm.getAs[Long]("n_clipped") == 0L,
      s"training-range batches must not clip in residual space: $calm")
    // replayed batch is a no-op (exactly-once through the txn ledger)
    val vReplay = ManifestTable.currentVersion(spark, clipRoot)
    clipSink(base, 0L)
    assert(ManifestTable.currentVersion(spark, clipRoot) == vReplay)
    // a SHIFTED batch drifts every residual out of the residual box
    // (the raw-tier blind spot: per-coordinate raw ranges move little,
    // residual magnitudes move by the full shift)
    val drifted = vecs(64, 128, 1.5)
    clipSink(drifted, 1L)
    val alarmed = Streams.currentClipRate(spark, clipRoot, threshold = 0.01).head()
    assert(alarmed.getBoolean(4), s"residual clip gate must fire: $alarmed")
    // stream-maintained totals equal the from-scratch batch report
    val batchReport = ScalarQuantizer.clipReport(
      ProductQuantizer.residuals(
        base.unionByName(drifted).withColumn("list", listOf(col("vec"))),
        "vec", "list", cents),
      "resid", rStats).head()
    assert(alarmed.getAs[Long]("n_clipped") == batchReport.getAs[Long]("n_clipped")
      && alarmed.getAs[Long]("n_coords") == batchReport.getAs[Long]("n_coords"),
      "stream-maintained residual clip totals must equal the batch report")
    // act: reindexResidual re-solves centroids + grid + codes atomically
    val corpus = base.unionByName(drifted)
    val vBefore = ManifestTable.currentVersion(spark, codesRoot)
    val (newCents, newStats, vAfter) = ScalarQuantizer.reindexResidual(
      spark, codesRoot, corpus, "id", "vec", 8, listOf)
    assert(vAfter > vBefore, "reindexResidual must commit a new version")
    val snapshot = ManifestTable.read(spark, codesRoot)
    val direct = ScalarQuantizer.encode(
      ProductQuantizer.residuals(
        corpus.withColumn("list", listOf(col("vec"))), "vec", "list", newCents),
      "id", "resid", newStats, carryCols = Seq("list"))
    assert(snapshot.exceptAll(direct).isEmpty && direct.exceptAll(snapshot).isEmpty,
      "swapped residual index must equal the fresh residual encode")
    assert(ManifestTable.read(spark, codesRoot, Some(vBefore)).count() == 64,
      "old version stays time-travel readable")
    // the new artifacts cover the drifted batch: zero residual clipping
    val recovered = ScalarQuantizer.clipReport(
      ProductQuantizer.residuals(
        drifted.withColumn("list", listOf(col("vec"))), "vec", "list", newCents),
      "resid", newStats).head()
    assert(recovered.getAs[Long]("n_clipped") == 0L,
      s"retrained residual grid must cover the drifted batch: $recovered")
  }

  test("streamMergeInto: upsert stream is exactly-once under replay; keys converge") {
    import graft.operators.ManifestTable
    val root = Files.createTempDirectory("graft_stream_merge").resolve("t").toString
    ManifestTable.commit(spark, root,
      (0L until 20L).map(i => (i, s"v0_$i")).toDF("k", "v"), Seq("k"))
    val sink = Streams.streamMergeInto(root, "cdc", "k") _
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
    ManifestTable.merge(spark, cow, allUpd, "id")
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
