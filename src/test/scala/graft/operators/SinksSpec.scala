package graft.operators

import java.nio.file.Files

import graft.SparkSuite

class SinksSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString + "/t"

  test("appendInto: create-on-first-load, then append (write_dataframe path)") {
    val path = tmp("append")
    Sinks.appendInto(spark, path, Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(spark.read.parquet(path).count() == 2, "first load dedups + creates")
    Sinks.appendInto(spark, path, Seq((3L, "c")).toDF("id", "v"))
    val t = spark.read.parquet(path)
    assert(t.count() == 3)
    assert(t.columns.contains("record_loaded_at"))
  }

  test("appendInto evolves the table on drift (added column)") {
    val path = tmp("drift")
    Sinks.appendInto(spark, path, Seq((1L, "a")).toDF("id", "v"))
    Sinks.appendInto(spark, path, Seq((2L, "b", 9.5)).toDF("id", "v", "score"))
    val t = spark.read.parquet(path)
    assert(t.columns.contains("score"))
    assert(t.where($"id" === 1L).select($"score").collect().head.isNullAt(0))
    assert(t.where($"id" === 2L).select($"score").as[Double].head() == 9.5)
  }

  test("appendInto type drift lands in the sidecar column") {
    val path = tmp("typedrift")
    Sinks.appendInto(spark, path, Seq((1L, 10)).toDF("id", "v"))
    Sinks.appendInto(spark, path, Seq((2L, "x")).toDF("id", "v"))
    val t = spark.read.parquet(path)
    assert(t.columns.contains("v_string"), t.columns.mkString(","))
    assert(t.where($"id" === 2L).select($"v_string").as[String].head() == "x")
  }

  test("handoff round-trips a stage boundary") {
    val df = Seq((1, "a")).toDF("id", "v")
    val back = Sinks.handoff(spark, df, tmp("handoff"))
    assert(back.collect().toSeq == df.collect().toSeq)
  }

  test("swapInto replaces content atomically-by-rename") {
    val path = tmp("swap")
    Sinks.swapInto(spark, path, Seq((1, "old")).toDF("id", "v"))
    Sinks.swapInto(spark, path, Seq((2, "new")).toDF("id", "v"))
    assert(spark.read.parquet(path).select($"v").as[String].collect().toSeq == Seq("new"))
  }

  test("a crash between swapInto's two renames self-heals on the next WRITE") {
    val path = tmp("swapcrash")
    Sinks.swapInto(spark, path, Seq((1, "live")).toDF("id", "v"))
    // reproduce the crash window exactly: dest has been renamed to .old,
    // the staging->dest rename never happened — no live table on disk
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)), "precondition: dest gone")
    // the probe is PURE (a read-sounding call must not race a concurrent
    // writer's renames — ADVICE r4): it reports the crashed state as-is
    assert(!Sinks.tableExists(spark, path), "probe must not mutate")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + ".old")),
      "probe must leave the backup untouched")
    // the next WRITER owns the repair: appendInto restores the backed-up
    // rows before appending, so nothing is silently dropped
    Sinks.appendInto(spark, path, Seq((2, "next")).toDF("id", "v"))
    assert(spark.read.parquet(path).select($"v").as[String].collect().toSet ==
      Set("live", "next"), "heal must restore the backup, then append")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old")),
      ".old must be consumed by the restore")
  }

  test("swapIntoVersioned publishes via commit marker; readCurrent follows it") {
    val root = tmp("versioned")
    Sinks.swapIntoVersioned(spark, root, Seq((1, "v1")).toDF("id", "v"))
    assert(Sinks.readCurrent(spark, root).select($"v").as[String].collect().toSeq == Seq("v1"))
    Sinks.swapIntoVersioned(spark, root, Seq((2, "v2")).toDF("id", "v"))
    assert(Sinks.readCurrent(spark, root).select($"v").as[String].collect().toSeq == Seq("v2"))
  }

  test("a crash before the commit marker leaves readers on the old version") {
    val root = tmp("vcrash")
    Sinks.swapIntoVersioned(spark, root, Seq((1, "committed")).toDF("id", "v"))
    // simulate a writer that died after writing data but BEFORE the commit
    // point: a bare v-directory with no marker
    Seq((2, "torn")).toDF("id", "v")
      .write.mode("overwrite").parquet(root + "/v00000002")
    assert(Sinks.readCurrent(spark, root).select($"v").as[String].collect().toSeq ==
      Seq("committed"), "uncommitted data must be invisible")
    // the next successful swap reuses the orphan's version slot (overwrite
    // clears the torn files) and its marker makes the new data visible
    Sinks.swapIntoVersioned(spark, root, Seq((3, "v3")).toDF("id", "v"))
    assert(Sinks.readCurrent(spark, root).select($"v").as[String].collect().toSeq == Seq("v3"),
      "the orphan slot's torn files must have been overwritten by the commit")
  }

  test("a reader concurrent with repeated versioned swaps always sees a complete table") {
    // the claim swapIntoVersioned makes over rename-based swapInto: there
    // is NO instant at which a reader resolves to a missing or partial
    // table. Hammer readCurrent from a second thread while the writer
    // publishes 8 versions; every read must return a complete snapshot
    // (all rows of exactly one version), never an error or a torn set.
    // deep retention: a reader mid-scan must survive however many swaps
    // land during its read — that is exactly what keepVersions sizes
    val root = tmp("vconcurrent")
    def swap(v: Int): Unit = Sinks.swapIntoVersioned(
      spark, root, Seq((v, s"v$v"), (v, s"v$v")).toDF("ver", "tag"), keepVersions = 20)
    swap(0)
    @volatile var writerDone = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!writerDone) {
        try {
          val vers = Sinks.readCurrent(spark, root)
            .select($"tag").as[String].collect().toSeq
          if (vers.size != 2 || vers.distinct.size != 1)
            failures.add(s"torn read: $vers")
          reads.incrementAndGet()
        } catch {
          case e: Exception => failures.add(s"reader error: ${e.getMessage}")
        }
      }
    })
    reader.start()
    for (v <- 1 to 8) swap(v)
    writerDone = true
    reader.join(30000)
    assert(failures.isEmpty, s"concurrent reads failed: ${failures.toArray.mkString("; ")}")
    assert(reads.get() > 0, "the reader must have actually raced the writer")
    assert(Sinks.readCurrent(spark, root).select($"tag").as[String].collect().toSet == Set("v8"))
  }

  test("time travel: readVersion resolves retained versions, rejects GC'd ones") {
    val root = tmp("vtravel")
    (1 to 3).foreach { i =>
      Sinks.swapIntoVersioned(spark, root,
        Seq((i, s"v$i")).toDF("id", "v"), keepVersions = 3)
    }
    assert(Sinks.listVersions(spark, root) == Seq(1L, 2L, 3L))
    assert(Sinks.readVersion(spark, root, 2L).select($"v").as[String].collect().toSeq == Seq("v2"))
    Sinks.swapIntoVersioned(spark, root, Seq((4, "v4")).toDF("id", "v"), keepVersions = 3)
    assert(Sinks.listVersions(spark, root) == Seq(2L, 3L, 4L), "v1 left the horizon")
    intercept[IllegalArgumentException] { Sinks.readVersion(spark, root, 1L) }
  }

  test("versioned retention: latest two versions kept, older GC'd") {
    val root = tmp("vgc")
    (1 to 4).foreach { i =>
      Sinks.swapIntoVersioned(spark, root, Seq((i, s"v$i")).toDF("id", "v"))
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root + "/v00000004")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root + "/v00000003")),
      "previous version stays readable for in-flight readers")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "/v00000002")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "/_commit_00000002")))
    assert(Sinks.readCurrent(spark, root).select($"v").as[String].collect().toSeq == Seq("v4"))
  }

  /** Two versions whose schemas carry a non-nullable column, a nested
    * struct, an array, a timestamp and field metadata.
    */
  private def storedSchemaTable(): String = {
    val root = tmp("vschema")
    val md = new org.apache.spark.sql.types.MetadataBuilder().putString("comment", "title").build()
    (1 to 2).foreach { i =>
      Sinks.swapIntoVersioned(spark, root, Seq((i.toLong, s"v$i", Seq(i, i + 1), i * 0.5)).toDF("id", "v", "xs", "d")
        .select($"id", $"v".as("v", md), $"xs", org.apache.spark.sql.functions.struct($"v", $"d").as("s"),
          org.apache.spark.sql.functions.timestamp_seconds($"id").as("ts")))
    }
    root
  }

  test("versioned reads use the stored schema: identical to inference, no job") {
    val root = storedSchemaTable()
    val dirs = Seq(1L, 2L).map(v => f"$root/v$v%08d")
    dirs.foreach(d => assert(new java.io.File(d, "_graft_schema.json").isFile))
    val inferred = dirs.map(d => spark.read.parquet(d).schema)
    val ((current, v1), jobs) = graft.Jobs.counted(spark) {
      (Sinks.readCurrent(spark, root), Sinks.readVersion(spark, root, 1L))
    }
    assert(jobs == 0, s"versioned reads submitted $jobs job(s) before an action")
    assert(current.schema == inferred(1) && current.schema.json == inferred(1).json)
    assert(v1.schema == inferred(0) && v1.schema.json == inferred(0).json)
    assert(current.schema("v").metadata.getString("comment") == "title")
    assert(current.select($"v").as[String].collect().toSeq == Seq("v2"))
    assert(v1.select($"s.d").as[Double].collect().toSeq == Seq(0.5))
  }

  test("a version written without a stored schema still reads (inferred)") {
    val root = storedSchemaTable()
    (1 to 2).foreach(v => assert(new java.io.File(f"$root/v$v%08d", "_graft_schema.json").delete()))
    val inferred = spark.read.parquet(f"$root/v00000002").schema
    assert(Sinks.readCurrent(spark, root).schema == inferred)
    assert(Sinks.readCurrent(spark, root).select($"v").as[String].collect().toSeq == Seq("v2"))
    assert(Sinks.readVersion(spark, root, 1L).select($"id").as[Long].collect().toSeq == Seq(1L))
  }

  test("upsertInto aligns a drifted batch before merging (added column)") {
    val path = tmp("upsertdrift")
    Sinks.upsertInto(spark, path, Seq((1L, 1L, "a"), (2L, 1L, "b"))
      .toDF("id", "seq", "v"), pk = Seq("id"), orderCols = Seq("seq"))
    // the batch carries a new column: key 2 changes, key 3 is new
    Sinks.upsertInto(spark, path, Seq((2L, 2L, "b2", 7.5), (3L, 1L, "c", 1.0))
      .toDF("id", "seq", "v", "score"), pk = Seq("id"), orderCols = Seq("seq"))
    val t = spark.read.parquet(path)
    assert(t.columns.toSeq == Seq("id", "seq", "v", "record_loaded_at", "score"))
    val rows = t.select($"id", $"v", $"score").as[(Long, String, Option[Double])]
      .collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b2", Some(7.5)), (3L, "c", Some(1.0))))
  }

  test("upsertInto audit-stamps each load; an unchanged row keeps its first stamp") {
    val path = tmp("upsertstamp")
    def stamps = spark.read.parquet(path)
      .select($"id", $"record_loaded_at").as[(Long, java.sql.Timestamp)].collect().toMap
    Sinks.upsertInto(spark, path, Seq((1L, 1L, "a"), (2L, 1L, "b"))
      .toDF("id", "seq", "v"), pk = Seq("id"), orderCols = Seq("seq"))
    val first = stamps
    assert(first.keySet == Set(1L, 2L) && first.values.forall(_ != null), s"first load: $first")
    Thread.sleep(10) // the second load's clock reads strictly later
    // key 1 re-sent unchanged, key 2 changed, key 3 new
    Sinks.upsertInto(spark, path, Seq((1L, 1L, "a"), (2L, 2L, "b2"), (3L, 1L, "c"))
      .toDF("id", "seq", "v"), pk = Seq("id"), orderCols = Seq("seq"))
    val second = stamps
    assert(second(1L) == first(1L), s"unchanged row must keep its first stamp: $first -> $second")
    assert(second(2L).after(first(2L)), s"changed row must take the new stamp: $first -> $second")
    assert(second(3L) == second(2L), s"one load, one stamp: $second")
  }
}
