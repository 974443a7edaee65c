package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType, LeftOuter}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

import graft.{Jobs, SparkSuite}

class ManifestTableSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_manifest").resolve("t").toString

  private def docs(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"doc_$i", i * 10.0)).toDF("id", "name", "score")

  test("optimizeZOrder: both-dim pruning appears, rows and history intact") {
    val root = freshRoot()
    // two independent 64x64 dims, committed range-clustered on id so
    // both x and y are scattered across every file
    val in = (0 until 4096).map { i =>
      (i.toLong, (i % 64).toLong, (i * 7919 % 64).toLong)
    }.toDF("id", "x", "y")
    ManifestTable.commit(spark, root,
      in.repartitionByRange(16, col("id")).sortWithinPartitions("id"),
      Seq("id", "x", "y"))
    def boxFiles(): (Int, Int) = {
      val sx = ManifestTable.scanBox(spark, root,
        "x", Some("0"), Some("7"), "y", None, None)
      val sy = ManifestTable.scanBox(spark, root,
        "y", Some("0"), Some("7"), "x", None, None)
      (sx.filesScanned, sy.filesScanned)
    }
    val (preX, preY) = boxFiles()
    assert(preX == 16 && preY == 16,
      s"pre-optimize, both dims must be scattered over all files: $preX, $preY")
    val v2 = ManifestTable.optimizeZOrder(spark, root, "x", "y", 16)
    assert(v2 == 2L)
    val (postX, postY) = boxFiles()
    assert(postX < 16 && postY < 16,
      s"z-order must make BOTH single-dim boxes prune: $postX, $postY")
    // answer-invisible: full content identical, box content identical
    assert(ManifestTable.read(spark, root).orderBy("id").collect().toSeq ==
      in.orderBy("id").collect().toSeq)
    val box = ManifestTable.scanBox(spark, root,
        "x", Some("0"), Some("7"), "y", Some("0"), Some("7"))
      .df.where(col("x") <= 7 && col("y") <= 7)
    assert(box.count() == in.where(col("x") <= 7 && col("y") <= 7).count())
    // history intact: v1 still time-travels with the full row set
    assert(ManifestTable.read(spark, root, Some(1L)).count() == 4096L)
  }

  test("scanBox: all-null-stats file skipped; argument guards") {
    val root = freshRoot()
    val withNulls = Seq((1L, Some(5L)), (2L, None: Option[Long]))
      .toDF("id", "x").withColumn("y", col("id"))
    ManifestTable.commit(spark, root,
      withNulls.where(col("x").isNotNull).coalesce(1), Seq("x", "y"))
    ManifestTable.commit(spark, root,
      withNulls.where(col("x").isNull).coalesce(1), Seq("x", "y"),
      append = true)
    val s = ManifestTable.scanBox(spark, root,
      "x", Some("0"), Some("10"), "y", None, None)
    assert(s.filesScanned == 1 && s.filesTotal == 2,
      "the all-null-x file cannot match a range predicate")
    intercept[IllegalArgumentException] {
      ManifestTable.scanBox(spark, root, "id", Some("0"), None, "x", None, None)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.optimizeZOrder(spark, root, "x", "x", 4)
    }
  }

  test("buildBloomIndex + scanKeys: needle pruning, no false skips, unindexed kept") {
    val root = freshRoot()
    // u = odd-multiplier permutation of 0..4095: perfectly scattered
    // relative to the id clustering, so min/max stats prune NOTHING
    val in = (0 until 4096).map(i => (i.toLong, (i.toLong * 7919) % 4096))
      .toDF("id", "u")
    ManifestTable.commit(spark, root,
      in.repartitionByRange(16, col("id")).sortWithinPartitions("id"),
      Seq("id"))
    val v2 = ManifestTable.buildBloomIndex(spark, root, "u", numBits = 1 << 14)
    assert(v2 == 2L)
    val s = ManifestTable.scanKeys(spark, root, "u", Seq(5L))
    assert(s.filesTotal == 16 && s.filesScanned < 8,
      s"a 1-of-4096 needle must prune most files: $s")
    assert(s.df.where(col("u") === 5L).count() == 1L, "no false skip")
    // a column without an index keeps every file
    val noIdx = ManifestTable.scanKeys(spark, root, "id", Seq(5L))
    assert(noIdx.filesScanned == 16, "unindexed column must not prune")
    // an append AFTER the index has no bloom: its file is always kept
    ManifestTable.commit(spark, root,
      Seq((90001L, 90001L)).toDF("id", "u").coalesce(1), Seq("id"),
      append = true)
    val s3 = ManifestTable.scanKeys(spark, root, "u", Seq(-12345L))
    assert(s3.filesTotal == 17 && s3.filesScanned >= 1 && s3.filesScanned < 17,
      s"absent key: indexed files prune, the unindexed appendee stays: $s3")
    assert(s3.df.where(col("id") === 90001L).count() == 1L,
      "the unindexed file's rows must remain reachable")
    // INCREMENTAL refresh: only the unindexed appendee is scanned; the
    // absent-key probe then prunes every file, and the appended key's
    // needle reads exactly its one file
    val v4 = ManifestTable.buildBloomIndex(spark, root, "u",
      numBits = 1 << 14, incremental = true)
    val s4 = ManifestTable.scanKeys(spark, root, "u", Seq(-12345L))
    assert(s4.filesScanned == 0, s"all 17 files now indexed and prunable: $s4")
    val s5 = ManifestTable.scanKeys(spark, root, "u", Seq(90001L))
    assert(s5.filesScanned < 5 &&
      s5.df.where(col("id") === 90001L).count() == 1L,
      s"the appendee's key must resolve through its fresh bloom: $s5")
    // already-complete index: incremental build is a no-op, no commit
    assert(ManifestTable.buildBloomIndex(spark, root, "u",
      numBits = 1 << 14, incremental = true) == v4)
    // the index commit is row-faithful: changes() may cross it
    assert(ManifestTable.changes(spark, root, 1L, v2).count() == 0L)
    // time travel BEFORE the index still reads clean
    assert(ManifestTable.read(spark, root, Some(1L)).count() == 4096L)
    intercept[IllegalArgumentException] {
      ManifestTable.buildBloomIndex(spark, root, "u", numBits = 100)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.buildBloomIndex(spark, root, "missing")
    }
  }

  test("commit + read round-trips the batch exactly") {
    val root = freshRoot()
    val in = docs(500)
    val v = ManifestTable.commit(spark, root, in, Seq("id", "score"))
    assert(v == 1L)
    val back = ManifestTable.read(spark, root)
    // parquet round-trip relaxes nullability; names and types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      in.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq == in.orderBy("id").collect().toSeq)
  }

  test("append commit extends the snapshot; old version still time-travels") {
    val root = freshRoot()
    val v1 = ManifestTable.commit(spark, root, docs(100), Seq("id"))
    val v2 = ManifestTable.commit(spark, root, docs(50, from = 100), Seq("id"), append = true)
    assert(ManifestTable.listVersions(spark, root) == Seq(1L, 2L))
    assert(ManifestTable.read(spark, root, Some(v1)).count() == 100)
    assert(ManifestTable.read(spark, root, Some(v2)).count() == 150)
    assert(ManifestTable.currentVersion(spark, root) == 2L)
  }

  test("overwrite commit logically truncates but keeps history readable") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(100), Seq("id"))
    ManifestTable.commit(spark, root, docs(10, from = 900), Seq("id"))
    assert(ManifestTable.read(spark, root).count() == 10)
    assert(ManifestTable.read(spark, root, Some(1L)).count() == 100)
  }

  test("append with a drifted schema fails fast") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(10), Seq("id"))
    val drifted = docs(10, from = 10).withColumn("extra", lit(1))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root, drifted, Seq("id"), append = true)
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("scanRange prunes files by min/max stats without changing results") {
    val root = freshRoot()
    // range-cluster so each of the 8 files owns a disjoint id range
    val in = docs(4000).repartitionByRange(8, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    val pruned = ManifestTable.scanRange(spark, root, "id", Some("1000"), Some("1499"))
    assert(pruned.filesTotal == 8)
    assert(pruned.filesScanned < pruned.filesTotal,
      s"expected skipping, scanned ${pruned.filesScanned}/${pruned.filesTotal}")
    val exact = pruned.df.where(col("id").between(1000, 1499))
    val full = ManifestTable.read(spark, root).where(col("id").between(1000, 1499))
    assert(exact.orderBy("id").collect().toSeq == full.orderBy("id").collect().toSeq)
    assert(exact.count() == 500)
  }

  test("scanRange skips all-null-stats files and open bounds work") {
    val root = freshRoot()
    val withNulls = Seq[(java.lang.Long, String)]((null, "a"), (null, "b"))
      .toDF("id", "name").withColumn("score", lit(null).cast("double"))
      .select(col("id").cast("long"), col("name"), col("score"))
    val typed = docs(100).unionByName(withNulls.as[(Long, String, Double)].toDF("id", "name", "score"))
    ManifestTable.commit(spark, root,
      typed.repartitionByRange(4, col("id")).sortWithinPartitions("id"), Seq("id"))
    val open = ManifestTable.scanRange(spark, root, "id", Some("50"), None)
    val got = open.df.where(col("id") >= 50)
    assert(got.count() == 50)
  }

  test("changes between appends yields exactly the added rows") {
    val root = freshRoot()
    val v1 = ManifestTable.commit(spark, root, docs(100), Seq("id"))
    val v2 = ManifestTable.commit(spark, root, docs(30, from = 100), Seq("id"), append = true)
    val v3 = ManifestTable.commit(spark, root, docs(20, from = 130), Seq("id"), append = true)
    val delta = ManifestTable.changes(spark, root, v1, v3)
    assert(delta.agg(min("id"), max("id"), count(lit(1))).collect().head ==
      Row(100L, 149L, 50L))
    assert(ManifestTable.changes(spark, root, v2, v3).count() == 20)
  }

  test("changes across an overwrite fails fast") {
    val root = freshRoot()
    val v1 = ManifestTable.commit(spark, root, docs(10), Seq("id"))
    ManifestTable.commit(spark, root, docs(5), Seq("id")) // overwrite
    val v3 = ManifestTable.commit(spark, root, docs(5, from = 5), Seq("id"), append = true)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, root, v1, v3)
    }
    assert(e.getMessage.contains("non-append"))
  }

  test("crashed commit (data written, manifest never published) is invisible and vacuumed") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(100), Seq("id"))
    // simulate a crash: batch dir for v2 exists, no manifest-00000002.json
    docs(10, from = 100).write.parquet(s"$root/data/b00000002")
    assert(ManifestTable.currentVersion(spark, root) == 1L)
    assert(ManifestTable.read(spark, root).count() == 100)
    ManifestTable.vacuum(spark, root, keepVersions = 2)
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/data/b00000002")))
    assert(ManifestTable.read(spark, root).count() == 100)
  }

  test("vacuum drops history outside retention but keeps shared files of retained versions") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(100), Seq("id"))               // v1
    ManifestTable.commit(spark, root, docs(30, from = 100), Seq("id"), append = true) // v2
    ManifestTable.commit(spark, root, docs(20, from = 130), Seq("id"), append = true) // v3
    ManifestTable.vacuum(spark, root, keepVersions = 2)
    assert(ManifestTable.listVersions(spark, root) == Seq(2L, 3L))
    // v2 and v3 still read fully: v1's files are SHARED into them and must survive
    assert(ManifestTable.read(spark, root, Some(2L)).count() == 130)
    assert(ManifestTable.read(spark, root, Some(3L)).count() == 150)
    intercept[IllegalArgumentException] {
      ManifestTable.read(spark, root, Some(1L))
    }
  }

  test("compact merges small files into a new snapshot, preserves rows and skipping") {
    val root = freshRoot()
    // three append commits -> many small files
    ManifestTable.commit(spark, root,
      docs(1000).repartitionByRange(4, col("id")).sortWithinPartitions("id"), Seq("id"))
    ManifestTable.commit(spark, root,
      docs(1000, from = 1000).repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      Seq("id"), append = true)
    val before = ManifestTable.scanRange(spark, root, "id", Some("0"), Some("10"))
    val v = ManifestTable.compact(spark, root, targetBytes = 10L * 1024 * 1024)
    val after = ManifestTable.scanRange(spark, root, "id", Some("0"), Some("10"))
    assert(ManifestTable.read(spark, root).count() == 2000)
    assert(after.filesTotal < before.filesTotal,
      s"expected fewer files after compaction: ${after.filesTotal} vs ${before.filesTotal}")
    assert(after.df.where(col("id") <= 10).count() == 11)
    // pre-compaction snapshot still time-travels
    assert(ManifestTable.read(spark, root, Some(v - 1)).count() == 2000)
  }

  test("optimizeZOrder 3-dim: every dimension prunes files via scanBoxN") {
    val root = freshRoot()
    val in = (0 until 4096).map { i =>
      (i.toLong, (i % 64).toLong, (i * 7919 % 64).toLong, (i * 104729 % 64).toLong)
    }.toDF("id", "x", "y", "w")
    ManifestTable.commit(spark, root,
      in.repartitionByRange(16, col("id")).sortWithinPartitions("id"),
      Seq("id", "x", "y", "w"))
    ManifestTable.optimizeZOrder(spark, root, Seq("x", "y", "w"), 16)
    Seq("x", "y", "w").foreach { c =>
      val s = ManifestTable.scanBoxN(spark, root,
        Seq((c, Some("0"), Some("7"))))
      assert(s.filesScanned < s.filesTotal,
        s"no file pruned on $c: ${s.filesScanned}/${s.filesTotal}")
    }
    // triple-range scan returns the superset; exact predicate intact
    val box = ManifestTable.scanBoxN(spark, root, Seq(
      ("x", Some("0"), Some("7")), ("y", Some("0"), Some("7")),
      ("w", Some("0"), Some("7"))))
    val exact = box.df.where(col("x") <= 7 && col("y") <= 7 && col("w") <= 7).count()
    val want = in.where(col("x") <= 7 && col("y") <= 7 && col("w") <= 7).count()
    assert(exact == want, s"3-dim box scan dropped rows: $exact vs $want")
  }

  test("concurrent append commits: distinct versions, no batch lost, no row duplicated") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(10), Seq("id"))
    val racers = (0 until 4).map { i =>
      Future {
        ManifestTable.commit(spark, root, docs(10, from = 10 + i * 10),
          Seq("id"), append = true, maxRetries = 50)
      }
    }
    val versions = Await.result(Future.sequence(racers), 180.seconds)
    assert(versions.toSet.size == 4, s"each racer its own version: $versions")
    val finalTable = ManifestTable.read(spark, root)
    assert(finalTable.count() == 50, "every batch must land in the final snapshot")
    assert(finalTable.select("id").distinct().count() == 50, "no row duplicated")
    // every racer's snapshot contains its own batch plus all predecessors'
    versions.sorted.zipWithIndex.foreach { case (v, i) =>
      assert(ManifestTable.read(spark, root, Some(v)).count() >= 10L * (i + 2),
        s"version $v dropped a predecessor's files")
    }
  }

  test("concurrent commit stress: 50 iterations of 4 racers, no crash, no lost batch") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // tiny batches keep each iteration cheap; the contention pattern
    // (4 same-JVM writers racing the claim->publish window) is what
    // the monitor + lost-rename retry path must survive every time
    (0 until 50).foreach { iter =>
      val root = freshRoot()
      val racers = (0 until 4).map { i =>
        Future {
          ManifestTable.commit(spark, root, docs(2, from = i * 2),
            Seq("id"), append = true, maxRetries = 50)
        }
      }
      val versions = Await.result(Future.sequence(racers), 120.seconds)
      assert(versions.toSet.size == 4, s"iter $iter: distinct versions, got $versions")
      assert(ManifestTable.read(spark, root).select("id").distinct().count() == 8,
        s"iter $iter: every batch in the final snapshot, none duplicated")
    }
  }

  test("txn-stamped commit is idempotent: replayed batchIds are skipped") {
    val root = freshRoot()
    val v0 = ManifestTable.commit(spark, root, docs(10), Seq("id"),
      append = true, txn = Some("app_a" -> 0L))
    val v1 = ManifestTable.commit(spark, root, docs(10, from = 10), Seq("id"),
      append = true, txn = Some("app_a" -> 1L))
    assert(v1 > v0)
    // replay of batch 1 (restart after un-checkpointed sink effect)
    val vReplay = ManifestTable.commit(spark, root, docs(10, from = 10), Seq("id"),
      append = true, txn = Some("app_a" -> 1L))
    assert(vReplay == v1, "replay must point at the version that already has the rows")
    assert(ManifestTable.currentVersion(spark, root) == v1, "replay must not advance the log")
    assert(ManifestTable.read(spark, root).count() == 20, "no duplicated rows")
    // a DIFFERENT app's batch 1 is not a replay
    val vOther = ManifestTable.commit(spark, root, docs(5, from = 100), Seq("id"),
      append = true, txn = Some("app_b" -> 1L))
    assert(vOther > v1)
    assert(ManifestTable.read(spark, root).count() == 25)
    // and app_a's next batch applies normally
    ManifestTable.commit(spark, root, docs(5, from = 200), Seq("id"),
      append = true, txn = Some("app_a" -> 2L))
    assert(ManifestTable.read(spark, root).count() == 30)
  }

  test("txn high-water mark survives compaction (restart after compact still dedups)") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(10), Seq("id"),
      append = true, txn = Some("stream" -> 7L))
    ManifestTable.compact(spark, root, targetBytes = 1L << 30)
    val vReplay = ManifestTable.commit(spark, root, docs(10), Seq("id"),
      append = true, txn = Some("stream" -> 7L))
    assert(vReplay == ManifestTable.currentVersion(spark, root))
    assert(ManifestTable.read(spark, root).count() == 10, "replay after compact must be skipped")
  }

  test("streamInto lands each micro-batch exactly once under at-least-once delivery") {
    val root = freshRoot()
    val sink = ManifestTable.streamInto(root, "ingest", Seq("id")) _
    sink(docs(10), 0L)
    sink(docs(10, from = 10), 1L)
    sink(docs(10, from = 10), 1L) // foreachBatch replay after restart
    sink(docs(10, from = 20), 2L)
    val t = ManifestTable.read(spark, root)
    assert(t.count() == 30)
    assert(t.select("id").distinct().count() == 30)
  }

  test("streamInto with mergeSchema: a drifting stream evolves instead of failing") {
    val root = freshRoot()
    val sink = ManifestTable.streamInto(root, "ingest", Seq("id"),
      mergeSchema = true) _
    sink(docs(10), 0L)
    // batch 1 adds a column; batch 2 retypes score -> sidecar
    sink(docs(10, from = 10).withColumn("extra", lit(7L)), 1L)
    sink(docs(10, from = 20).withColumn("score", col("score").cast("string")), 2L)
    val t = ManifestTable.read(spark, root)
    assert(t.columns.toSeq == Seq("id", "name", "score", "extra", "score_string"))
    assert(t.count() == 30)
    assert(t.where(col("extra").isNotNull).count() == 10)
    assert(t.where(col("score_string").isNotNull).count() == 10)
    assert(t.where(col("score").isNotNull).count() == 20)
    // strict default still fails fast on drift
    val strict = ManifestTable.streamInto(root, "ingest2", Seq("id")) _
    intercept[IllegalArgumentException] {
      strict(docs(5, from = 40).withColumn("another", lit(1)), 3L)
    }
  }

  test("merge rewrites only files that hold a matching key; untouched files carry by reference") {
    val root = freshRoot()
    val in = docs(4000).repartitionByRange(8, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    val before = ManifestTable.listFiles(spark, root)
    // updates hit one narrow key range + insert brand-new keys
    val updates = docs(50, from = 1000).withColumn("score", col("score") + 1)
      .unionByName(docs(10, from = 9000))
    val cow = ManifestTable.merge(spark, root, updates, Seq("id"))
    assert(cow.filesRewritten <= 2,
      s"a 50-key range on 8 range-clustered files must touch few: $cow")
    assert(cow.filesKept >= 6, s"$cow")
    val after = ManifestTable.listFiles(spark, root)
    assert(before.intersect(after).size == cow.filesKept,
      "kept files must be the SAME paths, not rewritten copies")
    val t = ManifestTable.read(spark, root)
    assert(t.count() == 4010)
    // updated rows carry the new score, untouched rows the old one
    val updated = t.where(col("id").between(1000, 1049))
    assert(updated.where(col("score") === col("id") * 10 + 1).count() == 50)
    assert(t.where(col("id") === 500 && col("score") === 5000).count() == 1)
    assert(t.where(col("id") >= 9000).count() == 10)
    // merge rewrites history: the changes feed refuses to cross it
    val e = intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, root, 1L, cow.version)
    }
    assert(e.getMessage.contains("non-append"))
  }

  /** The joins in `plan`, with whether each one broadcasts a side. */
  private def joins(plan: SparkPlan): Seq[(JoinType, Boolean)] = plan match {
    case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
    case q: QueryStageExec => joins(q.plan)
    case j: BaseJoinExec =>
      (j.joinType, j.isInstanceOf[BroadcastHashJoinExec]) +: j.children.flatMap(joins)
    case p => p.children.flatMap(joins)
  }

  /** The joins of every query `body` runs. */
  private def joinsOf(body: => Unit): Seq[(JoinType, Boolean)] = {
    val seen = new ConcurrentLinkedQueue[(JoinType, Boolean)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.addAll(joins(qe.executedPlan).asJava)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // Jobs.counted drains the listener bus, so every event has arrived
    try Jobs.counted(spark)(body) finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("merge broadcasts a batch small beside the touched files and shuffle-joins a large one") {
    val root = freshRoot()
    ManifestTable.commit(spark, root,
      docs(4000).repartitionByRange(8, col("id")).sortWithinPartitions("id"), Seq("id"))
    // 50 keys in one 500-row file: broadcast, no full outer join
    val small = joinsOf(ManifestTable.merge(spark, root,
      docs(50, from = 1000).withColumn("score", col("score") + 1), Seq("id")))
    assert(small.contains((LeftOuter, true)) &&
      !small.exists(_._1 == FullOuter), s"$small")
    // every row changes: the batch is as large as the files it touches
    val large = joinsOf(ManifestTable.merge(spark, root,
      ManifestTable.read(spark, root).withColumn("score", col("score") + 2), Seq("id")))
    assert(large.contains((FullOuter, false)), s"$large")
    // a disabled broadcast budget shuffles even a small batch
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val noBudget =
      try joinsOf(ManifestTable.merge(spark, root,
        docs(10, from = 2000).withColumn("score", col("score") + 3), Seq("id")))
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(noBudget.contains((FullOuter, false)), s"$noBudget")
    val t = ManifestTable.read(spark, root)
    assert(t.count() == 4000)
    // 1000..1049 took +1 then +2; 2000..2009 took +2 then +3
    assert(t.where(col("score") === col("id") * 10 + 3).count() == 60)
    assert(t.where(col("score") === col("id") * 10 + 2).count() == 3940)
  }

  test("merge with no matching or overlapping keys is append-shaped (zero rewrites)") {
    val root = freshRoot()
    val in = docs(1000).repartitionByRange(4, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    val cow = ManifestTable.merge(spark, root, docs(10, from = 5000), Seq("id"))
    assert(cow.filesRewritten == 0 && cow.filesKept == 4, s"$cow")
    assert(ManifestTable.read(spark, root).count() == 1010)
    // and an empty updates frame is a no-op that commits nothing
    val noop = ManifestTable.merge(spark, root, docs(0), Seq("id"))
    assert(noop.version == cow.version && noop.filesRewritten == 0)
  }

  test("merge with a drifted schema fails fast") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(10), Seq("id"))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, docs(5).withColumn("extra", lit(1)), Seq("id"))
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("merge with mergeSchema: additive evolution, untouched files read NULL") {
    val root = freshRoot()
    val in = docs(4000).repartitionByRange(8, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    // updates hit one narrow key range and carry a NEW column; inserts too
    val updates = docs(50, from = 1000)
      .withColumn("score", col("score") + 1)
      .withColumn("grade", col("id") % 3)
      .unionByName(docs(10, from = 9000).withColumn("grade", col("id") % 3))
    val cow = ManifestTable.merge(spark, root, updates, Seq("id"), mergeSchema = true)
    assert(cow.filesRewritten <= 2 && cow.filesKept >= 6, s"$cow")
    val t = ManifestTable.read(spark, root)
    assert(t.columns.contains("grade"), "snapshot schema must gain the column")
    assert(t.count() == 4010)
    // untouched files AND rewritten survivors read NULL for the new column
    assert(t.where(col("grade").isNotNull).count() == 60)
    assert(t.where(col("id") === 5L).select(col("grade")).head().isNullAt(0))
    // updated rows carry both the new value and the new column
    val u = t.where(col("id") === 1000L).head()
    assert(u.getAs[Double]("score") == 10001.0 &&
      u.getAs[Long]("grade") == 1000L % 3, s"got $u")
    // retypes still rejected even under mergeSchema
    val e = intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root,
        docs(5).withColumn("score", lit("oops")).withColumn("grade", col("id") % 3),
        Seq("id"), mergeSchema = true)
    }
    assert(e.getMessage.toLowerCase.contains("retyp") ||
      e.getMessage.toLowerCase.contains("type"), s"got ${e.getMessage}")
    // pre-evolution snapshot still time-travels with the narrow schema
    assert(!ManifestTable.read(spark, root, Some(1L)).columns.contains("grade"))
  }

  test("deleteRange drops fully-covered files from metadata alone and keeps NULLs") {
    val root = freshRoot()
    // 8 disjoint id-range files over 0..3999 plus NULL-score rows
    val withNulls = docs(4000)
      .withColumn("score", when(col("id") % 100 === 0, lit(null)).otherwise(col("score")))
    val in = withNulls.repartitionByRange(8, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    // delete ids 500..2499: middle files fully covered, edges straddle
    val cow = ManifestTable.deleteRange(spark, root, "id", Some("500"), Some("2499"))
    assert(cow.filesDropped >= 2,
      s"interior files must be dropped without any IO: $cow")
    assert(cow.filesRewritten <= 2, s"only boundary files rewrite: $cow")
    assert(cow.filesKept + cow.filesDropped + cow.filesRewritten == 8)
    val t = ManifestTable.read(spark, root)
    assert(t.count() == 2000)
    assert(t.where(col("id").between(500, 2499)).count() == 0)
    // NULL-score rows outside the id range are untouched by an id delete
    assert(t.where(col("score").isNull).count() ==
      withNulls.where(col("score").isNull && !col("id").between(500, 2499)).count())
  }

  test("deleteRange on the stats column keeps NULL rows of that column (NOT-BETWEEN would eat them)") {
    val root = freshRoot()
    val in = docs(100)
      .withColumn("score", when(col("id") < 10, lit(null)).otherwise(col("score")))
    ManifestTable.commit(spark, root, in, Seq("score"))
    val cow = ManifestTable.deleteRange(spark, root, "score", Some("100"), None)
    assert(ManifestTable.read(spark, root).where(col("score").isNull).count() == 10,
      s"NULLs are outside every range and must survive: $cow")
    assert(ManifestTable.read(spark, root).count() == 10)
  }

  // ---------------------------------------------------- schema evolution

  test("mergeSchema append adds a column; pre-evolution files read NULL for it") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(10), Seq("id"))
    val evolved = docs(5, from = 10)
      .withColumn("lang", concat(lit("l"), (col("id") % 2).cast("string")))
    val v2 = ManifestTable.commit(spark, root, evolved, Seq("id"),
      append = true, mergeSchema = true)
    val back = ManifestTable.read(spark, root)
    assert(back.columns.toSeq == Seq("id", "name", "score", "lang"))
    assert(back.count() == 15)
    assert(back.where(col("lang").isNull).count() == 10)
    assert(back.where(col("id") >= 10 && col("lang").isNotNull).count() == 5)
    // time travel keeps the pre-evolution narrow schema
    assert(ManifestTable.read(spark, root, Some(1L)).columns.toSeq ==
      Seq("id", "name", "score"))
    assert(v2 == 2L)
  }

  test("mergeSchema append may omit existing columns; its files read NULL for them") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(10), Seq("id"))
    ManifestTable.commit(spark, root, docs(5, from = 10).drop("score"),
      Seq("id"), append = true, mergeSchema = true)
    val back = ManifestTable.read(spark, root)
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    assert(back.where(col("score").isNull).count() == 5)
    assert(back.where(col("score").isNotNull).count() == 10)
  }

  test("mergeSchema evolves a retyped column into its sidecar; strict append still rejects new columns") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(10), Seq("id"))
    // int->string drift on score: the drifted batch lands in score_string,
    // the original double column keeps its type and reads NULL for the
    // drifted rows; pre-drift files read NULL for the sidecar
    val retyped = docs(5, from = 10).withColumn("score", col("score").cast("string"))
    val v2 = ManifestTable.commit(spark, root, retyped, Seq("id"),
      append = true, mergeSchema = true)
    val out = ManifestTable.read(spark, root)
    assert(out.columns.toSeq == Seq("id", "name", "score", "score_string"))
    assert(out.count() == 15)
    assert(out.where(col("score").isNotNull).count() == 10,
      "original column carries only pre-drift rows")
    assert(out.where(col("score_string").isNotNull).count() == 5,
      "sidecar carries exactly the drifted rows")
    assert(out.where(col("id") === 12L).select("score_string").head.getString(0) == "120.0")
    // time travel: the pre-drift snapshot is untouched
    assert(ManifestTable.read(spark, root, Some(1L)).columns.toSeq ==
      Seq("id", "name", "score"))
    // a second drifted append reuses the SAME sidecar (no new column)
    ManifestTable.commit(spark, root,
      docs(3, from = 20).withColumn("score", col("score").cast("string")),
      Seq("id"), append = true, mergeSchema = true)
    val out2 = ManifestTable.read(spark, root)
    assert(out2.columns.toSeq == Seq("id", "name", "score", "score_string"))
    assert(out2.where(col("score_string").isNotNull).count() == 8)
    assert(v2 == 2L)
    val widened = docs(5, from = 30).withColumn("extra", lit(1))
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root, widened, Seq("id"), append = true)
    }
    assert(e2.getMessage.contains("mergeSchema"))
  }

  // ----------------------------------------------------- merge-on-read

  test("deleteKeysMor removes keys without touching any data file; time travel sees them") {
    val root = freshRoot()
    val in = docs(400).repartitionByRange(8, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    val before = ManifestTable.listFiles(spark, root)
    val st = ManifestTable.deleteKeysMor(spark, root,
      Seq(3L, 7L, 150L).toDF("id"), "id")
    assert(st.filesRewritten == 0 && st.filesDropped == 0)
    assert(ManifestTable.listFiles(spark, root) == before,
      "a MOR delete must not rewrite or drop data files")
    val now = ManifestTable.read(spark, root)
    assert(now.count() == 397)
    assert(now.where(col("id").isin(3L, 7L, 150L)).count() == 0)
    assert(ManifestTable.read(spark, root, Some(1L)).count() == 400)
    // an empty key set is a no-op: no new version
    val v = ManifestTable.currentVersion(spark, root)
    ManifestTable.deleteKeysMor(spark, root, Seq.empty[Long].toDF("id"), "id")
    assert(ManifestTable.currentVersion(spark, root) == v)
  }

  test("rows appended after a MOR delete keep a tombstoned key (file-scoped, not retroactive)") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(100), Seq("id"))
    ManifestTable.deleteKeysMor(spark, root, Seq(5L).toDF("id"), "id")
    ManifestTable.commit(spark, root, docs(1, from = 5), Seq("id"), append = true)
    val back = ManifestTable.read(spark, root)
    assert(back.where(col("id") === 5L).count() == 1,
      "a re-inserted key is a new row, not retroactively deleted")
    assert(back.count() == 100) // 100 - 1 deleted + 1 re-inserted
  }

  test("rewriteDeletes materializes tombstones: only touched files rewritten, result unchanged") {
    val root = freshRoot()
    val in = docs(400).repartitionByRange(8, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    ManifestTable.deleteKeysMor(spark, root, Seq(10L, 20L).toDF("id"), "id")
    val logical = ManifestTable.read(spark, root).orderBy("id").collect().toSeq
    val st = ManifestTable.rewriteDeletes(spark, root)
    assert(st.filesRewritten == 1,
      s"ids 10 and 20 live in one of 8 range files, got ${st.filesRewritten} rewrites")
    assert(st.filesKept == 7)
    assert(ManifestTable.read(spark, root).orderBy("id").collect().toSeq == logical)
    // tombstones cleared: COW ops are allowed again, and a no-op rewrite no-ops
    val v = ManifestTable.currentVersion(spark, root)
    assert(ManifestTable.rewriteDeletes(spark, root).filesRewritten == 0)
    assert(ManifestTable.currentVersion(spark, root) == v)
    ManifestTable.merge(spark, root, docs(1, from = 1000), Seq("id"))
  }

  test("compact materializes MOR deletes and clears tombstones") {
    val root = freshRoot()
    ManifestTable.commit(spark, root,
      docs(200).repartitionByRange(4, col("id")).sortWithinPartitions("id"), Seq("id"))
    ManifestTable.deleteKeysMor(spark, root, Seq(42L).toDF("id"), "id")
    ManifestTable.compact(spark, root, targetBytes = 1L << 20)
    val back = ManifestTable.read(spark, root)
    assert(back.count() == 199)
    assert(back.where(col("id") === 42L).count() == 0)
    // no outstanding tombstones: a delete may now key on a different column
    ManifestTable.deleteKeysMor(spark, root, Seq("doc_7").toDF("name"), "name")
    assert(ManifestTable.read(spark, root).count() == 198)
  }

  test("COW merge/deleteRange and a different-key MOR delete refuse over outstanding tombstones") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(50), Seq("id", "score"))
    ManifestTable.deleteKeysMor(spark, root, Seq(1L).toDF("id"), "id")
    val e1 = intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, docs(1), Seq("id"))
    }
    assert(e1.getMessage.contains("rewriteDeletes"))
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.deleteRange(spark, root, "score", Some("0"), Some("10"))
    }
    assert(e2.getMessage.contains("rewriteDeletes"))
    val e3 = intercept[IllegalArgumentException] {
      ManifestTable.deleteKeysMor(spark, root, Seq("doc_3").toDF("name"), "name")
    }
    assert(e3.getMessage.contains("materialize"))
  }

  test("successive MOR deletes accumulate; scanRange subtracts tombstones") {
    val root = freshRoot()
    val in = docs(400).repartitionByRange(8, col("id")).sortWithinPartitions("id")
    ManifestTable.commit(spark, root, in, Seq("id"))
    ManifestTable.deleteKeysMor(spark, root, Seq(100L).toDF("id"), "id")
    ManifestTable.deleteKeysMor(spark, root, Seq(101L).toDF("id"), "id")
    val pruned = ManifestTable.scanRange(spark, root, "id", Some("100"), Some("109"))
    assert(pruned.filesScanned < pruned.filesTotal)
    assert(pruned.df.where(col("id").between(100, 109)).count() == 8)
    assert(ManifestTable.read(spark, root).count() == 398)
  }

  test("changes refuses to cross a MOR delete; vacuum keeps live tombstone files") {
    val root = freshRoot()
    val v1 = ManifestTable.commit(spark, root, docs(100), Seq("id"))
    ManifestTable.deleteKeysMor(spark, root, Seq(7L).toDF("id"), "id")
    val v3 = ManifestTable.commit(spark, root, docs(10, from = 100), Seq("id"), append = true)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, root, v1, v3)
    }
    assert(e.getMessage.contains("non-append"))
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    // the tombstone parquet survived vacuum: reads still subtract the key
    assert(ManifestTable.read(spark, root).where(col("id") === 7L).count() == 0)
    assert(ManifestTable.read(spark, root).count() == 109)
  }

  test("restore re-points the head metadata-only: history intact, vacuum-safe, changes refuses") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(100), Seq("id"))          // v1 good
    ManifestTable.commit(spark, root, docs(50, from = 1000), Seq("id"),
      append = true)                                                 // v2 bad
    val dataFilesBefore = ManifestTable.listFiles(spark, root).size
    val v3 = ManifestTable.restore(spark, root, 1L)
    assert(v3 == 3L, "restore publishes a NEW version")
    // head == v1, metadata-only (no new data files written anywhere)
    assert(ManifestTable.read(spark, root).orderBy("id").collect().toSeq ==
      ManifestTable.read(spark, root, Some(1L)).orderBy("id").collect().toSeq)
    assert(ManifestTable.listFiles(spark, root).size <= dataFilesBefore)
    // history intact: the bad snapshot still time-travels
    assert(ManifestTable.read(spark, root, Some(2L)).count() == 150)
    // appends continue from the restored head
    ManifestTable.commit(spark, root, docs(10, from = 5000), Seq("id"), append = true)
    assert(ManifestTable.read(spark, root).count() == 110)
    // changes() refuses to cross the restore commit (rows "reappearing"
    // are not appends), but diffs cleanly after it
    intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, root, 1L, 4L).collect()
    }
    assert(ManifestTable.changes(spark, root, 3L, 4L).count() == 10)
    // vacuum keeps every file the restored head chain references
    ManifestTable.vacuum(spark, root, keepVersions = 2)
    assert(ManifestTable.read(spark, root).count() == 110)
    // a vacuumed-away version cannot be restored
    intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, root, 2L)
    }
  }

  test("manifest stats carry portable timestamp min/max that prune date ranges") {
    val root = freshRoot()
    val ts = (0 until 365).map { d =>
      (d.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:00").toInstant
        .plusSeconds(d.toLong * 86400).toString.replace("T", " ").replace("Z", ""))
    }.toDF("id", "ts_str")
      .select(col("id"), to_timestamp(col("ts_str")).as("ts"))
      .repartitionByRange(6, col("ts")).sortWithinPartitions("ts")
    ManifestTable.commit(spark, root, ts, Seq("ts"))
    val pruned = ManifestTable.scanRange(spark, root, "ts",
      Some("2024-06-01 00:00:00"), Some("2024-06-30 23:59:59"))
    assert(pruned.filesScanned < pruned.filesTotal)
    assert(pruned.df.where(col("ts") >= "2024-06-01" && col("ts") < "2024-07-01").count() == 30)
  }

  test("a failed append releases its version claim: the next commit never stalls") {
    val root = freshRoot()
    ManifestTable.commit(spark, root,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    // strict append with a mismatched schema: the contract error fires
    // inside publish's build closure AFTER a claim was taken
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((2L, 3.5)).toDF("k", "other"), Seq("k"), append = true)
    }
    // without claim cleanup the next writer waits the full 30 s
    // parent-wait window on the dead claim; with it, this is instant
    val t0 = System.nanoTime()
    val v = ManifestTable.commit(spark, root,
      Seq((2L, "b")).toDF("k", "v"), Seq("k"), append = true)
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(elapsedMs < 15000, s"commit stalled ${elapsedMs} ms on a leaked claim")
    assert(ManifestTable.read(spark, root).count() == 2)
    assert(v > 1L)
  }

  test("updateKeysMor: read equals the COW merge of the same changelog, zero rewrites") {
    val in = docs(400).repartitionByRange(8, col("id")).sortWithinPartitions("id")
    val changelog = docs(30, from = 390) // 10 updates (390-399) + 20 inserts
      .select(col("id"), concat(lit("v2_"), col("name")).as("name"),
        (col("score") + 1000.0).as("score"))
    // MOR path
    val morRoot = freshRoot()
    ManifestTable.commit(spark, morRoot, in, Seq("id"))
    val filesBefore = ManifestTable.listFiles(spark, morRoot)
    val st = ManifestTable.updateKeysMor(spark, morRoot, changelog, "id")
    assert(st.filesRewritten == 0 && st.filesDropped == 0,
      "a MOR update must not rewrite or drop data files")
    assert(ManifestTable.listFiles(spark, morRoot).toSet
      .intersect(filesBefore.toSet) == filesBefore.toSet,
      "every pre-update file carries by reference")
    // COW path on the same base
    val cowRoot = freshRoot()
    ManifestTable.commit(spark, cowRoot, in, Seq("id"))
    ManifestTable.merge(spark, cowRoot, changelog, Seq("id"))
    val mor = ManifestTable.read(spark, morRoot).orderBy("id").collect().toSeq
    val cow = ManifestTable.read(spark, cowRoot).orderBy("id").collect().toSeq
    assert(mor == cow, "MOR overlay must equal the COW merge bit-for-bit")
    assert(mor.size == 420)
    // time travel still sees the pre-update snapshot
    assert(ManifestTable.read(spark, morRoot, Some(1L)).count() == 400)
  }

  test("updateKeysMor: rewriteDeletes materializes update vectors; guards refuse bad batches") {
    val root = freshRoot()
    ManifestTable.commit(spark, root,
      docs(200).repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      Seq("id"))
    ManifestTable.updateKeysMor(spark, root,
      docs(5, from = 10).withColumn("score", col("score") * 2), "id")
    val logical = ManifestTable.read(spark, root).orderBy("id").collect().toSeq
    val st = ManifestTable.rewriteDeletes(spark, root)
    assert(st.filesRewritten >= 1, "the displaced file must rewrite")
    val materialized = ManifestTable.read(spark, root).orderBy("id").collect().toSeq
    assert(materialized == logical,
      "materializing the update vector must not change the table")
    // second maintenance pass is a no-op
    assert(ManifestTable.rewriteDeletes(spark, root).filesRewritten == 0)
    // duplicate update keys refuse (no defined winner)
    val dup = intercept[IllegalArgumentException] {
      ManifestTable.updateKeysMor(spark, root,
        docs(2).unionByName(docs(2)), "id")
    }
    assert(dup.getMessage.contains("duplicate"))
    // NULL keys refuse
    val nul = intercept[IllegalArgumentException] {
      ManifestTable.updateKeysMor(spark, root,
        docs(2).withColumn("id",
          when(col("id") === 0L, lit(null)).otherwise(col("id"))), "id")
    }
    assert(nul.getMessage.contains("NULL"))
    // a different-key MOR delete outstanding refuses the update
    ManifestTable.deleteKeysMor(spark, root, Seq("doc_42").toDF("name"), "name")
    val mix = intercept[IllegalArgumentException] {
      ManifestTable.updateKeysMor(spark, root, docs(1), "id")
    }
    assert(mix.getMessage.contains("outstanding tombstones"))
  }

  test("updateKeysMor: sparse clustered touch — maintenance rewrites only displaced files, carries the rest byte-identical") {
    val root = freshRoot()
    // 16 key-range-clustered files of ~100 ids each
    ManifestTable.commit(spark, root,
      docs(1600).repartitionByRange(16, col("id")).sortWithinPartitions("id"),
      Seq("id"))
    val baseEntries = ManifestTable.listEntries(spark, root)
    assert(baseEntries.size == 16)
    // ~2% of keys, ALL inside the lowest file's key range
    val upd = docs(100).where(col("id") % 3 === 0)
      .withColumn("score", col("score") + 1000.0)
    val stU = ManifestTable.updateKeysMor(spark, root, upd, "id")
    assert(stU.filesRewritten == 0, "MOR update must rewrite nothing")
    val st = ManifestTable.rewriteDeletes(spark, root)
    assert(st.filesRewritten >= 1 && st.filesRewritten <= 2,
      s"sparse clustered touch must bound the rewrite to the displaced " +
        s"file(s), got ${st.filesRewritten} of 16")
    // the file-carry pin: every non-displaced base file's manifest
    // ENTRY (path, rows, bytes, stats) is byte-identical across both
    // the mor-update and the maintenance commit
    val after = ManifestTable.listEntries(spark, root).toSet
    val carried = baseEntries.toSet.intersect(after)
    assert(carried.size == 16 - st.filesRewritten,
      s"expected ${16 - st.filesRewritten} base entries carried " +
        s"byte-identical, got ${carried.size}")
    // and the data is still the COW merge
    val cowRoot = freshRoot()
    ManifestTable.commit(spark, cowRoot, docs(1600), Seq("id"))
    ManifestTable.merge(spark, cowRoot, upd, Seq("id"))
    assert(ManifestTable.read(spark, root).orderBy("id").collect().toSeq ==
      ManifestTable.read(spark, cowRoot).orderBy("id").collect().toSeq)
  }

  test("updateKeysMor: updates after an update win (tombstone scope grows with files)") {
    val root = freshRoot()
    ManifestTable.commit(spark, root, docs(50), Seq("id"))
    ManifestTable.updateKeysMor(spark, root,
      docs(1, from = 7).withColumn("name", lit("first")), "id")
    ManifestTable.updateKeysMor(spark, root,
      docs(1, from = 7).withColumn("name", lit("second")), "id")
    val rows = ManifestTable.read(spark, root)
      .where(col("id") === 7L).collect()
    assert(rows.length == 1 && rows(0).getString(1) == "second",
      s"the later update vector must displace the earlier one: ${rows.toSeq}")
    assert(ManifestTable.read(spark, root).count() == 50)
  }
}
