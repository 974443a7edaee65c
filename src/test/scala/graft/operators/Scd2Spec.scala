package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** SCD2 semantics: version timelines under change / no-change / new-key /
  * missing-key batches, delta vs snapshot modes, null-safe change
  * detection.
  */
class Scd2Spec extends SparkSuite {
  import spark.implicits._

  private val t1 = "2024-01-01 00:00:00"
  private val t2 = "2024-02-01 00:00:00"
  private val t3 = "2024-03-01 00:00:00"

  private def ts(s: String) = Timestamp.valueOf(s)

  private def batch1 = Seq(
    (1L, "gold", 10.0), (2L, "silver", 5.0), (3L, "bronze", 1.0)
  ).toDF("k", "tier", "score")

  test("first batch opens one row per key") {
    val h = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), batch1, "k", t1)
    val rows = h.select($"k", $"tier", $"score", $"valid_from", $"valid_to")
      .as[(Long, String, Double, Timestamp, Option[Timestamp])].collect().toSet
    assert(rows == Set(
      (1L, "gold", 10.0, ts(t1), None),
      (2L, "silver", 5.0, ts(t1), None),
      (3L, "bronze", 1.0, ts(t1), None)))
  }

  test("change closes the old version and opens a new one; no-op keeps the row") {
    val h1 = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), batch1, "k", t1)
    val batch2 = Seq(
      (1L, "gold", 10.0),      // unchanged
      (2L, "gold", 7.0),       // changed
      (4L, "silver", 2.0)      // new key
    ).toDF("k", "tier", "score")
    val h2 = Scd2.applyBatch(h1, batch2, "k", t2)
    val rows = h2.select($"k", $"tier", $"score", $"valid_from", $"valid_to")
      .as[(Long, String, Double, Timestamp, Option[Timestamp])].collect().toSet
    assert(rows == Set(
      (1L, "gold", 10.0, ts(t1), None),          // untouched, original from
      (2L, "silver", 5.0, ts(t1), Some(ts(t2))), // closed
      (2L, "gold", 7.0, ts(t2), None),           // new version
      (3L, "bronze", 1.0, ts(t1), None),         // absent from delta: stays
      (4L, "silver", 2.0, ts(t2), None)))        // new key
  }

  test("snapshot mode closes keys missing from the batch") {
    val h1 = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), batch1, "k", t1)
    val snap = Seq((1L, "gold", 10.0)).toDF("k", "tier", "score")
    val h2 = Scd2.applyBatch(h1, snap, "k", t2, closeMissing = true)
    val byKey = h2.select($"k", $"valid_to")
      .as[(Long, Option[Timestamp])].collect().groupBy(_._1)
    assert(byKey(1L).map(_._2).toSet == Set(None))
    assert(byKey(2L).map(_._2).toSet == Set(Some(ts(t2))))
    assert(byKey(3L).map(_._2).toSet == Set(Some(ts(t2))))
  }

  test("a batch with duplicate keys is rejected, not silently fanned out") {
    val h = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), batch1, "k", t1)
    val dup = Seq((1L, "gold", 1.0), (1L, "silver", 2.0)).toDF("k", "tier", "score")
    val e = intercept[IllegalArgumentException] {
      Scd2.applyBatch(h, dup, "k", t2)
    }
    assert(e.getMessage.contains("duplicate key"), e.getMessage)
  }

  test("history whose columns drift from the batch is rejected, not silently projected") {
    // the output schema derives from the BATCH; a history attribute the
    // batch lacks would be dropped without this guard (round-3 advice)
    val h = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), batch1, "k", t1)
      .withColumn("region", lit("emea"))
    val e = intercept[IllegalArgumentException] {
      Scd2.applyBatch(h, batch1, "k", t2)
    }
    assert(e.getMessage.contains("history schema"), e.getMessage)
  }

  test("skipDupCheck skips the eager guard and matches the checked path") {
    val h1 = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), batch1, "k", t1)
    val batch2 = Seq((2L, "gold", 7.0), (4L, "silver", 2.0)).toDF("k", "tier", "score")
    val checked = Scd2.applyBatch(h1, batch2, "k", t2)
    val unchecked = Scd2.applyBatch(h1, batch2, "k", t2, skipDupCheck = true)
    assert(checked.exceptAll(unchecked).isEmpty && unchecked.exceptAll(checked).isEmpty)
    // the lazy path must not run the dup-check aggregation job at build time
    val (_, jobs) = graft.Jobs.counted(spark) {
      Scd2.applyBatch(h1, batch2, "k", t3, skipDupCheck = true)
    }
    assert(jobs == 0, s"skipDupCheck = true must stay fully lazy, ran $jobs Spark job(s)")
  }

  test("null attributes compare null-safely") {
    val b1 = Seq((1L, Option.empty[String], 1.0)).toDF("k", "tier", "score")
    val h1 = Scd2.applyBatch(Scd2.emptyHistory(b1, "k"), b1, "k", t1)
    // same null -> no new version
    val h2 = Scd2.applyBatch(h1, b1, "k", t2)
    assert(h2.count() == 1 && h2.where($"valid_to".isNull).count() == 1)
    // null -> value IS a change
    val b3 = Seq((1L, Option("gold"), 1.0)).toDF("k", "tier", "score")
    val h3 = Scd2.applyBatch(h2, b3, "k", t3)
    val open = h3.where($"valid_to".isNull)
      .select($"tier", $"valid_from").as[(Option[String], Timestamp)].collect()
    assert(open.toSeq == Seq((Some("gold"), ts(t3))))
    assert(h3.where($"valid_to" === ts(t3)).count() == 1)
  }

  test("plan: closed history unions back below the join without a shuffle") {
    // the scale contract — applying a batch joins ONLY the current slice;
    // closed rows must never enter an exchange. With AQE off, the plan of
    // one applyBatch carries exactly the join's two shuffles (current,
    // batch): any third would mean history size entered the cost.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val h1 = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), batch1, "k", t1)
        .localCheckpoint() // realistic: history arrives materialized
      val batch2 = Seq((2L, "gold", 7.0)).toDF("k", "tier", "score")
      val h2 = Scd2.applyBatch(h1, batch2, "k", t2)
      val shuffles = h2.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }
      assert(shuffles.size <= 2,
        s"closed history must not shuffle (want <= 2 exchanges):\n" +
          h2.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("randomized batch sequence keeps SCD2 invariants (seeded)") {
    val rnd = new scala.util.Random(42)
    val keys = (1L to 20L).toSeq
    val stamps = (1 to 6).map(i => f"2024-$i%02d-01 00:00:00")
    var h = Scd2.emptyHistory(Seq((0L, "x", 0.0)).toDF("k", "tier", "score"), "k")
    val lastSeen = scala.collection.mutable.Map.empty[Long, (String, Double)]
    stamps.foreach { stamp =>
      val batch = keys.filter(_ => rnd.nextBoolean()).map { k =>
        val v = (s"t${rnd.nextInt(3)}", rnd.nextInt(5).toDouble)
        lastSeen(k) = v
        (k, v._1, v._2)
      }
      if (batch.nonEmpty)
        h = Scd2.applyBatch(h, batch.toDF("k", "tier", "score"), "k", stamp)
    }
    val rows = h.select($"k", $"tier", $"score", $"valid_from", $"valid_to")
      .as[(Long, String, Double, Timestamp, Option[Timestamp])].collect()
    val byKey = rows.groupBy(_._1)
    byKey.foreach { case (k, vs) =>
      // exactly one open row per ever-seen key (delta mode never closes)
      val open = vs.filter(_._5.isEmpty)
      assert(open.size == 1, s"key $k must have one open row: ${vs.toSeq}")
      // the open row carries the last observed attributes
      assert((open.head._2, open.head._3) == lastSeen(k),
        s"key $k open row must match last batch value")
      // closed intervals chain: each valid_to equals the next valid_from
      val sorted = vs.sortBy(_._4.getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4),
            s"key $k timeline must chain: ${sorted.toSeq}")
        case _ =>
      }
      // versions only exist where attributes actually changed
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert((a._2, a._3) != ((b._2, b._3)),
            s"key $k has a no-op version: ${sorted.toSeq}")
        case _ =>
      }
    }
    assert(byKey.keySet == lastSeen.keySet)
  }

  test("three batches build a full timeline and currentOf sees only open rows") {
    val b = (v: String, s: Double) => Seq((1L, v, s)).toDF("k", "tier", "score")
    var h = Scd2.applyBatch(Scd2.emptyHistory(batch1, "k"), b("a", 1.0), "k", t1)
    h = Scd2.applyBatch(h, b("b", 2.0), "k", t2)
    h = Scd2.applyBatch(h, b("c", 3.0), "k", t3)
    val timeline = h.orderBy($"valid_from")
      .select($"tier", $"valid_from", $"valid_to")
      .as[(String, Timestamp, Option[Timestamp])].collect().toSeq
    assert(timeline == Seq(
      ("a", ts(t1), Some(ts(t2))),
      ("b", ts(t2), Some(ts(t3))),
      ("c", ts(t3), None)))
    assert(Scd2.currentOf(h).select($"tier").as[String].collect().toSeq == Seq("c"))
  }
}
