package graft.streaming

import java.sql.Timestamp

import graft.SparkSuite

class StatefulSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minutes: Long) = new Timestamp(1700000000000L + minutes * 60000L)

  test("flatMapGroupsWithState closes sessions on gap") {
    val events = Seq(
      Stateful.Event(1L, ts(0), "a", 1.0),
      Stateful.Event(1L, ts(10), "b", 2.0),   // same session (gap 30m)
      Stateful.Event(1L, ts(60), "c", 4.0),   // new session
      Stateful.Event(2L, ts(5), "x", 8.0)
    ).toDS()
    val out = Stateful.userSessionsBatch(spark, events, gapMillis = 30 * 60000L)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(out.length == 3)
    val first = out(0)
    assert(first.user_id == 1L && first.n_events == 2 && first.sum_value == 3.0)
    assert(first.session_start == ts(0) && first.session_end == ts(10))
    assert(out(1).n_events == 1 && out(1).sum_value == 4.0)
    assert(out(2).user_id == 2L && out(2).n_events == 1)
  }

  test("out-of-order events within a batch are sorted before sessionization") {
    val events = Seq(
      Stateful.Event(1L, ts(10), "b", 2.0),
      Stateful.Event(1L, ts(0), "a", 1.0)
    ).toDS()
    val out = Stateful.userSessionsBatch(spark, events, gapMillis = 30 * 60000L).collect()
    assert(out.length == 1 && out.head.n_events == 2)
  }

  test("sessionization runs under a real streaming plan") {
    val dir = java.nio.file.Files.createTempDirectory("stateful-in").toString
    Seq(
      Stateful.Event(1L, ts(0), "a", 1.0),
      Stateful.Event(1L, ts(90), "b", 2.0)
    ).toDS().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .as[Stateful.Event]
      .withWatermark("ts", "0 seconds")
    val q = Stateful.userSessions(spark, stream, gapMillis = 30 * 60000L)
      .writeStream.outputMode("append").format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      // first session closed by the 90-minute-later event; the open one
      // stays in state (watermark never passes its close alarm)
      val rows = spark.table("sessions_out").collect()
      assert(rows.length == 1)
    } finally q.stop()
  }

  test("streaming event-time timeout emits the open session and clears state") {
    val dir = java.nio.file.Files.createTempDirectory("stateful-to").toString
    // batch 1: one open session for user 1
    Seq(
      Stateful.Event(1L, ts(0), "a", 1.0),
      Stateful.Event(1L, ts(10), "b", 2.0)
    ).toDS().write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .as[Stateful.Event]
      .withWatermark("ts", "0 seconds")
    val q = Stateful.userSessions(spark, stream, gapMillis = 30 * 60000L)
      .writeStream.outputMode("append").format("memory").queryName("sessions_timeout").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions_timeout").count() == 0) // still open
      // batch 2: a far-future event for ANOTHER user pushes the watermark
      // past user 1's last+gap; the no-data follow-up batch fires the alarm
      Seq(Stateful.Event(2L, ts(300), "x", 5.0))
        .toDS().write.mode("append").parquet(dir)
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 20000
      var rows = spark.table("sessions_timeout").as[Stateful.ClosedSession].collect()
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
        rows = spark.table("sessions_timeout").as[Stateful.ClosedSession].collect()
      }
      assert(rows.length == 1)
      assert(rows.head.user_id == 1L && rows.head.n_events == 2 &&
        rows.head.session_start == ts(0) && rows.head.session_end == ts(10))
    } finally q.stop()
  }

  test("sorted batch sessionization matches flatMapGroupsWithState output") {
    val rng = new scala.util.Random(42)
    val events = (0 until 2000).map { i =>
      Stateful.Event(rng.nextInt(7).toLong, ts(rng.nextInt(3000).toLong),
        s"e$i", rng.nextInt(10).toDouble)
    }.toDS()
    def canon(s: Seq[Stateful.ClosedSession]) =
      s.sortBy(x => (x.user_id, x.session_start.getTime))
        .map(x => (x.user_id, x.session_start, x.session_end, x.n_events, x.sum_value))
    val viaState = canon(
      Stateful.userSessionsBatch(spark, events, gapMillis = 30 * 60000L)
        .collect().toSeq)
    val viaSort = canon(
      Stateful.userSessionsBatchSorted(spark, events, gapMillis = 30 * 60000L)
        .collect().toSeq)
    assert(viaSort == viaState)
    assert(viaSort.nonEmpty)
  }

  test("sorted batch sessionization handles one dominant hot key") {
    // one user with every event; the sorted pass must stream through it
    val events = (0 until 5000).map { i =>
      Stateful.Event(1L, ts(i.toLong * 5), s"e$i", 1.0)
    }.toDS()
    // 5-minute steps, 30-minute gap: one giant session
    val out = Stateful.userSessionsBatchSorted(spark, events, gapMillis = 30 * 60000L)
      .collect()
    assert(out.length == 1 && out.head.n_events == 5000)
  }
}
