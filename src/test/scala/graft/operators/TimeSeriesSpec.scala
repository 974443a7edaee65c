package graft.operators

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TimeSeriesSpec extends SparkSuite {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("trendOls: hand-computed slope/intercept/r2, degenerate groups NULL") {
    val df = Seq(
      // perfect line y = 2x + 1 -> slope 2, intercept 1, r2 = 1
      ("lin", 0L, 1.0), ("lin", 1L, 3.0), ("lin", 2L, 5.0), ("lin", 3L, 7.0),
      // flat y -> slope 0, r2 NULL (zero y variance)
      ("flat", 0L, 4.0), ("flat", 1L, 4.0), ("flat", 2L, 4.0),
      // all-same x -> everything NULL
      ("degx", 5L, 1.0), ("degx", 5L, 9.0)
    ).toDF("k", "x", "y")
    val got = TimeSeries.trendOls(df, Seq("k"), "x", "y").collect()
      .map(r => (r.getString(0), (Option(r.get(2)), Option(r.get(3)),
        Option(r.get(4))))).toMap
    assert(got("lin") == ((Some(2.0), Some(1.0), Some(1.0))), s"got $got")
    assert(got("flat") == ((Some(0.0), Some(4.0), None)), s"got $got")
    assert(got("degx") == ((None, None, None)), s"got $got")
  }

  test("trendOls: noisy positive trend detected, partitioning-independent") {
    val rows = (0 until 200).map { i =>
      ("k", i.toLong, 10.0 + 0.5 * i + (if (i % 2 == 0) 1.0 else -1.0))
    }
    val a = TimeSeries.trendOls(rows.toDF("k", "x", "y"), Seq("k"), "x", "y")
      .collect().head
    val b = TimeSeries.trendOls(rows.toDF("k", "x", "y").repartition(7),
      Seq("k"), "x", "y").collect().head
    assert(a == b, "decimal moments must make the fit exact under any partitioning")
    assert(a.getDouble(2) > 0.45 && a.getDouble(2) < 0.55, s"slope off: $a")
    assert(a.getDouble(4) > 0.99, s"r2 off: $a")
  }

  test("peakConcurrency: overlap counting, simultaneous netting, per-key isolation") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val iv = Seq(
      // k1: three intervals, max overlap 2 (the 3rd starts exactly as
      // the 1st ends — end-exclusive, so they never stack to 3)
      ("k1", ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00")),
      ("k1", ts("2024-01-02 00:00:00"), ts("2024-01-05 00:00:00")),
      ("k1", ts("2024-01-03 00:00:00"), ts("2024-01-04 00:00:00")),
      // k2: one closes exactly when two open -> net +1 at that instant,
      // peak 2 (end-exclusive semantics), never 3
      ("k2", ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")),
      ("k2", ts("2024-01-02 00:00:00"), ts("2024-01-03 00:00:00")),
      ("k2", ts("2024-01-02 00:00:00"), ts("2024-01-03 00:00:00")),
      // k3: disjoint intervals, peak 1
      ("k3", ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")),
      ("k3", ts("2024-01-03 00:00:00"), ts("2024-01-04 00:00:00"))
    ).toDF("k", "s", "e")
    val got = TimeSeries.peakConcurrency(iv, Seq("k"), "s", "e")
      .as[(String, Long)].collect().toMap
    assert(got == Map("k1" -> 2L, "k2" -> 2L, "k3" -> 1L), s"got $got")
  }

  test("peakConcurrency: end-exclusive — back-to-back intervals never stack") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val iv = (1 to 5).map(i =>
      ("k", ts(f"2024-01-0$i 00:00:00"), ts(f"2024-01-0${i + 1} 00:00:00")))
      .toDF("k", "s", "e")
    val got = TimeSeries.peakConcurrency(iv, Seq("k"), "s", "e")
      .as[(String, Long)].collect().toMap
    assert(got == Map("k" -> 1L), s"got $got")
  }

  test("resampleOhlc: open/close picked by (ts, tie) order, high/low/n exact") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ticks = Seq(
      // one 10:00 bar; two rows share the opening timestamp -> the
      // smaller tie id must win open, the larger the close at 10:59
      ("a", ts("2024-01-01 10:00:00"), 1L, 5.0),
      ("a", ts("2024-01-01 10:00:00"), 2L, 9.0),
      ("a", ts("2024-01-01 10:30:00"), 3L, 1.0),
      ("a", ts("2024-01-01 10:59:00"), 4L, 7.0),
      ("a", ts("2024-01-01 11:00:00"), 5L, 100.0), // next bar
      ("b", ts("2024-01-01 10:15:00"), 6L, 42.0)
    ).toDF("k", "ts", "id", "v")
    val got = TimeSeries.resampleOhlc(ticks, Seq("k"), "ts", "id", "v")
      .select($"k", date_format($"bucket", "HH:mm").as("b"),
        $"open", $"high", $"low", $"close", $"n")
      .as[(String, String, Double, Double, Double, Double, Long)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got(("a", "10:00")) == ((5.0, 9.0, 1.0, 7.0, 4L)), s"got $got")
    assert(got(("a", "11:00")) == ((100.0, 100.0, 100.0, 100.0, 1L)))
    assert(got(("b", "10:00")) == ((42.0, 42.0, 42.0, 42.0, 1L)))
  }

  test("resampleOhlc plan: one hash aggregation, no window operator") {
    val ticks = Seq(("k", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 5.0))
      .toDF("k", "ts", "id", "v")
    val plan = TimeSeries.resampleOhlc(ticks, Seq("k"), "ts", "id", "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"bars must come from min_by/max_by " +
      s"partial aggs, never a per-bar window sort:\n$plan")
    // min_by over a struct ordering key plans as SortAggregate — the
    // load-bearing property is the MAP-SIDE partial combine before the
    // one bar-keyed exchange, not the aggregate's physical flavor
    assert(plan.contains("partial_min_by"),
      s"expected a map-side partial aggregate:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly one bar-keyed shuffle:\n$plan")
  }

  test("resampleOhlc: unsupported bucket rejected") {
    val df = Seq(("k", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 1.0))
      .toDF("k", "ts", "id", "v")
    intercept[IllegalArgumentException] {
      TimeSeries.resampleOhlc(df, Seq("k"), "ts", "id", "v", bucket = "fortnight")
    }
  }

  test("densifyDaily: gaps filled with LOCF, observed flags real days") {
    val daily = Seq(
      ("u1", d("2024-01-01"), 10.0),
      ("u1", d("2024-01-04"), 40.0),   // 2 gap days before this
      ("u2", d("2024-01-02"), 7.0)     // single-day key
    ).toDF("k", "day", "v")
    val got = TimeSeries.densifyDaily(daily, "k", "day", "v")
      .as[(String, Date, Long, Double)].collect()
      .map(r => (r._1, r._2.toString) -> ((r._3, r._4))).toMap
    assert(got == Map(
      ("u1", "2024-01-01") -> ((1L, 10.0)),
      ("u1", "2024-01-02") -> ((0L, 10.0)),   // carried forward
      ("u1", "2024-01-03") -> ((0L, 10.0)),
      ("u1", "2024-01-04") -> ((1L, 40.0)),
      ("u2", "2024-01-02") -> ((1L, 7.0))))
  }

  test("dailyAggregate + densify: never a null fill (spine starts at first observation)") {
    val ev = Seq(
      ("u1", "2024-01-01 10:00:00", 1.5), ("u1", "2024-01-01 11:00:00", 2.5),
      ("u1", "2024-01-05 09:00:00", 4.0)
    ).toDF("k", "ts", "v").withColumn("ts", to_timestamp($"ts"))
    val out = TimeSeries.densifyDaily(
      TimeSeries.dailyAggregate(ev, "k", "ts", "v"), "k", "d", "v")
    assert(out.count() == 5, "Jan 1..5 inclusive")
    assert(out.where($"v_filled".isNull).count() == 0)
    val day1 = out.where($"d" === d("2024-01-01")).select($"v_filled").as[Double].head()
    assert(day1 == 4.0, "same-day rows aggregate before the fill")
    assert(out.where($"observed" === 0).count() == 3)
  }

  test("fill window is a running frame (streams in WindowExec, no full-partition buffer)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val daily = Seq(("u1", d("2024-01-01"), 1.0)).toDF("k", "day", "v")
      val plan = TimeSeries.densifyDaily(daily, "k", "day", "v")
        .queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"expected a WindowExec:\n$plan")
      windows.foreach { w =>
        val expr = w.windowExpression.mkString.toLowerCase
        assert(expr.contains("unboundedpreceding") && expr.contains("currentrow"),
          s"LOCF must be a running frame:\n$w")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("trend moments of separate batches merge to the one-shot fit") {
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => ("g", i.toLong, 10.0 + 0.5 * i + (if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("k", "x", "y")
    val moments = Seq(slice(0, 40), slice(40, 80), slice(80, 120))
      .map(TimeSeries.trendMoments(_, Seq("k"), "x", "y"))
      .reduce(_ unionByName _)
    val merged = TimeSeries.mergeTrendMoments(moments, Seq("k")).collect().toSeq
    val oneShot = TimeSeries.trendOls(slice(0, 120), Seq("k"), "x", "y")
      .collect().toSeq
    assert(merged == oneShot,
      s"merged fit must equal the from-scratch fit: $merged vs $oneShot")
  }

  test("debounce drops only events under the gap, per key, raw-predecessor semantics") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      // user 1 / click: 0s, +2s (drop), +4s (drop: 2s after RAW predecessor), +20s (keep)
      (1L, 1L, "click", ts("2024-01-01 00:00:00")),
      (2L, 1L, "click", ts("2024-01-01 00:00:02")),
      (3L, 1L, "click", ts("2024-01-01 00:00:04")),
      (4L, 1L, "click", ts("2024-01-01 00:00:24")),
      // same user, different type: independent clock
      (5L, 1L, "view", ts("2024-01-01 00:00:01")),
      // other user: untouched
      (6L, 2L, "click", ts("2024-01-01 00:00:03"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val kept = TimeSeries.debounce(events, Seq("user_id", "event_type"),
        "ts", "event_id", minGapMicros = 5L * 1000000)
      .select($"event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L, 6L), s"got $kept")
    // simultaneous events: tiebreak keeps the lower id deterministically
    val dup = Seq(
      (10L, 3L, "click", ts("2024-01-01 00:00:00")),
      (11L, 3L, "click", ts("2024-01-01 00:00:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val keptDup = TimeSeries.debounce(dup, Seq("user_id", "event_type"),
        "ts", "event_id", minGapMicros = 1000000)
      .select($"event_id").as[Long].collect().toSet
    assert(keptDup == Set(10L), s"got $keptDup")
  }

  test("rollingAnomaly: spike flagged, cold start and steady state are not") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
    // user 1: ten steady ~100s (varied — zero-variance history would flag
    // ANY deviation), then a 10x spike, then steady again
    val vals = Seq(100L, 101L, 99L, 100L, 102L) ++
      Seq(98L, 100L, 101L, 99L, 100L) ++ Seq(1000L) ++ Seq(100L, 101L)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, 1L, ts(i), v) }
    val df = rows.toDF("event_id", "user_id", "ts", "v")
    val out = TimeSeries.rollingAnomaly(df, Seq("user_id"), "ts", "event_id",
        $"v", lookback = 20, minN = 5, z = 3)
      .where($"is_anomaly").select($"event_id").as[Long].collect().toSet
    assert(out == Set(10L), s"only the spike row flags, got $out")
  }

  test("rollingAnomaly: window excludes self — an outlier cannot mask itself") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
    // with the point itself IN the window, a lone huge spike inflates the
    // stddev enough to pass; exclusion keeps the baseline tight
    val vals = Seq(10L, 10L, 10L, 10L, 10L, 10L, 100000L)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, 1L, ts(i), v) }
    val out = TimeSeries.rollingAnomaly(rows.toDF("event_id", "user_id", "ts", "v"),
        Seq("user_id"), "ts", "event_id", $"v", lookback = 20, minN = 5, z = 3)
      .where($"is_anomaly").select($"event_id").as[Long].collect().toSet
    assert(out == Set(6L), s"got $out")
  }

  test("rollingAnomaly: constant history (zero variance) flags any deviation") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
    val vals = Seq(50L, 50L, 50L, 50L, 50L, 51L)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, 1L, ts(i), v) }
    val out = TimeSeries.rollingAnomaly(rows.toDF("event_id", "user_id", "ts", "v"),
        Seq("user_id"), "ts", "event_id", $"v", lookback = 20, minN = 5, z = 3)
      .where($"is_anomaly").select($"event_id").as[Long].collect().toSet
    // (1*5 - 0)^2 = 25 > 9 * (5*0 - 0) = 0 after centering on 50
    assert(out == Set(5L), s"got $out")
  }
}
