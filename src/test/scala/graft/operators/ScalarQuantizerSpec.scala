package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class ScalarQuantizerSpec extends SparkSuite {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("train/encode: codes in [0,255], dequantization error <= span/510") {
    val stats = ScalarQuantizer.train(emb, "embedding", 64)
    assert(stats.dim == 64 && stats.spans.forall(_ >= 0.0))
    val codes = ScalarQuantizer.encode(emb, "vec_id", "embedding", stats)
    val bad = codes.where(exists(col("codes"),
      c => c < 0 || c > 255)).count()
    assert(bad == 0, "codes must be bytes")
    // reconstruct and bound the per-dim error by half a grid cell
    val spansArr = array(stats.spans.toIndexedSeq.map(lit): _*)
    val minsArr = array(stats.mins.toIndexedSeq.map(lit): _*)
    val dec = zip_with(zip_with(col("codes"), spansArr,
      (c, s) => c.cast("double") * s / lit(255.0)), minsArr, (v, m) => m + v)
    val maxErr = codes.join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
      .select(aggregate(
        zip_with($"embedding".cast("array<double>"), dec,
          (x, d) => abs(x - d)),
        lit(0.0), (a, b) => greatest(a, b)).as("e"))
      .agg(max($"e")).collect()(0).getDouble(0)
    val bound = stats.spans.max / 510.0 + 1e-12
    assert(maxErr <= bound, s"max dequant error $maxErr > half-cell $bound")
  }

  test("encode: zero-span dimension quantizes to code 0") {
    val df = Seq((1L, Array(7.5f, 1.0f)), (2L, Array(7.5f, 3.0f)))
      .toDF("id", "vec")
    val stats = ScalarQuantizer.train(df, "vec", 2)
    assert(stats.spans(0) == 0.0)
    val codes = ScalarQuantizer.encode(df, "id", "vec", stats)
      .select(element_at($"codes", 1)).collect().map(_.getLong(0))
    assert(codes.forall(_ == 0L))
  }

  test("adcTopK: near-lossless vs exact ranking on the testdata corpus") {
    val stats = ScalarQuantizer.train(emb, "embedding", 64)
    val codes = ScalarQuantizer.encode(emb, "vec_id", "embedding", stats)
    val q = emb.where($"vec_id" % 97 === 0)
    val sq = ScalarQuantizer.adcTopK(q, "vec_id", "embedding",
      codes, "vec_id", stats, k = 5)
    // exact L2 top-5 with the same 6-dp-term decimal recipe
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"d".asc, $"vec_id".asc)
    val exact = emb.select($"vec_id", $"embedding")
      .crossJoin(broadcast(q.select($"vec_id".as("q_id"),
        $"embedding".as("q_vec"))))
      .where($"vec_id" =!= $"q_id")
      .withColumn("d", aggregate(
        zip_with($"q_vec".cast("array<double>"),
          $"embedding".cast("array<double>"),
          (a, b) => round((a - b) * (a - b), 6).cast("decimal(18,6)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)"),
        (acc, t) => (acc + t).cast("decimal(28,6)")).cast("double"))
      .withColumn("rn", row_number().over(w)).where($"rn" <= 5)
      .select($"q_id", $"vec_id")
    val hits = sq.select($"q_id", $"vec_id")
      .join(exact, Seq("q_id", "vec_id"), "left_semi").count()
    val total = exact.count()
    assert(hits >= total - 1,
      s"SQ8 should be near-lossless at 4x compression: $hits/$total")
  }

  test("plan shape: codes-only scan probes via broadcast, never a cartesian") {
    val stats = ScalarQuantizer.train(emb, "embedding", 64)
    val codes = ScalarQuantizer.encode(emb, "vec_id", "embedding", stats)
    val out = ScalarQuantizer.adcTopK(emb.where($"vec_id" % 97 === 0),
      "vec_id", "embedding", codes, "vec_id", stats, 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"SQ8 probe must broadcast the query side:\n$plan")
  }

  test("adcTopK withinCol: only same-list pairs scored, equi-join plan") {
    val stats = ScalarQuantizer.train(emb, "embedding", 64)
    val routed = emb.withColumn("list", ($"vec_id" % 3).cast("int"))
    val codes = ScalarQuantizer.encode(routed, "vec_id", "embedding",
      stats, carryCols = Seq("list"))
    val q = routed.where($"vec_id" % 97 === 0)
    val out = ScalarQuantizer.adcTopK(q, "vec_id", "embedding",
      codes, "vec_id", stats, k = 50, withinCol = Some("list"))
    // every returned neighbor shares the query's list
    val cross = out
      .join(routed.select($"vec_id".as("q_id"), $"list".as("ql")), Seq("q_id"))
      .join(routed.select($"vec_id", $"list".as("cl")), Seq("vec_id"))
      .where($"ql" =!= $"cl").count()
    assert(cross == 0, "withinCol must restrict scoring to the query's list")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"within-list probe must be an equi-condition broadcast join:\n$plan")
  }

  test("trainResidual: residual grid tight, within-list ranking at the exact ceiling") {
    val routed = emb.withColumn("list", ($"vec_id" % 4).cast("int"))
    val (cents, rStats) = ScalarQuantizer.trainResidual(
      routed, "embedding", "list", 64)
    assert(cents.keySet == Set(0, 1, 2, 3) && rStats.dim == 64)
    // residual codes dequantize within half a residual grid cell
    val resid = ProductQuantizer.residuals(routed, "embedding", "list", cents)
    val rCodes = ScalarQuantizer.encode(resid, "vec_id", "resid", rStats,
      carryCols = Seq("list"))
    val spansArr = array(rStats.spans.toIndexedSeq.map(lit): _*)
    val minsArr = array(rStats.mins.toIndexedSeq.map(lit): _*)
    val dec = zip_with(zip_with($"codes", spansArr,
      (c, s) => c.cast("double") * s / lit(255.0)), minsArr, (v, m) => m + v)
    val maxErr = rCodes.join(resid.select($"vec_id", $"resid"), Seq("vec_id"))
      .select(aggregate(
        zip_with($"resid".cast("array<double>"), dec, (x, d) => abs(x - d)),
        lit(0.0), (a, b) => greatest(a, b)).as("e"))
      .agg(max($"e")).collect()(0).getDouble(0)
    val bound = rStats.spans.max / 510.0 + 1e-12
    assert(maxErr <= bound, s"residual dequant error $maxErr > half-cell $bound")
    // within-list residual ADC top-5 == within-list EXACT L2 top-5: at
    // 8 bits/dim the in-list ranking sits on the ceiling (the q245
    // finding — residual composition loses nothing to quantization)
    val qr = ProductQuantizer.residuals(
      routed.where($"vec_id" % 97 === 0), "embedding", "list", cents)
    val top = ScalarQuantizer.adcTopK(qr, "vec_id", "resid",
      rCodes, "vec_id", rStats, k = 5, withinCol = Some("list"))
      .select($"q_id", $"vec_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"d".asc, $"vec_id".asc)
    val exact = routed.select($"vec_id", $"list", $"embedding")
      .join(broadcast(routed.where($"vec_id" % 97 === 0)
        .select($"vec_id".as("q_id"), $"list", $"embedding".as("q_vec"))),
        Seq("list"))
      .where($"vec_id" =!= $"q_id")
      .withColumn("d", aggregate(
        zip_with($"q_vec".cast("array<double>"),
          $"embedding".cast("array<double>"),
          (a, b) => round((a - b) * (a - b), 6).cast("decimal(18,6)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)"),
        (acc, t) => (acc + t).cast("decimal(28,6)")).cast("double"))
      .withColumn("rn", row_number().over(w)).where($"rn" <= 5)
      .select($"q_id", $"vec_id")
    val total = exact.count()
    val hits = top.join(exact, Seq("q_id", "vec_id"), "left_semi").count()
    assert(hits >= total - 1,
      s"residual SQ8 within-list ranking should match exact: $hits/$total")
  }

  test("clipReport: train batch never clips, out-of-box coordinates counted") {
    val stats = ScalarQuantizer.train(emb, "embedding", 64)
    val r0 = ScalarQuantizer.clipReport(emb, "embedding", stats).collect()(0)
    assert(r0.getAs[Long]("n_clipped") == 0L,
      "the grid is the training corpus's own min/max")
    assert(r0.getAs[Long]("n_coords") == r0.getAs[Long]("n_vecs") * 64)
    val drifted = emb.select(transform($"embedding",
      x => x.cast("double") * lit(3.0)).as("embedding"))
    val r1 = ScalarQuantizer.clipReport(drifted, "embedding", stats).collect()(0)
    assert(r1.getAs[Long]("n_clipped") > 0L && r1.getAs[Double]("clip_rate") > 0.0,
      s"a 3x-scaled batch must clip: $r1")
  }

  test("train: a ragged vector raises instead of shaping the grid") {
    // a short vector posexplodes into leading positions — without the
    // guard it silently trains the grid yet fails at encode time
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f)))
      .toDF("id", "vec")
    val e = intercept[Exception] {
      ScalarQuantizer.train(df, "vec", 2)
    }
    assert(e.getMessage.contains("sq8: vector size 1 != dim 2"),
      s"expected the sizeGuarded raise, got: ${e.getMessage}")
  }

  test("adcTopK: pairBudget refuses an over-budget brute scan") {
    val stats = ScalarQuantizer.train(emb, "embedding", 64)
    val codes = ScalarQuantizer.encode(emb, "vec_id", "embedding", stats)
    val q = emb.where($"vec_id" % 97 === 0)
    val e = intercept[IllegalArgumentException] {
      ScalarQuantizer.adcTopK(q, "vec_id", "embedding",
        codes, "vec_id", stats, 5, pairBudget = Some(10L))
    }
    assert(e.getMessage.contains("exceeds pairBudget 10") &&
      e.getMessage.contains("IVF router"),
      s"expected the counts-only refusal, got: ${e.getMessage}")
    // an in-budget gate passes through to the same result
    val gated = ScalarQuantizer.adcTopK(q, "vec_id", "embedding",
      codes, "vec_id", stats, 5, pairBudget = Some(Long.MaxValue))
      .orderBy("q_id", "vec_id").collect().toSeq
    val free = ScalarQuantizer.adcTopK(q, "vec_id", "embedding",
      codes, "vec_id", stats, 5).orderBy("q_id", "vec_id").collect().toSeq
    assert(gated == free)
  }

  test("trainResidual: drifted residuals clip, a grid retrained on them recovers") {
    val listOf = (v: org.apache.spark.sql.Column) =>
      (element_at(v, 1) > 0.0).cast("int")
    val (cents0, stats0) = ScalarQuantizer.trainResidual(
      emb.withColumn("list", listOf(col("embedding"))), "embedding", "list", 64)
    assert(cents0.keySet.subsetOf(Set(0, 1)) && stats0.dim == 64)
    // a 3x-drifted batch clips in RESIDUAL space (the tier's gate)
    val drifted = emb.select(col("vec_id"), transform($"embedding",
      x => x.cast("double") * lit(3.0)).as("embedding"))
      .withColumn("list", listOf(col("embedding")))
    val dResid = ProductQuantizer.residuals(
      drifted, "embedding", "list", cents0)
    val clip = ScalarQuantizer.clipReport(dResid, "resid", stats0)
      .collect()(0)
    assert(clip.getAs[Double]("clip_rate") > 0.0,
      s"drifted residuals must clip: $clip")
    // retrain on the drifted corpus: the fresh grid fits it
    val (cents1, stats1) = ScalarQuantizer.trainResidual(
      drifted, "embedding", "list", 64)
    val rResid = ProductQuantizer.residuals(
      drifted, "embedding", "list", cents1)
    val clip1 = ScalarQuantizer.clipReport(rResid, "resid", stats1)
      .collect()(0)
    assert(clip1.getAs[Long]("n_clipped") == 0L,
      "the retrained grid is the drifted corpus's own min/max")
  }

  test("adcTopK: deterministic across repartitionings") {
    val stats = ScalarQuantizer.train(emb, "embedding", 64)
    val codes = ScalarQuantizer.encode(emb, "vec_id", "embedding", stats)
    val q = emb.where($"vec_id" % 97 === 0)
    val a = ScalarQuantizer.adcTopK(q, "vec_id", "embedding",
      codes, "vec_id", stats, 5).orderBy("q_id", "vec_id").collect().toSeq
    val b = ScalarQuantizer.adcTopK(q, "vec_id", "embedding",
      codes.repartition(13), "vec_id", stats, 5)
      .orderBy("q_id", "vec_id").collect().toSeq
    assert(a == b)
  }
}
