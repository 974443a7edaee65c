package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class DataValuationSpec extends SparkSuite {

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("knnShapley: efficiency — per-test values sum to top-K agreement") {
    // Shapley efficiency: Σ_i s_i(test) = u(full set) = (1/K)·Σ_{j<=K} ind(α_j).
    // Re-derive both sides independently per test point and compare at 6 dp
    // (the per-test sums are exact decimals; the mean step is the only
    // place the operator rounds, so sum per-test values via the raw terms).
    val k = 5
    val test = emb.where(col("vec_id") < 8)
    val train = emb.where(col("vec_id") >= 8)
    val perTrain = DataValuation.knnShapley(
      test, "vec_id", "embedding", "label",
      train, "vec_id", "embedding", "label", k = k)
    // Σ over train of the MEAN over tests == mean over tests of Σ over
    // train == mean over tests of u(test). Left side from the operator:
    val lhs = perTrain.agg(sum(col("shap"))).collect()(0).getDouble(0)
    // Right side independently: top-K agreement fraction per test point.
    val q = test.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
      col("label").as("q_lab"))
    val scored = train.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_lab"))
      .crossJoin(broadcast(q))
      .withColumn("sim",
        round(graft.plans.VectorExpressions.cosine(col("q_vec"), col("c_vec")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    val u = scored.withColumn("i", row_number().over(w))
      .where(col("i") <= k)
      .groupBy(col("q_id"))
      .agg((sum(when(col("c_lab") <=> col("q_lab"), 1.0).otherwise(0.0)) / k)
        .as("u"))
      .agg(avg(col("u"))).collect()(0).getDouble(0)
    // lhs sums 492 six-dp-rounded means -> tolerance covers the rounding
    assert(math.abs(lhs - u) < 492 * 5e-7 + 1e-9,
      s"efficiency violated: sum(shap)=$lhs vs mean top-K agreement=$u")
  }

  test("knnShapley: deterministic across runs and repartitionings") {
    val test = emb.where(col("vec_id") < 8)
    val a = DataValuation.knnShapley(
      test, "vec_id", "embedding", "label",
      emb.where(col("vec_id") >= 8), "vec_id", "embedding", "label", k = 5)
      .orderBy("vec_id").collect().toSeq
    val b = DataValuation.knnShapley(
      test, "vec_id", "embedding", "label",
      emb.where(col("vec_id") >= 8).repartition(17), "vec_id", "embedding",
      "label", k = 5)
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("knnShapley: values are signed — harmful points exist in-corpus") {
    val out = DataValuation.knnShapley(
      emb.where(col("vec_id") < 8), "vec_id", "embedding", "label",
      emb.where(col("vec_id") >= 8), "vec_id", "embedding", "label", k = 5)
    val neg = out.where(col("shap") < 0).count()
    val pos = out.where(col("shap") > 0).count()
    assert(pos > 0, "no positively-valued training points")
    assert(neg > 0, "no negatively-valued training points (synthetic labels " +
      "disagree often enough that some neighbors must hurt)")
  }

  test("knnAccuracyScored: hand case — k flips the majority, ties pick the smaller label") {
    import spark.implicits._
    val test = Seq((100L, Array(1.0f, 0.0f), 1)).toDF("id", "vec", "lab")
    val train = Seq(
      (1L, Array(1.0f, 0.0f), 1),    // nearest, agrees
      (2L, Array(0.9f, 0.1f), 0),    // second, disagrees
      (3L, Array(0.8f, 0.2f), 0)     // third, disagrees
    ).toDF("id", "vec", "lab")
    def accAt(k: Int): Double = DataValuation.knnAccuracyScored(
      DataValuation.scorePairs(test, "id", "vec", "lab", train, "id", "vec", "lab"), k)
      .collect()(0).getAs[Double]("accuracy")
    assert(accAt(1) == 1.0, "1-NN: the agreeing nearest neighbor wins")
    assert(accAt(3) == 0.0, "3-NN: the disagreeing majority wins")
    // 2-NN: one vote each -> tie resolves to the SMALLEST label (0) -> wrong
    assert(accAt(2) == 0.0, "vote tie must break toward the smaller label")
  }

  test("plan shape: broadcast probe, no cartesian, one test-keyed window chain") {
    val out = DataValuation.knnShapley(
      emb.where(col("vec_id") < 8), "vec_id", "embedding", "label",
      emb.where(col("vec_id") >= 8), "vec_id", "embedding", "label", k = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the bounded eval set must ride a broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"valuation probe degenerated to a shuffled cartesian:\n$plan")
  }

  test("knnShapley: planted label noise values strictly lower on clustered data") {
    import spark.implicits._
    // 4 tight clusters, label = cluster; flip every 8th train point's label
    def vec(c: Int, i: Int): Array[Float] =
      Array.tabulate(8)(j => (if (j == c * 2) 10f else 0f) + (i % 3) * 0.01f)
    val train = (0 until 40).map { i =>
      val c = i % 4
      val lab = if (i % 8 == 0) (c + 1) % 4 else c
      (i.toLong, vec(c, i), lab)
    }.toDF("id", "v", "lab")
    val test = (0 until 4).map(c => (100L + c, vec(c, 0), c))
      .toDF("id", "v", "lab")
    val shap = DataValuation.knnShapley(
      test, "id", "v", "lab", train, "id", "v", "lab", k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val (flipped, clean) = (0 until 40).partition(_ % 8 == 0)
    val mf = flipped.map(i => shap(i.toLong)).sum / flipped.size
    val mc = clean.map(i => shap(i.toLong)).sum / clean.size
    assert(mf < mc && mf < 0,
      s"mislabeled cluster members must value lower: flipped=$mf clean=$mc")
  }

  test("knnShapley: pairBudget refuses over-budget mass before the join") {
    val e = intercept[IllegalArgumentException] {
      DataValuation.knnShapley(
        emb.where(col("vec_id") < 8), "vec_id", "embedding", "label",
        emb.where(col("vec_id") >= 8), "vec_id", "embedding", "label",
        k = 5, pairBudget = Some(100L))
    }
    assert(e.getMessage.contains("pairBudget"))
  }
}
