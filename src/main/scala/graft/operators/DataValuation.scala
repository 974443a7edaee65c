package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.VectorExpressions

/** Training-data valuation: which corpus rows actually help the model?
  *
  * Exact KNN-Shapley (Jia, Dao, Wang et al. 2019, "Efficient Task-Specific
  * Data Valuation for Nearest Neighbor Algorithms", PVLDB 12(11),
  * Theorem 1): for a K-NN classifier the Shapley value of every training
  * point against ONE test point has a closed form over the
  * distance-sorted ordering α (α_1 nearest):
  *
  *   s(α_N) = 1[y(α_N) = y_test] / N
  *   s(α_i) = s(α_{i+1}) + (1[y(α_i)=y] − 1[y(α_{i+1})=y]) / K · min(K,i) / i
  *
  * — an O(N log N) SORT, not the exponential coalition enumeration. The
  * recurrence telescopes into a per-test SUFFIX SUM, which is exactly a
  * window aggregate: this engine computes the full exact value of every
  * training point with two shuffles (one window partition by test point,
  * one final per-train-point average), no driver state at all.
  *
  * Scale shape (100 TB): the TEST side is the bounded one by design —
  * valuation is always "against this eval set" — so it broadcasts, the
  * corpus is scanned once, and the pair mass is |test|·|train|, priced
  * counts-only BEFORE the cross product when `pairBudget` is set (the
  * q126/q191 fail-fast discipline: blocked/cross joins cost pair mass,
  * not rows). Per-test ranking windows shuffle |test|·|train| scored
  * rows once on the test key; the final average is a partial-agg
  * groupBy on the train key.
  *
  * Exactness/portability: similarities ride the q14 recipe (cosine
  * rounded to 6 dp BEFORE ranking, ties by train id, so rank boundaries
  * are stable across FP summation orders); each recurrence term is a
  * single IEEE division of small integers rounded to 12 dp and summed
  * as DECIMAL(38,12) — order-independent across any partitioning — and
  * the final per-point value is one division by the test count, rounded
  * to 6 dp. A SQL oracle replays the whole computation with the same
  * two windows.
  */
object DataValuation {

  /** Exact KNN-Shapley value of every `train` row against the `test`
    * eval set. `test` must be small (broadcast; it is the bounded eval
    * set by construction). Returns `(vec_id, n_test, shap)` — one row
    * per train point, `shap` the mean over test points of the per-test
    * closed-form value, rounded to 6 dp.
    *
    * `k` is the K of the K-NN classifier being valued (not a top-k
    * cutoff — every train point gets a value). `pairBudget` prices the
    * |test|·|train| scored mass with two counts-only aggregates and
    * refuses over-budget before a single pair materializes.
    */
  def knnShapley(
      test: DataFrame, tId: String, tVec: String, tLabel: String,
      train: DataFrame, cId: String, cVec: String, cLabel: String,
      k: Int, pairBudget: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = test.select(col(tId).as("q_id"), col(tVec).as("q_vec"),
      col(tLabel).as("q_lab"))
    val c = Parallelism.ensureCompute(train).select(col(cId).as("c_id"),
      col(cVec).as("c_vec"), col(cLabel).as("c_lab"))
    pairBudget.foreach { budget =>
      val nq = q.count(); val nc = c.count()
      val mass = BigInt(nq) * BigInt(nc)
      System.err.println(s"[graft] knnShapley: $nq test x $nc train = " +
        s"$mass scored pairs (budget $budget)")
      require(mass <= BigInt(budget),
        s"planned valuation pair mass $mass exceeds pairBudget $budget; " +
          "shrink the eval set (the bounded side) or raise the budget")
    }
    knnShapleyScored(scorePairs(test, tId, tVec, tLabel,
      train, cId, cVec, cLabel), k)
  }

  /** The shared pair-scoring surface: the bounded test side broadcast
    * against the corpus, 6-dp cosine per pair — `(q_id, c_id, q_lab,
    * c_lab, sim)`. [[knnShapley]] and [[knnAccuracyScored]] both rank THIS
    * relation, so a caller comparing several readouts (q234's
    * before/after audit) scores the pairs ONCE (localCheckpoint it)
    * instead of once per readout.
    */
  def scorePairs(
      test: DataFrame, tId: String, tVec: String, tLabel: String,
      train: DataFrame, cId: String, cVec: String, cLabel: String): DataFrame = {
    val q = test.select(col(tId).as("q_id"), col(tVec).as("q_vec"),
      col(tLabel).as("q_lab"))
    val c = Parallelism.ensureCompute(train).select(col(cId).as("c_id"),
      col(cVec).as("c_vec"), col(cLabel).as("c_lab"))
    c.crossJoin(broadcast(q))
      .withColumn("sim",
        round(VectorExpressions.cosine(col("q_vec"), col("c_vec")), 6))
      .select(col("q_id"), col("c_id"), col("q_lab"), col("c_lab"), col("sim"))
  }

  /** [[knnShapley]] over a prebuilt [[scorePairs]] relation. */
  def knnShapleyScored(scored: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val byQ = Window.partitionBy(col("q_id"))
    val rankW = byQ.orderBy(col("sim").desc, col("c_id").asc)
    val iW = byQ.orderBy(col("i").asc)
    // the suffix sum MUST be phrased as a RUNNING frame over descending
    // rank: Spark executes (currentRow, unboundedFollowing) frames by
    // re-aggregating the remainder per row — O(n²) per test partition,
    // measured 46x at 10x data — while (unboundedPreceding, currentRow)
    // is incremental. Decimal terms sum order-free, so the value is
    // identical to the oracle's suffix formulation.
    val suffixW = byQ.orderBy(col("i").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kL = lit(k.toLong)
    scored
      .withColumn("ind",
        when(col("c_lab") <=> col("q_lab"), 1L).otherwise(0L))
      .select(col("q_id"), col("c_id"), col("ind"),
        row_number().over(rankW).cast("long").as("i"),
        count(lit(1)).over(byQ).as("n"))
      // the farthest point seeds the recurrence; every other rank-i row
      // contributes the telescoped delta term. Small-int division, one
      // IEEE op, immediately 12-dp rounded -> decimal (order-free sum).
      .withColumn("term",
        when(col("i") === col("n"),
          round(col("ind").cast("double") / col("n").cast("double"), 12))
          .otherwise(round(
            ((col("ind") - lead(col("ind"), 1).over(iW)) * least(kL, col("i")))
              .cast("double") / (kL * col("i")).cast("double"), 12))
          .cast("decimal(38,12)"))
      .withColumn("s", sum(col("term")).over(suffixW))
      .groupBy(col("c_id").as("vec_id"))
      .agg(count(lit(1)).as("n_test"),
        round(sum(col("s")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("shap"))
  }

  /** Exact K-NN classification accuracy over a prebuilt [[scorePairs]]
    * relation — the utility u(S) the Shapley values decompose, as a
    * one-row report `(n_train, n_correct, n_test, accuracy)` with
    * `n_train` the relation's distinct train ids. Majority vote over the
    * 6-dp-cosine top-k (ties by train id), vote ties broken toward the
    * SMALLEST label — deterministic and SQL-replayable.
    */
  def knnAccuracyScored(scored: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    // nulls LAST to match ANSI/DuckDB default ASC ordering (Spark's
    // default asc puts nulls first — a null-labeled vote tie would
    // silently flip the winner between engines)
    val voteW = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("c_lab").asc_nulls_last)
    val nTrain = scored.select(col("c_id")).distinct().count()
    scored
      .withColumn("rn", row_number().over(rankW))
      .where(col("rn") <= k)
      .groupBy(col("q_id"), col("q_lab"), col("c_lab"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(voteW))
      .where(col("vr") === 1)
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("c_lab") <=> col("q_lab"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(lit(nTrain).as("n_train"), col("n_correct"), col("n_test"),
        round(col("n_correct").cast("double") / col("n_test").cast("double"), 6)
          .as("accuracy"))
  }
}
