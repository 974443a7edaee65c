package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic RESAMPLING significance tests for paired model
  * comparisons on a fixed eval set — the statistical-rigor step between
  * "model A scored higher" and "ship model A":
  *
  *  - [[pairedBootstrap]] — Efron's nonparametric bootstrap (Efron
  *    1979) over the PER-ITEM metric deltas: percentile CI on the mean
  *    delta plus the bootstrap probability the delta is ≤ 0.
  *  - [[signFlipTest]] — the sign-flip permutation test (Fisher's
  *    randomization argument; Good 2000 §3): under H₀ the per-item
  *    delta signs are exchangeable, so the null distribution is |Σ ±dᵢ|
  *    over random flips — EXACT integer arithmetic end to end, with the
  *    standard add-one permutation p-value.
  *
  * Determinism: the resample-index / sign streams come from the LCG
  * scramble `(x·1103515245 + 12345) mod (2³¹−1)` over `x = b·n + i + 1`
  * — the [[graft.functions.TextFunctions.portableUniform]] arithmetic
  * (q13f's permutation class): integer-only, every intermediate
  * < 2⁶², replayed exactly by the DuckDB oracles. No engine RNG is
  * ever consulted, so reruns, retries and both engines see the same
  * resamples.
  *
  * Scale shape: eval sets are BOUNDED by construction (an eval is a
  * drawn sample, not the corpus), so the rank sort and the B×n draw
  * table are bounded; per-replicate statistics are partial aggs over
  * the draw join, and the replicate table itself is B rows. The
  * corpus-sized part of an evaluation — scoring the models — happens
  * upstream; these tests consume the per-item deltas.
  */
object Significance {

  /** The portable LCG scramble into [0, 2³¹−1). The input is reduced
    * mod 2³¹−1 BEFORE the multiply, so the product stays < 2⁶² for ANY
    * 64-bit x — without the pre-reduction, b·n+i+1 overflows the
    * multiply once n·(B+1) passes ~8.4e9, silently in Spark (negative
    * rn dropped by the join) and loudly in DuckDB (BIGINT overflow):
    * the engines would diverge exactly at scale.
    */
  private def scramble(x: Column): Column =
    ((x % lit(2147483647L)) * lit(1103515245L) + lit(12345L)) %
      lit(2147483647L)

  /** The scramble, exposed for other deterministic resampling surfaces
    * (q287's cluster bootstrap draws its user stream from the same
    * arithmetic so every resampler in the engine replays identically).
    */
  def lcgScramble(x: Column): Column = scramble(x)

  /** Dense 0-based rank by the unique `idCol` — the resample axis.
    * Range-partitioned prefix sum ([[TrainingPrep.globalPrefixSum]]),
    * never a single-task global window: rank assignment stays
    * distributed even when an "eval set" is corpus-sized. The oracles
    * replay it as a plain `row_number` — same values by uniqueness of
    * the order key.
    */
  private def rankByKey(df: DataFrame): DataFrame =
    TrainingPrep.globalPrefixSum(
      df.withColumn("__one", lit(1L)), "id", "__one", "__cum")
      .select(col("id"), col("d"), (col("__cum") - 1L).as("rn"))

  /** Percentile-bootstrap report for the mean per-item delta. `items`
    * must carry a UNIQUE `idCol` (the resample rank order) and an
    * integer `deltaCol` (e.g. `a_correct − b_correct` ∈ {−1,0,1}).
    * Returns one row:
    * (n_items, n_boot, mean_delta, ci_lo, ci_hi, p_leq_zero) with the
    * nearest-rank ceil(α·B) percentile convention and ties in the
    * replicate order broken by replicate id.
    *
    * Arithmetic: per-replicate sums are exact BIGINT (deltas are
    * integers); each replicate mean is ONE division captured to
    * DECIMAL(20,10); the CI bounds are order statistics of those
    * decimals (no further arithmetic); p and the full-sample mean are
    * one captured division each.
    */
  def pairedBootstrap(items: DataFrame, idCol: String, deltaCol: String,
      nBoot: Int = 200): DataFrame = {
    require(nBoot >= 10 && nBoot <= 100000,
      s"nBoot must be in [10, 100000], got $nBoot")
    val spark = items.sparkSession
    val base = items.select(col(idCol).as("id"),
      col(deltaCol).cast("long").as("d"))
    val ranked = rankByKey(base)
    // one action for both driver scalars (n seeds the LCG literals;
    // optimization round 13: was a count + a separate sum job)
    val nObs = ranked.agg(count(lit(1)), sum(col("d"))).head()
    val n = nObs.getLong(0)
    require(n > 0, "empty eval set")
    val obs = nObs.getLong(1)
    val draws = spark.range(nBoot).select(col("id").as("b"))
      .crossJoin(ranked.select(col("rn").as("i")))
      .select(col("b"),
        (scramble(col("b") * lit(n) + col("i") + lit(1L)) % lit(n)).as("rn"))
    val means = draws.join(ranked, Seq("rn"))
      .groupBy(col("b")).agg(sum(col("d")).as("s"))
      .select(col("b"), (col("s").cast("double") / lit(n).cast("double"))
        .cast("decimal(20,10)").as("m"))
      .localCheckpoint()
    val loRank = math.ceil(0.025 * nBoot).toLong
    val hiRank = math.ceil(0.975 * nBoot).toLong
    // CI bounds and the p-mass fold into ONE lazy aggregation over one
    // pass of the rank window (was: two head() jobs + a count job, each
    // replanning the window) — same order statistics, same values
    means.withColumn("r",
        row_number().over(Window.orderBy(col("m"), col("b"))).cast("long"))
      .agg(
        min(when(col("r") === loRank, col("m"))).as("__lo"),
        min(when(col("r") === hiRank, col("m"))).as("__hi"),
        count(when(col("m") <= lit(java.math.BigDecimal.ZERO), 1)).as("__pleq"))
      .select(
        lit(n).as("n_items"), lit(nBoot).as("n_boot"),
        (lit(obs).cast("double") / lit(n).cast("double"))
          .cast("decimal(18,6)").cast("double").as("mean_delta"),
        col("__lo").cast("double").as("ci_lo"),
        col("__hi").cast("double").as("ci_hi"),
        (col("__pleq").cast("double") / lit(nBoot.toLong).cast("double"))
          .cast("decimal(18,6)").cast("double").as("p_leq_zero"))
  }

  /** Sign-flip permutation test on the per-item deltas: the observed
    * |Σ dᵢ| against `nPerm` sign-flipped replicates, add-one p-value
    * `(1 + #{|Σ ±dᵢ| ≥ obs}) / (nPerm + 1)`. EXACT integers until the
    * one p division. Returns one row:
    * (n_items, n_perm, sum_delta, p_value).
    */
  def signFlipTest(items: DataFrame, idCol: String, deltaCol: String,
      nPerm: Int = 200): DataFrame = {
    require(nPerm >= 10 && nPerm <= 100000,
      s"nPerm must be in [10, 100000], got $nPerm")
    val spark = items.sparkSession
    val base = items.select(col(idCol).as("id"),
      col(deltaCol).cast("long").as("d"))
    val ranked = rankByKey(base)
    // one action for both driver scalars (optimization round 13; the
    // null-distribution count folds into the final lazy plan instead of
    // a separate count() job)
    val nObs = ranked.agg(count(lit(1)), sum(col("d"))).head()
    val n = nObs.getLong(0)
    require(n > 0, "empty eval set")
    val obs = nObs.getLong(1)
    val flips = spark.range(nPerm).select(col("id").as("b"))
      .crossJoin(ranked.select(col("rn"), col("d")))
      .select(col("b"),
        ((lit(1L) - lit(2L) *
          (scramble(col("b") * lit(n) + col("rn") + lit(1L)) % lit(2L)))
          * col("d")).as("sd"))
    flips.groupBy(col("b")).agg(sum(col("sd")).as("s"))
      .agg(count(when(abs(col("s")) >= math.abs(obs), 1)).as("__ge"))
      .select(
        lit(n).as("n_items"), lit(nPerm).as("n_perm"),
        lit(obs).as("sum_delta"),
        ((lit(1L) + col("__ge")).cast("double") /
          lit(nPerm + 1L).cast("double"))
          .cast("decimal(18,6)").cast("double").as("p_value"))
  }
}
