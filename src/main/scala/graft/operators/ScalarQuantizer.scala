package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 8-bit SCALAR quantization for embedding columns — the missing middle
  * tier of the vector-compression ladder this engine ships: float32
  * (exact, [[Similarity.topKJoin]]) → SQ8 (4×, this file) → PQ (32×,
  * [[ProductQuantizer]]) → 1-bit SRP (256×, `Similarity.srpTopK`).
  * FAISS's `ScalarQuantizer` QT_8bit: per-dimension min/max over the
  * corpus, each coordinate stored as `round((x−mn)/(mx−mn)·255)` in one
  * byte, distances computed against the dequantized grid point
  * `mn + code·span/255`.
  *
  * Why it earns its slot at 100 TB: SQ8 needs NO codebook training
  * (two scalars per dimension — one partial-agg pass), recall is near
  * float-exact (quantization error ≤ span/510 per dim), and encode is
  * map-only with the 2·dim stats riding as literals. It is the default
  * first compression step before PQ's aggressive budgets.
  *
  * Exactness/portability: stats are exact float min/max (no rounding);
  * codes are integers from a fixed single-rounding chain
  * (`round(((x−mn)/span)·255)`, clamped); ADC terms are 6-dp-rounded
  * squared diffs against the dequantized value summed as DECIMAL
  * (order-free) and released as DOUBLE. A SQL oracle recomputes stats,
  * codes, and distances from the same parquet with the same op order.
  */
object ScalarQuantizer {

  /** Per-dimension quantization grid: `mins(d)` and `spans(d) =
    * max(d) − min(d)` — 2·dim driver scalars, the whole "model".
    * `maxs` carries the EXACT training-time upper edge when available:
    * the `mins + spans` reconstruction can land one ulp BELOW the true
    * max in IEEE, which would flag genuine training coordinates as
    * clipped (a false staleness signal — observed on residual-space
    * grids, whose magnitudes expose the rounding).
    */
  final case class Stats(mins: Array[Double], spans: Array[Double],
      maxs: Array[Double] = null) {
    require(mins.length == spans.length, "mins/spans length mismatch")
    require(maxs == null || maxs.length == mins.length,
      "maxs length mismatch")
    def dim: Int = mins.length
    def maxAt(p: Int): Double =
      if (maxs == null) mins(p) + spans(p) else maxs(p)
  }

  /** One dim-keyed partial-agg pass: exact per-dimension min/max. */
  def train(df: DataFrame, vecCol: String, dim: Int): Stats = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // a ragged vector must RAISE here too: a short vector still
    // posexplodes into leading positions and would silently shape the
    // grid while failing sizeGuarded only later, at encode time — train
    // on exactly the rows encode will accept
    val xd = col(vecCol).cast("array<double>")
    val rows = Parallelism.ensureCompute(df)
      .select(posexplode(sizeGuarded(xd, dim, xd)).as(Seq("p", "x")))
      .groupBy(col("p"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect() // bounded: dim rows, the model itself
    require(rows.length == dim,
      s"expected $dim dimensions, saw ${rows.length} (ragged vectors?)")
    val mins = new Array[Double](dim)
    val spans = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      val p = r.getInt(0)
      mins(p) = r.getDouble(1)
      maxs(p) = r.getDouble(2)
      spans(p) = r.getDouble(2) - r.getDouble(1)
    }
    Stats(mins, spans, maxs)
  }

  private def minsArr(stats: Stats): Column =
    array(stats.mins.toIndexedSeq.map(lit): _*)
  private def spansArr(stats: Stats): Column =
    array(stats.spans.toIndexedSeq.map(lit): _*)

  /** A ragged vector must RAISE, not encode: zip_with pads short arrays
    * with nulls, which would silently quantize a missing coordinate to
    * the grid floor (or null a query's whole distance and rank it
    * first under nulls-first asc). The QuantileSketch alpha-guard
    * pattern.
    */
  private def sizeGuarded(vec: Column, dim: Int, out: Column): Column =
    when(size(vec) =!= dim, raise_error(concat(
      lit("sq8: vector size "), size(vec).cast("string"),
      lit(s" != dim $dim")))).otherwise(out)

  /** Map-only encode: `codes` = array of 0..255 ints (stored long), a
    * constant dimension keeps zero-span columns at code 0. Carries
    * `idCol` plus `carryCols`.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, stats: Stats,
      carryCols: Seq[String] = Nil): DataFrame = {
    val xd = col(vecCol).cast("array<double>")
    val codes = zip_with(
      zip_with(xd, minsArr(stats), (x, m) => x - m), spansArr(stats),
      (v, s) => when(s === 0.0, 0L).otherwise(
        least(greatest(round(v / s * lit(255.0), 0).cast("long"), lit(0L)),
          lit(255L))))
    Parallelism.ensureCompute(df).select(
      (col(idCol) +: carryCols.map(col))
        :+ sizeGuarded(xd, stats.dim, codes).as("codes"): _*)
  }

  /** RESIDUAL grid for the IVF-SQ8 tier (the IVFADC lesson — Jégou et
    * al. 2011 §III-C — applied to the scalar quantizer): per-list mean
    * centroids from the coarse router's assignments, then ONE shared
    * per-dim min/max grid trained on the residuals `x − c(list)`
    * instead of the raw vectors. Still 2·dim scalars — the residual
    * projection concentrates each dimension's dynamic range around 0,
    * so the byte grid spends its 256 levels on the local displacement.
    * Encode/probe compose UNCHANGED: [[ProductQuantizer.residuals]] the
    * corpus and the query side with the returned centroids, then
    * [[encode]]/[[adcTopK]] on the residual column (`withinCol` =
    * the list) — within-list `‖(q−c)−(x−c)‖² = ‖q−x‖²` exactly.
    *
    * Honest audit note (committed, q245): at 8 bits/dim the RAW grid's
    * in-list ranking is already at the coarse-REACHABILITY ceiling on
    * the test corpus — routed recall is capped by which lists the
    * probe reaches, not by quantization error — so the residual grid's
    * value here is the tighter grid (lower per-coordinate error bound)
    * and the PQ-side symmetry, while the recall lever is probe width.
    * At starved bit budgets (PQ's 4 bits/subvector, q217/q218) the
    * same residual projection is worth real recall.
    */
  def trainResidual(corpus: DataFrame, vecCol: String, listCol: String,
      dim: Int, residCol: String = "resid")
      : (Map[Int, Array[Double]], Stats) = {
    val cents = ProductQuantizer.coarseCentroids(corpus, vecCol, listCol, dim)
    val resid = ProductQuantizer.residuals(corpus, vecCol, listCol, cents,
      residCol)
    (cents, train(resid, residCol, dim))
  }

  /** The frozen-grid STALENESS signal: fraction of coordinates falling
    * outside the training-time [min, max] box. A fresh batch clips
    * where the corpus distribution has moved — every clipped
    * coordinate saturates to code 0/255 and its quantization error is
    * unbounded, so a rising clip rate is the "retrain the grid" gate
    * (the DDSketch-W1 codebook-staleness pattern, one IEEE compare per
    * coordinate instead of a sketch). Map-only; returns one row
    * `(n_vecs, n_coords, n_clipped, clip_rate)`.
    */
  def clipReport(df: DataFrame, vecCol: String, stats: Stats): DataFrame = {
    val maxArr = array((0 until stats.dim).map(p => lit(stats.maxAt(p))): _*)
    val xd = col(vecCol).cast("array<double>")
    val below = aggregate(
      zip_with(xd, minsArr(stats), (x, m) => when(x < m, 1L).otherwise(0L)),
      lit(0L), (a, b) => a + b)
    val above = aggregate(
      zip_with(xd, maxArr, (x, m) => when(x > m, 1L).otherwise(0L)),
      lit(0L), (a, b) => a + b)
    Parallelism.ensureCompute(df)
      .select(sizeGuarded(xd, stats.dim, below + above).as("nc"))
      .agg(count(lit(1)).as("n_vecs"),
        (count(lit(1)) * stats.dim).as("n_coords"),
        // an empty batch must report 0, not NULL — a streaming monitor
        // summing these rows would otherwise yield a NULL retrain flag
        coalesce(sum(col("nc")), lit(0L)).as("n_clipped"))
      .select(col("n_vecs"), col("n_coords"), col("n_clipped"),
        when(col("n_coords") > 0,
          round(col("n_clipped").cast("double") / col("n_coords").cast("double"), 6))
          .otherwise(lit(0.0)).as("clip_rate"))
  }

  /** Asymmetric top-k: full-precision (broadcast) queries against the
    * SQ8-compressed corpus — one codes-only scan, per-pair distance a
    * dim-length fold against the dequantized grid, per-query ranking
    * window. Self-pairs excluded. Returns `(q_id, vec_id, d)`.
    *
    * `withinCol`: the IVF composition seam — when set, `codes` must
    * carry that column (encode with `carryCols`) and `queries` too;
    * each query scores ONLY same-valued corpus rows via an
    * equi-condition broadcast join, so the coarse router prunes the
    * pair mass exactly as it does for PQ (the q208 shape). The 100 TB
    * path: SQ8's brute scan is pair-mass-proportional by design;
    * production fronts it with IVF.
    *
    * `pairBudget`: the unrestricted (no `withinCol`) path is a full
    * `queries × codes` scan — at scale a caller must opt into that
    * quadratic mass explicitly. When set, a counts-only pre-pass prices
    * the scan and refuses over-budget before a single pair
    * materializes (the [[DataValuation.knnShapley]] gate).
    */
  def adcTopK(queries: DataFrame, qId: String, qVec: String,
      codes: DataFrame, cId: String, stats: Stats, k: Int,
      withinCol: Option[String] = None,
      pairBudget: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dec = zip_with(
      zip_with(col("codes"), spansArr(stats),
        (c, s) => c.cast("double") * s / lit(255.0)),
      minsArr(stats), (v, m) => m + v)
    val terms = zip_with(
      sizeGuarded(col("q_vec").cast("array<double>"), stats.dim,
        col("q_vec").cast("array<double>")), col("dec"),
      (a, b) => round((a - b) * (a - b), 6).cast("decimal(18,6)"))
    // dequantize BELOW the join: the projection runs once per corpus
    // row on the stream side, not once per (query, corpus) pair — the
    // q205 hoist-per-small-row-table lesson applied to the big side
    val corpus = codes.select(
      col(cId).as("vec_id") +: withinCol.map(col).toSeq :+ dec.as("dec"): _*)
    val probe = broadcast(queries.select(
      col(qId).as("q_id") +: withinCol.map(col).toSeq :+ col(qVec).as("q_vec"): _*))
    if (withinCol.isEmpty) pairBudget.foreach { budget =>
      val nq = probe.count(); val nc = codes.count()
      val mass = BigInt(nq) * BigInt(nc)
      System.err.println(s"[graft] sq8 adcTopK: $nq queries x $nc codes " +
        s"= $mass scored pairs (budget $budget)")
      require(mass <= BigInt(budget),
        s"planned SQ8 brute-scan pair mass $mass exceeds pairBudget " +
          s"$budget; front the scan with an IVF router (withinCol) or " +
          "raise the budget")
    }
    val scored = withinCol.fold(corpus.crossJoin(probe))(w => corpus.join(probe, Seq(w)))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("d",
        aggregate(terms,
          lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)"),
          (acc, t) => (acc + t).cast("decimal(28,6)")).cast("double"))
    Similarity.rankTopK(scored, "q_id", col("d").asc, "vec_id", k)(
      col("q_id"), col("vec_id"), col("d"))
  }
}
