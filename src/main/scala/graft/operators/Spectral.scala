package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spectral diagnostics over an embedding column: the dominant singular
  * direction of the (uncentered) row matrix by POWER ITERATION (von
  * Mises & Pollaczek-Geiringer 1929; the Krylov workhorse behind
  * embedding-collapse / anisotropy checks — Ethayarajh 2019 style: a
  * corpus whose vectors all lean into one direction has less usable
  * capacity than its dimension suggests, and `lambda` vs the total
  * mass quantifies it).
  *
  * Iteration: `w = Σ_rows x·(x·v)`, `v ← w / ‖w‖`, from `v₀ = e₁`.
  * Exactness/portability: the per-row dot `x·v` is a FIXED-ORDER fold
  * (left-to-right, the q75 list-arithmetic agreement) rounded to 6 dp;
  * per-dim accumulation sums 6-dp-rounded contributions as DECIMAL
  * (order-independent across partitionings, the q112 discipline); the
  * norm is computed from exact decimal squares with one sqrt and one
  * division per dim, each rounded 6 dp. The whole trajectory replays
  * on any engine.
  *
  * Scale shape: each iteration is ONE corpus map (v rides the plan as
  * `dim` double literals) + one dim-keyed partial agg whose map-side
  * combine caps partition output at `dim` rows. Driver state = `dim`
  * scalars — the q71/q159 iterate-with-a-tiny-model discipline. No
  * shuffle of the vector table, ever.
  *
  * Returns `(j, v, lambda)`: the unit direction (1-based dim index)
  * and the final iterate's growth factor `‖w‖` (→ top eigenvalue of
  * XᵀX as iterations grow).
  */
object Spectral {

  def powerIteration(vectors: DataFrame, vecCol: String,
      dim: Int, iters: Int = 3): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim must be in [2, 4096], got $dim")
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32], got $iters")
    val spark = vectors.sparkSession
    import spark.implicits._
    Pins.scoped { s =>
      val vecs = s.pin(Parallelism.ensureCompute(vectors)
        .select(col(vecCol).as("vec"))
        .where(size(col("vec")) === dim))
      var v = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.0)
      var lambda = 0.0
      val round6 = (x: Double) =>
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      for (_ <- 1 to iters) {
        val vlit = array(v.toIndexedSeq.map(x => lit(x)): _*)
        val dot = round(aggregate(
          zip_with(col("vec"), vlit, (x, vv) => x * vv),
          lit(0.0), (a, e) => a + e), 6)
        val sums = vecs.select(dot.as("d"), posexplode(col("vec")))
          .select((col("pos") + 1).cast("long").as("j"),
            round(col("col").cast("double") * col("d"), 6)
              .cast("decimal(18,6)").as("contrib"))
          .groupBy(col("j"))
          .agg(sum(col("contrib")).cast("decimal(38,6)").as("ws"))
          .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
        val ws = Array.tabulate(dim)(j => sums.getOrElse(j + 1L, BigDecimal(0)))
        val normSq = ws.map(w => w * w).sum
        val norm = math.sqrt(normSq.toDouble)
        require(norm > 0.0, "power iteration collapsed to the zero vector")
        lambda = round6(norm)
        v = ws.map(w => round6(w.toDouble / norm))
      }
      v.toIndexedSeq.zipWithIndex
        .map { case (x, j) => (j + 1L, x, lambda) }
        .toDF("j", "v", "lambda")
    }
  }
}
