package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Expectations gate: the one-pass violation report (a NULL predicate
  * result counts as a violation), and the evaluation metrics. */
class QualitySpec extends SparkSuite {
  import spark.implicits._

  private def rows = Seq(
    (1L, Some(10.0), "ok"),
    (2L, Some(-5.0), "ok"),    // fails positive
    (3L, None, "ok"),          // null price -> fails positive (null != pass)
    (4L, Some(20.0), "bad"),   // fails status
    (5L, Some(-1.0), "bad")    // fails both
  ).toDF("id", "price", "status")

  private val exps = Seq(
    Quality.Expectation("positive_price", $"price" > 0),
    Quality.Expectation("ok_status", $"status" === "ok"))

  test("report counts violations per expectation in one aggregate") {
    val rep = Quality.report(rows, exps)
      .select($"expectation", $"n_violations", $"n_rows")
      .as[(String, Long, Long)].collect().toSet
    assert(rep == Set(
      ("positive_price", 3L, 5L),
      ("ok_status", 2L, 5L)))
  }

  test("Metrics.agreement: perfect raters kappa=1, skewed-base-rate kappa ~0") {
    def lab(pairs: Seq[(Boolean, Boolean)]) = pairs.toDF("a", "b")
    val perfect = Metrics.agreement(
      lab(Seq((true, true), (false, false), (true, true), (false, false))),
      $"a", $"b").head()
    assert(perfect.getDouble(7) == 1.0, s"got $perfect")
    // raw agreement 84% but labels near-independent: kappa must collapse
    // toward 0 (the base-rate illusion kappa exists to correct). 50 rows:
    // both raters 90% true, agree on 42 of 50 -> po=0.84, pe=0.82,
    // kappa=(0.84-0.82)/0.18 ~ 0.11
    val skew = (1 to 50).map { i => (i <= 45, i <= 41 || i > 46) }
    val k = Metrics.agreement(lab(skew), $"a", $"b").head()
    assert(math.abs(k.getDouble(7)) < 0.15,
      s"raw p_o=${k.getDouble(5)} but kappa must be near 0: $k")
    assert(k.getDouble(5) > 0.8, "raw agreement IS high — that's the trap")
    // degenerate: both raters constant-true -> pe=1 -> NULL kappa
    val const = Metrics.agreement(
      lab(Seq((true, true), (true, true))), $"a", $"b").head()
    assert(const.isNullAt(7), s"got $const")
  }

  test("Metrics.rocAuc: perfect=1, reversed=0, all-ties=0.5, midranks, one-class NULL") {
    def auc(rows: Seq[(Double, Boolean)]): Row =
      Metrics.rocAuc(rows.toDF("score", "y"), "score", "y").head()
    val perfect = auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)))
    assert(perfect.getLong(0) == 2L && perfect.getLong(1) == 2L &&
      perfect.getDouble(2) == 1.0, s"got $perfect")
    val reversed = auc(Seq((0.9, false), (0.8, false), (0.2, true), (0.1, true)))
    assert(reversed.getDouble(2) == 0.0, s"got $reversed")
    val ties = auc(Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false)))
    assert(ties.getDouble(2) == 0.5, s"all-tied must midrank to 0.5: $ties")
    // hand case with a tie straddling the classes: scores
    // pos {0.7, 0.5}, neg {0.5, 0.2}: U = 1 + 0.5 + 1 + 1? per-pair:
    // (0.7 beats both) 2 + (0.5 vs 0.5 tie) 0.5 + (0.5 vs 0.2) 1 = 3.5
    // AUC = 3.5 / 4 = 0.875
    val mixed = auc(Seq((0.7, true), (0.5, true), (0.5, false), (0.2, false)))
    assert(mixed.getDouble(2) == 0.875, s"got $mixed")
    val oneClass = auc(Seq((0.9, true), (0.1, true)))
    assert(oneClass.isNullAt(2), s"got $oneClass")
  }

  test("Metrics.averagePrecision: perfect=1, reversed hand value, ties, one-class NULL") {
    def ap(rows: Seq[(Double, Boolean)]): Row =
      Metrics.averagePrecision(rows.toDF("score", "y"), "score", "y").head()
    val perfect = ap(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)))
    assert(perfect.getLong(0) == 2L && perfect.getLong(1) == 2L &&
      perfect.getDouble(2) == 1.0, s"got $perfect")
    // reversed: thresholds desc — precisions 0/1, 0/2, 1/3, 2/4; AP =
    // (round(1/3,6) + 0.5) / 2 = 0.416667 (rounded)
    val reversed = ap(Seq((0.9, false), (0.8, false), (0.2, true), (0.1, true)))
    assert(reversed.getDouble(2) == 0.416667, s"got $reversed")
    // a tied threshold mixes the classes: single threshold, precision 1/2
    val tied = ap(Seq((0.5, true), (0.5, false)))
    assert(tied.getDouble(2) == 0.5, s"got $tied")
    val oneClass = ap(Seq((0.9, true), (0.1, true)))
    assert(oneClass.isNullAt(2), s"got $oneClass")
  }

  test("Metrics.pearsonResiduals: signs localize the dependence, absent cell surfaces") {
    // a=x goes with b=u (20), a=y with b=v (20); one crossover (x,v) x 10;
    // (y,u) never occurs — the absent cell must appear with o=0
    val rows = (Seq.fill(20)(("x", "u")) ++ Seq.fill(20)(("y", "v")) ++
      Seq.fill(10)(("x", "v"))).toDF("a", "b")
    val got = Metrics.pearsonResiduals(rows, "a", "b").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 4, s"full axes cross expected: $got")
    // n=50; ca: x=30, y=20; cb: u=20, v=30
    val (oXU, eXU, rXU) = got(("x", "u"))
    assert(oXU == 20L && eXU == 12.0 && rXU > 2.0, s"got $got")
    val (oYU, eYU, rYU) = got(("y", "u"))
    assert(oYU == 0L && eYU == 8.0 && rYU < -2.0,
      s"the absent cell must surface with a strong negative residual: $got")
    assert(got(("x", "v"))._3 < 0 && got(("y", "v"))._3 > 0, s"got $got")
  }

  test("Metrics.mutualInformation: independence=0, determinism=entropy, nmi=1") {
    val indep = (for (a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 25)
      yield (a, b)).toDF("a", "b")
    val i = Metrics.mutualInformation(indep, "a", "b").head()
    assert(i.getDouble(1) == 0.0, s"independent facets must score 0: $i")
    assert(i.isNullAt(4) == false && i.getDouble(4) == 0.0, s"nmi 0: $i")
    // b determined by a -> MI = H(a) = H(b), NMI = 1
    val det = (Seq.fill(30)(("x", "u")) ++ Seq.fill(70)(("y", "v")))
      .toDF("a", "b")
    val d = Metrics.mutualInformation(det, "a", "b").head()
    assert(d.getDouble(1) == d.getDouble(2) && d.getDouble(1) == d.getDouble(3),
      s"deterministic pair: MI == both entropies: $d")
    assert(d.getDouble(4) == 1.0, s"nmi must be 1: $d")
    // hand value: H = -(0.3 ln 0.3 + 0.7 ln 0.7)
    val want = BigDecimal(-(0.3 * math.log(0.3) + 0.7 * math.log(0.7)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(d.getDouble(2) - want) < 2e-6, s"H(a) off: $d vs $want")
  }

  test("Metrics.fleissKappa: perfect agreement scores 1") {
    val df = Seq((1L, "a", "a", "a"), (2L, "b", "b", "b"), (3L, "a", "a", "a"))
      .toDF("id", "r1", "r2", "r3")
    val r = Metrics.fleissKappa(df, "id", Seq("r1", "r2", "r3")).head()
    assert(r.getLong(0) == 3L && r.getInt(1) == 3 && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 1.0, s"p_bar: $r")
    assert(r.getDouble(5) == 1.0, s"kappa: $r")
  }

  test("Metrics.fleissKappa: chance-level agreement scores 0 (m=2 Scott's pi)") {
    // (a,a),(a,b),(b,a),(b,b): P-bar = 0.5, balanced margins -> p_e = 0.5
    val df = Seq((1L, "a", "a"), (2L, "a", "b"), (3L, "b", "a"), (4L, "b", "b"))
      .toDF("id", "r1", "r2")
    val r = Metrics.fleissKappa(df, "id", Seq("r1", "r2")).head()
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 0.5, s"$r")
    assert(r.getDouble(5) == 0.0, s"kappa must be 0 at chance: $r")
  }

  test("Metrics.fleissKappa: m=3 hand case and the exact capture arithmetic") {
    // items (a,a,a) and (a,b,b): P-bar = (6+2)/12 = 2/3;
    // p_a = 4/6, p_b = 2/6 -> p_e = captured(4/6)^2 + captured(2/6)^2
    val df = Seq((1L, "a", "a", "a"), (2L, "a", "b", "b"))
      .toDF("id", "r1", "r2", "r3")
    val r = Metrics.fleissKappa(df, "id", Seq("r1", "r2", "r3")).head()
    val pa = 4.0 / 6.0; val pb = 2.0 / 6.0
    val pe = BigDecimal(pa * pa).setScale(10, BigDecimal.RoundingMode.HALF_UP) +
      BigDecimal(pb * pb).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    val pBar = 8.0 / 12.0
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == r6(pBar), s"p_bar: $r")
    assert(r.getDouble(4) == r6(pe.toDouble), s"p_e: $r")
    assert(r.getDouble(5) ==
      r6((pBar - pe.toDouble) / (1.0 - pe.toDouble)), s"kappa: $r")
  }

  test("Metrics.fleissKappa: duplicated item ids refuse loudly") {
    val dup = Seq((1L, "a", "b"), (1L, "a", "b"), (2L, "b", "a"))
      .toDF("id", "r1", "r2")
    val e = intercept[Exception] {
      Metrics.fleissKappa(dup, "id", Seq("r1", "r2")).collect()
    }
    assert(e.getMessage.contains("vote count != m"),
      s"duplicate ids must not inflate agreement silently: ${e.getMessage}")
  }

  test("Metrics.fleissKappa: constant equal raters -> NULL kappa; null rater rows excluded") {
    val const = Seq((1L, "a", "a"), (2L, "a", "a")).toDF("id", "r1", "r2")
    val rc = Metrics.fleissKappa(const, "id", Seq("r1", "r2")).head()
    assert(rc.isNullAt(5), s"degenerate p_e = 1 must yield NULL kappa: $rc")
    val withNull = Seq((1L, Some("a"), Some("a")), (2L, Some("a"), None))
      .toDF("id", "r1", "r2")
    val rn = Metrics.fleissKappa(withNull, "id", Seq("r1", "r2")).head()
    assert(rn.getLong(0) == 1L, s"abstained item must be excluded: $rn")
  }
}
