package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSuite

class EntityResolutionSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val prefix4: Seq[Column => Column] = Seq(s => substring(s, 1, 4))

  test("fuzzyPairs: typo pairs found within a block, distance exact, no cross-block pairs") {
    val people = Seq(
      (1L, "smith john"), (2L, "smith jahn"),   // 1 substitution
      (3L, "smith jean"),                        // 2 subs from #1, 2 from #2
      (4L, "jones mary"), (5L, "jones mary")     // exact duplicate
    ).toDF("id", "name")
    val got = EntityResolution.fuzzyPairs(people, "id", "name",
        prefix4, maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (4L, 5L, 0L)), s"got $got")
  }

  test("fuzzyPairs: a pair missed by one mask is recovered by another pass") {
    // names differ in char 1: same-prefix blocking misses them; a
    // suffix-key pass co-blocks them
    val recs = Seq((1L, "axyz"), (2L, "bxyz"), (3L, "qqqq")).toDF("id", "name")
    val prefixOnly: Seq[Column => Column] = Seq(s => substring(s, 1, 2))
    val both: Seq[Column => Column] =
      Seq(s => substring(s, 1, 2), s => substring(s, -3, 3))
    val miss = EntityResolution.fuzzyPairs(recs, "id", "name", prefixOnly, maxDist = 1)
      .as[(Long, Long, Long)].collect()
    assert(miss.isEmpty, s"prefix-only should miss: ${miss.toSeq}")
    val hit = EntityResolution.fuzzyPairs(recs, "id", "name", both, maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(hit == Set((1L, 2L, 1L)), s"got $hit")
  }

  test("fuzzyPairs: candidates proposed by BOTH passes dedupe to one row") {
    val recs = Seq((1L, "abcd"), (2L, "abcd")).toDF("id", "name")
    val both: Seq[Column => Column] =
      Seq(s => substring(s, 1, 2), s => substring(s, -2, 2))
    val got = EntityResolution.fuzzyPairs(recs, "id", "name", both, maxDist = 0)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 0L)), s"got ${got.toSeq}")
  }

  test("plan shape: the block-size cap is a partial-agg gate, never a window sort") {
    // the gate must come from a counts-only aggregation + semi-join — a
    // count-per-key window would shuffle AND sort the full candidate rows
    // a second time just to read a size
    val recs = (1L to 50L).map(i => (i, s"name_$i")).toDF("id", "name")
    val plan = EntityResolution.fuzzyPairs(recs, "id", "name",
      prefix4, maxDist = 1).queryExecution.executedPlan
    // walk into the adaptive plan: a bare `plan.collect` stops at the
    // AdaptiveSparkPlanExec leaf and finds nothing either way
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"cap regressed to a window:\n$plan")
  }

  test("fuzzyPairs: oversized blocks are dropped whole (degenerate-key guard)") {
    // 20 rows share one degenerate key; cap 10 drops the block entirely
    val recs = (1L to 20L).map(i => (i, "same")).toDF("id", "name")
    val got = EntityResolution.fuzzyPairs(recs, "id", "name",
      prefix4, maxDist = 2, maxBlockSize = 10)
    assert(got.count() == 0, "capped block must contribute no pairs")
    val uncapped = EntityResolution.fuzzyPairs(recs, "id", "name",
      prefix4, maxDist = 2, maxBlockSize = 1000)
    assert(uncapped.count() == 190L, "20 choose 2 when the cap is lifted")
  }

  test("linkageWeights: hand-computed Fellegi-Sunter sums, nulls contribute zero, guards") {
    val pairs = Seq(
      (1L, 2L, Some(true), Some(true)),   // both agree
      (3L, 4L, Some(true), Some(false)),  // mixed
      (5L, 6L, None, Some(false))         // missing first comparison
    ).toDF("id_a", "id_b", "f1", "f2")
    val fields = Seq(("f1", 0.9, 0.1), ("f2", 0.8, 0.2))
    val got = EntityResolution.linkageWeights(pairs, fields)
      .select("id_a", "link_weight")
      .as[(Long, Double)].collect().toMap
    def w(m: Double, u: Double, agree: Boolean): BigDecimal = {
      val x = if (agree) m / u else (1 - m) / (1 - u)
      BigDecimal(math.log(x) / math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    assert(got(1L) == (w(0.9, 0.1, true) + w(0.8, 0.2, true)).toDouble)
    assert(got(3L) == (w(0.9, 0.1, true) + w(0.8, 0.2, false)).toDouble)
    assert(got(5L) == w(0.8, 0.2, false).toDouble,
      "a NULL comparison must contribute exactly zero")
    intercept[IllegalArgumentException] {
      EntityResolution.linkageWeights(pairs, Seq(("f1", 0.1, 0.9)))
    }
    intercept[IllegalArgumentException] {
      EntityResolution.linkageWeights(pairs, Seq.empty)
    }
  }

  test("estimateU: hand-checked agreement rates over the cross-slice pairs") {
    // ids 0,4 land in slice A (id%4==0); 1,5 in slice B (id%4==1)
    val recs = Seq(
      (0L, "x", 1L), (4L, "y", 2L),
      (1L, "x", 1L), (5L, "z", 2L),
      (2L, "q", 9L), (3L, "q", 9L) // other cells: not sampled
    ).toDF("id", "s", "g")
    val got = EntityResolution.estimateU(recs, "id", Seq(
        ("s_eq", "s", (a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) => a === b),
        ("g_eq", "g", (a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) => a === b)), cells = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // pairs: (0,1)(0,5)(4,1)(4,5) -> s agrees only (0,1); g agrees (0,1),(4,5)
    assert(got("s_eq") == ((4L, 1L, 0.25)), s"got $got")
    assert(got("g_eq") == ((4L, 2L, 0.5)), s"got $got")
    intercept[IllegalArgumentException] {
      EntityResolution.estimateU(recs, "id", Seq.empty)
    }
  }

  test("pairMassReport: hand-checked mass per pass, cap split exact") {
    // pass 0 (prefix 4): block "aaaa"×10 (45 pairs), "bbbb"×5 (10 pairs)
    // pass 1 (prefix 1): blocks "a"×10 and "b"×5 — same masses
    val recs = ((1L to 10L).map(i => (i, "aaaa" + i)) ++
      (11L to 15L).map(i => (i, "bbbb" + i))).toDF("id", "name")
    val passes: Seq[Column => Column] =
      Seq(s => substring(s, 1, 4), s => substring(s, 1, 1))
    val rep = EntityResolution.pairMassReport(recs, "id", "name", passes,
        maxBlockSize = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3)),
          BigDecimal(r.getDecimal(4))))).toMap
    // pass 0: aaaa block has 10 > cap 8 -> dropped (45 pairs); bbbb kept (10)
    assert(rep(0L) == ((2L, 1L, BigDecimal(10), BigDecimal(45))), s"got ${rep(0L)}")
    // pass 1: blocks a(10) dropped, b(5) kept
    assert(rep(1L) == ((2L, 1L, BigDecimal(10), BigDecimal(45))), s"got ${rep(1L)}")
  }

  test("fuzzyPairs: pairBudget fails fast naming the planned mass, and admits under budget") {
    val recs = (1L to 30L).map(i => (i, s"blk${i % 3}_$i")).toDF("id", "name")
    // prefix-4 keys "blk0"/"blk1"/"blk2": 3 blocks of 10 -> 3 * 45 = 135 pairs
    val e = intercept[IllegalArgumentException] {
      EntityResolution.fuzzyPairs(recs, "id", "name", prefix4, maxDist = 2,
        pairBudget = Some(100L))
    }
    assert(e.getMessage.contains("135") && e.getMessage.contains("100"),
      s"budget refusal must name mass and budget: ${e.getMessage}")
    val ok = EntityResolution.fuzzyPairs(recs, "id", "name", prefix4,
      maxDist = 2, pairBudget = Some(135L))
    assert(ok.count() > 0, "at or under budget must run")
  }

  test("blockedPairs: co-blocked pairs with full a_/b_ payload, a_id < b_id") {
    val recs = Seq(
      (1L, "blkA", 10), (2L, "blkA", 20), (3L, "blkB", 30), (4L, "blkB", 40),
      (5L, "solo", 50)).toDF("id", "grp", "v")
    val got = EntityResolution.blockedPairs(recs, "id", col("grp"))
      .select("a_id", "b_id", "a_v", "b_v")
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got == Set((1L, 2L, 10, 20), (3L, 4L, 30, 40)), s"got $got")
  }

  test("blockedPairs: pairBudget fails fast naming mass and budget (the q191 gate)") {
    // one block of 10 -> 45 planned pairs
    val recs = (1L to 10L).map(i => (i, "same")).toDF("id", "grp")
    val e = intercept[IllegalArgumentException] {
      EntityResolution.blockedPairs(recs, "id", col("grp"),
        pairBudget = Some(40L))
    }
    assert(e.getMessage.contains("45") && e.getMessage.contains("40"),
      s"refusal must name mass and budget: ${e.getMessage}")
    val ok = EntityResolution.blockedPairs(recs, "id", col("grp"),
      pairBudget = Some(45L))
    assert(ok.count() == 45L, "at budget must run")
  }

  test("emIteration: hand-computed E/M step on a two-pair corpus, NULL carries no evidence") {
    // pair 1 agrees, pair 2 disagrees, pair 3 has a NULL comparison
    val pairs = Seq(
      (Some(true)), (Some(false)), (Option.empty[Boolean])
    ).toDF("f")
    val m = 0.9; val u = 0.1; val lam = 0.5
    val got = EntityResolution.emIteration(pairs, Seq(("f", m, u)), lam)
      .as[(String, Double, Double, Double)].head()
    def w(tm: Double, tu: Double) =
      BigDecimal(lam * tm / (lam * tm + (1 - lam) * tu))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w1 = w(m, u)          // agree: 0.9
    val w2 = w(1 - m, 1 - u)  // disagree: 0.1
    val w3 = w(1.0, 1.0)      // null: prior 0.5
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // m' = w·[agree] / w·[non-null]; the NULL pair is excluded from both
    assert(got._2 == r6(w1 / (w1 + w2)), s"m_new: $got")
    assert(got._3 == r6((1 - w1) / ((1 - w1) + (1 - w2))), s"u_new: $got")
    assert(got._4 == r6((w1 + w2 + w3) / 3), s"lambda_new: $got")
  }

  test("emIteration converges: chained rounds find the planted match rate") {
    // 10 match pairs agreeing on BOTH fields + 90 noise pairs
    // disagreeing on both: with >=2 fields the posterior separates
    // (one binary field is a known non-identifiable ridge) and chained
    // rounds drive m up, u down, lambda to the planted 0.1. Feeding
    // each round's 6-dp outputs back in is the CTE-replayed-iterations
    // discipline in operator form.
    val pairs = ((1 to 10).map(_ => (Some(true), Some(true))) ++
      (1 to 90).map(_ => (Some(false), Some(false)))).toDF("f1", "f2")
    var m1 = 0.9; var u1 = 0.1; var m2 = 0.9; var u2 = 0.1; var lam = 0.2
    for (_ <- 1 to 8) {
      val rows = EntityResolution.emIteration(pairs,
        Seq(("f1", m1, u1), ("f2", m2, u2)), lam)
        .as[(String, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      def clamp(x: Double) = math.min(math.max(x, 1e-6), 0.999999)
      m1 = clamp(rows("f1")._2); u1 = clamp(rows("f1")._3)
      m2 = clamp(rows("f2")._2); u2 = clamp(rows("f2")._3)
      lam = rows("f1")._4
    }
    assert(m1 > 0.95 && u1 < 0.05 && math.abs(lam - 0.1) < 0.02,
      s"EM must converge to the planted mixture: m=$m1 u=$u1 lambda=$lam")
  }

  test("blockedPairs: oversized blocks drop whole under maxBlockSize") {
    val recs = ((1L to 9L).map(i => (i, "big")) ++ Seq((10L, "ok"), (11L, "ok")))
      .toDF("id", "grp")
    val got = EntityResolution.blockedPairs(recs, "id", col("grp"),
        maxBlockSize = 5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 11L)), s"got $got")
  }
}
