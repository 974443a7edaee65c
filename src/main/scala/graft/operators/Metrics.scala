package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation statistics over a DataFrame: inter-rater agreement (Cohen's and Fleiss' kappa), ranking quality
  * (ROC AUC, average precision) and association (Pearson residuals,
  * mutual information).
  */
object Metrics {

  /** Inter-rater AGREEMENT between two boolean labelers over the same
    * rows (Cohen 1960): the full confusion matrix plus observed
    * agreement p_o, chance agreement p_e, and kappa
    * `(p_o − p_e)/(1 − p_e)`. The audit run before swapping one quality
    * / language / toxicity filter for another at corpus scale — raw
    * agreement overstates concordance when the label base rates are
    * skewed, which is exactly what kappa corrects.
    *
    * One partial-agg pass (count + four conditional sums, map-side
    * combined), 1-row output. Counts are exact BIGINT; p_o, p_e and
    * kappa are fixed chains of IEEE ops on them (p_e's numerator stays
    * in integer products), rounded 6 dp at the end — engine-portable.
    * Degenerate p_e = 1 (both raters constant and equal) yields NULL
    * kappa via the same CASE on both engines. Rows where EITHER labeler
    * abstained (null) are excluded up front — they land in no confusion
    * cell, so counting them in n would silently deflate p_o and p_e.
    */
  import org.apache.spark.sql.functions._
  def agreement(df: DataFrame, a: Column, b: Column): DataFrame = {
    val base = df.select(a.cast("boolean").as("la"), b.cast("boolean").as("lb"))
      .where(col("la").isNotNull && col("lb").isNotNull)
    def cell(x: Boolean, y: Boolean): Column =
      sum(when(col("la") === x && col("lb") === y, 1L).otherwise(0L))
    val agg = base.agg(count(lit(1)).as("n"),
      cell(false, false).as("n00"), cell(false, true).as("n01"),
      cell(true, false).as("n10"), cell(true, true).as("n11"))
    val n = col("n").cast("double")
    val po = (col("n00") + col("n11")).cast("double") / n
    val pe = ((col("n00") + col("n01")) * (col("n00") + col("n10")) +
      (col("n10") + col("n11")) * (col("n01") + col("n11"))).cast("double") / (n * n)
    agg.select(col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
      round(po, 6).as("p_o"), round(pe, 6).as("p_e"),
      when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** FLEISS' KAPPA (Fleiss 1971): chance-corrected agreement for m ≥ 2
    * raters over a categorical label — the multi-rater generalization
    * of [[agreement]]'s Cohen gate, and the QA readout for annotation
    * campaigns (are three labelers/models assigning languages,
    * topics, toxicity tiers consistently, beyond what base rates
    * force?). Per item i with n_ic raters choosing category c:
    * `P_i = (Σ_c n_ic² − m)/(m(m−1))`, `P̄ = mean_i P_i`,
    * `P̄_e = Σ_c p_c²` with `p_c = Σ_i n_ic / (n·m)`, and
    * `κ = (P̄ − P̄_e)/(1 − P̄_e)`.
    *
    * Exactness: P̄'s numerator `Σ_i (Σ_c n_ic² − m)` stays an exact
    * BIGINT (so P̄ is ONE division of identical integers — no per-item
    * float mean); each p_c is one division, its square captured to
    * DECIMAL(25,10) before the exact category sum; κ is a fixed IEEE
    * chain on those, 6-dp rounded. Degenerate P̄_e = 1 (every rater
    * constant and equal) yields NULL κ via the same CASE on both
    * engines. Items where ANY rater abstained (null) are excluded up
    * front — a partial row has no defined n_ic column sum. `idCol`
    * must be UNIQUE: a duplicated item would inflate its vote count
    * past m and push P̄/κ silently out of range, so the per-item vote
    * total is guarded in-plan (raise_error when any item's votes ≠ m).
    *
    * Scale shape: the long table is m× the item count; two partial-agg
    * shuffles (item-keyed pair counts, category-keyed totals), both
    * map-side combined; the category table is label-domain-sized and
    * the output is 1 row. Returns
    * (n_items, m, n_categories, p_bar, p_e, kappa).
    */
  def fleissKappa(df: DataFrame, idCol: String, raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2,
      s"fleissKappa needs >= 2 raters, got ${raterCols.size}")
    val m = raterCols.size
    val base = df
      .where(raterCols.map(c => col(c).isNotNull).reduce(_ && _))
      .select(col(idCol).as("id"),
        array(raterCols.map(c => col(c).cast("string")): _*).as("rs"))
    val long = base.select(col("id"), explode(col("rs")).as("cat"))
    val perItem = long.groupBy(col("id"), col("cat")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(sum(col("c") * col("c")).as("ss"),
        sum(col("c")).as("__votes"))
    val itemAgg = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("ss") - lit(m.toLong)).as("agree_num"),
      sum(when(col("__votes") =!= m.toLong, 1L).otherwise(0L)).as("__bad"))
      .select(
        when(col("__bad") > 0, raise_error(concat(
          lit("fleissKappa: "), col("__bad"),
          lit(s" item(s) carry a vote count != m=$m — duplicate ids in " +
            s"the input inflate agreement silently; dedupe upstream"))))
          .otherwise(col("n_items")).as("n_items"),
        col("agree_num"))
    val catAgg = long.groupBy(col("cat")).agg(count(lit(1)).as("cc"))
      .crossJoin(itemAgg.select(col("n_items").as("__n")))
      .select(((col("cc").cast("double") / (col("__n") * m).cast("double")) *
        (col("cc").cast("double") / (col("__n") * m).cast("double")))
        .cast("decimal(25,10)").as("pc2"))
      .agg(sum(col("pc2")).as("pe_sum"), count(lit(1)).as("n_categories"))
    val pBar = col("agree_num").cast("double") /
      (col("n_items") * (m.toLong * (m.toLong - 1L))).cast("double")
    val pe = col("pe_sum").cast("double")
    itemAgg.crossJoin(catAgg).select(
      col("n_items"), lit(m).as("m"), col("n_categories"),
      round(pBar, 6).as("p_bar"), round(pe, 6).as("p_e"),
      when(pe < 1.0, round((pBar - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** EXACT distributed ROC-AUC via the Mann–Whitney U statistic with
    * MIDRANKS (the tie-correct formulation: AUC = P(score⁺ > score⁻) +
    * ½P(tie)) — the ranking-quality readout for a trained filter
    * (q142/q159's family), next to the calibration curve (q174).
    * Sorting 100 TB of scores to rank them is exactly what this does
    * NOT do: scores collapse to a distinct-score table first (one
    * partial agg), the rank axis is one range-partitioned prefix sum
    * over that table ([[TrainingPrep.globalPrefixSum]] — never a
    * global window), and the U statistic folds in EXACT integers:
    * `2·ΣR⁺ = Σ_s pos_s·(2·cumBefore_s + cnt_s + 1)`, then
    * `AUC = (2ΣR⁺ − P(P+1)) / (2PN)` — one division, 6-dp rounded.
    * Degenerate single-class inputs yield NULL.
    *
    * Accumulators run as DECIMAL(38,0): exact past the 2⁶³ rank-product
    * range (row counts to ~10¹⁸). Returns one row `(p, n, auc)`.
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val base = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
    val grouped = base.groupBy(col("__s")).agg(
      count(lit(1)).as("cnt"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("pos"))
    val cum = TrainingPrep.globalPrefixSum(grouped, "__s", "cnt", "cum")
    val agg = cum.agg(
      sum(col("pos")).as("p"),
      sum(col("cnt") - col("pos")).as("nn"),
      // pos is widened to decimal BEFORE the multiply: at ~1e10 rows
      // with heavy ties the Long product pos·(2·cumBefore+cnt+1) passes
      // 2^63 and a post-hoc cast would only bless the wraparound
      sum(col("pos").cast("decimal(38,0)") *
        (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L))
        .cast("decimal(38,0)").as("r2"))
    agg.select(col("p"), col("nn").as("n"),
      when(col("p") > 0L && col("nn") > 0L,
        round((col("r2").cast("double") -
          col("p").cast("double") * (col("p") + 1L).cast("double")) /
          (lit(2.0) * col("p").cast("double") * col("nn").cast("double")), 6))
        .as("auc"))
  }

  /** AVERAGE PRECISION (PR-AUC by the threshold formulation —
    * sklearn's `average_precision_score` identity, tie-correct by
    * construction since thresholds are DISTINCT scores):
    * `AP = Σ_s (pos_s / P) · precision(≥ s)` summed over distinct
    * scores descending. The precision-recall companion to [[rocAuc]] —
    * the readout that matters when positives are rare (ROC flatters a
    * filter on a 0.1%-positive corpus; AP does not).
    *
    * Same economics as rocAuc: scores collapse to a distinct-score
    * table, ONE range-partitioned prefix sum over it with BOTH
    * cumulative counts packed into a single lane (`cnt·2³² + pos`, the
    * q144 carry-free packing; each sample < 2³¹ rows), cumulative-above
    * derived from totals minus the ascending cumulative. Per threshold:
    * one rounded division (precision), one exact decimal product; one
    * final division. Single-class inputs yield NULL.
    *
    * Returns one row `(p, n, ap)`.
    */
  def averagePrecision(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val base = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
    val grouped = base.groupBy(col("__s")).agg(
      count(lit(1)).as("cnt"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("pos"))
      .withColumn("__lane", col("cnt") * lit(4294967296L) + col("pos"))
    val cum = TrainingPrep.globalPrefixSum(grouped, "__s", "__lane", "cum")
    val totals = cum.agg(sum(col("cnt")).as("nt"), sum(col("pos")).as("pt"))
    val joined = cum.crossJoin(broadcast(totals))
    val cumCnt = expr("cum div 4294967296L")
    val cumPos = col("cum") % lit(4294967296L)
    // inclusive-descending = total - inclusive-ascending + own row
    val tp = col("pt") - cumPos + col("pos")
    val nd = col("nt") - cumCnt + col("cnt")
    val precision = round(tp.cast("double") / nd.cast("double"), 6)
    joined
      .select(col("pt"), col("nt"),
        (col("pos") * precision.cast("decimal(12,6)"))
          .cast("decimal(28,6)").as("__term"))
      .groupBy(col("pt"), col("nt"))
      .agg(sum(col("__term")).cast("decimal(38,6)").as("__ap_num"))
      .select(col("pt").as("p"), (col("nt") - col("pt")).as("n"),
        when(col("pt") > 0L && col("nt") > col("pt"),
          round(col("__ap_num").cast("double") / col("pt").cast("double"), 6))
          .as("ap"))
  }

  /** PER-CELL PEARSON RESIDUALS of a contingency table:
    * `(o − e)/√e` with `e = n_a·n_b/n` — the drill-down companion to
    * [[mutualInformation]]: MI says the facets are dependent, the
    * residual matrix says WHERE (which (a,b) combination is over- or
    * under-represented vs independence; |r| ≳ 2 is the classic flag).
    * Absent combinations appear with o = 0 — an expected-but-missing
    * cell is usually the finding.
    *
    * Exactness: o and the marginals are exact counts; `e` is one
    * rounded division of integer products; the residual is one fixed
    * IEEE chain on the published (rounded) `e`. Scale shape: one
    * (a, b) partial agg + marginals from the cell table + a
    * marginal-axes cross join (|A|·|B| rows — crosstab-sized, never
    * data-sized).
    */
  def pearsonResiduals(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
    val cells = base.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("o"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("o")).as("ca"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val axes = ma.crossJoin(mb).crossJoin(broadcast(tot))
    val full = axes.join(cells, Seq("__a", "__b"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val e = round((col("ca") * col("cb")).cast("double") /
      col("n").cast("double"), 6)
    full
      .withColumn("e", e)
      .withColumn("residual",
        when(col("e") > 0.0,
          round((col("o").cast("double") - col("e")) / sqrt(col("e")), 6)))
      .select(col("__a").as(aCol), col("__b").as(bCol),
        col("o"), col("e"), col("residual"))
  }

  /** MUTUAL INFORMATION (and NMI) between two categorical columns —
    * the dependence readout for corpus composition ("does source
    * determine language?"), feature selection, and leakage checks;
    * chance-free where a raw crosstab is not. `MI = Σ p_ab·ln(p_ab /
    * (p_a·p_b))` in nats, `NMI = MI / √(H_a·H_b)` (the published MI
    * and entropies feed NMI, so the triple stays self-consistent).
    *
    * Exactness: every term is `round(c·ln((c·n)/(c_a·c_b)), 6)` on
    * EXACT integer counts — one division and one ln per cell (the
    * q121/q141 discipline) — summed as DECIMAL, then one division by
    * n. Scale shape: one (a, b) partial agg (crosstab-sized after
    * map-side combine), marginals re-aggregated from the CELL table
    * (never a second data scan), broadcast joins on the marginal axes.
    * Returns one row `(n, mi, h_a, h_b, nmi)`.
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
    val cells = base.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("c"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("c")).as("ca"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("c")).as("cb"))
    val tot = cells.agg(sum(col("c")).as("n"))
    def entropyNum(m: DataFrame, cCol: String): DataFrame =
      m.crossJoin(tot).agg(
        sum(round(col(cCol).cast("double") *
          log(col(cCol).cast("double") / col("n").cast("double")), 6)
          .cast("decimal(28,6)")).cast("decimal(38,6)").as("hnum"))
    val miNum = cells
      .join(broadcast(ma), Seq("__a")).join(broadcast(mb), Seq("__b"))
      .crossJoin(tot)
      .agg(sum(round(col("c").cast("double") *
        log((col("c") * col("n")).cast("double") /
          (col("ca") * col("cb")).cast("double")), 6)
        .cast("decimal(28,6)")).cast("decimal(38,6)").as("minum"))
    val out = tot.crossJoin(miNum)
      .crossJoin(entropyNum(ma, "ca").withColumnRenamed("hnum", "hna"))
      .crossJoin(entropyNum(mb, "cb").withColumnRenamed("hnum", "hnb"))
      .select(col("n"),
        round(col("minum").cast("double") / col("n").cast("double"), 6)
          .as("mi"),
        round(-col("hna").cast("double") / col("n").cast("double"), 6)
          .as("h_a"),
        round(-col("hnb").cast("double") / col("n").cast("double"), 6)
          .as("h_b"))
    out.withColumn("nmi",
      when(col("h_a") > 0.0 && col("h_b") > 0.0,
        round(col("mi") / sqrt(col("h_a") * col("h_b")), 6)))
  }
}
