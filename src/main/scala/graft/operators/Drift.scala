package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distribution-DRIFT monitors: the gates a long-running ingest pipeline
  * puts between "new data arrived" and "new data entered training" —
  * yesterday's corpus vs today's, reference window vs production window.
  * Two standard readouts:
  *
  *  - [[ksStatistic]] — the two-sample Kolmogorov–Smirnov statistic
  *    `sup_v |F_a(v) − F_b(v)|`, exact, binless, sensitive anywhere in
  *    the distribution;
  *  - [[psiBins]] — the population stability index per bin,
  *    `(p_i − q_i)·ln(p_i/q_i)`, the banking-world drift score whose
  *    per-bin terms localize WHERE the shift happened.
  *
  * No reference analog (the reference pipeline has no monitoring);
  * added per the training-pipeline mandate.
  */
object Drift {

  private val Pack = 4294967296L // 2^32

  /** Exact two-sample KS statistic, one output row:
    * (n_a, n_b, ks_num, ks) with `ks = ks_num / (n_a·n_b)` — the sup is
    * taken on the INTEGER cross-scaled gap `|cumA·n_b − cumB·n_a|`, so
    * the statistic is exact and engine-portable; the one division
    * happens at the very end.
    *
    * Scale shape: one partial-agg shuffle to per-distinct-value counts
    * (value-domain-sized, not row-count-sized), then ONE range-partitioned
    * prefix-sum pass ([[TrainingPrep.globalPrefixSum]] — never a
    * single-partition global window) over counts PACKED as
    * `ca·2³² + cb`: both cumulatives ride one cumsum because the b-count
    * can never carry into the a-lane while each sample holds < 2³¹ rows
    * (documented bound; beyond that, run two passes). The final sup is a
    * plain max-agg over the detached prefix sum, collected to one driver
    * row.
    */
  def ksStatistic(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val spark = a.sparkSession
    // NULLs carry no distribution mass and their sort position differs
    // across engines (Spark NULLS FIRST vs DuckDB NULLS LAST) — an ECDF
    // must be over actual values only, so both inputs filter them out
    val tagged = a.where(col(valueCol).isNotNull)
      .select(col(valueCol).as("v"), lit(1L).as("ia"), lit(0L).as("ib"))
      .unionByName(b.where(col(valueCol).isNotNull)
        .select(col(valueCol).as("v"), lit(0L).as("ia"), lit(1L).as("ib")))
    val perV = Parallelism.ensureCompute(tagged)
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .withColumn("packed", col("ca") * Pack + col("cb"))
    val cum = TrainingPrep.globalPrefixSum(perV, "v", "packed", "cumpack")
    val Array(totals) = tagged.agg(sum(col("ia")), sum(col("ib"))).collect()
    val (na, nb) = (totals.getLong(0), totals.getLong(1))
    require(na > 0 && nb > 0, s"both samples must be non-empty, got ($na, $nb)")
    require(na < Pack / 2 && nb < Pack / 2,
      s"packed-count KS supports < 2^31 rows per sample, got ($na, $nb)")
    val ksNum = cum
      .select(expr(s"cumpack DIV $Pack").as("cuma"),
        pmod(col("cumpack"), lit(Pack)).as("cumb"))
      .agg(max(abs(col("cuma") * nb - col("cumb") * na)).as("ks_num"))
      .head().getLong(0)
    // final division through Spark's round() so the rounding rule matches
    // every other oracle-compared double in the repo
    spark.createDataFrame(
      java.util.List.of(Row(na, nb, ksNum)),
      StructType(Seq(
        StructField("n_a", LongType, nullable = false),
        StructField("n_b", LongType, nullable = false),
        StructField("ks_num", LongType, nullable = false))))
      .select(col("n_a"), col("n_b"), col("ks_num"),
        round(col("ks_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("ks"))
  }

  /** Exact two-sample 1-Wasserstein (earth-mover's) distance, one output
    * row (n_a, n_b, w1): `W1 = ∫ |F_a(v) − F_b(v)| dv`, the
    * area between the two ECDFs — the drift score that, unlike
    * [[ksStatistic]]'s sup, weighs HOW FAR the mass moved, which is what
    * a feature-scale regression actually costs downstream. Computed on
    * the distinct-value staircase: `Σ_v |cumA(v)·n_b − cumB(v)·n_a| ·
    * (next_v − v) / (n_a·n_b)` — the cross-scaled integer gap again, so
    * the only IEEE steps are one value-gap subtraction, one product and
    * the final division, each written identically in the oracle.
    *
    * Scale shape: one partial-agg shuffle to per-distinct-value counts,
    * then ONE repartitionByRange pass that carries BOTH running
    * cumulatives (packed, as in [[ksStatistic]]) and the next-value gap:
    * within a range partition `lead(v)` is a local window; each
    * partition's LAST row takes the NEXT partition's minimum from a
    * driver-collected boundary array (numPartitions scalars — the
    * [[TrainingPrep.globalPrefixSum]] discipline, never a global
    * window). Per-term products stay exact while each sample holds
    * < 2³¹ rows and cum·n products < 2⁵³ (bit-portability bound;
    * values beyond still compute, the last bits of the double product
    * may differ cross-engine).
    */
  def wasserstein1(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = Pins.scoped { s =>
    val spark = a.sparkSession
    val tagged = a.where(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"),
        lit(1L).as("ia"), lit(0L).as("ib"))
      .unionByName(b.where(col(valueCol).isNotNull)
        .select(col(valueCol).cast("double").as("v"),
          lit(0L).as("ia"), lit(1L).as("ib")))
    val perV = Parallelism.ensureCompute(tagged)
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .withColumn("packed", col("ca") * Pack + col("cb"))
    val parts = TrainingPrep.derivePrefixSumParts(perV)
    val ranged = s.pin(perV.repartitionByRange(parts, col("v"))
      .withColumn("__pid", spark_partition_id()))
    // driver state: per-partition packed totals and minimum value —
    // 2·parts scalars, turned into (offset, next-partition-first-value)
    val stats = ranged.groupBy(col("__pid"))
      .agg(sum(col("packed")).as("t"), min(col("v")).as("mn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    var acc = 0L
    val offRows = stats.zipWithIndex.map { case ((pid, tot, _), i) =>
      val off = acc; acc += tot
      val nextMin: java.lang.Double =
        if (i + 1 < stats.length) stats(i + 1)._3 else null
      Row(pid, off, nextMin)
    }
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*),
      StructType(Seq(
        StructField("__pid", org.apache.spark.sql.types.IntegerType),
        StructField("__off", LongType),
        StructField("__nextmin", org.apache.spark.sql.types.DoubleType))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("v"))
    // (n_a, n_b) come free from the per-partition stats the boundary
    // stitch already collected: Σ packed = n_a·2³² + n_b, exact while
    // each sample holds < 2³¹ rows (the operator's contract below) —
    // no second pass over the input lineage for a standing monitor
    val (na, nb) = (acc / Pack, acc % Pack)
    require(na > 0 && nb > 0, s"both samples must be non-empty, got ($na, $nb)")
    require(na < Pack / 2 && nb < Pack / 2,
      s"packed-count W1 supports < 2^31 rows per sample, got ($na, $nb)")
    // DECIMAL(38,6) headroom: |num| < n_a·n_b < 2⁶², so a term stays
    // representable while gap · num < 10³², i.e. adjacent-value gaps up
    // to ~10¹³ even at the full row-count contract — wide enough for
    // price-like and long-tailed columns (documented bound; beyond it
    // the cast fails fast under ANSI rather than silently dropping)
    val termSum = ranged
      .withColumn("cumpack", sum(col("packed")).over(w))
      .withColumn("nextv", lead(col("v"), 1).over(w))
      .join(broadcast(offDf), Seq("__pid"))
      .select(
        (expr(s"(cumpack + __off) DIV $Pack") * nb -
          pmod(col("cumpack") + col("__off"), lit(Pack)) * na).as("num"),
        coalesce(col("nextv"), col("__nextmin")).as("nv"), col("v"))
      .where(col("nv").isNotNull)
      .agg(coalesce(
        sum(round((col("nv") - col("v")) * abs(col("num")).cast("double"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("s"))
      .head().getDecimal(0)
    spark.createDataFrame(
      java.util.List.of(Row(na, nb, termSum.toString)),
      StructType(Seq(
        StructField("n_a", LongType, nullable = false),
        StructField("n_b", LongType, nullable = false),
        StructField("s", org.apache.spark.sql.types.StringType, nullable = false))))
      .select(col("n_a"), col("n_b"),
        round(col("s").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("w1"))
  }

  /** Per-bin population stability index terms over fixed-width value
    * bins: (bin, c_a, c_b, psi_term) for every bin BOTH samples touch
    * (the standard smoothing-free form; a bin one side never hits has an
    * infinite term — surface those by joining the output back against
    * either side's bin set). `psi_term = (c_a/n_a − c_b/n_b) ·
    * ln(c_a·n_b / (c_b·n_a))`, each factor one IEEE operation on exact
    * integers — deterministic and oracle-replayable; the total PSI is
    * the (order-independent only after rounding — hence per-bin output)
    * sum of terms.
    *
    * Scale: one bin-keyed partial-agg shuffle per side, bin-table-sized
    * join; totals are two driver scalars.
    */
  def psiBins(a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    def binned(df: DataFrame, cnt: String): DataFrame =
      Parallelism.ensureCompute(df)
        .groupBy(floor(col(valueCol) / binWidth).cast("long").as("bin"))
        .agg(count(lit(1)).as(cnt))
    val ca = binned(a, "c_a")
    val cb = binned(b, "c_b")
    val Array(tot) = ca.agg(sum(col("c_a"))).crossJoin(cb.agg(sum(col("c_b")))).collect()
    val (na, nb) = (tot.getLong(0), tot.getLong(1))
    ca.join(cb, Seq("bin"))
      .select(col("bin"), col("c_a"), col("c_b"),
        round((col("c_a").cast("double") / na - col("c_b").cast("double") / nb) *
          log((col("c_a") * nb).cast("double") / (col("c_b") * na).cast("double")), 6)
          .as("psi_term"))
  }
}
