package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite

class ProductQuantizerSpec extends SparkSuite {
  import spark.implicits._

  /** Synthetic corpus of 4 well-separated 8-dim clusters: cluster g
    * lives at 10·g on dims (2g, 2g+1) plus a small deterministic wobble
    * — separable in EVERY subspace split, so PQ at ksub=4 should
    * reconstruct cluster membership exactly.
    */
  private def clustered(n: Int) = {
    spark.range(n).select(
      col("id"),
      (col("id") % 4).cast("int").as("g"),
      transform(sequence(lit(0), lit(7)), i =>
        when(i === (col("id") % 4).cast("int") * 2, lit(10.0) + (col("id") % 7).cast("double") / 10.0)
          .when(i === (col("id") % 4).cast("int") * 2 + 1, lit(5.0))
          .otherwise((col("id") % 3).cast("double") / 100.0)).as("vec"))
  }

  test("train: shape, finiteness, 6dp rounding, codes span [0, ksub)") {
    val df = clustered(64)
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    for (s <- books; c <- s; x <- c) {
      assert(!x.isNaN && !x.isInfinite)
      assert(math.abs(x * 1e6 - math.rint(x * 1e6)) < 1e-4, s"not 6dp-rounded: $x")
    }
    val codes = ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
      .select(explode(col("codes")).as("c")).distinct().as[Int].collect()
    assert(codes.forall(c => c >= 0 && c < 4))
  }

  test("encode is the true argmin: matches a brute-force squared-L2 assignment") {
    val df = clustered(40)
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 1)
    val got = ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
      .select(col("id"), col("codes")).as[(Long, Seq[Int])].collect().toMap
    val rows = df.select(col("id"), col("vec")).as[(Long, Seq[Double])].collect()
    rows.foreach { case (id, vec) =>
      for (s <- 0 until 2) {
        val sv = vec.slice(s * 4, s * 4 + 4)
        // same rounded-term distance the operator prices with
        def dist(c: Array[Double]): BigDecimal =
          sv.zip(c).map { case (a, b) =>
            BigDecimal((a - b) * (a - b)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }.sum
        val want = books(s).zipWithIndex.map { case (c, i) => (dist(c), i) }.min._2
        assert(got(id)(s) == want, s"id=$id sub=$s")
      }
    }
  }

  test("ADC top-1 recovers cluster neighbors on separated clusters") {
    val df = clustered(80)
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 2)
    val codes = ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
    val top = ProductQuantizer.adcTopK(
      df.where(col("id") < 8), "id", "vec", codes, "id", books, dim = 8, k = 3)
      .collect()
    assert(top.length == 8 * 3)
    // every retrieved neighbor shares the query's cluster: PQ distance
    // across separated clusters dwarfs the within-cluster wobble
    top.foreach { r =>
      assert(r.getLong(0) % 4 == r.getLong(1) % 4,
        s"query ${r.getLong(0)} retrieved cross-cluster ${r.getLong(1)}")
    }
  }

  test("empty codes carry their previous centroid through an update") {
    // 8 identical vectors: after init, one centroid wins everything;
    // the other ksub-1 codes must survive verbatim (rounded), not NaN
    val df = spark.range(8).select(col("id"),
      typedLit(Seq(1.0, 2.0, 3.0, 4.0)).as("vec"))
    val books = ProductQuantizer.train(df, "id", "vec", m = 1, ksub = 3, dim = 4, iters = 2)
    assert(books(0).length == 3)
    books(0).foreach(c => c.foreach(x => assert(!x.isNaN)))
    // the winning centroid converged to the point itself
    assert(books(0).exists(_.sameElements(Array(1.0, 2.0, 3.0, 4.0))))
  }

  test("adcTopK withinCol: probe == per-list brute restriction, never crosses lists") {
    val df = clustered(96).withColumn("list", (col("id") % 3).cast("int"))
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 1)
    val codes = ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
      .join(df.select(col("id"), col("list")), Seq("id"))
    val queries = df.where(col("id") < 9)
    val within = ProductQuantizer.adcTopK(queries, "id", "vec",
      codes, "id", books, dim = 8, k = 3, withinCol = "list").collect()
    assert(within.length == 9 * 3)
    // reference: run the unrestricted probe per list over a pre-filtered corpus
    val ref = (0 until 3).flatMap { l =>
      ProductQuantizer.adcTopK(queries.where(col("list") === l), "id", "vec",
        codes.where(col("list") === l).drop("list"), "id",
        books, dim = 8, k = 3).collect()
    }
    val lists = df.select(col("id"), col("list")).as[(Long, Int)].collect().toMap
    within.foreach(r => assert(lists(r.getLong(0)) == lists(r.getLong(1)),
      s"crossed lists: $r"))
    assert(within.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      ref.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("plan pins: encode is map-only (no Exchange); probe mass partial-aggs before shuffle") {
    val df = clustered(64)
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 1)
    val encodePlan = ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
      .queryExecution.executedPlan.toString
    assert(!encodePlan.contains("Exchange"),
      s"encode must be a map-only projection:\n$encodePlan")
    import spark.implicits._
    val lists = Seq((1L, 0), (2L, 1)).toDF("id", "list")
    val massPlan = ProductQuantizer.probeMassReport(lists, lists, "list")
      .queryExecution.executedPlan.toString
    assert(massPlan.contains("partial_count"),
      s"probe pricing must map-side combine before its shuffle:\n$massPlan")
  }

  test("IVF-PQ layout: codes hive-partitioned by list; a one-list probe reads 1 of N dirs") {
    val df = clustered(96).withColumn("list", (col("id") % 3).cast("int"))
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 1)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_codes").toString
    ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
      .join(df.select(col("id"), col("list")), Seq("id"))
      .write.mode("overwrite").partitionBy("list").parquet(path)
    val codes = spark.read.parquet(path)
    val oneList = codes.where(col("list") === 1)
    val scan = oneList.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("list"),
      s"the list predicate must reach the scan as a partition filter:\n$scan")
    // the physical read touches exactly one of the three list dirs
    val scanned = oneList.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(scanned.nonEmpty && scanned.forall(_.contains("list=1")),
      s"probe read outside its list partition: $scanned")
    // and the within-list ADC probe over the partitioned table matches
    // the in-memory path
    val queries = df.where(col("id") < 6)
    val onDisk = ProductQuantizer.adcTopK(queries, "id", "vec",
      codes, "id", books, dim = 8, k = 3, withinCol = "list")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMem = ProductQuantizer.adcTopK(queries, "id", "vec",
      ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
        .join(df.select(col("id"), col("list")), Seq("id")),
      "id", books, dim = 8, k = 3, withinCol = "list")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(onDisk == inMem)
  }

  test("rerank dominates pure ADC per query: rerank_hits >= adc_hits (q215 invariant)") {
    // the rerank returns the exact-closest 5 of the ADC top-20, so it
    // contains EVERY exact-top-5 member the candidate set holds — per
    // query, never fewer hits than the ADC ordering's 5
    val rows = graft.Queries.q215RerankGain(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"q ${r.getLong(0)}: rerank ${r.getLong(2)} < adc ${r.getLong(1)}")
    }
  }

  test("probeMassReport prices the probe: degenerate list shows full brute mass") {
    import spark.implicits._
    val codes = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1)).toDF("id", "list")
    val queries = Seq((10L, 0), (11L, 0), (12L, 2)).toDF("id", "list")
    val r = ProductQuantizer.probeMassReport(queries, codes, "list")
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // list 0 carries 2x3=6 of the 6 total scored pairs; list 1 has no
    // queries (0 pairs); list 2 has no codes (0 pairs) - both visible
    assert(r(0) == ((2L, 3L, 6L)) && r(1) == ((0L, 1L, 0L)) && r(2) == ((1L, 0L, 0L)), s"$r")
    // the priced mass equals what adcTopK-within would actually score
    val scored = codes.as("c").join(queries.as("q"), $"c.list" === $"q.list").count()
    assert(r.values.map(_._3).sum == scored)
  }

  test("adcTopK plan: corpus side reads only (id, codes) — no vector column") {
    val df = clustered(64)
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 1)
    val codesPath = java.nio.file.Files.createTempDirectory("pq_codes").toString
    ProductQuantizer.encode(df, "id", "vec", books, dim = 8)
      .write.mode("overwrite").parquet(codesPath)
    val codes = spark.read.parquet(codesPath)
    val plan = ProductQuantizer.adcTopK(
      df.where(col("id") < 4), "id", "vec", codes, "id", books, dim = 8, k = 2)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("codes")).getOrElse("")
    assert(scanLine.contains("ReadSchema"), s"no parquet scan found:\n$plan")
    assert(!scanLine.contains("vec"), s"ADC scan read a vector column:\n$scanLine")
  }

  test("OPQ-IVFADC composed plan: no cartesian; the within-list probe is an equi-condition join") {
    val df = correlated(64)
    val (r, books) = ProductQuantizer.trainRotation(df, "id", "vec",
      m = 2, ksub = 2, dim = 4, alternations = 1, lloydIters = 1)
    val rot = df.select(col("id"),
      ProductQuantizer.rotated(col("vec"), r).as("vec"))
    val routed = rot.withColumn("list", (col("id") % 2).cast("int"))
    val cents = ProductQuantizer.coarseCentroids(routed, "vec", "list", dim = 4)
    val codes = ProductQuantizer.encode(
      ProductQuantizer.residuals(routed, "vec", "list", cents),
      "id", "resid", books, dim = 4, carryCols = Seq("list"))
    val rep = ProductQuantizer.probeLists(
      rot.where(col("id") < 4), "vec", cents, dim = 4, nProbe = 2)
    val cand = ProductQuantizer.adcTopK(
      ProductQuantizer.residuals(rep, "vec", "list", cents),
      "id", "resid", codes, "id", books, dim = 4, k = 3, withinCol = "list")
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"composed OPQ-IVFADC plan degenerated to a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"within-list probe must be an equi-condition join:\n$plan")
  }

  test("quantizationError equals the summed per-subspace assignment distance") {
    val df = clustered(24)
    val books = ProductQuantizer.train(df, "id", "vec", m = 2, ksub = 4, dim = 8, iters = 1)
    val got = ProductQuantizer.quantizationError(df, "id", "vec", books, dim = 8)
      .as[(Long, Double)].collect().toMap
    val rows = df.select(col("id"), col("vec")).as[(Long, Seq[Double])].collect()
    rows.foreach { case (id, vec) =>
      val want = (0 until 2).map { s =>
        val sv = vec.slice(s * 4, s * 4 + 4)
        books(s).map(c => sv.zip(c).map { case (a, b) =>
          BigDecimal((a - b) * (a - b)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum).min
      }.sum
      assert(math.abs(got(id) - want.toDouble) < 1e-9, s"id=$id: ${got(id)} vs $want")
    }
  }

  test("coarseCentroids are exact 6dp per-list means; residuals subtract them") {
    val df = Seq(
      (1L, 0, Seq(1.0, 2.0)), (2L, 0, Seq(3.0, 4.0)),
      (3L, 1, Seq(10.0, 20.0))).toDF("id", "list", "vec")
    val cents = ProductQuantizer.coarseCentroids(df, "vec", "list", dim = 2)
    assert(cents(0).toSeq == Seq(2.0, 3.0), s"got ${cents(0).toSeq}")
    assert(cents(1).toSeq == Seq(10.0, 20.0))
    val res = ProductQuantizer.residuals(df, "vec", "list", cents)
      .select(col("id"), col("resid")).as[(Long, Seq[Double])].collect().toMap
    assert(res(1L) == Seq(-1.0, -1.0) && res(2L) == Seq(1.0, 1.0) &&
      res(3L) == Seq(0.0, 0.0), s"got $res")
  }

  test("probeLists: replicas are the nProbe nearest centroids and widths NEST (reach monotonicity)") {
    val cents = Map(0 -> Array(0.0, 0.0), 1 -> Array(10.0, 0.0),
      2 -> Array(20.0, 0.0))
    val q = Seq((1L, Seq(4.0, 0.0)), (2L, Seq(16.0, 0.0))).toDF("id", "vec")
    def probed(n: Int) = ProductQuantizer.probeLists(q, "vec", cents,
        dim = 2, nProbe = n)
      .select(col("id"), col("list")).as[(Long, Int)].collect().toSet
    val p1 = probed(1)
    val p2 = probed(2)
    assert(p1 == Set((1L, 0), (2L, 2)), s"got $p1")
    assert(p2 == Set((1L, 0), (1L, 1), (2L, 2), (2L, 1)), s"got $p2")
    // probed lists at nProbe=2 are a superset per query — the invariant
    // that makes q219's p2_reach >= p1_reach hold ALWAYS
    assert(p1.subsetOf(p2))
  }

  test("staleness gate closes the loop: retraining on the drifted batch collapses the error") {
    import graft.operators.QuantileSketch
    val train = clustered(64)
    val books = ProductQuantizer.train(train, "id", "vec",
      m = 2, ksub = 4, dim = 8, iters = 2)
    // drifted arrivals: everything scaled 3x — frozen books misfit
    val drifted = clustered(64).select(col("id"),
      transform(col("vec"), x => x * lit(3.0)).as("vec"))
    val trainSk = QuantileSketch.sketch(
      ProductQuantizer.quantizationError(train, "id", "vec", books, dim = 8),
      "err", Nil)
    val staleW1 = QuantileSketch.sketchW1(
      QuantileSketch.sketch(ProductQuantizer.quantizationError(
        drifted, "id", "vec", books, dim = 8), "err", Nil),
      trainSk).head().getDouble(2)
    // act on the retrain signal: new books from the drifted batch
    val retrained = ProductQuantizer.train(drifted, "id", "vec",
      m = 2, ksub = 4, dim = 8, iters = 2)
    val staleErr = ProductQuantizer.quantizationError(
      drifted, "id", "vec", books, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    val freshErr = ProductQuantizer.quantizationError(
      drifted, "id", "vec", retrained, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    assert(staleW1 > 0.0, s"drift must register: $staleW1")
    assert(freshErr < staleErr / 2,
      s"retrain must collapse reconstruction error: stale $staleErr fresh $freshErr")
  }

  test("residual encoding beats raw at the same bit budget on list-clustered data") {
    import graft.operators.QuantileSketch
    // lists with large, far-apart offsets and small local structure:
    // raw codebooks spend their 2 bits/subspace straddling list
    // offsets; residual codebooks see only the local displacement
    val df = spark.range(96).select(
      col("id"),
      (col("id") % 3).cast("int").as("list"),
      transform(sequence(lit(0), lit(7)), i =>
        (col("id") % 3).cast("double") * 100.0 +
          when(i === (col("id") % 4).cast("int") * 2, lit(4.0))
            .otherwise(lit(0.0)) +
          (col("id") % 5).cast("double") / 10.0).as("vec"))
    val rawBooks = ProductQuantizer.train(df, "id", "vec",
      m = 2, ksub = 4, dim = 8, iters = 2)
    val cents = ProductQuantizer.coarseCentroids(df, "vec", "list", dim = 8)
    val resid = ProductQuantizer.residuals(df, "vec", "list", cents)
    val residBooks = ProductQuantizer.train(resid, "id", "resid",
      m = 2, ksub = 4, dim = 8, iters = 2, saltPrefix = "pqr")
    // reconstruction error at the SAME bit budget: residual must win
    val rawErr = ProductQuantizer.quantizationError(
      df, "id", "vec", rawBooks, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    val residErr = ProductQuantizer.quantizationError(
      resid, "id", "resid", residBooks, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    assert(residErr < rawErr / 2,
      s"residual books must fit list-clustered data far better: raw $rawErr resid $residErr")
  }

  test("balanced subspaces beat the contiguous split on variance-skewed dims") {
    // dims 0-3 carry all the signal (big spread), dims 4-7 are ~flat:
    // a contiguous m=2 split gives sub0 four hot dims (2 bits underfit)
    // while sub1's bits quantize noise; round-robin ranks spread the
    // hot dims 2-per-subspace
    val df = spark.range(96).select(
      col("id"),
      transform(sequence(lit(0), lit(7)), i =>
        when(i < 4, ((col("id") * 37 + i.cast("long") * 11) % 19).cast("double") * 5.0)
          .otherwise((col("id") % 3).cast("double") / 100.0)).as("vec"))
    val variances = ProductQuantizer.dimVariances(df, "id", "vec", dim = 8)
    assert((0 until 4).forall(d => variances(d) > variances(4)),
      s"skew setup broken: ${variances.toSeq}")
    val subDims = ProductQuantizer.balancedSubspaces(variances, m = 2)
    // each subspace must get exactly 2 hot (0-3) and 2 flat dims
    subDims.foreach { dims =>
      assert(dims.count(_ < 4) == 2, s"unbalanced: ${subDims.map(_.toSeq).toSeq}")
    }
    val contigBooks = ProductQuantizer.train(df, "id", "vec",
      m = 2, ksub = 4, dim = 8, iters = 2)
    val contigErr = ProductQuantizer.quantizationError(
      df, "id", "vec", contigBooks, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    val perm = df.select(col("id"),
      ProductQuantizer.permuted(col("vec"), subDims).as("pvec"))
    val balBooks = ProductQuantizer.train(perm, "id", "pvec",
      m = 2, ksub = 4, dim = 8, iters = 2, saltPrefix = "pqb")
    val balErr = ProductQuantizer.quantizationError(
      perm, "id", "pvec", balBooks, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    assert(balErr < contigErr,
      s"balanced allocation must fit skewed dims better: contig $contigErr bal $balErr")
  }

  test("residual IVFADC roundtrip: encode carries the list, within-list probe stays in-cluster") {
    val df = clustered(96).withColumn("list", col("g"))
    val cents = ProductQuantizer.coarseCentroids(df, "vec", "list", dim = 8)
    val resid = ProductQuantizer.residuals(df, "vec", "list", cents)
    val books = ProductQuantizer.train(resid, "id", "resid",
      m = 2, ksub = 4, dim = 8, iters = 2, saltPrefix = "pqr")
    val codes = ProductQuantizer.encode(resid, "id", "resid", books,
      dim = 8, carryCols = Seq("list"))
    assert(codes.columns.toSeq == Seq("id", "list", "codes"))
    val queries = ProductQuantizer.residuals(
      df.where(col("id") < 8), "vec", "list", cents)
    val top = ProductQuantizer.adcTopK(queries, "id", "resid",
      codes, "id", books, dim = 8, k = 3, withinCol = "list").collect()
    assert(top.length == 8 * 3)
    top.foreach(r => assert(r.getLong(0) % 4 == r.getLong(1) % 4,
      s"crossed clusters: $r"))
  }

  test("procrustesRotation recovers a known rotation and returns an orthogonal R") {
    val n = 4
    val theta = 0.6
    // G = Givens rotation on dims (0,1); maximizing tr(R·Gᵀ) → R = G
    val g = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    g(0)(0) = math.cos(theta); g(0)(1) = -math.sin(theta)
    g(1)(0) = math.sin(theta); g(1)(1) = math.cos(theta)
    val gt = Array.tabulate(n, n)((i, j) => g(j)(i))
    val r = ProductQuantizer.procrustesRotation(gt)
    for (i <- 0 until n; j <- 0 until n)
      assert(math.abs(r(i)(j) - g(i)(j)) < 1e-5, s"R($i)($j)=${r(i)(j)} want ${g(i)(j)}")
    // orthogonality on an arbitrary full-rank M (6-dp rounding tolerated)
    val m0 = Array.tabulate(n, n)((i, j) => math.sin(i * 3 + j * 7 + 1.0) + (if (i == j) 2.0 else 0.0))
    val r2 = ProductQuantizer.procrustesRotation(m0)
    for (i <- 0 until n; j <- 0 until n) {
      val dot = (0 until n).map(k => r2(k)(i) * r2(k)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-4, s"RᵀR($i)($j)=$dot")
    }
    // RANK-DEFICIENT M (a constant corpus dimension zeroes a column of
    // Σ x·ŷᵀ): the orthonormal completion must still return a rotation,
    // never a projection
    val mdef = Array(
      Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 2.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.5))
    val r3 = ProductQuantizer.procrustesRotation(mdef)
    for (i <- 0 until n; j <- 0 until n) {
      val dot = (0 until n).map(k => r3(k)(i) * r3(k)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-4,
        s"rank-deficient RᵀR($i)($j)=$dot")
    }
  }

  test("procrustesRotation is the trace MAXIMIZER: no sampled rotation beats it") {
    val n = 4
    def trace(a: Array[Array[Double]], m: Array[Array[Double]]): Double =
      (0 until n).map(i => (0 until n).map(k => a(i)(k) * m(k)(i)).sum).sum
    def givens(p: Int, q: Int, th: Double): Array[Array[Double]] = {
      val g = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
      g(p)(p) = math.cos(th); g(p)(q) = -math.sin(th)
      g(q)(p) = math.sin(th); g(q)(q) = math.cos(th)
      g
    }
    def mul(a: Array[Array[Double]], b: Array[Array[Double]]) =
      Array.tabulate(n, n)((i, j) => (0 until n).map(k => a(i)(k) * b(k)(j)).sum)
    for (seed <- 1 to 3) {
      val m0 = Array.tabulate(n, n)((i, j) =>
        math.sin(seed * 5 + i * 3 + j * 7 + 1.0) + (if (i == j) 1.5 else 0.0))
      val best = trace(ProductQuantizer.procrustesRotation(m0), m0)
      // a battery of deterministic rotation comparators: single Givens
      // and 2-fold products over all axis pairs and several angles
      val pairs = for (p <- 0 until n - 1; q <- p + 1 until n) yield (p, q)
      val angles = Seq(0.0, 0.3, 0.7, 1.2, 2.1, -0.5, -1.4, math.Pi / 2)
      val singles = for ((p, q) <- pairs; th <- angles) yield givens(p, q, th)
      val doubles = for (a <- singles.take(8); b <- singles.takeRight(8)) yield mul(a, b)
      (singles ++ doubles).foreach { g =>
        assert(best >= trace(g, m0) - 1e-4,
          s"seed $seed: a sampled rotation beat Procrustes (${trace(g, m0)} > $best)")
      }
    }
  }

  test("rotated: wrong-length vectors become NULL (the permuted guard)") {
    val id4 = Array.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0)
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0, 4.0)),
      (2L, Seq(1.0, 2.0, 3.0))).toDF("id", "vec")
    val out = df.select(col("id"),
      ProductQuantizer.rotated(col("vec"), id4).as("rvec"))
    assert(out.where(col("rvec").isNotNull).count() == 1)
    // identity rotation reproduces the vector (6-dp)
    val good = out.where(col("id") === 1).head().getSeq[Double](1)
    assert(good == Seq(1.0, 2.0, 3.0, 4.0))
  }

  /** Cross-subspace-correlated corpus: x0 = t + s and x2 = t − s share
    * the dominant factor t across the two subspaces, while s is binary
    * structure a 45° rotation can isolate into a 2-code-perfect
    * dimension — the gain a pure permutation cannot reach (within-
    * subspace rotation never changes k-means error; only CROSS-subspace
    * decorrelation does).
    */
  private def correlated(n: Int) = {
    spark.range(n).select(
      col("id"),
      array(
        (col("id") % 4).cast("double") * 10.0 +
          when(col("id") % 2 === 0, 1.0).otherwise(-1.0),
        (col("id") % 3).cast("double") / 100.0,
        (col("id") % 4).cast("double") * 10.0 -
          when(col("id") % 2 === 0, 1.0).otherwise(-1.0),
        (col("id") % 5).cast("double") / 100.0).as("vec"))
  }

  test("trainRotation beats the balanced permutation on cross-subspace-correlated data") {
    val df = correlated(64)
    val variances = ProductQuantizer.dimVariances(df, "id", "vec", dim = 4)
    val subDims = ProductQuantizer.balancedSubspaces(variances, 2)
    val perm = df.select(col("id"),
      ProductQuantizer.permuted(col("vec"), subDims).as("pvec"))
    val balBooks = ProductQuantizer.train(perm, "id", "pvec",
      m = 2, ksub = 2, dim = 4, iters = 2, saltPrefix = "pqb")
    val balErr = ProductQuantizer.quantizationError(
      perm, "id", "pvec", balBooks, dim = 4)
      .agg(sum(col("err"))).head().getDouble(0)
    val (r, oBooks) = ProductQuantizer.trainRotation(df, "id", "vec",
      m = 2, ksub = 2, dim = 4, alternations = 2, lloydIters = 2)
    val rot = df.select(col("id"),
      ProductQuantizer.rotated(col("vec"), r).as("rvec"))
    val rotErr = ProductQuantizer.quantizationError(
      rot, "id", "rvec", oBooks, dim = 4)
      .agg(sum(col("err"))).head().getDouble(0)
    assert(rotErr < balErr,
      s"learned rotation must beat the permutation here: bal $balErr rot $rotErr")
    // determinism: the whole chain is a pure function of the corpus
    val (r2, _) = ProductQuantizer.trainRotation(df, "id", "vec",
      m = 2, ksub = 2, dim = 4, alternations = 2, lloydIters = 2)
    assert(r.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("trainBlockRotation: orthogonal blocks, within-block decorrelation beats plain PQ, deterministic") {
    // dim 8, m=4 (dsub=2), nBlocks=2 (bs=4): block 0 spans subspaces 0-1.
    // dims 0 and 2 carry the shared factor t (cross-SUBSPACE but
    // within-BLOCK) -- the correlation a block rotation CAN remove,
    // where a plain PQ at the same budget cannot
    val df = spark.range(64).select(
      col("id"),
      array(
        (col("id") % 4).cast("double") * 10.0 +
          when(col("id") % 2 === 0, 1.0).otherwise(-1.0),
        (col("id") % 3).cast("double") / 100.0,
        (col("id") % 4).cast("double") * 10.0 -
          when(col("id") % 2 === 0, 1.0).otherwise(-1.0),
        (col("id") % 5).cast("double") / 100.0,
        (col("id") % 7).cast("double") / 100.0,
        (col("id") % 2).cast("double") / 100.0,
        (col("id") % 3).cast("double") / 50.0,
        (col("id") % 5).cast("double") / 50.0).as("vec"))
    val plainBooks = ProductQuantizer.train(df, "id", "vec",
      m = 4, ksub = 2, dim = 8, iters = 2, saltPrefix = "pqp")
    val plainErr = ProductQuantizer.quantizationError(
      df, "id", "vec", plainBooks, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    val (blocks, kBooks) = ProductQuantizer.trainBlockRotation(df, "id", "vec",
      m = 4, ksub = 2, dim = 8, nBlocks = 2, alternations = 2)
    assert(blocks.length == 2 && blocks.forall(_.length == 4))
    // every learned block is orthogonal (columns orthonormal to ~1e-5,
    // the 6-dp literal rounding tolerance)
    blocks.foreach { bm =>
      for (i <- 0 until 4; j <- 0 until 4) {
        val dot = (0 until 4).map(k => bm(k)(i) * bm(k)(j)).sum
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(dot - want) < 2e-5, s"block not orthogonal: $dot")
      }
    }
    val rot = df.select(col("id"),
      ProductQuantizer.rotatedBlocks(col("vec"), blocks).as("kvec"))
    val kErr = ProductQuantizer.quantizationError(
      rot, "id", "kvec", kBooks, dim = 8)
      .agg(sum(col("err"))).head().getDouble(0)
    assert(kErr < plainErr,
      s"block rotation must beat plain PQ here: plain $plainErr block $kErr")
    // determinism: pure function of the corpus
    val (blocks2, _) = ProductQuantizer.trainBlockRotation(df, "id", "vec",
      m = 4, ksub = 2, dim = 8, nBlocks = 2, alternations = 2)
    assert(blocks.map(_.map(_.toSeq).toSeq).toSeq
      == blocks2.map(_.map(_.toSeq).toSeq).toSeq)
    // identity blocks reduce to the 6-dp projection; ragged input -> NULL
    val ident = Array.fill(2)(
      Array.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0))
    val idRows = df.limit(1).select(
      ProductQuantizer.rotatedBlocks(col("vec"), ident).as("v"),
      col("vec")).collect()(0)
    assert(idRows.getSeq[Double](0) == idRows.getSeq[Double](1).map(x =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val ragged = spark.range(1).select(array(lit(1.0), lit(2.0)).as("vec"))
      .select(ProductQuantizer.rotatedBlocks(col("vec"), ident).as("v"))
      .collect()(0)
    assert(ragged.isNullAt(0), "wrong-length vectors must be NULL")
  }

  /** Planted-cluster corpus for the adaptive-probe pins: 16-dim, 4
    * clusters keyed by the quarter-lead pattern (+2 on own lead, -2 on
    * the others), every 7th row a boundary straddler of pair (k, k+1)
    * with both leads at 0 — its routing is decided by the wobble and
    * its true neighbors genuinely live in both lists.
    */
  private def straddlerCorpus(n: Int) = {
    spark.range(n).select(
      col("id"),
      transform(sequence(lit(0), lit(15)), i => {
        val k = (col("id") % 4).cast("int")
        val k2 = ((col("id") % 4 + 1) % 4).cast("int")
        val j = (i.cast("int") / 4).cast("int")
        val strad = col("id") % 7 === 0
        val base = when(pmod(i, lit(4)) =!= 0, lit(0.0))
          .when(strad && (j === k || j === k2), lit(0.0))
          .when(!strad && j === k, lit(2.0))
          .otherwise(lit(-2.0))
        round(base + (pmod(col("id") * (i + 3), lit(17)).cast("double")
          - 8.0) / 40.0, 6)
      }).as("vec"))
  }
  private def leadListOf(vec: org.apache.spark.sql.Column) =
    element_at(graft.Queries.pqTopLists(vec, 1, stride = 4), 1)

  test("probeListsAdaptive: contains fixed-1, ratio-monotone, capped; beats fixed-2 mass at equal recall on straddlers") {
    val corpus = straddlerCorpus(280)
    val routed = corpus.withColumn("list", leadListOf(col("vec")))
      .localCheckpoint()
    val cents = ProductQuantizer.coarseCentroids(routed, "vec", "list", 16)
    val queries = corpus.where(col("id") % 5 === 0)
    def probeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      df.select(col("id"), col("list")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val fixed1 = probeSet(ProductQuantizer.probeLists(
      queries, "vec", cents, 16, nProbe = 1))
    val fixed2 = probeSet(ProductQuantizer.probeLists(
      queries, "vec", cents, 16, nProbe = 2))
    val tight = probeSet(ProductQuantizer.probeListsAdaptive(
      queries, "vec", cents, 16, maxProbe = 4, ratioNum = 11, ratioDen = 10))
    val adaptive = probeSet(ProductQuantizer.probeListsAdaptive(
      queries, "vec", cents, 16, maxProbe = 4, ratioNum = 2, ratioDen = 1))
    val loose = probeSet(ProductQuantizer.probeListsAdaptive(
      queries, "vec", cents, 16, maxProbe = 4, ratioNum = 10000, ratioDen = 1))
    val capped = probeSet(ProductQuantizer.probeListsAdaptive(
      queries, "vec", cents, 16, maxProbe = 2, ratioNum = 10000, ratioDen = 1))
    // structural pins: nProbe=1 nesting, ratio monotonicity, the cap
    assert(fixed1.subsetOf(tight) && tight.subsetOf(adaptive) &&
      adaptive.subsetOf(loose))
    assert(capped == fixed2, "maxProbe=2 at an include-all ratio IS fixed-2")
    assert(loose.size == queries.count() * 4)
    // the trade, on the near-exact SQ8 tier: equal recall to fixed-2
    // at strictly lower priced mass (straddlers buy their pair list,
    // regulars keep one probe)
    val (centsR, rStats) = ScalarQuantizer.trainResidual(routed, "vec", "list", 16)
    val rCodes = ScalarQuantizer.encode(
      ProductQuantizer.residuals(routed, "vec", "list", centsR),
      "id", "resid", rStats, carryCols = Seq("list")).localCheckpoint()
    val exact = corpus.select(col("id").as("c_id"), col("vec").as("c_vec"))
      .join(broadcast(queries.select(col("id").as("q_id"), col("vec").as("q_vec"))),
        col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(aggregate(zip_with(col("q_vec"), col("c_vec"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (u, x) => u + x), 6).as("d"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("d").asc, col("c_id").asc)))
      .where(col("rn") <= 5)
      .select(col("q_id"), col("c_id").as("vec_id")).localCheckpoint()
    def run(probed: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val p = probed.localCheckpoint()
      val top = ScalarQuantizer.adcTopK(
        ProductQuantizer.residuals(p, "vec", "list", centsR),
        "id", "resid", rCodes, "id", rStats, k = 5, withinCol = Some("list"))
      val hits = top.select(col("q_id"), col("vec_id"))
        .join(exact, Seq("q_id", "vec_id"), "left_semi").count()
      val pairs = p.select(col("id").as("q_id"), col("list"))
        .join(rCodes.select(col("id").as("c_id"), col("list")), Seq("list"))
        .where(col("c_id") =!= col("q_id")).count()
      (hits, pairs)
    }
    val (h2, m2) = run(ProductQuantizer.probeLists(queries, "vec", cents, 16, 2))
    val (ha, ma) = run(ProductQuantizer.probeListsAdaptive(
      queries, "vec", cents, 16, maxProbe = 4, ratioNum = 2, ratioDen = 1))
    val (h1, m1) = run(ProductQuantizer.probeLists(queries, "vec", cents, 16, 1))
    assert(ha >= h2, s"adaptive hits $ha must meet fixed-2 $h2")
    assert(ma < m2, s"adaptive mass $ma must undercut fixed-2 $m2")
    assert(ha > h1 && ma >= m1,
      s"adaptive ($ha hits, $ma pairs) must beat fixed-1 ($h1, $m1) on recall")
  }

  test("probeListsBudgeted: exact spend, budget-monotone nesting, " +
      "per-query prefix, grants land on the straddlers") {
    val corpus = straddlerCorpus(280)
    val routed = corpus.withColumn("list", leadListOf(col("vec")))
      .localCheckpoint()
    val cents = ProductQuantizer.coarseCentroids(routed, "vec", "list", 16)
    val queries = corpus.where(col("id") % 5 === 0)
    val nQ = queries.count()
    def probeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      df.select(col("id"), col("list")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    def budgeted(b: Int, cap: Int = 4) = probeSet(
      ProductQuantizer.probeListsBudgeted(
        queries, "id", "vec", cents, 16, maxProbe = cap, extraBudget = b))
    val fixed1 = probeSet(ProductQuantizer.probeLists(
      queries, "vec", cents, 16, nProbe = 1))
    // budget 0 IS fixed-1; each extra unit of budget is exactly one probe
    assert(budgeted(0) == fixed1)
    val b5 = budgeted(5); val b12 = budgeted(12)
    assert(b5.size == nQ + 5 && b12.size == nQ + 12,
      s"the spend is exact: ${b5.size} vs ${nQ + 5}, ${b12.size} vs ${nQ + 12}")
    // budget-monotone nesting: a bigger budget only adds probes
    assert(fixed1.subsetOf(b5) && b5.subsetOf(b12))
    // a budget covering every candidate == the full maxProbe fan-out
    assert(budgeted((nQ * 3).toInt).size == nQ * 4)
    // per-query PREFIX pin: a query with c probes holds exactly its c
    // nearest lists (grants nest in centroid rank within each query)
    val byRank = (1 to 4).map(k => k -> probeSet(
      ProductQuantizer.probeLists(queries, "vec", cents, 16, nProbe = k))).toMap
    b12.groupBy(_._1).foreach { case (q, ps) =>
      val c = ps.size
      assert(ps == byRank(c).filter(_._1 == q),
        s"query $q with $c probes must hold its $c nearest lists")
    }
    // the calibration claim: with budget == the straddler-query count,
    // every grant lands on a straddler (their second-list margins are
    // the globally smallest ratios on this surface)
    val straddlerQs = queries.where(col("id") % 7 === 0)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val grants = budgeted(straddlerQs.size) -- fixed1
    assert(grants.map(_._1) == straddlerQs,
      s"grants ${grants.map(_._1)} must be exactly the straddlers $straddlerQs")
  }

  test("calibrateProbeBudget: cap is the needed-th GT ratio, budget counts all " +
      "candidates under it, zero-needed spends nothing") {
    // hand-built 1-D surface: three lists on a line, one confident query,
    // one ambiguous toward list 1, one ambiguous toward list 0 but wider
    val cents = Map(0 -> Array(0.0, 0.0), 1 -> Array(4.0, 0.0),
      2 -> Array(8.0, 0.0))
    val queries = Seq(
      (1L, Seq(0.1, 0.0)), (2L, Seq(1.9, 0.0)), (3L, Seq(2.2, 0.0))
    ).toDF("id", "vec")
    val corpusLists = Seq((101L, 0), (102L, 1), (103L, 2))
      .toDF("vec_id", "list")
    val gt = Seq((1L, 101L), (2L, 102L), (3L, 103L)).toDF("q_id", "vec_id")
    val (cap, budget) = ProductQuantizer.calibrateProbeBudget(
      queries, "id", "vec", cents, dim = 2, maxProbe = 3, gt, corpusLists)
    // target = GT with list rank <= 2 -> {q1 (rank 1), q2 (rank 2)} = 2;
    // base = 1 (q1); needed = 1; GT k>=2 ratios: q2 4.41/3.61 = 1.221607,
    // q3 (rank-3 list) 10.382716 -> cap is the 1st order statistic
    assert(cap == 1.221607, s"cap $cap")
    // candidates under the cap across ALL queries: exactly q2's second
    // list (q3's smallest ratio is 4.84/3.24 = 1.493827 > cap)
    assert(budget == 1, s"budget $budget")
    // the granted probe set: q2 gains its pair list, nobody else pays
    val probed = ProductQuantizer.probeListsBudgeted(
      queries, "id", "vec", cents, dim = 2, maxProbe = 3, extraBudget = budget)
      .select(col("id"), col("list")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(probed == Set((1L, 0), (2L, 0), (2L, 1), (3L, 1)), s"probed $probed")
    // coverage target met: every GT pair fixed-2 would cover is covered
    // (q1 via rank-1, q2 via the grant)
    // zero-needed: GT all on rank-1 lists -> spend nothing, cap 1.0
    val gt1 = Seq((1L, 101L), (2L, 101L), (3L, 102L)).toDF("q_id", "vec_id")
    assert(ProductQuantizer.calibrateProbeBudget(
      queries, "id", "vec", cents, dim = 2, maxProbe = 3, gt1, corpusLists)
      == (1.0 -> 0))
  }

  test("rank2MarginMedian: the ceil(n/2)-th smallest rank-2 ratio, tie-stable") {
    // same 1-D fixture as the calibration spec: rank-2 ratios are
    // q1 1521.0 (0.01 vs 15.21), q2 1.221607, q3 1.493827 -> n=3,
    // idx=2, median = 1.493827
    val cents = Map(0 -> Array(0.0, 0.0), 1 -> Array(4.0, 0.0),
      2 -> Array(8.0, 0.0))
    val queries = Seq(
      (1L, Seq(0.1, 0.0)), (2L, Seq(1.9, 0.0)), (3L, Seq(2.2, 0.0))
    ).toDF("id", "vec")
    assert(ProductQuantizer.rank2MarginMedian(
      queries, "id", "vec", cents, dim = 2, maxProbe = 3) == 1.493827)
    // a sample with no observable margin (every query exactly on a
    // centroid) must refuse, not return a silent sentinel
    val onCent = Seq((1L, Seq(0.0, 0.0))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      ProductQuantizer.rank2MarginMedian(
        onCent, "id", "vec", cents, dim = 2, maxProbe = 3)
    }
    assert(e.getMessage.contains("unobservable"), e.getMessage)
    // calibrateProbeBudget's budget is the count of margin candidates
    // under its cap — the calibration and the median share one table
    val gt = Seq((1L, 101L), (2L, 102L), (3L, 103L)).toDF("q_id", "vec_id")
    val corpusLists = Seq((101L, 0), (102L, 1), (103L, 2)).toDF("vec_id", "list")
    val (cap, budget) = ProductQuantizer.calibrateProbeBudget(
      queries, "id", "vec", cents, dim = 2, maxProbe = 3, gt, corpusLists)
    def grants(ratioCap: Double): Long = ProductQuantizer.marginCandidates(
        queries, "id", "vec", cents, dim = 2, maxProbe = 3)
      .where(col("k") >= 2 && col("__d1") > 0.0 && col("ratio") <= ratioCap)
      .count()
    assert(cap == 1.221607 && budget == 1 && grants(cap) == 1L)
    assert(grants(1.493827) == 2L)
  }

  test("calibrateProbeBudget: needed > 0 with zero coverable candidates " +
      "(every ambiguous query exactly on its rank-1 centroid, d1 = 0) " +
      "returns (1.0, 0) like the oracle's NULL cap, not an NPE") {
    val cents = Map(0 -> Array(0.0, 0.0), 1 -> Array(4.0, 0.0),
      2 -> Array(8.0, 0.0))
    // the single query sits EXACTLY on centroid 0 (d1 = 0 — routing is
    // not ambiguous by the d1>0 rule) but its GT neighbor lives in
    // list 1 (rank 2): target = 1, base = 0, needed = 1, yet no
    // candidate has d1 > 0 — the degenerate-but-legal audit sample
    val queries = Seq((1L, Seq(0.0, 0.0))).toDF("id", "vec")
    val corpusLists = Seq((101L, 1)).toDF("vec_id", "list")
    val gt = Seq((1L, 101L)).toDF("q_id", "vec_id")
    assert(ProductQuantizer.calibrateProbeBudget(
      queries, "id", "vec", cents, dim = 2, maxProbe = 3, gt, corpusLists)
      == (1.0 -> 0))
  }

  test("distToCentroid: fold and chain forms are value-equal on wide subspaces") {
    // dsub=20 > 16 takes the fixed-accumulator FOLD branch; the spec
    // replays the explicit chain (the dsub<=16 form, precision-growing
    // decimal type) over the same slice and pins bit-equality of the
    // VALUES — the documented contract that only the decimal TYPE
    // differs between the two forms.
    import org.apache.spark.sql.types.DecimalType
    val dsub = 20
    val cent = Array.tabulate(dsub)(p => math.rint((p * 0.37 - 1.9) * 1e6) / 1e6)
    val df = spark.range(64).select(col("id"),
      transform(sequence(lit(0), lit(dsub - 1)), i =>
        round((col("id") % 11).cast("double") / 7.0 +
          i.cast("double") * 0.013, 6)).as("vec"))
    val v = col("vec").cast("array<double>")
    val chain = (0 until dsub).map { p =>
      val el = element_at(v, p + 1)
      round((el - lit(cent(p))) * (el - lit(cent(p))), 6)
        .cast(DecimalType(18, 6))
    }.reduce(_ + _)
    val rows = df.select(
      ProductQuantizer.distToCentroid(v, 0, dsub, cent).cast("string").as("fold"),
      chain.cast("string").as("chain")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"fold ${r.getString(0)} != chain ${r.getString(1)}")
    }
  }
}
