package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.TextFunctions

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): each D-dim vector is split into
  * `m` contiguous sub-vectors of `D/m` dims, each sub-vector quantized to
  * its nearest of `ksub` per-subspace centroids, and the vector stored as
  * the `m` centroid CODES — at production shape (D=768 float, m=96,
  * ksub=256) that is 3 KB → 96 bytes, a 32× compression that turns a
  * 100 TB embedding corpus into ~3 TB of scannable codes. Queries score
  * codes by ADC (asymmetric distance computation): one `m × ksub`
  * lookup table of exact query-to-centroid distances per query, then the
  * approximate distance of a corpus vector is the SUM of its m table
  * entries — a map over the code column with a broadcast LUT, no
  * decompression.
  *
  * Everything here follows the repo's cross-engine exactness discipline
  * so the full train → encode → probe chain is oracle-checkable:
  *
  *  - squared L2 terms are rounded to 6 dp per dimension and summed as
  *    DECIMAL (order-independent, bit-equal in any ANSI engine);
  *  - centroid updates are `round(sum(round(v,6))::DOUBLE / count, 6)`
  *    — the 6-dp-per-iteration replay recipe the k-center and
  *    power-iteration oracles already use;
  *  - deterministic init: per subspace, the `ksub` sub-vectors whose
  *    [[TextFunctions.portableUniform]] of `"pq|<sub>|<id>"` is
  *    smallest (ties by id) — engine-portable, no RNG state.
  *
  * Scale shape: training runs one map-side code projection plus one
  * `m·ksub·dsub`-cell partial aggregation per iteration (driver state =
  * that many scalars, never rows); encoding is a map-only codegen'd
  * projection against literal centroids; the ADC probe scans only
  * `(id, codes)`. The reference has no ANN surface — added per the
  * training-pipeline mandate, completing the IVF path in
  * [[Similarity.ivfTopKJoin]] with the compressed-residence half (IVF
  * prunes WHICH vectors are read; PQ shrinks WHAT is read).
  */
object ProductQuantizer {

  /** Codebooks as `[m][ksub][dsub]` rounded-6dp doubles. */
  type Codebooks = Array[Array[Array[Double]]]

  /** Exact squared-L2 between a sub-vector slice of `vec` (array<double>,
    * 1-based offset `sub*dsub`) and a literal centroid, as the
    * order-independent DECIMAL sum of per-dimension rounded terms.
    * Two forms by width: dsub ≤ 16 emits the explicit term chain
    * (whose result decimal precision GROWS with each `+` — the
    * historical type of every 8/16-dim encode caller); wider subspaces
    * fold the centroid as array data under a FIXED Decimal(28,6)
    * accumulator. The two forms are bit-equal in VALUE (exact decimal
    * addition of identical terms) but differ in result decimal TYPE —
    * pinned by ProductQuantizerSpec ("fold and chain forms are
    * value-equal"). The threshold cannot simply sit above 64: the
    * dim-512 ENCODE path runs dsub = 512/8 = 64, where ksub·dsub
    * explicit chains blow janino's 64 KB method cap (each failed
    * compile costs seconds before the interpreted fallback), so
    * dim-64 COARSE-routing callers (probeLists at dim=64) share the
    * fold branch deliberately.
    */
  private[graft] def distToCentroid(vec: Column, sub: Int, dsub: Int,
      cent: Array[Double]): Column =
    if (dsub <= 16)
      (0 until dsub).map { p =>
        val el = element_at(vec, sub * dsub + p + 1)
        round((el - lit(cent(p))) * (el - lit(cent(p))), 6)
          .cast(DecimalType(18, 6))
      }.reduce(_ + _)
    else {
      // wide subspaces: the explicit dsub-term chain is CODE and blows
      // janino's 64 KB method cap at production dims (each failed
      // compile attempt costs seconds before the interpreted fallback)
      // — fold the centroid as array DATA instead. Decimal addition is
      // exact and order-free, so the fixed-accumulator fold equals the
      // explicit reduce bit-for-bit.
      val acc = DecimalType(28, 6)
      aggregate(
        zip_with(slice(vec, sub * dsub + 1, dsub), lit(cent),
          (x, c) => round((x - c) * (x - c), 6).cast(DecimalType(18, 6))),
        lit(new java.math.BigDecimal(0)).cast(acc),
        (a, v) => (a + v).cast(acc))
    }

  /** [[distToCentroid]]'s FOLD form unconditionally: the centroid rides
    * as array DATA and the generated code is a LOOP, not an unrolled
    * dsub-term chain. Bit-equal in VALUE to the chain form (exact
    * decimal addition of identical terms — the ProductQuantizerSpec
    * "fold and chain forms are value-equal" contract); the TYPE is the
    * fixed (28,6) accumulator. Used by the encode/M-step argmins where
    * ksub of these land in ONE generated method — unrolled chains put
    * m·ksub·dsub decimal terms into a single janino method body, which
    * blows the 64 KB cap and costs a seconds-long failed compile before
    * every interpreted fallback (the round-12 "codegen disabled" gate
    * noise, root-caused round 13).
    */
  private def distToCentroidFold(vec: Column, sub: Int, dsub: Int,
      cent: Array[Double]): Column = {
    val acc = DecimalType(28, 6)
    aggregate(
      zip_with(slice(vec, sub * dsub + 1, dsub), lit(cent),
        (x, c) => round((x - c) * (x - c), 6).cast(DecimalType(18, 6))),
      lit(new java.math.BigDecimal(0)).cast(acc),
      (a, v) => (a + v).cast(acc))
  }

  /** Argmin centroid code of subspace `sub` — an `array_min` over
    * `(distance, code)` structs (decimal distance first, so ties break
    * to the smaller code), fully codegen'd against literal centroids;
    * loop-form distances so ksub argmins fit one generated method.
    */
  private def codeFor(vec: Column, sub: Int, dsub: Int,
      cents: Array[Array[Double]]): Column =
    array_min(array(cents.zipWithIndex.map { case (cv, c) =>
      struct(distToCentroidFold(vec, sub, dsub, cv).as("d"),
        lit(c).as("code"))
    }: _*)).getField("code")

  /** The m per-subspace codes of `vec` as one array<int> column. */
  private def codesArray(vec: Column, books: Codebooks, dsub: Int): Column =
    array(books.indices.map(s => codeFor(vec, s, dsub, books(s))): _*)

  private def prepared(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, carryCols: Seq[String] = Nil): DataFrame =
    Parallelism.ensureCompute(corpus)
      .select((col(idCol).as("__id") +: carryCols.map(col)) :+
        col(vecCol).cast("array<double>").as("__vec"): _*)
      .where(size(col("__vec")) === dim)

  /** Train per-subspace Lloyd's codebooks. Per iteration: one map-side
    * assignment projection (literal centroids, codegen) and ONE
    * `m·ksub·dsub`-cell partial-agg shuffle; the driver holds only the
    * codebook scalars. Codes with no members keep their previous
    * centroid (deterministic, oracle-replayable). `saltPrefix` keys the
    * portable-uniform init so two quantizers over the same corpus can
    * differ on purpose.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int, iters: Int = 2,
      saltPrefix: String = "pq"): Codebooks = Pins.scoped { scope =>
    require(m > 0 && dim % m == 0,
      s"dim=$dim must split evenly into m=$m subspaces")
    require(ksub > 0 && iters >= 0, s"ksub=$ksub, iters=$iters")
    val dsub = dim / m
    val v = scope.pin(prepared(corpus, idCol, vecCol, dim))
    // init: per subspace, the ksub portably-smallest sub-vectors —
    // m TakeOrderedAndProject jobs of ksub rows each, never a full sort
    val books: Codebooks = Array.tabulate(m) { s =>
      val rows = v.select(
        TextFunctions.portableUniform(concat_ws("|",
          lit(saltPrefix), lit(s), col("__id").cast("string"))).as("u"),
        col("__id"),
        transform(slice(col("__vec"), s * dsub + 1, dsub),
          x => round(x, 6)).as("sv"))
        .orderBy(col("u").asc, col("__id").asc)
        .limit(ksub).collect()
      require(rows.length == ksub,
        s"train: corpus has only ${rows.length} vectors of dim=$dim, need ksub=$ksub")
      rows.map(_.getSeq[Double](2).toArray)
    }
    var cur = books
    for (_ <- 0 until iters) {
      // per-subspace code COLUMNS, not one codes ARRAY: the single
      // array(argmin₀..argmin_{m−1}) literal-centroid expression is one
      // un-splittable generated method — m·ksub·dsub decimal terms in
      // one body blows janino's 64 KB method cap, and every M-step paid
      // a seconds-long failed compile before the interpreted fallback
      // (the round-12 "codegen disabled" gate noise). As m separate
      // top-level expressions each argmin generates its own method and
      // the whole M-step stays inside whole-stage codegen; the CASE
      // sub→column mapping below is exactly element_at(codes, sub+1),
      // so the update is bit-identical.
      val codeCols = cur.indices.map(s =>
        codeFor(col("__vec"), s, dsub, cur(s)).as(s"__c$s"))
      val subCol = (col("pos") / dsub).cast("int")
      val updated = v
        .select(col("__vec") +: codeCols: _*)
        .select(cur.indices.map(s => col(s"__c$s")) :+
          posexplode(col("__vec")).as(Seq("pos", "x")): _*)
        .select(
          subCol.as("sub"),
          pmod(col("pos"), lit(dsub)).as("posin"),
          cur.indices.tail.foldLeft(
              when(subCol === 0, col("__c0"))) { (acc, s) =>
            acc.when(subCol === s, col(s"__c$s"))
          }.as("code"),
          col("x"))
        .groupBy(col("sub"), col("code"), col("posin"))
        .agg(round(
          sum(round(col("x"), 6).cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("val"))
        .collect()
      val next = cur.map(_.map(_.clone()))
      updated.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cur = next
    }
    cur
  }

  /** The codebooks as a (sub, code, pos, val) DataFrame — the
    * persistable/inspectable form, and the q203 oracle surface.
    */
  def codebookDf(spark: SparkSession, books: Codebooks): DataFrame = {
    val rows = for {
      (sub, s) <- books.zipWithIndex
      (cent, c) <- sub.zipWithIndex
      (x, p) <- cent.zipWithIndex
    } yield Row(s, c, p, x)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("val", DoubleType, nullable = false))))
  }

  /** Map-only encode: `(idCol, carryCols..., codes array<int>)` — the
    * compressed residence of the corpus. Codegen'd argmin against
    * literal centroids; no shuffle. `carryCols` ride along unchanged
    * (e.g. the coarse list id of the IVF-PQ layout, so no re-join is
    * needed to land codes hive-partitioned by list).
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      books: Codebooks, dim: Int, carryCols: Seq[String] = Nil): DataFrame = {
    val dsub = dim / books.length
    prepared(corpus, idCol, vecCol, dim, carryCols)
      .select((col("__id").as(idCol) +: carryCols.map(col)) :+
        codesArray(col("__vec"), books, dsub).as("codes"): _*)
  }

  /** Per-row quantization error: the squared-L2 distance between the
    * vector and its PQ reconstruction = Σ over subspaces of the
    * assignment distance (the min over codes of the exact rounded-term
    * decimal distance — the same quantity [[train]]'s argmin prices).
    * `(idCol, err)` with err the 6-dp-rounded double. Map-only against
    * literal centroids; no shuffle. This is the STALENESS signal of a
    * frozen quantizer: as the arriving distribution drifts away from
    * the training corpus, reconstruction error rises — long before a
    * recall audit (which needs ground truth) can see it. Sketch it
    * (DDSketch) per batch and W1-compare against the training-time
    * error sketch to get a retrain gate from fixed-size state.
    */
  def quantizationError(corpus: DataFrame, idCol: String, vecCol: String,
      books: Codebooks, dim: Int, errCol: String = "err"): DataFrame = {
    val dsub = dim / books.length
    val total = books.indices.map { s =>
      array_min(array(books(s).map(cv =>
        distToCentroidFold(col("__vec"), s, dsub, cv)): _*))
    }.reduce(_ + _)
    prepared(corpus, idCol, vecCol, dim)
      .select(col("__id").as(idCol), round(total.cast("double"), 6).as(errCol))
  }

  // ------------------------------------------------- residual (IVFADC)

  /** Per-list coarse centroids `c(list)`: the mean vector of each
    * coarse list, every component `round(sumDecimal::DOUBLE/count, 6)`
    * (the engine-portable centroid-update recipe). This is the `c(x)`
    * of canonical IVFADC (Jégou, Douze, Schmid 2011 §III-C): instead
    * of quantizing raw vectors, quantize the RESIDUAL `x − c(list(x))`
    * — residuals concentrate around the origin regardless of where the
    * list lives in space, so the product codebooks spend their dynamic
    * range on the local displacement and recall at the same bit budget
    * rises. Driver state = nLists × dim scalars (the codebook-scalar
    * discipline); the input pass is one posexplode partial agg.
    */
  def coarseCentroids(corpus: DataFrame, vecCol: String, listCol: String,
      dim: Int): Map[Int, Array[Double]] = {
    val rows = Parallelism.ensureCompute(corpus)
      .select(col(listCol).cast("int").as("__list"),
        col(vecCol).cast("array<double>").as("__vec"))
      .where(size(col("__vec")) === dim)
      .select(col("__list"), posexplode(col("__vec")).as(Seq("pos", "x")))
      .groupBy(col("__list"), col("pos"))
      .agg(round(
        sum(round(col("x"), 6).cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)), 6).as("val"))
      .collect() // bounded: nLists × dim scalars
    rows.groupBy(_.getInt(0)).map { case (l, rs) =>
      val arr = new Array[Double](dim)
      rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      l -> arr
    }
  }

  /** Residual column: `vec − c(list)` per row (IEEE subtraction of the
    * 6-dp centroid literal from the raw component — deterministic and
    * engine-portable), appended as `residCol`; all other columns ride
    * through. Map-only, codegen'd against a literal CASE over the
    * centroid arrays (at thousands of lists, join a centroid table
    * instead — here nLists is small by the coarse-quantizer contract).
    * Train/encode/probe then compose UNCHANGED over the residual
    * column: ADC on same-list residuals approximates
    * `‖(q−c) − (x−c)‖² = ‖q−x‖²` exactly as raw ADC does, but with
    * codebooks trained on the concentrated residual distribution.
    */
  def residuals(corpus: DataFrame, vecCol: String, listCol: String,
      cents: Map[Int, Array[Double]], residCol: String = "resid"): DataFrame = {
    require(cents.nonEmpty, "residuals: no coarse centroids")
    require(cents.values.map(_.length).toSet.size == 1,
      "residuals: centroid dims disagree")
    val dim = cents.head._2.length
    val sorted = cents.toSeq.sortBy(_._1)
    // lit(arr) is ONE literal node (array data); array(map(lit)) is a
    // dim-child CreateArray tree that bloats codegen at production dims
    val chosen = sorted.tail.foldLeft(
      when(col(listCol).cast("int") === sorted.head._1,
        lit(sorted.head._2))) {
      case (acc, (l, c)) =>
        acc.when(col(listCol).cast("int") === l, lit(c))
    }
    // a SHORT vector must RAISE here, not pad: zip_with against the
    // dim-long centroid literal pads with NULLs to exactly dim length,
    // which would defeat every downstream size === dim guard (the
    // ScalarQuantizer/prepared filters) and let a NULL-bearing residual
    // encode to codes that rank first under nulls-first asc. A NULL
    // vector stays NULL (the usual drop-at-the-next-filter contract).
    val xd = col(vecCol).cast("array<double>")
    corpus.withColumn(residCol,
      when(xd.isNotNull && size(xd) =!= dim,
        raise_error(concat(lit("residuals: vector size "),
          size(xd).cast("string"), lit(s" != dim $dim"))))
        .otherwise(zip_with(xd, chosen, (x, c) => x - c)))
  }

  // -------------------------------------- balanced subspaces (OPQ init)

  /** Per-dimension variance `E[x²] − E[x]²` with exact-decimal moment
    * sums (round-6 contributions — order-independent, engine-portable)
    * and one 6-dp-rounded IEEE readout per dim. One posexplode partial
    * agg; driver state = dim scalars.
    */
  def dimVariances(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int): Array[Double] = {
    val rows = prepared(corpus, idCol, vecCol, dim)
      .select(posexplode(col("__vec")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(round(
        sum(round(col("x") * col("x"), 6).cast(DecimalType(18, 6)))
          .cast("double") / count(lit(1)) -
        pow(sum(round(col("x"), 6).cast(DecimalType(18, 6)))
          .cast("double") / count(lit(1)), 2), 6).as("v"))
      .collect()
    val out = new Array[Double](dim)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** Variance-BALANCED subspace allocation — the "structured ordering"
    * initialization of OPQ (Ge, He, Ke, Sun, "Optimized Product
    * Quantization", CVPR 2013 §4): dimensions ranked by variance
    * descending (ties to the lower index), rank r assigned to subspace
    * `r mod m`, slot `r div m`, so every subspace receives an equal
    * mix of hot and flat dimensions. A contiguous split concentrates a
    * skewed embedding's information in a few subspaces (whose ksub
    * codes then underfit) while other subspaces spend their bits on
    * noise — balancing the allocation is the cheap, rotation-free half
    * of OPQ's gain, and it is a PURE PERMUTATION: L2 distances are
    * permutation-invariant, so train/encode/probe compose unchanged
    * over [[permuted]] vectors. Returns `subDims[m][dim/m]` = original
    * dim index of each slot.
    */
  def balancedSubspaces(variances: Array[Double], m: Int): Array[Array[Int]] = {
    require(variances.nonEmpty && variances.length % m == 0,
      s"dim=${variances.length} must split evenly into m=$m")
    val dsub = variances.length / m
    val ranked = variances.zipWithIndex
      .sortBy { case (v, d) => (-v, d) }.map(_._2)
    Array.tabulate(m)(s => Array.tabulate(dsub)(j => ranked(j * m + s)))
  }

  /** The permuted vector column laying `subDims`' slots out
    * contiguously — subspace s occupies positions [s·dsub, (s+1)·dsub).
    * Map-only; feeds [[train]]/[[encode]]/[[adcTopK]] verbatim. NULL
    * for a vector whose length is not Σ|subDims| — `element_at` would
    * otherwise null-pad a short vector to full length and slip it past
    * the `size === dim` guard every PQ entry point enforces; the NULL
    * makes wrong-size rows drop there exactly as un-permuted ones do.
    */
  def permuted(vec: Column, subDims: Array[Array[Int]]): Column =
    when(size(vec) === subDims.map(_.length).sum,
      array(subDims.flatten.toIndexedSeq.map(d => element_at(vec, d + 1)): _*))

  // -------------------------------------- learned rotation (OPQ, parametric)

  /** `subDims` as the orthogonal permutation matrix R₀ with
    * R₀(p)(subDims.flatten(p)) = 1 — [[permuted]] expressed as a
    * rotation, the "structured ordering" init of the parametric OPQ
    * loop ([[trainRotation]]).
    */
  def permutationMatrix(subDims: Array[Array[Int]]): Array[Array[Double]] = {
    val flat = subDims.flatten
    Array.tabulate(flat.length, flat.length)((p, j) =>
      if (flat(p) == j) 1.0 else 0.0)
  }

  /** `R·vec` as a map-only literal projection: out_i =
    * `round(Σ_j dec9(round(R(i)(j)·vec_j, 9)), 6)` — products rounded
    * 9 dp and summed as DECIMAL so the contraction is order-independent
    * and replays bit-equal in an oracle that reads the SAME R literals
    * (the q191 shared-literal discipline; R itself is driver-derived).
    * dim² product terms, no shuffle. NULL for a wrong-length vector
    * (the [[permuted]] guard), so bad rows drop at the next
    * `size === dim` filter instead of null-contaminating the sums.
    */
  def rotated(vec: Column, r: Array[Array[Double]]): Column = {
    val dim = r.length
    // each R row rides as an ARRAY LITERAL folded by zip_with/aggregate
    // HOFs — R is data, not code, so codegen stays O(1) per output dim
    // (a dim²-term literal projection blows janino's 64 KB method cap)
    // acc stays DECIMAL(30,9): the merge's (31,9) result is cast back
    // losslessly (sums are ≪ 1e21), keeping the lambda type fixed
    val acc9 = DecimalType(30, 9)
    val zero = lit(new java.math.BigDecimal(0)).cast(acc9)
    when(size(vec) === dim,
      array((0 until dim).map { i =>
        round(
          aggregate(
            zip_with(lit(r(i)), vec,
              (a, x) => round(a * x, 9).cast(DecimalType(20, 9))),
            zero, (acc, v) => (acc + v).cast(acc9)).cast("double"), 6)
      }: _*))
  }

  /** Map-only PQ reconstruction `(idCol, __rec array<double>)`: each
    * position's value is its assigned code's centroid component — a
    * literal lookup over the encode result. The encode projection sits
    * behind a localCheckpoint barrier so CollapseProject cannot
    * re-inline each subspace's argmin into its dsub position
    * references (the documented fold-re-inlining pitfall).
    */
  def reconstructed(corpus: DataFrame, idCol: String, vecCol: String,
      books: Codebooks, dim: Int): DataFrame = {
    val dsub = dim / books.length
    val enc = prepared(corpus, idCol, vecCol, dim)
      .select(col("__id"),
        codesArray(col("__vec"), books, dsub).as("__codes"))
      .localCheckpoint()
    if (dim > 128) {
      // production dims: one nested-literal lookup expression instead of
      // dim generated columns (the rotatedBlocks janino-cap discipline);
      // same values — a pure reindexing of the same codebook scalars
      val booksLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
      enc.select(col("__id").as(idCol),
        transform(sequence(lit(0), lit(dim - 1)), p => {
          val s = (p.cast("int") / dsub).cast("int")
          element_at(
            element_at(element_at(booksLit, s + 1),
              element_at(col("__codes"), s + 1) + 1),
            pmod(p, lit(dsub)) + 1)
        }).as("__rec"))
    } else
      enc.select(col("__id").as(idCol), array((0 until dim).map { p =>
        val s = p / dsub
        val pin = p % dsub
        element_at(array(books(s).map(c => lit(c(pin))): _*),
          element_at(col("__codes"), s + 1) + 1)
      }: _*).as("__rec"))
  }

  /** `M = Σ_rows x·ŷᵀ` (dim×dim): ONE partial-agg shuffle whose map
    * side expands each row to dim² (i,j) product terms and combines
    * them to ≤dim² cells per partition — the shuffle is dim²-sized at
    * any corpus size; driver state = dim² scalars. Products rounded
    * 9 dp and decimal-summed (order-independent).
    */
  private def correlation(x: DataFrame, y: DataFrame,
      dim: Int, blockSize: Option[Int] = None): Array[Array[Double]] = {
    val joined = x.join(y, "__id")
    // block-diagonal callers only read intra-block cells: scoping the
    // GENERATORS to the block (explode block index, slice both sides,
    // cross within the slice) emits dim²/nBlocks rows per input row —
    // a post-explode filter would still generate all dim² first
    val scoped = blockSize match {
      case Some(bs) =>
        joined
          .select(explode(sequence(lit(0), lit(dim / bs - 1))).as("b"),
            col("__vec"), col("__rec"))
          .select(col("b"),
            posexplode(slice(col("__vec"), col("b") * bs + 1, lit(bs)))
              .as(Seq("bi", "xv")),
            slice(col("__rec"), col("b") * bs + 1, lit(bs)).as("ys"))
          .select(col("b"), col("bi"), col("xv"),
            posexplode(col("ys")).as(Seq("bj", "yv")))
          .select((col("b") * bs + col("bi")).as("i"),
            (col("b") * bs + col("bj")).as("j"), col("xv"), col("yv"))
      case None =>
        joined
          .select(posexplode(col("__vec")).as(Seq("i", "xv")), col("__rec"))
          .select(col("i"), col("xv"),
            posexplode(col("__rec")).as(Seq("j", "yv")))
    }
    val rows = scoped
      .groupBy(col("i"), col("j"))
      .agg(sum(round(col("xv") * col("yv"), 9).cast(DecimalType(30, 9)))
        .cast("double").as("m"))
      .collect()
    val out = Array.fill(dim, dim)(0.0)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    out
  }

  /** The orthogonal Procrustes maximizer of `tr(R·M)`: `R = V·Uᵀ` for
    * `M = U·Σ·Vᵀ`, via deterministic one-sided Jacobi SVD (fixed 12
    * cyclic sweeps — a pure function of M, so the whole rotation chain
    * replays). Near-zero singular directions are completed to an
    * ORTHONORMAL basis by deterministic Gram–Schmidt over the standard
    * basis (copying V's column there is NOT orthogonal to the
    * surviving U columns when M is rank-deficient — e.g. a constant
    * corpus dimension zeroes a column of M and would turn R into a
    * projection). Entries rounded 6 dp — the shared literals both
    * the Spark plan and the oracle read; the rounded R is orthogonal
    * to ~1e-6, which the audit tolerates (it only rotates, never
    * inverts).
    */
  private[graft] def procrustesRotation(
      m0: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m0.length
    // columns of a converge to U·Σ; v accumulates the right rotations
    val a = Array.tabulate(n, n)((i, j) => m0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until 12; p <- 0 until n - 1; q <- p + 1 until n) {
      var app = 0.0; var aqq = 0.0; var apq = 0.0
      var k = 0
      while (k < n) {
        val xp = a(k)(p); val xq = a(k)(q)
        app += xp * xp; aqq += xq * xq; apq += xp * xq
        k += 1
      }
      if (math.abs(apq) > 1e-15) {
        val tau = (aqq - app) / (2.0 * apq)
        val t =
          if (tau >= 0) 1.0 / (tau + math.sqrt(1.0 + tau * tau))
          else 1.0 / (tau - math.sqrt(1.0 + tau * tau))
        val c = 1.0 / math.sqrt(1.0 + t * t)
        val s = t * c
        k = 0
        while (k < n) {
          val xp = a(k)(p); val xq = a(k)(q)
          a(k)(p) = c * xp - s * xq; a(k)(q) = s * xp + c * xq
          val vp = v(k)(p); val vq = v(k)(q)
          v(k)(p) = c * vp - s * vq; v(k)(q) = s * vp + c * vq
          k += 1
        }
      }
    }
    val u = Array.fill(n, n)(0.0)
    val filled = Array.fill(n)(false)
    for (j <- 0 until n) {
      var norm = 0.0
      var k = 0
      while (k < n) { norm += a(k)(j) * a(k)(j); k += 1 }
      if (math.sqrt(norm) > 1e-12) {
        k = 0
        while (k < n) { u(k)(j) = a(k)(j) / math.sqrt(norm); k += 1 }
        filled(j) = true
      }
    }
    // orthonormal completion of the zero-sigma columns: Gram-Schmidt the
    // standard basis vectors (deterministic order) against every column
    // already placed
    for (j <- 0 until n if !filled(j)) {
      var placed = false
      var cand = 0
      while (!placed && cand < n) {
        val w = Array.tabulate(n)(i => if (i == cand) 1.0 else 0.0)
        for (c <- 0 until n if filled(c)) {
          var dot = 0.0
          var k = 0
          while (k < n) { dot += w(k) * u(k)(c); k += 1 }
          k = 0
          while (k < n) { w(k) -= dot * u(k)(c); k += 1 }
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        if (nrm > 1e-6) {
          for (k <- 0 until n) u(k)(j) = w(k) / nrm
          filled(j) = true
          placed = true
        }
        cand += 1
      }
      require(placed, "procrustesRotation: orthonormal completion failed")
    }
    Array.tabulate(n, n) { (i, j) =>
      var dot = 0.0
      var k = 0
      while (k < n) { dot += v(i)(k) * u(j)(k); k += 1 }
      BigDecimal(dot).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** The PARAMETRIC half of OPQ (Ge, He, Ke, Sun, "Optimized Product
    * Quantization", CVPR 2013 §5, non-parametric solution): alternate
    * (a) train codebooks under `R·x` and (b) re-solve R as the
    * orthogonal Procrustes fit of the raw vectors to their rotated-
    * space reconstructions — each step does not increase the joint
    * quantization objective in exact arithmetic. Init R₀ = the
    * [[balancedSubspaces]] permutation (§4's structured ordering — the
    * rotation-free half), so the learned rotation starts from, and is
    * audited against, the free half. Per alternation: one codebook
    * train (the q203 plan shape), one map-only reconstruction, and one
    * dim²-cell correlation partial agg; driver state = two dim×dim
    * matrices. Returns `(R, books)` with books trained under the FINAL
    * R — R's 6-dp entries are the shared literals an oracle replays
    * the downstream chain from.
    */
  def trainRotation(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int, alternations: Int = 1,
      lloydIters: Int = 2, saltPrefix: String = "pqo")
      : (Array[Array[Double]], Codebooks) = Pins.scoped { scope =>
    require(alternations >= 1, s"alternations=$alternations must be >= 1")
    val v = scope.pin(prepared(corpus, idCol, vecCol, dim))
    var r = permutationMatrix(
      balancedSubspaces(dimVariances(v, "__id", "__vec", dim), m))
    for (t <- 0 until alternations) {
      val rot = v.select(col("__id"), rotated(col("__vec"), r).as("__rvec"))
      val books = train(rot, "__id", "__rvec", m, ksub, dim, lloydIters,
        s"$saltPrefix$t")
      val recon = reconstructed(rot, "__id", "__rvec", books, dim)
      r = procrustesRotation(correlation(v, recon, dim))
    }
    val rotF = v.select(col("__id"), rotated(col("__vec"), r).as("__rvec"))
    val books = train(rotF, "__id", "__rvec", m, ksub, dim, lloydIters,
      saltPrefix)
    (r, books)
  }

  // ------------------------------ block-diagonal rotation (high-dim OPQ)

  /** `diag(B₁..B_n)·vec` as a map-only literal projection — the
    * block-diagonal variant of [[rotated]] for production embedding
    * dims: a full rotation costs dim² products per row AND dim² literal
    * cells (768–4096-dim embeddings multiply both by 144–4096× over the
    * dim=64 audit), while per-block sub-rotations cap the row cost at
    * `nBlocks·bs² = dim²/nBlocks` and the model at the same — FAISS's
    * OPQ block shape. Each block's output folds ONLY its own slice
    * (same 9-dp-product / decimal-sum / 6-dp-readout recipe as
    * [[rotated]], so an oracle replays it from the block literals).
    * NULL for a wrong-length vector (the [[permuted]] guard).
    */
  def rotatedBlocks(vec: Column,
      blocks: Array[Array[Array[Double]]]): Column = {
    require(blocks.nonEmpty && blocks.forall(_.length == blocks(0).length),
      "rotatedBlocks: blocks must be non-empty and same-sized")
    require(blocks.forall(_.forall(_.length == blocks(0).length)),
      "rotatedBlocks: ragged block row (every row must span the block)")
    val bs = blocks(0).length
    val dim = blocks.length * bs
    // FULLY-EXACT decimal projection (the q267-rerank discipline, made
    // the rotation recipe in round 13): both factors are 6-dp values —
    // the block entries by the procrustesRotation contract, the input
    // components by the fixture/ingest contract — so their decimal
    // product at scale 12 is EXACT, the (30,12) fold is exact (add
    // result 31 digits ≤ Spark's 38 cap), and the ONLY rounding is the
    // final decimal HALF_UP at scale 6, which DuckDB's decimal round
    // (half away from zero) matches on both signs. The previous recipe
    // rounded 9-dp DOUBLE products and then the DOUBLE cast of the
    // sum: both steps round a binary double through a decimal grid,
    // where the two engines disagree at true half-way cells (~1/1000
    // components; observed: vec 404 fpos 418, −0.005062 vs −0.005063 —
    // caught by q273's exact rerank).
    val d126 = DecimalType(12, 6)
    val acc = DecimalType(30, 12)
    val out6 = DecimalType(24, 6)
    val zero = lit(new java.math.BigDecimal(0)).cast(acc)
    if (dim > 128) {
      // production dims: ANY per-output-column form is 512+ columns of
      // generated code and blows janino's 64 KB method cap (each failed
      // attempt costs seconds before the interpreted fallback). One
      // nested-literal transform is DATA: the whole projection is a
      // single expression over the row matrix, and the exact-decimal
      // fold is the same fold, so the output is bit-identical to the
      // column form.
      val rowsLit = typedLit(blocks.flatMap(_.map(_.toSeq)).toSeq)
      return when(size(vec) === dim,
        transform(sequence(lit(0), lit(dim - 1)), i =>
          aggregate(
            zip_with(element_at(rowsLit, i + 1),
              slice(vec, (i.cast("int") / bs).cast("int") * bs + 1, lit(bs)),
              (a, x) => (a.cast(d126) * x.cast(d126)).cast(acc)),
            zero, (u, v) => (u + v).cast(acc))
            .cast(out6).cast("double")))
    }
    when(size(vec) === dim,
      concat(blocks.indices.map { b =>
        val seg = slice(vec, b * bs + 1, bs)
        array((0 until bs).map { i =>
          val row = blocks(b)(i)
          val nnz = row.count(_ != 0.0)
          // sparse fast path: a zero coefficient contributes an EXACT
          // decimal zero to the fold, so dropping it leaves the exact
          // sum unchanged — identity-init rows (the first
          // trainBlockRotation alternation) go from bs terms to 1. Kept
          // as explicit expressions only when few survive (the janino
          // 64 KB lesson: dense rows stay a HOF fold over array DATA).
          if (nnz <= 4) {
            val terms = row.indices.filter(row(_) != 0.0).map(j =>
              (element_at(seg, j + 1).cast(d126) *
                lit(row(j)).cast(d126)).cast(acc))
            val summed =
              if (terms.isEmpty) zero
              else terms.reduce((x, y) => (x + y).cast(acc))
            summed.cast(out6).cast("double")
          } else aggregate(
            zip_with(lit(row), seg,
              (a, x) => (a.cast(d126) * x.cast(d126)).cast(acc)),
            zero, (u, v) => (u + v).cast(acc))
            .cast(out6).cast("double")
        }: _*)
      }: _*))
  }

  /** [[trainRotation]] under a BLOCK-DIAGONAL constraint: the joint
    * objective still alternates codebook training with a Procrustes
    * re-solve, but R = diag(B₁..B_n) — the trace objective decomposes,
    * so each block solves its own bs×bs Procrustes over its diagonal
    * correlation block. Init = identity per block (a cross-block
    * variance-balancing permutation is not block-diagonal; what the
    * constraint gives up is exactly cross-block decorrelation, which is
    * the documented trade for the dim²/nBlocks cost cap). Returns
    * `(blocks, books)` with books trained under the final blocks; every
    * block entry is 6-dp (the [[procrustesRotation]] contract), the
    * shared literals an oracle replays from.
    */
  def trainBlockRotation(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int, nBlocks: Int, alternations: Int = 1,
      lloydIters: Int = 2, saltPrefix: String = "pqk")
      : (Array[Array[Array[Double]]], Codebooks) = Pins.scoped { scope =>
    require(alternations >= 1, s"alternations=$alternations must be >= 1")
    require(nBlocks >= 1 && dim % nBlocks == 0,
      s"nBlocks=$nBlocks must divide dim=$dim")
    val bs = dim / nBlocks
    val v = scope.pin(prepared(corpus, idCol, vecCol, dim))
    var blocks = Array.fill(nBlocks)(
      Array.tabulate(bs, bs)((i, j) => if (i == j) 1.0 else 0.0))
    for (t <- 0 until alternations) {
      // materialize the rotated table once per alternation: the train
      // init (m TakeOrdered jobs), the assignment passes, the
      // reconstruction and the correlation each launch their own job,
      // and an unmaterialized rotation re-pays the dim²/nBlocks fold in
      // every one of them
      val rot = v.select(col("__id"),
        rotatedBlocks(col("__vec"), blocks).as("__rvec"))
        .localCheckpoint()
      val books = train(rot, "__id", "__rvec", m, ksub, dim, lloydIters,
        s"$saltPrefix$t")
      val recon = reconstructed(rot, "__id", "__rvec", books, dim)
      val mFull = correlation(v, recon, dim, blockSize = Some(bs))
      blocks = Array.tabulate(nBlocks) { b =>
        procrustesRotation(
          Array.tabulate(bs, bs)((i, j) => mFull(b * bs + i)(b * bs + j)))
      }
    }
    val rotF = v.select(col("__id"),
      rotatedBlocks(col("__vec"), blocks).as("__rvec"))
      .localCheckpoint()
    val books = train(rotF, "__id", "__rvec", m, ksub, dim, lloydIters,
      saltPrefix)
    (blocks, books)
  }

  /** Multi-probe routing: each query row replicated to its `nProbe`
    * NEAREST coarse lists (exact decimal L2 to the centroid literals,
    * ties to the lower list id), the coarse-list analog of q71b's
    * nProbe>1 — boundary-straddling neighbors live in the adjacent
    * list, and probing the nearest few is the standard recall lever
    * the own-list-only probe lacks. Output = `queries`' columns plus
    * `listCol`; feed it to [[residuals]] (the residual is vs EACH
    * probed list's centroid) and then [[adcTopK]] with
    * `withinCol = listCol` — the per-query window takes the global
    * top-k across its probed lists, and [[probeMassReport]] prices the
    * multiplied pair mass before the probe runs. Map-only ×nProbe
    * fan-out; no shuffle.
    */
  def probeLists(queries: DataFrame, vecCol: String,
      cents: Map[Int, Array[Double]], dim: Int, nProbe: Int,
      listCol: String = "list"): DataFrame = {
    require(nProbe >= 1 && nProbe <= cents.size,
      s"nProbe=$nProbe must be in [1, ${cents.size}]")
    val v = col(vecCol).cast("array<double>")
    val ranked = array_sort(array(cents.toSeq.sortBy(_._1).map { case (l, c) =>
      struct(distToCentroid(v, 0, dim, c).as("d"), lit(l).as("list"))
    }: _*))
    queries
      .withColumn(listCol,
        explode(transform(slice(ranked, 1, nProbe), s => s.getField("list"))))
  }

  /** ADAPTIVE multi-probe routing — the per-query answer to the q245
    * finding that IVF recall loss is 100% routing and "the lever is
    * nProbe": instead of a fixed width, each query probes its nearest
    * list plus every further list whose exact decimal centroid distance
    * is within `ratioNum/ratioDen` of the nearest (capped at
    * `maxProbe`). A confident query (clear nearest list) pays 1 probe;
    * an ambiguous one (boundary-straddling, the exact case multi-probe
    * exists for) pays up to `maxProbe` — recall is bought where it is
    * lost instead of 2× mass on every query. The ratio test is
    * `d·den ≤ d₁·num` over the DOUBLE casts of the exact decimal
    * distances (both engines convert the same decimal to the same
    * double and run the same two IEEE multiplies, so the probe set is
    * engine-replayable; a decimal×int form would pass DuckDB's 38-digit
    * width cap). It always CONTAINS the nProbe=1 set and is
    * monotone in the ratio (a looser ratio only adds lists). Same
    * output contract as [[probeLists]]; price with
    * [[probeMassReport]] before running.
    */
  def probeListsAdaptive(queries: DataFrame, vecCol: String,
      cents: Map[Int, Array[Double]], dim: Int,
      maxProbe: Int, ratioNum: Int = 12, ratioDen: Int = 10,
      listCol: String = "list"): DataFrame = {
    require(maxProbe >= 1 && maxProbe <= cents.size,
      s"maxProbe=$maxProbe must be in [1, ${cents.size}]")
    require(ratioDen > 0 && ratioNum >= ratioDen,
      s"ratio $ratioNum/$ratioDen must be >= 1")
    val v = col(vecCol).cast("array<double>")
    val ranked = array_sort(array(cents.toSeq.sortBy(_._1).map { case (l, c) =>
      struct(distToCentroid(v, 0, dim, c).as("d"), lit(l).as("list"))
    }: _*))
    val d1 = element_at(ranked, 1).getField("d")
    val kept = filter(slice(ranked, 1, maxProbe),
      (s, i) => (i === 0) ||
        (s.getField("d").cast("double") * lit(ratioDen.toDouble) <=
          d1.cast("double") * lit(ratioNum.toDouble)))
    queries.withColumn(listCol,
      explode(transform(kept, s => s.getField("list"))))
  }

  /** BUDGET-calibrated multi-probe routing — the operational answer to
    * the q259b/q260 findings that a FIXED ratio threshold's value is
    * entirely governed by where the corpus's margin distribution sits
    * (planted surface: 2.0 separates cleanly; isotropic: every ratio
    * under 2 and the rule degenerates to the cap; skewed-continuous:
    * none under 2 and it degenerates to fixed-1). Instead of a
    * threshold chosen a priori, the caller states the PROBE BUDGET —
    * exactly `extraBudget` probes beyond each query's nearest list —
    * and the router grants them to the globally smallest margin ratios
    * `d_k/d₁` (k ≤ maxProbe): the most routing-ambiguous (query, list)
    * candidates corpus-wide. This IS threshold calibration from the
    * measured margin distribution with the spend made exact — the
    * implied threshold is the budget-th order statistic of the ratios,
    * never a guess.
    *
    * Determinism/portability: ratios are the 6-dp rounded IEEE quotient
    * of the DOUBLE casts of the exact decimal centroid distances (the
    * [[probeListsAdaptive]] cast discipline), ties by (id, k). Grants
    * NEST by construction: distances rank nondecreasing in k, so
    * r_k ≥ r_{k−1}, and the (ratio, id, k) order places (q, k−1) before
    * (q, k) at equal ratios — a granted k implies granted k−1, so every
    * probe set is a prefix of the query's ranked lists (spec-pinned).
    * A query sitting exactly ON its centroid (d₁ = 0) gets no extra
    * probes — its routing is not ambiguous. The grant selection is
    * orderBy+limit — a distributed TakeOrderedAndProject over
    * |queries|·(maxProbe−1) candidate rows, never a single-partition
    * window. Same output contract as [[probeLists]]; price with
    * [[probeMassReport]] before running.
    */
  def probeListsBudgeted(queries: DataFrame, idCol: String, vecCol: String,
      cents: Map[Int, Array[Double]], dim: Int,
      maxProbe: Int, extraBudget: Int,
      listCol: String = "list"): DataFrame = {
    require(maxProbe >= 1 && maxProbe <= cents.size,
      s"maxProbe=$maxProbe must be in [1, ${cents.size}]")
    require(extraBudget >= 0, s"extraBudget must be >= 0, got $extraBudget")
    val v = col(vecCol).cast("array<double>")
    val ranked = array_sort(array(cents.toSeq.sortBy(_._1).map { case (l, c) =>
      struct(distToCentroid(v, 0, dim, c).as("d"), lit(l).as("list"))
    }: _*))
    // one evaluation of the ranked centroid fold per query row: the
    // base probe, the d1 guard, and the grant ranking all read it
    val rk = Parallelism.ensureCompute(queries)
      .select(col(idCol), ranked.as("__rk")).localCheckpoint()
    val base = rk.select(col(idCol),
      element_at(col("__rk"), 1).getField("list").as(listCol))
    val probeSet =
      if (maxProbe == 1 || extraBudget == 0) base
      else {
        val grants = rk
          .select(col(idCol),
            element_at(col("__rk"), 1).getField("d").cast("double")
              .as("__d1"),
            posexplode(slice(col("__rk"), 2, maxProbe - 1)))
          .where(col("__d1") > 0.0)
          .select(col(idCol), col("col").getField("list").as(listCol),
            round(col("col").getField("d").cast("double") / col("__d1"), 6)
              .as("__ratio"),
            (col("pos") + 2).as("__k"))
          .orderBy(col("__ratio").asc, col(idCol).asc, col("__k").asc)
          .limit(extraBudget)
          .select(col(idCol), col(listCol))
        base.unionByName(grants)
      }
    queries.join(probeSet, Seq(idCol))
  }

  /** SELF-CALIBRATING probe budget — closes the q255/q260/q263
    * three-point finding (a fixed ratio threshold's value is governed
    * entirely by where the corpus's margin distribution sits; a
    * hand-picked budget is just the same guess moved one rung): derive
    * [[probeListsBudgeted]]'s spend FROM the audit sample's measured
    * margin distribution against a STATED coverage target, with
    * counts-only aggregations.
    *
    * Target: match fixed-2's LIST COVERAGE on the audit sample — the
    * number of exact-ground-truth pairs whose true neighbor's list is
    * ranked 1 or 2 for its query. Coverage is the counts-only upper
    * bound on any probe scheme's recall (a neighbor can only be found
    * if its list is probed), so it is measurable from the audit's GT
    * id pairs and the ranked centroid distances alone — no probe runs.
    *
    * Rule: a GT pair whose list ranks k ∈ [2, maxProbe] is covered at
    * ratio cap r iff its 6-dp margin ratio d_k/d₁ ≤ r (rank-1 pairs
    * are always covered; d₁ = 0 queries take no grants — their routing
    * is not ambiguous). The cap is the smallest observed GT ratio
    * whose coverage meets the target (the needed-th order statistic of
    * the GT ratios — both engines take the VALUE at that rank, tie-
    * stable), and the budget is the count of ALL (query, k) candidates
    * at or under the cap — exactly the set [[probeListsBudgeted]]'s
    * (ratio, id, k)-ordered limit grants. Note the calibrated router
    * buys coverage by AMBIGUITY, not by rank: it may cover a
    * different (deeper-ranked, tighter-margin) GT pair than the
    * uniform fixed-2 rule while meeting the same count.
    *
    * Returns (ratioCap, extraBudget); driver state is three scalars.
    * When the target is already met by the rank-1 lists alone, returns
    * (1.0, 0) — spend nothing.
    */
  /** The bounded (|sample| × maxProbe) MARGIN-CANDIDATE table every
    * calibration count reads: per query, its ranked centroid
    * distances as `(q_id, __d1, k, list, ratio)` with `ratio` the
    * 6-dp d_k/d₁ (NULL when d₁ = 0 — routing is not ambiguous at an
    * exact centroid hit). One evaluation of the ranked fold per query
    * row, localCheckpointed; [[calibrateProbeBudget]] derives the cap
    * and budget from it, and a deployed router's STALENESS gate
    * re-reads it on the current sample ([[rank2MarginMedian]]).
    */
  def marginCandidates(queries: DataFrame, idCol: String, vecCol: String,
      cents: Map[Int, Array[Double]], dim: Int, maxProbe: Int): DataFrame = {
    require(maxProbe >= 2 && maxProbe <= cents.size,
      s"maxProbe=$maxProbe must be in [2, ${cents.size}]")
    val v = col(vecCol).cast("array<double>")
    val ranked = array_sort(array(cents.toSeq.sortBy(_._1).map { case (l, c) =>
      struct(distToCentroid(v, 0, dim, c).as("d"), lit(l).as("list"))
    }: _*))
    Parallelism.ensureCompute(queries)
      .select(col(idCol).as("q_id"), ranked.as("__rk"))
      .select(col("q_id"),
        element_at(col("__rk"), 1).getField("d").cast("double").as("__d1"),
        posexplode(slice(col("__rk"), 1, maxProbe)))
      .select(col("q_id"), col("__d1"), (col("pos") + 1).as("k"),
        col("col").getField("list").as("list"),
        round(col("col").getField("d").cast("double") /
          when(col("__d1") > 0.0, col("__d1")), 6).as("ratio"))
      .localCheckpoint()
  }

  /** The rank-2 margin-ratio MEDIAN of the sample — the staleness
    * signal a frozen calibration artifact is gated on (q274). An order
    * statistic of the same bounded margin table the calibration reads
    * (counts-only, no GT, no probe runs): any wholesale shift of the
    * margin distribution moves it — including shifts a cap-bounded
    * grant count cannot see when the build was
    * degenerate (cap 1.0 / budget 0 grants nothing at its own cap
    * forever, and drifted ratios can land entirely above any fixed
    * band). Median = the ⌈n/2⌉-th smallest 6-dp ratio of the rank-2
    * candidates with d₁ > 0, ties by query id — tie-stable,
    * engine-replayable (a TakeOrderedAndProject of ⌈n/2⌉ rows, the
    * calibrateProbeBudget order-statistic discipline).
    */
  def rank2MarginMedian(queries: DataFrame, idCol: String, vecCol: String,
      cents: Map[Int, Array[Double]], dim: Int, maxProbe: Int): Double = {
    val r2 = marginCandidates(queries, idCol, vecCol, cents, dim, maxProbe)
      .where(col("k") === 2 && col("__d1") > 0.0)
      .localCheckpoint()
    val n = r2.count()
    require(n > 0, "rank2MarginMedian: no rank-2 candidates with d1 > 0 " +
      "in the sample — the margin distribution is unobservable")
    val idx = ((n + 1) / 2).toInt
    r2.orderBy(col("ratio").asc, col("q_id").asc).limit(idx)
      .agg(max(col("ratio"))).head().getDouble(0)
  }

  def calibrateProbeBudget(queries: DataFrame, idCol: String, vecCol: String,
      cents: Map[Int, Array[Double]], dim: Int, maxProbe: Int,
      gt: DataFrame, corpusLists: DataFrame): (Double, Int) = {
    val kr = marginCandidates(queries, idCol, vecCol, cents, dim, maxProbe)
    val gtk = gt.select(col("q_id"), col("vec_id"))
      .join(corpusLists.select(col("vec_id"), col("list")), Seq("vec_id"))
      .join(kr, Seq("q_id", "list"))
    val target = gtk.where(col("k") <= 2).count()
    val base = gtk.where(col("k") === 1).count()
    val needed = math.max(target - base, 0L)
    if (needed == 0L) (1.0, 0)
    else {
      // needed > 0 but zero coverable candidates (every ambiguous GT
      // query sits exactly on its rank-1 centroid, d1 = 0) leaves the
      // limit set empty and max(ratio) NULL; the oracle's SQL reads
      // NULL cap → zero budget for the same input, so match it rather
      // than NPE on a degenerate-but-legal audit sample.
      val capRow = gtk
        .where(col("k") >= 2 && col("__d1") > 0.0)
        .orderBy(col("ratio").asc).limit(needed.toInt)
        .agg(max(col("ratio"))).head()
      if (capRow.isNullAt(0)) (1.0, 0)
      else {
        val cap = capRow.getDouble(0)
        val budget = kr
          .where(col("k") >= 2 && col("__d1") > 0.0 && col("ratio") <= cap)
          .count()
        (cap, budget.toInt)
      }
    }
  }

  /** Price an [[adcTopK]] `withinCol` probe BEFORE running it: per
    * coarse list, query count × code count = the ADC pair mass that
    * list will generate (each pair costs m LUT lookups). The q126b/q202
    * pair-mass pricing discipline applied to the IVF-PQ probe: a
    * degenerate coarse quantizer (everything in one list) shows up here
    * as one list carrying ~all the mass — visible at PLAN time from two
    * counts-only partial aggs, before any scoring work is spent.
    * Returns one row per list with a query or codes presence:
    * (list, n_queries, n_codes, pairs), pairs = n_queries·n_codes
    * (0 when either side is absent).
    */
  def probeMassReport(queries: DataFrame, codes: DataFrame,
      withinCol: String): DataFrame = {
    val qn = Parallelism.ensureCompute(queries)
      .groupBy(col(withinCol).as("list"))
      .agg(count(lit(1)).as("n_queries"))
    val cn = Parallelism.ensureCompute(codes)
      .groupBy(col(withinCol).as("list"))
      .agg(count(lit(1)).as("n_codes"))
    // n_queries·n_codes can pass 2^63 at planner scale (a degenerate
    // one-list router on a 1e10-code corpus with 1e9 query replicas is
    // EXACTLY the case this report exists to expose) — widen one
    // operand; the released BIGINT saturates rather than wrapping
    val dec38 = DecimalType(38, 0)
    qn.join(cn, Seq("list"), "full_outer")
      .select(col("list"),
        coalesce(col("n_queries"), lit(0L)).as("n_queries"),
        coalesce(col("n_codes"), lit(0L)).as("n_codes"))
      .withColumn("pairs",
        least(col("n_queries").cast(dec38) * col("n_codes"),
          lit(Long.MaxValue).cast(dec38)).cast("long"))
  }

  /** ADC approximate top-k: every query row scores every code row by
    * summing, per subspace, the exact query-to-centroid distance of the
    * centroid the corpus row's code names. The per-subspace LUT is an
    * expression over the (broadcast) query vector and the literal
    * codebook — `element_at(lut_s, code_s + 1)` — so the scan reads only
    * `(id, codes)` and never reconstructs a vector. Output
    * `(q_id, vec_id, dist)`, ascending approximate squared-L2, ties by
    * vec_id; `dist` is the 6-dp-rounded double and the ranking key, so
    * the readout is engine-portable.
    *
    * `withinCol` composes the IVF half: when set, BOTH `queries` and
    * `codes` must carry that column (a coarse-quantizer list id) and a
    * query scores only code rows of ITS list — with the code table
    * written hive-partitioned by the list column, the probe is a
    * partition-pruned scan of compressed codes, the full IVF-PQ layout.
    */
  def adcTopK(queries: DataFrame, qId: String, qVec: String,
      codes: DataFrame, cId: String,
      books: Codebooks, dim: Int, k: Int,
      withinCol: String = null): DataFrame = {
    val m = books.length
    val dsub = dim / m
    val within = Option(withinCol)
    // the m×ksub LUT of exact query-to-centroid distances is computed
    // ON THE QUERY SIDE, once per query row — inlined into the join
    // projection it would re-evaluate all m·ksub·dsub terms per
    // (query, code) PAIR. localCheckpoint is the CollapseProject
    // barrier (the repo's fold-re-inlining discipline); the side is
    // broadcast-small by contract, so the checkpoint is a few rows.
    val q = Parallelism.ensureCompute(queries)
      .select(col(qId).as("q_id") +:
        col(qVec).cast("array<double>").as("q_vec") +:
        within.map(c => col(c).as("__q_within")).toSeq: _*)
      .where(size(col("q_vec")) === dim)
      .withColumn("__lut", array((0 until m).map(s =>
        array(books(s).map(cv =>
          distToCentroidFold(col("q_vec"), s, dsub, cv)): _*)): _*))
      .localCheckpoint()
    val total = (0 until m).map { s =>
      element_at(element_at(col("__lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val cond = within
      .map(c => col("vec_id") =!= col("q_id") && col(c) === col("__q_within"))
      .getOrElse(col("vec_id") =!= col("q_id"))
    val scored = codes
      .select(col(cId).as("vec_id") +: col("codes") +:
        within.map(col(_)).toSeq: _*)
      .join(broadcast(q), cond)
      .select(col("q_id"), col("vec_id"),
        round(total.cast("double"), 6).as("dist"))
    Similarity.rankTopK(scored, "q_id", col("dist").asc, "vec_id", k)(
      col("q_id"), col("vec_id"), col("dist"))
  }
}
