package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.plans.VectorExpressions

/** Nearest-neighbor search and embedding-space dedup over a vector
  * column (north-star operators).
  *
  * Every top-k producer is one candidate → score → rank pipeline; only
  * the candidate generator differs:
  *  - [[topKJoin]]: every corpus row against a (small, broadcast) query
  *    batch — exact, the correctness baseline;
  *  - [[lshTopKJoin]]: same random-hyperplane bucket (plus single-bit-flip
  *    multi-probes) — candidates drop by ~2^bits, recall tunable;
  *  - [[ivfTopKJoin]] / [[probeIvfIndex]]: the query's `nProbe` nearest
  *    k-means lists ([[trainCentroids]]), in memory or read from the
  *    list-partitioned index [[writeIvfIndex]] writes;
  *  - [[hammingTopK]]: every packed [[srpSignatures]] signature, scored by
  *    XOR + popcount;
  *  - [[hardNegatives]] / [[labelAgreement]]: cluster-mates or all pairs
  *    of one table.
  * All of them (and both quantizers' `adcTopK`) end in the one rank tail
  * [[rankTopK]]: a per-key `row_number` cut at k, which Spark plans as
  * per-task WindowGroupLimit heaps, so the window input is the candidate
  * set, never the raw corpus. [[semanticDedup]] and
  * [[incrementalSemanticDedup]] share one within-cluster pair stage over
  * [[shardedAssignment]]'s capped (cluster, shard) cells.
  */
object Similarity {

  /** Exact cosine top-k per query row. `queries` must be small (broadcast).
    * Scores rounded to 6 dp BEFORE ranking so rank boundaries are stable
    * across FP summation orders; ties broken by corpus id.
    */
  def topKJoin(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int): DataFrame = {
    val q = queries.select(col(qId).as("q_id"), col(qVec).as("q_vec"))
    val c = Parallelism.ensureCompute(corpus).select(col(cId).as("c_id"), col(cVec).as("c_vec"))
    cosineTopK(c.crossJoin(broadcast(q)), k)
  }

  /** The shared rank tail of every top-k producer: number each `part`
    * key's rows by `score` (ties by ascending `tie`) into column `rn`,
    * keep the first `k`, and project `out` (every column when `out` is
    * empty). The `rn <= k` cut plans as per-task WindowGroupLimit heaps
    * ahead of the window, never a full per-key sort.
    */
  private[operators] def rankTopK(scored: DataFrame, part: String,
      score: Column, tie: String, k: Int, rn: String = "rn")(out: Column*): DataFrame = {
    val ranked = scored
      .withColumn(rn, row_number().over(
        Window.partitionBy(col(part)).orderBy(score, col(tie).asc)))
      .where(col(rn) <= k)
    if (out.isEmpty) ranked else ranked.select(out: _*)
  }

  /** Score step of the cosine producers: drop self-pairs from a
    * `(q_id, q_vec) × (c_id, c_vec)` candidate frame, score by cosine
    * rounded to 6 dp BEFORE ranking (rank boundaries stable across FP
    * summation orders) and keep each query's top k as
    * `(q_id, vec_id, sim)`.
    */
  private def cosineTopK(candidates: DataFrame, k: Int): DataFrame =
    rankTopK(candidates.where(col("c_id") =!= col("q_id"))
        .withColumn("sim", round(VectorExpressions.cosine(col("q_vec"), col("c_vec")), 6)),
      "q_id", col("sim").desc, "c_id", k)(col("q_id"), col("c_id").as("vec_id"), col("sim"))

  /** COUNTS-ONLY plan chooser for filtered vector search over a
    * widened-probe ladder: each candidate plan arrives as `(name, pricedPairs,
    * minCandidatesPerQuery)`, both numbers measurable from partial
    * aggregations BEFORE any scoring work (the probeMassReport
    * discipline). A plan is ELIGIBLE iff every query retains at least
    * `minPool` filtered candidates in its probed lists. The caller
    * states `minPool` as a HEADROOM multiple of k (the q270 policy:
    * 4·k): merely seating a top-k is not enough — a pool of exactly k
    * would make the lossy-ranked ADC probe a coin-ordered copy of
    * itself, and the q264 measurement shows recall collapsing (0.17 at
    * fixed-1 under a 10% filter) long before the pool is literally too
    * small to answer. CHOSEN = eligible with minimal priced pair mass;
    * equal-minimal plans are ALL flagged (at few coarse lists the
    * exhaustive-width probe and brute converge to the same mass — the
    * rule is a pure function of the counts, so both engines make the
    * same choice, no tie-break coin to flip). Returns
    * `(name, pairs, minCands, eligible, chosen)` per plan.
    */
  def choosePlans(plans: Seq[(String, Long, Long)], minPool: Int)
      : Seq[(String, Long, Long, Boolean, Boolean)] = {
    require(plans.nonEmpty, "choosePlans: no candidate plans")
    require(minPool >= 1, s"choosePlans: minPool must be >= 1, got $minPool")
    chooseCheapest(plans)(_ >= minPool)
  }

  /** Recall-targeted BIT-BUDGET chooser — the [[choosePlans]]
    * discipline applied to the code-width ladder instead of the probe
    * ladder: each candidate tier arrives as `(name, pricedCost,
    * recall)` where cost is counts-only (bytes/vector × corpus + LUT
    * lookups × probe pair mass — both measurable before any serving
    * work once the audit has run) and recall is the measured recall@k
    * against the exact ground truth on the FIXED audit sample, 6-dp
    * rounded (the q271 discipline: the audit is bounded, never
    * corpus-scaled). A tier is ELIGIBLE iff its recall meets the
    * stated floor (exact comparison of 6-dp values — both engines
    * replay the same rounding, no epsilon coin). CHOSEN = eligible
    * with minimal priced cost; equal-minimal tiers are ALL flagged
    * (same no-tie-break rule as [[choosePlans]]). When NO tier meets
    * the floor, nothing is chosen — the caller must widen the ladder,
    * not silently serve the best loser. Returns
    * `(name, cost, recall, eligible, chosen)` per tier.
    */
  def chooseTiers(tiers: Seq[(String, Long, Double)], recallFloor: Double)
      : Seq[(String, Long, Double, Boolean, Boolean)] = {
    require(tiers.nonEmpty, "chooseTiers: no candidate tiers")
    require(recallFloor > 0.0 && recallFloor <= 1.0,
      s"chooseTiers: recallFloor must be in (0, 1], got $recallFloor")
    chooseCheapest(tiers)(_ >= recallFloor)
  }

  /** The eligible-and-cheapest rule of [[choosePlans]] and
    * [[chooseTiers]]: a candidate `(name, cost, measure)` is ELIGIBLE iff
    * `eligible(measure)`; CHOSEN = eligible at the minimal eligible cost
    * (ties all flagged, nothing chosen when nothing is eligible).
    */
  private def chooseCheapest[A](cands: Seq[(String, Long, A)])(eligible: A => Boolean)
      : Seq[(String, Long, A, Boolean, Boolean)] = {
    val minElig = cands.collect { case (_, c, a) if eligible(a) => c }.minOption
    cands.map { case (n, c, a) =>
      val e = eligible(a)
      (n, c, a, e, e && minElig.contains(c))
    }
  }

  /** Sparse Johnson–Lindenstrauss random projection (Achlioptas 2003,
    * "Database-friendly random projections"): each of the `targetDim`
    * output coordinates is `Σ_i vec[i]·s(i,j)` with `s(i,j)` drawn
    * uniformly from {−1, 0, +1} by the portable 48-bit char fold of
    * `"salt|i|j"` — sparse (⅔ of terms survive), integer-signed, and
    * engine-replayable, with no RNG state to ship. Cosine ranking is
    * scale-invariant, so the usual √(3/k) normalization is omitted.
    *
    * This is the third leg of the ANN scale triad: IVF prunes WHICH
    * vectors are read, PQ shrinks WHAT is read, JL shrinks the
    * ARITHMETIC — a 768→64 projection cuts exact-rescoring FLOPs 12×
    * while JL preserves pairwise geometry to within the usual
    * O(√(log n / k)) distortion. Map-only, codegen'd against literal
    * signs; the projected column is `array<float>` so it feeds
    * [[topKJoin]] / [[lshTopKJoin]] unchanged. Per-term 6-dp rounding +
    * decimal summation keeps the projection bit-portable (the oracle
    * replays the same fold, signs and sums).
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, targetDim: Int, salt: String = "jl",
      outCol: String = "proj"): DataFrame = {
    require(dim > 0 && targetDim > 0, s"dim=$dim, targetDim=$targetDim")
    import org.apache.spark.sql.types.DecimalType
    val v = col(vecCol).cast("array<double>")
    val projCols = (0 until targetDim).map { j =>
      val terms = (0 until dim).flatMap { i =>
        val s = (graft.plans.PolyHashOps.stringHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$salt|$i|$j"))
          % 3L).toInt - 1
        if (s == 0) None
        else Some(round(element_at(v, i + 1) * lit(s), 6)
          .cast(DecimalType(18, 6)))
      }
      val summed =
        if (terms.isEmpty) lit(0).cast(DecimalType(18, 6))
        else terms.reduce(_ + _)
      summed.cast("double").cast("float")
    }
    Parallelism.ensureCompute(df)
      .where(size(col(vecCol)) === dim)
      .select(col(idCol), array(projCols: _*).as(outCol))
  }

  /** Sign-random-projection BINARY signatures (Charikar 2002 SimHash
    * for real vectors): bit j of the signature is the SIGN of the j-th
    * [[jlProject]] coordinate — `bits` sparse signed projections packed
    * into one long. 64 float dims → 2 bytes at bits=16; Hamming
    * distance between signatures estimates the angle
    * (`P[bit differs] = θ/π`), so [[hammingTopK]] is the cheapest
    * possible candidate filter of the ANN quartet: IVF prunes reads,
    * PQ shrinks bytes, JL shrinks arithmetic, SRP reduces scoring to
    * one XOR + popcount per pair. Map-only, engine-replayable
    * (signatures are a pure function of the portable sign grid).
    */
  def srpSignatures(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, salt: String = "jl"): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1,63], got $bits")
    jlProject(df, idCol, vecCol, dim, bits, salt)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(element_at(col("proj"), j + 1) > 0f, lit(1L << j))
            .otherwise(lit(0L))).reduce(_ + _).as("sig"))
  }

  /** Exact Hamming top-k over packed [[srpSignatures]]: one codegen'd
    * XOR + popcount per (query, signature) pair, ranked ascending with
    * id ties — the brute scan that stays affordable because a pair
    * costs two ALU ops. `queries` must be broadcast-small.
    */
  def hammingTopK(queries: DataFrame, qId: String,
      corpus: DataFrame, cId: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("q_id"), col("sig").as("q_sig"))
    val scored = Parallelism.ensureCompute(corpus)
      .select(col(cId).as("vec_id"), col("sig"))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        bit_count(col("sig").bitwiseXOR(col("q_sig"))).as("hd"))
    rankTopK(scored, "q_id", col("hd").asc, "vec_id", k)(
      col("q_id"), col("vec_id"), col("hd"))
  }

  /** LSH-bucketed approximate top-k: hyperplane signatures on both sides,
    * candidates = same bucket under any of the single-bit-flip probes
    * (multi-probe: probes=0 -> exact bucket only). Recall < 1 by design;
    * verify-time cosine is exact.
    */
  def lshTopKJoin(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, dim: Int, bits: Int = 12, probes: Int = 2, seed: Long = 42L): DataFrame = {
    val sigC = VectorFunctions.hyperplaneSignature(col("c_vec"), dim, bits, seed)
    val sigQ = VectorFunctions.hyperplaneSignature(col("q_vec"), dim, bits, seed)
    val c = Parallelism.ensureCompute(corpus)
      .select(col(cId).as("c_id"), col(cVec).as("c_vec"), sigC.as("bucket"))
    // each query probes its own bucket + `probes` single-bit flips
    val probeArr = sequence(lit(0), lit(probes))
    val q = queries
      .select(col(qId).as("q_id"), col(qVec).as("q_vec"), sigQ.as("sig"))
      .select(col("q_id"), col("q_vec"),
        explode(array_distinct(transform(probeArr, p =>
          when(p === 0, col("sig"))
            .otherwise(col("sig").bitwiseXOR(
              call_function("shiftleft", lit(1L), p - 1)))))).as("bucket"))
    cosineTopK(c.join(broadcast(q), Seq("bucket")), k)
  }

  /** Top-`n` centroid lists by cosine, as one expression over a literal
    * centroid array (small by construction: nLists entries of dim floats).
    */
  private def nearestLists(vec: Column, cents: Array[Array[Float]], n: Int): Column = {
    val scored = cents.zipWithIndex.map { case (cv, i) =>
      struct(
        VectorExpressions.cosine(vec,
          array(cv.map(x => lit(x)): _*).cast("array<float>")).as("sim"),
        lit(i.toLong).as("list"))
    }
    slice(reverse(array_sort(array(scored: _*))), 1, n)
  }

  /** Nearest-centroid list id of `vec` (the IVF / cluster assignment). */
  private def assign(vec: Column, cents: Array[Array[Float]]): Column =
    nearestLists(vec, cents, 1).getItem(0).getField("list")

  /** The query-side router: one row per list id among the `nProbe`
    * nearest lists of `vec`.
    */
  private def probeLists(vec: Column, cents: Array[Array[Float]], nProbe: Int): Column =
    explode(transform(nearestLists(vec, cents, nProbe), s => s.getField("list")))

  /** `dim` when positive, else the modal vector length of `vecs(vec)` —
    * one tiny aggregation, no assumption that row one is
    * representative; an explicit wrong dim fails fast in
    * [[trainCentroids]] instead of silently training on a skewed
    * subset. `who` names the caller in the empty-corpus error. Call it
    * only where centroids are trained, so frozen centroids run no job.
    */
  private def dimOrModal(dim: Int, vecs: DataFrame, vec: String, who: String): Int =
    if (dim > 0) dim
    else vecs.groupBy(size(col(vec)).as("d")).count()
      .orderBy(col("count").desc, col("d").asc)
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(
        throw new IllegalArgumentException(s"$who: empty corpus"))

  /** Distributed Lloyd's k-means over an embedding column (the IVF centroid
    * trainer). Every step is cluster-parallel and bounded on the driver:
    *  - init: the `k` vectors with the smallest `xxhash64(id, seed)` — a
    *    deterministic pseudo-random sample via TakeOrderedAndProject (no
    *    full sort, no full collect);
    *  - assign: argmax-cosine against the broadcast literal centroid array
    *    (k × dim floats — tiny) inside codegen;
    *  - update: per-dimension mean via posexplode + partial-aggregatable
    *    groupBy(list, pos); the collect is k × dim scalars, never rows.
    * For cosine/spherical k-means the un-normalized mean has the same
    * argmax as the normalized centroid, so means are used as-is. Empty
    * lists keep their previous centroid.
    */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, maxIter: Int = 3,
      seed: Long = 42L): Array[Array[Float]] = Pins.scoped { s =>
    val c = s.pin(Parallelism.ensureCompute(corpus)
      .select(col(vecCol).as("vec"), xxhash64(col(idCol), lit(seed)).as("__h"))
      .where(size(col("vec")) === dim))
    var cents = c.orderBy(col("__h")).limit(k).collect()
      .map(_.getSeq[Float](0).toArray)
    if (cents.isEmpty) throw new IllegalArgumentException(
      s"trainCentroids: no vectors of dim=$dim in column '$vecCol' — " +
        "the corpus embeddings have a different length (pass the right dim, " +
        "or let ivfTopKJoin infer it)")
    for (_ <- 0 until maxIter) {
      val means = c
        .withColumn("list", assign(col("vec"), cents))
        .select(col("list"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("list"), col("pos")).agg(avg(col("v")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2).toFloat
      }
      cents = next
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    * their nearest of `nLists` k-means centroids (one partition-pruned
    * "inverted list" each); a query scores only the vectors in its `nProbe`
    * nearest lists. The 100 TB deployment trains centroids once (or on a
    * sample), writes the corpus bucketed/partitioned by `list`, and a probe
    * reads only those partitions.
    *
    * `centroids` — pre-trained centroid vectors to index against,
    * `nLists`-many (the production path: a deployed IVF index trains once
    * and every later ingest/probe reuses the frozen centroids; it is also
    * what makes the approximate regime deterministic enough to oracle,
    * q71b). Null = train in-line via [[trainCentroids]].
    */
  def ivfTopKJoin(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nLists: Int = 16, nProbe: Int = 2,
      dim: Int = -1, trainIters: Int = 3,
      centroids: Array[Array[Float]] = null): DataFrame = {
    require(centroids == null || centroids.length == nLists,
      s"centroids (${Option(centroids).map(_.length).orNull}) must match nLists=$nLists")
    val c0 = Parallelism.ensureCompute(corpus).select(col(cId).as("c_id"), col(cVec).as("c_vec"))
    val cents =
      if (centroids != null) centroids
      else trainCentroids(corpus, cId, cVec, nLists,
        dimOrModal(dim, c0, "c_vec", "ivfTopKJoin"), trainIters)
    val q = queries.select(col(qId).as("q_id"), col(qVec).as("q_vec"))
      .withColumn("list", probeLists(col("q_vec"), cents, nProbe))
    cosineTopK(c0.withColumn("list", assign(col("c_vec"), cents))
      .join(broadcast(q), Seq("list")), k)
  }

  /** Materialize the IVF DEPLOYMENT layout the scaladoc above promises:
    * corpus vectors assigned to their nearest frozen centroid and written
    * hive-partitioned by inverted-list id. This is the train-once /
    * ingest-many half of a production ANN index — at 100 TB the partition
    * layout IS the index.
    */
  def writeIvfIndex(
      corpus: DataFrame, cId: String, cVec: String,
      path: String, centroids: Array[Array[Float]]): Unit =
    writeIvf(corpus, cId, cVec, path, centroids, "overwrite")

  /** Incremental ingest into a materialized IVF index: assign the new
    * batch to its nearest FROZEN centroids and append into the same
    * hive-partitioned layout — the ingest-many half of train-once /
    * ingest-many. At 100 TB the index is never rebuilt per batch; each
    * ingest touches only the list partitions its vectors land in, and a
    * probe immediately sees old + new (SimilaritySpec pins incremental ==
    * from-scratch bit-for-bit; q71d pins it under the DuckDB oracle).
    * Centroids must be the ones the index was built with — drift between
    * build and ingest assignments would silently degrade recall, which is
    * why this takes the array rather than re-training.
    */
  def appendToIvfIndex(
      batch: DataFrame, cId: String, cVec: String,
      path: String, centroids: Array[Array[Float]]): Unit =
    writeIvf(batch, cId, cVec, path, centroids, "append")

  /** The IVF layout writer: `(c_id, c_vec)` rows hive-partitioned by
    * their nearest list under the frozen `centroids`, in save `mode`.
    */
  private def writeIvf(rows: DataFrame, cId: String, cVec: String,
      path: String, centroids: Array[Array[Float]], mode: String): Unit =
    Parallelism.ensureCompute(rows)
      .select(col(cId).as("c_id"), col(cVec).as("c_vec"))
      .withColumn("list", assign(col("c_vec"), centroids))
      .write.mode(mode).partitionBy("list").parquet(path)

  /** Probe a materialized IVF index: each query computes its `nProbe`
    * nearest lists against the same frozen centroids and the scan reads
    * ONLY those partitions — the probe list is driver-known (queries are
    * the small side by contract), so the `isin` filter prunes list
    * directories at PLANNING time (SimilaritySpec asserts
    * selectedPartitions). Scoring/ranking is identical to
    * [[ivfTopKJoin]], so a probe against the index equals the in-memory
    * operator with the same centroids.
    */
  def probeIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, centroids: Array[Array[Float]], nProbe: Int): DataFrame = {
    val q = queries.select(col(qId).as("q_id"), col(qVec).as("q_vec"))
      .withColumn("list", probeLists(col("q_vec"), centroids, nProbe))
    val probedLists = q.select(col("list")).distinct()
      .collect().map(_.getLong(0)) // bounded: <= |queries| * nProbe ids
    cosineTopK(spark.read.parquet(path)
      .where(col("list").isin(probedLists: _*))
      .join(broadcast(q), Seq("list")), k)
  }

  /** EXACT all-pairs near-duplicate detection by embedding cosine >=
    * threshold — the brute-force O(n²) counterpart of
    * [[cosineNearDupPairs]]. Quadratic by construction: it exists as the
    * oracle-checkable ground truth the LSH variant is measured against
    * (recall = |lsh ∩ exact| / |exact|), and for small corpora where n²
    * beats building buckets. At corpus scale run the bucketed path.
    *
    * Plan shape: non-equi self-join on `idA < idB`; Spark plans a
    * broadcast-nested-loop with the (deduplicated) vector table broadcast
    * once — the right plan when one side fits, which is the only regime
    * this variant targets.
    */
  def cosineNearDupPairsExact(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val t = Parallelism.ensureCompute(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val l = t.select(col("id").as("idA"), col("vec").as("vecA"))
    val r = t.select(col("id").as("idB"), col("vec").as("vecB"))
    l.join(r, col("idA") < col("idB"))
      .withColumn("sim", VectorExpressions.cosine(col("vecA"), col("vecB")))
      .where(col("sim") >= threshold)
      .select("idA", "idB", "sim")
  }

  /** All-pairs near-duplicate detection by embedding cosine >= threshold,
    * LSH-bucketed (the embedding-space sibling of [[MinHashDedup]]).
    */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, bits: Int = 12, seed: Long = 42L): DataFrame = {
    val sig = VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed)
    val t = Parallelism.ensureCompute(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), sig.as("bucket"))
    val l = t.select(col("bucket"), col("id").as("idA"), col("vec").as("vecA"))
    val r = t.select(col("bucket"), col("id").as("idB"), col("vec").as("vecB"))
    l.join(r, Seq("bucket"))
      .where(col("idA") < col("idB"))
      .withColumn("sim", VectorExpressions.cosine(col("vecA"), col("vecB")))
      .where(col("sim") >= threshold)
      .select("idA", "idB", "sim")
  }

  /** Nearest-centroid assignment plus the hash SUB-SHARD that bounds the
    * within-cluster pairwise stage: every row gets its `cluster` (argmax
    * cosine against the broadcast literal centroids) and a `shard` in
    * `[0, ceil(|cluster| / maxClusterSize))` from the portable id hash.
    * Pairwise consumers join on (cluster, shard), so a degenerate
    * cluster of n rows costs O(n · maxClusterSize) pairs instead of
    * O(n²) — the same hard ceiling `maxBucketSize` gives the MinHash LSH
    * buckets and `maxBlockSize` gives entity-resolution blocks. The
    * recall price is explicit: a same-cluster pair lands in one shard
    * with probability ~1/nShards once the cap binds (exact-duplicate
    * mass should be removed by hash dedup upstream, where it is free).
    *
    * `base` must carry `id` and `vec`; other columns pass through. Cost
    * when the cap does not bind: one extra counts-only partial agg and a
    * broadcast join against a ≤ nClusters-row table; nShards is then 1
    * everywhere and the output equals the unsharded assignment.
    */
  private[graft] def shardedAssignment(
      base: DataFrame, centroids: Array[Array[Float]],
      maxClusterSize: Int, shardSeed: Long = 7L): DataFrame = {
    require(maxClusterSize >= 1,
      s"maxClusterSize must be >= 1, got $maxClusterSize")
    val assigned = base.withColumn("cluster", assign(col("vec"), centroids))
    if (maxClusterSize == Int.MaxValue) assigned.withColumn("shard", lit(0L))
    else {
      val sizes = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("__csz"))
      assigned.join(broadcast(sizes), Seq("cluster"))
        .withColumn("shard", pmod(xxhash64(col("id"), lit(shardSeed)),
          shardCount(col("__csz"), maxClusterSize)))
        .drop("__csz")
    }
  }

  /** Sub-shards of a cluster of `size` rows: `max(1, ceil(size / cap))`. */
  private def shardCount(size: Column, maxClusterSize: Int): Column =
    greatest(floor((size + lit(maxClusterSize.toLong - 1)) /
      lit(maxClusterSize.toDouble)).cast("long"), lit(1L))

  /** The within-cluster pair stage of the SemDeDup rule: ids of rows
    * that a smaller-id row of the same (cluster, shard) cell is at least
    * `tau` similar to (6-dp-rounded cosine).
    */
  private def selfPairDups(sharded: DataFrame, tau: Double): DataFrame = {
    val l = sharded.select(col("cluster"), col("shard"),
      col("id").as("ia"), col("vec").as("va"))
    val r = sharded.select(col("cluster"), col("shard"),
      col("id").as("ib"), col("vec").as("vb"))
    l.join(r, Seq("cluster", "shard"))
      .where(col("ia") < col("ib"))
      .where(round(VectorExpressions.cosine(col("va"), col("vb")), 6) >= tau)
      .select(col("ib").as("id")).distinct()
  }

  /** `(id, cluster, keep)` for every `assigned` row: keep = not in `dups`. */
  private def keepFlags(assigned: DataFrame, dups: DataFrame): DataFrame =
    assigned
      .join(dups.withColumn("__dup", lit(true)), Seq("id"), "left_outer")
      .select(col("id"), col("cluster"),
        not(coalesce(col("__dup"), lit(false))).as("keep"))

  /** SemDeDup-style SEMANTIC deduplication (cluster-then-compare, the
    * shape of Abbas et al. 2023): every vector is assigned to its
    * nearest centroid, pairwise cosine runs ONLY within a cluster, and
    * a doc is dropped when a smaller-id same-cluster doc is at least
    * `tau` similar (deterministic keeper: the lowest id of a duplicate
    * set always survives). Returns `(id, cluster, keep)` for every
    * input row.
    *
    * Scale: the pairwise stage shuffles on `cluster` and is quadratic
    * only WITHIN a cluster — O(Σ|c|²), the SemDeDup economics that make
    * semantic dedup feasible where all-pairs O(n²) is not; size
    * `nClusters` so the largest cluster's pairs fit a task (the paper
    * runs tens of thousands of clusters at web scale — a skewed giant
    * cluster is the thing to tune against). Assignment is the same
    * broadcast-literal-centroid codegen argmax as the IVF family; sims
    * are rounded to 6 dp before the threshold so the decision is
    * portable (and oracle-checkable) across engines.
    *
    * `centroids` — frozen centroids (the deployed path: train once on a
    * sample, reuse per batch; also what makes results replayable); null
    * trains in-line via [[trainCentroids]].
    *
    * `maxClusterSize` — hard ceiling on the pairwise cell
    * ([[shardedAssignment]]): a cluster larger than this is hash
    * sub-sharded so its pair count is O(n · maxClusterSize), never
    * O(n²) — the guard against a skewed corpus (or an under-scaled
    * `nClusters`) turning the stage quadratic. Inside the cap the
    * semantics are exactly SemDeDup's; beyond it, cross-shard pairs in
    * the oversized cluster are forfeited (documented recall tradeoff,
    * SkewSpec-pinned) — dedup exact duplicates by hash upstream and
    * size `nClusters` so real clusters stay under the cap.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      nClusters: Int = 16, dim: Int = -1, trainIters: Int = 3,
      centroids: Array[Array[Float]] = null,
      maxClusterSize: Int = 1 << 13): DataFrame = {
    require(centroids == null || centroids.nonEmpty, "centroids must be non-empty")
    val c0 = Parallelism.ensureCompute(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents =
      if (centroids != null) centroids
      else trainCentroids(df, idCol, vecCol, nClusters,
        dimOrModal(dim, c0, "vec", "semanticDedup"), trainIters)
    val sharded = shardedAssignment(c0, cents, maxClusterSize)
    keepFlags(sharded, selfPairDups(sharded, tau))
  }

  /** HARD-NEGATIVE mining for contrastive training: for every anchor
    * vector, the `k` most cosine-similar vectors carrying a DIFFERENT
    * label — near the anchor in embedding space yet labeled otherwise,
    * the pairs that actually move a contrastive loss (the in-batch
    * random negatives they replace are trivially far). Returns
    * `(anchor_id, neg_id, sim, rank)`.
    *
    * Scale shape: [[semanticDedup]]'s cluster economics — anchors and
    * candidates are both assigned to their nearest centroid (the
    * broadcast-literal codegen argmax), pairs score ONLY within a
    * cluster, so the pairwise stage is O(Σ|c|²) keyed by cluster, never
    * all-pairs. Mining is approximate at cluster boundaries exactly like
    * SemDeDup/IVF-probe retrieval; raise `nClusters` resolution or probe
    * more lists when recall matters more than cost. Scores are rounded
    * to 6 dp BEFORE ranking (rank boundaries stable across engines),
    * ties broken by ascending candidate id.
    *
    * `maxClusterSize` — the [[shardedAssignment]] pairwise ceiling:
    * anchors in an oversized cluster mine only their own hash shard
    * (≥ maxClusterSize candidates each in expectation), so the stage
    * stays O(n · maxClusterSize) under any skew.
    */
  def hardNegatives(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int, centroids: Array[Array[Float]],
      maxClusterSize: Int = 1 << 13): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(centroids != null && centroids.nonEmpty, "centroids required")
    val base = shardedAssignment(
      Parallelism.ensureCompute(df)
        .select(col(idCol).as("id"), col(vecCol).as("vec"),
          col(labelCol).as("lbl")),
      centroids, maxClusterSize)
    val a = base.select(col("cluster"), col("shard"), col("id").as("anchor_id"),
      col("vec").as("va"), col("lbl").as("la"))
    val c = base.select(col("cluster"), col("shard"), col("id").as("neg_id"),
      col("vec").as("vc"), col("lbl").as("lc"))
    val scored = a.join(c, Seq("cluster", "shard"))
      .where(col("la") =!= col("lc"))
      .withColumn("sim",
        round(VectorExpressions.cosine(col("va"), col("vc")), 6))
    rankTopK(scored, "anchor_id", col("sim").desc, "neg_id", k, rn = "rank")(
      col("anchor_id"), col("neg_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019's ratio margin —
    * public method): score every (src, tgt) pair by cosine relative to
    * the average of each side's k nearest neighbors in the OTHER corpus,
    * keep pairs that are MUTUAL best matches and clear the margin. The
    * margin denominator is what makes this robust where a raw cosine
    * cutoff is not: hub vectors that are near-everything have a high
    * neighborhood average, so their inflated sims are discounted.
    *
    * Exactness discipline: sims round to 6 dp before any ranking;
    * neighborhood averages stay EXACT by never dividing — the margin test
    * `sim / ((fa/k + fb/k) / 2) >= num/den` is algebraically rewritten to
    * `2*k*den*sim >= num*(fa_sum + fb_sum)` over DECIMAL(18,6) sums,
    * order-independent and engine-portable (the q112/q116 decimal route).
    *
    * Scale: this is the exact formulation — one side must be broadcastable
    * (mine language pairs in src-language chunks, the way [[topKJoin]]
    * batches queries). For corpus x corpus at 100 TB, generate candidates
    * with [[lshTopKJoin]]/[[ivfTopKJoin]] first and feed the SAME margin test;
    * recall loss is then the LSH layer's, measurable via the q133 pattern.
    *
    * Returns mutual-best pairs passing the margin: (src_id, tgt_id, sim).
    */
  def marginBitext(
      src: DataFrame, sId: String, sVec: String,
      tgt: DataFrame, tId: String, tVec: String,
      k: Int, marginNum: Int, marginDen: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(marginNum > 0 && marginDen > 0, "margin must be a positive rational")
    val s = Parallelism.ensureCompute(src)
      .select(col(sId).as("src_id"), col(sVec).as("src_vec"))
    val tq = tgt.select(col(tId).as("tgt_id"), col(tVec).as("tgt_vec"))
    val sims = s.crossJoin(broadcast(tq))
      .select(col("src_id"), col("tgt_id"),
        round(VectorExpressions.cosine(col("src_vec"), col("tgt_vec")), 6).as("sim"))
    val wF = Window.partitionBy(col("src_id")).orderBy(col("sim").desc, col("tgt_id").asc)
    val wB = Window.partitionBy(col("tgt_id")).orderBy(col("sim").desc, col("src_id").asc)
    val ranked = sims
      .withColumn("rf", row_number().over(wF))
      .withColumn("rb", row_number().over(wB))
    val simDec = col("sim").cast("decimal(18,6)")
    val fa = ranked.where(col("rf") <= k).groupBy(col("src_id"))
      .agg(sum(simDec).as("fa_sum"))
    val fb = ranked.where(col("rb") <= k).groupBy(col("tgt_id"))
      .agg(sum(simDec).as("fb_sum"))
    ranked.where(col("rf") === 1 && col("rb") === 1)
      .join(broadcast(fa), Seq("src_id"))
      .join(broadcast(fb), Seq("tgt_id"))
      .where(lit(2L * k * marginDen) * simDec >=
        lit(marginNum.toLong) * (col("fa_sum") + col("fb_sum")))
      .select(col("src_id"), col("tgt_id"), col("sim"))
  }

  /** INCREMENTAL [[semanticDedup]]: screen a NEW batch against a
    * persisted store of previously-kept vectors, without ever
    * re-comparing the store to itself — the daily-ingest loop
    * ([[graft.operators.MinHashDedup]]'s incremental economics applied
    * to the embedding tier). A batch vector is dropped when
    *  (a) any same-cluster STORE vector is >= `tau` similar, or
    *  (b) a smaller-id same-cluster BATCH vector is (the
    *      [[semanticDedup]] within-batch rule; the keeper of every new
    *      duplicate set is its lowest id).
    * Returns one row per batch vector: (id, cluster, keep).
    *
    * Scale shape: centroids are FROZEN (the store's assignment is never
    * recomputed — train once, reuse per batch, the replayable deployed
    * path); only the batch pays assignment, and both pairwise stages
    * key on `cluster`, so daily work is
    * O(|batch| · avg-cluster-occupancy), never corpus². The
    * `maxClusterSize` ceiling applies to BOTH seams: an oversized store
    * cluster is hash sub-sharded and each batch row probes only its own
    * shard (store-side pairs O(|batch| · cap)); the within-batch stage
    * reuses [[shardedAssignment]] unchanged. Store rows carry their
    * persisted cluster — pass a store WITH a `cluster` column (written
    * by a previous run) to skip even the store's argmax.
    */
  def incrementalSemanticDedup(
      batch: DataFrame, idCol: String, vecCol: String,
      store: DataFrame, sIdCol: String, sVecCol: String,
      tau: Double, centroids: Array[Array[Float]],
      maxClusterSize: Int = 1 << 13, shardSeed: Long = 7L): DataFrame = {
    require(centroids != null && centroids.nonEmpty, "centroids required")
    require(maxClusterSize >= 1,
      s"maxClusterSize must be >= 1, got $maxClusterSize")
    val b0 = Parallelism.ensureCompute(batch)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val s0raw = store.select(col(sIdCol).as("sid"), col(sVecCol).as("svec"))
    // store assignment: reuse a persisted cluster column when present
    val s0 =
      if (store.columns.contains("cluster"))
        store.select(col(sIdCol).as("sid"), col(sVecCol).as("svec"),
          col("cluster"))
      else s0raw.withColumn("cluster", assign(col("svec"), centroids))
    val bAssigned = b0.withColumn("cluster", assign(col("vec"), centroids))
    // store-side shard ceiling: nShards from STORE cluster sizes; the
    // batch row probes the shard its own id hashes to (1-of-nShards
    // recall in an oversized cluster — the documented cap tradeoff)
    val sSizes = s0.groupBy(col("cluster")).agg(count(lit(1)).as("__ssz"))
    val nShards = shardCount(col("__ssz"), maxClusterSize)
    val sSharded = s0.join(broadcast(sSizes), Seq("cluster"))
      .withColumn("shard", pmod(xxhash64(col("sid"), lit(shardSeed)), nShards))
      .select(col("cluster"), col("shard"), col("svec"))
    val bProbe = bAssigned.join(broadcast(sSizes), Seq("cluster"), "left_outer")
      .withColumn("shard",
        when(col("__ssz").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(shardSeed)), nShards)))
      .select(col("cluster"), col("shard"), col("id"), col("vec"))
    val dupVsStore = bProbe.join(sSharded, Seq("cluster", "shard"))
      .where(round(VectorExpressions.cosine(col("vec"), col("svec")), 6) >= tau)
      .select(col("id")).distinct()
    val dupInBatch = selfPairDups(
      shardedAssignment(b0, centroids, maxClusterSize, shardSeed), tau)
    keepFlags(bAssigned, dupVsStore.union(dupInBatch).distinct())
  }

  /** kNN LABEL-AGREEMENT audit (the confident-learning-style mislabel
    * signal, Northcutt et al. shape): for every vector, the fraction of
    * its k nearest neighbors (cosine, 6-dp pre-rank rounding, id
    * tiebreak) that share its label. A low-agreement row sits inside a
    * differently-labeled neighborhood — the first list a label-cleaning
    * pass reviews; the embedding-space sibling of the q147 labeler
    * agreement audit.
    *
    * This is the EXACT (all-pairs) tier, the q30b ground-truth
    * discipline: at corpus scale the pairing seam swaps to the IVF
    * ([[ivfTopKJoin]]) or LSH ([[lshTopKJoin]]) candidate generators —
    * agreement is computed on candidates exactly the same way.
    * Per-anchor top-k runs as a WindowGroupLimit (per-task heaps),
    * never a full sort.
    *
    * Returns `(id, label, n_same, agreement)` — agreement over the
    * neighbors actually found (min(k, n−1)), rounded 6 dp.
    */
  def labelAgreement(vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in [1, 100], got $k")
    val v = Parallelism.ensureCompute(vectors)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        col(labelCol).as("label"))
    val a = v.select(col("id"), col("v"), col("label"))
    val b = v.select(col("id").as("nid"), col("v").as("nv"),
      col("label").as("nlabel"))
    val scored = rankTopK(a.crossJoin(b).where(col("id") =!= col("nid"))
      .withColumn("sim",
        round(VectorExpressions.cosine(col("v"), col("nv")), 6)),
      "id", col("sim").desc, "nid", k)()
    scored.groupBy(col("id"), col("label"))
      .agg(sum(when(col("nlabel") === col("label"), 1L).otherwise(0L))
          .as("n_same"),
        count(lit(1)).as("__n"))
      .select(col("id"), col("label"), col("n_same"),
        round(col("n_same").cast("double") / col("__n").cast("double"), 6)
          .as("agreement"))
  }

  /** k-CENTER coreset selection by farthest-first traversal (Gonzalez
    * 1985; a 2-approximation of the k-center optimum): the first center
    * is the smallest id; each next center is the vector whose MAXIMUM
    * cosine similarity to the chosen set is smallest — i.e. the most
    * novel remaining vector. The diversity-sampling picker (annotation
    * batches, eval-set seeding, cluster initialization) that
    * quota/temperature sampling cannot express: it optimizes COVERAGE
    * of embedding space, not proportionality.
    *
    * Determinism/portability: similarities are the native
    * `cosine_similarity` rounded to 6 dp BEFORE the min/argmin (the
    * q14 agreement with `list_cosine_similarity`); ties break by
    * ascending id — the full selection trajectory replays on any
    * engine.
    *
    * Scale shape: each of the k rounds is ONE map over the corpus
    * (chosen centers ride the plan as `k × dim` float literals — the
    * q71 frozen-centroid discipline) + one TakeOrdered(1) argmin. No
    * shuffle of the vector table, ever; driver state = the chosen
    * centers. k rounds = k corpus scans off a pinned projection.
    *
    * Returns `(rank, vec_id, max_sim)` — `max_sim` NULL for the seed
    * row, else the similarity that made the pick (descending novelty).
    */
  def kCenters(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = vectors.sparkSession
    import spark.implicits._
    Pins.scoped { s =>
      val vecs = s.pin(Parallelism.ensureCompute(vectors)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
      val seed = vecs.orderBy(col("id").asc).limit(1).collect()
      require(seed.nonEmpty, "kCenters needs a non-empty vector table")
      var chosen = Vector((seed(0).getLong(0), seed(0).getSeq[Float](1).toArray))
      val out = Seq.newBuilder[(Int, Long, Option[Double])]
      out += ((1, chosen.head._1, None))
      for (rank <- 2 to k) {
        val sims = chosen.map { case (_, cv) =>
          round(VectorExpressions.cosine(col("v"),
            array(cv.toIndexedSeq.map(x => lit(x)): _*).cast("array<float>")), 6)
        }
        val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
        val pick = vecs.where(!col("id").isin(chosen.map(_._1): _*))
          .select(col("id"), col("v"), maxSim.as("ms"))
          .orderBy(col("ms").asc, col("id").asc)
          .limit(1).collect()
        if (pick.nonEmpty) {
          chosen = chosen :+ ((pick(0).getLong(0), pick(0).getSeq[Float](1).toArray))
          out += ((rank, pick(0).getLong(0), Some(pick(0).getAs[Double]("ms"))))
        }
      }
      out.result().toDF("rank", "vec_id", "max_sim")
    }
  }
}
