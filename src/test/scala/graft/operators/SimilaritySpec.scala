package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("cosine: identical vectors -> 1, orthogonal -> 0, zero-norm -> 0") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f), 1.0),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f), 0.0),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f), 0.0)
    ).toDF("a", "b", "want")
    val got = df.select(
      round(VectorFunctions.cosine($"a", $"b"), 9).as("got"), $"want")
      .as[(Double, Double)].collect()
    got.foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("brute-force topK returns nearest neighbors, excludes self") {
    val corpus = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.topKJoin(
      corpus.where($"vec_id" === 0), "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 2)
      .orderBy($"sim".desc)
      .select($"vec_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L), s"got $out")
  }

  test("LSH topK recall: bucketed results are a subset of brute-force ranks") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where($"vec_id" < 3)
    val brute = Similarity.topKJoin(queries, "vec_id", "embedding", emb, "vec_id", "embedding", 20)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopKJoin(queries, "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 5, dim = 64, bits = 6, probes = 3)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty, "lsh should return candidates")
    val recall = lsh.count(brute.contains).toDouble / lsh.size
    assert(recall > 0.5, s"LSH hits should mostly be true near-neighbors; recall=$recall")
  }

  test("IVF topK: probed lists cover most true neighbors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where($"vec_id" < 3)
    val brute = Similarity.topKJoin(queries, "vec_id", "embedding", emb, "vec_id", "embedding", 20)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopKJoin(queries, "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 3)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty, "ivf should return candidates")
    val precision = ivf.count(brute.contains).toDouble / ivf.size
    assert(precision > 0.3, s"ivf hits should often be true near-neighbors; precision=$precision")
  }

  test("IVF with frozen centroids: nProbe=1 prunes to the query's own cluster exactly") {
    // two orthogonal clusters; a frozen one-hot index makes the
    // approximate regime deterministic: nProbe=1 must return the
    // within-cluster ranking and NEVER a cross-cluster candidate
    val corpus = Seq(
      (0L, Array(1f, 0.10f, 0f, 0f)), (2L, Array(1f, 0.20f, 0f, 0f)),
      (4L, Array(1f, 0.30f, 0f, 0f)),
      (1L, Array(0f, 0f, 1f, 0.10f)), (3L, Array(0f, 0f, 1f, 0.25f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val got = Similarity.ivfTopKJoin(
      corpus.where($"vec_id" <= 1), "vec_id", "embedding",
      corpus, "vec_id", "embedding",
      k = 3, nLists = 2, nProbe = 1, dim = 4, centroids = cents)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    assert(got(0L) == Set(2L, 4L), s"even query must see only its cluster: $got")
    assert(got(1L) == Set(3L), s"odd query must see only its cluster: $got")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKJoin(corpus, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 1, nLists = 3, centroids = cents)
    }
    assert(e.getMessage.contains("nLists"), e.getMessage)
  }

  test("materialized IVF index: probe equals the in-memory operator, scan reads only probed lists") {
    val corpus = Seq(
      (0L, Array(1f, 0.10f, 0f, 0f)), (2L, Array(1f, 0.20f, 0f, 0f)),
      (4L, Array(1f, 0.30f, 0f, 0f)),
      (1L, Array(0f, 0f, 1f, 0.10f)), (3L, Array(0f, 0f, 1f, 0.25f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", dir, cents)
    val queries = corpus.where($"vec_id" === 0)
    val probe = Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 1)
    val mem = Similarity.ivfTopKJoin(queries, "vec_id", "embedding",
      corpus, "vec_id", "embedding",
      k = 3, nLists = 2, nProbe = 1, dim = 4, centroids = cents)
    assert(probe.exceptAll(mem).isEmpty && mem.exceptAll(probe).isEmpty,
      "layout must not change results")
    // the scale contract: the probe scan touches ONLY the probed list's
    // partition directory — 1 of 2 at planning time
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
          k = 3, centroids = cents, nProbe = 1)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("graft_ivfidx") => s
      }
      assert(scans.nonEmpty, s"index scan not found:\n$plan")
      assert(scans.head.selectedPartitions.partitionCount == 1,
        s"probe must read 1 of 2 list partitions, got " +
          s"${scans.head.selectedPartitions.partitionCount}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("incremental IVF ingest: build-half-append-half equals from-scratch") {
    val corpus = Seq(
      (0L, Array(1f, 0.10f, 0f, 0f)), (2L, Array(1f, 0.20f, 0f, 0f)),
      (4L, Array(1f, 0.30f, 0f, 0f)),
      (1L, Array(0f, 0f, 1f, 0.10f)), (3L, Array(0f, 0f, 1f, 0.25f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val full = java.nio.file.Files.createTempDirectory("graft_ivffull").toString
    val incr = java.nio.file.Files.createTempDirectory("graft_ivfincr").toString
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", full, cents)
    Similarity.writeIvfIndex(
      corpus.where($"vec_id" % 2 === 0), "vec_id", "embedding", incr, cents)
    Similarity.appendToIvfIndex(
      corpus.where($"vec_id" % 2 =!= 0), "vec_id", "embedding", incr, cents)
    // the appended batch landed in the same list partitions (assignment on
    // the frozen centroids), and a probe cannot tell the indexes apart
    for (qid <- Seq(0L, 1L, 3L)) {
      val queries = corpus.where($"vec_id" === qid)
      val a = Similarity.probeIvfIndex(spark, full, queries, "vec_id", "embedding",
        k = 3, centroids = cents, nProbe = 1)
      val b = Similarity.probeIvfIndex(spark, incr, queries, "vec_id", "embedding",
        k = 3, centroids = cents, nProbe = 1)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"incremental index diverged from batch index for query $qid")
    }
    // both indexes carry every vector exactly once
    assert(spark.read.parquet(incr).count() == corpus.count())
  }

  test("k-means centroids: deterministic, right shape, tighter than init") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def cost(cents: Array[Array[Float]]): Double = {
      import graft.plans.VectorExpressions
      val best = greatest(cents.map(cv => VectorExpressions.cosine(
        $"embedding", array(cv.map(x => lit(x)): _*).cast("array<float>"))): _*)
      emb.select(avg(best)).as[Double].head()
    }
    val init = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, dim = 64, maxIter = 0)
    val trained = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, dim = 64, maxIter = 3)
    val again = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, dim = 64, maxIter = 3)
    assert(trained.length == 8 && trained.forall(_.length == 64))
    assert(trained.zip(again).forall { case (a, b) => a.sameElements(b) },
      "training must be deterministic")
    val (c0, c1) = (cost(init), cost(trained))
    assert(c1 >= c0 - 1e-6,
      s"Lloyd's iterations must not loosen mean assignment similarity: init=$c0 trained=$c1")
  }

  test("hyperplane signatures are deterministic across invocations") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    def sigs = emb.select($"vec_id",
      VectorFunctions.hyperplaneSignature($"embedding", 64, 12, 42L).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs == sigs)
  }

  test("int8 quantization: error bounded by half a bucket, top-k mostly survives") {
    val (lo, hi) = (-0.6, 0.6)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = VectorFunctions.quantize8($"embedding", lo, hi)
    val maxErr = emb.select(
        array_max(zip_with($"embedding", VectorFunctions.dequantize8(q, lo, hi),
          (o, d) => abs(o.cast("double") - d))).as("e"))
      .agg(max($"e")).as[Double].head()
    assert(maxErr <= (hi - lo) / 255.0 / 2.0 + 1e-12, s"err $maxErr exceeds half-bucket")
    // topKJoin's native cosine takes array<float>; quantized path re-scores
    // in float like a production shortlist would
    val deq = emb.select($"vec_id",
      transform(VectorFunctions.dequantize8(q, lo, hi), _.cast("float")).as("embedding"))
    def top(corpus: org.apache.spark.sql.DataFrame) = Similarity.topKJoin(
        corpus.where($"vec_id" < 3), "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (full, quant) = (top(emb.select($"vec_id", $"embedding")), top(deq))
    for ((qid, ids) <- full) {
      val overlap = ids.intersect(quant(qid)).size
      assert(overlap >= 6, s"query $qid: only $overlap/10 neighbors survived quantization")
    }
  }

  test("exact cosine pairs ground the LSH near-dup variant (subset + scores)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.2)
      .select($"idA", $"idB").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "threshold too high for testdata — no exact pairs")
    assert(exact.forall { case (a, b) => a < b }, "pair orientation must be idA < idB")
    val lsh = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.2, dim = 64, bits = 8)
      .select($"idA", $"idB").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact),
      s"LSH found pairs the exact join did not: ${lsh.diff(exact).take(3)}")
  }

  test("semanticDedup: lowest id of a duplicate set survives, cross-cluster twins don't pair") {
    // two tight duplicate sets on orthogonal axes (ids 0/1/2 in cluster
    // A, ids 10/11 in cluster B) plus an isolated diagonal doc: per set,
    // exactly the lowest id survives; pairs join on cluster, so the A
    // and B sets can never see each other.
    def v(x: Float, y: Float, eps: Float) = Array(x, y, eps, 0f)
    val corpus = Seq(
      0L -> v(1f, 0f, 0.00f), 1L -> v(1f, 0f, 0.01f), 2L -> v(1f, 0f, 0.02f),
      10L -> v(0f, 1f, 0.00f), 11L -> v(0f, 1f, 0.01f),
      20L -> v(0.7f, 0.7f, 0f)
    ).toDF("id", "vec")
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0.7f, 0.7f, 0f, 0f))
    val out = Similarity.semanticDedup(corpus, "id", "vec", tau = 0.999,
      centroids = cents)
      .select($"id", $"cluster", $"keep").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 10L, 11L, 20L))
    // cluster assignment by nearest centroid
    assert(out(0L)._1 == 0 && out(1L)._1 == 0 && out(2L)._1 == 0)
    assert(out(10L)._1 == 1 && out(11L)._1 == 1)
    assert(out(20L)._1 == 2)
    // min id per duplicate set kept, the rest dropped
    assert(out(0L)._2 && !out(1L)._2 && !out(2L)._2,
      s"cluster A keep flags wrong: $out")
    assert(out(10L)._2 && !out(11L)._2, s"cluster B keep flags wrong: $out")
    assert(out(20L)._2, "an isolated doc must survive")
  }

  test("semanticDedup with trained centroids: keep set is a valid dedup cover at tau") {
    // regardless of HOW clustering lands, the published guarantees hold:
    // (a) every dropped doc really has a kept-or-smaller-id >= tau twin
    //     in its own cluster, (b) no two kept docs in the SAME cluster
    //     are >= tau similar
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      tau = 0.35, nClusters = 8)
    val clusters = out.groupBy($"cluster").count().collect()
    assert(clusters.length > 1, "training collapsed to one cluster")
    val joined = out.as("x").join(out.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.id") < col("y.id"))
      .join(emb.as("ex"), col("x.id") === col("ex.vec_id"))
      .join(emb.as("ey"), col("y.id") === col("ey.vec_id"))
      .select(col("x.id").as("ia"), col("y.id").as("ib"),
        col("x.keep").as("ka"), col("y.keep").as("kb"),
        round(graft.plans.VectorExpressions.cosine(
          col("ex.embedding"), col("ey.embedding")), 6).as("sim"))
    val bothKeptDup = joined.where($"ka" && $"kb" && $"sim" >= 0.35).count()
    assert(bothKeptDup == 0, s"$bothKeptDup kept pairs are >= tau similar in one cluster")
    val droppedIds = out.where(!$"keep").select($"id").as[Long].collect().toSet
    val justified = joined.where($"sim" >= 0.35)
      .select($"ib").as[Long].collect().toSet
    assert(droppedIds.subsetOf(justified),
      s"dropped without a smaller-id twin: ${droppedIds.diff(justified).take(3)}")
  }

  test("hardNegatives: only different-label cluster-mates, ranked by similarity") {
    // cluster 0 (x-axis): ids 0,1 label A; id 2 label B close to A's; id 3
    // label C farther. cluster 1 (y-axis): id 10 label A alone -> no rows.
    def v(x: Float, y: Float, eps: Float) = Array(x, y, eps, 0f)
    val emb = Seq(
      (0L, v(1f, 0f, 0.00f), "A"), (1L, v(1f, 0f, 0.01f), "A"),
      (2L, v(1f, 0f, 0.05f), "B"), (3L, v(0.9f, 0f, 0.4f), "C"),
      (10L, v(0f, 1f, 0f), "A")
    ).toDF("id", "vec", "lbl")
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val out = Similarity.hardNegatives(emb, "id", "vec", "lbl",
        k = 2, centroids = cents)
      .as[(Long, Long, Double, Long)].collect()
    val byAnchor = out.groupBy(_._1)
    // anchor 0: negatives are 2 (nearer) then 3; never same-label 1
    assert(byAnchor(0L).sortBy(_._4).map(_._2).toSeq == Seq(2L, 3L),
      s"anchor 0: ${byAnchor(0L).toSeq}")
    // anchor 2 (label B): both A twins rank above far C; k=2 caps at the
    // As, and 1 (eps 0.01, nearer to eps 0.05) outranks 0 (eps 0)
    assert(byAnchor(2L).sortBy(_._4).map(_._2).toSeq == Seq(1L, 0L),
      s"anchor 2: ${byAnchor(2L).toSeq}")
    // id 10 is alone in its cluster: no negatives mined
    assert(!byAnchor.contains(10L), s"anchor 10 rows: ${out.toSeq}")
    // no pair ever shares a label; ranks are 1-based dense per anchor
    assert(out.forall(r => r._4 >= 1 && r._4 <= 2))
    val labels = Map(0L -> "A", 1L -> "A", 2L -> "B", 3L -> "C", 10L -> "A")
    assert(out.forall(r => labels(r._1) != labels(r._2)), s"same-label pair: ${out.toSeq}")
  }

  test("marginBitext: isolated mutual pairs pass, a dense hub cluster is margin-filtered") {
    import spark.implicits._
    // two isolated cross-lingual pairs near the axes, plus a 4-vector hub
    // cluster in the opposite quadrant whose members are all ~equally close
    val src = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (6L, Array(-0.6f, -0.8f)), (8L, Array(-0.8f, -0.6f))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (1L, Array(0.99f, 0.14f)), (3L, Array(0.1f, 0.995f)),
      (7L, Array(-0.6f, -0.8f)), (9L, Array(-0.8f, -0.6f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.marginBitext(src, "vec_id", "embedding",
        tgt, "vec_id", "embedding", k = 2, marginNum = 6, marginDen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (6,7)/(8,9) are MUTUAL BEST (cos = 1.0) yet excluded: their 2nd
    // neighbors sit at 0.96, so the ratio margin is ~1.02 < 1.2 — the
    // de-hubbing a raw cosine cutoff cannot do
    assert(out == Set((0L, 1L), (2L, 3L)), s"got $out")
  }

  test("marginBitext: non-mutual best pairs never emit") {
    import spark.implicits._
    // b1's best source is a0, so a2 -> b1 is one-directional; with k=1 and
    // margin 1/1 the only surviving pair is the mutual (a0, b1)
    val src = Seq((0L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.436f)))
      .toDF("vec_id", "embedding")
    val tgt = Seq((1L, Array(0.98f, 0.199f)), (3L, Array(0.5f, 0.866f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.marginBitext(src, "vec_id", "embedding",
        tgt, "vec_id", "embedding", k = 1, marginNum = 1, marginDen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)), s"got $out")
  }

  // ------------------------------------- incremental semantic dedup

  private val isdCents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))

  test("incrementalSemanticDedup: store rule, batch rule, cluster isolation") {
    // store holds one kept representative near centroid 0
    val store = Seq((100L, Array(1.0f, 0.0f))).toDF("sid", "svec")
    val batch = Seq(
      (1L, Array(0.99f, 0.05f)),  // ~store 100 -> dropped (rule a)
      (2L, Array(0.98f, 0.08f)),  // ~batch 1  -> dropped (rule b; also a)
      (3L, Array(0.05f, 0.99f)),  // cluster 1, nothing near -> kept
      (4L, Array(0.08f, 0.98f))   // ~batch 3 (smaller id, kept) -> dropped (rule b)
    ).toDF("vid", "vec")
    val out = Similarity.incrementalSemanticDedup(
        batch, "vid", "vec", store, "sid", "svec",
        tau = 0.95, centroids = isdCents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "every batch row judged once")
    assert(out(1L) == (0L, false) && out(2L) == (0L, false))
    assert(out(3L) == (1L, true) && out(4L) == (1L, false))
    // store rows in a DIFFERENT cluster are never compared: a batch vec
    // similar to a store vec across the cluster boundary survives (the
    // documented SemDeDup approximation)
    val crossStore = Seq((200L, Array(0.72f, 0.69f))).toDF("sid", "svec") // cluster 0
    val crossBatch = Seq((5L, Array(0.69f, 0.72f))).toDF("vid", "vec")    // cluster 1
    val cross = Similarity.incrementalSemanticDedup(
        crossBatch, "vid", "vec", crossStore, "sid", "svec",
        tau = 0.9, centroids = isdCents)
      .collect().head
    assert(cross.getBoolean(2), "cross-cluster store vec must not drop the batch vec")
  }

  test("incrementalSemanticDedup: empty store degenerates to the batch-only rule") {
    val batch = Seq(
      (1L, Array(0.99f, 0.05f)),
      (2L, Array(0.98f, 0.08f)),
      (3L, Array(0.05f, 0.99f))).toDF("vid", "vec")
    val store = Seq.empty[(Long, Array[Float])].toDF("sid", "svec")
    val inc = Similarity.incrementalSemanticDedup(
        batch, "vid", "vec", store, "sid", "svec",
        tau = 0.95, centroids = isdCents)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val full = Similarity.semanticDedup(batch, "vid", "vec",
        tau = 0.95, centroids = isdCents)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(inc == full, s"empty-store incremental must equal semanticDedup: $inc vs $full")
  }

  test("incrementalSemanticDedup: a persisted cluster column skips the store argmax") {
    val store = Seq((100L, Array(1.0f, 0.0f), 0L)).toDF("sid", "svec", "cluster")
    val batch = Seq((1L, Array(0.99f, 0.05f)), (2L, Array(0.05f, 0.99f)))
      .toDF("vid", "vec")
    val out = Similarity.incrementalSemanticDedup(
        batch, "vid", "vec", store, "sid", "svec",
        tau = 0.95, centroids = isdCents)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> false, 2L -> true))
  }

  test("incrementalSemanticDedup: oversized store cluster is sharded, capped drops are sound") {
    // 200 store vecs all in cluster 0; cap 20 -> 10 shards; every batch
    // probe compares against ~cap store rows, and capping only FORFEITS
    // drops (subset of the uncapped drop set)
    val store = (0 until 200).map { i =>
      (100L + i, Array(1.0f, (math.sin(i) * 0.01).toFloat))
    }.toDF("sid", "svec")
    val batch = (0 until 40).map { i =>
      (i.toLong, Array(1.0f, (math.cos(i) * 0.01).toFloat))
    }.toDF("vid", "vec")
    val capped = Similarity.incrementalSemanticDedup(
      batch, "vid", "vec", store, "sid", "svec",
      tau = 0.9999, centroids = isdCents, maxClusterSize = 20)
    val uncapped = Similarity.incrementalSemanticDedup(
      batch, "vid", "vec", store, "sid", "svec",
      tau = 0.9999, centroids = isdCents, maxClusterSize = Int.MaxValue)
    val dc = capped.where(!$"keep").select($"id").as[Long].collect().toSet
    val du = uncapped.where(!$"keep").select($"id").as[Long].collect().toSet
    assert(dc.subsetOf(du), s"cap introduced false drops: ${dc -- du}")
    assert(capped.count() == 40L, "every batch row judged")
    assert(du.nonEmpty, "fixture must actually produce store-rule drops")
  }

  test("labelAgreement: planted mislabel scores lowest in its neighborhood") {
    // cluster A (label 0) with one mislabeled member, cluster B (label 1)
    val vecs = Seq(
      (1L, Array(1f, 0f, 0.0f), 0), (2L, Array(0.99f, 0.1f, 0f), 0),
      (3L, Array(0.98f, -0.1f, 0f), 0), (4L, Array(0.97f, 0.05f, 0f), 1), // mislabel
      (10L, Array(0f, 0f, 1f), 1), (11L, Array(0.05f, 0f, 0.99f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelAgreement(vecs, "vec_id", "embedding", "label", k = 3)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // vec 4's 3 nearest are all label-0 cluster-A members -> agreement 0
    assert(got(4L) == ((1, 0L, 0.0)), s"got $got")
    // clean A members: neighbors {other As, the mislabeled 4}
    assert(got(1L)._3 > 0.5 && got(2L)._3 > 0.5, s"got $got")
    assert(got.size == 6, "one row per vector")
  }

  test("labelAgreement plan: per-anchor top-k runs as WindowGroupLimit heaps") {
    val vecs = (1L to 8L).map(i => (i, Array(i.toFloat, 1f), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val plan = Similarity.labelAgreement(vecs, "vec_id", "embedding", "label", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rn <= k must push per-task top-k heaps, not full per-anchor sorts:\n$plan")
  }

  test("top-k plans: every producer's per-key top-k runs as WindowGroupLimit heaps") {
    val vecs = (1L to 8L).map(i =>
      (i, Array(i.toFloat, 1f, (i % 3).toFloat, 0.5f), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val queries = vecs.where($"vec_id" <= 2)
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val dir = java.nio.file.Files.createTempDirectory("graft_wgl").toString
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", dir, cents)
    val sigs = Similarity.srpSignatures(vecs, "vec_id", "embedding", dim = 4, bits = 8)
    val books = ProductQuantizer.train(vecs, "vec_id", "embedding",
      m = 2, ksub = 2, dim = 4, iters = 1)
    val pqCodes = ProductQuantizer.encode(vecs, "vec_id", "embedding", books, dim = 4)
      .withColumn("list", ($"vec_id" % 2).cast("int"))
    val stats = ScalarQuantizer.train(vecs, "embedding", 4)
    val sqCodes = ScalarQuantizer.encode(vecs, "vec_id", "embedding", stats,
      carryCols = Seq("label"))
    val routed = queries.withColumn("list", ($"vec_id" % 2).cast("int"))
    val producers = Seq(
      "topKJoin" -> Similarity.topKJoin(queries, "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 3),
      "lshTopKJoin" -> Similarity.lshTopKJoin(queries, "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 3, dim = 4, bits = 2, probes = 1),
      "hammingTopK" -> Similarity.hammingTopK(sigs.where($"vec_id" <= 2), "vec_id",
        sigs, "vec_id", k = 3),
      "ivfTopKJoin" -> Similarity.ivfTopKJoin(queries, "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 3, nLists = 2, nProbe = 1, centroids = cents),
      "probeIvfIndex" -> Similarity.probeIvfIndex(spark, dir, queries, "vec_id",
        "embedding", k = 3, centroids = cents, nProbe = 1),
      "hardNegatives" -> Similarity.hardNegatives(vecs, "vec_id", "embedding", "label",
        k = 3, centroids = cents),
      "labelAgreement" -> Similarity.labelAgreement(vecs, "vec_id", "embedding",
        "label", 3),
      "ProductQuantizer.adcTopK" -> ProductQuantizer.adcTopK(queries, "vec_id",
        "embedding", pqCodes, "vec_id", books, dim = 4, k = 3),
      "ProductQuantizer.adcTopK within" -> ProductQuantizer.adcTopK(routed, "vec_id",
        "embedding", pqCodes, "vec_id", books, dim = 4, k = 3, withinCol = "list"),
      "ScalarQuantizer.adcTopK" -> ScalarQuantizer.adcTopK(queries, "vec_id",
        "embedding", sqCodes, "vec_id", stats, k = 3),
      "ScalarQuantizer.adcTopK within" -> ScalarQuantizer.adcTopK(queries, "vec_id",
        "embedding", sqCodes, "vec_id", stats, k = 3, withinCol = Some("label")))
    producers.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name: rn <= k must push per-task top-k heaps, not full per-key sorts:\n$plan")
    }
  }

  test("labelAgreement: k beyond n-1 divides by neighbors actually found") {
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0), (3L, Array(0f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelAgreement(vecs, "vec_id", "embedding", "label", k = 10)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(1L) == 0.5 && got(2L) == 0.5, s"got $got")
    intercept[IllegalArgumentException] {
      Similarity.labelAgreement(vecs, "vec_id", "embedding", "label", k = 0)
    }
  }

  test("kCenters: farthest-first picks directions before near-duplicates") {
    // three tight directional clusters + clones; axes are mutually
    // orthogonal so the first three picks must cover all three
    // directions, never two clones of one
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f), 2L -> Array(0.99f, 0.01f, 0f),
      10L -> Array(0f, 1f, 0f), 11L -> Array(0.01f, 0.99f, 0f),
      20L -> Array(0f, 0f, 1f), 21L -> Array(0f, 0.01f, 0.99f)
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenters(vecs, "vec_id", "embedding", k = 3)
      .as[(Int, Long, Option[Double])].collect().sortBy(_._1)
    assert(got(0) == ((1, 1L, None)), "seed is the smallest id")
    val dirs = got.map(_._2 / 10L).toSet
    assert(dirs == Set(0L, 1L, 2L),
      s"3 centers must cover all 3 directions: ${got.toSeq}")
    assert(got.forall { case (r, _, ms) => r == 1 || ms.exists(_ < 0.5) },
      s"chosen novelty must be low-similarity: ${got.toSeq}")
  }

  test("kCenters: k beyond the table returns one row per vector; guards hold") {
    val vecs = Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    assert(Similarity.kCenters(vecs, "vec_id", "embedding", k = 5).count() == 2L)
    intercept[IllegalArgumentException] {
      Similarity.kCenters(vecs, "vec_id", "embedding", k = 0)
    }
  }

  test("kCenters: deterministic trajectory on the real embeddings slice") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
    val a = Similarity.kCenters(emb, "vec_id", "embedding", k = 4)
      .as[(Int, Long, Option[Double])].collect().toSeq
    val b = Similarity.kCenters(emb.repartition(7), "vec_id", "embedding", k = 4)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(a.sortBy(_._1) == b.sortBy(_._1),
      "selection must be partitioning-independent")
  }

  test("jlProject matches a driver-side reference (signs, rounding, decimal sums)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").where($"vec_id" < 5)
    val got = Similarity.jlProject(emb, "vec_id", "embedding", dim = 64, targetDim = 4)
      .as[(Long, Seq[Float])].collect().toMap
    val raw = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def sign(i: Int, j: Int): Int =
      (graft.plans.PolyHashOps.stringHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"jl|$i|$j")) % 3L).toInt - 1
    raw.foreach { case (id, vec) =>
      for (j <- 0 until 4) {
        val want = (0 until 64).map { i =>
          BigDecimal((vec(i).toDouble * sign(i, j)) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP) / 1e6
        }.sum.toDouble.toFloat
        assert(got(id)(j) == want, s"id=$id j=$j: got ${got(id)(j)}, want $want")
      }
    }
    // sanity: the sign grid actually uses all three values
    val signs = (for (i <- 0 until 64; j <- 0 until 4) yield sign(i, j)).groupBy(identity)
    assert(signs.keySet == Set(-1, 0, 1), s"degenerate sign grid: ${signs.keySet}")
  }

  test("srpSignatures: sign-packed bits match the projection; Hamming respects clusters") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").where($"vec_id" < 8)
    val sigs = Similarity.srpSignatures(emb, "vec_id", "embedding", dim = 64, bits = 16)
      .as[(Long, Long)].collect().toMap
    val proj = Similarity.jlProject(emb, "vec_id", "embedding", dim = 64, targetDim = 16)
      .as[(Long, Seq[Float])].collect().toMap
    proj.foreach { case (id, ps) =>
      val want = ps.zipWithIndex.collect { case (p, j) if p > 0f => 1L << j }.sum
      assert(sigs(id) == want, s"id=$id: sig ${sigs(id)} != signs-of-projection $want")
      assert(sigs(id) >= 0L && sigs(id) < (1L << 16))
    }
    // clustered corpus: Hamming neighbors stay within the cluster
    val df = spark.range(120).select($"id",
      transform(sequence(lit(0), lit(63)), i =>
        (when(pmod(i, lit(4)) === ($"id" % 4).cast("int"), lit(50.0))
          .otherwise(lit(0.0)) + pmod($"id" * (i + 1L), lit(7)).cast("double") / 10.0)
          .cast("float")).as("vec"))
    val s2 = Similarity.srpSignatures(df, "id", "vec", dim = 64, bits = 16)
    val top = Similarity.hammingTopK(s2.where($"id" < 8), "id", s2, "id", k = 5)
      .collect()
    assert(top.length == 8 * 5)
    top.foreach(r => assert(r.getInt(2) >= 0 && r.getInt(2) <= 16))
    val same = top.count(r => r.getLong(0) % 4 == r.getLong(1) % 4)
    assert(same >= (top.length * 9) / 10,
      s"Hamming space lost cluster structure: $same/${top.length}")
  }

  test("jlProject preserves separated clusters: projected top-k recall is high") {
    // 4 clusters at distance >> wobble, structure spread over all 64 dims
    val df = spark.range(200).select($"id",
      transform(sequence(lit(0), lit(63)), i =>
        (when(pmod(i, lit(4)) === ($"id" % 4).cast("int"), lit(50.0))
          .otherwise(lit(0.0)) + pmod($"id" * (i + 1L), lit(7)).cast("double") / 10.0)
          .cast("float")).as("vec"))
    val proj = Similarity.jlProject(df, "id", "vec", dim = 64, targetDim = 16)
    val top = Similarity.topKJoin(proj.where($"id" < 12), "id", "proj",
      proj, "id", "proj", k = 5).collect()
    val sameCluster = top.count(r => r.getLong(0) % 4 == r.getLong(1) % 4)
    assert(sameCluster >= (top.length * 9) / 10,
      s"projected space lost cluster structure: $sameCluster/${top.length}")
  }

  test("choosePlans: headroom floor gates eligibility, cheapest eligible wins, ties all flagged") {
    // ivf1 cheap but starved; ivf2 eligible and cheapest; ivf4/brute tie
    val plans = Seq(("ivf1", 50L, 8L), ("ivf2", 120L, 25L),
      ("ivf4", 260L, 45L), ("brute", 260L, 45L))
    val out = Similarity.choosePlans(plans, minPool = 20)
    assert(out.map(p => p._1 -> p._4).toMap ==
      Map("ivf1" -> false, "ivf2" -> true, "ivf4" -> true, "brute" -> true))
    assert(out.map(p => p._1 -> p._5).toMap ==
      Map("ivf1" -> false, "ivf2" -> true, "ivf4" -> false, "brute" -> false))
    // equal-minimal eligible plans are ALL flagged (the deterministic tie)
    val tied = Similarity.choosePlans(
      Seq(("a", 100L, 30L), ("b", 100L, 40L), ("c", 200L, 50L)), minPool = 20)
    assert(tied.filter(_._5).map(_._1) == Seq("a", "b"))
    // nothing eligible: nothing chosen (never a fallback coin-flip)
    val none = Similarity.choosePlans(Seq(("a", 1L, 3L)), minPool = 20)
    assert(none.forall(p => !p._4 && !p._5))
    intercept[IllegalArgumentException] {
      Similarity.choosePlans(Seq.empty, minPool = 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.choosePlans(plans, minPool = 0)
    }
  }

  test("chooseTiers: recall floor gates eligibility, cheapest eligible wins, " +
      "ties all flagged, exact 6-dp boundary is eligible") {
    // b16 cheap but under the floor; b32 exactly AT the floor (eligible
    // — the >= rule, no epsilon); b64 eligible but dearer
    val tiers = Seq(("b16", 11000L, 0.3), ("b32", 12000L, 0.4),
      ("b64", 24000L, 0.566667))
    val out = Similarity.chooseTiers(tiers, recallFloor = 0.4)
    assert(out.map(t => t._1 -> t._4).toMap ==
      Map("b16" -> false, "b32" -> true, "b64" -> true))
    assert(out.map(t => t._1 -> t._5).toMap ==
      Map("b16" -> false, "b32" -> true, "b64" -> false))
    // equal-minimal eligible tiers are ALL flagged
    val tied = Similarity.chooseTiers(
      Seq(("a", 100L, 0.5), ("b", 100L, 0.6), ("c", 200L, 0.7)), 0.45)
    assert(tied.filter(_._5).map(_._1) == Seq("a", "b"))
    // nothing eligible: nothing chosen — the caller must widen the
    // ladder, never silently serve the best loser
    val none = Similarity.chooseTiers(Seq(("a", 1L, 0.1)), 0.4)
    assert(none.forall(t => !t._4 && !t._5))
    intercept[IllegalArgumentException] {
      Similarity.chooseTiers(Seq.empty, 0.4)
    }
    intercept[IllegalArgumentException] {
      Similarity.chooseTiers(tiers, 0.0)
    }
    intercept[IllegalArgumentException] {
      Similarity.chooseTiers(tiers, 1.1)
    }
  }
}
