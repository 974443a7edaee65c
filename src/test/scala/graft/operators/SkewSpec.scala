package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Adversarial-distribution evidence for the dedup/ANN candidate
  * generators (round-4 advice): the 100 TB claim for these paths is that
  * candidate counts stay NEAR-LINEAR in the corpus even when the data is
  * pathological — a viral boilerplate shingle in half the docs, or one
  * LSH bucket holding 90% of the corpus. Each test pins an explicit
  * candidate-count ceiling next to the quadratic count the naive join
  * would produce, so a regression that silently reintroduces an
  * all-pairs blowup fails loudly here rather than at scale.
  */
class SkewSpec extends SparkSuite {
  import spark.implicits._

  private val N = 200

  test("prefix filter: a shingle in 50% of docs adds ~zero candidates (AllPairs bound)") {
    // each doc: 12 unique tokens; half also carry a 6-token viral phrase,
    // so 4+ shingles have document frequency N/2 — the classic boilerplate
    // skew. A hot-shingle inverted index would emit (N/2 choose 2) = 4950
    // candidate pairs from those postings alone; the df-ordered prefix
    // filter ranks hot shingles LAST per doc, outside every prefix.
    val viral = "common viral boiler plate phrase"
    val docs = (0 until N).map { i =>
      val unique = (0 until 12).map(j => s"u${i}t$j").mkString(" ")
      (i.toLong, if (i % 2 == 0) s"$unique $viral" else unique)
    } ++ Seq( // three true near-dup pairs (clones) the filter must keep
      (1000L, s"${(0 until 12).map(j => s"u0t$j").mkString(" ")} $viral"),
      (1001L, s"${(0 until 12).map(j => s"u2t$j").mkString(" ")} $viral"),
      (1002L, (0 until 12).map(j => s"u3t$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val base = MinHashDedup.shingleTable(df, "doc_id", "text",
        MinHashDedup.Config(shingleN = 3))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    val cands = MinHashDedup.prefixCandidates(base, threshold = 0.6)
    val nCands = cands.count()
    // ceiling: linear in the corpus (one candidate per doc on average),
    // nowhere near the 4950 the hot postings would contribute alone
    assert(nCands <= N, s"candidate blowup under boilerplate skew: $nCands")
    assert(nCands >= 3, "the three clone pairs must survive the filter")
    base.unpersist()
    // exactness is not traded away: the full operator still finds every
    // true pair at the threshold
    val pairs = MinHashDedup.jaccardPairs(df, "doc_id", "text", threshold = 0.6)
      .select($"idA", $"idB").as[(Long, Long)].collect().toSet
    assert(Set((0L, 1000L), (2L, 1001L), (3L, 1002L)).subsetOf(pairs),
      s"clone pairs missing from $pairs")
  }

  test("minhash LSH: a bucket holding 90% of the corpus is capped, not joined") {
    // 90% of docs are the SAME viral text -> identical signatures -> every
    // band has one bucket with 0.9N members. Uncapped, that self-join emits
    // 180*179/2 = 16110 pairs; the maxBucketSize guard drops the bucket
    // (boilerplate is dedup'd by exact hash upstream, not pairwise).
    val docs = (0 until N).map { i =>
      val text =
        if (i < N * 9 / 10) "the same viral boilerplate text repeated everywhere"
        else s"genuinely distinct document $i with its own words ${i * 7}"
      (i.toLong, text)
    }
    val df = docs.toDF("doc_id", "text")
    Seq(MinHashDedup.XxHash64, MinHashDedup.Portable).foreach { space =>
      val cfg = MinHashDedup.Config(jaccardThreshold = 0.8, maxBucketSize = 50,
        hashSpace = space)
      val sigs = MinHashDedup.signatures(df, "doc_id", "text", cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sigs.count()
      val capped = MinHashDedup.candidatePairs(sigs, cfg).count()
      assert(capped <= N,
        s"$space: capped candidate count must stay near-linear, got $capped")
      // the quadratic mass is real — prove the cap is what removed it
      val uncapped = MinHashDedup.candidatePairs(
        sigs, cfg.copy(maxBucketSize = 1000000)).count()
      val dupMass = (N * 9 / 10).toLong
      assert(uncapped >= dupMass * (dupMass - 1) / 2,
        s"$space: uncapped skew bucket should be quadratic, got $uncapped")
      sigs.unpersist()
    }
  }

  test("embedding LSH: 90% of vectors in one bucket stays |q|-bounded, output exactly k") {
    // hot bucket on the corpus side: per-query candidates are bucket-sized
    // (linear), never corpus-squared — the join is queries-vs-bucket by
    // construction. Output stays exactly k per query with deterministic
    // tie-break even though 90% of candidates tie at similarity 1.0.
    val dim = 8
    val hot = Array.tabulate(dim)(j => if (j == 0) 1.0f else 0.1f)
    val corpus = (0 until N).map { i =>
      val v =
        if (i < N * 9 / 10) hot
        else Array.tabulate(dim)(j => math.sin(i * 31 + j).toFloat)
      (i.toLong, v)
    }.toDF("c_id", "c_vec")
    val queries = Seq((9001L, hot), (9002L, Array.tabulate(dim)(j => math.cos(j).toFloat)))
      .toDF("q_id", "q_vec")
    val k = 5
    val out = Similarity.lshTopKJoin(
      queries, "q_id", "q_vec", corpus, "c_id", "c_vec", k = k, dim = dim)
    val perQuery = out.groupBy($"q_id").count().as[(Long, Long)].collect().toMap
    // the hot-bucket query ranks a 180-member bucket and must cut to
    // exactly k; the sparse query sees however many candidates its bucket
    // holds (approximate recall by design) but never more than k
    assert(perQuery(9001L) == k, s"hot-bucket query must cut to k: $perQuery")
    assert(perQuery.values.forall(c => c >= 1 && c <= k),
      s"per-query output must stay within k: $perQuery")
    val again = Similarity.lshTopKJoin(
      queries, "q_id", "q_vec", corpus, "c_id", "c_vec", k = k, dim = dim)
      .orderBy($"q_id", $"vec_id").collect().toSeq
    assert(out.orderBy($"q_id", $"vec_id").collect().toSeq == again,
      "skewed ties must resolve deterministically")
  }

  test("semantic dedup: a 90%-degenerate cluster is sub-sharded, never quadratic") {
    // 90% of vectors fall to ONE frozen centroid (the under-scaled-
    // nClusters / skewed-corpus case): uncapped, the within-cluster
    // pairwise join is (0.9N choose 2)-quadratic; maxClusterSize hash
    // sub-shards the cluster so the candidate mass stays O(n · cap).
    val dim = 8
    val cents = Array(
      Array.tabulate(dim)(j => if (j == 0) 1.0f else 0.0f),
      Array.tabulate(dim)(j => if (j == 1) 1.0f else 0.0f))
    val nHot = N * 9 / 10
    val corpus = (0 until N).map { i =>
      val v =
        if (i < nHot) // near centroid 0, each perturbed distinctly
          Array.tabulate(dim)(j =>
            if (j == 0) 1.0f else (math.sin(i * 13 + j) * 0.05).toFloat)
        else Array.tabulate(dim)(j =>
          if (j == 1) 1.0f else (math.cos(i * 17 + j) * 0.05).toFloat)
      (i.toLong, v)
    }.toDF("id", "vec")
    val cap = 30
    val sharded = Similarity.shardedAssignment(corpus, cents, maxClusterSize = cap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sharded.count()
    // candidate-pair ceiling: sum over (cluster, shard) cells of
    // sz*(sz-1)/2 must be near n·cap, nowhere near the 16110-pair
    // quadratic mass of the unsharded hot cluster
    val cellPairs = sharded.groupBy($"cluster", $"shard")
      .agg(count(lit(1)).as("sz"))
      .agg(sum($"sz" * ($"sz" - 1) / 2).cast("long")).as[Long].head()
    val quadratic = nHot.toLong * (nHot - 1) / 2
    assert(cellPairs <= 2L * N * cap,
      s"sub-sharded candidate mass must stay O(n*cap): $cellPairs")
    assert(cellPairs < quadratic / 4,
      s"ceiling not meaningfully below quadratic: $cellPairs vs $quadratic")
    // hash sharding keeps expected shard sizes at the cap (slack 2x)
    val maxCell = sharded.groupBy($"cluster", $"shard")
      .agg(count(lit(1)).as("sz")).agg(max($"sz")).as[Long].head()
    assert(maxCell <= 2L * cap, s"a shard cell far exceeds the cap: $maxCell")
    sharded.unpersist()
    // soundness: capping only FORFEITS pairs — every capped drop is also
    // an uncapped drop (no new false drops), and the uncapped run on the
    // same corpus equals the maxClusterSize=MaxValue fast path
    val capped = Similarity.semanticDedup(corpus, "id", "vec",
      tau = 0.995, centroids = cents, maxClusterSize = cap)
    val uncapped = Similarity.semanticDedup(corpus, "id", "vec",
      tau = 0.995, centroids = cents, maxClusterSize = Int.MaxValue)
    val droppedCapped = capped.where(!$"keep").select($"id").as[Long].collect().toSet
    val droppedUncapped = uncapped.where(!$"keep").select($"id").as[Long].collect().toSet
    assert(droppedCapped.subsetOf(droppedUncapped),
      s"cap introduced false drops: ${droppedCapped -- droppedUncapped}")
    assert(capped.count() == N, "every input row must be judged")
    // the cap must not bind when clusters are small: same corpus, cap
    // above the largest cluster -> bit-identical to the MaxValue path
    val slack = Similarity.semanticDedup(corpus, "id", "vec",
      tau = 0.995, centroids = cents, maxClusterSize = N + 1)
    assert(slack.orderBy($"id").collect().toSeq ==
      uncapped.orderBy($"id").collect().toSeq,
      "non-binding cap changed the result")
  }

  test("hard negatives under the same skew: per-anchor candidates stay shard-bounded") {
    val dim = 8
    val cents = Array(
      Array.tabulate(dim)(j => if (j == 0) 1.0f else 0.0f),
      Array.tabulate(dim)(j => if (j == 1) 1.0f else 0.0f))
    val nHot = N * 9 / 10
    val corpus = (0 until N).map { i =>
      val v =
        if (i < nHot)
          Array.tabulate(dim)(j =>
            if (j == 0) 1.0f else (math.sin(i * 13 + j) * 0.05).toFloat)
        else Array.tabulate(dim)(j =>
          if (j == 1) 1.0f else (math.cos(i * 17 + j) * 0.05).toFloat)
      (i.toLong, v, s"label_${i % 3}")
    }.toDF("id", "vec", "lbl")
    val out = Similarity.hardNegatives(corpus, "id", "vec", "lbl",
      k = 5, centroids = cents, maxClusterSize = 30)
    val perAnchor = out.groupBy($"anchor_id").count().as[(Long, Long)].collect()
    assert(perAnchor.forall(_._2 <= 5), "per-anchor output must stay within k")
    assert(perAnchor.nonEmpty, "skewed corpus must still mine negatives")
    // capped output is a subset of the uncapped candidate relation:
    // every mined pair is a genuine different-label cluster-mate
    val pairs = out.select($"anchor_id", $"neg_id").as[(Long, Long)].collect()
    val lbl = (0 until N).map(i => i.toLong -> s"label_${i % 3}").toMap
    val clusterOf = (i: Long) => if (i < nHot) 0 else 1
    assert(pairs.forall { case (a, n) =>
      lbl(a) != lbl(n) && clusterOf(a) == clusterOf(n)
    }, "mined pair violates the different-label same-cluster contract")
  }

  test("inverted index under a stopword-heavy corpus: band caps the widest posting row") {
    // 'the' lands in EVERY doc (corpus-sized posting list if
    // materialized); the df band must exclude it BEFORE any list builds,
    // and the surviving widest row stays at the banded ceiling
    val n = 400
    val docs = (0 until n).map { i =>
      val rare = s"tok_$i"
      val mid = s"shared_${i % 20}" // df = 20 each
      (i.toLong, s"the $mid $rare the common words the")
    }.toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text",
        minDf = 2, maxDfFraction = 0.5)
      .select($"term", size($"postings").as("w")).as[(String, Int)].collect().toMap
    assert(!idx.contains("the") && !idx.contains("common") && !idx.contains("words"),
      s"df-1.0 terms must fall to the band, got ${idx.keys}")
    assert(!idx.exists(_._1.startsWith("tok_")), "hapaxes below minDf")
    assert(idx.values.max <= 20, s"widest posting row must stay banded: $idx")
    assert(idx.size == 20, s"exactly the shared_* tier survives: ${idx.keys}")
  }
}
