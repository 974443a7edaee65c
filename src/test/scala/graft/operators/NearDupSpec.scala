package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite

/** Planted near-duplicate corpus: MinHash and SimHash must find the planted
  * pairs and must not merge unrelated docs.
  */
class NearDupSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"
  // near-dup: one word changed
  private val nearDup = base.replace("lazy", "sleepy")
  // chains: A~B and B~C but A!~C directly (transitivity must close the group)
  private val mid = base.replace("lazy", "sleepy").replace("quick", "fast")
  private val unrelated1 =
    "completely different content about distributed query engines and columnar storage formats for analytical workloads at scale"
  private val unrelated2 =
    "yet another unrelated document discussing streaming watermarks state stores and exactly once processing semantics in detail"

  private def corpus = Seq(
    (1L, base), (2L, nearDup), (3L, mid), (4L, unrelated1), (5L, unrelated2)
  ).toDF("doc_id", "text")

  /** The portable-space config the oracle-gated queries run. */
  private val portable = MinHashDedup.Config(jaccardThreshold = 0.5,
    numHashes = 16, bands = 8, seed = 7L, hashSpace = MinHashDedup.Portable)

  test("minhash finds planted near-dups, keeps unrelated docs") {
    val cfg = MinHashDedup.Config(jaccardThreshold = 0.5, shingleN = 3)
    val pairs = MinHashDedup.verifiedPairs(corpus, "doc_id", "text", cfg)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L),
      s"unrelated docs must not pair: $pairs")

    val kept = MinHashDedup.dedup(corpus, "doc_id", "text", cfg)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(4L) && kept.contains(5L))
    assert(!kept.contains(2L), "near-dup of doc 1 must be dropped")
  }

  test("incremental near-dup vs a manifest-persisted signature store == one-shot batch run") {
    // day 1: docs 1, 4 ingested; signatures persisted via ManifestTable.
    // day 2: docs 2, 3, 5 arrive; incremental pass must surface exactly
    // the full-corpus pairs that touch the new batch (all of them here —
    // every planted pair spans the two days) without rescanning day 1.
    val cfg = MinHashDedup.Config(jaccardThreshold = 0.5, shingleN = 3)
    val day1 = corpus.where($"doc_id".isin(1L, 4L))
    val day2 = corpus.where(!$"doc_id".isin(1L, 4L))
    val root = java.nio.file.Files.createTempDirectory("graft_sigstore").resolve("s").toString
    ManifestTable.commit(spark, root,
      MinHashDedup.signatures(day1, "doc_id", "text", cfg), Seq("id"))
    val store = ManifestTable.read(spark, root)
    val inc = MinHashDedup.incrementalVerifiedPairs(store, day2, "doc_id", "text", cfg)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val full = MinHashDedup.verifiedPairs(corpus, "doc_id", "text", cfg)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val day1Only = MinHashDedup.verifiedPairs(day1, "doc_id", "text", cfg)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(inc.union(day1Only) == full,
      s"incremental $inc + day1 $day1Only must equal one-shot $full")
    assert(inc.forall { case (a, b) => !(Set(1L, 4L)(a) && Set(1L, 4L)(b)) },
      s"incremental pass must never re-emit store-only pairs: $inc")
    // close the loop: append day 2's signatures; the store now serves day 3
    ManifestTable.commit(spark, root,
      MinHashDedup.signatures(day2, "doc_id", "text", cfg), Seq("id"), append = true)
    assert(ManifestTable.read(spark, root).count() == corpus.count())
  }

  test("portable incremental pass with a stored band index == the store-refolding pass") {
    // the 100 TB contract: the store's (id, band, bucket) index is an
    // ingest-time artifact; feeding it back must change NOTHING about
    // the pairs — same folds, same rows, just not re-derived per batch
    val day1 = corpus.where($"doc_id".isin(1L, 4L))
    val day2 = corpus.where(!$"doc_id".isin(1L, 4L))
    val store = MinHashDedup.signatures(day1, "doc_id", "text", portable)
      .localCheckpoint()
    val idx = MinHashDedup.bandIndex(store, portable).localCheckpoint()
    def pairs(si: Option[org.apache.spark.sql.DataFrame]) =
      MinHashDedup.incrementalVerifiedPairs(
          store, day2, "doc_id", "text", portable, storeIndex = si)
        .select("idA", "idB").as[(Long, Long)].collect().toSet
    val withIdx = pairs(Some(idx))
    val without = pairs(None)
    assert(withIdx == without,
      s"stored-index pass $withIdx must equal refolding pass $without")
    assert(withIdx.nonEmpty, "fixture must surface at least one pair")
    // banding-mismatch guard: an index built under a DIFFERENT banding
    // (or one lacking the metadata stamp entirely) must be rejected —
    // silently dropping candidate buckets is a false-negative dedup
    val wrongBanding = MinHashDedup.bandIndex(store, portable.copy(bands = 4))
    val eBand = intercept[IllegalArgumentException] {
      MinHashDedup.incrementalVerifiedPairs(
        store, day2, "doc_id", "text", portable, storeIndex = Some(wrongBanding))
    }
    assert(eBand.getMessage.contains("does not match"), eBand.getMessage)
    // same banding, other hash space: the index's buckets are folds the
    // call's xxhash64 buckets can never meet
    val eSpace = intercept[IllegalArgumentException] {
      MinHashDedup.incrementalVerifiedPairs(
        store, day2, "doc_id", "text",
        portable.copy(hashSpace = MinHashDedup.XxHash64), storeIndex = Some(idx))
    }
    assert(eSpace.getMessage.contains("does not match") &&
      eSpace.getMessage.contains("Portable"), eSpace.getMessage)
    val unstamped = idx.select(col("id"), col("band").cast("int").as("band"),
      col("bucket"))
    val eMeta = intercept[IllegalArgumentException] {
      MinHashDedup.incrementalVerifiedPairs(
        store, day2, "doc_id", "text", portable, storeIndex = Some(unstamped))
    }
    assert(eMeta.getMessage.contains("metadata"), eMeta.getMessage)
    // and a config whose bands do not divide numHashes never exists
    val eDiv = intercept[IllegalArgumentException](portable.copy(bands = 5))
    assert(eDiv.getMessage.contains("bands must divide numHashes"), eDiv.getMessage)
    // and the stamp survives the artifact's disk round-trip (the store
    // keeps its index as a parquet sidecar)
    val pq = java.nio.file.Files.createTempDirectory("graft_bandidx")
      .resolve("i").toString
    idx.write.parquet(pq)
    assert(pairs(Some(spark.read.parquet(pq))) == without,
      "parquet round-tripped index must still validate and match")
  }

  test("streaming incremental dedup: per-batch incremental pairs accumulate to the one-shot set") {
    // the full daily loop, three arrivals: store seeded EMPTY (a 0-file
    // manifest commit — the cold-start edge), each batch finds its
    // incremental pairs (new x store AND new x new) and appends its
    // signatures; the union over batches must equal one-shot verifiedPairs
    val cfg = MinHashDedup.Config(jaccardThreshold = 0.5, shingleN = 3)
    val root = java.nio.file.Files.createTempDirectory("graft_sigloop").resolve("s").toString
    val empty = MinHashDedup.signatures(corpus.limit(0), "doc_id", "text", cfg)
    ManifestTable.commit(spark, root, empty, Seq("id"))
    val batches = Seq(Seq(1L, 4L), Seq(2L, 5L), Seq(3L))
    val acc = scala.collection.mutable.Set.empty[(Long, Long)]
    batches.foreach { ids =>
      val batch = corpus.where($"doc_id".isin(ids: _*))
      val store = ManifestTable.read(spark, root)
      acc ++= MinHashDedup.incrementalVerifiedPairs(store, batch, "doc_id", "text", cfg)
        .select("idA", "idB").as[(Long, Long)].collect()
      ManifestTable.commit(spark, root,
        MinHashDedup.signatures(batch, "doc_id", "text", cfg), Seq("id"), append = true)
    }
    val full = MinHashDedup.verifiedPairs(corpus, "doc_id", "text", cfg)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(acc.toSet == full, s"accumulated $acc != one-shot $full")
  }

  test("duplicateGroups closes chains transitively") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (7L, 8L, 0.9))
      .toDF("idA", "idB", "jaccard")
    val groups = MinHashDedup.duplicateGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L)
    assert(groups(7L) == 7L && groups(8L) == 7L)
  }

  test("simhash: near-dups within hamming radius, unrelated far apart") {
    val fps = SimHashDedup.fingerprints(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fps(1L), fps(2L)) < hamming(fps(1L), fps(4L)),
      "similar docs must be closer in hamming space than unrelated ones")
    val pairs = SimHashDedup.hammingPairs(
        SimHashDedup.fingerprints(corpus, "doc_id", "text"), "id", "simhash",
        maxHamming = 8, maxBucketSize = 1000)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(!pairs.contains((4L, 5L)), "unrelated docs must not pair")
  }

  test("signatures: empty/short docs never become candidates") {
    val df = Seq((1L, "one two"), (2L, "")).toDF("doc_id", "text")
    val sigs = MinHashDedup.signatures(df, "doc_id", "text", MinHashDedup.Config())
    assert(sigs.where(size($"sig") > 0).count() == 0) // all below shingleN
  }

  /** Every broadcast in `p`, through AQE stages and into the plans of
    * the cached relations it scans.
    */
  private def broadcastsIn(p: SparkPlan): Seq[BroadcastExchangeExec] = flatMap(p) {
    case b: BroadcastExchangeExec => Seq(b)
    case s: InMemoryTableScanExec => broadcastsIn(s.relation.cachedPlan)
    case _ => Nil
  }

  /** The executed plan of the `localCheckpoint` that detached `produce`'s
    * result: the result itself is a checkpoint scan, so its verify joins
    * are read from the action that materialized it (the last detach whose
    * output has the result's columns).
    */
  private def detachedPlan(produce: () => DataFrame): SparkPlan = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val cols = produce().columns.toSeq
      def found = seen.toArray(Array.empty[QueryExecution]).reverse
        .find(_.analyzed.output.map(_.name) == cols)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (found.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(found.nonEmpty, s"no detach with columns $cols was reported")
      found.get.executedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  test("no broadcast side in the verify pipeline carries an array column") {
    // the 100 TB contract: shingle/signature arrays are huge and badly
    // size-estimated — only bare id pairs may be broadcast. Plan-inspect
    // with AQE off so the compile-time joins are what's asserted.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.catalog.clearCache()
    try {
      // the eager producers: their results are detached, so the verify
      // joins sit in the plan of the detaching action
      val cfg = MinHashDedup.Config(jaccardThreshold = 0.5, shingleN = 3)
      val a = Seq((10L, base), (11L, unrelated1)).toDF("doc_id", "text")
      val store = MinHashDedup.signatures(corpus.where($"doc_id".isin(1L, 4L)),
        "doc_id", "text", cfg).localCheckpoint()
      Seq[(String, () => DataFrame)](
        "jaccardPairs" -> (() => MinHashDedup.jaccardPairs(corpus, "doc_id", "text", 0.5)),
        "crossJaccardPairs" -> (() => MinHashDedup.crossJaccardPairs(a, corpus, "doc_id", "text", 0.5)),
        "containmentPairs" -> (() => MinHashDedup.containmentPairs(corpus, "doc_id", "text", 0.5)),
        "incrementalVerifiedPairs" -> (() => MinHashDedup.incrementalVerifiedPairs(
          store, corpus.where(!$"doc_id".isin(1L, 4L)), "doc_id", "text", cfg))
      ).foreach { case (name, produce) =>
        val bcasts = broadcastsIn(detachedPlan(produce))
        val names = bcasts.map(_.output.map(_.name).toSet)
        assert(names.contains(Set("idA", "idB")),
          s"$name: expected broadcasts of the bare pair keys, got $names")
        // candidate stages may broadcast scalar rows (a prefix table's
        // (s, idA, lenA)); a broadcast of pairs is the bare keys only
        assert(!names.exists(n => n("idA") && n("idB") && n != Set("idA", "idB")),
          s"$name: a pair broadcast carries more than (idA, idB): $names")
        bcasts.foreach { b =>
          val arrayCols = b.output.filter(_.dataType.isInstanceOf[ArrayType])
          assert(arrayCols.isEmpty,
            s"$name: broadcast side carries array columns ${arrayCols.map(_.name)}:\n$b")
        }
      }
      Seq(MinHashDedup.Config(jaccardThreshold = 0.5, shingleN = 3), portable)
        .foreach { cfg =>
          def plan(candCount: Long) = MinHashDedup.verifiedPairsPlan(
            corpus, "doc_id", "text", cfg, candCount).queryExecution.executedPlan
          def bcastsOf(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
            case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
          }
          // the broadcast regime reaches up to VerifyBroadcastMaxPairs inclusive
          val bcasts = bcastsOf(plan(MinHashDedup.VerifyBroadcastMaxPairs))
          assert(bcasts.exists(_.output.map(_.name).toSet == Set("idA", "idB")),
            s"${cfg.hashSpace}: expected pinned broadcasts of the pair keys, " +
              s"got ${bcasts.map(_.output.map(_.name))}")
          bcasts.foreach { b =>
            val arrayCols = b.output.filter(
              _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
            assert(arrayCols.isEmpty, s"${cfg.hashSpace}: broadcast side " +
              s"carries array columns ${arrayCols.map(_.name)}:\n$b")
          }
          // one pair past it, the keys stop broadcasting and both probes
          // plus the pair-up run sort-merge (the spillable strategy)
          val big = plan(MinHashDedup.VerifyBroadcastMaxPairs + 1)
          assert(!bcastsOf(big).exists(_.output.map(_.name).toSet == Set("idA", "idB")),
            s"${cfg.hashSpace}: pair keys broadcast past the bound:\n$big")
          val smj = big.collect {
            case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          }
          assert(smj.size >= 3, s"${cfg.hashSpace}: expected sort-merge probes:\n$big")
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup and duplicateGroups over a producer's result leave nothing cached") {
    // every producer hands back a cached pair set; duplicateGroups adopts
    // it and drops it once the groups are built
    spark.catalog.clearCache()
    val cacheManager = spark.sharedState.cacheManager
    MinHashDedup.dedup(corpus, "doc_id", "text",
      MinHashDedup.Config(jaccardThreshold = 0.5, shingleN = 3)).collect()
    assert(cacheManager.isEmpty, "dedup left a cache entry behind")
    val groups = MinHashDedup.duplicateGroups(MinHashDedup.jaccardPairs(
      corpus, "doc_id", "text", threshold = 0.5)).collect()
    assert(groups.nonEmpty, "fixture must group at least one pair")
    assert(cacheManager.isEmpty, "duplicateGroups(jaccardPairs) left a cache entry behind")
  }

  test("simhash bucket cap is a counts-only gate, never a window") {
    // a count-per-key window shuffles AND sorts the full banded rows just
    // to read a bucket size; the shared cap reads sizes from a partial agg
    val fps = SimHashDedup.fingerprints(corpus, "doc_id", "text")
    val store = fps.where($"id" <= 2L)
    val batch = fps.where($"id" > 2L)
    Seq(
      "hammingPairs" -> SimHashDedup.hammingPairs(fps, "id", "simhash", 3, 1000),
      "incrementalHammingPairs" ->
        SimHashDedup.incrementalHammingPairs(store, batch, "id", "simhash", 3)
    ).foreach { case (name, pairs) =>
      val plan = pairs.queryExecution.executedPlan
      val windows = collect(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$name: cap regressed to a window:\n$plan")
      val gates = collect(plan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(gates.nonEmpty, s"$name: expected the anti-join bucket gate:\n$plan")
    }
  }

  test("duplicateGroups handles string ids in the local union-find path") {
    val pairs = Seq(("b", "c", 0.9), ("a", "b", 0.9), ("x", "y", 0.8))
      .toDF("idA", "idB", "jaccard")
    val groups = MinHashDedup.duplicateGroups(pairs)
      .as[(String, String)].collect().toMap
    assert(groups("a") == "a" && groups("b") == "a" && groups("c") == "a")
    assert(groups("x") == "x" && groups("y") == "x")
  }

  test("distributed duplicateGroups equals the local union-find") {
    // driverThreshold = 0 forces label propagation even for tiny pair sets
    val longs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (3L, 4L, 0.9), (7L, 8L, 0.9))
      .toDF("idA", "idB", "jaccard")
    assert(MinHashDedup.duplicateGroups(longs, driverThreshold = 0)
      .as[(Long, Long)].collect().toSet ==
      MinHashDedup.duplicateGroups(longs).as[(Long, Long)].collect().toSet)
    val strings = Seq(("b", "c", 0.9), ("a", "b", 0.9), ("x", "y", 0.8))
      .toDF("idA", "idB", "jaccard")
    assert(MinHashDedup.duplicateGroups(strings, driverThreshold = 0)
      .as[(String, String)].collect().toSet ==
      MinHashDedup.duplicateGroups(strings).as[(String, String)].collect().toSet)
  }

  test("distributed duplicateGroups fails when a chain outlasts maxIterations") {
    // a 10-node path needs 8 propagation rounds plus one to see no change;
    // cutting it at 3 would hand back labels that split the component
    val chain = (1L until 10L).map(i => (i, i + 1, 0.9)).toDF("idA", "idB", "jaccard")
    val e = intercept[IllegalStateException] {
      MinHashDedup.duplicateGroups(chain, maxIterations = 3, driverThreshold = 0)
    }
    assert(e.getMessage.contains("maxIterations=3"), e.getMessage)
  }

  test("simhash maxHamming=0 pairs exact duplicates (64-bit chunk mask)") {
    val df = Seq((1L, base), (2L, base), (3L, unrelated1)).toDF("doc_id", "text")
    val pairs = SimHashDedup.hammingPairs(
        SimHashDedup.fingerprints(df, "doc_id", "text"), "id", "simhash",
        maxHamming = 0, maxBucketSize = 1000)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("jaccardPairs is exact: equals brute-force all-pairs Jaccard") {
    import graft.functions.TextFunctions
    val sh = corpus.select($"doc_id",
      TextFunctions.shingles($"text", 3).as("s"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("idA"), $"b.doc_id".as("idB"),
        (size(array_intersect($"a.s", $"b.s")).cast("double") /
          size(array_union($"a.s", $"b.s")).cast("double")).as("j"))
      .where($"j" >= 0.5)
      .select($"idA", $"idB").as[(Long, Long)].collect().toSet
    val exact = MinHashDedup.jaccardPairs(corpus, "doc_id", "text",
      threshold = 0.5, shingleN = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(exact == brute && exact.nonEmpty,
      s"prefix-filter candidates must lose nothing: exact=$exact brute=$brute")
  }

  test("containmentPairs is exact and catches embedded sub-documents") {
    import graft.functions.TextFunctions
    // doc 6 is a small excerpt embedded in doc 1: containment(6 -> 1) is
    // 1.0 while Jaccard(1, 6) is far below any useful threshold.
    val excerpt = "jumps over the lazy dog while the cat watches"
    val docs = corpus.union(Seq((6L, excerpt)).toDF("doc_id", "text"))
    val sh = docs.select($"doc_id",
      TextFunctions.shingles($"text", 3).as("s"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .where($"a.doc_id" =!= $"b.doc_id" && size($"a.s") > 0 && size($"b.s") > 0)
      .select($"a.doc_id".as("idA"), $"b.doc_id".as("idB"),
        (size(array_intersect($"a.s", $"b.s")).cast("double") /
          size($"a.s").cast("double")).as("c"))
      .where($"c" >= 0.8)
      .select($"idA", $"idB").as[(Long, Long)].collect().toSet
    val exact = MinHashDedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.8, shingleN = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(exact == brute, s"containment must equal brute force: $exact vs $brute")
    assert(exact.contains((6L, 1L)), s"embedded excerpt must be caught: $exact")
    assert(!exact.contains((1L, 6L)), "containment is asymmetric")
  }

  test("crossJaccardPairs is exact across corpora and never pairs within one") {
    import graft.functions.TextFunctions
    val a = Seq((10L, base), (11L, unrelated1)).toDF("doc_id", "text")
    val b = corpus // contains near-dups of base (ids 2, 3) and unrelated2
    val sh = (df: org.apache.spark.sql.DataFrame) => df.select($"doc_id",
      TextFunctions.shingles($"text", 3).as("s"))
    val brute = sh(a).as("a").crossJoin(sh(b).as("b"))
      .where(size($"a.s") > 0 && size($"b.s") > 0)
      .select($"a.doc_id".as("idA"), $"b.doc_id".as("idB"),
        (size(array_intersect($"a.s", $"b.s")).cast("double") /
          size(array_union($"a.s", $"b.s")).cast("double")).as("j"))
      .where($"j" >= 0.5)
      .select($"idA", $"idB").as[(Long, Long)].collect().toSet
    val exact = MinHashDedup.crossJaccardPairs(a, b, "doc_id", "text",
      threshold = 0.5, shingleN = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(exact == brute && exact.nonEmpty,
      s"cross prefix filter must lose nothing: exact=$exact brute=$brute")
    // 10 is a verbatim copy of corpus doc 1 -> must pair; the within-B
    // near-dup pair (1, 2) must NOT appear
    assert(exact.contains((10L, 1L)))
    assert(exact.forall { case (x, y) => Set(10L, 11L)(x) && !Set(10L, 11L)(y) },
      s"pairs must go A -> B only: $exact")
  }

  test("crossJaccardPairs agrees with the self-join restricted across the split") {
    // the cross-corpus operator must find exactly the self-join pairs of
    // A ∪ B that straddle the split — no extra, no fewer
    val a = Seq((10L, base), (11L, unrelated1)).toDF("doc_id", "text")
    val b = corpus
    val self = MinHashDedup.jaccardPairs(a.union(b), "doc_id", "text",
      threshold = 0.5, shingleN = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val aIds = Set(10L, 11L)
    val straddling = self.collect {
      case (x, y) if aIds(x) && !aIds(y) => (x, y)
      case (x, y) if aIds(y) && !aIds(x) => (y, x)
    }
    val cross = MinHashDedup.crossJaccardPairs(a, b, "doc_id", "text",
      threshold = 0.5, shingleN = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(cross == straddling, s"cross=$cross straddling=$straddling")
  }

  test("native minhash signature equals the HOF executable spec") {
    import graft.functions.TextFunctions
    val p = (1L << 31) - 1
    val (as, bs) = MinHashDedup.portableCoefficients(16, 7L)
    val hofPerms = array(as.zip(bs).map { case (a, b) =>
      array_min(transform($"hm", x => pmod(lit(a) * x + lit(b), lit(p))))
    }: _*)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        transform(TextFunctions.hashedShingles($"text", 3), h => pmod(h, lit(p))).as("hm"))
      .union(Seq((-1L, Seq.empty[Long])).toDF("doc_id", "hm")) // empty-input contract
    val mismatch = docs.select(
        graft.plans.PolyHashExpressions.minhashSignature($"hm", as, bs, p).as("native"),
        when(size($"hm") === 0, array().cast("array<bigint>")).otherwise(hofPerms).as("hof"))
      .where(not($"native" <=> $"hof"))
    assert(mismatch.count() == 0, "native signature diverged from HOF spec")
  }

  test("portable minhash finds planted pairs, subset of exact Jaccard pairs") {
    val pairs = MinHashDedup.verifiedPairs(corpus, "doc_id", "text", portable)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      s"unrelated docs must not pair: $pairs")
    // LSH is a filter over the exact pair set: candidates it keeps must all
    // verify, so portable ⊆ exact (recall may be < 1, never precision)
    val exact = MinHashDedup.jaccardPairs(corpus, "doc_id", "text",
      threshold = 0.5, shingleN = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(exact), s"portable=$pairs exact=$exact")
  }
}
