package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Decontamination must flag exactly the corpus docs sharing wide n-grams
  * with the benchmark set — verbatim copies and embedded excerpts — and
  * leave paraphrases with no shared n-gram window untouched.
  */
class DecontaminateSpec extends SparkSuite {
  import spark.implicits._

  private val benchQ =
    "what is the capital of france and when was the eiffel tower completed exactly"
  private val benchQ2 =
    "solve for x in the quadratic equation two x squared plus three x minus five"

  private def bench = Seq((100L, benchQ), (101L, benchQ2)).toDF("doc_id", "text")

  private def corpus = Seq(
    // verbatim copy of a benchmark item
    (1L, benchQ),
    // benchmark item embedded inside a longer doc
    (2L, s"some page preamble text here $benchQ and a trailing footer line"),
    // paraphrase: same topic, no shared 5-gram
    (3L, "france has paris as its capital and the famous tower was finished in 1889"),
    // unrelated
    (4L, "distributed query engines shuffle data between executors during wide transformations")
  ).toDF("doc_id", "text")

  test("contaminationHits counts shared wide shingles per doc") {
    val hits = Decontaminate.contaminationHits(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(hits.contains(1L) && hits(1L) >= 8, s"verbatim copy must hit hard: $hits")
    assert(hits.contains(2L) && hits(2L) >= 8, s"embedded copy must hit: $hits")
    assert(!hits.contains(3L), s"paraphrase must not hit at n=5: $hits")
    assert(!hits.contains(4L), s"unrelated doc must not hit: $hits")
  }

  test("clean drops flagged docs and keeps the rest intact") {
    val kept = Decontaminate.clean(corpus, bench, "doc_id", "text", n = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"expected {3, 4}, got $kept")
  }

  test("plan: benchmark side broadcasts; no broadcast carries the corpus") {
    // the 100 TB contract — the corpus (big side) probes map-side; only
    // the collapsed benchmark shingle set may sit behind a broadcast.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val hits = Decontaminate.contaminationHits(corpus, bench, "doc_id", "text", n = 5)
      val plan = hits.queryExecution.executedPlan
      val bcasts = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(bcasts.nonEmpty, s"benchmark shingle set must broadcast:\n$plan")
      bcasts.foreach { b =>
        assert(b.output.map(_.name) == Seq("s"),
          s"only the bare shingle-hash set may broadcast, got ${b.output}:\n$b")
      }
      // corpus-side shuffles (outside the broadcast subtree): exactly the
      // partial-agg hit-count exchange, carrying (id, count) — never text
      // or shingle arrays. Bench-side shuffles inside the broadcast are a
      // benchmark-sized concern, not a corpus-sized one.
      val shuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }
      val inBcast = bcasts.flatMap(_.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }).toSet
      val corpusSide = shuffles.filterNot(inBcast)
      assert(corpusSide.size == 1,
        s"corpus must shuffle exactly once (partial hit counts):\n$plan")
      corpusSide.foreach { s =>
        val bad = s.output.filter(a =>
          a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
            a.name == "text")
        assert(bad.isEmpty,
          s"corpus shuffle carries payload ${bad.map(_.name)}:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a corpus already carrying the __contaminated marker is rejected") {
    // the anti-join keys on the synthesized marker; name capture would be
    // silent — same collision discipline as Scd2/Quality
    val clash = corpus.withColumn("__contaminated", lit(true))
    val e = intercept[IllegalArgumentException] {
      Decontaminate.clean(clash, bench, "doc_id", "text", n = 5)
    }
    assert(e.getMessage.contains("__contaminated"), e.getMessage)
  }

  test("bloom-prefiltered hits are identical to the exact path") {
    val exact = Decontaminate.contaminationHits(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    val bloomed = Decontaminate.contaminationHitsBloom(corpus, bench, "doc_id", "text",
      n = 5, estimatedItems = 1024, fpp = 0.01)
      .as[(Long, Long)].collect().toMap
    assert(bloomed == exact, s"bloom path diverged: $bloomed vs $exact")
  }

  test("bloom prefilter passes true hits and holds false positives near fpp") {
    // disjoint corpus: 5000 numbered shingle streams sharing nothing with
    // the benchmark — every pass through the prefilter is a false positive
    val disjoint = (0 until 250).map { i =>
      (i.toLong, (0 until 24).map(j => s"tok_${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val bloom = Decontaminate.benchShingleBloom(bench, "text", n = 5,
      estimatedItems = 1024, fpp = 0.01)
    val total = disjoint.select(explode(graft.functions.TextFunctions
      .hashedShingles($"text", 5))).count()
    val passed = Decontaminate.suspectShingles(disjoint, bloom, "doc_id", "text", 5).count()
    assert(total >= 4000, s"fixture too small: $total shingles")
    // 1% nominal fpp; allow generous slack for the small filter
    assert(passed <= total / 20, s"prefilter leaked $passed of $total disjoint shingles")
    // and the verbatim-copy doc's shingles ALL pass (no false negatives)
    val copyShingles = corpus.where($"doc_id" === 1L)
      .select(explode(graft.functions.TextFunctions.hashedShingles($"text", 5)))
      .count()
    val copyPassed = Decontaminate.suspectShingles(
      corpus.where($"doc_id" === 1L), bloom, "doc_id", "text", 5).count()
    assert(copyPassed == copyShingles, "bloom must never drop a true hit")
  }

  test("verbatim copy hit count equals its own distinct shingle count") {
    // every shingle of a verbatim copy is in the benchmark set
    val own = corpus.where($"doc_id" === 1L)
      .select(size(array_distinct(graft.functions.TextFunctions
        .hashedShingles($"text", 5))))
      .as[Int].head()
    val hits = Decontaminate.contaminationHits(corpus, bench, "doc_id", "text", n = 5)
      .where($"id" === 1L).select($"n_hits").as[Long].head()
    assert(hits == own.toLong, s"verbatim: expected $own hits, got $hits")
  }

  // ------------------------------------------------- semantic (embedding)

  private def vbench = Seq(
    (100L, Array(1.0f, 0.0f, 0.0f)),
    (101L, Array(0.0f, 1.0f, 0.0f))).toDF("bid", "vec")

  private def vcorpus = Seq(
    (1L, Array(0.99f, 0.1f, 0.0f)),   // near bench 100
    (2L, Array(0.0f, 0.97f, 0.2f)),   // near bench 101
    (3L, Array(0.0f, 0.0f, 1.0f)),    // near neither
    (4L, Array(0.7f, 0.7f, 0.0f))     // equidistant from both (tie)
  ).toDF("vid", "vec")

  test("semantic hits: cosine threshold flags the right docs with argmax bench id") {
    val hits = Decontaminate.semanticContaminationHits(
        vcorpus, "vid", "vec", vbench, "bid", "vec", tau = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(hits.keySet == Set(1L, 2L), s"wrong contaminated set: ${hits.keySet}")
    assert(hits(1L)._1 == 100L && hits(2L)._1 == 101L)
    assert(hits(1L)._2 > 0.9 && hits(2L)._2 > 0.9)
  }

  test("semantic hits: equal-sim tie resolves to the smallest bench id") {
    val hits = Decontaminate.semanticContaminationHits(
        vcorpus.where($"vid" === 4L), "vid", "vec",
        vbench, "bid", "vec", tau = 0.5)
      .collect()
    assert(hits.length == 1 && hits.head.getLong(1) == 100L,
      "tie must break to min bench_id")
  }

  test("semantic hits plan: bench broadcasts, corpus never shuffles before the agg") {
    val plan = Decontaminate.semanticContaminationHits(
        vcorpus, "vid", "vec", vbench, "bid", "vec", tau = 0.9)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark side must ride a broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle into the score stage:\n$plan")
  }
}
