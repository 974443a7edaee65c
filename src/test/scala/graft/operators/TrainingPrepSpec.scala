package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

class TrainingPrepSpec extends SparkSuite {
  import spark.implicits._

  test("chunk: stride-overlapping windows cover all tokens, short tail kept") {
    val doc = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TrainingPrep.chunk(doc, "doc_id", "text", window = 4, stride = 3)
      .select($"chunk_start", $"n_tokens").as[(Int, Int)].collect().toSet
    assert(got == Set((1, 4), (4, 4), (7, 4), (10, 1)), s"got $got")
  }

  test("chunkDedupStats: keep-first winners across and within docs") {
    val tok = (a: Int, b: Int) => (a to b).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, tok(1, 8)),              // chunks [w1..w4], [w5..w8]
      (2L, tok(1, 4)),              // duplicate of doc 1's first chunk
      (3L, tok(5, 8) + " " + tok(5, 8)), // dup of doc 1's 2nd chunk, twice
      (4L, tok(20, 27))             // fresh content
    ).toDF("doc_id", "text")
    val got = TrainingPrep.chunkDedupStats(docs, "doc_id", "text",
        window = 4, stride = 4)
      .select($"id", $"n_chunks", $"n_dup_chunks")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, d) => id -> ((n, d)) }.toMap
    assert(got(1L) == ((2L, 0L)), s"doc 1 owns both chunks: $got")
    assert(got(2L) == ((1L, 1L)), s"doc 2 repeats doc 1: $got")
    assert(got(3L) == ((2L, 2L)), s"both of doc 3's chunks repeat doc 1's: $got")
    assert(got(4L) == ((2L, 0L)), s"doc 4 is fresh: $got")
  }

  test("distributed prefix sum equals the single-window global cumsum at any partition count") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as("id"),
        size(split($"text", " ")).cast("long").as("v"))
    val naive = docs
      .withColumn("cum", sum($"v").over(Window.orderBy($"id")))
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    // 1 = degenerate single partition; 3 = offsets genuinely matter;
    // 64 = more partitions than the default parallelism (empty partitions)
    for (parts <- Seq(1, 3, 8, 64)) {
      val got = TrainingPrep.globalPrefixSum(docs, "id", "v", "cum", numParts = parts)
      val dist = got.select($"id", $"cum").as[(Long, Long)].collect().toMap
      assert(dist == naive, s"numParts=$parts diverged from the global window")
    }
  }

  test("prefix-sum partition count derives from the input, floored at 32") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as("id"), lit(1L).as("v"))
    // small input: the floor keeps driver-collect overhead trivial
    assert(TrainingPrep.derivePrefixSumParts(docs.repartition(4)) == 32)
    // big input: parallelism follows the data, never pinned at 32
    assert(TrainingPrep.derivePrefixSumParts(docs.repartition(96)) == 96)
    // explicit count wins
    assert(TrainingPrep.derivePrefixSumParts(docs.repartition(96), numParts = 7) == 7)
    // the derived default still sums correctly end to end
    val wide = docs.repartition(48)
    val got = TrainingPrep.globalPrefixSum(wide, "id", "v", "cum")
    val last = got.agg(max($"cum")).as[Long].head()
    assert(last == docs.count(), "derived-count prefix sum must total the input")
  }

  test("packBins: tape semantics — first doc in bin 0, totals preserved") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bins = TrainingPrep.packBins(docs, "doc_id", "text", budget = 512)
    val total = bins.agg(sum($"n_tokens")).as[Long].head()
    val expected = docs.agg(sum(size(split($"text", " ")))).as[Long].head()
    assert(total == expected, "packing must not lose tokens")
    val firstBin = bins.orderBy($"id").select($"bin").as[Long].head()
    assert(firstBin == 0L, "the tape starts at bin 0")
    // a doc starting in bin k implies every earlier doc starts in bin <= k
    val mono = bins.orderBy($"id").select($"bin").as[Long].collect()
    assert(mono.sameElements(mono.sorted), "bin must be monotone in tape order")
  }

  test("mixtureSample: rates hold within nibble tolerance, deterministic, zero/full rates exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rates = Map("en" -> 8, "de" -> 12, "fr" -> 4, "es" -> 0, "zh" -> 16)
    def run = TrainingPrep.mixtureSample(docs, "doc_id", "lang", rates)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val kept = run
    val totals = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("es"), "rate 0 must drop everything")
    assert(kept("zh") == totals("zh"), "rate 16 must keep everything")
    // hash-gated sampling concentrates: allow a generous binomial margin
    for ((g, n) <- Seq("en" -> 8, "de" -> 12, "fr" -> 4)) {
      val (got, want) = (kept(g).toDouble, totals(g) * n / 16.0)
      assert(math.abs(got - want) < totals(g) * 0.2,
        s"$g kept $got, expected ~$want of ${totals(g)}")
    }
    assert(run == kept, "selection must be deterministic")
  }

  test("chunk/mixtureSample/redact are map-only: no shuffle in the plan") {
    import graft.functions.TextFunctions
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plans = Seq(
      "chunk" -> TrainingPrep.chunk(docs, "doc_id", "text", 64, 48),
      "mixtureSample" -> TrainingPrep.mixtureSample(docs, "doc_id", "lang", Map("en" -> 8)),
      "redact" -> docs.select($"doc_id", TextFunctions.redactPii($"text")))
    for ((name, df) <- plans)
      assert(!Scale.planHasExchange(df),
        s"$name must stay map-only, found a shuffle exchange")
  }

  test("chunk runs identically as a streaming transform (map-only => stream==batch)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(100)
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_stream").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = TrainingPrep.chunk(stream, "doc_id", "text", 64, 48)
      .writeStream.outputMode("append").format("memory").queryName("chunk_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_out")
      val batch = TrainingPrep.chunk(spark.read.parquet(dir), "doc_id", "text", 64, 48)
      assert(batch.count() > 0 && streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("distributedNtile equals the single-task ntile at every bucket count") {
    import org.apache.spark.sql.functions.ntile
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", size(split($"text", " ")).as("len"))
      .withColumn("__ord", struct($"len", $"doc_id"))
    val n = docs.count()
    // k divides n unevenly; k=1 degenerate; k > n (rank IS the tile)
    for (k <- Seq(1, 7, 10, n.toInt + 5)) {
      val naive = docs
        .withColumn("t", ntile(k).over(Window.orderBy($"len", $"doc_id")).cast("long"))
        .select($"doc_id", $"t").as[(Long, Long)].collect().toMap
      val dist = TrainingPrep.distributedNtile(docs, "__ord", k)
      val got = dist.select($"doc_id", $"ntile").as[(Long, Long)].collect().toMap
      assert(got == naive, s"k=$k diverged from SQL-standard ntile")
    }
  }

  test("stratifiedSample: exact quotas, small groups kept whole, deterministic") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val totals = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val quota = 30
    def run = TrainingPrep.stratifiedSample(docs, "doc_id", "lang", quota)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet
    val kept = run
    val byLang = kept.groupBy(_._2).view.mapValues(_.size).toMap
    for ((lang, n) <- totals)
      assert(byLang.getOrElse(lang, 0) == math.min(n, quota.toLong).toInt,
        s"$lang: want min($n, $quota), got ${byLang.get(lang)}")
    assert(run == kept, "selection must be deterministic")
    // the rank limit must push into per-task top-k heaps, not a full sort
    val plan = TrainingPrep.stratifiedSample(docs, "doc_id", "lang", quota)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown in:\n$plan")
  }

  test("shuffleShard: 16 shards, every doc assigned, deterministic") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def run = TrainingPrep.shuffleShard(docs, "doc_id")
      .select($"doc_id", $"shard").as[(Long, Int)].collect().toMap
    val a = run
    assert(a.values.toSet.subsetOf((0 until 16).toSet), "shard out of range")
    assert(a.size == docs.count(), "every doc gets a shard")
    assert(a == run, "assignment must be deterministic")
  }

  test("removeBoilerplate drops EVERY copy of a repeated window, keeps organic text in order") {
    // 4-token grid; "a b c d" is the shared banner, bodies are unique
    val pages = Seq(
      (1L, "a b c d w1 w2 w3 w4 x1 x2"),
      (2L, "a b c d y1 y2 y3 y4"),
      (3L, "a b c d z1 z2 z3 z4 z5 z6 z7 z8"),
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8")
    ).toDF("doc_id", "text")
    val out = TrainingPrep.removeBoilerplate(pages, "doc_id", "text",
        window = 4, minDocFreq = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("w1 w2 w3 w4 x1 x2", 3L, 1L)), out(1L))
    assert(out(2L) == (("y1 y2 y3 y4", 2L, 1L)), out(2L))
    assert(out(3L) == (("z1 z2 z3 z4 z5 z6 z7 z8", 3L, 1L)), out(3L))
    assert(out(4L) == (("n1 n2 n3 n4 n5 n6 n7 n8", 2L, 0L)), out(4L))
  }

  test("removeBoilerplate keeps a fully-boilerplate doc as an empty row") {
    val pages = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (4L, "u1 u2 u3 u4")
    ).toDF("doc_id", "text")
    val out = TrainingPrep.removeBoilerplate(pages, "doc_id", "text",
        window = 4, minDocFreq = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.size == 4, "accounting rows must survive full drops")
    Seq(1L, 2L, 3L).foreach(id => assert(out(id) == (("", 1L, 1L)), out(id)))
    assert(out(4L) == (("u1 u2 u3 u4", 1L, 0L)))
  }

  test("removeBoilerplate below the doc-freq threshold changes nothing") {
    val pages = Seq((1L, "a b c d e1"), (2L, "a b c d e2")).toDF("doc_id", "text")
    val out = TrainingPrep.removeBoilerplate(pages, "doc_id", "text",
        window = 4, minDocFreq = 3)
      .as[(Long, String, Long, Long)].collect()
    assert(out.forall(_._4 == 0L), out.mkString(", "))
  }

  test("groupAwareSplit: no group straddles a split; fractions roughly hold; salt re-draws") {
    val rows = (0L until 500L).flatMap(g =>
      (0 until 4).map(i => (g, i))).toDF("grp", "row_id")
    val out = TrainingPrep.groupAwareSplit(rows, "grp",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, Int, String)].collect()
    // leakage guard: one split per group, always
    val perGroup = out.groupBy(_._1).map(_._2.map(_._3).toSet)
    assert(perGroup.forall(_.size == 1), "a group straddled splits")
    // every row survives, labels are exactly the declared ones
    assert(out.length == 2000)
    val shares = out.groupBy(_._3).map { case (s, r) => s -> r.length / 2000.0 }
    assert(shares.keySet == Set("train", "val", "test"), s"labels: $shares")
    assert(shares("train") > 0.7 && shares("train") < 0.9, s"shares: $shares")
    assert(shares("val") > 0.04 && shares("val") < 0.16, s"shares: $shares")
    // determinism + salt re-draw
    val again = TrainingPrep.groupAwareSplit(rows, "grp",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, Int, String)].collect()
    assert(again.toSet == out.toSet, "split must be deterministic")
    val redraw = TrainingPrep.groupAwareSplit(rows, "grp",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "fold2")
      .as[(Long, Int, String)].collect()
    assert(redraw.toSet != out.toSet, "salt must re-draw the split")
  }

  test("groupAwareSplit: weights normalize and a single bucket takes everything") {
    val rows = (0L until 50L).map(g => (g, g % 7)).toDF("grp", "v")
    val out = TrainingPrep.groupAwareSplit(rows, "grp", Seq("all" -> 3.0))
      .as[(Long, Long, String)].collect()
    assert(out.forall(_._3 == "all"))
    // unnormalized 3:1 behaves exactly like 0.75:0.25
    val a = TrainingPrep.groupAwareSplit(rows, "grp",
      Seq("x" -> 3.0, "y" -> 1.0)).as[(Long, Long, String)].collect().toSet
    val b = TrainingPrep.groupAwareSplit(rows, "grp",
      Seq("x" -> 0.75, "y" -> 0.25)).as[(Long, Long, String)].collect().toSet
    assert(a == b, "weight normalization must be scale-invariant")
  }
}
