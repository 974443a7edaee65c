package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Training-data preparation operators: chunking, sequence packing, and
  * deterministic shuffle-sharding — the steps between a cleaned corpus and
  * the tokenizer at pretraining scale. No analog in the reference (whose
  * pipeline stops at warehouse upsert, `etl.py:88-183`); these belong to
  * the LLM-pipeline mandate. All three are engine-portable arithmetic over
  * tokens, so the DuckDB oracle checks them end-to-end.
  */
object TrainingPrep {

  /** Overlapping token-window chunks: one row per (doc, window start),
    * starts at 1, 1+stride, 1+2·stride, … ≤ token count; the tail chunk may
    * be short. Emits the chunk's md5 rather than its text so results stay
    * compact; swap the projection for `array_join(...)` to materialize text.
    *
    * Scale: narrow, shuffle-free — a per-row explode with fan-out
    * ≈ len/stride. At 100 TB this runs as a map-only stage pinned to the
    * scan; the only knob that matters is `maxPartitionBytes` on the input.
    */
  def chunk(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    df.select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col("id"),
        explode(transform(sequence(lit(1), size(col("__t")), lit(stride)), i =>
          struct(
            i.cast("int").as("chunk_start"),
            least(lit(window), size(col("__t")) - i + 1).cast("int").as("n_tokens"),
            md5(array_join(slice(col("__t"), i, lit(window)), " ")).as("chunk_md5")))).as("c"))
      .select(col("id"), col("c.chunk_start"), col("c.n_tokens"), col("c.chunk_md5"))
  }

  /** Sub-document EXACT dedup at chunk granularity: global keep-first over
    * chunk hashes (winner of a hash = smallest (id, chunk_start)), reported
    * as per-doc counts — total chunks vs chunks whose content already
    * appears earlier in the corpus. The CCNet-style defense against
    * boilerplate and quoted passages that survive doc-level dedup because
    * the surrounding document differs.
    *
    * Scale: winner election is a partial-aggregatable `min(struct)` per
    * hash — never a window sort over the chunk table — and the winner
    * join keys on the same `chunk_md5` shuffle, which AQE reuses. Chunk
    * rows carry (id, start, md5): 16-byte-hash-sized, not text-sized.
    */
  def chunkDedupStats(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    val c = chunk(df, idCol, textCol, window, stride)
    val winners = c.groupBy(col("chunk_md5"))
      .agg(min(struct(col("id"), col("chunk_start"))).as("w"))
    c.join(winners, Seq("chunk_md5"))
      .withColumn("is_dup",
        col("w.id") =!= col("id") || col("w.chunk_start") =!= col("chunk_start"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("is_dup"), 1)).as("n_dup_chunks"))
  }

  /** Distributed global prefix sum of `valueCol` in `orderCol` order —
    * `outCol` = inclusive running total. A bare `Window.orderBy` computes
    * this on ONE task (Spark warns and single-threads); this is the
    * scalable recipe: range-repartition on the order key, per-partition
    * window cumsum, then add per-partition offsets. The offsets table is
    * one row per partition — a bounded driver collect (same defense as the
    * IVF centroid head), and the result is a pure function of the data:
    * partition boundaries cancel out of the sum.
    *
    * `orderCol` must be unique — and not only for tie-order
    * determinism: the per-partition window's default frame is RANGE,
    * so PEER rows (equal keys) would each receive the whole tie
    * block's cumulative, silently inflating every downstream rank
    * (measured: a uniform-key Gini read 0.9 instead of 0 before
    * [[graft.operators.Scale.skewReport]] switched to its
    * distinct-value block fold). Callers with tied metrics must either
    * append a tiebreak to the key (q174/q185's `metric·B + id`
    * composites) or fold over the distinct-value table with the
    * midrank block identity (q181/q183).
    *
    * The result is DETACHED ([[Pins.detach]]): materialized once, holding
    * no cache entry, and never recomputed. That is load-bearing, not an
    * optimization: the offsets were computed against THIS execution's
    * range-partition boundaries, and a recompute would re-sample them
    * (new RDD ids seed the range sampler), silently misaligning offset
    * and partition. The input-sized `ranged` pin is dropped before
    * returning.
    *
    * `numParts <= 0` (the default) derives the range-partition count from
    * the input's PLAN ([[derivePrefixSumParts]]: declared repartition or
    * size-estimate, floored at 32, never executing the plan) — so the
    * cumsum's parallelism scales with the data instead of bottlenecking a
    * 100 TB tape on a fixed 32 ranges; the offsets collect stays one row
    * per partition. Pass an explicit positive count to pin it.
    */
  def globalPrefixSum(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String,
      numParts: Int = -1): DataFrame = Pins.scoped { s =>
    val spark = df.sparkSession
    val parts = derivePrefixSumParts(df, numParts)
    val ranged = s.pin(df.repartitionByRange(parts, col(orderCol))
      .withColumn("__pid", spark_partition_id()))
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
    val local = ranged.withColumn("__lc", sum(col(valueCol)).over(w))
    val totals = ranged.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__tot"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (pid, tot) =>
      val off = acc; acc += tot; Row(pid, off)
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType))))
    Pins.detach(local.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol, col("__lc") + col("__off"))
      .drop("__pid", "__lc", "__off"))
  }

  /** Range-partition count [[globalPrefixSum]] will use for `df` when the
    * caller leaves `numParts` unset — derived at PLANNING time only
    * (`df.rdd.getNumPartitions` would finalize an adaptive plan and
    * eagerly run the upstream shuffle stages once just to read a count,
    * doubling upstream work at exactly the scale this default serves):
    * the topmost declared repartition count in the optimized plan if the
    * caller set one, else `ceil(stats.sizeInBytes / maxPartitionBytes)`
    * (the same sizing a leaf file scan gets), else `defaultParallelism`;
    * always floored at 32. Exposed so tests can assert the derivation.
    */
  def derivePrefixSumParts(df: DataFrame, numParts: Int = -1): Int =
    if (numParts > 0) numParts
    else {
      val spark = df.sparkSession
      val plan = df.queryExecution.optimizedPlan
      val declared = plan.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
          r.numPartitions
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
            if r.optNumPartitions.isDefined => r.optNumPartitions.get
      }
      val derived = declared.getOrElse {
        val size = plan.stats.sizeInBytes
        val maxPart = BigInt(
          org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes)
        // unknown stats default to Long.MaxValue-ish sentinels; fall back
        if (size > 0 && size < BigInt(Long.MaxValue) / 4)
          ((size + maxPart - 1) / maxPart).min(BigInt(1000000)).toInt
        else spark.sparkContext.defaultParallelism
      }
      math.max(32, derived)
    }

  /** Concat-and-cut sequence packing: documents in `idCol` order are laid
    * end-to-end on a token tape and the tape is cut every `budget` tokens;
    * a document belongs to the bin where it STARTS (floor(start/budget)).
    * This is exactly how pretraining packs sequences — deterministic, no
    * bin search, one distributed prefix sum. Returns (id, n_tokens, bin), a
    * projection over the detached prefix sum.
    */
  def packBins(
      df: DataFrame, idCol: String, textCol: String, budget: Int,
      numParts: Int = -1): DataFrame = {
    require(budget > 0, "budget must be positive")
    val counted = Parallelism.ensureCompute(df)
      .select(col(idCol).as("id"), TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    // start offset = cum - n_tokens; values ≪ 2^53, double floor is exact
    globalPrefixSum(counted, "id", "n_tokens", "__cum", numParts)
      .withColumn("bin",
        floor((col("__cum") - col("n_tokens")) / lit(budget.toDouble)).cast("bigint"))
      .select(col("id"), col("n_tokens"), col("bin"))
  }

  /** Deterministic shuffle + shard: order key = md5 of the id (a fixed
    * pseudo-random permutation — same property tables get from
    * ORDER BY hash), shard = first hex nibble (16 shards). Returns
    * (id, h, shard); downstream writes `partitionBy("shard")` and sorts
    * each shard by `h` for a reproducible training order.
    *
    * Scale: the md5 is a per-row projection; sharding is a hash-partitioned
    * write with NO extra shuffle beyond the one the write needs. For 2^k
    * shards beyond 16, widen the nibble slice.
    */
  def shuffleShard(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("h", md5(col(idCol).cast("string")))
      .withColumn("shard", conv(substring(col("h"), 1, 1), 16, 10).cast("int"))

  /** Exact global ntile WITHOUT a single-task window: the SQL-standard
    * `ntile(k)` assigns buckets by global row rank, which a bare
    * `Window.orderBy` computes on ONE task; here the rank comes from the
    * range-partitioned [[globalPrefixSum]] and the bucket from the
    * standard ntile formula (first n%k buckets get ceil(n/k) rows, the
    * rest floor(n/k)) — bit-identical to `ntile`, scalable to any input.
    * The row count is the one driver-side scalar.
    *
    * `orderCol` must be globally unique (build a struct of (value, unique
    * key) for tie-broken value buckets). Output adds `ntile`, a
    * projection over [[globalPrefixSum]]'s detached rank.
    */
  def distributedNtile(df: DataFrame, orderCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val n = df.count()
    val q = n / k
    val m = n % k
    val ranked = globalPrefixSum(
      df.withColumn("__one", lit(1L)), orderCol, "__one", "__rank")
    // ceil(a/b) = (a + b - 1) div b — integer `div` keeps the arithmetic
    // exact at any row count (double division would lose bits past 2^53)
    val bucket =
      if (q == 0) col("__rank") // fewer rows than buckets: rank IS the tile
      else when(col("__rank") <= m * (q + 1),
          expr(s"(__rank + ${q}L) div ${q + 1}L"))
        .otherwise(expr(s"${m}L + (__rank - ${m * (q + 1)}L + ${q - 1}L) div ${q}L"))
    ranked.withColumn("ntile", bucket).drop("__one", "__rank")
  }

  /** Stratified sampling with EXACT per-group quotas: each group keeps its
    * `quota` lowest-md5 rows (all of them if the group is smaller) — the
    * companion to [[mixtureSample]] when a balanced eval slice or a
    * fixed-size per-language probe set needs exact counts, not rates.
    * Deterministic and engine-portable: the md5 rank replays anywhere.
    *
    * Scale: rank-based quotas need a per-group top-k; this runs as a
    * window over (group, hash-order) — ONE shuffle on the group key, and
    * Spark's WindowGroupLimit pushes the `rn <= quota` limit into partial
    * per-task top-k heaps before the shuffle, so no task ever sorts a full
    * group. When approximate rates suffice, [[mixtureSample]] is the
    * map-only path.
    */
  def stratifiedSample(
      df: DataFrame, idCol: String, groupCol: String, quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__r"), col(idCol))
    df.withColumn("__r", md5(concat(lit("strat:"), col(idCol).cast("string"))))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quota)
      .drop("__r", "__rn")
  }

  /** Deterministic mixture sampling — the dataset-interleaving step of
    * corpus assembly: each group (source/language/domain) keeps a fixed
    * fraction of its rows, chosen by hash, not RNG, so every engine and
    * every rerun selects the SAME rows. Rates are sixteenths: a row
    * survives when the first nibble of md5("mix:" + id) is
    * lexicographically below the group's threshold character (16/16 = 'g'
    * sorts above every hex digit = keep all). Per-row projection + filter:
    * map-only at any scale, and rebalancing a 100 TB mixture is a
    * one-constant change, no reshuffle.
    */
  def mixtureSample(
      df: DataFrame, idCol: String, groupCol: String,
      sixteenths: Map[String, Int], defaultSixteenths: Int = 0): DataFrame = {
    val alphabet = "0123456789abcdefg"
    def thrChar(n: Int): String = {
      require(n >= 0 && n <= 16, s"rate must be 0..16 sixteenths, got $n")
      alphabet.charAt(n).toString
    }
    val thr = sixteenths.toSeq.sortBy(_._1).foldLeft(lit(thrChar(defaultSixteenths))) {
      case (acc, (g, n)) => when(col(groupCol) === g, lit(thrChar(n))).otherwise(acc)
    }
    df.where(substring(md5(concat(lit("mix:"), col(idCol).cast("string"))), 1, 1) < thr)
  }

  /** CCNet-style BOILERPLATE REMOVAL: grid each document into fixed
    * `window`-token segments, drop every segment whose exact text occurs
    * in at least `minDocFreq` DISTINCT documents (headers, footers,
    * cookie banners — the repeated furniture of a web crawl), and
    * reassemble the survivors in order. Differs from [[chunkDedupStats]]'s
    * keep-first dedup: repetition is evidence of boilerplate, so ALL
    * copies go, including the first.
    *
    * Scale shape: segments shuffle as 8-byte xxhash64 keys (never text)
    * for the doc-frequency count; the boilerplate set is hit-sized and
    * joined anti (AQE broadcasts it when small); reassembly state is one
    * document's segments — the natural unit any text op already holds.
    * Output: (id, clean_text, n_windows, n_dropped) — clean_text is ''
    * for a fully-boilerplate doc (the row survives for accounting).
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 10, minDocFreq: Long = 2): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val words = split(col(textCol), " ")
    val nW = greatest(ceil(size(words) / lit(window.toDouble)).cast("int"), lit(1))
    val segs = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("id"), nW.as("n_windows"),
        posexplode(transform(sequence(lit(1), nW),
          i => array_join(slice(words, (i - lit(1)) * window + lit(1), lit(window)), " "))))
      .select(col("id"), col("n_windows"), col("pos"), xxhash64(col("col")).as("h"),
        col("col").as("seg"))
    val boilerplate = segs.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("doc_freq"))
      .where(col("doc_freq") >= minDocFreq)
      .select(col("h"))
    val rebuilt = segs.join(boilerplate, Seq("h"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          s => s.getField("seg")), " ").as("clean_text"))
    docs.select(col(idCol).as("id"), nW.as("n_windows"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_windows").cast("long").as("n_windows"),
        (col("n_windows") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_dropped"))
  }

  /** Gopher-style per-document REPETITION signals (adapted from the
    * repetition filters of Rae et al. 2021 §A1.1): the fraction of
    * tokens that are the single most frequent word, the fraction of
    * tokens belonging to any word seen more than once, and the fraction
    * of trigram occurrences that are duplicates. Repetition is the
    * failure mode the length/punct/stopword battery
    * ([[graft.functions.TextFunctions.qualityScore]]) cannot see: a
    * crawler trap repeating one paragraph scores "fluent" on every
    * per-token signal and lights up here.
    *
    * Scale: explode → `groupBy(doc, gram)` → per-doc partial aggs. Both
    * shuffles key on (doc, gram) — a hot document spreads across tasks
    * during the gram count and collapses to ONE row per doc afterwards;
    * nothing ever materializes a whole document's grams in one task
    * (the HOF alternative — `transform(distinct, w → count)` — is
    * O(len²) per doc and dies exactly on the repetitive outliers this
    * gate exists to catch). Fractions are rounded to 6 dp for
    * engine-portable comparison.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = Parallelism.ensureCompute(df)
    val wordStats = base
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(
        sum(col("n")).as("n_words"),
        max(col("n")).as("top_word_n"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_word_tokens"))
    val triStats = base
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.wordNGrams(col(textCol), 3)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(
        sum(col("n")).as("n_tri"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_tri"))
    wordStats.join(triStats, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"),
        round(col("top_word_n") / col("n_words"), 6).as("top_word_frac"),
        round(col("dup_word_tokens") / col("n_words"), 6).as("dup_word_frac"),
        round(coalesce(col("dup_tri") / col("n_tri"), lit(0.0)), 6).as("dup_trigram_frac"))
  }

  /** GROUP-AWARE train/val/test split — every row of a group lands in
    * the same split (the GroupShuffleSplit contract): eval leakage
    * guard for entity-keyed data, where a random row split would let a
    * user/order/document straddle train and test and the model grade
    * itself on memorized neighbors.
    *
    * The split key is a pure function of the GROUP VALUE
    * ([[TextFunctions.portableUniform]] of `salt || group`), so the
    * operator is MAP-ONLY:
    * no groups table, no join, no shuffle — co-assignment holds by
    * construction at any scale, across batches, and across engines
    * (late-arriving rows of a known group land in the same split
    * forever). `fractions` label→weight pairs are normalized;
    * assignment thresholds are the cumulative shares. Salt re-draws
    * the entire split deterministically.
    */
  def groupAwareSplit(df: DataFrame, groupCol: String,
      fractions: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0),
      s"fractions must be positive, got $fractions")
    val total = fractions.map(_._2).sum
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
    val u = TextFunctions.portableUniform(
      concat(lit(salt), col(groupCol).cast("string")))
    // nested CASE over cumulative thresholds; the last bucket is the
    // ELSE so float edges can never drop a row
    val split = fractions.init.zip(cum.init).foldRight(
      lit(fractions.last._1): Column) { case (((label, _), hi), acc) =>
      when(u < lit(hi), lit(label)).otherwise(acc)
    }
    Parallelism.ensureCompute(df).withColumn("split", split)
  }
}
