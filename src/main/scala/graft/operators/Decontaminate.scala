package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

import graft.functions.TextFunctions

/** Benchmark decontamination: flag (and drop) training documents that
  * share word-n-gram shingles with an evaluation/benchmark set — the
  * standard guard against test-set leakage when assembling LLM training
  * corpora. No analog in the reference (its dedup is exact-row only,
  * `etl.py:50`); this generalizes the same "remove what you must not
  * train on" intent to fuzzy n-gram evidence.
  *
  * Scale design (the corpus is the 100 TB side, the benchmark is not):
  *  - the BENCHMARK side collapses to a distinct shingle-hash set — eval
  *    suites are orders of magnitude smaller than the corpus, so this set
  *    broadcasts (a benchmark would have to reach ~10^9 distinct shingles
  *    before the broadcast breaks, at which point drop the hint and let
  *    the same plan run as a shuffle join);
  *  - the CORPUS side explodes to (doc, shingle) and probes the broadcast
  *    map-side; hits aggregate per doc with partial aggregation, so the
  *    only shuffle carries (doc_id, partial-count) rows — never text,
  *    never shingle arrays;
  *  - shingle hashes are single-pass codegen'd xxhash64
  *    ([[TextFunctions.hashedShingles]]): hit COUNTS are intersection
  *    cardinalities, which any injective-w.h.p. hash preserves, so the
  *    DuckDB oracle recomputes them over raw n-gram strings — the hash
  *    function never has to leave the engine.
  */
object Decontaminate {

  private def shingles(textCol: Column, n: Int): Column =
    TextFunctions.hashedShingles(textCol, n)

  /** Distinct shingle hashes of the benchmark set (the broadcast side). */
  private def benchShingleSet(bench: DataFrame, textCol: String, n: Int): DataFrame =
    Parallelism.ensureCompute(bench)
      .select(explode(shingles(col(textCol), n)).as("s"))
      .distinct()

  /** (id, n_hits) per corpus doc: how many of its DISTINCT shingles occur
    * anywhere in the benchmark set. Docs with zero hits are absent.
    */
  def contaminationHits(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val corpusShingles = Parallelism.ensureCompute(corpus)
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s"))
    corpusShingles
      .join(broadcast(benchShingleSet(bench, textCol, n)), Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Corpus rows whose benchmark shingle-hit count stays below
    * `maxHits` (strictly fewer than `maxHits` shared n-grams). The flagged
    * set is hit-count-sized; the anti-join leaves the corpus partitioning
    * untouched and AQE broadcasts the flagged ids when they fit.
    */
  def clean(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8, maxHits: Long = 1): DataFrame = {
    // The anti-join keys on a synthesized marker column; a corpus that
    // already carries that name would make the join condition ambiguous
    // (or capture the wrong side). Same collision discipline as
    // Scd2/Quality: reject instead of resolving silently.
    require(!corpus.columns.contains("__contaminated"),
      "corpus must not already contain a '__contaminated' column")
    val flagged = contaminationHits(corpus, bench, idCol, textCol, n)
      .where(col("n_hits") >= maxHits)
      .select(col("id").as("__contaminated"))
    corpus.join(flagged, col(idCol) === col("__contaminated"), "left_anti")
  }

  // ----------------------------------------------------- bloom prefilter

  /** Build the benchmark's Bloom filter over its distinct shingle hashes
    * — Catalyst's own codegen'd [[BloomFilterAggregate]] (the engine's
    * runtime-join-filter machinery, driven directly). At ~1.2 bytes per
    * item at 1% FPP, a benchmark whose EXACT hash set is tens of GB (the
    * point where [[contaminationHits]]'s broadcast breaks) collapses to
    * a few hundred MB of bits — still one broadcastable blob.
    */
  def benchShingleBloom(bench: DataFrame, textCol: String, n: Int = 8,
      estimatedItems: Long = 1L << 20, fpp: Double = 0.01): Array[Byte] = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    // standard sizing: m = -n ln p / (ln 2)^2   (capped by Spark's
    // runtime-bloom conf ceiling inside the aggregate itself)
    val numBits = math.ceil(
      -estimatedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(col("s")),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression()
    benchShingleSet(bench, textCol, n)
      .select(ColumnBridge.column(agg).as("bloom"))
      .head().getAs[Array[Byte]](0)
  }

  /** Map-side membership probe against a driver-built bloom blob
    * (codegen'd [[BloomFilterMightContain]]; the blob rides the task
    * binary exactly like a broadcast).
    */
  def bloomMightContain(bloom: Array[Byte], hashCol: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType), ColumnBridge.expression(hashCol)))

  /** [[contaminationHits]] with a Bloom PREFILTER: corpus shingles probe
    * the benchmark's bloom map-side (zero shuffle, zero join), and only
    * the surviving "suspect" sliver — true hits plus the fpp of false
    * positives — pays the exact-set join that removes the FPs. Results
    * are IDENTICAL to [[contaminationHits]] (the bloom never drops a true
    * hit, the exact join never keeps a false one); what changes is the
    * 100 TB shape: the corpus-sized side never shuffles, and the exact
    * shingle set joins against suspect-sized input, so it no longer needs
    * to broadcast at all (no hint here — AQE picks; at benchmark sizes
    * where even the bloom build is huge, the same code degrades to a
    * plain shuffle join of a small side).
    */
  def contaminationHitsBloom(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      estimatedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val bloom = benchShingleBloom(bench, textCol, n, estimatedItems, fpp)
    suspectShingles(corpus, bloom, idCol, textCol, n)
      .join(benchShingleSet(bench, textCol, n), Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The prefiltered (id, shingle-hash) sliver — exposed so specs can pin
    * the pass rate against the fpp bound.
    */
  private[operators] def suspectShingles(corpus: DataFrame, bloom: Array[Byte],
      idCol: String, textCol: String, n: Int): DataFrame =
    Parallelism.ensureCompute(corpus)
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s"))
      .where(bloomMightContain(bloom, col("s")))

  // ----------------------------------------------- semantic (embedding)

  /** SEMANTIC decontamination: flag training docs whose EMBEDDING is
    * within cosine `tau` of any benchmark embedding — the guard n-gram
    * matching cannot give (paraphrased or translated test questions
    * share no shingles with their source; their embeddings still
    * collide). Same economics as [[contaminationHits]]: the corpus is
    * the 100 TB side, the benchmark embeds to a few thousand vectors
    * and BROADCASTS, so the whole operator is one map-side
    * corpus scan + a per-doc partial max — zero corpus shuffle beyond
    * the (id, partial-max) rows.
    *
    * Returns one row per CONTAMINATED doc: (id, bench_id, sim) where
    * `bench_id` is the most-similar benchmark vector (ties broken by
    * ascending bench id) and `sim >= tau`. Sims round to 6 dp before
    * the threshold and the argmax so the decision — not just the score
    * — is engine-portable (the [[Similarity.topKJoin]] discipline).
    */
  def semanticContaminationHits(
      corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, bIdCol: String, bVecCol: String,
      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val c = Parallelism.ensureCompute(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val b = bench.select(col(bIdCol).as("bench_id"), col(bVecCol).as("b_vec"))
    val hits = c.crossJoin(broadcast(b))
      .withColumn("sim",
        round(graft.plans.VectorExpressions.cosine(col("vec"), col("b_vec")), 6))
      .where(col("sim") >= tau)
      .select(col("id"), col("bench_id"), col("sim"))
    // argmax in two portable partial aggs (max sim, then min bench_id at
    // that sim) — no engine-specific arg_max/max_by tie semantics; `hits`
    // is contamination-sized, so the self-join is over a sliver.
    val best = hits.groupBy(col("id")).agg(max(col("sim")).as("sim"))
    hits.join(best, Seq("id", "sim"))
      .groupBy(col("id"), col("sim"))
      .agg(min(col("bench_id")).as("bench_id"))
      .select(col("id"), col("bench_id"), col("sim"))
  }
}
