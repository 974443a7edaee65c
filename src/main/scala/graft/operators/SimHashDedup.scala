package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** SimHash near-duplicate detection: 64-bit locality-sensitive fingerprints
  * whose Hamming distance tracks document similarity (Charikar's simhash —
  * the classic web-dedup fingerprint).
  *
  * The fingerprint is a single codegen'd expression tree: token hashes via
  * `xxhash64`, per-bit ±1 vote sums via `aggregate`, sign bits packed with
  * shifts — no UDF, no shuffle until the pairing step.
  *
  * Near-dup pairing uses the pigeonhole band trick: distance <= k implies
  * at least one of (k+1) disjoint bit-chunks is identical, so candidates
  * join on chunk equality (4 chunks of 16 bits for k<=3) and are verified
  * with `bit_count(xor)` — same candidate-then-verify shape as
  * [[MinHashDedup]], linear in matches rather than quadratic in corpus.
  */
object SimHashDedup {

  final case class Config(
      maxHamming: Int = 3,
      ngramN: Int = 2,
      maxBucketSize: Int = 1000)

  /** Scalar 64-bit simhash over word n-grams of `text` — single expression
    * (per-row nested fold). Fine for ad-hoc column use; the table-scale
    * path is [[fingerprints]], which distributes the vote accumulation.
    */
  def simhash(text: Column, ngramN: Int = 2): Column = {
    val features = TextFunctions.wordNGrams(text, ngramN)
    val hashes = transform(features, f => xxhash64(f))
    val bitIdx = sequence(lit(0), lit(63))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) =>
        zip_with(acc, bitIdx, (a, j) =>
          a + when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)))
    // disjoint bits: sum == bitwise OR
    aggregate(
      zip_with(votes, bitIdx, (v, j) =>
        when(v > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc + b)
  }

  /** (id, simhash) fingerprint table. Uses the scalar expression: unlike
    * minhash's 64-permutation case there is no subexpression duplication in
    * the fold, it stays row-parallel, and it needs NO shuffle — measured
    * faster than the exploded variant locally (2.4s vs 4.8s warm at sf0.1)
    * and shuffle-free at any scale.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame =
    Parallelism.ensureCompute(df)
      .select(col(idCol).as("id"), simhash(col(textCol), cfg.ngramN).as("simhash"))

  /** The pigeonhole Hamming-pair kernel over ANY 64-bit fingerprint
    * column (simhash, image dHash, audio fingerprint …): chunk the bits
    * into `maxHamming + 1` disjoint bands, join on band equality, verify
    * with `bit_count(xor)`. Exposed so every fingerprint family shares
    * one audited candidate-then-verify implementation instead of
    * re-deriving the band arithmetic.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val sized = bandedChunks(hashes, idCol, hashCol, maxHamming, maxBucketSize)
    val l = sized.select(col("chunk"), col("key"), col("id").as("idA"), col("__fp").as("shA"))
    val r = sized.select(col("chunk"), col("key"), col("id").as("idB"), col("__fp").as("shB"))
    l.join(r, Seq("chunk", "key"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("shA").bitwiseXOR(col("shB"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Shared banding stage: (chunk, key, id, __fp) rows for `maxHamming+1`
    * disjoint bit-bands, oversized (chunk, key) buckets dropped whole by
    * the near-dup family's one cap, [[MinHashDedup.dropOversized]]. The
    * chunks PARTITION all 64 bits (widths differ by at most one) — an
    * uncovered bit would break the pigeonhole guarantee: maxHamming
    * differences could hide one per chunk plus one in the uncovered bits,
    * leaving no identical chunk. `-1L` is the all-ones mask for a 64-bit
    * chunk (maxHamming = 0), where `(1L << 64) - 1` would be 0 (shift mod
    * 64).
    */
  private def bandedChunks(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    val chunks = maxHamming + 1
    val baseW = 64 / chunks
    val rem = 64 % chunks
    val widths = (0 until chunks).map(c => baseW + (if (c < rem) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    val fps = hashes.select(col(idCol).as("id"), col(hashCol).as("__fp"))
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        call_function("shiftright", col("__fp"), lit(starts(c)))
          .bitwiseAND(lit(mask(widths(c)))).as("key"))
    }
    val chunked = fps.select(
      col("id"), col("__fp"), explode(array(chunkCols: _*)).as("ck"))
      .select(col("id"), col("__fp"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    MinHashDedup.dropOversized(chunked, Seq("chunk", "key"), maxBucketSize)
  }

  /** INCREMENTAL Hamming pairs against a persisted fingerprint store —
    * the daily-ingest loop for hash-fingerprinted corpora (image dHash,
    * simhash): candidates are band collisions that TOUCH the new batch
    * (new×store and new×new; store×store pairs were found when those
    * rows arrived), so daily work is O(|batch| × collision rate) and the
    * store contributes only its 8-byte fingerprints — the
    * [[MinHashDedup.incrementalVerifiedPairs]] economics one tier down
    * (the verify needs no second table: the fingerprint IS the payload,
    * so candidates verify inline with `bit_count(xor)`).
    *
    * The bucket ceiling applies over the FULL store∪batch band table (an
    * oversized bucket is oversized regardless of which side filled it —
    * the [[MinHashDedup]] incremental contract). Ids must be disjoint
    * across store and batch. Returns (idA, idB, hamming), idA < idB, at
    * least one endpoint in the batch.
    */
  def incrementalHammingPairs(store: DataFrame, batch: DataFrame,
      idCol: String, hashCol: String,
      maxHamming: Int, maxBucketSize: Int = 1000): DataFrame = {
    val all = store.select(col(idCol), col(hashCol))
      .unionByName(batch.select(col(idCol), col(hashCol)))
    val sized = bandedChunks(all, idCol, hashCol, maxHamming, maxBucketSize)
    val newSide = sized.join(
      batch.select(col(idCol).as("id")), Seq("id"), "left_semi")
    val l = newSide.select(col("chunk"), col("key"), col("id").as("idL"), col("__fp").as("fpL"))
    val r = sized.select(col("chunk"), col("key"), col("id").as("idR"), col("__fp").as("fpR"))
    l.join(r, Seq("chunk", "key"))
      .where(col("idL") =!= col("idR"))
      .select(least(col("idL"), col("idR")).as("idA"),
        greatest(col("idL"), col("idR")).as("idB"),
        bit_count(col("fpL").bitwiseXOR(col("fpR"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
