package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** MinHash + LSH near-duplicate detection over a text column — the
  * shingle → minhash → band → bucket-join pipeline used for web-scale
  * corpus dedup (north-star operator; no analog in the reference, which
  * only does exact dedup at `etl.py:50`).
  *
  * One pipeline, two hash spaces ([[Config.hashSpace]]): [[XxHash64]]
  * (the default — one codegen'd call per shingle and per band) and
  * [[Portable]] (48-bit polynomial folds another engine replays bit for
  * bit, which is how the DuckDB oracle gates the LSH stages themselves).
  * The space picks only the shingle hash and the band-bucket hash;
  * permutations, banding, the bucket cap and verify are shared.
  *
  * Scale design:
  *  - signatures are ONE map-only projection over the shingle table: the
  *    native `minhash_signature` expression updates every permutation
  *    minimum in a single pass per doc (no UDF, no explode of the
  *    shingle set, no k passes, no shuffle);
  *  - candidate generation explodes only `bands` rows per doc (not
  *    shingles), then self-joins on the 8-byte bucket key;
  *  - oversized buckets (degenerate/boilerplate content) are capped by
  *    `maxBucketSize` to bound the quadratic pair blowup — the standard
  *    guard at 100 TB where a single viral boilerplate would otherwise
  *    produce 10^12 pairs;
  *  - candidate pairs are verified against true shingle-set Jaccard before
  *    any doc is dropped (LSH is a filter, not an oracle);
  *  - NOTHING carrying a shingle array is ever broadcast: only the bare
  *    (idA, idB) candidate-pair keys travel to every task; the shingle
  *    table stays on the probe side of both verify joins and the final
  *    pair-up is a pinned shuffle join on the pair key;
  *  - duplicate groups are closed transitively, so chains A~B~C collapse
  *    to one survivor: a driver union-find when the verified-pair set
  *    fits, else distributed min-label propagation (each round a
  *    partial-aggregatable groupBy-min) that fails loudly rather than
  *    return labels that have not converged.
  *
  * One candidate→verify path: every pair producer generates candidate
  * keys its own way (LSH buckets, or the AllPairs prefix filter of
  * [[prefixes]]) and ends in the same exact tail ([[verify]], Jaccard or
  * containment); one bucket cap ([[dropOversized]]) serves this operator
  * and [[SimHashDedup]].
  *
  * Cache lifecycle: one rule, [[Pins]]. Each stage read by more than one
  * consumer is pinned in the producer's scope and counted ([[pin]]); the
  * (tiny, result-sized) pair set leaves the scope detached, and the scope
  * drops every stage on exit. So a call leaves no cache entry behind and
  * the caller owns none. [[duplicateGroups]] adopts a detached or cached
  * input instead of caching it again.
  */
object MinHashDedup {

  /** The hash family behind shingle hashes and band-bucket keys. */
  sealed trait HashSpace {
    /** Distinct 64-bit shingle hashes of a text column. */
    private[operators] def shingles(text: Column, n: Int): Column
    /** Bucket key of one band's signature slice. */
    private[operators] def bucket(band: Column, slice: Column): Column
  }

  /** xxhash64 of each word shingle and of (band, slice). */
  case object XxHash64 extends HashSpace {
    private[operators] def shingles(text: Column, n: Int): Column =
      TextFunctions.hashedShingles(text, n)
    private[operators] def bucket(band: Column, slice: Column): Column =
      xxhash64(band, slice)
  }

  /** Engine-portable 48-bit folds: shingle hashes fold per-token char
    * folds ([[TextFunctions.portableShingleHashes]]), buckets fold the
    * band's slice with init = band index. Every stage is recomputable in
    * plain SQL; slower than [[XxHash64]] (per-char loops, not one call).
    */
  case object Portable extends HashSpace {
    private[operators] def shingles(text: Column, n: Int): Column =
      TextFunctions.portableShingleHashes(TextFunctions.portableTokenHashes(text), n)
    private[operators] def bucket(band: Column, slice: Column): Column =
      aggregate(slice, band.cast("bigint"),
        (acc, v) => pmod(acc * lit(31L) + v, lit(1L << 48)))
  }

  /** @param jaccardThreshold  true-Jaccard threshold for a verified dup pair
    * @param numHashes         minhash permutations (bands * rowsPerBand)
    * @param bands             LSH bands; P(candidate) = 1-(1-s^r)^b
    * @param shingleN          word-shingle width
    * @param maxBucketSize     drop buckets larger than this (boilerplate guard)
    * @param seed              permutation-coefficient seed
    * @param hashSpace         shingle and band-bucket hash family
    */
  final case class Config(
      jaccardThreshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      maxBucketSize: Int = 1000,
      seed: Long = 42L,
      hashSpace: HashSpace = XxHash64) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  /** 31-bit Mersenne prime hash space: with a, b, h < 2^31 the products in
    * `a*h + b` stay below 2^63, so the permutation arithmetic cannot trip
    * ANSI-mode overflow (Spark 4 default). 2^31 minima are ample for
    * corpus-scale shingle sets.
    */
  private val MersennePrime = (1L << 31) - 1

  /** (id, shingles) with shingles pre-hashed to 64-bit longs in the
    * config's hash space — computed once per pipeline; the parallelism
    * guard spreads the shingle construction even off a single-row-group
    * scan. Everything downstream (signature permutations, Jaccard
    * verification) consumes the hashes: set cardinalities are preserved
    * w.h.p., and the verify joins carry compact long arrays instead of
    * n-word strings.
    */
  private[graft] def shingleTable(df: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame =
    Parallelism.ensureCompute(df).select(col(idCol).as("id"),
      cfg.hashSpace.shingles(col(textCol), cfg.shingleN).as("shingles"))

  /** The one signature projection: `numHashes` permutation minima of the
    * Mersenne-reduced `shingles` column, in one native pass per doc (an
    * empty shingle set gives an empty sig). It is row-local, so it runs
    * map-side wherever the shingles are, and the shingle construction
    * runs once either way: over a cached shingle table the cache scan is
    * the barrier; over a lazy one CollapseProject fuses the two when
    * `sig` is the only reference, and keeps the shingle Project below it
    * when `shingles` is also output (Spark does not inline a non-cheap
    * expression referenced twice).
    */
  private def sig(cfg: Config): Column = {
    val (as, bs) = portableCoefficients(cfg.numHashes, cfg.seed)
    graft.plans.PolyHashExpressions.minhashSignature(
      transform(col("shingles"), h => pmod(h, lit(MersennePrime))),
      as, bs, MersennePrime)
  }

  /** id, shingles, sig (array<long> of numHashes minima) — the signature
    * store schema. Docs with no shingle (shorter than shingleN tokens, or
    * NULL text) get an empty sig and are never candidates.
    */
  def signatures(df: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame =
    shingleTable(df, idCol, textCol, cfg).select(col("id"), col("shingles"),
      coalesce(sig(cfg), array().cast("array<bigint>")).as("sig"))

  /** (band, bucket, id) rows — `bands` per doc. The bucket key hashes the
    * band's signature slice in the config's hash space.
    */
  def bandBuckets(sigs: DataFrame, cfg: Config): DataFrame = {
    val r = cfg.rowsPerBand
    sigs.where(size(col("sig")) > 0)
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(cfg.bands - 1)), b =>
          struct(b.as("band"),
            cfg.hashSpace.bucket(b, slice(col("sig"), b * r + 1, lit(r)))
              .as("bucket")))).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The near-dup family's bucket cap (the boilerplate guard): `rows`
    * without every row whose `keys` bucket holds more than
    * `maxBucketSize` rows. Oversized buckets are, by the guard's own
    * premise, RARE — so their keys come from a counts-only,
    * partial-aggregatable count and are anti-joined away, instead of
    * window-counting every row (which shuffles AND sorts the full rows
    * just to read a size). The anti-join and the caller's pair self-join
    * key on the same columns, so the one shuffle is reused; AQE
    * broadcasts the (near-empty) oversized key set when it fits.
    */
  private[operators] def dropOversized(rows: DataFrame, keys: Seq[String],
      maxBucketSize: Int): DataFrame = {
    val ks = keys.map(col)
    rows.join(rows.groupBy(ks: _*).agg(count(lit(1)).as("bs"))
        .where(col("bs") > maxBucketSize).select(ks: _*),
      keys, "left_anti")
  }

  /** Distinct candidate pairs (idA < idB) sharing any band bucket, with
    * oversized buckets dropped.
    */
  def candidatePairs(sigs: DataFrame, cfg: Config): DataFrame = {
    val sized = dropOversized(bandBuckets(sigs, cfg), Seq("band", "bucket"),
      cfg.maxBucketSize)
    val l = sized.select(col("band"), col("bucket"), col("id").as("idA"))
    val r = sized.select(col("band"), col("bucket"), col("id").as("idB"))
    l.join(r, Seq("band", "bucket"))
      .where(col("idA") < col("idB"))
      .select("idA", "idB")
      .distinct()
  }

  /** PAIR-MASS TELEMETRY for the LSH bucket join — the
    * [[EntityResolution.pairMassReport]] discipline on this operator's
    * own candidate generator: per band, bucket counts and the planned /
    * cap-dropped candidate-pair mass `Σ bs·(bs−1)/2` from the SAME
    * counts-only agg the cap runs. Blocked joins cost pair mass, not
    * rows; this prices an LSH run (and exposes a boilerplate-heavy
    * corpus) BEFORE signatures ever verify. One row per band:
    * `(band, buckets, buckets_dropped, pairs_planned, pairs_dropped)`,
    * mass in DECIMAL(38,0).
    */
  def bucketMassReport(sigs: DataFrame, cfg: Config): DataFrame = {
    val cap = cfg.maxBucketSize
    val mass = (col("bs").cast("decimal(38,0)") * (col("bs") - 1L) /
      lit(2)).cast("decimal(38,0)")
    bandBuckets(sigs, cfg)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("bs"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("buckets"),
        sum(when(col("bs") > cap, 1L).otherwise(0L))
          .as("buckets_dropped"),
        coalesce(sum(when(col("bs") <= cap, mass)),
          lit(0).cast("decimal(38,0)")).cast("decimal(38,0)").as("pairs_planned"),
        coalesce(sum(when(col("bs") > cap, mass)),
          lit(0).cast("decimal(38,0)")).cast("decimal(38,0)").as("pairs_dropped"))
      .select(col("band").cast("long").as("band"), col("buckets"),
        col("buckets_dropped"), col("pairs_planned"), col("pairs_dropped"))
  }

  /** Broadcast ceiling for the verify stage's candidate key set: two
    * BIGINTs per row, so 2^21 pairs ≈ 32 MB on the driver — comfortably
    * broadcastable; above it the probes pin shuffle-hash instead. The
    * sf1 scale run is the evidence this bound must exist: a dup-heavy
    * corpus (10 near-identical variants per doc) made `cands`
    * match-count-sized in the worst way and a FORCED broadcast OOM'd
    * the driver.
    */
  private[graft] val VerifyBroadcastMaxPairs: Long = 1L << 21

  /** Pin one pipeline stage in `s` and materialize it; returns its row
    * count. A stage read from more than one place (both sides of a
    * self-join, both verify probes) must be materialized BEFORE its
    * consumers run: an unmaterialized cache is recomputed by each
    * concurrent consumer rather than computed once (measured 101s ->
    * ~10s at sf0.1).
    */
  private def pin(s: Pins.Scope, df: DataFrame): Long = s.pin(df).count()

  /** A verified pair's score over its two shingle sets `(shA, shB)`, and
    * the output column it lands in.
    */
  private final case class Measure(column: String, score: (Column, Column) => Column)

  /** Symmetric similarity |A∩B| / |A∪B|. */
  private val Jaccard = Measure("jaccard", (a, b) =>
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double"))

  /** Asymmetric |A∩B| / |A|, A = idA's shingle set. */
  private val Containment = Measure("containment", (a, b) =>
    size(array_intersect(a, b)).cast("double") / size(a).cast("double"))

  /** The one verify tail of every pair producer: exact `measure` of each
    * candidate pair — idA's shingles from `baseA`, idB's from `baseB` —
    * keeping pairs scoring >= threshold as (idA, idB, measure.column).
    *
    * Broadcast discipline: `cands` is the bare (idA, idB) key set — far
    * smaller than anything carrying shingles, but MATCH-COUNT-SIZED and
    * therefore data-dependent (a dup-heavy corpus can grow it
    * quadratically in the duplication factor). It broadcasts into both
    * probe joins only under [[VerifyBroadcastMaxPairs]] (callers pass
    * the count they already materialized); beyond the bound the probes
    * run as sort-merge joins on the id key — the shingle side shuffles
    * once per probe, linear and never driver-bound. No array column ever
    * sits on a broadcast side in either regime (left to AQE, the array
    * side's bad size estimates caused multi-hundred-MB broadcasts and
    * 4-10x run variance).
    */
  private def verify(baseA: DataFrame, baseB: DataFrame, cands: DataFrame,
      candCount: Long, threshold: Double, measure: Measure): DataFrame = {
    // Two regimes. Small candidate set: broadcast the bare keys, pin the
    // final pair-up shuffle-hash (build side = cands-sized, fits). Large
    // candidate set (dup-heavy corpus): every join goes SORT-MERGE — the
    // only spillable strategy; a pinned shuffle-hash build of millions of
    // shingle-carrying rows OOMs a task exactly like the broadcast OOMs
    // the driver (both observed on the sf1 dup-heavy corpus).
    val small = candCount <= VerifyBroadcastMaxPairs
    val probe: DataFrame => DataFrame =
      if (small) c => broadcast(c) else c => c.hint("merge")
    val aSide = baseA.select(col("id").as("idA"), col("shingles").as("shA"))
      .join(probe(cands), Seq("idA"))
    val bSide = baseB.select(col("id").as("idB"), col("shingles").as("shB"))
      .join(probe(cands), Seq("idB"))
    aSide.join(bSide.hint(if (small) "shuffle_hash" else "merge"),
        Seq("idA", "idB"))
      .withColumn(measure.column, measure.score(col("shA"), col("shB")))
      .where(col(measure.column) >= threshold)
      .select("idA", "idB", measure.column)
  }

  /** Lazy plan for [[verifiedPairs]] — exposed for plan-inspection tests,
    * which pick the verify regime through `candCount` (no candidate count
    * exists in a lazy plan).
    */
  private[graft] def verifiedPairsPlan(
      df: DataFrame, idCol: String, textCol: String, cfg: Config,
      candCount: Long = 0L): DataFrame = {
    val base = shingleTable(df, idCol, textCol, cfg)
    verify(base, base, candidatePairs(base.select(col("id"), sig(cfg).as("sig")), cfg),
      candCount, cfg.jaccardThreshold, Jaccard)
  }

  /** Candidate pairs verified by true shingle Jaccard >= threshold.
    *
    * Eagerly materialized: the result (actual near-dup suspects — orders of
    * magnitude smaller than the corpus) is detached ([[Pins.detach]]) so the
    * input-sized stage caches are dropped before returning; nothing
    * corpus-sized stays pinned, and the caller owns no cache entry.
    */
  def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = Pins.scoped { s =>
    // Every stage is pinned: the bucket self-join reads the sig pipeline
    // twice, the two verify broadcasts read the candidate subtree twice,
    // both probe sides read the shingle table.
    val base = shingleTable(df, idCol, textCol, cfg)
    pin(s, base)
    val sigs = base.select(col("id"), sig(cfg).as("sig"))
    pin(s, sigs)
    val cands = candidatePairs(sigs, cfg)
    Pins.detach(verify(base, base, cands, pin(s, cands), cfg.jaccardThreshold, Jaccard))
  }

  /** The signature store's band-bucket index `(id, band, bucket)` —
    * MATERIALIZE this at store-ingest time (one row per (doc, band)) so
    * each arriving batch pays only ITS OWN band fold plus the bucket
    * equi-join; re-deriving the store's bands per batch is O(store) work
    * that defeats the incremental contract at 100 TB. Feed back via
    * `storeIndex` on [[incrementalVerifiedPairs]]. The banding and hash
    * space are stamped into the `band` column's metadata (schema-level,
    * so it survives checkpoint and parquet round-trips) and checked there.
    */
  def bandIndex(storeSigs: DataFrame, cfg: Config): DataFrame = {
    val bandMd = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("numHashes", cfg.numHashes.toLong)
      .putLong("bands", cfg.bands.toLong)
      .putString("hashSpace", cfg.hashSpace.toString)
      .build()
    bandBuckets(storeSigs, cfg).withColumn("band", col("band").as("band", bandMd))
  }

  /** A stale or mismatched materialized index (other banding or other
    * hash space) would silently drop candidate buckets — false-negative
    * dedup with no error — so reject it from its schema, at zero scan cost.
    */
  private def requireIndexMatches(storeIndex: DataFrame, cfg: Config): Unit = {
    val md = storeIndex.schema("band").metadata
    require(Seq("numHashes", "bands", "hashSpace").forall(md.contains),
      "storeIndex must be built by bandIndex (banding metadata missing " +
        "from the `band` column) — an index with unknown banding cannot " +
        "be verified against this call's config")
    val built = (md.getLong("numHashes"), md.getLong("bands"), md.getString("hashSpace"))
    val wanted = (cfg.numHashes.toLong, cfg.bands.toLong, cfg.hashSpace.toString)
    require(built == wanted,
      s"storeIndex (numHashes, bands, hashSpace) = $built does not match " +
        s"this call's $wanted — candidates would be dropped")
  }

  /** INCREMENTAL near-dup against a persisted signature store — the loop
    * a 100 TB corpus actually runs daily: the store holds (id, shingles,
    * sig) for everything already ingested (the [[signatures]] output,
    * persisted through any table sink — ManifestTable append commits are
    * the natural fit); each arriving batch computes ITS OWN signatures,
    * generates only candidates that TOUCH the batch (new×store and
    * new×new band-bucket collisions — store×store pairs were found when
    * those docs arrived), and verifies them with the same broadcast-free
    * exact-Jaccard tail as [[verifiedPairs]]. Work per day is
    * O(batch × collision rate), never O(corpus²) and never a corpus
    * rescan; the bucket join keys on (band, bucket) exactly like the
    * batch path, so the store side shuffles its BUCKET rows only (8-byte
    * hashes), not shingles. A deployed store also keeps its band index
    * materialized ([[bandIndex]], passed as `storeIndex`), so the store's
    * bands are not re-folded per batch either.
    *
    * Returns (idA, idB, jaccard) pairs with at least one batch endpoint,
    * oriented idA < idB. The caller then appends [[signatures]] of the
    * batch to the store (deterministic — same config, same rows) to close
    * the loop. Batch and store ids must be disjoint (same contract as any
    * append), and the store must be built with the same config.
    */
  def incrementalVerifiedPairs(
      store: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, cfg: Config,
      storeIndex: Option[DataFrame] = None): DataFrame = Pins.scoped { s =>
    storeIndex.foreach(requireIndexMatches(_, cfg))
    val newSigs = signatures(batch, idCol, textCol, cfg)
    pin(s, newSigs)
    // the boilerplate guard runs over the FULL bucket table (an oversized
    // bucket is oversized regardless of which side filled it); pairs are
    // formed only where the left endpoint is NEW
    val sized = dropOversized(storeIndex.getOrElse(bandBuckets(store, cfg))
      .unionByName(bandBuckets(newSigs, cfg)), Seq("band", "bucket"), cfg.maxBucketSize)
    val newSide = sized.join(newSigs.select(col("id")), Seq("id"), "left_semi")
    val cands = newSide.select(col("band"), col("bucket"), col("id").as("l"))
      .join(sized.select(col("band"), col("bucket"), col("id").as("r")),
        Seq("band", "bucket"))
      .where(col("l") =!= col("r"))
      .select(least(col("l"), col("r")).as("idA"),
        greatest(col("l"), col("r")).as("idB"))
      .distinct()
    val base = store.select(col("id"), col("shingles"))
      .unionByName(newSigs.select(col("id"), col("shingles")))
    // same discipline as verifiedPairs: the verify reads cands from BOTH
    // probes, so it stays cached until the pair-sized result is detached
    Pins.detach(verify(base, base, cands, pin(s, cands), cfg.jaccardThreshold, Jaccard))
  }

  /** EXACT n-gram-Jaccard near-dup pairs via prefix-filtered inverted-index
    * candidate generation (AllPairs/PPJoin prefix filter, Bayardo et al.,
    * WWW'07 — public algorithm).
    *
    * Unlike the minhash LSH path (probabilistic recall), this finds EVERY
    * pair with true Jaccard >= threshold: J(A,B) >= t implies
    * |A∩B| >= ceil(t·|A|), so under any global shingle order the first
    * |A| - ceil(t·|A|) + 1 shingles of A (its "prefix") must contain an
    * intersection element — candidates are pairs sharing a prefix shingle.
    * Ordering the global order by ascending document frequency makes
    * prefixes land on the RAREST shingles, so posting lists stay short and
    * the candidate set near-linear — the published 100 TB-scale recipe for
    * exact similarity self-join.
    *
    * Candidate pruning (all exactness-preserving, from the same paper):
    *  - length filter: J(A,B) >= t implies |A| >= t*|B| (wlog |A| <= |B|),
    *    so wildly different-sized docs never pair;
    *  - asymmetric prefixes: order each pair as (smaller, larger) by
    *    shingle-set size. The overlap bound O = ceil(t/(1+t)*(|A|+|B|))
    *    gives O >= ceil(2t/(1+t)*|A|) for the smaller side and
    *    O >= ceil(t*|B|) for the larger, and the SMALLEST common shingle
    *    under the global (df, hash) order must land inside both
    *    |x| - O_x + 1 prefixes — so the smaller side indexes only its
    *    short 2t/(1+t) prefix while the larger probes with its t prefix.
    *    At t=0.5 that is a ~len/3-vs-len/2 join instead of len/2 squared.
    *
    * Cost shape: one df-count aggregation over exploded shingles, one
    * window per doc to rank, one index-vs-probe join on prefix shingles,
    * then the same broadcast-free verify as the LSH path.
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = Pins.scoped { s =>
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val base = shingleTable(df, idCol, textCol, Config(shingleN = shingleN))
    pin(s, base) // materialize before fan-out (see verifiedPairs)
    val cands = prefixCandidates(base, threshold)
    // cands is detached by prefixCandidates: this count is O(partitions)
    Pins.detach(verify(base, base, cands, cands.count(), threshold, Jaccard))
  }

  /** The prefix stage of every exact producer (AllPairs/PPJoin): each
    * base's exploded `(id, len, s)` shingle table, paired with its prefix
    * for `threshold` — per doc, the first `len - ceil(t·len) + 1` shingles
    * under the global ascending-(df, s) order, as `(s, id, len, df, rk)`
    * rows. Document frequencies are counted over ALL `bases`: one shared
    * order, so prefixes land on the rarest shingles of the union.
    */
  private def prefixes(threshold: Double, bases: DataFrame*): Seq[(DataFrame, DataFrame)] = {
    val exploded = bases.map(_.select(col("id"), size(col("shingles")).as("len"),
      explode(col("shingles")).as("s")))
    val freq = exploded.reduce(_ union _).groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("s").asc)
    exploded.map(ex => ex -> ex.join(freq, Seq("s"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= prefixLength(threshold)))
  }

  /** A doc's prefix length for overlap fraction `t`: `len - ceil(t·len) + 1`. */
  private def prefixLength(t: Double): Column =
    col("len") - ceil(lit(t) * col("len")).cast("int") + 1

  /** [[jaccardPairs]]'s candidate stage, over an already-pinned shingle
    * table: the AllPairs/PPJoin prefix-filtered inverted-index self-join.
    * The candidate set (result-sized) is returned detached — both verify
    * broadcasts read it, and it never recomputes. Exposed `private[graft]`
    * so the skew suite can assert candidate-count ceilings on adversarial
    * corpora — the near-linearity claim is the whole 100 TB argument for
    * this path.
    */
  private[graft] def prefixCandidates(base: DataFrame,
      threshold: Double): DataFrame = Pins.scoped { s =>
    // probe prefix (the longer of the two cutoffs) is computed once and
    // pinned — it is prefix-sized, far smaller than the shingle table —
    // and the index prefix is a filter over it (alpha >= t, so shorter).
    val alpha = 2 * threshold / (1 + threshold)
    val Seq((_, ranked)) = prefixes(threshold, base)
    pin(s, ranked) // both prefix sides read this — materialize once
    val index = ranked.where(col("rk") <= prefixLength(alpha))
      .select(col("s"), col("id").as("idI"), col("len").as("lenI"))
    val probe = ranked.select(col("s"), col("id").as("idP"), col("len").as("lenP"))
    val cands = index.join(probe, Seq("s"))
      .where((col("lenI") < col("lenP") ||
          (col("lenI") === col("lenP") && col("idI") < col("idP"))) &&
        col("lenI").cast("double") >= lit(threshold) * col("lenP"))
      .select(least(col("idI"), col("idP")).as("idA"),
        greatest(col("idI"), col("idP")).as("idB"))
      .distinct()
    Pins.detach(cands)
  }

  /** EXACT cross-corpus n-gram-Jaccard pairs: every (a in A, b in B) with
    * J(a, b) >= threshold — never pairs within either corpus. The
    * incremental-ingest dedup shape: B = the existing corpus, A = the new
    * crawl batch; only A-vs-B duplication decides what enters.
    *
    * Exactness (prefix filter, cross-set form): J(a,b) >= t implies the
    * SMALLEST common shingle under the global ascending-(df, hash) order
    * sits within the first |x| - ceil(t·|x|) + 1 shingles of BOTH sides
    * (it is the first of >= ceil(t·|x|) intersection elements in either
    * sorted set), so joining the two prefix tables on the shingle loses
    * nothing. Document frequencies are taken over A ∪ B — one shared
    * order, prefixes on the rarest shingles. The t·|len| length filter
    * applies in both directions. Verify ships bare id pairs only.
    */
  def crossJaccardPairs(
      dfA: DataFrame, dfB: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = Pins.scoped { s =>
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val cfg = Config(shingleN = shingleN)
    val baseA = shingleTable(dfA, idCol, textCol, cfg)
    pin(s, baseA)
    val baseB = shingleTable(dfB, idCol, textCol, cfg)
    pin(s, baseB)
    // shared global order: document frequency over BOTH corpora
    val Seq((_, prefixA), (_, prefixB)) = prefixes(threshold, baseA, baseB)
    val cands = prefixA.select(col("s"), col("id").as("idA"), col("len").as("lenA"))
      .join(prefixB.select(col("s"), col("id").as("idB"), col("len").as("lenB")), Seq("s"))
      .where(col("lenA").cast("double") >= lit(threshold) * col("lenB") &&
        col("lenB").cast("double") >= lit(threshold) * col("lenA"))
      .select("idA", "idB")
      .distinct()
    Pins.detach(verify(baseA, baseB, cands, pin(s, cands), threshold, Jaccard))
  }

  /** EXACT n-gram CONTAINMENT pairs: (idA, idB, containment) where
    * containment = |A∩B| / |A| >= threshold (A = idA's shingle set). Where
    * Jaccard is symmetric similarity, containment catches SUB-DOCUMENT
    * duplication — doc A quoted, excerpted, or wholly embedded inside a
    * larger doc B — the common long-tail duplication mode in web corpora
    * that Jaccard misses (a small doc inside a big one has low Jaccard but
    * containment 1.0).
    *
    * Exactness: |A∩B| >= ceil(t·|A|) forces at least one element of the
    * first |A| - ceil(t·|A|) + 1 shingles of A (under the global
    * ascending-(df, hash) order) to be in B — so A probes with only its
    * rare-shingle prefix while B is indexed in full (the probe-side-only
    * specialization of the AllPairs prefix filter; no length filter is
    * sound here since B may be arbitrarily large). Posting lists land on
    * the rarest shingles, keeping the candidate join near-linear; the
    * boilerplate tail of hot shingles never enters a probe prefix.
    *
    * Same shingle hashing and cache/broadcast discipline as
    * [[jaccardPairs]]; the verify step ships only bare id pairs.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = Pins.scoped { s =>
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val base = shingleTable(df, idCol, textCol, Config(shingleN = shingleN))
    pin(s, base) // materialize before fan-out (see verifiedPairs)
    // A probes with its prefix; B is indexed in full
    val Seq((exploded, prefix)) = prefixes(threshold, base)
    val cands = prefix.select(col("s"), col("id").as("idA"))
      .join(exploded.select(col("s"), col("id").as("idB")), Seq("s"))
      .where(col("idA") =!= col("idB"))
      .select("idA", "idB")
      .distinct()
    // both verify probes read cands — pinned once
    Pins.detach(verify(base, base, cands, pin(s, cands), threshold, Containment))
  }

  /** Deterministic (a, b) permutation coefficients for `k` hashes from
    * `seed` — the one generator behind every signature, exposed so the
    * oracle SQL generator embeds the exact same literals.
    */
  private[graft] def portableCoefficients(k: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Seq.fill(k)((math.abs(rnd.nextLong()) % (MersennePrime - 1)) + 1)
    val bs = Seq.fill(k)(math.abs(rnd.nextLong()) % MersennePrime)
    (as, bs)
  }

  /** Transitive closure of dup pairs -> (id, rep) where rep = min id of the
    * connected component.
    *
    * Adaptive: the verified-pair set is orders of magnitude smaller than
    * the corpus (it only contains actual near-dups), so when it fits
    * comfortably on the driver (`driverThreshold` edges) we run a local
    * union-find — one collect, zero iterative jobs. Above the threshold we
    * fall back to distributed min-label propagation (each step a
    * partial-aggregatable groupBy-min), which handles arbitrarily large
    * edge sets at the cost of one join round per component diameter.
    */
  def duplicateGroups(pairs: DataFrame, maxIterations: Int = 15,
      driverThreshold: Long = 5000000L): DataFrame = Pins.scoped { s =>
    // full count (not limit+count): one clean materialization of the
    // pair set — incremental-limit execution would re-run the expensive
    // upstream pipeline per scale-up attempt. A producer's detached
    // result is adopted, not cached again.
    val p = s.pin(pairs)
    if (p.count() <= driverThreshold) duplicateGroupsLocal(p)
    else duplicateGroupsDistributed(p, maxIterations)
  }

  /** Driver union-find over a collected edge list (small verified-pair
    * sets). Generic over the id type: reps match the distributed variant's
    * `least()` semantics (numeric order for numeric ids, lexicographic for
    * strings).
    */
  private def duplicateGroupsLocal(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = pairs.sparkSession
    val idField = pairs.schema("idA")
    val ord: Ordering[Any] = idField.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
      case FloatType | DoubleType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue)
      case StringType => Ordering.by((x: Any) => x.asInstanceOf[String])
      case other => throw new IllegalArgumentException(
        s"unsupported id type for local union-find: $other")
    }
    val edges = pairs.select(col("idA"), col("idB")).collect()
      .map(r => (r.get(0), r.get(1)))
    val parent = scala.collection.mutable.Map.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (lo, hi) = if (ord.lt(ra, rb)) (ra, rb) else (rb, ra)
        parent(hi) = lo
      }
    }
    val rows = parent.keys.toSeq.map(id => Row(id, find(id)))
    val schema = StructType(Seq(
      StructField("id", idField.dataType), StructField("rep", idField.dataType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Distributed min-label propagation (bounded iterations, early stop).
    * Each round's label table is result-sized (one row per doc appearing
    * in a dup pair) and detached, so the plan never stacks and the
    * returned table holds no cache entry; the input-sized edge cache is
    * dropped before returning. A component whose diameter needs more than
    * `maxIterations` rounds fails the call: labels cut off
    * mid-propagation are not a fixpoint, and callers that group by `rep`
    * would silently split the component.
    */
  def duplicateGroupsDistributed(pairs: DataFrame,
      maxIterations: Int = 15): DataFrame = Pins.scoped { s =>
    // undirected edge list, both directions
    val fwd = pairs.select(col("idA").as("src"), col("idB").as("dst"))
    val edges = s.pin(fwd.union(pairs.select(col("idB").as("src"), col("idA").as("dst")))
      .distinct())
    var labels = Pins.detach(edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("rep")))
    var iter = 0
    var converged = false
    while (iter < maxIterations && !converged) {
      // rep(id) <- min(rep(id), min over neighbors of rep(neighbor))
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("rep")).as("nrep"))
      val next = Pins.detach(labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep")))
      val changed = next.join(labels.withColumnRenamed("rep", "prev"), "id")
        .where(col("rep") =!= col("prev")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicate-group label propagation did not converge within " +
        s"maxIterations=$maxIterations rounds; raise maxIterations")
    labels
  }

  /** Near-dedup: drop every doc whose component representative is a smaller
    * id; docs in no dup pair survive untouched.
    */
  def dedup(df: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame = {
    val groups = duplicateGroups(verifiedPairs(df, idCol, textCol, cfg))
    val losers = groups.where(col("rep") =!= col("id")).select(col("id").as("__loser"))
    // no broadcast hint: loser set size is data-dependent (could be most of
    // the corpus); AQE picks broadcast when it fits.
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }
}
