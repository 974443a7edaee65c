package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGE/upsert operator (J1) — the semantic heart of the reference.
  *
  * Reference: `MERGE INTO dest t1 USING staging t2 ON t1.pk = t2.pk
  * WHEN MATCHED AND <changed> THEN UPDATE SET <all cols>
  * WHEN NOT MATCHED THEN INSERT <all cols>`
  * (`/root/reference/utilities/queries.py:35-48`, assembled at
  * `/root/reference/utilities/etl.py:153-179`). The `<changed>` predicate is
  * a null-safe per-column inequality OR-folded over all non-audit columns
  * (`etl.py:160-162`) — reproduced here with Spark's `<=>`.
  *
  * Scale design: dest is the 100 TB side, source is the daily batch. The
  * default strategy never shuffles dest:
  *   1. `matchedKeys` = dest SEMI JOIN broadcast(source) on pk — a scan of
  *      dest that reads ONLY the pk columns (column-pruned at the parquet
  *      reader), producing at most |source| keys.
  *   2. inserts = source LEFT JOIN broadcast(matchedKeys), keeping the rows
  *      with no match — tiny. This is `left_anti` by another plan shape:
  *      the optimizer pushes an anti-join into a union-shaped source
  *      (`PushDownLeftSemiAntiJoin`), which would clone the dest pk-scan
  *      once per union branch; it pushes no outer join.
  *   3. upserts = dest LEFT JOIN broadcast(source) — the one full scan of
  *      dest; per row pick the source image iff matched AND changed. That
  *      test is one `__take` column, evaluated once per row and read by
  *      every output column's `when`.
  * Total: two scans of dest (one pk-only), zero shuffles of dest, no sort,
  * and nothing cached: the result is one lazy plan. Source has three
  * consumers; each of its shuffle stages (a page fetch, a dedup) runs
  * once, through adaptive execution's exchange reuse. A shuffle-free
  * source is read once per consumer — at most three reads of a
  * broadcast-sized input, which must give the same rows each time;
  * [[upsertBatch]] and the ETL callers put [[Dedup.byKeyLatest]]'s
  * shuffle in front.
  * For a source too large to broadcast, `MergeStrategy.ShuffleFullOuter`
  * computes the same result with a single full-outer sort-merge join
  * (both sides shuffled on pk — correct, but moves dest over the network).
  */
object Merge {

  sealed trait MergeStrategy
  object MergeStrategy {
    /** Broadcast source to both dest scans, then the matched keys back
      * to source; never shuffle dest. Use when source fits in the
      * broadcast budget (the daily-batch case).
      */
    case object BroadcastSource extends MergeStrategy
    /** Single full-outer shuffle join on pk. Use when source ~ dest size. */
    case object ShuffleFullOuter extends MergeStrategy
  }

  val AuditCols: Set[String] = Set("record_loaded_at")

  /** The null-safe change-detection predicate (P5, `etl.py:160-162`):
    * true iff any of `cols` differs between its `left` and `right`
    * resolution, treating NULL as a value (false for no columns).
    * Callers exclude key and audit columns from `cols`.
    */
  def changePredicate(cols: Seq[String], left: String => Column,
      right: String => Column): Column =
    cols.map(c => !(left(c) <=> right(c))).reduceOption(_ || _).getOrElse(lit(false))

  /** Compute the post-MERGE state of `dest` given `source`, as a DataFrame.
    * Columns of both inputs must match (run [[SchemaDrift.align]] first —
    * mirrors `etl.py:128-141` where drift is resolved before the MERGE).
    *
    * Row semantics (exactly the reference MERGE):
    *  - dest row with no source match       -> kept as-is
    *  - dest row matched, nothing changed   -> kept as-is (audit col keeps
    *    its OLD stamp — the `update_cond` excludes audit cols)
    *  - dest row matched, any column changed-> replaced by the source row
    *  - source row with no dest match       -> inserted
    */
  def merge(
      dest: DataFrame,
      source: DataFrame,
      pk: Seq[String],
      strategy: MergeStrategy = MergeStrategy.BroadcastSource,
      auditCols: Set[String] = AuditCols): DataFrame = {
    require(pk.nonEmpty, "merge requires at least one primary-key column")
    val cols = dest.columns.toSeq
    require(source.columns.toSeq == cols,
      s"merge requires aligned schemas; dest=${cols} source=${source.columns.toSeq}")
    val compareCols = cols.filterNot(pk.contains).filterNot(auditCols.contains)

    // Re-alias every column on each side with a fresh prefixed name. This
    // mints new expression IDs, so dest and source may share lineage (the
    // common "delta derived from dest" case) without tripping Spark's
    // ambiguous-self-join resolution.
    def dc(c: String) = s"__d_$c"
    def sc(c: String) = s"__s_$c"
    val d = dest.select(cols.map(c => col(c).as(dc(c))): _*)
    val s = source.select(cols.map(c => col(c).as(sc(c))): _*)
    val joinCond = pk.map(k => col(dc(k)) === col(sc(k))).reduce(_ && _)
    val changed = changePredicate(compareCols, c => col(dc(c)), c => col(sc(c)))
    val srcMatched = pk.map(k => col(sc(k)).isNotNull).reduce(_ && _)

    // Matched AND changed, computed once per row as its own column: the
    // optimizer does not inline a non-cheap alias that the output
    // projection reads many times.
    val take = "__take"
    def pick(joined: DataFrame)(image: String => Column): DataFrame =
      joined.select(col("*"), (srcMatched && changed).as(take))
        .select(cols.map(c => image(c).as(c)): _*)

    strategy match {
      case MergeStrategy.BroadcastSource =>
        // (1) pk-only scan of dest: which source keys already exist?
        val matchedKeys = d.select(pk.map(k => col(dc(k))): _*)
          .join(broadcast(s), joinCond, "left_semi")
        // (2) inserts: source rows whose key is NOT in dest. A matched
        // key is never NULL, so a NULL on the right marks a miss.
        val inserts = s.join(broadcast(matchedKeys), joinCond, "left_outer")
          .where(col(dc(pk.head)).isNull)
          .select(cols.map(c => col(sc(c)).as(c)): _*)
        // (3) one full scan of dest; matched+changed rows take the source image.
        val upserts = pick(d.join(broadcast(s), joinCond, "left_outer"))(c =>
          when(col(take), col(sc(c))).otherwise(col(dc(c))))
        upserts.unionByName(inserts)

      case MergeStrategy.ShuffleFullOuter =>
        val destMatched = pk.map(k => col(dc(k)).isNotNull).reduce(_ && _)
        pick(d.join(s, joinCond, "full_outer"))(c =>
          when(!destMatched, col(sc(c)))       // insert
            .when(col(take), col(sc(c)))       // update
            .otherwise(col(dc(c))))            // keep
    }
  }

  /** Idempotent apply-batch entry point used by the streaming surface:
    * dedups the batch on pk first (A2 within-batch) so at-least-once
    * delivery composes with MERGE to effectively-once
    * (reference: retries at `themovies.py:117-122` + MERGE idempotence).
    * `orderCols` picks the within-batch winner deterministically.
    */
  def upsertBatch(
      dest: DataFrame,
      batch: DataFrame,
      pk: Seq[String],
      orderCols: Seq[String]): DataFrame =
    merge(dest, Dedup.byKeyLatest(batch, pk, orderCols), pk)
}
