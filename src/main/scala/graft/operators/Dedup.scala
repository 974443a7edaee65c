package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * Reference semantics: full-row `drop_duplicates` before every load
  * (`/root/reference/utilities/etl.py:50,76,118,143`) and key-based dedup
  * across batches via the MERGE primary key
  * (`/root/reference/utilities/queries.py:37-46`).
  *
  * Scale notes: all variants are single-shuffle hash aggregations with
  * map-side partial aggregation — no windows, no sorts. `byKeyLatest` uses
  * `max_by(struct(...))` instead of a `row_number` window so the partial
  * aggregate collapses each key on the map side before the shuffle, which
  * at 100 TB is the difference between shuffling the whole table and
  * shuffling one row per key per input partition.
  */
object Dedup {

  /** Full-row distinct (A1). Equivalent to `df.dropDuplicates()`: one
    * hash-aggregate over all columns with partial aggregation. The
    * [[Parallelism.ensure]] guard keeps the map-side partial aggregate
    * multi-core even when the input layout is a single row group.
    */
  def fullRow(df: DataFrame): DataFrame = Parallelism.ensure(df).dropDuplicates()

  /** Deterministic per-key winner: the row with the greatest
    * `orderCols` tuple (e.g. latest `ts`, tie-broken by id).
    * Implemented as `max_by(struct(allCols), struct(orderCols))` —
    * partial-aggregatable, single shuffle on `keys`.
    */
  def byKeyLatest(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val ordering = struct(orderCols.map(col): _*)
    Parallelism.ensure(df).groupBy(keys.map(col): _*)
      .agg(max_by(payload, ordering).as("__row"))
      .select(df.columns.map(c => col(s"__row.`$c`").as(c)).toIndexedSeq: _*)
  }

  /** Exact content dedup: one surviving row per distinct value of
    * `contentCol` (hashed with md5 so the shuffle key is 16 bytes, not the
    * document body). Winner = least `idCol` (deterministic).
    * This is the exact-dedup baseline of the near-dup family
    * (see [[MinHashDedup]], [[SimHashDedup]]).
    */
  def byContent(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    Parallelism.ensureCompute(df).groupBy(md5(col(contentCol).cast("binary")).as("__h"))
      .agg(min_by(payload, col(idCol)).as("__row"))
      .select(df.columns.map(c => col(s"__row.`$c`").as(c)).toIndexedSeq: _*)
  }
}
