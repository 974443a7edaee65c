package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table reconciliation: row-level diff between two versions of a table
  * sharing a primary key — the validation step after any load/merge/swap
  * (does the new version contain exactly the expected adds/changes?), and
  * the building block of CDC extraction when a source system only offers
  * snapshots. Generalizes the reference's merge bookkeeping (inserted /
  * updated / unchanged counters around `etl.py:153-179`) into a
  * first-class operator over any two table states.
  *
  * Scale design: ONE full-outer equi-join on the key (both sides shuffle
  * once, partial nothing), presence detected by synthesized markers (the
  * only null-safe way — [[Scd2.applyBatch]]'s trick), change detection is
  * the null-safe any-column-differs predicate evaluated inside codegen.
  * No window, no second pass; the summary is a partial-agg count on top.
  */
object Diff {

  /** Per-key diff status: the key columns + `diff_status` in
    * {added, removed, changed, unchanged}. Attribute set = the non-key
    * columns of `before` (both sides must agree — fail fast on drift, same
    * discipline as [[Scd2.applyBatch]]).
    */
  def tableDiff(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame = {
    require(pk.nonEmpty, "tableDiff needs at least one key column")
    require(before.columns.toSet == after.columns.toSet,
      s"schemas differ: ${before.columns.sorted.mkString(",")} vs " +
        s"${after.columns.sorted.mkString(",")} — align (SchemaDrift.align) first")
    val attrs = before.columns.filterNot(pk.contains).toSeq
    val b = before.withColumn("__b", lit(true)).as("b")
    val a = after.withColumn("__a", lit(true)).as("a")
    val anyChanged =
      Merge.changePredicate(attrs, c => col(s"b.$c"), c => col(s"a.$c"))
    b.join(a, pk, "full_outer")
      .select(pk.map(col) :+
        when(col("b.__b").isNull, lit("added"))
          .when(col("a.__a").isNull, lit("removed"))
          .when(anyChanged, lit("changed"))
          .otherwise(lit("unchanged")).as("diff_status"): _*)
  }

  /** Status counts — the one-line reconciliation report. */
  def diffSummary(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame =
    tableDiff(before, after, pk)
      .groupBy(col("diff_status")).agg(count(lit(1)).as("n"))
}
