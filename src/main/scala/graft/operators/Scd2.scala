package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 history maintenance: each key keeps a
  * timeline of attribute versions with `valid_from` / `valid_to`
  * (`valid_to IS NULL` = current). Generalizes the reference's MERGE
  * upsert (`queries.py:35-48`) — where the reference OVERWRITES the
  * matched row on change (`etl.py:160-162`), SCD2 CLOSES it and appends
  * the new version, preserving history. Change detection is the same
  * null-safe any-column-differs predicate ([[Merge.changePredicate]]).
  *
  * Scale design: one equi-join per batch between the CURRENT slice of the
  * dimension and the incoming batch — the closed history is never joined,
  * never shuffled, and unions back below the join (Spark unions are
  * metadata-only). Dimensions are the small side of a star schema; the
  * join shuffles dimension-current + batch, both orders of magnitude
  * below fact scale. All row movement is expressible as one full-outer
  * join + projections, so Catalyst keeps the whole batch application in
  * two exchanges.
  */
object Scd2 {

  /** Apply one batch observed at `batchTs` (an ANSI timestamp literal,
    * e.g. "2024-02-01 00:00:00") to an SCD2 `history` table.
    *
    * `history` columns: `key`, attribute columns, `valid_from`,
    * `valid_to`; `batch` columns: `key` + the same attributes. Returns the
    * new history:
    *  - closed rows (valid_to set) pass through untouched;
    *  - current row, key absent from batch  -> kept open (delta-batch
    *    semantics; pass `closeMissing = true` for full-snapshot semantics,
    *    which closes it at `batchTs`);
    *  - current row, batch row identical    -> kept open, original
    *    `valid_from` (a no-op update must not create a version);
    *  - current row, any attribute changed  -> closed at `batchTs` PLUS a
    *    new open row with the batch's attributes from `batchTs`;
    *  - new key                             -> new open row from `batchTs`.
    */
  def applyBatch(
      history: DataFrame, batch: DataFrame, key: String, batchTs: String,
      closeMissing: Boolean = false, skipDupCheck: Boolean = false): DataFrame = {
    val attrs = batch.columns.filterNot(_ == key).toSeq
    require(attrs.nonEmpty, "batch must carry at least one attribute column")
    require(!attrs.contains("valid_from") && !attrs.contains("valid_to") &&
      !attrs.exists(_.startsWith("__")),
      "batch columns must not collide with validity/marker columns")
    // The output schema is derived from the BATCH columns; a history that
    // carries attribute columns the batch lacks would have them silently
    // projected away below. Fail fast on that schema drift instead of
    // losing data — callers must align the batch (SchemaDrift.align) first.
    val expectedHist = (Seq(key) ++ attrs ++ Seq("valid_from", "valid_to")).toSet
    require(history.columns.toSet == expectedHist,
      s"history schema ${history.columns.sorted.mkString("[", ", ", "]")} does " +
        s"not match key+batch attributes+validity ${expectedHist.toSeq.sorted.mkString("[", ", ", "]")} — " +
        "align the batch to the history schema (SchemaDrift.align) before applyBatch")
    // A duplicate key in the batch would fan out the full_outer join and
    // silently break the one-open-row-per-key invariant — fail fast
    // instead. NOTE: this guard is an EAGER Spark action (one O(batch)
    // aggregation job per applyBatch call — per micro-batch under
    // foreachBatch) and evaluates the batch input once more than the lazy
    // plan would; batches are dimension-sized by this operator's contract.
    // Callers that already guarantee key uniqueness (e.g. a
    // Dedup.byKeyLatest output) can pass skipDupCheck = true to keep the
    // builder fully lazy.
    if (!skipDupCheck) {
      val dupKey = batch.groupBy(col(key)).count()
        .where(col("count") > 1).limit(1).collect()
      require(dupKey.isEmpty,
        s"batch has duplicate key '${dupKey.headOption.map(_.get(0)).orNull}' — " +
          "dedup the batch (e.g. Dedup.byKeyLatest) before applyBatch")
    }
    val histCols = (Seq(key) ++ attrs ++ Seq("valid_from", "valid_to")).map(col)
    val ts = to_timestamp(lit(batchTs))

    val closed = history.where(col("valid_to").isNotNull)
    val current = history.where(col("valid_to").isNull)

    val b = batch.select((Seq(col(key)) ++ attrs.map(col)): _*)
    // presence markers: full_outer emits NULL on the absent side, and a
    // synthesized non-null flag per side is the only null-safe way to tell
    // "absent" from "present with null attributes".
    val j = current.withColumn("__cur", lit(true)).as("c")
      .join(b.withColumn("__new", lit(true)).as("b"), Seq(key), "full_outer")
    val curPresent = col("c.__cur").isNotNull
    val batchPresent = col("b.__new").isNotNull
    val anyChanged =
      Merge.changePredicate(attrs, a => col(s"c.$a"), a => col(s"b.$a"))

    // surviving/closed versions of the current rows
    val fromCurrent = j.where(curPresent).select(
      (Seq(col(key)) ++ attrs.map(a => col(s"c.$a").as(a)) ++ Seq(
        col("c.valid_from").as("valid_from"),
        when(batchPresent && anyChanged, ts)
          .otherwise(if (closeMissing) when(!batchPresent, ts) else lit(null).cast("timestamp"))
          .as("valid_to"))): _*)
    // new open versions from the batch (new key, or changed attributes)
    val fromBatch = j.where(batchPresent && (!curPresent || anyChanged)).select(
      (Seq(col(key)) ++ attrs.map(a => col(s"b.$a").as(a)) ++ Seq(
        ts.as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))): _*)

    closed.select(histCols: _*)
      .unionByName(fromCurrent)
      .unionByName(fromBatch)
  }

  /** An empty history with the batch's key/attribute schema. */
  def emptyHistory(batch: DataFrame, key: String): DataFrame = {
    require(batch.columns.contains(key),
      s"key '$key' not in batch columns ${batch.columns.mkString(", ")}")
    batch.limit(0)
      .withColumn("valid_from", lit(null).cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
  }

  /** Current-state view of a history (one open row per live key). */
  def currentOf(history: DataFrame): DataFrame =
    history.where(col("valid_to").isNull)
}
