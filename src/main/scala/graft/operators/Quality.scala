package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level data-quality expectations — the contract layer in front
  * of a warehouse load. Generalizes the reference's implicit schema
  * checks (`etl.py:191-236` validates shape; nothing validates VALUES)
  * into declarative per-row predicates.
  *
  * Scale design: the report is one partial-aggregatable conditional-count
  * aggregate — every expectation evaluates in the same codegen'd pass, no
  * per-expectation jobs. Referential checks compose: join the (broadcast)
  * key set first, then assert the marker column — the expectation itself
  * never embeds a subquery.
  */
object Quality {

  /** An expectation: `name` labels the violation; `predicate` must hold
    * for a row to pass.
    */
  final case class Expectation(name: String, predicate: Column)

  private def checkNames(expectations: Seq[Expectation]): Unit = {
    require(expectations.nonEmpty, "at least one expectation required")
    val names = expectations.map(_.name)
    require(names.distinct.size == names.size, "expectation names must be unique")
    require(!names.contains("n_rows"),
      "'n_rows' is reserved for the report's total-row column")
  }

  /** One-pass violation report: (expectation, n_violations, n_rows) per
    * expectation — a single conditional-count aggregate over the input,
    * partial-aggregatable, no shuffle of data rows.
    */
  def report(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    checkNames(expectations)
    val agg = df.agg(
      count(lit(1)).as("n_rows"),
      expectations.map(e =>
        count(when(!coalesce(e.predicate, lit(false)), 1)).as(e.name)): _*)
    agg.select(col("n_rows"),
        explode(array(expectations.map(e =>
          struct(lit(e.name).as("expectation"),
            col(e.name).as("n_violations"))): _*)).as("x"))
      .select(col("x.expectation"), col("x.n_violations"), col("n_rows"))
  }
}
