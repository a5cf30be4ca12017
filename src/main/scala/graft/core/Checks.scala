package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks — the engine's analogue of dbt schema tests
  * (not_null / unique / accepted_values / relationships). The reference
  * project ships none (SURVEY §5), so this is completion of the dbt surface
  * rather than parity. Each check compiles to one aggregate expression;
  * `run` evaluates all of a frame's checks in a single aggregation job and
  * returns one (check, violations) row per check. `relationships` is the
  * exception: [[referentialViolations]] is its own anti-join job.
  */
object Checks {

  final case class Check(name: String, violations: Column)

  def notNull(c: String): Check =
    Check(s"not_null($c)", count(when(col(c).isNull, 1)))

  def unique(c: String): Check =
    Check(s"unique($c)", count(col(c)) - countDistinct(col(c)))

  def acceptedValues(c: String, allowed: Seq[String]): Check =
    Check(s"accepted_values($c)",
      count(when(!col(c).isin(allowed: _*) || col(c).isNull, 1)))

  /** relationships: every non-null fk value must exist in dim[pk].
    * Executed as a left-anti join count (broadcast when dim is small).
    */
  def referentialViolations(df: DataFrame, fk: String,
      dim: DataFrame, pk: String): Long =
    df.filter(col(fk).isNotNull)
      .join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti")
      .count()

  /** Run aggregate-style checks in a single job; returns (check, violations)
    * rows. A check passes when violations == 0.
    */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = checks.map(c => c.violations.cast("long").as(c.name))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val spark = df.sparkSession
    import spark.implicits._
    checks.zipWithIndex
      .map { case (c, i) => (c.name, row.getLong(i)) }
      .toDF("check", "violations")
  }
}
