package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks (SURVEY §2.4 check_column / check_table), computed
  * as **one single-pass aggregation** over the table — one scan, map-side
  * partial aggregation, no per-check queries. Under AQE that one query is
  * two Spark jobs: the shuffle-map job of the partial aggregate and the
  * result job of the final one. `distinct_check`/`unique_check` (count
  * distinct) add a second exchange on the checked column, and with it a
  * third job. That is the scale-correct reshaping of the reference's
  * per-check SQL (sql/operators/data_validations/check_column.py:13-211,
  * pandas path 101-143; check_table.py:12-109).
  */
object Checks {

  /** A threshold for one named check on one column.
    * Mirrors the reference's option set: equal_to / greater_than /
    * less_than / geq_to / leq_to / tolerance (check_column.py docstring). */
  final case class Threshold(
      equalTo: Option[Double] = None,
      greaterThan: Option[Double] = None,
      lessThan: Option[Double] = None,
      geqTo: Option[Double] = None,
      leqTo: Option[Double] = None,
      tolerance: Option[Double] = None) {

    /** check_column.py _get_match semantics: tolerance widens each bound
      * multiplicatively. */
    def passes(result: Double): Boolean = {
      val tol = tolerance.getOrElse(0.0)
      val eq = equalTo.forall(e => result >= e * (1 - tol) && result <= e * (1 + tol))
      val gt = greaterThan.forall(g => result > g * (1 - tol))
      val lt = lessThan.forall(l => result < l * (1 + tol))
      val ge = geqTo.forall(g => result >= g * (1 - tol))
      val le = leqTo.forall(l => result <= l * (1 + tol))
      eq && gt && lt && ge && le
    }
  }

  /** One column-check outcome. */
  final case class CheckResult(column: String, check: String, result: Double, success: Boolean)

  final class FailedChecksException(val failures: Seq[CheckResult])
    extends RuntimeException(
      "The following tests have failed: " +
        failures.map(f => s"${f.column}.${f.check}=${f.result}").mkString(", "))

  /** The aggregate expression for one (column, checkName). Supported names
    * parity: null_check, distinct_check, unique_check, min, max
    * (check_column.py:101-143). */
  def checkAgg(column: String, check: String): Column = check match {
    case "null_check"     => sum(col(column).isNull.cast("long")).cast("double")
    case "distinct_check" => count_distinct(col(column)).cast("double")
    case "unique_check"   => (count(col(column)) - count_distinct(col(column))).cast("double")
    case "min"            => min(col(column)).cast("double")
    case "max"            => max(col(column)).cast("double")
    case other => throw new IllegalArgumentException(s"unknown column check: $other")
  }

  /** check_column: evaluate `columnMapping` (column → check → threshold)
    * in a single aggregation; `partitionClause` is a SQL boolean filter
    * applied first (check_column.py partition_clause). */
  def checkColumn(
      df: DataFrame,
      columnMapping: Map[String, Map[String, Threshold]],
      partitionClause: Option[String] = None,
      failOnError: Boolean = true): Seq[CheckResult] = {
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val ordered = columnMapping.toSeq.flatMap { case (c, checks) =>
      checks.toSeq.map { case (name, th) => (c, name, th) }
    }
    if (ordered.isEmpty) return Nil
    val aggs = ordered.map { case (c, name, _) => checkAgg(c, name).as(s"${c}__$name") }
    val row = filtered.agg(aggs.head, aggs.tail: _*).collect()(0)
    val results = ordered.zipWithIndex.map { case ((c, name, th), i) =>
      val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      CheckResult(c, name, v, th.passes(v))
    }
    val failures = results.filterNot(_.success)
    if (failOnError && failures.nonEmpty) throw new FailedChecksException(failures)
    results
  }

  /** The single-pass aggregation behind check_column as a DataFrame (one
    * row, one column per check) — used by the verify harness. */
  def checkColumnFrame(
      df: DataFrame,
      checks: Seq[(String, String)],
      partitionClause: Option[String] = None): DataFrame = {
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val aggs = checks.map { case (c, name) => checkAgg(c, name).as(s"${c}_$name") }
    filtered.agg(aggs.head, aggs.tail: _*)
  }

  /** check_table: named boolean SQL expressions evaluated table-wide via
    * MIN(CASE WHEN expr THEN 1 ELSE 0 END), all in one aggregation
    * (check_table.py:55-60). Returns check name → passed. */
  def checkTable(
      df: DataFrame,
      checks: Map[String, String],
      partitionClause: Option[String] = None,
      failOnError: Boolean = true): Map[String, Boolean] = {
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val ordered = checks.toSeq
    val aggs = ordered.map { case (name, stmt) =>
      min(when(expr(stmt), 1L).otherwise(0L)).as(name)
    }
    val row = filtered.agg(aggs.head, aggs.tail: _*).collect()(0)
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      name -> (!row.isNullAt(i) && row.getLong(i) == 1L)
    }.toMap
    val failures = results.collect { case (n, false) => n }
    if (failOnError && failures.nonEmpty)
      throw new FailedChecksException(
        failures.toSeq.map(n => CheckResult("<table>", n, 0.0, success = false)))
    results
  }

  /** checkTable as a one-row DataFrame (check name → 0/1) for verify. */
  def checkTableFrame(
      df: DataFrame,
      checks: Seq[(String, String)],
      partitionClause: Option[String] = None): DataFrame = {
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val aggs = checks.map { case (name, stmt) =>
      min(when(expr(stmt), 1L).otherwise(0L)).as(name)
    }
    filtered.agg(aggs.head, aggs.tail: _*)
  }
}
