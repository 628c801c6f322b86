package graft

import java.time.LocalDate
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Plan-time clock for asOf-parameterized queries — the library-wide
  * mechanism for the reference's single most common idiom,
  * `DATE_SUB(CURRENT_DATE, INTERVAL N DAY)` / `add_months(
  * current_date, -3)` (72 + several uses across the 20 analyses, e.g.
  * /root/reference/SQL/User Engagement Funnel Analysis.txt:8,
  * /root/reference/pyspark/Infrastructure Cost Optimization by Content
  * Type.py:22).
  *
  * A query builder takes `asOf: AsOf` and derives every time window
  * from it BEFORE the plan exists, so the windows are plan-time
  * literals: they reach the parquet scan as `PushedFilters` (no
  * runtime clock call anywhere in the plan), re-running with a new
  * `asOf` re-plans the literals (pinned per query in RelationalSpec),
  * and the DuckDB oracle is generated from the same value so the
  * correctness gate exercises the parameterization itself. Registered
  * instances pin a fixed date for reproducibility; a user passes
  * `AsOf(LocalDate.now())` to a `qNNFor` builder for the real clock.
  */
final case class AsOf(date: LocalDate) {
  def minusDays(n: Long): AsOf = AsOf(date.minusDays(n))
  /** Midnight at the date, as a Spark plan-time literal value. */
  def ts: java.sql.Timestamp = java.sql.Timestamp.valueOf(date.atStartOfDay)
  /** Midnight at the date, as a literal Column. */
  def tsLit: Column = lit(ts)
  /** The same instant as a DuckDB SQL timestamp literal. */
  def sqlTs: String = s"TIMESTAMP '$date 00:00:00'"
  override def toString: String = date.toString
}

object AsOf {
  def apply(s: String): AsOf = AsOf(LocalDate.parse(s))
}
