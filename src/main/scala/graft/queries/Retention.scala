package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q

/** q158: COHORT RETENTION TRIANGLE — the signup-week × offset-week
  * activity matrix every growth team reads first (cohort rows, age
  * columns, retention fading right): users are cohorted by the week
  * of their FIRST event, and cell (c, k) counts the cohort's users
  * active in week c+k, as a share of the cohort. q59 cohorts CONTENT
  * by launch; this is the USER-grain triangle, and the per-week
  * distinct-activity spine means a user active twice in a week counts
  * once.
  *
  * Scale shape: fact → distinct (user, week) in ONE map-side-combined
  * exchange; the cohort week is a min-over-user rollup of the SAME
  * frame (rides the same user keying); the triangle join keys
  * (user, any-week ≥ cohort) resolve as an equi-join on user followed
  * by the offset projection — output bounded by cohorts × offsets.
  * Retention is one IEEE division of exact integers (q139 rule).
  *
  * Weeks are DETERMINISTIC integer epoch-week indexes
  * (⌊epoch_day/7⌋ — Thursday-anchored like ISO epoch day 0, constant
  * cross-engine) rather than engine `weekofyear` variants, which
  * disagree on year boundaries.
  */
object Retention {

  /** Cohort × offset retention over (user, day) activity. Factored so
    * the spec can pin a hand-built two-cohort design with known decay.
    */
  def triangle(activity: DataFrame, userCol: String, dayCol: String): DataFrame = {
    // persist the compact (user, week) frame: the cohort min, the
    // cohort sizes, and the triangle join all read it — without
    // materialization each branch re-scans the fact (3 scans in the
    // pre-fix plan audit)
    val weeks = graft.CacheScope.trackedCache(
      activity
        .select(col(userCol),
          floor(datediff(col(dayCol), to_date(lit("1970-01-01"))) / 7).as("graft_w"))
        .distinct())
    val cohorts = weeks
      .groupBy(col(userCol))
      .agg(min(col("graft_w")).as("graft_c"))
    val cohortSizes = cohorts
      .groupBy(col("graft_c")).agg(count(lit(1)).as("cohort_size"))
    weeks
      .join(cohorts, Seq(userCol))
      .groupBy(col("graft_c"), (col("graft_w") - col("graft_c")).as("offset_w"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSizes), Seq("graft_c"))
      .select(
        col("graft_c").as("cohort_week"),
        col("offset_w"),
        col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
  }

  val q158 = Q.of(
    "q158_retention_triangle",
    """WITH weeks AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR((CAST(ts AS DATE) - DATE '1970-01-01') / 7) AS BIGINT) AS w
      |  FROM events
      |), cohorts AS (
      |  SELECT user_id, MIN(w) AS c FROM weeks GROUP BY 1
      |), sizes AS (
      |  SELECT c, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1
      |), cells AS (
      |  SELECT co.c, wk.w - co.c AS offset_w, COUNT(*) AS n_active
      |  FROM weeks wk JOIN cohorts co ON wk.user_id = co.user_id
      |  GROUP BY 1, 2
      |)
      |SELECT cells.c AS cohort_week, offset_w,
      |  CAST(n_active AS BIGINT) AS n_active,
      |  CAST(cohort_size AS BIGINT) AS cohort_size,
      |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      |FROM cells JOIN sizes ON cells.c = sizes.c
      |ORDER BY cohort_week, offset_w""".stripMargin) { t =>
    triangle(
      t.events.select(col("user_id"), to_date(col("ts")).as("day")),
      "user_id", "day")
      .orderBy(col("cohort_week"), col("offset_w"))
  }

  def all: Seq[Q] = Seq(q158)
}
