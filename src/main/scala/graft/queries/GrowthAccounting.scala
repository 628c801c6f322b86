package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q

/** q169: GROWTH ACCOUNTING — the weekly active-user waterfall
  * (new / retained / resurrected / dormant), the standard MAU/WAU
  * decomposition (popularized by the a16z/Social Capital growth
  * memos, public): every active user each week is exactly one of
  * NEW (first-ever week), RETAINED (also active last week), or
  * RESURRECTED (active before, skipped last week); DORMANT counts
  * last week's actives who went silent this week — the negative
  * flow that makes net growth honest. q158's triangle follows one
  * cohort forward; this is the per-week flow ledger every growth
  * review reads beside it.
  *
  * Plan shape: ONE distinct (user, week) exchange (epoch-week
  * integers, the q158 determinism rule), then lag/lead in a single
  * user-partitioned window pass classify every transition; two
  * bounded per-week rollups (classifications and dormancies) meet
  * in a full outer join on the week spine. Dormancy is charged to
  * the FIRST silent week and only within the observation range
  * (nobody is dormant at max_week + 1 — the data just ended). All
  * integers — hash-exact; the identity n_active = new + retained +
  * resurrected is pinned.
  */
object GrowthAccounting {

  /** Weekly growth-accounting flows over (user, day) activity.
    * Factored so the spec can pin a hand-built user story crossing
    * every state.
    */
  def flows(activity: DataFrame, userCol: String, dayCol: String): DataFrame = {
    val weeks = graft.CacheScope.trackedCache(
      activity
        .select(col(userCol),
          floor(datediff(col(dayCol), to_date(lit("1970-01-01"))) / 7).as("w"))
        .distinct())
    val seq = Window.partitionBy(col(userCol)).orderBy(col("w"))
    val marked = graft.CacheScope.trackedCache(
      weeks
        .withColumn("graft_prev", lag(col("w"), 1).over(seq))
        .withColumn("graft_next", lead(col("w"), 1).over(seq)))
    val states = marked
      .groupBy(col("w"))
      .agg(
        sum(when(col("graft_prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("graft_prev") === col("w") - 1, 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("graft_prev").isNotNull && col("graft_prev") < col("w") - 1, 1L)
          .otherwise(0L)).as("n_resurrected"),
        count(lit(1)).as("n_active"))
    val maxW = marked.agg(max(col("w")).as("graft_maxw"))
    val dormant = marked
      .crossJoin(broadcast(maxW))
      .filter(col("w") < col("graft_maxw") &&
        (col("graft_next").isNull || col("graft_next") > col("w") + 1))
      .groupBy((col("w") + 1).as("w"))
      .agg(count(lit(1)).as("n_dormant"))
    states
      .join(dormant, Seq("w"), "full_outer")
      .select(col("w").as("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_dormant"), lit(0L)).as("n_dormant"),
        coalesce(col("n_active"), lit(0L)).as("n_active"))
  }

  val q169 = Q.of(
    "q169_growth_accounting",
    """WITH weeks AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR((CAST(ts AS DATE) - DATE '1970-01-01') / 7) AS BIGINT) AS w
      |  FROM events
      |), marked AS (
      |  SELECT user_id, w,
      |    lag(w, 1) OVER (PARTITION BY user_id ORDER BY w) AS prev_w,
      |    lead(w, 1) OVER (PARTITION BY user_id ORDER BY w) AS next_w
      |  FROM weeks
      |), states AS (
      |  SELECT w,
      |    SUM(CASE WHEN prev_w IS NULL THEN 1 ELSE 0 END) AS n_new,
      |    SUM(CASE WHEN prev_w = w - 1 THEN 1 ELSE 0 END) AS n_retained,
      |    SUM(CASE WHEN prev_w IS NOT NULL AND prev_w < w - 1 THEN 1 ELSE 0 END)
      |      AS n_resurrected,
      |    COUNT(*) AS n_active
      |  FROM marked GROUP BY w
      |), dormant AS (
      |  SELECT w + 1 AS w, COUNT(*) AS n_dormant
      |  FROM marked, (SELECT MAX(w) AS maxw FROM weeks)
      |  WHERE w < maxw AND (next_w IS NULL OR next_w > w + 1)
      |  GROUP BY w + 1
      |)
      |SELECT COALESCE(s.w, d.w) AS week,
      |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
      |  CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
      |  CAST(COALESCE(n_resurrected, 0) AS BIGINT) AS n_resurrected,
      |  CAST(COALESCE(n_dormant, 0) AS BIGINT) AS n_dormant,
      |  CAST(COALESCE(n_active, 0) AS BIGINT) AS n_active
      |FROM states s FULL OUTER JOIN dormant d ON s.w = d.w
      |ORDER BY week""".stripMargin) { t =>
    flows(
      t.events.select(col("user_id"), to_date(col("ts")).as("day")),
      "user_id", "day")
      .orderBy(col("week"))
  }

  def all: Seq[Q] = Seq(q169)
}
