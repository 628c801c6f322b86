package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q

/** q107: SEMI-STRUCTURED column extraction — the events table's
  * `props` column is a JSON payload (the shape every product
  * analytics pipeline lands: a typed envelope plus a free-form JSON
  * blob), parsed with an EXPLICIT schema via `from_json` and rolled
  * up per (event_type, property bucket).
  *
  * Scale shape: `from_json` with a declared schema is a pure per-row
  * projection inside the scan stage — NO inference pass (a
  * `spark.read.json`-style schema discovery would be a second full
  * read of a 100 TB column before the first real job), no shuffle
  * until the bounded (type, bucket) rollup. Malformed payloads
  * degrade to NULL fields and are COUNTED per group rather than
  * killing the job or silently vanishing — the q93 observability
  * contract applied to a JSON column (corpus payloads are all clean,
  * so the oracle pins `n_bad = 0` rows too; ProfilingSpec feeds
  * broken/missing-key/wrong-type fixtures to prove the counter
  * counts). This is the form a reference user hits when the blob
  * arrives INSIDE an already-structured table.
  */
object Json {

  /** Parse + rollup, factored for the spec's malformed fixtures. */
  def propsRollup(events: DataFrame): DataFrame = {
    val parsed = events
      .withColumn("graft_p", from_json(col("props"), lit("k BIGINT")))
      .withColumn("k", col("graft_p.k"))
    parsed
      .groupBy(col("event_type"),
        when(col("k").isNotNull, col("k") % 10).as("k_bucket"))
      .agg(
        count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(when(col("props").isNotNull && col("k").isNull, 1L).otherwise(0L))
          .as("n_bad"))
  }

  val q107 = Q.of(
    "q107_json_props",
    """WITH parsed AS (
      |  SELECT event_type, user_id, props,
      |    TRY_CAST(props->>'$.k' AS BIGINT) AS k
      |  FROM events
      |)
      |SELECT event_type,
      |  CASE WHEN k IS NOT NULL THEN k % 10 END AS k_bucket,
      |  COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  MIN(k) AS min_k,
      |  MAX(k) AS max_k,
      |  CAST(SUM(CASE WHEN props IS NOT NULL AND k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
      |FROM parsed
      |GROUP BY 1, 2
      |ORDER BY event_type, k_bucket""".stripMargin) { t =>
    propsRollup(t.events).orderBy(col("event_type"), col("k_bucket"))
  }

  def all: Seq[Q] = Seq(q107)
}
