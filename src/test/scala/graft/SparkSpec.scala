package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, getOrCreate
  * dedupes across suites). It is built by `GraftSession`'s own builder,
  * so plan assertions test the config the queries run under; only the
  * shuffle-partition count is lowered, to keep tiny test shuffles fast.
  * Static confs (the codegen cache size, the `file:` filesystem) hold
  * JVM-wide because this is the JVM's first session.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.localBuilder(4)
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def tables: Tables = Tables(spark, sfDir)

  def run(name: String): DataFrame = Registry.byName(name).run(spark, sfDir)

  /** Formatted physical plan text, for plan-shape assertions. */
  def planOf(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString() + "\n" +
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  /** [[planOf]] plus the plan of every distinct cached
    * (InMemoryRelation) intermediate the query scans, nested caches
    * (a cache built over another) included, so pushed-filter and
    * exchange assertions can see through a CacheScope materialization.
    */
  def planWithCachedOf(df: DataFrame): String = {
    val nodes = physicalNodesWithCached(df)
    // the deep walk enters each cache once, at its first scan, whose
    // cached plan is the very next node
    val cached = nodes.zip(nodes.drop(1)).collect {
      case (m: InMemoryTableScanExec, next) if next eq m.relation.cachedPlan => next.toString()
    }
    (planOf(df) +: cached).mkString("\n=== cached relation ===\n")
  }

  /** All physical nodes of the (possibly adaptive) plan, descending
    * through AQE wrappers — for structural shuffle/window assertions.
    */
  def physicalNodes(df: DataFrame): Seq[SparkPlan] =
    Plans.nodes(df.queryExecution.executedPlan, throughCaches = false)

  /** Runs `f` with a conf override, restoring the old value after. */
  def withConf[T](k: String, v: String)(f: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The broadcast exchanges of the plan — under
    * `spark.sql.autoBroadcastJoinThreshold=-1` any survivor comes from
    * an explicit `broadcast()` hint, so "no forced broadcast"
    * assertions collect these.
    */
  def broadcasts(df: DataFrame): Seq[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec] =
    physicalNodes(df).collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }

  /** The shuffle exchanges of the plan, as (partitioning-description,
    * output-attribute) pairs ready for "this exchange ships ids only"
    * assertions.
    */
  def shuffles(df: DataFrame): Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    physicalNodes(df).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }

  /** Like [[physicalNodes]] but also descends into cached
    * (InMemoryRelation) plans, nested ones included — each cached
    * relation walked ONCE even when several branches scan it — so a
    * query that materializes an intermediate via CacheScope can still
    * assert on the exchanges that feed the cache.
    */
  def physicalNodesWithCached(df: DataFrame): Seq[SparkPlan] =
    Plans.nodes(df.queryExecution.executedPlan, throughCaches = true)

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same JVM
    super.afterAll()
  }
}
