package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, getOrCreate
  * dedupes across suites). Small shuffle-partition count keeps tiny
  * test shuffles fast; the 100-TB-shaped configs (AQE etc.) match
  * GraftSession so plan assertions test the real config.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // codegen reuse: its cache size is static, so only the JVM's first
  // session (this one) can set it
  lazy val spark: SparkSession = GraftSession.codegenReuse(SparkSession.builder())
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // cap plan strings: nested InMemoryRelations print exponentially
    // (see GraftSession) and AQE's explainString would OOM the test JVM
    .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
    .config("spark.ui.enabled", "false")
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
    * (InMemoryRelation) intermediate the query scans, so pushed-filter
    * and exchange assertions can see through a CacheScope
    * materialization.
    */
  def planWithCachedOf(df: DataFrame): String = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seen = scala.collection.mutable.Set[Int]()
    val cached = physicalNodes(df).collect {
      case m: InMemoryTableScanExec if seen.add(System.identityHashCode(m.relation.cacheBuilder)) =>
        m.relation.cachedPlan.toString()
    }
    (planOf(df) +: cached).mkString("\n=== cached relation ===\n")
  }

  /** All physical nodes of the (possibly adaptive) plan, descending
    * through AQE wrappers — for structural shuffle/window assertions.
    */
  def physicalNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    walkPlan(df.queryExecution.executedPlan)

  private def walkPlan(
      root: org.apache.spark.sql.execution.SparkPlan
  ): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: kids.flatMap(walk)
    }
    walk(root)
  }

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
    * (InMemoryRelation) plans — each cached relation walked ONCE even
    * when several branches scan it — so a query that materializes an
    * intermediate via CacheScope can still assert on the exchanges
    * that feed the cache.
    */
  def physicalNodesWithCached(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seen = scala.collection.mutable.Set[Int]()
    // worklist so NESTED caches (a tracked cache built over another
    // tracked cache, e.g. q67's scored frame over the per-content
    // frame) are descended into as well, each distinct cache once
    def expand(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]): Seq[org.apache.spark.sql.execution.SparkPlan] =
      nodes.flatMap {
        case m: InMemoryTableScanExec if seen.add(System.identityHashCode(m.relation.cacheBuilder)) =>
          m +: expand(walkPlan(m.relation.cachedPlan))
        case other => Seq(other)
      }
    expand(physicalNodes(df))
  }

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same JVM
    super.afterAll()
  }
}
