package graft.tools

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Interpreted-expression audit (VERDICT r13 #7): for every registry
  * query, walk the physical plan — descending into AQE wrappers and
  * each distinct cached relation — and report every expression that
  * is a CodegenFallback (evaluated interpreted, never fused into a
  * WholeStageCodegen span). Prints one line per (query, plan-node,
  * expression-class) with a count, so hot filters/projections that
  * silently fall back are visible.
  *
  * `--reuse` instead runs two passes over the queries, each query
  * written to Spark's `noop` sink, and prints per query the classes
  * Janino compiled in each pass — `REUSE <query> <pass 1> <pass 2>` —
  * then the totals, the number of queries that recompiled and the
  * JVM's metaspace after each pass. Pass 2 re-runs plans the JVM has
  * already compiled, so its count is what the generated-class cache
  * (GraftSession.CodegenCacheEntries) failed to keep, plus any query
  * whose generated source differs between runs on the same input.
  * Usage:
  *   runMain graft.tools.CodegenAudit [--reuse] <sfDir> [query ...]
  */
object CodegenAudit {

  private def walk(root: SparkPlan): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.Set[Int]()
    def go(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec
            if seen.add(System.identityHashCode(m.relation.cacheBuilder)) =>
          Seq(m.relation.cachedPlan)
        case other => other.children
      }
      p +: kids.flatMap(go)
    }
    go(root)
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_ == "--reuse")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else graft.Registry.all.map(_.name)
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    if (flags.nonEmpty) reuse(spark, sfDir, names) else audit(spark, sfDir, names)
    spark.stop()
  }

  private def reuse(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def metaspaceMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed / 1e6).sum
    def pass(): (Seq[Long], Double) = {
      val counts = names.map { n =>
        val before = compiles
        try graft.Registry.byName(n).run(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case NonFatal(e) =>
          println(s"REUSE $n ERROR ${e.getClass.getSimpleName}")
        }
        spark.catalog.clearCache()
        compiles - before
      }
      (counts, metaspaceMb)
    }
    val (first, meta1) = pass()
    val (second, meta2) = pass()
    names.indices.foreach(i => println(s"REUSE ${names(i)} ${first(i)} ${second(i)}"))
    println(f"REUSE total ${first.sum} ${second.sum} recompiling=${second.count(_ > 0)}" +
      f" metaspace_mb=$meta1%.0f,$meta2%.0f")
  }

  private def audit(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      try {
        val df: DataFrame = graft.Registry.byName(n).run(spark, sfDir)
        val hits = scala.collection.mutable.Map[(String, String), Int]()
          .withDefaultValue(0)
        walk(df.queryExecution.executedPlan).foreach { node =>
          node.expressions.foreach { e =>
            e.foreach {
              case f: CodegenFallback =>
                hits((node.getClass.getSimpleName,
                  f.getClass.getSimpleName)) += 1
              case _ => ()
            }
          }
        }
        if (hits.isEmpty) println(s"AUDIT $n clean")
        else hits.toSeq.sorted.foreach { case ((node, expr), c) =>
          println(s"AUDIT $n $node $expr x$c")
        }
      } catch { case NonFatal(e) =>
        println(s"AUDIT $n ERROR ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }
}
