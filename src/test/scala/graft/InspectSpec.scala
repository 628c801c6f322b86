package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.tools.Inspect

/** `tools.Inspect`, driven through `run` on the shared session, one case
  * per mode, plus the plan walk it shares with the specs.
  */
class InspectSpec extends SparkSpec {

  private val q = "q01_agg_pushdown"

  /** What `Inspect.run(args)` prints, line by line. */
  private def inspect(args: String*): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Inspect.run(spark, args))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("--plan prints ENTRY_ROWS= and the formatted plan") {
    val out = inspect("--sf", sfDir, "--plan", q)
    val rows = out.collectFirst { case l if l.startsWith("ENTRY_ROWS=") => l.stripPrefix("ENTRY_ROWS=").toLong }
    assert(rows.exists(_ > 0), out)
    assert(out.contains(s"# plan $sfDir"))
    assert(out.contains(s"===== $q ====="))
    assert(out.contains("== Physical Plan =="), out)
    assert(out.exists(_.contains("PushedFilters")), out)
  }

  test("--time --reps 2 prints one timing per (query, dir), and the growth exponent with --ratio") {
    // the same directory twice: two (query, dir) timings and a ratio
    val out = inspect("--sf", sfDir, "--sf", sfDir, "--time", "--reps", "2", "--ratio", "10", q)
    val timing = s"""TIME $q \\Q$sfDir\\E min=(\\d+\\.\\d{3}) median=(\\d+\\.\\d{3}) reps=2""".r
    val times = out.collect { case timing(min, median) => (min.toDouble, median.toDouble) }
    assert(times.size === 2, out)
    times.foreach { case (min, median) => assert(min > 0 && min <= median) }
    // per timed run, the jobs of the build and of the count
    val jobs = s"""JOBS $q \\Q$sfDir\\E build=(\\d+),(\\d+) action=(\\d+),(\\d+)""".r
    val counts = out.collect { case jobs(b1, b2, a1, a2) => Seq(b1, b2, a1, a2).map(_.toInt) }
    assert(counts.size === 2, out)
    counts.foreach(c => assert(c(2) >= 1 && c(3) >= 1, out))
    assert(out.count(_.startsWith("""{"metric":"scale_curve",""")) === 1, out)
    assert(out.exists(_.contains(s""""$q":{"lo_sec":""")), out)
  }

  test("--codegen prints an AUDIT line per query") {
    val out = inspect("--sf", sfDir, "--codegen", q)
    assert(out.count(_.startsWith(s"AUDIT $q ")) >= 1, out)
    assert(!out.exists(_.startsWith(s"AUDIT $q ERROR")), out)
  }

  test("--reuse prints REUSE lines; the second pass compiles no new class") {
    val out = inspect("--sf", sfDir, "--reuse", q)
    val line = s"REUSE $q (\\d+) (\\d+)".r
    val counts = out.collect { case line(first, second) => (first.toLong, second.toLong) }
    assert(counts.size === 1, out)
    assert(counts.head._2 === 0L, out)
    assert(out.exists(_.startsWith("REUSE total ")), out)
  }

  test("an unknown flag or query name fails with the usage text and runs nothing") {
    for (args <- Seq(
        Seq("--sf", sfDir, "--plan", "--plna", q),
        Seq("--sf", sfDir, "--plan", "q01_no_such_query"),
        Seq("--sf", sfDir, q),
        Seq("--plan", q),
        Seq("--sf", sfDir, "--plan", "--reps", "2", q),
        Seq("--sf", sfDir, "--time", "--reps", "0", q),
        Seq("--sf", sfDir, "--time", "--ratio", "10", q),
        Seq("--sf", sfDir, "--plan", "--sf"))) {
      val out = new ByteArrayOutputStream()
      val e = intercept[IllegalArgumentException] {
        Console.withOut(out)(Inspect.run(spark, args))
      }
      assert(e.getMessage.contains("usage: Inspect"), args)
      assert(out.size === 0, args)
    }
  }

  test("Plans.nodes walks a cache nested in a cache once, however often it is scanned") {
    val inner = spark.range(200).selectExpr("id % 7 as k").groupBy("k").count().cache()
    // an aggregate on top, so outer.union(outer) is not flattened into
    // four scans of inner (Dataset.union combines nested unions)
    val outer = inner.union(inner).groupBy("k").sum("count").cache()
    try {
      val plan = outer.union(outer).queryExecution.executedPlan
      def scans(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
        nodes.collect { case m: InMemoryTableScanExec => m }
      val deep = Plans.nodes(plan, throughCaches = true)
      // two scans of outer, then outer's plan once with its two scans of inner
      assert(scans(deep).size === 4)
      scans(deep).foreach(m => assert(deep.count(_ eq m.relation.cachedPlan) === 1))
      val shallow = Plans.nodes(plan, throughCaches = false)
      assert(scans(shallow).size === 2)
      assert(scans(shallow).forall(m => !shallow.exists(_ eq m.relation.cachedPlan)))
    } finally {
      outer.unpersist()
      inner.unpersist()
    }
  }
}
