package graft.tools

import java.lang.management.ManagementFactory

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

import graft.{Bench, GraftSession, JobCounter, Plans, Registry, SparkEntry}

/** One inspection CLI over the query registry:
  * {{{
  * runMain graft.tools.Inspect --sf DIR [--sf DIR]... [--plan]
  *   [--time [--reps N] [--ratio R]] [--codegen] [--reuse] [query ...]
  * }}}
  * Each mode given runs over the named queries (the whole registry
  * when none is named) and every `--sf` table directory, in the order
  * plan, time, codegen, reuse. An unknown flag or query name fails
  * with the usage text before anything runs.
  *
  *  - `--plan` (was `Explain`): `ENTRY_ROWS=` with the row count of
  *    [[SparkEntry.entry]], then per directory a `# plan <dir>` line
  *    and each query's formatted physical plan under
  *    `===== <query> =====`.
  *  - `--time` (was `Profile` and `ScaleCurve`): per (query,
  *    directory) one warm run, then `--reps` timed runs (default 2),
  *    all through [[Bench.timeQuery]], so each run starts with
  *    operator caches dropped; prints
  *    `TIME <query> <dir> min=<s> median=<s> reps=<N>`, then
  *    `JOBS <query> <dir> build=<n>,... action=<n>,...`: the Spark
  *    jobs each timed run started while building the frame and while
  *    counting it, counted by a [[graft.JobCounter]]. With two
  *    directories and `--ratio R`, their scale-factor ratio (second
  *    over first), it also prints `ScaleCurve`'s JSON line with each
  *    query's growth exponent log(min_2 / min_1) / log(R): 1 is
  *    linear, below 1 overhead-bound at the smaller scale, above 1
  *    super-linear.
  *  - `--codegen` (was `CodegenAudit`): per directory a
  *    `# codegen <dir>` line, then every expression that is a
  *    `CodegenFallback` — evaluated interpreted, outside any
  *    whole-stage span — in the plan and each cached relation it
  *    scans: `AUDIT <query> <node> <expression> x<count>`, or
  *    `AUDIT <query> clean`.
  *  - `--reuse` (was `CodegenAudit --reuse`): per directory a
  *    `# reuse <dir>` line, then two passes, each query written to
  *    Spark's `noop` sink; `REUSE <query> <pass 1> <pass 2>` classes
  *    compiled, then the totals, the number of queries that
  *    recompiled and the JVM's metaspace after each pass. Pass 2 re-runs
  *    plans the JVM has already compiled, so its count is what the
  *    generated-class cache (`GraftSession.CodegenCacheEntries`) failed
  *    to keep, plus any query whose generated source differs between
  *    runs on the same input.
  *
  * Deleted without a flag: `PartsProf` timed the legs of q179 and q210
  * through a hand copy of their internals, which drifted from the
  * queries unseen; whole-query time is `--time`, and per-leg time
  * belongs to a per-query layer profile. `ScaleCheck` printed the LSH
  * candidate volumes at two scales, which `ScaleSpec` computes and
  * pins (q51 buckets, the q44 pairs, the MinHash verify volume).
  */
object Inspect {

  /** Builds a local session with `SPARK_GRAFT_CPUS` cores (default:
    * all), runs [[run]] and stops the session.
    */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt))
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }

  private val Usage = "usage: Inspect --sf DIR [--sf DIR]... [--plan]" +
    " [--time [--reps N] [--ratio R]] [--codegen] [--reuse] [query ...]"

  private final case class Opts(
      dirs: Vector[String] = Vector.empty, queries: Vector[String] = Vector.empty,
      plan: Boolean = false, time: Boolean = false, codegen: Boolean = false,
      reuse: Boolean = false, reps: Option[Int] = None, ratio: Option[Double] = None)

  private def usage(why: String): Nothing =
    throw new IllegalArgumentException(s"$why\n$Usage")

  @tailrec private def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--plan" :: t => parse(t, o.copy(plan = true))
    case "--time" :: t => parse(t, o.copy(time = true))
    case "--codegen" :: t => parse(t, o.copy(codegen = true))
    case "--reuse" :: t => parse(t, o.copy(reuse = true))
    case "--sf" :: d :: t => parse(t, o.copy(dirs = o.dirs :+ d))
    case "--reps" :: n :: t => parse(t, o.copy(reps = Some(
      n.toIntOption.filter(_ > 0).getOrElse(usage(s"--reps $n: not a positive count")))))
    case "--ratio" :: r :: t => parse(t, o.copy(ratio = Some(
      r.toDoubleOption.filter(x => x > 0 && x != 1).getOrElse(usage(s"--ratio $r: not a ratio")))))
    case f :: _ if f.startsWith("--") => usage(s"unknown flag, or no value after it: $f")
    case q :: t => parse(t, o.copy(queries = o.queries :+ q))
  }

  /** Parses `args` and runs the modes they name on `spark`, printing to
    * `Console.out`; throws `IllegalArgumentException` with the usage
    * text for arguments it cannot run.
    */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val o = parse(args.toList, Opts())
    if (o.dirs.isEmpty) usage("no --sf DIR")
    if (!(o.plan || o.time || o.codegen || o.reuse)) usage("no mode: --plan, --time, --codegen or --reuse")
    if (!o.time && (o.reps.nonEmpty || o.ratio.nonEmpty)) usage("--reps and --ratio go with --time")
    if (o.ratio.nonEmpty && o.dirs.size != 2) usage("--ratio needs exactly two --sf dirs")
    val unknown = o.queries.filterNot(Registry.byName.contains)
    if (unknown.nonEmpty) usage(s"unknown query: ${unknown.mkString(" ")}")
    val names = if (o.queries.nonEmpty) o.queries else Registry.all.map(_.name)

    def perDir(mode: String)(f: String => Unit): Unit =
      o.dirs.foreach { d => println(s"# $mode $d"); f(d) }
    if (o.plan) {
      println(s"ENTRY_ROWS=${SparkEntry.entry(spark).count()}")
      spark.catalog.clearCache()
      perDir("plan")(plan(spark, _, names))
    }
    if (o.time) time(spark, o.dirs, names, o.reps.getOrElse(2), o.ratio)
    if (o.codegen) perDir("codegen")(audit(spark, _, names))
    if (o.reuse) perDir("reuse")(reuse(spark, _, names))
  }

  private def plan(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n===== $n =====")
      Registry.byName(n).run(spark, dir).explain("formatted")
      spark.catalog.clearCache()
    }

  private def time(spark: SparkSession, dirs: Seq[String], names: Seq[String],
      reps: Int, ratio: Option[Double]): Unit = {
    val jobs = new JobCounter(spark.sparkContext)
    val mins = try names.map { n =>
      val q = Registry.byName(n)
      n -> dirs.map { d =>
        Bench.timeQuery(spark, q, d, s"warmup:$n")
        val secs = (1 to reps).map(i => Bench.timeQuery(spark, q, d, s"timed$i:$n")).sorted
        val median = (secs((reps - 1) / 2) + secs(reps / 2)) / 2
        println(f"TIME $n $d min=${secs.head}%.3f median=$median%.3f reps=$reps")
        val counts = jobs.drain()
        def perRun(phase: String) = (1 to reps).map(i => counts.getOrElse(s"timed$i:$n $phase", 0))
        println(s"JOBS $n $d build=${perRun("build").mkString(",")} action=${perRun("action").mkString(",")}")
        secs.head
      }
    } finally jobs.close()
    ratio.foreach { r =>
      val body = mins.map { case (n, t) =>
        f""""$n":{"lo_sec":${t(0)}%.3f,"hi_sec":${t(1)}%.3f,""" +
          f""""exponent":${math.log(t(1) / t(0)) / math.log(r)}%.3f}"""
      }.mkString(",")
      println(s"""{"metric":"scale_curve","sf_lo":"${dirs(0)}","sf_hi":"${dirs(1)}",""" +
        s""""ratio":$r,"queries":{$body}}""")
    }
  }

  private def audit(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      try {
        val plan = Registry.byName(n).run(spark, dir).queryExecution.executedPlan
        val hits = Plans.nodes(plan, throughCaches = true).flatMap { node =>
          node.expressions.flatMap(_.collect { case f: CodegenFallback =>
            (node.getClass.getSimpleName, f.getClass.getSimpleName)
          })
        }.groupMapReduce(identity)(_ => 1)(_ + _)
        if (hits.isEmpty) println(s"AUDIT $n clean")
        else hits.toSeq.sorted.foreach { case ((node, expr), c) =>
          println(s"AUDIT $n $node $expr x$c")
        }
      } catch { case NonFatal(e) =>
        println(s"AUDIT $n ERROR ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }

  private def reuse(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def metaspaceMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed / 1e6).sum
    def pass(): (Seq[Long], Double) = {
      val counts = names.map { n =>
        val before = compiles
        try Registry.byName(n).run(spark, dir).write.format("noop").mode("overwrite").save()
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
}
