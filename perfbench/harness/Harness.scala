package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, Registry}

/** Benchmark JVM. Calls graft only through its public entry points
  * (`Registry.byName(q).run(spark, dir)` and an action on the returned
  * frame) and observes it from outside: Spark listeners, codegen
  * counters and JVM MXBeans. `perfbench/run.py` launches it; modes:
  *
  *  - `setup <out>`: create the session, record the set-up time, exit;
  *  - `run key=value...`: one benchmark run (see [[Run]]);
  *  - `sentinel`: time the host sentinel whenever a line arrives on
  *    stdin (the loaded-host self-check drives it).
  */
object Harness {
  def main(args: Array[String]): Unit = args.head match {
    case "setup" =>
      val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
      val s = sinceJvmStart()
      write(args(1), Json(ListMap("setup_s" -> s)))
      // the probe measures set-up only; its scratch dirs live in the run dir
      Runtime.getRuntime.halt(0)
    case "sentinel" =>
      Sentinel.warm()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      while (in.readLine() != null) { println(Sentinel.time()); System.out.flush() }
    case "run" =>
      val conf = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
      new Run(conf).apply()
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def write(path: String, s: String): Unit = Files.write(Paths.get(path), s.getBytes(UTF_8))
}

/** Fixed-work single-thread CPU loop. Its time moves only when the host
  * gives this thread less CPU, so start/middle/end readings that drift
  * apart mark a run made in a noisy window.
  */
object Sentinel {
  @volatile private var sink = 0L
  private def once(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
    (System.nanoTime() - t0) / 1e9
  }
  def warm(): Unit = (1 to 3).foreach(_ => once())
  /** Median of three repetitions, seconds. */
  def time(): Double = (1 to 3).map(_ => once()).sorted.apply(1)
  def loadavg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").head.toDouble
    catch { case NonFatal(_) => -1.0 }
}

/** Minimal JSON writer for maps, sequences, numbers, strings. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** Event records the traced passes keep in memory. Times are epoch ms. */
final case class JobRec(id: Int, start: Double, var end: Double, stages: Seq[Int])
final case class TaskRec(stage: Int, cpuNs: Long, runMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, input: Long, output: Long, outputRecords: Long, failed: Boolean)
final case class QeRec(start: Double, end: Double, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, exchanges: Int, bhj: Int, smj: Int)
final case class BlockRec(at: Double, cachedBytes: Long, written: Boolean)

/** Spark and SQL listener that records jobs, stages, tasks, query
  * executions and cached blocks. Registered only during traced passes.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val completedStages = mutable.Set.empty[Int]
  val qes = ArrayBuffer.empty[QeRec]
  val blocks = ArrayBuffer.empty[BlockRec]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cached = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.failureReason.isEmpty) completedStages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    tasks += (if (m == null) TaskRec(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskRec(e.stageId, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, failed))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blockBytes.getOrElse(id, 0L)
      if (size > 0) blockBytes(id) = size else blockBytes.remove(id)
      blocks += BlockRec(System.currentTimeMillis().toDouble, cached, size > 0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val now = System.currentTimeMillis().toDouble
    val start = if (phases.isEmpty) now - durationNs / 1e6
      else phases.values.map(_.startTimeMs).min.toDouble
    val end = if (phases.isEmpty) now else phases.values.map(_.endTimeMs).max.toDouble
    val nodes = try Tracer.nodes(qe.executedPlan) catch { case NonFatal(_) => Nil }
    val rec = QeRec(start, end, ms("analysis"), ms("optimization"), ms("planning"),
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]))
    synchronized { qes += rec }
  }
}

object Tracer {
  /** Every node of a finished physical plan, through AQE stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }
}

/** Highest heap occupancy right after any GC, from JVM GC notifications. */
final class HeapPeak {
  @volatile var peakBytes = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}

/** Process-wide counters sampled around each traced query. */
final case class Counters(compileNs: Long, compiles: Long, jitMs: Long, gcMs: Long) {
  def -(o: Counters) = Counters(compileNs - o.compileNs, compiles - o.compiles, jitMs - o.jitMs, gcMs - o.gcMs)
}
object Counters {
  def now(): Counters = Counters(
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
}

/** One query execution in one pass. Times are epoch ms. */
final case class Sample(pass: Int, traced: Boolean, query: String, start: Double, built: Double,
    end: Double, error: Option[String], counters: Option[Counters])

/** One benchmark run: a cold pass that also fingerprints each result
  * outside its timed region, then at least three warm passes and more
  * until `seconds` have been measured. With `trace=1`, every second
  * warm pass runs with the listeners on.
  */
final class Run(conf: Map[String, String]) {
  private val dir = conf("data")
  private val workload = conf("workload")
  private val names = conf("queries").split(',').toSeq
  private val coldOrder = conf("cold").split(',').toSeq
  private val seconds = conf("seconds").toDouble
  private val trace = conf("trace") == "1"
  private val cores = conf("cores").toInt

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private def epochMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def apply(): Unit = {
    val spark = GraftSession.local(cores)
    val setupS = Harness.sinceJvmStart()
    spark.sparkContext.setLogLevel("WARN")
    val heap = new HeapPeak
    val tracer = new Tracer
    val samples = ArrayBuffer.empty[Sample]
    val fingerprints = mutable.LinkedHashMap.empty[String, ListMap[String, Any]]
    val sentinel = ArrayBuffer.empty[Double]
    val load = ArrayBuffer.empty[Double]
    def checkpoint(): Unit = { sentinel += Sentinel.time(); load += Sentinel.loadavg1m() }
    def describe(e: Throwable) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

    def pass(p: Int, order: Seq[String], traced: Boolean): Unit = {
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      order.map(Registry.byName).foreach { q =>
        val c0 = if (traced) Some(Counters.now()) else None
        val start = epochMs()
        var built = Double.NaN
        var df: DataFrame = null
        val error = try {
          df = q.run(spark, dir)
          built = epochMs()
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          Some(describe(e))
        }
        val end = epochMs()
        samples += Sample(p, traced, q.name, start, if (built.isNaN) end else built, end, error,
          c0.map(Counters.now() - _))
        // Untimed, cold pass only: row count plus an order-insensitive content hash.
        if (p == 0) fingerprints(q.name) = error match {
          case Some(e) => ListMap("error" -> e)
          case None =>
            val t = System.nanoTime()
            try {
              val (rows, hash) = Run.fingerprint(df)
              ListMap("rows" -> rows, "hash" -> hash, "seconds" -> (System.nanoTime() - t) / 1e9)
            } catch { case NonFatal(e) => ListMap("error" -> describe(e)) }
        }
        spark.catalog.clearCache()
      }
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
    }

    Sentinel.warm()
    checkpoint()
    // The cold pass runs in the listed order, so the query that pays the
    // fresh JVM's first-query cost is the same for every seed.
    pass(0, coldOrder, traced = false)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 1
    while (p <= 3 || elapsed < seconds) {
      pass(p, names, traced = trace && p % 2 == 0)
      if (p == 1) checkpoint()
      p += 1
    }
    checkpoint()
    val peakHeapMb = heap.peakBytes / 1048576.0

    val layers = if (trace) Run.layers(samples.filter(_.traced).toSeq, tracer, cores) else Nil
    if (trace) Harness.write(conf("spans"), Run.spans(workload, samples.filter(_.traced).toSeq, tracer))
    val out = ListMap(
      "workload" -> workload, "cores" -> cores, "setup_s" -> setupS,
      "samples" -> samples.map(s => ListMap("pass" -> s.pass, "traced" -> s.traced, "query" -> s.query,
        "wall_s" -> (s.end - s.start) / 1e3, "build_s" -> (s.built - s.start) / 1e3, "error" -> s.error)),
      "layers" -> layers,
      "fingerprints" -> fingerprints,
      "peak_heap_mb" -> peakHeapMb,
      "sentinel_s" -> sentinel, "loadavg_1m" -> load)
    Harness.write(conf("out"), Json(out))
    // Every output is written; skip Spark's orderly shutdown. Its scratch
    // directories are inside the run directory, which the caller cleans.
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }
}

object Run {
  def fingerprint(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = d.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    (r.getLong(0), f"${r.getLong(1)}%016x${r.getLong(2)}%016x")
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var (s, e) = (Double.NaN, Double.NaN)
    c.foreach { case (a, b) =>
      if (e.isNaN || a > e) { if (!e.isNaN) total += e - s; s = a; e = b } else e = math.max(e, b)
    }
    if (!e.isNaN) total += e - s
    total
  }

  private def in(t: Double, lo: Double, hi: Double) = t >= lo && t < hi

  /** Per (pass, query) layer metrics from one traced sample's window. */
  def layers(samples: Seq[Sample], tr: Tracer, cores: Int): Seq[ListMap[String, Any]] = samples.map { s =>
    val jobs = tr.jobs.filter(j => in(j.start, s.start, s.end)).toSeq
    val jobIv = jobs.map(j => (j.start, if (j.end.isNaN) s.end else j.end))
    val stages = jobs.flatMap(_.stages).toSet
    val tasks = tr.tasks.filter(t => stages(t.stage)).toSeq
    val qes = tr.qes.filter(q => in(q.start, s.start, s.end)).toSeq
    val busyMs = covered(jobIv, s.start, s.end)
    val buildMs = s.built - s.start
    val buildCovered = covered(jobIv ++ qes.map(q => (q.start, q.end)), s.start, s.built)
    val before = tr.blocks.filter(_.at < s.start).lastOption.map(_.cachedBytes).getOrElse(0L)
    val during = tr.blocks.filter(b => in(b.at, s.start, s.end)).toSeq
    val c = s.counters.get
    val mb = 1048576.0
    val taskRunS = tasks.map(_.runMs).sum / 1e3
    ListMap[String, Any](
      "pass" -> s.pass, "query" -> s.query, "wall_s" -> (s.end - s.start) / 1e3,
      "queries.build_s" -> buildMs / 1e3,
      "queries.build_self_s" -> (buildMs - buildCovered) / 1e3,
      "queries.build_jobs" -> jobs.count(j => in(j.start, s.start, s.built)),
      "queries.eager_actions" -> qes.count(q => in(q.start, s.start, s.built)),
      "catalyst.analysis_s" -> qes.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> qes.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> qes.map(_.planningMs).sum / 1e3,
      "catalyst.exchanges" -> qes.map(_.exchanges).sum,
      "catalyst.broadcast_joins" -> qes.map(_.bhj).sum,
      "catalyst.sort_merge_joins" -> qes.map(_.smj).sum,
      "codegen.compile_s" -> c.compileNs / 1e9,
      "codegen.compiles" -> c.compiles,
      "exec.busy_s" -> busyMs / 1e3,
      "exec.jobs" -> jobs.size,
      "exec.stages" -> stages.count(tr.completedStages),
      "exec.tasks" -> tasks.size,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> taskRunS,
      "exec.core_util" -> (if (busyMs > 0) taskRunS / (busyMs / 1e3 * cores) else 0.0),
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> tasks.map(_.spill).sum / mb,
      "exec.failed_tasks" -> tasks.count(_.failed),
      "driver.no_job_s" -> ((s.end - s.start) - busyMs) / 1e3,
      "cache.peak_mb" -> (before +: during.map(_.cachedBytes)).max / mb,
      "cache.blocks_written" -> during.count(_.written),
      "tables.input_mb" -> tasks.map(_.input).sum / mb,
      "sources.output_mb" -> tasks.map(_.output).sum / mb,
      "sources.output_records" -> tasks.map(_.outputRecords).sum,
      "jvm.jit_s" -> c.jitMs / 1e3,
      "jvm.gc_s" -> c.gcMs / 1e3)
  }

  /** Span tree of the traced passes: query -> build/action -> job/qe. */
  def spans(workload: String, samples: Seq[Sample], tr: Tracer): String = {
    val out = ArrayBuffer.empty[ListMap[String, Any]]
    def span(id: String, parent: String, name: String, a: Double, b: Double): Unit =
      out += ListMap("id" -> id, "parent" -> parent, "name" -> name, "start_ms" -> a, "end_ms" -> b)
    samples.foreach { s =>
      val root = s"$workload/${s.pass}/${s.query}"
      span(root, null, "query", s.start, s.end)
      span(s"$root/build", root, "build", s.start, s.built)
      span(s"$root/action", root, "action", s.built, s.end)
      def child(t: Double) = if (t < s.built) s"$root/build" else s"$root/action"
      tr.jobs.filter(j => in(j.start, s.start, s.end)).foreach { j =>
        span(s"$root/job${j.id}", child(j.start), "job", j.start, if (j.end.isNaN) s.end else j.end)
      }
      tr.qes.filter(q => in(q.start, s.start, s.end)).zipWithIndex.foreach { case (q, i) =>
        span(s"$root/qe$i", child(q.start), "query_execution", q.start, q.end)
      }
    }
    out.map(Json(_)).mkString("", "\n", "\n")
  }
}
