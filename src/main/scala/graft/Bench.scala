package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query wall times.
  *
  * Fidelity rules (VERDICT r1 "What's wrong" #2, protocol tightened
  * round 6): queries run in the fixed Registry order; a FULL-registry
  * warmup pass absorbs JVM/C2/codegen/page-cache startup so no timed
  * query is charged for it; each query is then timed in TWO full
  * passes and reports the MIN (roving mid-run contention windows
  * inflate a contiguous block per pass and the endpoint canary cannot
  * see them — min-of-two passes ~45 s apart suppresses them);
  * failures are reported per-query in an "errors" field (value -1)
  * instead of being silently timed, and the process exits non-zero if
  * anything failed.
  *
  * Noise canary (VERDICT r4 #5): the same fixed calibration query is
  * timed right after warmup and again after the last query, and the
  * JSON carries both times plus `canary_drift` = max/min of the two.
  * The per-query 2× gate cannot tell machine contention from a real
  * regression (BENCH_r04 flagged 8 untouched queries purely from
  * load); a drifted canary makes a noisy run self-identifying — the
  * discard rule lives in BASELINE.md.
  */
object Bench {

  /** JVM flags the pins were stamped under (build.sbt javaOptions).
    * BENCH_r06's five-query >2x block on a clean canary, with none of
    * the five source files changed since pinning, pointed at the bench
    * JVM missing these (per-JVM JIT bimodality, BASELINE.md round-6
    * notes) — so Bench now verifies its OWN JVM and re-execs itself
    * with the pinned flags when they are absent, making the timing
    * environment part of the benchmark contract instead of an
    * assumption about how the caller launched us. */
  private val hugeMethodsFlag = "-XX:-DontCompileHugeMethods"

  private def jvmArgs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
  }

  private def flagsPinned(args: Seq[String]): Boolean = {
    val xms = args.filter(_.startsWith("-Xms")).map(_.stripPrefix("-Xms"))
    val xmx = args.filter(_.startsWith("-Xmx")).map(_.stripPrefix("-Xmx"))
    args.contains(hugeMethodsFlag) && xms.nonEmpty && xms.lastOption == xmx.lastOption
  }

  /** Relaunch this main in a child JVM carrying the pinned flags.
    * Returns the child's exit code, or None if the relaunch itself
    * failed (caller then falls through to an in-process run — a
    * mis-flagged result beats no result). */
  private def reexec(): Option[Int] =
    try {
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      // heap precedence (ADVICE r7): an EXPLICIT SPARK_DRIVER_MEM wins
      // over the inherited parent -Xmx — launchers that always set an
      // -Xmx (sbt's default 1g) must not silently downgrade a caller
      // who exported SPARK_DRIVER_MEM=16g; the parent heap is still
      // carried when the env var is absent (a caller that launched
      // with -Xmx16g but without the JIT flag keeps its heap).
      val parentXmx = jvmArgs.filter(_.startsWith("-Xmx"))
        .lastOption.map(_.stripPrefix("-Xmx"))
      val mem = sys.env.get("SPARK_DRIVER_MEM").orElse(parentXmx).getOrElse("8g")
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        s"-Xmx$mem", s"-Xms$mem", hugeMethodsFlag,
        "-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.inheritIO()
      Some(pb.start().waitFor())
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] re-exec with pinned flags failed ($e); running in-process")
      None
    }

  /** `--add-opens` flags from the resource build.sbt also reads, so the
    * re-exec'd JVM opens exactly the packages `sbt run` would. */
  private def addOpens: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/jdk-add-opens.txt")
    require(in != null, "resource graft/jdk-add-opens.txt not on the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")).toSeq
    finally in.close()
  }

  /** Seconds to build `q`'s frame on `sfDir` and count it, with
    * `label` as the job description. Operator caches are dropped
    * afterwards, failed or not: caches built by one query (slim
    * signature/vector frames) must not linger into the next, where
    * they evict under pressure and spew CacheManager warnings (VERDICT
    * r2 #5), and a query timed with a predecessor's cache resident
    * isn't measuring its own plan. Every timing here and in
    * `tools.Inspect --time` goes through this. The build's jobs run in
    * [[Jobs]] phase `"<label> build"`, the count's in
    * `"<label> action"`, for a [[JobCounter]] to tell apart.
    */
  def timeQuery(spark: SparkSession, q: Q, sfDir: String, label: String): Double = {
    val sc = spark.sparkContext
    sc.setJobDescription(label)
    val t0 = System.nanoTime()
    try {
      val df = Jobs.inPhase(sc, s"$label build")(q.run(spark, sfDir))
      Jobs.inPhase(sc, s"$label action")(df.count())
      (System.nanoTime() - t0) / 1e9
    } finally spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val startedPinned = flagsPinned(jvmArgs)
    if (!startedPinned && !sys.env.contains("SPARK_GRAFT_BENCH_CHILD"))
      reexec().foreach(sys.exit)

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: run the FULL registry once untimed. A fresh JVM spends
    // its first ~30-60 s in C2 compilation; a two-query warmup left
    // that cost smeared across the first half of the timed run (start
    // canary 0.8-1.0 s vs 0.3 s steady-state on an otherwise idle
    // host — a self-inflicted drift > 2.4 that disqualified every run
    // under BASELINE.md's own rule). Warming every query compiles the
    // actual codegen'd classes the timed pass will execute, fills the
    // page cache, and leaves the canary measuring what it is meant to
    // measure: external machine contention during the timed window.
    Registry.all.foreach { q =>
      // NonFatal only: an OutOfMemoryError here would leave the JVM
      // degraded and silently skew every timed pass (ADVICE r6).
      try timeQuery(spark, q, sfDir, s"warmup:${q.name}")
      catch { case scala.util.control.NonFatal(_) => () }
    }

    val canaryName = "q01_agg_pushdown"
    def canaryTime(): Double = timeQuery(spark, Registry.byName(canaryName), sfDir, "canary")
    val canaryStart = canaryTime()

    // Two timed passes; a query's time is the MIN of its two passes.
    // Even on an idle host a single pass shows roving multi-second
    // contention/GC windows that inflate a contiguous BLOCK of queries
    // (measured: q37 3.8 s in one clean-canary run vs 0.8 s in the
    // next, with the slow block landing elsewhere each run) — and the
    // endpoint canary cannot see a mid-run window. A window would have
    // to hit the SAME query in BOTH passes, ~45 s apart, to survive
    // the min, so the reported numbers measure the plan, not the
    // scheduler. Errors are still reported per-query (value -1).
    def timedPass(): Seq[(String, Double, Option[String])] =
      Registry.all.map { q =>
        try (q.name, timeQuery(spark, q, sfDir, q.name), None)
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: $e")
          (q.name, -1.0,
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
        }
      }
    val pass1 = timedPass()
    val pass2 = timedPass()
    val results = pass1.zip(pass2).map { case ((n, s1, e1), (_, s2, e2)) =>
      if (e1.nonEmpty || e2.nonEmpty) (n, -1.0, e1.orElse(e2))
      else (n, math.min(s1, s2), None)
    }

    val canaryEnd = canaryTime()
    val drift = math.max(canaryStart, canaryEnd) / math.min(canaryStart, canaryEnd)

    // 3-decimal seconds: millisecond resolution is all the 2x gate
    // needs, and the shorter line survives the driver's line-capture
    // (BENCH_r06 lost 29 of 81 tail timings to truncation).
    def f3(d: Double): String = f"$d%.3f"
    val qs = results.map { case (n, s, _) => s""""$n":${f3(s)}""" }.mkString("{", ",", "}")
    val errs = results.collect { case (n, _, Some(e)) => s""""$n":${Verify.jsonString(e)}""" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, s, None) => s }.sum
    val canary = s"""{"query":"$canaryName","start_sec":${f3(canaryStart)},""" +
      s""""end_sec":${f3(canaryEnd)},"drift":${f3(drift)}}"""
    val jvm = s"""{"pinned_at_launch":$startedPinned,""" +
      s""""pinned_now":${flagsPinned(jvmArgs)},""" +
      s""""child":${sys.env.contains("SPARK_GRAFT_BENCH_CHILD")}}"""
    // Self-documented parallelism (VERDICT r13 #2): the 8- and 32-core
    // driver runs were indistinguishable and nothing in the JSON could
    // prove which core count actually executed — the `cpus` field in
    // the driver's artifacts is ITS annotation, not ours. Emit the
    // requested count, the session's actual master, and the live
    // defaultParallelism so every run's scaling denominator is part of
    // the artifact itself.
    val par = s""""cpus_requested":$cpus,""" +
      s""""master":${Verify.jsonString(spark.sparkContext.master)},""" +
      s""""default_parallelism":${spark.sparkContext.defaultParallelism}"""
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"errors":$errs,"canary":$canary,"canary_drift":${f3(drift)},"jvm":$jvm,$par,"sf":"$sfDir","epoch_ms":${System.currentTimeMillis()}}"""
    println(json)
    // Full artifact on disk too — the stdout line is subject to the
    // driver's capture limits; this file is not. BENCH_FULL.json is
    // the latest-run copy; every run ALSO appends to
    // BENCH_HISTORY.jsonl so a later invocation cannot clobber the
    // round's clean-run evidence (VERDICT r7 #3 — the noisy
    // end-of-round run overwrote the certifiable one).
    try {
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      Files.write(Paths.get("/root/repo/BENCH_FULL.json"),
        (json + "\n").getBytes("UTF-8"))
      Files.write(Paths.get("/root/repo/BENCH_HISTORY.jsonl"),
        (json + "\n").getBytes("UTF-8"), O.CREATE, O.APPEND)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write bench artifacts: $e") }
    spark.stop()
    if (results.exists(_._3.nonEmpty)) sys.exit(1)
  }
}
