package graft

import org.apache.spark.sql.SparkSession

/** Tuned local SparkSession factory for the graft engine.
  *
  * Defaults encode the 100-TB design rules scaled to local mode:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * shuffle partitions sized to cores (not the 200 default), UTC session
  * time zone for oracle parity. On a real cluster the same builder is
  * used with `master` unset and shuffle partitions derived from input
  * size (see Scaladoc on [[GraftSession.cluster]]). Generated code is
  * compiled once per JVM and reused (see [[codegenReuse]]).
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), sized from a
    * census of the registry: `CodegenAudit --reuse` (two passes over
    * all 276 queries, local mode, 4-core VM) counted 4,360 classes per
    * pass at sf0.001 and 4,375 at sf0.01 — one per generated source and
    * class loader, the driver's and the executors' — so this leaves
    * about 3.7× headroom. With it the second pass recompiled 23 classes
    * (21 at sf0.01), where the default recompiled 7,842; metaspace
    * after that pass was 251 MB, against 304 MB at the default, whose
    * recompiled classes were still awaiting collection.
    */
  val CodegenCacheEntries: Int = 16384

  /** Lets a query that runs again reuse its generated classes instead of
    * recompiling them. Spark compiles every whole-stage span,
    * projection and ordering of a plan into a Java class with Janino
    * and caches the class by its source text. Two things defeated
    * that cache:
    *
    *  - its size: at the default 100 entries the LRU evicted every
    *    class before its query ran again, so each warm pass recompiled
    *    everything — a quarter to a third of most queries' warm time.
    *    It is sized by [[CodegenCacheEntries]];
    *  - the codegen stage id in each whole-stage class name: under AQE
    *    the ids depend on the order in which a query's stages finish,
    *    which varies between runs of the same plan, so the source — and
    *    the cache key — varied too. `useIdInClassName = false` names
    *    every such class `GeneratedIterator`; the id stays in a
    *    comment, which is not part of the key.
    *
    * The cache size is a static conf: it is read when Spark's
    * `CodeGenerator` is first used in the JVM, so only the JVM's first
    * session sets it (`SparkSpec` applies this too, for the test JVM).
    * Measured in local mode only: whether executors on a cluster read
    * it — their cache is built from the conf of the first task that
    * generates code — is unverified.
    */
  def codegenReuse(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    base(SparkSession.builder().master(s"local[$cores]"), math.max(cores, 8))
      .getOrCreate()

  /** Cluster form: shuffle partitions are a starting hint only — AQE
    * coalesces/splits at runtime from map-output sizes, which is the
    * mechanism that actually holds at 100 TB.
    */
  def cluster(shufflePartitions: Int): SparkSession =
    base(SparkSession.builder(), shufflePartitions).getOrCreate()

  private def base(b: SparkSession.Builder, shuffleParts: Int): SparkSession.Builder =
    codegenReuse(b).appName("graft")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-plan CACHED frames too (off by default): every
      // trackedCache materialization otherwise runs its shuffles at
      // the static partition count with no runtime coalescing — an
      // iterative query materializing ~10 tiny cached frames (q179)
      // pays tens of near-empty 32-task stages in pure scheduling
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Scan parallelism floor (guide §6). Split size is
      // min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum)):
      // the 4 MB openCostInBytes default models object-store seek cost
      // and FLOORS the split size, so a small single-file table (one
      // ~10 MB parquet per table on the test SFs) scans as 1-3 tasks
      // and every scan-side projection — md5 fingerprint legs,
      // explodes, distance chains — runs on 1-3 of the session's
      // cores until the first exchange. 128 KB is the honest open
      // cost on local NVMe; at production scale totalBytes/parallelism
      // exceeds maxPartitionBytes and splits stay 128 MB+, so this
      // only raises parallelism where inputs are SMALL — exactly where
      // the floor was the bottleneck. minPartitionNum inherits
      // defaultParallelism (= cores here), which is the scale-adaptive
      // half of the formula.
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS), which the vectorized
      // reader rejects; read as long + convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // plan STRINGS are for humans — cap them. An InMemoryRelation
      // prints its full child plan at every reference, so an iterative
      // query whose round-r cache references round r-1's four times
      // (q179) yields an exponentially long EXPLAIN even though
      // execution is linear; AQE stringifies the plan on every update
      // and an uncapped string OOMs the driver (seen: GraphMetricsSpec
      // heap death inside QueryExecution.explainString).
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
}
