package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Q
import graft.functions.det.dsum
import graft.sources.PartitionedStore

/** q92: the oracle-checked consumer of small-file COMPACTION
  * (`sources/PartitionedStore.compact`) — the q81 pattern applied to
  * table maintenance: a deliberately fragmented partitioned copy of
  * lineitem (13 files per partition directory, the one-file-per-task
  * shape streaming sinks and wide writers leave behind) is compacted
  * to its target file count, and the query then answers from the
  * COMPACTED layout while the DuckDB oracle answers from the original
  * table — so the gate proves the rewrite preserved every row and the
  * partition values encoded in the directory names.
  *
  * The filter on the partition column also rides through the
  * compacted layout as PLANNING-time pruning (the `N` directory's
  * files are never opened — pinned in SourcesSpec along with the
  * file-count collapse, data equality, healthy-partition no-op, and
  * idempotence).
  */
object Compaction {

  val q92 = Q.of(
    "q92_compacted_read",
    """SELECT l_returnflag,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_returnflag != 'N'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { t =>
    val dir = s"/tmp/graft_q92_${t.dir.hashCode & 0x7fffffff}"
    t.lineitem
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .repartition(13) // fragment: 13 part files per partition dir
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    PartitionedStore.compact(t.spark, dir) // default target => 1 file/dir here
    PartitionedStore.readPartitioned(t.spark, dir)
      .filter(col("l_returnflag") =!= "N")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q254: the oracle-checked consumer of READER-SAFE committed-store
    * compaction (`PartitionedStore.compactCommitted` — the
    * manifest-commit protocol that closes `compact`'s concurrent-
    * reader gap): events land as three committed batches, the first
    * two are compacted into a generation (atomic pointer swap), a
    * THIRD batch commits after the compaction (so the read must union
    * the immutable generation with the newer root tree), and a FOURTH
    * batch is staged but never committed — a replay in flight. The
    * query answers from `readCommitted`; the oracle answers from the
    * raw events table — hash equality proves the generation + root
    * union returns every committed row exactly once and the
    * uncommitted replay stays invisible. (The concurrent-reader
    * interleaving itself — reads racing the pointer swap — is pinned
    * in CommittedCompactionSpec; this gate proves the data algebra.)
    *
    * Every store write, the compaction and the result's `collect` run
    * while the query's frame is being built, inside `Q.run`, so a
    * traced run counts them as plan construction (`queries.build_s`,
    * `queries.build_jobs`), not as the timed action's execution.
    * That build runs 8 Spark jobs at sf0.001 (`Inspect --time`
    * prints them): one per append (4; appends do not shuffle), the
    * compaction's shuffle and write (2) and the result's collect (2:
    * the aggregate's shuffle and its result stage; the rows are sorted
    * on the driver, not by a global sort). No store read infers its
    * schema; each reads the store's recorded `_graft_schema`. A noop
    * action over the result adds one job, 9 in all, pinned in
    * CommittedCompactionSpec.
    */
  val q254 = Q.of(
    "q254_committed_compaction",
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { t =>
    // a per-run unique store root: a fixed hash-derived path would let
    // two concurrent runs (or a dataset-dir hash collision) delete and
    // rewrite each other's store mid-query
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_q254_")
    val dir = s"$tmpRoot/store"
    val ev = t.events.select(col("event_id"), col("event_type"), col("value"))
    def batch(b: Long): Unit = PartitionedStore.writeBatch(
      ev.filter(pmod(col("event_id"), lit(3)) === b), dir, Seq("event_type"), b)
    batch(0L); batch(1L)
    PartitionedStore.commitBatchWatermark(t.spark, dir, 1L)
    PartitionedStore.compactCommitted(t.spark, dir, Seq("event_type"))
    batch(2L)
    PartitionedStore.commitBatchWatermark(t.spark, dir, 2L)
    // a staged-but-uncommitted replay (duplicate of batch 0's rows)
    // must stay invisible to the committed read
    PartitionedStore.writeBatch(
      ev.filter(pmod(col("event_id"), lit(3)) === 0), dir, Seq("event_type"), 3L)
    val out = PartitionedStore.readCommitted(t.spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    // materialize the |event_type|-row result BEFORE deleting the
    // store (the returned frame must not depend on the vanished
    // files), then clean up — nothing leaks into /tmp across runs.
    // The few rows are sorted here in Spark's ascending order (nulls
    // first, then UTF-8 bytes): a global sort would add its own jobs.
    val byType = Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0))
    val rows = out.collect().toSeq
      .sortBy(r => Option(r.getString(0)).map(UTF8String.fromString))(byType)
    val schema = out.schema
    val p = new org.apache.hadoop.fs.Path(tmpRoot.toString)
    p.getFileSystem(t.spark.sparkContext.hadoopConfiguration).delete(p, true)
    t.spark.createDataFrame(
      t.spark.sparkContext.parallelize(rows, 1), schema)
  }

  def all: Seq[Q] = Seq(q92, q254)
}
