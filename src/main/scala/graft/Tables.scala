package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Typed loaders for the driver-generated testdata star schema
  * (TESTDATA.md). Each accessor returns a fresh parquet scan — a new
  * relation with its own file listing and attribute ids, so self-joins
  * and Catalyst's filter pushdown and column pruning behave as for
  * `spark.read.parquet`; callers should NOT cache or materialize here.
  * Only each table's inferred schema is memoised (see [[Tables.read]]).
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")
  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** The events `ts` column has shipped under two physical schemas
    * across driver testdata generations; normalize both to TIMESTAMP
    * (see [[Tables.normalizeTs]]). The conversion is a codegen'd
    * projection on top of the scan; pushdown/pruning on the other
    * columns is unaffected.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(t("events"))
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {

  /** Inferred schemas by table identity: the file's qualified path,
    * length and modification time (for a directory, those of each of
    * its files), plus the session's parquet confs, so sessions whose
    * inference confs differ (`nanosAsLong`, `inferTimestampNTZ`, …) never
    * share an entry. Metadata only, one entry per file version read in
    * the JVM: no data, listing or plan is kept, so `clearCache` has
    * nothing to drop here.
    */
  private val schemas = new ConcurrentHashMap[TableKey, StructType]()

  private final case class TableKey(
      path: String, files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  /** `spark.read.parquet(path)` without a schema-inference job on every
    * call: Spark infers a parquet schema by running a job over the
    * footers, on every read that is not given a schema. The first read
    * of a table version is that inferring read, and its schema is
    * recorded; later reads of the same version pass the recorded schema
    * and run no job. Each read still stats the path (and lists a
    * directory) and builds a fresh relation and file listing. A file
    * rewritten in place gets a new length or modification time, hence a
    * new key, and is inferred again. A missing path, or a directory with
    * subdirectories (partitioned), is read plainly, so Spark reports or
    * infers as before.
    */
  private def read(spark: SparkSession, path: String): DataFrame =
    keyOf(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        val known = schemas.get(key)
        if (known != null) spark.read.schema(known).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(key, df.schema)
          df
        }
    }

  private def keyOf(spark: SparkSession, path: String): Option[TableKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      Option.when(!files.exists(_.isDirectory)) {
        val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
        TableKey(st.getPath.toString,
          files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted,
          confs)
      }
    }
  }

  /** Normalize an events frame's `ts` to TIMESTAMP across the schema
    * variants the driver has generated:
    *  - TIMESTAMP(NANOS), which Spark's parquet reader rejects — read
    *    nanos as long under the legacy conf and truncate to micros,
    *    exactly what DuckDB's reader does;
    *  - TIMESTAMP_NTZ micros (round-7 testdata) — reinterpret the wall
    *    clock as a UTC instant via a session-tz cast (the session tz is
    *    pinned UTC in GraftSession/SparkSpec), which is byte-identical
    *    to how the DuckDB oracle reads the same file;
    *  - TIMESTAMP — already what queries expect.
    * Works on batch and streaming frames alike (pure projection).
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
}
