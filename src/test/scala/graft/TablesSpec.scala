package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Tables` memoises each table's inferred parquet schema: a repeated
  * read runs no schema-inference job, yet still returns a fresh scan
  * (its own attribute ids) and sees a file rewritten in place.
  */
class TablesSpec extends SparkSpec {

  private def accessors(t: Tables): Seq[(String, () => DataFrame)] = Seq(
    "region" -> (() => t.region), "nation" -> (() => t.nation),
    "customer" -> (() => t.customer), "supplier" -> (() => t.supplier),
    "part" -> (() => t.part), "orders" -> (() => t.orders),
    "lineitem" -> (() => t.lineitem), "events" -> (() => t.events),
    "documents" -> (() => t.documents), "embeddings" -> (() => t.embeddings))

  /** Jobs started while `f` runs. Listener events arrive
    * asynchronously, in order, so a marker job run after `f` is waited
    * for: once its start is seen, every job `f` started has been
    * counted.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("tables-spec") => started.incrementAndGet()
          case Some("tables-spec-marker") => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-spec", "reads")
      f
      sc.setJobGroup("tables-spec-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reported")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def withTempDir[T](f: Path => T): T = {
    val d = Files.createTempDirectory("graft-tables")
    try f(d) finally {
      Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  /** Writes `df` as ONE parquet file at `target` (replacing it), the
    * single-file layout of the testdata.
    */
  private def writeFile(df: DataFrame, target: Path): Unit = withTempDir { tmp =>
    val out = tmp.resolve("out")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table read once is resolved again with no Spark job") {
    accessors(tables).foreach { case (_, read) => read().schema }
    // control: a plain read runs the inference job this memo avoids
    assert(jobsDuring(spark.read.parquet(s"$sfDir/orders.parquet").schema) > 0)
    val again = accessors(tables)
    assert(jobsDuring(again.foreach { case (_, read) => read().schema }) === 0)
    again.foreach { case (name, read) =>
      val plain = spark.read.parquet(s"$sfDir/$name.parquet")
      val expect = if (name == "events") Tables.normalizeTs(plain) else plain
      assert(read().schema === expect.schema, name)
    }
  }

  test("a file rewritten at the same path is read with its new schema") {
    withTempDir { dir =>
      val path = dir.resolve("orders.parquet")
      val t = Tables(spark, dir.toString)
      writeFile(spark.range(5).select(col("id").as("o_orderkey")), path)
      assert(t.orders.columns.toSeq === Seq("o_orderkey"))
      assert(t.orders.count() === 5L)

      writeFile(spark.range(7).select(col("id").as("o_orderkey"),
        (col("id") * 2).as("o_extra")), path)
      val again = t.orders
      assert(again.columns.toSeq === Seq("o_orderkey", "o_extra"))
      assert(again.agg(sum("o_extra")).head().getLong(0) === 42L)
    }
  }

  test("sessions whose parquet inference confs differ do not share a schema") {
    withTempDir { dir =>
      // events' ts is a parquet TIMESTAMP not adjusted to UTC, which
      // Spark infers as TIMESTAMP_NTZ unless inferTimestampNTZ is off
      Files.copy(Paths.get(s"$sfDir/events.parquet"), dir.resolve("region.parquet"))
      val t = Tables(spark, dir.toString)
      val ts = () => t.region.schema("ts").dataType
      assert(ts() === TimestampNTZType)
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
        assert(ts() === TimestampType)
      }
      assert(ts() === TimestampNTZType)
    }
  }

  test("orders self-join from two reads: distinct attribute ids, plain row count") {
    val (a, b) = (tables.orders, tables.orders)
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)

    val got = a.join(b, a("o_custkey") === b("o_custkey")).count()
    val p = spark.read.parquet(s"$sfDir/orders.parquet")
    val q = spark.read.parquet(s"$sfDir/orders.parquet")
    val expect = p.join(q, p("o_custkey") === q("o_custkey")).count()
    assert(got === expect)
    assert(got > a.count())
  }

  test("a directory-layout table reads correctly, and again after a rewrite") {
    withTempDir { dir =>
      val path = dir.resolve("lineitem.parquet").toString
      val t = Tables(spark, dir.toString)
      val src = spark.range(100).select(col("id").as("l_orderkey"),
        (col("id") % 7).as("l_linenumber"))
      src.repartition(3).write.parquet(path)
      assert(t.lineitem.count() === 100L)
      assert(jobsDuring(t.lineitem.schema) === 0)
      assert(t.lineitem.agg(sum("l_linenumber")).head().getLong(0) ===
        (0L until 100L).map(_ % 7).sum)

      src.filter(col("l_orderkey") < 10)
        .withColumn("l_tax", col("l_orderkey") * 3)
        .repartition(2).write.mode("overwrite").parquet(path)
      val again = t.lineitem
      assert(again.columns.toSeq === Seq("l_orderkey", "l_linenumber", "l_tax"))
      assert(again.agg(sum("l_tax")).head().getLong(0) === 135L)
    }
  }
}
