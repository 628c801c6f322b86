package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Partitioned parquet layout helpers — the storage half of the §5
  * scale rules. The reference project reads pre-registered tables, so
  * its io surface is implicit; at 100 TB the layout IS the query plan:
  * a scan that can skip partition directories never pays for the data
  * it doesn't read.
  *
  * `writePartitioned` lays a frame out hive-style
  * (`col=value/part-*.parquet`); reads through `readPartitioned` then
  * resolve equality/IN predicates on the partition columns at PLANNING
  * time (the scan's `PartitionFilters`, asserted in SourcesSpec — zero
  * files of a pruned partition are opened, vs `PushedFilters` which
  * still reads footers). Choose partition columns with bounded
  * cardinality (date, source, category — not a key): each distinct
  * value is a directory, and tiny partitions devolve into the
  * small-files problem. `repartition` on the partition columns before
  * the write so each partition directory gets coalesced output files
  * instead of one shard per input task.
  */
object PartitionedStore {

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed-table layout — the co-located-join half of the §5 rules
    * (`writePartitioned` handles directory pruning; this handles
    * exchange elimination). The frame is hash-bucketed on `keyCols`
    * into `buckets` files per partition and registered in the session
    * catalog (bucket metadata lives in the CATALOG, not the parquet
    * files — a plain `.parquet(path)` write cannot carry it), with
    * each bucket sorted on the keys so sort-merge joins skip their
    * sorts too.
    *
    * Two bucketed tables with the same bucket count joined or grouped
    * on the bucket key plan with ZERO shuffle exchanges: at 100 TB a
    * fact⋈fact equi-join is otherwise two full-data exchanges, and a
    * nightly-refreshed fact bucketed at write time amortizes that
    * shuffle across every downstream query forever (SourcesSpec pins
    * the exchange-free join and aggregate plans). Bucket count is a
    * stable layout contract — pick it for the TARGET scale (total
    * size / healthy task size), not the current one, because joins
    * only co-locate across tables with compatible bucket counts.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keyCols: Seq[String]): Unit = {
    // A managed table's LOCATION outlives the JVM while the in-memory
    // catalog entry dies with it; a leftover warehouse dir from a
    // previous session then fails the create with
    // LOCATION_ALREADY_EXISTS. If the catalog doesn't know the table,
    // the dir is an orphan — remove it. (When the table IS registered,
    // mode("overwrite") handles replacement normally.)
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.repartition(buckets, keyCols.map(col): _*)
      .write
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Catalog read of a bucketed table; the relation carries the bucket
    * spec, so Catalyst plans joins/aggregates on the bucket keys
    * without an exchange.
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Idempotent per-microbatch write — the `foreachBatch` target of
    * [[graft.streaming.EventStreams.sinkPartitioned]]. Every batch's
    * rows land under their own `graft_batch_id=<id>/...` partition
    * tree, and the write is batchId-GUARDED: if that tree already
    * exists (the batch is a replay — the driver died after the sink
    * wrote but before the checkpoint committed the offset), it is
    * deleted first and rewritten whole. Re-execution therefore
    * converges to exactly-once output without relying on dynamic
    * partition overwrite being total (a replay that planned fewer
    * inner partitions would otherwise leave orphans behind).
    *
    * An append does NOT collapse leaves: the batch is written as its
    * input partitions already lie (one job, no shuffle), so a leaf
    * holds up to one file per input partition. [[compactCommitted]] is
    * the one place where leaves are collapsed to one file each.
    *
    * Schema contract: the first append records the store's read
    * schema in the `_graft_schema` pointer — the data columns, then
    * `graft_batch_id` (bigint), then `partitionCols`, each with the
    * type the first batch gave it. Every later append must carry the
    * same column names in the same order with the same types
    * (nullability may differ) and fails before writing anything if it
    * does not, naming both schemas. [[readCommitted]] and
    * [[compactCommitted]] read with the recorded schema, so they never
    * run Spark's parquet footer-inference job.
    *
    * Concurrency contract: the delete-then-append replay is NOT atomic
    * — a reader scanning the store between the delete and the rewrite
    * sees the batch missing or partial. The sink is designed for the
    * drain-then-read pattern (`Trigger.AvailableNow`, readers start
    * after the stream drains, as StreamingSpec exercises). Continuous
    * readers need an atomic-rename layout (write the batch tree to a
    * temp dir, rename into place — rename is atomic on HDFS/POSIX but
    * NOT on S3) or a manifest-commit table format; out of scope here.
    */
  def writeBatch(df: DataFrame, path: String, partitionCols: Seq[String],
      batchId: Long): Unit = {
    val spark = df.sparkSession
    val out = df.withColumn("graft_batch_id", lit(batchId))
    val keys = "graft_batch_id" +: partitionCols
    val (parts, data) = out.schema.fields.partition(f => keys.contains(f.name))
    val schema = StructType((data ++ keys.flatMap(k => parts.find(_.name == k)))
      .map(_.copy(nullable = true)))
    val recorded = storeSchema(spark, path)
    recorded.foreach { r =>
      require(r.fieldNames.sameElements(schema.fieldNames) &&
        r.fields.lazyZip(schema.fields).forall((a, b) =>
          DataTypeUtils.equalsIgnoreNullability(a.dataType, b.dataType)),
        s"writeBatch: batch $batchId has schema ${schema.simpleString}, but the store at " +
          s"$path records ${r.simpleString}")
    }
    val batchDir = new org.apache.hadoop.fs.Path(path, s"graft_batch_id=$batchId")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(batchDir)) fs.delete(batchDir, true)
    out.write
      .partitionBy(keys: _*)
      .mode("append")
      .parquet(path)
    // recorded once the first batch has landed: a failed first write
    // records nothing, and readers resolve it only after a watermark
    // commit, which follows this call
    if (recorded.isEmpty) writePointerText(spark, path, SchemaName, schema.json)
  }

  private val SchemaName = "_graft_schema"
  private val BatchWatermarkName = "_graft_batch_watermark"
  private val CompactionName = "_graft_compaction"

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Read an atomic pointer file's text content, if present. */
  private def readPointerText(spark: SparkSession, path: String,
      name: String): Option[String] = {
    val (root, fs) = fsOf(spark, path)
    val m = new org.apache.hadoop.fs.Path(root, name)
    if (!fs.exists(m)) None
    else {
      // read to EOF, not to a pre-read length: an atomic pointer swap
      // between getFileStatus and open could shrink the file and turn
      // readFully(len) into a spurious EOFException
      val in = fs.open(m)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  /** Read an atomic pointer file (one long), if present. */
  private def readPointer(spark: SparkSession, path: String,
      name: String): Option[Long] =
    readPointerText(spark, path, name).map(_.toLong)

  /** Write-temp + ONE atomic rename over a pointer file — the only
    * mutation a reader can race with, all-or-nothing on POSIX/HDFS.
    * The temp name is unique PER WRITE: with a shared temp, two
    * concurrent same-pointer writers interleave create/truncate and
    * one can rename the other's half-written (or still-empty) bytes
    * into the live pointer — with unique temps, whichever rename
    * lands last installs a COMPLETE value (last-writer-wins, never
    * a torn read). Orphaned temps from a crashed writer are inert
    * dotfiles.
    *
    * The LOCAL scheme goes through POSIX rename(2) directly: Hadoop's
    * local rename-OVERWRITE is EMULATED as exists-check + delete +
    * rename, which (a) lets two concurrent overwriters race into
    * FileAlreadyExistsException and (b) opens a window where the live
    * pointer DOES NOT EXIST — a watermark/generation reader in that
    * window sees an empty store. rename(2) replaces the inode
    * atomically: the pointer is always present, readers holding the
    * old fd keep a complete old value. Checksum siblings (from any
    * earlier ChecksumFileSystem write of the same pointer) are
    * dropped so readers never verify new bytes against a stale crc.
    * HDFS-class stores keep the FileContext path — there the
    * OVERWRITE rename is atomic server-side.
    */
  private def writePointerText(spark: SparkSession, path: String,
      name: String, value: String): Unit = {
    val (root, fs) = fsOf(spark, path)
    val dst = new org.apache.hadoop.fs.Path(root, name)
    val bytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dstNio = Paths.get(dst.toUri.getPath)
      val tmpNio = dstNio.resolveSibling(
        s".$name.tmp.${java.util.UUID.randomUUID().toString}")
      Files.write(tmpNio, bytes)
      Files.deleteIfExists(dstNio.resolveSibling(s".$name.crc"))
      Files.move(tmpNio, dstNio, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new org.apache.hadoop.fs.Path(root,
        s".$name.tmp.${java.util.UUID.randomUUID().toString}")
      val out = fs.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        root.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private def writePointer(spark: SparkSession, path: String,
      name: String, value: Long): Unit =
    writePointerText(spark, path, name, value.toString)

  // ---- watermark-committed streaming append (round 11) ----
  //
  // The manifest-commit idea (the one under Iceberg/Delta) applied to
  // writeBatch's per-batch trees: batches land (idempotently,
  // delete-and-rewrite on replay) under
  // graft_batch_id=<id>, and ONE pointer file holds the highest
  // COMMITTED batch id. A reader filters graft_batch_id <= watermark —
  // a planning-time partition-pruning predicate — so it sees every
  // committed batch whole and never a batch that is mid-write or
  // mid-replay. Because Spark microbatch ids are strictly increasing
  // and writeBatch rewrites exactly its own tree, a single watermark
  // long IS the full manifest. The pointer swap is one single-file
  // rename (`writePointerText`), atomic on POSIX/HDFS; on S3 the
  // pointer would live in a conditional-put object or a catalog —
  // same protocol, different primitive.

  /** The read schema the store's first [[writeBatch]] recorded. */
  private def storeSchema(spark: SparkSession, path: String): Option[StructType] =
    readPointerText(spark, path, SchemaName).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Advance the committed-batch watermark (atomic pointer swap). */
  def commitBatchWatermark(spark: SparkSession, path: String, batchId: Long): Unit =
    writePointer(spark, path, BatchWatermarkName, batchId)

  /** Highest committed batch id, if any batch has been committed. */
  def batchWatermark(spark: SparkSession, path: String): Option[Long] =
    readPointer(spark, path, BatchWatermarkName)

  /** Consistent read of a streaming-append store: only batches at or
    * below the committed watermark are visible (partition-pruned at
    * planning time — graft_batch_id is a partition column). Throws if
    * no batch was ever committed: an uncommitted store has no
    * consistent view to offer.
    *
    * Compaction-aware (see [[compactCommitted]]): when a compaction
    * generation is live, batches at or below its covered watermark
    * come from the compacted generation directory (which is NEVER
    * mutated after its pointer commit) and only newer batches from
    * the append root — so a reader racing a concurrent compaction
    * still sees every committed batch exactly once: it resolves the
    * pointers first, and both the generation it lands on and the root
    * trees above that generation's cover are immutable for the
    * duration of its scan.
    *
    * The frame reads with the schema the store's first [[writeBatch]]
    * recorded (`_graft_schema`): `graft_batch_id` is always bigint, and
    * building the frame runs no Spark job, only pointer reads and a
    * file listing. A store without that pointer was not written by
    * [[writeBatch]] and fails loudly.
    */
  def readCommitted(spark: SparkSession, path: String): DataFrame = {
    val wm = batchWatermark(spark, path).getOrElse(
      throw new IllegalStateException(s"readCommitted: no committed batches at $path"))
    readCommittedAt(spark, path, wm)
  }

  /** Current compaction generation and its covered watermark. */
  def compactionGeneration(spark: SparkSession, path: String): Option[(Long, Long)] =
    readPointerText(spark, path, CompactionName).map { s =>
      val Array(g, cov) = s.split(":", 2); (g.toLong, cov.toLong)
    }

  /** The committed view at watermark `wm`. Both the root and the
    * generation read take the schema [[writeBatch]] recorded, so
    * building the frame lists files but runs no Spark job.
    */
  private def readCommittedAt(spark: SparkSession, path: String,
      wm: Long): DataFrame = {
    val schema = storeSchema(spark, path).getOrElse(throw new IllegalStateException(
      s"readCommitted: no $SchemaName at $path (stores are written by writeBatch)"))
    def read(dir: String) = spark.read.schema(schema).parquet(dir)
    compactionGeneration(spark, path) match {
      case None =>
        read(path).filter(col("graft_batch_id") <= wm)
      case Some((g, cov)) =>
        // min(cov, wm) guards the one benign race: a reader that
        // resolved an OLDER watermark than the compaction pointer
        // must not see batches its watermark read didn't admit
        val genDf = read(s"$path/$CompactedDir/$g")
          .filter(col("graft_batch_id") <= math.min(cov, wm))
        if (cov >= wm) genDf
        else genDf.unionByName(
          read(path).filter(col("graft_batch_id") > cov && col("graft_batch_id") <= wm))
    }
  }

  private val CompactedDir = ".graft_compacted"

  /** READER-SAFE compaction of a committed-batch store — the
    * concurrent-reader answer [[compact]]'s delete-and-rename contract
    * explicitly excludes, built from the same manifest-commit idea as
    * the watermark: the compacted copy of every batch at or
    * below the current watermark is written WHOLE under a fresh
    * generation directory (`.graft_compacted/<g>` — dot-prefixed, so
    * root partition discovery never sees it), then ONE atomic pointer
    * swap makes it live. Nothing a reader can hold is ever mutated:
    * pre-swap readers keep scanning the previous generation + root
    * trees (untouched until [[vacuumCommitted]]), post-swap readers
    * get the new generation; a batch committed by the WRITER while
    * the compaction ran stays visible through the root-side union in
    * [[readCommitted]] (the pointer's covered watermark fences it).
    *
    * One file per (batch, partition) leaf — the repartition keys every
    * leaf's rows into a single task, the [[compact]] economics without
    * the swap window. This is the one place a committed store's leaves
    * are collapsed: [[writeBatch]] appends each batch as its input
    * partitions lie, and the compaction reads the committed view with
    * the store's recorded `_graft_schema`, so its only jobs are the
    * shuffle and the write. Returns the new generation id.
    *
    * CONCURRENT COMPACTORS are safe (round 13): the generation is
    * built under a unique dot-tmp directory and then RENAME-ALLOCATED
    * into the next free numbered slot — rename-if-absent is atomic on
    * a real filesystem, so two racing compactors can never write the
    * same generation directory (the old `max+1 then overwrite` scheme
    * let the second compactor delete-and-rewrite a directory a reader
    * had already resolved). The pointer swap stays last-writer-wins,
    * and EITHER order is lossless: each generation is immutable with
    * its own recorded cover, and [[readCommitted]] unions root trees
    * above whichever cover the live pointer names — a committed batch
    * is either inside the live generation or still in the root.
    * An abandoned tmp dir (compactor died mid-write) is unreferenced
    * junk space; it is never made live and [[vacuumCommitted]] leaves
    * tmps alone (a live compactor may still be filling one).
    */
  def compactCommitted(spark: SparkSession, path: String,
      partitionCols: Seq[String]): Long = {
    val wm = batchWatermark(spark, path).getOrElse(
      throw new IllegalStateException(s"compactCommitted: no committed batches at $path"))
    val (root, fs) = fsOf(spark, path)
    val cdir = new org.apache.hadoop.fs.Path(root, CompactedDir)
    val tmpDir = new org.apache.hadoop.fs.Path(cdir,
      s".tmp_${java.util.UUID.randomUUID().toString}")
    val keys = "graft_batch_id" +: partitionCols
    readCommittedAt(spark, path, wm)
      .repartition(keys.map(col): _*)
      .write.partitionBy(keys: _*)
      .mode("overwrite").parquet(tmpDir.toString)
    // the generation records its own cover so vacuum can later tell
    // which root batch trees its readers can still reach
    val out = fs.create(new org.apache.hadoop.fs.Path(tmpDir, "_graft_cover"), true)
    try out.write(wm.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // allocate the next numbered slot atomically: rename fails (false)
    // when the target exists, so a concurrent winner just bumps us to
    // the next number — no generation is ever overwritten
    var g = {
      val existing = fs.listStatus(cdir).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
        .map(_.getPath.getName.toLong)
      (existing :+ 0L).max + 1L
    }
    while (!fs.rename(tmpDir, new org.apache.hadoop.fs.Path(cdir, g.toString)))
      g += 1L
    writePointerText(spark, path, CompactionName, s"$g:$wm")
    g
  }

  /** Drop compaction generations older than the live one (keeping
    * `keep` predecessors for in-flight readers) and the root batch
    * trees that even the OLDEST KEPT generation already covers — any
    * reader that can still resolve a pointer reads a kept generation,
    * and a kept generation serves every batch at or below its own
    * recorded cover, so those root trees are unreachable. The vacuum
    * half of [[compactCommitted]]'s protocol.
    *
    * The PRE-first-compaction view (pointer absent — the reader scans
    * only root batch trees) counts as GENERATION 0 in the keep
    * window: root trees are deleted only once generation 0 falls
    * outside it (`live - keep >= 1`), so a reader that resolved its
    * watermark before any compaction pointer existed keeps a
    * consistent scan through compact+vacuum landing mid-read —
    * without this gate, keep=1 with a single live generation would
    * still delete the trees that reader is scanning. In-flight
    * compactor tmp dirs (`.tmp_*`) are never touched: they are
    * unreferenced until their atomic rename, and a live compactor
    * may still be filling one.
    */
  def vacuumCommitted(spark: SparkSession, path: String, keep: Int = 1): Unit = {
    val (root, fs) = fsOf(spark, path)
    compactionGeneration(spark, path).foreach { case (live, _) =>
      val cdir = new org.apache.hadoop.fs.Path(root, CompactedDir)
      if (!fs.exists(cdir)) return
      val gens = fs.listStatus(cdir).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
        .map(_.getPath.getName.toLong).sorted
      gens.filter(_ < live - keep).foreach { g =>
        fs.delete(new org.apache.hadoop.fs.Path(cdir, g.toString), true)
      }
      if (live - keep < 1) return // generation 0 (root-only view) still kept
      val oldestKept = gens.filter(_ >= live - keep).headOption.getOrElse(live)
      val coverFile = new org.apache.hadoop.fs.Path(
        cdir, s"$oldestKept/_graft_cover")
      if (fs.exists(coverFile)) {
        val buf = new Array[Byte](fs.getFileStatus(coverFile).getLen.toInt)
        val in = fs.open(coverFile)
        try in.readFully(buf) finally in.close()
        val cov = new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        fs.listStatus(root).toSeq
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith("graft_batch_id="))
          .filter(_.getPath.getName.stripPrefix("graft_batch_id=").toLong <= cov)
          .foreach(s => fs.delete(s.getPath, true))
      }
    }
  }

  /** Small-file compaction — the table-maintenance half of the layout
    * story. Streaming sinks ([[writeBatch]]) and high-parallelism
    * writers fragment a partition directory into one file per task;
    * at 100 TB that multiplies scan open/footer costs, planner
    * listing time, and (on object stores) request counts until reads
    * are dominated by per-file overhead. `compact` rewrites ONLY the
    * leaf directories that need it — more files than
    * `ceil(bytes / targetBytes)` — to that file count, leaving
    * healthy partitions untouched, so a nightly pass over a 100 TB
    * table costs proportional to the day's fragmentation, not the
    * table.
    *
    * Each rewrite is a distributed read→coalesce→write job; the
    * driver holds only the partition listing (bounded by the layout
    * contract: partition columns have bounded cardinality). The swap
    * is write-to-temp + delete + rename — atomic per directory on
    * POSIX/HDFS, NOT on S3 (same contract as [[writeBatch]]: designed
    * for maintenance windows / drain-then-read, not concurrent
    * readers; a manifest-commit table format is the continuous-reader
    * answer and out of scope).
    *
    * Returns (dir → (filesBefore, filesAfter)) for the rewritten
    * directories — the observability a maintenance job logs.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Map[String, (Int, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def leafDirs(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val entries = fs.listStatus(p).toSeq
      val subdirs = entries.filter(_.isDirectory).map(_.getPath)
      if (subdirs.isEmpty) Seq(p) else subdirs.flatMap(leafDirs)
    }

    leafDirs(root).flatMap { dir =>
      val parts = fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      val bytes = parts.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (parts.length <= want) None
      else {
        val tmp = new org.apache.hadoop.fs.Path(
          dir.getParent, s".graft_compact_tmp_${dir.getName}")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        // the dir read sees only data columns; partition values live in
        // the directory name and are restored by the rename
        spark.read.parquet(dir.toString)
          .coalesce(want)
          .write.mode("overwrite").parquet(tmp.toString)
        // keep _SUCCESS out of the swapped-in dir (readers list part-*)
        fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
        fs.delete(dir, true)
        require(fs.rename(tmp, dir), s"compact: rename $tmp -> $dir failed")
        val after = fs.listStatus(dir).count(_.getPath.getName.startsWith("part-"))
        Some(dir.toString -> (parts.length, after))
      }
    }.toMap
  }

  /** Morton (Z-order) value for multi-dimensional clustering: each
    * column is uniform-bucketed into `2^bitsPerCol` cells over its
    * `[min, min + width·2^bitsPerCol)` domain and the cell indices are
    * BIT-INTERLEAVED, so rows close in z are close in EVERY clustered
    * dimension at once. Pure codegen'd column arithmetic (shifts,
    * masks, one clamped division per column).
    *
    * Contract: per-column span must fit 2^53 (the bucket division
    * floors an exact double); nulls land in cell 0 (nulls-first).
    */
  def zValue(cols: Seq[org.apache.spark.sql.Column], mins: Seq[Long],
      widths: Seq[Long], bitsPerCol: Int): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.size * bitsPerCol <= 62,
      s"z-value needs cols*bits <= 62, got ${cols.size}*$bitsPerCol")
    val n = cols.size
    val cells = 1L << bitsPerCol
    val buckets = cols.lazyZip(mins).lazyZip(widths).map { (c, mn, w) =>
      least(
        greatest(
          coalesce(
            floor((c.cast("long") - lit(mn)).cast("double") / lit(w.toDouble))
              .cast("long"),
            lit(0L)),
          lit(0L)),
        lit(cells - 1))
    }
    var z = lit(0L)
    for (i <- 0 until bitsPerCol; j <- 0 until n)
      z = z + shiftleft(shiftright(buckets(j), i).bitwiseAND(lit(1L)), i * n + j)
    z
  }

  /** Z-ORDERED layout — the multi-column half of the data-skipping
    * story (`writePartitioned` prunes directories on ONE bounded-
    * cardinality column; bucketing co-locates joins; this makes
    * row-group statistics selective on SEVERAL range-predicate columns
    * at once). A linear sort gives the leading column tight per-row-
    * group min/max and leaves every other column's ranges spanning the
    * whole domain; interleaving the bucketed bits gives every
    * clustered column ~tight ranges, so a 2-D box predicate skips the
    * row groups a 1-D sort must read (the Delta/Iceberg OPTIMIZE
    * ZORDER operation, from the public literature — Morton curves).
    *
    * Write cost: one min/max stats pass (driver state = 2 longs per
    * column), then one range-exchange on the z-value — the same
    * pay-once economics as `writeBucketed`. `rowGroupBytes` sets the
    * parquet block size: the skipping GRANULE; size it so groups ≫
    * page overhead but well under a task's memory at target scale.
    * Readers use plain `spark.read.parquet` — the clustering lives in
    * the file statistics, not the catalog; range predicates reach the
    * scan as ordinary `PushedFilters` and the reader drops whole row
    * groups by footer stats (pinned vs the 1-D sort in SourcesSpec).
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      files: Int = 8, bitsPerCol: Int = 16,
      rowGroupBytes: Long = 128L << 20): Unit = {
    val aggCols = cols.flatMap(c =>
      Seq(min(col(c)).cast("long").as(s"mn_$c"),
        max(col(c)).cast("long").as(s"mx_$c")))
    val row = df.agg(aggCols.head, aggCols.tail: _*).head()
    val cells = 1L << bitsPerCol
    val mins = cols.map(c => row.getAs[Long](s"mn_$c"))
    val widths = cols.zip(mins).map { case (c, mn) =>
      val span = row.getAs[Long](s"mx_$c") - mn + 1
      math.max(1L, (span + cells - 1) / cells)
    }
    df.withColumn("graft_z", zValue(cols.map(col), mins, widths, bitsPerCol))
      .repartitionByRange(files, col("graft_z"))
      .sortWithinPartitions("graft_z")
      .drop("graft_z")
      .write
      .option("parquet.block.size", rowGroupBytes.toString)
      .mode("overwrite")
      .parquet(path)
  }
}
