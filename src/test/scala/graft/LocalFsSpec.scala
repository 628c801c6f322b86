package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` paths are written through [[ForkFreeLocalFileSystem]] (and,
  * from Hadoop's `FileContext` API, its `Fs`), which sets permissions
  * in-process instead of forking `chmod`; the files, `.crc` checksums
  * and mode bits must be the ones Hadoop's stock `LocalFileSystem`
  * (`LocalFs`) writes.
  */
class LocalFsSpec extends SparkSpec {

  private val fileUri = new URI("file:///")

  private def fresh(): ForkFreeLocalFileSystem = {
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(fileUri, new Configuration())
    fs
  }

  /** `ls -l`-style rwx string of an octal mode, built bit by bit. */
  private def rwx(mode: Int): String =
    (8 to 0 by -1).map(b => if ((mode & (1 << b)) == 0) '-' else "xwr"(b % 3)).mkString

  private def modeOf(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  // part files carry a per-job UUID
  private val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}".r

  /** Every path under `dir`, relative and UUID-masked, with its mode. */
  private def tree(dir: JPath): Map[String, String] =
    Files.walk(dir).iterator.asScala.filter(_ != dir).map { p =>
      uuid.replaceAllIn(dir.relativize(p).toString, "UUID") -> modeOf(p)
    }.toMap

  test("file: resolves to ForkFreeLocalFileSystem from GraftSession.local's and the test session's Hadoop conf") {
    val cls = classOf[ForkFreeLocalFileSystem]
    assert(FileSystem.getFileSystemClass("file", spark.sparkContext.hadoopConfiguration) === cls)
    assert(new Path("file:///tmp").getFileSystem(spark.sparkContext.hadoopConfiguration).getClass === cls)
    // GraftSession.local's builder: Spark copies each spark.hadoop.* option,
    // prefix stripped, into the new context's Hadoop conf
    val b = GraftSession.localBuilder(2)
    val opts = Class.forName("org.apache.spark.sql.SparkSessionBuilder").getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    val conf = new Configuration(false)
    opts.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop.")) conf.set(k.stripPrefix("spark.hadoop."), v)
    }
    assert(FileSystem.getFileSystemClass("file", conf) === cls)
  }

  test("setPermission sets every mode 000-777, read back through java.nio") {
    val fs = fresh()
    val dir = Files.createTempDirectory("graft_localfs_")
    try {
      val f = Files.createFile(dir.resolve("f"))
      for (mode <- 0 until 512) {
        fs.setPermission(new Path(f.toUri), new FsPermission(mode.toShort))
        assert(modeOf(f) === rwx(mode), f"mode $mode%03o")
      }
    } finally FileSystem.get(fileUri, new Configuration()).delete(new Path(dir.toUri), true)
  }

  test("a partitioned parquet write leaves the stock LocalFileSystem's files, .crc siblings and modes") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_localfs_")
    val df = (0 until 60).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "v").repartition(2)
    try {
      val forkFree = root.resolve("fork_free")
      df.write.partitionBy("p").parquet(forkFree.toString)
      val stock = root.resolve("stock")
      withConf("fs.file.impl", classOf[LocalFileSystem].getName) {
        withConf("fs.file.impl.disable.cache", "true") {
          assert(FileSystem.getFileSystemClass("file", spark.sessionState.newHadoopConf()) ===
            classOf[LocalFileSystem])
          df.write.partitionBy("p").parquet(stock.toString)
        }
      }
      val got = tree(forkFree)
      assert(got.keys.count(_.endsWith(".crc")) >= 4, got.keys)
      assert(got.keys.count(k => k.startsWith("p=") && !k.contains("/")) === 3, got.keys)
      assert(got === tree(stock))
      assert(spark.read.parquet(forkFree.toString).except(df.select("id", "v", "p")).isEmpty)
    } finally FileSystem.get(fileUri, new Configuration()).delete(new Path(root.toUri), true)
  }

  test("a mode with the sticky bit falls back to Hadoop's own setPermission") {
    val fs = fresh()
    val dir = Files.createTempDirectory("graft_localfs_")
    try {
      val p = new Path(dir.toUri)
      fs.setPermission(p, new FsPermission(Integer.parseInt("1777", 8).toShort))
      val perm = fs.getFileStatus(p).getPermission
      assert(perm.getStickyBit)
      assert(modeOf(dir) === "rwxrwxrwx")
    } finally FileSystem.get(fileUri, new Configuration()).delete(new Path(dir.toUri), true)
  }

  test("FileContext's file: resolves to ForkFreeLocalFileSystem.Fs and creates LocalFs's files, .crc siblings and modes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val forkFree = FileContext.getFileContext(fileUri, conf)
    assert(forkFree.getDefaultFileSystem.getClass === classOf[ForkFreeLocalFileSystem.Fs])
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val stock = FileContext.getFileContext(fileUri, stockConf)
    assert(stock.getDefaultFileSystem.getClass === classOf[LocalFs])
    val root = Files.createTempDirectory("graft_localfs_")
    // a checkpoint-style create: missing parents made on the way
    def create(fc: FileContext, dir: String): JPath = {
      val out = fc.create(new Path(root.resolve(s"$dir/offsets/0").toUri),
        java.util.EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent())
      try out.write(Array.tabulate[Byte](3000)(i => (i * 7).toByte)) finally out.close()
      root.resolve(dir)
    }
    try {
      val got = tree(create(forkFree, "fork_free"))
      val want = tree(create(stock, "stock"))
      assert(got.keySet === Set("offsets", "offsets/0", "offsets/.0.crc"))
      assert(got === want)
      assert(Files.readAllBytes(root.resolve("fork_free/offsets/.0.crc")).toSeq ===
        Files.readAllBytes(root.resolve("stock/offsets/.0.crc")).toSeq)
    } finally FileSystem.get(fileUri, new Configuration()).delete(new Path(root.toUri), true)
  }
}
