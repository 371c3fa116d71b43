package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.util.NioLocalFileSystem

/** The engine's local filesystem leaves files and dirs with the POSIX
  * permissions the stock `LocalFileSystem` gives them, and hands what
  * `PosixFilePermission` cannot express (the sticky bit) to the stock
  * path. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def nio: FileSystem =
    FileSystem.get(java.net.URI.create("file:///"),
      NioLocalFileSystem.conf(conf))

  /** `unix:mode` holds the sticky bit, which the POSIX view drops. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every entry under `root` keyed by its path relative to `root`
    * with the part files' unique ids masked, mapped to its mode. */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.toSeq.map { p =>
      root.relativize(p).toString
        .replaceAll("part-\\d+-[0-9a-f-]+", "part-*") -> mode(p)
    }.toMap

  test("a store-option conf resolves file: to the engine's filesystem, " +
    "and the session's own file: filesystem stays cached and stock") {
    assert(nio.isInstanceOf[NioLocalFileSystem])
    assert(nio ne nio, "file: must bypass the FileSystem cache")
    val file = java.net.URI.create("file:///")
    assert(!FileSystem.get(file, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(file, conf) eq FileSystem.get(file, conf))
  }

  test("create and mkdirs leave the stock modes on files, .crc files " +
    "and dirs") {
    val stock = FileSystem.getLocal(conf)
    def build(fs: FileSystem, root: JPath): Map[String, Int] = {
      assert(fs.mkdirs(new Path(root.toString, "a/b")))
      val out = fs.create(new Path(root.toString, "a/b/f.bin"), true)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      modes(root)
    }
    val want = build(stock, Files.createTempDirectory("perm_stock_"))
    val got = build(nio, Files.createTempDirectory("perm_nio_"))
    assert(got === want)
    // Hadoop's default umask, 022
    assert(want("a/b") === Integer.parseInt("755", 8))
    assert(want("a/b/f.bin") === Integer.parseInt("644", 8))
    assert(want("a/b/.f.bin.crc") === Integer.parseInt("644", 8))
  }

  test("a store write leaves the modes of a stock parquet write") {
    import spark.implicits._
    val rows = (0L until 64L).toDF("id")
      .withColumn("kb", pmod(col("id"), lit(8)).cast("int"))
    val stockDir = Files.createTempDirectory("perm_stock_write_")
    val nioDir = Files.createTempDirectory("perm_nio_write_")
    rows.repartition(col("kb")).write.mode("overwrite").partitionBy("kb")
      .parquet(stockDir.resolve("t").toString)
    ops.BucketedStore.writeBucketed(rows, nioDir.resolve("t").toString,
      "overwrite", "kb", Seq("id"))
    val want = modes(stockDir)
    assert(want.size > 8 * 2)
    assert(modes(nioDir) === want)
  }

  test("setPermission sets the requested bits, and a sticky bit goes " +
    "through the stock path") {
    val raw = new NioLocalFileSystem.Raw
    raw.initialize(java.net.URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("perm_bits_")
    val f = Files.createFile(dir.resolve("f"))
    raw.setPermission(new Path(f.toString), new FsPermission("640"))
    assert(Files.getPosixFilePermissions(f) ===
      PosixFilePermissions.fromString("rw-r-----"))
    raw.setPermission(new Path(dir.toString), new FsPermission("1750"))
    assert(mode(dir) === Integer.parseInt("1750", 8))
    raw.setPermission(new Path(dir.toString), new FsPermission("700"))
    assert(mode(dir) === Integer.parseInt("700", 8))
  }
}
