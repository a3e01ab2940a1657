package graft

import graft.core.{ColumnSpec, NioLocalFileSystem, NioLocalFs, SourceConfig}
import graft.store.TableStore
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files, LinkOption, Path => JPath}
import scala.jdk.CollectionConverters._

/** The session's `file:` scheme is the fork-free local filesystem, and it
  * keeps what the stock one guarantees: mode bits, `.crc` sidecars and
  * their verification, symlink statuses, sticky bits.
  */
class LocalFsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(URI.create("file:///"), conf)

  private def walk(dir: JPath): Seq[JPath] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))

  test("the session's FileSystem and FileContext are the fork-free classes") {
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  private val source = SourceConfig(
    name = "lf", filePattern = "x.parquet", sourceType = "parquet",
    columns = Seq(ColumnSpec.long("id", nullable = false), ColumnSpec.string("v")),
    tableName = "lf", grain = Seq("id"))

  private def published(): (TableStore, JPath) = {
    val root = Files.createTempDirectory("graft_localfs")
    val store = new TableStore(spark, root.toString, publishBuckets = 4)
    val sp = spark
    import sp.implicits._
    val stage = (1L to 50L).map(i => i -> s"v$i").toDF("id", "v")
      .withColumn("etl_row_hash", xxhash64(col("id"), col("v")))
      .withColumn("source_filename", lit("x.parquet"))
      .withColumn("file_load_log_id", lit(1L))
    assert(store.publish("lf", stage, source, new java.sql.Timestamp(1000L)) == ((50L, 0L)))
    (store, root.resolve("lf"))
  }

  test("a publish writes files at 644, directories at 755, a .crc beside every part file") {
    val (_, table) = published()
    val (dirs, files) = walk(table).partition(Files.isDirectory(_))
    val parts = files.filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.nonEmpty && files.exists(_.getFileName.toString == "_VERSION"))
    files.foreach(f => assert(mode(f) == "rw-r--r--", f))
    dirs.foreach(d => assert(mode(d) == "rwxr-xr-x", d))
    parts.foreach(p => assert(Files.isRegularFile(p.resolveSibling(s".${p.getFileName}.crc")), p))
  }

  test("a byte flipped in a published part file fails the read with ChecksumException") {
    val (store, table) = published()
    val part = walk(table).find(_.getFileName.toString.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(part)
    bytes(4) = (bytes(4) ^ 0xff).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](store.readIfExists("lf").get.collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("getFileLinkStatus reports a symlink; a regular file is its own link status") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L)
  }

  test("setPermission: plain modes through NIO, a sticky bit through the inherited path") {
    val dir = Files.createTempDirectory("graft_localfs_mode")
    val f = new Path(Files.write(dir.resolve("f"), "x".getBytes).toString)
    fs.setPermission(f, new FsPermission("640"))
    assert(mode(dir.resolve("f")) == "rw-r-----")
    val sticky = new Path(dir.resolve("sticky").toString)
    assert(fs.mkdirs(sticky, new FsPermission("750")))
    assert(mode(dir.resolve("sticky")) == "rwxr-x---")
    fs.setPermission(sticky, new FsPermission("1755"))
    assert((Files.getAttribute(dir.resolve("sticky"), "unix:mode").asInstanceOf[Int] & 0xfff) ==
      Integer.parseInt("1755", 8))
    val st = fs.getFileStatus(sticky)
    assert(st.getPermission.getStickyBit && st.getPermission.toShort == Integer.parseInt("1755", 8))
    assert(st.getOwner == Files.getOwner(dir).getName)
  }
}
