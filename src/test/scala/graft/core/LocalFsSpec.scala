package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.util.Using

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.DynRecord

/** [[LocalFs]] must leave every file and directory with the mode stock
  * Hadoop gives it; it only changes how the mode is set. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def raw[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(new URI("file:///"), conf); fs
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def unixMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("setPermission gives the stock mode bits on files and directories") {
    val dir = JPath.of(tmpDir("localfs-modes"))
    val (ours, stock) = (raw(new LocalFs.Raw), raw(new RawLocalFileSystem))
    for (octal <- Seq("600", "640", "644", "700", "755", "777"); dirLike <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val Seq(a, b) = Seq("ours", "stock").map { who =>
        val p = dir.resolve(s"$who-$octal-$dirLike")
        if (dirLike) Files.createDirectory(p) else Files.createFile(p)
      }
      ours.setPermission(new Path(a.toUri), perm)
      stock.setPermission(new Path(b.toUri), perm)
      assert(mode(a) == mode(b), s"mode 0$octal dir=$dirLike")
      assert(mode(a) == perm.toString)
    }
  }

  test("a sticky-bit mode goes to the stock implementation") {
    val d = Files.createDirectory(JPath.of(tmpDir("localfs-sticky")).resolve("d"))
    val sticky = Integer.parseInt("1777", 8)
    raw(new LocalFs.Raw).setPermission(new Path(d.toUri), new FsPermission(sticky.toShort))
    assert((unixMode(d) & 0xfff) == sticky, f"mode 0${unixMode(d) & 0xfff}%o")
  }

  test("the session's file: filesystem is LocalFs") {
    // FileSystem caches per scheme, not per configuration: a file:
    // instance made before the session would shadow the registration
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[LocalFs])
  }

  test("WAL segment, its .crc and a flushed part file keep the stock mode") {
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    val ref = new Path(new Path(JPath.of(tmpDir("localfs-stock")).toUri), "f")
    stock.create(ref).close()
    val refMode = mode(JPath.of(ref.toUri))
    val refCrcMode = mode(JPath.of(stock.getChecksumFile(ref).toUri))

    val store = new TableStore(spark, tmpDir("localfs-store"))
    store.write("t", Seq(DynRecord("a", Timestamp.valueOf("2024-01-01 00:00:00"), Map("v" -> 1))))
    val wal = JPath.of(store.tablePath("t"), "_graft_wal")
    val walFiles = wal.toFile.listFiles().map(_.toPath).toSeq
    val seg = walFiles.filter(_.getFileName.toString.startsWith("w-"))
    val crc = walFiles.filter(_.getFileName.toString.endsWith(".crc"))
    assert(seg.size == 1 && crc.size == 1, walFiles.mkString(", "))
    assert(mode(seg.head) == refMode && mode(crc.head) == refCrcMode)

    store.flush("t")
    val parts = Using.resource(Files.walk(JPath.of(store.tablePath("t"))))(
      _.toArray.map(_.asInstanceOf[JPath]).filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    assert(parts.nonEmpty)
    parts.foreach(p => assert(mode(p) == refMode, p.toString))
  }
}
