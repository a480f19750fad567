package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faultfs:` scheme, with one armed
  * fault: the n-th `rename` (or `delete`) whose target lies under a
  * given directory throws. Targets elsewhere (a writer's `_temporary`
  * output under a sibling tmp dir) are not counted, so the fault lands
  * on a storage swap, not on the Spark write before it. */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs:///")

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.hit("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.hit("delete", p)
    super.delete(p, recursive)
  }
}

object FaultFs {
  private final case class Armed(op: String, under: String, nth: Int, seen: AtomicInteger)
  @volatile private var armed: Option[Armed] = None

  /** Registers the scheme on `spark`; returns a fresh `faultfs:` root. */
  def root(spark: SparkSession, local: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    s"faultfs://$local"
  }

  /** Run `f` with the `nth` `op` ("rename" or "delete") of a path under
    * `dir` throwing; the fault is disarmed when `f` returns or throws. */
  def during[T](op: String, dir: String, nth: Int)(f: => T): T = {
    armed = Some(Armed(op, new Path(dir).toUri.getPath.stripSuffix("/") + "/", nth,
      new AtomicInteger))
    try f finally armed = None
  }

  private def hit(op: String, p: Path): Unit = armed.foreach { a =>
    if (a.op == op && p.toUri.getPath.startsWith(a.under) &&
        a.seen.incrementAndGet() == a.nth)
      throw new java.io.IOException(s"injected fault: $op #${a.nth} of ${p.toUri.getPath}")
  }
}
