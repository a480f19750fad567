package graft.maintain

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.catalog.TableStore

/** Small-file compaction.
  *
  * The reference runs LSM-style tiered compaction (L0 <16MB ≥5 files →
  * L1 <64MB ≥3 → L2 <256MB ≥2 → L3 <1GB, `compaction/manager.go:44-110`)
  * because every flush uploads a small object. Here the same pathology
  * (many small parquet files per date partition from buffered flushes) is
  * fixed with a per-partition rewrite: if a partition has ≥ minFiles
  * data files, it is replaced through [[TableStore.replacePartitions]]
  * by ceil(bytes / targetBytes) files. One partition at a time keeps the
  * job incremental and restart-safe, like the reference's
  * ≤20-files-per-run cooldown behavior. */
class Compaction(
    store: TableStore,
    minFiles: Int = 4,
    targetBytes: Long = 128L << 20) {

  private def spark = store.spark

  final case class PartitionStats(partition: String, files: Int, bytes: Long)

  /** Data-file stats per date partition. */
  def partitionStats(table: String): Seq[PartitionStats] = {
    val root = new Path(store.tablePath(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    store.partitionDirs(table).map { name =>
      val files = fs.listStatus(new Path(root, name)).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      PartitionStats(name, files.length, files.map(_.getLen).sum)
    }
  }

  /** Compact every partition exceeding the file-count threshold; returns
    * (partitionsCompacted, filesBefore, filesAfter). Runs under the
    * table's mutation lock — a concurrent delete/update rewriting the
    * same partition would interleave directory swaps and lose rows. */
  def compact(table: String): (Int, Int, Int) = store.withTableLock(table) {
    store.flush(table)
    val victims = partitionStats(table).filter(_.files >= minFiles).map(ps =>
      ps -> math.max(1, math.ceil(ps.bytes.toDouble / targetBytes).toInt))
    // one listing for every victim; each reads only its own partition
    lazy val df = store.storageDf(table)
    victims.foreach { case (ps, target) =>
      val rows = ps.partition.stripPrefix("date=") match {
        case "__HIVE_DEFAULT_PARTITION__" => df.filter(col("date").isNull)
        case d => df.filter(col("date") === d)
      }
      store.replacePartitions(table, Some(rows.repartition(target)), Seq(ps.partition))
    }
    (victims.size, victims.map(_._1.files).sum, victims.map(_._2).sum)
  }
}
