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
  * data files, rewrite it into ceil(bytes / targetBytes) files. One
  * partition at a time keeps the job incremental and restart-safe, like
  * the reference's ≤20-files-per-run cooldown behavior. */
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
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("date="))
      .map { st =>
        val files = fs.listStatus(st.getPath).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        PartitionStats(st.getPath.getName, files.length, files.map(_.getLen).sum)
      }
  }

  /** Compact every partition exceeding the file-count threshold; returns
    * (partitionsCompacted, filesBefore, filesAfter). Runs under the
    * table's mutation lock — a concurrent delete/update rewriting the
    * same partition would interleave directory swaps and lose rows. */
  def compact(table: String): (Int, Int, Int) = store.withTableLock(table) {
    store.flush(table)
    val victims = partitionStats(table).filter(_.files >= minFiles)
    var before = 0
    var after = 0
    // the version is bumped even when a swap throws partway: the
    // partitions already swapped are changed storage
    try victims.foreach { ps =>
      val dir = s"${store.tablePath(table)}/${ps.partition}"
      val target = math.max(1, math.ceil(ps.bytes.toDouble / targetBytes).toInt)
      val df = spark.read.option("mergeSchema", "true").parquet(dir)
      // tmp must live OUTSIDE the table root: a 'date=…__compact_tmp'
      // sibling would be discovered as a data partition by concurrent or
      // post-crash reads
      val tmp = new Path(s"${store.tablePath(table)}__compact_tmp/${ps.partition}")
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      // preserve the flush path's point-lookup layout: id-clustered rows
      // (tight row-group min/max) + parquet bloom on id — a plain
      // repartition write silently regressed both
      val clustered =
        if (df.columns.contains("id"))
          df.repartition(target).sortWithinPartitions(col("id"))
        else df.repartition(target)
      clustered.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#id", "true")
        .parquet(tmp.toString)
      val dst = new Path(dir)
      fs.delete(dst, true)
      fs.rename(tmp, dst)
      before += ps.files
      after += target
    } finally if (victims.nonEmpty) store.bumpVersion(table)
    if (victims.nonEmpty) {
      // remove the (now-empty) tmp parent left after partition renames
      val tmpParent = new Path(store.tablePath(table) + "__compact_tmp")
      val fs = tmpParent.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(tmpParent)) fs.delete(tmpParent, true)
    }
    (victims.size, before, after)
  }
}
