package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.TableStore
import graft.ingest.DynRecord
import graft.serve.ServiceFacade

/** [[TableStore]] with a span around each catalog call the served path
  * makes. Behaviour is the parent's; only timing is added. */
final class TracedStore(spark: SparkSession, root: String, t: Tracer)
    extends TableStore(spark, root) {

  override def write(table: String, records: Seq[DynRecord]): Unit =
    t.span("catalog.write") { s => s.attr("rows", records.size); super.write(table, records) }

  override def flush(table: String): Unit =
    t.span("catalog.flush") { _ => super.flush(table) }

  override def read(table: String): DataFrame =
    t.span("catalog.read") { _ => super.read(table) }

  override def knownTable(table: String): Boolean =
    t.span("catalog.known") { _ => super.knownTable(table) }

  override def flattenBatch(batch: Seq[DynRecord], table: Option[String],
      readOnlySchema: Boolean): DataFrame =
    t.span(if (readOnlySchema) "ingest.flatten_read" else "ingest.flatten_flush") { s =>
      s.attr("rows", batch.size)
      super.flattenBatch(batch, table, readOnlySchema)
    }
}

/** [[ServiceFacade]] with one outermost span per served verb. Mutations
  * and compaction also record the bytes they rewrote, from a file
  * listing taken under the table lock before and after the call. */
final class TracedFacade(store: TableStore, t: Tracer) extends ServiceFacade(store) {

  /** Files (partition/name → bytes) of a table. */
  private def files(table: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(store.tablePath(table))
    val fs = root.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq.filter(_.getPath.getName.startsWith("date=")).flatMap { d =>
      fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => s"${d.getPath.getName}/${f.getPath.getName}" -> f.getLen)
    }.toMap
  }

  /** Bytes of files that exist after `f` but not before. */
  private def rewriting[T](table: String, s: Tracer#Open)(f: => T): T =
    if (!t.on) f
    else store.withTableLock(table) {
      // the verb flushes the buffer first anyway; doing it here keeps
      // the flushed files out of the rewritten bytes
      store.flush(table)
      val before = files(table)
      val r = f
      val after = files(table)
      s.attr("bytes_rewritten", after.collect { case (k, v) if !before.contains(k) => v }.sum)
      s.attr("files_before", before.size); s.attr("files_after", after.size)
      r
    }

  override def queryData(sql: String, limit: Int): Either[String, String] =
    t.span("facade.query", sql) { _ => super.queryData(sql, limit) }

  override def writeData(table: String, record: DynRecord): WriteResult =
    t.span("facade.write", record.id) { _ => super.writeData(table, record) }

  override def updateData(table: String, record: DynRecord): Long =
    t.span("facade.update", record.id) { s =>
      rewriting(table, s)(super.updateData(table, record))
    }

  override def deleteData(table: String, id: String): Long =
    t.span("facade.delete", id) { s => rewriting(table, s)(super.deleteData(table, id)) }

  override def pollEvents(table: String, group: String, limit: Int): (Array[String], Long) =
    t.span("facade.poll", s"poll:$group") { s =>
      val r = super.pollEvents(table, group, limit)
      s.attr("events", r._1.length)
      r
    }

  override def commitEvents(table: String, group: String, highWater: Long): Unit =
    t.span("facade.commit", s"commit:$group") { _ => super.commitEvents(table, group, highWater) }

  override def compactTable(table: String): (Int, Int, Int) =
    t.span("facade.compact", s"compact:$table") { s =>
      rewriting(table, s)(super.compactTable(table))
    }
}
