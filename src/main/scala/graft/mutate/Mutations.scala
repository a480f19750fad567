package graft.mutate

import org.apache.spark.sql.functions._

import graft.catalog.TableStore
import graft.ingest.DynRecord

/** Point mutations (id-keyed) as partition-scoped rewrite jobs.
  *
  * The reference deletes by rewriting each parquet object that contains
  * the id (`internal/query/query.go:1249-1413`) and updates via
  * buffer-remove + insert + delete-old (`miniodb_service.go:684-839`).
  * Spark-first shape: locate the *date partitions* containing the id
  * (partition-pruned, predicate-pushdown scan) and replace only those
  * with their survivors through [[TableStore.replacePartitions]] —
  * never a full-table rewrite. */
class Mutations(store: TableStore) {

  /** Shared shape: drain buffer, find affected partitions for `victim`,
    * count victims, swap in survivors. Returns rows removed. Runs under
    * the table's mutation lock (reference takes a distributed lock per
    * update/delete, `miniodb_service.go:692-705`): concurrent partition
    * rewrites would otherwise interleave the delete/rename swap and drop
    * one writer's survivors. */
  private def removeWhere(table: String, victim: org.apache.spark.sql.Column): Long =
      store.withTableLock(table) {
    store.flush(table) // drain buffer so one rewrite covers everything
    val df = store.storageDf(table)
    // a fully-emptied table (every partition dropped by earlier deletes)
    // reads back with the minimal schema — no `date` column means no
    // date partitions exist, so there is nothing to rewrite
    if (!df.columns.contains("id") || !df.columns.contains("date")) return 0L
    val affectedDates = df.filter(victim).select(col("date")).distinct()
      .collect().map(_.get(0)).toSeq
    // nothing matched: storage is unchanged (the flush above bumped the
    // version if it wrote), so cached results stay valid
    if (affectedDates.isEmpty) return 0L
    // null dates live in the __HIVE_DEFAULT_PARTITION__ directory; a
    // plain isin(null) matches nothing and the row would silently survive
    val (nullDates, realDates) = affectedDates.partition(_ == null)
    val dateMatch =
      if (nullDates.isEmpty) col("date").isin(realDates: _*)
      else if (realDates.isEmpty) col("date").isNull
      else col("date").isin(realDates: _*) || col("date").isNull
    val affected = df.filter(dateMatch)
    val removed = affected.filter(victim).count()
    // three-valued logic: a row whose predicate evaluates to NULL
    // (e.g. age > 30 with age NULL) is excluded by filter(victim) AND
    // by filter(!victim) — it would be silently dropped from the
    // rewrite, uncounted and with no CDC event. NULL-predicate rows
    // are NOT victims; they must survive.
    val survivors = affected.filter(!coalesce(victim, lit(false)))
    val dirNames = (realDates ++ (if (nullDates.nonEmpty) Seq("__HIVE_DEFAULT_PARTITION__") else Nil))
      .map(d => s"date=$d")
    store.replacePartitions(table, Some(survivors), dirNames)
    removed
  }

  /** Physically delete all rows with `id`; returns rows deleted.
    * Un-flushed buffer rows are drained first, so this also covers the
    * reference's buffer-tombstone case (`concurrent_buffer.go:1472-1538`).
    * A successful delete appends a DELETE event to the CDC log
    * (reference publishes per-mutation events, `event.go:12-98`). */
  def deleteById(table: String, id: String): Long = store.withTableLock(table) {
    val removed = removeWhere(table, col("id") <=> id) // null-safe: NULL ids survive
    if (removed > 0)
      graft.streaming.CdcTransport.forStore(store).publish(store, table, "DELETE",
        Seq(id -> (null: java.sql.Timestamp)))
    removed
  }

  /** Bulk predicate delete with per-row CDC events — the DISTRIBUTED
    * extension of [[deleteById]] (the reference's delete surface is
    * id-keyed only, `miniodb_service.go`; a 100 TB retention/GDPR pass
    * deletes by predicate and must still notify consumers per row).
    * The victim (id, timestamp) frame is captured and MATERIALIZED
    * under the table lock BEFORE the partition swap — the swap
    * rewrites the very files the plan reads — and the DELETE slice
    * lands distributed via the bound [[graft.streaming.CdcTransport]]
    * (file log by default), never through the driver. */
  def deleteWhere(table: String, victim: org.apache.spark.sql.Column): Long =
      store.withTableLock(table) {
    store.flush(table)
    val df = store.storageDf(table)
    if (!df.columns.contains("id")) return 0L
    val victims = (
      if (df.columns.contains("timestamp"))
        df.filter(victim).select(col("id"), col("timestamp"))
      else df.filter(victim).select(col("id"))
    ).localCheckpoint(true)
    val removed = removeWhere(table, victim)
    if (removed > 0)
      graft.streaming.CdcTransport.forStore(store).publishFrame(
        store, table, "DELETE", victims)
    removed
  }

  /** Update = delete old versions + insert the new record (reference
    * semantics: last write wins per id). Atomic vs other mutations on
    * the table (single UPDATE CDC event, not DELETE+INSERT — matching
    * the reference's event granularity). */
  def updateById(table: String, record: DynRecord): Long = store.withTableLock(table) {
    val removed = removeWhere(table, col("id") <=> record.id)
    store.write(table, Seq(record))
    store.flush(table)
    graft.streaming.CdcTransport.forStore(store).publish(store, table, "UPDATE",
      Seq((record.id, record.timestamp)))
    removed
  }

  /** Cleanup rows with empty/null ids (reference
    * `CleanupEmptyIDRecords`, `miniodb_service.go:1051-1084`). */
  def cleanupEmptyIds(table: String): Long =
    removeWhere(table, col("id").isNull || col("id") === "")

  /** Retention: drop whole date partitions older than `retentionDays`
    * (partition drop = directory delete, no data rewrite, through
    * [[TableStore.replacePartitions]]). Runs under the table lock — an
    * unlocked partition delete races a concurrent compaction/mutation
    * swap whose tmp-dir rename can RECREATE the expired partition after
    * this pass reported it dropped. */
  def applyRetention(table: String, asOf: java.time.LocalDate): Long =
      store.withTableLock(table) {
    val days = store.config(table).map(_.retentionDays).getOrElse(0)
    if (days <= 0) return 0L
    val cutoff = asOf.minusDays(days.toLong)
    // the null-date partition (__HIVE_DEFAULT_PARTITION__) has no
    // parsable date — treat as never-expiring rather than aborting
    val expired = store.partitionDirs(table).filter(name =>
      scala.util.Try(java.time.LocalDate.parse(name.stripPrefix("date="))).toOption
        .exists(_.isBefore(cutoff)))
    if (expired.nonEmpty) store.replacePartitions(table, None, expired)
    expired.size.toLong
  }
}
