package graft.catalog

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import graft.model.Catalog

/** The metadata catalog: seven parquet-backed tables under one root
  * directory, mirroring the reference's `autoloader` schema
  * (config/schemas_tables.json:1-54; bootstrap scripts
  * schema/schemas/1_schemas.py..8_autoloader_log_report.py).
  *
  * All tables are tiny relative to the data being ingested (one row per
  * feed / per column / per log line), so every join from data-plane
  * queries against them must broadcast — the query layer does so
  * explicitly. Bookkeeping rows the driver already holds (log lines,
  * the control state machine, the status seed) are written from the
  * driver ([[ParquetTable.appendRows]] / [[ParquetTable.overwriteRows]]),
  * never through a Spark job.
  */
final class MetaStore(val spark: SparkSession, val root: String) {
  import Catalog._

  val header  = ParquetTable(spark, "header_config",  s"$root/header_config",  headerSchema)
  val columns = ParquetTable(spark, "column_config",  s"$root/column_config",  columnSchema)
  val control = ParquetTable(spark, "process_control",s"$root/process_control",controlSchema)
  val logs    = ParquetTable(spark, "logs",           s"$root/logs",           logSchema)
  val status  = ParquetTable(spark, "status",         s"$root/status",         statusSchema)
  val jobs    = ParquetTable(spark, "job_config",     s"$root/job_config",     jobSchema)
  val report  = ParquetTable(spark, "daily_log_report", s"$root/daily_log_report", reportSchema)

  def all: Seq[ParquetTable] = Seq(header, columns, control, logs, status, jobs, report)

  /** CREATE SCHEMA + CREATE TABLE IF NOT EXISTS ×7 + seed the status
    * dimension (insert-only MERGE, insert_config.py:146-161). */
  def bootstrap(): this.type = {
    all.foreach(_.createIfNotExists())
    insertWhenNotMatched(status, statusSeed, "StatusID")
    this
  }

  def registerViews(): this.type = { all.foreach(_.registerView()); this }

  /** Insert-only MERGE of driver-held `seed` rows on one key column,
    * applied to the table's rows on the driver. No-op when every key is
    * already present. */
  private[catalog] def insertWhenNotMatched(
      table: ParquetTable, seed: Seq[Product], key: String): Unit = {
    val cur = table.readRows()
    val present = cur.map(_.getAs[Any](key)).toSet
    val i = table.schema.fieldIndex(key)
    val missing = seed.filterNot(p => present(p.productElement(i)))
    if (missing.nonEmpty) table.overwriteRows(cur ++ missing.map(Row.fromTuple))
  }

  private val logSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One log entry: (entryType, description, statusId, error). */
  type LogEntry = (String, String, Int, Option[String])

  /** Append one log row and update the control-table state machine — the
    * reference's update_insert_log_control
    * (modules/log_table_control_table_upsert.py:9-75). */
  def logAndControl(
      headerId: Long, sourcePath: String, batchId: Int, entryType: String,
      description: String, statusId: Int, error: Option[String] = None,
      jobId: Option[String] = None, now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit =
    logAndControlMany(headerId, sourcePath, batchId,
      Seq((entryType, description, statusId, error)), jobId, now)

  /** Batched variant: N log rows in ONE append, control updated ONCE
    * (to the last entry's status). Called once per micro-batch and for
    * every START/END/retry line, so it runs no Spark job: the log rows
    * are one driver-written file, and the control state machine is
    * applied on the driver to the control table's rows (one per feed) —
    * a feed's first entry inserts its row with `PreviousBatchID` null,
    * every later one shifts `LatestBatchID` into `PreviousBatchID` —
    * and swapped in whole. LogID is unique within this store instance
    * even when many rows share a timestamp (millis × 10^6 + in-process
    * sequence). */
  def logAndControlMany(
      headerId: Long, sourcePath: String, batchId: Int,
      entries: Seq[LogEntry], jobId: Option[String] = None,
      now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit = {
    require(entries.nonEmpty, "logAndControlMany needs at least one entry")
    logs.appendRows(entries.map { case (entryType, description, statusId, error) =>
      val logId = now.getTime * 1000000L + (logSeq.incrementAndGet() % 1000000L)
      Row.fromTuple(LogRow(logId, headerId, sourcePath, batchId, jobId,
        entryType, description, error, statusId, now))
    })

    val statusId = entries.last._3
    val cur = control.readRows()
    def isFeed(r: Row) = r.getAs[Long]("HeaderID") == headerId
    val next =
      if (cur.exists(isFeed)) cur.map { r =>
        if (!isFeed(r)) r
        else set(r, "StatusID" -> statusId, "PreviousBatchID" -> r.getAs[Any]("LatestBatchID"),
          "LatestBatchID" -> batchId, "LastUpdateTime" -> now)
      }
      else cur :+ Row.fromTuple(ControlRow(headerId, statusId, 0, None, batchId, None, now))
    control.overwriteRows(next)
  }

  /** `r` with the named columns replaced. */
  private def set(r: Row, values: (String, Any)*): Row = {
    val out = r.toSeq.toArray
    values.foreach { case (c, v) => out(r.fieldIndex(c)) = v }
    Row.fromSeq(out.toSeq)
  }
}
