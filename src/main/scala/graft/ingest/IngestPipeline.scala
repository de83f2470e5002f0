package graft.ingest

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import graft.catalog.{MetaStore, ParquetTable}
import graft.plans.DriverFetch
import graft.model.FeedConfig.{ColumnSpec, Feed}

/** The per-micro-batch state machine
  * (modules/auto_loader_steps.py:411-479 `microbatch_process` +
  * :323-409 `load_data`): system columns → schema-drift detect/evolve →
  * corrupt gate → select/rename → PII fork → sink → log + control
  * bookkeeping.
  *
  * The clock is injected so tests and oracle queries are deterministic
  * (the reference stamps current_date()/current_timestamp() directly,
  * auto_loader_steps.py:423-425).
  *
  * Scale notes: every step is a narrow transform over the batch — no
  * shuffle at all on the happy path (select/rename/withColumn/filter),
  * and the happy path is ONE scan (the reference pays 2-3 per batch).
  * A batch-sized append — a small-file trigger, under
  * [[graft.plans.DriverFetch]]'s caps — is that scan: its rows are
  * fetched once, gated on the driver, and the target and the PII shadow
  * each land as one driver-written parquet file per partition
  * ([[ParquetTable.appendRows]]), with no Spark write job. A larger
  * trigger lands as Spark writes of at most `defaultParallelism` files,
  * with the row count and the corrupt count riding the target write as
  * observe() metrics instead of separate count jobs; its rare corrupt
  * batch pays a compensating delete of its own just-appended rows
  * before quarantining. The catalog bookkeeping is batched to one
  * [[MetaStore.logAndControlMany]] per micro-batch — one driver-written
  * log file and one driver-side control swap, no Spark job. The
  * post-load compaction of a day partition that fits one file is
  * rewritten from the driver as well
  * ([[ParquetTable.compactPartition]]).
  */
final class IngestPipeline(
    val spark: SparkSession,
    val feed: Feed,
    val meta: MetaStore,
    val targetPath: String,
    val piiPath: Option[String] = None,
    val corruptPath: Option[String] = None,
    val errorDir: Option[String] = None,
    val clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    val notifier: graft.notify.Notifier = graft.notify.Notifier.default) {

  @volatile var columns: Seq[ColumnSpec] = feed.Columns
  @volatile var driftEvents: Seq[String] = Nil

  /** The ingest target is hive-partitioned by `InsertDate`: the daily
    * idempotent re-run delete and the per-batch compensating delete then
    * touch ONE day's directory instead of rewriting the whole table —
    * at 100 TB the unpartitioned form is a full-table rewrite per day. */
  def target: ParquetTable =
    ParquetTable(spark, feed.TargetTableName, targetPath,
      SchemaTools.targetSchema(columns), partitionCols = Seq("InsertDate"))

  def piiTarget: Option[ParquetTable] = piiPath.map(p =>
    ParquetTable(spark, feed.PIITableName, p,
      SchemaTools.targetSchema(columns), partitionCols = Seq("InsertDate")))

  /** CREATE OR REPLACE TABLE from column config
    * (modules/delta_table_create_tables.py:91-114). A target written by
    * a pre-partitioning build (flat files at the root) is migrated to
    * the hive layout here, once — every other entry point fails fast on
    * the legacy layout (mixed flat+hive reads are broken, and the daily
    * partition delete would silently no-op → duplicate loads). */
  def createTargets(): Unit = {
    target.migrateToHiveLayout()
    piiTarget.foreach(_.migrateToHiveLayout())
    target.createIfNotExists()
    piiTarget.foreach(_.createIfNotExists())
  }

  /** Idempotent daily re-run: delete today's rows before re-ingesting
    * (delete_table_records_step, Data Ingestion Helper.py:139-142), so
    * replaying the same day's files never duplicates. With the
    * InsertDate-partitioned target this drops one partition directory —
    * an O(1) metadata operation, never a table rewrite. */
  def deleteToday(): Unit = {
    val today = new Date(clock().getTime).toString
    if (target.exists) target.deletePartitions(Seq("InsertDate" -> today))
    piiTarget.filter(_.exists)
      .foreach(_.deletePartitions(Seq("InsertDate" -> today)))
  }

  private def log(batchId: Long, entryType: String, desc: String,
                  statusId: Int, error: Option[String] = None): Unit =
    meta.logAndControl(feed.HeaderID, feed.SourceFilePath, batchId.toInt,
      entryType, desc, statusId, error, now = clock())

  /** Drift evolution shared by the batch-side preflight (the reference
    * re-syncs config→table before each ingest, Data Ingestion
    * Helper.py:193-283) and the per-batch check: config gains the extra
    * columns as `string` after the current max ColumnOrder, the
    * column-config catalog table gains matching rows
    * (auto_loader_steps.py:223-247). */
  def evolveIfDrifted(extras: Seq[org.apache.spark.sql.types.StructField],
                      batchId: Long, now: Timestamp): Unit =
    if (extras.nonEmpty) {
      columns = SchemaTools.evolve(columns, extras)
      driftEvents = driftEvents ++ extras.map(_.name)
      val maxOrder = columns.map(_.ColumnOrder).max
      meta.columns.appendRows(
        extras.zipWithIndex.map { case (f, i) =>
          Row.fromTuple(graft.model.Catalog.ColumnConfig(feed.HeaderID, f.name, f.name,
            "string", maxOrder - extras.size + i + 1, 0, 0, 1, now, now))
        })
      log(batchId, "AUTO_LOADER", "New column(s) detected and added.", 1)
    }

  /** One micro-batch, start to finish. Returns rows loaded. */
  def processBatch(batch: DataFrame, batchId: Long): Long = {
    val now = clock()
    // System columns (auto_loader_steps.py:423-425).
    val stamped = batch
      .withColumn("BatchId", lit(batchId.toInt + 1))
      .withColumn("InsertDate", lit(new Date(now.getTime)))
      .withColumn("ModifiedDateTime", lit(now))

    // Schema drift: batch columns not in config → config gains string
    // columns at the end; target evolves on next write via align()
    // (auto_loader_steps.py:189-275).
    evolveIfDrifted(SchemaTools.extraColumns(stamped, columns), batchId, now)

    // Corrupt gate (auto_loader_steps.py:277-315): any row with a
    // non-null rescue column fails the batch into quarantine. In
    // overwrite mode the gate must run BEFORE the write (overwriting
    // destroys the previous contents, so there is nothing to compensate
    // back to); in append mode the corrupt count rides the write as an
    // observe() metric and the rare corrupt batch is pulled back out.
    val gated = stamped.columns.contains(IngestPipeline.RescueColumn)
    if (gated && feed.OverWriteFlag == 1) {
      val corruptRows =
        stamped.filter(col(IngestPipeline.RescueColumn).isNotNull).count()
      if (corruptRows > 0) quarantine(stamped, batchId, corruptRows)
    }

    loadData(stamped, batchId, now,
      observeCorrupt = gated && feed.OverWriteFlag != 1)
  }

  /** Corrupt-batch path: dump the batch to the quarantine location, move
    * the offending source files to the error dir, log + notify, fail the
    * batch (auto_loader_steps.py:277-315). Never returns. */
  private def quarantine(stamped: DataFrame, batchId: Long, corruptRows: Long): Nothing = {
    corruptPath.foreach(p => stamped.write.mode("overwrite").parquet(p))
    if (stamped.columns.contains("source_file_path"))
      for (dir <- errorDir;
           row <- stamped.filter(col(IngestPipeline.RescueColumn).isNotNull)
             .select("source_file_path").distinct().collect())
        FileOps.moveToError(spark, row.getString(0), dir)
    log(batchId, "AUTO_LOADER", s"Bad records: $corruptRows", 3,
      error = Some(s"$corruptRows corrupt rows quarantined"))
    notifier.notify("CORRUPT_BATCH", feed.qualifiedTarget,
      s"batch $batchId: $corruptRows corrupt rows quarantined" +
        corruptPath.fold("")(p => s" at $p"))
    throw new IllegalStateException("Bad records")
  }

  /** load_data (auto_loader_steps.py:323-409): ordered select, rename to
    * target names, PII fork, append/overwrite sink, row-count log.
    *
    * A batch-sized append ([[DriverFetch]]'s caps) is fetched ONCE: the
    * corrupt gate runs on the fetched rows before anything is written,
    * and the target and its PII shadow land from the driver
    * ([[ParquetTable.appendRows]]). Above the caps, and in overwrite
    * mode, the batch lands as Spark writes; the row count and (append
    * mode) the corrupt count are observe() metrics on the target write's
    * scan — no separate count jobs. */
  private def loadData(stamped: DataFrame, batchId: Long, now: Timestamp,
                       observeCorrupt: Boolean = false): Long = {
    // Identifies exactly THIS batch's rows for compensation. BatchId
    // alone is not enough: it restarts at 0 with every fresh checkpoint,
    // so an unscoped delete would also remove same-BatchId rows loaded
    // by earlier runs; the batch's own InsertDate/ModifiedDateTime
    // stamps pin it to this run. The InsertDate pin routes the
    // compensating delete to a rewrite of that one day's directory.
    val thisBatch = col("BatchId") === lit(batchId.toInt + 1) &&
      col("ModifiedDateTime") === lit(now)
    def compensate(): Unit =
      target.deleteWhere(col("InsertDate") === lit(new Date(now.getTime).toString) && thisBatch)

    val ordered = columns.sortBy(_.ColumnOrder)
    val selectCols = ordered.map(c => col(c.SourceColumnName)) ++
      Seq(col("BatchId"), col("InsertDate"), col("ModifiedDateTime"))
    val renames = ordered
      .filter(c => c.SourceColumnName != c.TargetColumnName)
      .map(c => c.SourceColumnName -> c.TargetColumnName).toMap
    def project(df: DataFrame, extra: Column*): DataFrame =
      df.select(selectCols ++ extra: _*).withColumnsRenamed(renames)

    val mode = if (feed.OverWriteFlag == 1) "overwrite" else "append"
    val schema = target.schema
    // the target's rows plus the corrupt flag, built from the unobserved
    // batch: a rejected fetch must not fulfil the write's Observation
    val held =
      if (mode == "overwrite") None
      else DriverFetch(s"${feed.TargetTableName} batch $batchId", Seq(ParquetTable.alignTo(
        schema.add(IngestPipeline.CorruptFlag, BooleanType),
        project(stamped, (if (observeCorrupt) col(IngestPipeline.RescueColumn).isNotNull
          else lit(false)).as(IngestPipeline.CorruptFlag)))))
    val (rows, landShadow) = held match {
      case Some(Seq(fetched)) =>
        // gate first: a corrupt batch writes nothing to compensate
        val corruptRows = fetched.count(_.getBoolean(schema.length)).toLong
        if (corruptRows > 0) quarantine(stamped, batchId, corruptRows)
        val landed = fetched.toSeq.map(r => Row.fromSeq(r.toSeq.init))
        target.appendRows(landed)
        (landed.size.toLong,
          (pii: ParquetTable) => pii.appendRows(Masking.maskRows(spark, landed, schema, columns)))
      case _ =>
        val obs = org.apache.spark.sql.Observation()
        val corruptMetric =
          if (observeCorrupt)
            sum(when(col(IngestPipeline.RescueColumn).isNotNull, 1L).otherwise(0L))
          else sum(lit(0L))
        // at most one file per core, as Delta's optimized writes land a
        // many-file trigger
        val projected = project(stamped.observe(obs,
          count(lit(1)).as("rows"), corruptMetric.as("corrupt")))
          .coalesce(spark.sparkContext.defaultParallelism)
        if (mode == "overwrite") target.overwrite(projected) else target.append(projected)

        val metrics = obs.get
        val corruptRows = Option(metrics("corrupt")) // sum over empty batch is null
          .fold(0L)(_.asInstanceOf[Long])
        if (corruptRows > 0) {
          // compensate: pull this batch's rows back out of the target,
          // then quarantine
          compensate()
          quarantine(stamped, batchId, corruptRows)
        }
        (metrics("rows").asInstanceOf[Long], (pii: ParquetTable) => {
          val masked = Masking.maskPII(projected, columns)
          if (mode == "overwrite") pii.overwrite(masked) else pii.append(masked)
        })
    }

    try {
      // PII shadow table with masked values (auto_loader_steps.py:345-375)
      // — written only after the batch is known clean.
      piiTarget.foreach(landShadow)

      meta.logAndControlMany(feed.HeaderID, feed.SourceFilePath, batchId.toInt,
        Seq(("ROW_COUNT", rows.toString, 1, None),
          ("AUTO_LOADER", s"Batch $batchId loaded ($mode)", 1, None)),
        now = clock())
    } catch {
      // The target append landed but the batch will NOT commit to the
      // checkpoint — a retry replays it. Compensate so the replayed
      // append cannot double-load (append mode only: an overwrite
      // replay replaces the contents wholesale anyway).
      case e: Throwable =>
        if (mode == "append") compensate()
        throw e
    }
    rows
  }

  /** Post-load OPTIMIZE ZORDER (auto_loader_steps.py:481-498): compact
    * the target (and PII shadow) clustering on the config's ZOrder
    * columns. Run once per completed load — NOT per micro-batch (a
    * per-batch full-table rewrite would be quadratic in stream length)
    * — and scoped to TODAY'S partition: the load only fragmented the
    * day it wrote, and re-optimizing every historical day would be a
    * full-table rewrite per load at 100 TB. */
  def compactTargets(): Unit = {
    // The config asking for ANY ZOrder column is what arms the
    // post-load OPTIMIZE; whether each column still participates is a
    // separate question: InsertDate is now a partition column (absent
    // from the data files), so z-ordering on it is meaningless — the
    // partition dir already clusters on it perfectly — and passing it
    // would fail analysis. Filtering it from the SORT must not filter
    // it from the DECISION: a config whose only z-column is InsertDate
    // still gets plain small-file compaction (empty zorder), not a
    // silent skip that lets micro-batch files pile up forever.
    val configured = columns.filter(_.ZOrder == 1).sortBy(_.ColumnOrder)
      .map(_.TargetColumnName)
    val zcols = configured
      .filterNot(c => target.partitionCols.exists(_.equalsIgnoreCase(c)))
    if (configured.nonEmpty) {
      val today = Seq("InsertDate" -> new Date(clock().getTime).toString)
      if (target.exists) target.compactPartition(today, zcols)
      piiTarget.filter(_.exists).foreach(_.compactPartition(today, zcols))
    }
  }
}

object IngestPipeline {
  /** Rebuild stand-in for Databricks `_rescued_data`: the PERMISSIVE
    * corrupt-record capture column (SURVEY §7.4 risk 3). */
  val RescueColumn = "_rescued_data"

  /** The fetched batch's per-row corrupt flag, after the target's
    * columns. */
  private val CorruptFlag = "_graft_corrupt"
}
