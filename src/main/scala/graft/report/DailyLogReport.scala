package graft.report

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The daily reconciliation report — the reference's richest analytic
  * query (notebooks/Autoloader_daily_log_report.sql:24-277) as pure,
  * composable DataFrame transforms with an injectable clock (the
  * reference hardcodes current_date/current_timestamp; tests and the
  * DuckDB oracle need determinism).
  *
  * Input contracts:
  *  - `logs`:  HeaderID, LogDateTime, LogEntryType ∈
  *             {START, AUTO_LOADER, ROW_COUNT, END, …}, LogEntryDescription
  *  - `sourceCounts`: HeaderID, Parquet_Row_Count, Delta_Count,
  *             WarningDuration
  *
  * Spark-first notes: the reference builds each run window by UNIONing
  * NULL-padded rows then re-aggregating (sql:99-124,155-199). That is two
  * shuffles over the log table; conditional aggregation computes the same
  * pivot in ONE pass (max(when(type=START,ts))), so that's what we do.
  * The interval join (sql:129-138) keeps HeaderID as the equi key with
  * BETWEEN as a residual filter — a plain hash/sort-merge join, never a
  * broadcast-nested-loop on the range alone.
  */
object DailyLogReport {

  /** Whole minutes between two timestamps, matching the reference's
    * `timediff(minute, a, b)`: floor of the second-truncated epoch diff.
    * (DuckDB parity: floor(date_diff('second', a, b) / 60.0).) */
  private def minutesBetween(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    floor((unix_timestamp(b) - unix_timestamp(a)) / 60)

  /** vw_process_start_end_time (sql:86-124): per-feed run window for the
    * report day, open windows closed by `now`. */
  def runWindows(logs: DataFrame, now: Timestamp): DataFrame =
    logs.groupBy(col("HeaderID"))
      .agg(
        max(when(col("LogEntryType") === "START", col("LogDateTime"))).as("Start_LogDateTime"),
        coalesce(max(when(col("LogEntryType") === "END", col("LogDateTime"))), lit(now))
          .as("End_LogDateTime"))
      .filter(col("Start_LogDateTime").isNotNull)
      .withColumn("Job_Duration",
        minutesBetween(col("Start_LogDateTime"), col("End_LogDateTime")))

  /** vw_process_all_steps (sql:129-138): interval join — every log line
    * that falls inside its feed's run window. */
  def stepsInWindow(logs: DataFrame, windows: DataFrame): DataFrame = {
    val w = windows.select(
      col("HeaderID").as("w_HeaderID"),
      col("Start_LogDateTime"), col("End_LogDateTime"), col("Job_Duration"))
    logs.join(w,
      col("HeaderID") === col("w_HeaderID") &&
        col("LogDateTime").between(col("Start_LogDateTime"), col("End_LogDateTime")))
      .drop("w_HeaderID")
  }

  /** vw_job_duration (sql:143-199): waiting vs loading vs total minutes.
    * One conditional-agg pass replaces the reference's triple UNION. */
  def jobDurations(steps: DataFrame, now: Timestamp): DataFrame =
    steps.groupBy(col("HeaderID"))
      .agg(
        max(when(col("LogEntryType") === "START", col("LogDateTime"))).as("Job_Start_Time"),
        coalesce(max(when(col("LogEntryType") === "AUTO_LOADER", col("LogDateTime"))), lit(now))
          .as("Data_Loading_Started_Time"),
        coalesce(max(when(col("LogEntryType") === "END", col("LogDateTime"))), lit(now))
          .as("Process_End"))
      .withColumn("File_Waiting_Duration_Min",
        minutesBetween(col("Job_Start_Time"), col("Data_Loading_Started_Time")))
      .withColumn("Total_Job_Duration_Min",
        minutesBetween(col("Job_Start_Time"), col("Process_End")))
      .withColumn("File_Loading_Duration_Min",
        col("Total_Job_Duration_Min") - col("File_Waiting_Duration_Min"))

  /** vw_job_row_count (sql:205-214): logged row counts per feed. */
  def loggedRowCounts(steps: DataFrame): DataFrame =
    steps.filter(col("LogEntryType") === "ROW_COUNT")
      .groupBy(col("HeaderID"))
      .agg(sum(coalesce(col("LogEntryDescription"), lit("0")).cast("int")).as("LogRowCount"))

  /** vw_final (sql:219-232): reconcile source vs target vs logged counts
    * into the PASS / FAIL / In Progress verdict. */
  def finalReport(
      sourceCounts: DataFrame,
      durations: DataFrame,
      rowCounts: DataFrame,
      reportDate: java.sql.Date): DataFrame =
    sourceCounts
      .join(durations, Seq("HeaderID"), "left")
      .join(rowCounts, Seq("HeaderID"), "left")
      .withColumn("Job_thresholds_End_Time",
        expr("timestampadd(SECOND, WarningDuration, Job_Start_Time)"))
      .withColumn("Job_Timeout_Status",
        when(col("Job_thresholds_End_Time") < col("Process_End"), lit("Job Timeout"))
          .otherwise(lit("NO Timeout")))
      .withColumn("RowCountMatchFlag",
        when((coalesce(col("Parquet_Row_Count"), lit(0L)) - coalesce(col("Delta_Count"), lit(0L)) === 0) &&
             (coalesce(col("Parquet_Row_Count"), lit(0L)) - coalesce(col("LogRowCount"), lit(0L)) === 0),
          lit("PASS (Row count match)"))
          .when(coalesce(col("Parquet_Row_Count"), lit(0L)) === 0 &&
                coalesce(col("Delta_Count"), lit(0L)) === 0, lit("In Progress"))
          .otherwise(lit("FAIL (Row count match)")))
      .withColumn("LogDate", lit(reportDate))
      .orderBy(col("HeaderID"))

  /** Full pipeline: logs + source counts → final report, computed once.
    * The report is one row per feed, so it comes back as a local
    * relation ([[graft.plans.DriverFetch.local]]): a caller that
    * collects it and then [[persist]]s it runs the report plan once,
    * not once per reader. Above the fetch caps it is pinned with
    * [[graft.plans.Materialize.stage]]. */
  def build(logs: DataFrame, sourceCounts: DataFrame,
            now: Timestamp, reportDate: java.sql.Date): DataFrame = {
    import graft.plans.{DriverFetch, Materialize}
    val win = runWindows(logs, now)
    // Pinned once: the in-window step relation feeds BOTH the duration
    // pivot and the row-count aggregate, and unstaged each consumer
    // re-ran the log scan + window aggregate + interval join (5 log
    // scans total for the report; guide §1.2). The pinned relation is
    // one report day's in-window log lines — day-sized, not
    // history-sized.
    val steps = Materialize.stage(stepsInWindow(logs, win))
    val report =
      finalReport(sourceCounts, jobDurations(steps, now), loggedRowCounts(steps), reportDate)
    DriverFetch("daily report", Seq(report)) match {
      case Some(Seq(rows)) => DriverFetch.local(report, rows.toSeq, report.schema)
      case _ => Materialize.stage(report)
    }
  }

  /** Source-file inventory for the report's config pane
    * (Autoloader_daily_log_report.sql:70-71): one row per distinct file
    * under the source path with its modification time, from the scan's
    * own `_metadata` struct — no extra filesystem listing, the file
    * index the scan already built supplies both columns. */
  def fileInventory(spark: org.apache.spark.sql.SparkSession, path: String,
                    format: String = "parquet"): DataFrame =
    spark.read.format(format)
      .option("ignoreMissingFiles", "true")
      .load(path)
      .select(col("_metadata.file_path").as("FilePath"),
        col("_metadata.file_modification_time").as("FileModificationTime"))
      .distinct()

  /** Idempotent daily persist (sql:237-277): DELETE the day's rows, then
    * INSERT the fresh report into the catalog's daily_log_report. The
    * table holds one row per feed per day, so both happen on the driver
    * as ONE swap: the stored rows minus the day's, plus the report. */
  def persist(meta: graft.catalog.MetaStore, report: DataFrame,
              reportDate: java.sql.Date): Unit = {
    // cast to daily_log_report's column types: the rows go to the
    // writer as they are
    val rows = graft.plans.Materialize.modelState(report.select(
      col("HeaderID").cast("long").as("HeaderID"),
      (if (report.columns.contains("FeedName")) col("FeedName").cast("string")
       else lit("")).as("FeedName"),
      col("Parquet_Row_Count").cast("long").as("SourceRowCount"),
      col("Delta_Count").cast("long").as("TargetRowCount"),
      col("LogRowCount").cast("long").as("LoggedRowCount"),
      col("Job_Start_Time").cast("timestamp").as("StartTime"),
      col("Process_End").cast("timestamp").as("EndTime"),
      col("Total_Job_Duration_Min").cast("long").as("DurationMinutes"),
      col("RowCountMatchFlag").cast("string").as("Verdict"),
      lit(reportDate).as("ReportDate")), "daily report: one row per feed")
    val day = meta.report.schema.fieldIndex("ReportDate")
    meta.report.overwriteRows(meta.report.readRows().filterNot(r =>
      !r.isNullAt(day) && r.getDate(day).toLocalDate == reportDate.toLocalDate) ++ rows)
  }
}
