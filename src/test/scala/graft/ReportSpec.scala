package graft

import java.sql.{Date, Timestamp}
import org.scalatest.funsuite.AnyFunSuite
import graft.report.DailyLogReport

/** Verdict-branch coverage for the daily report with crafted logs —
  * the synthesized fixture data only exercises the FAIL branch, so
  * PASS / In Progress / timeout come from here. */
class ReportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val now = Timestamp.valueOf("2024-03-01 12:00:00")
  private val day = Date.valueOf("2024-03-01")
  private def ts(s: String) = Timestamp.valueOf(s)

  private val logs = Seq(
    // feed 1: clean run, counts match → PASS
    (1L, ts("2024-03-01 01:00:00"), "START", null.asInstanceOf[String]),
    (1L, ts("2024-03-01 01:01:00"), "AUTO_LOADER", null.asInstanceOf[String]),
    (1L, ts("2024-03-01 01:02:00"), "ROW_COUNT", "100"),
    (1L, ts("2024-03-01 01:05:00"), "END", null.asInstanceOf[String]),
    // feed 2: counts mismatch → FAIL; slow run → Job Timeout
    (2L, ts("2024-03-01 02:00:00"), "START", null.asInstanceOf[String]),
    (2L, ts("2024-03-01 02:30:00"), "ROW_COUNT", "5"),
    (2L, ts("2024-03-01 03:30:00"), "END", null.asInstanceOf[String]),
    // feed 3: log rows exist but nothing landed in source/target yet →
    // the PASS condition fails on LogRowCount, In Progress fires
    (3L, ts("2024-03-01 10:00:00"), "START", null.asInstanceOf[String]),
    (3L, ts("2024-03-01 10:01:00"), "ROW_COUNT", "5"),
    // feed 4: START with no END → window closed by `now`
    (4L, ts("2024-03-01 11:00:00"), "START", null.asInstanceOf[String]),
    (4L, ts("2024-03-01 11:10:00"), "ROW_COUNT", "7"))
    .toDF("HeaderID", "LogDateTime", "LogEntryType", "LogEntryDescription")

  private val src = Seq(
    (1L, 100L, 100L, 600),
    (2L, 50L, 40L, 600),
    (3L, 0L, 0L, 600),    // nothing arrived yet → In Progress
    (4L, 7L, 7L, 600))
    .toDF("HeaderID", "Parquet_Row_Count", "Delta_Count", "WarningDuration")

  private lazy val report = DailyLogReport.build(logs, src, now, day)
    .collect().map(r => r.getAs[Long]("HeaderID") -> r).toMap

  test("PASS when source, target and logged counts agree") {
    assert(report(1L).getAs[String]("RowCountMatchFlag") == "PASS (Row count match)")
    assert(report(1L).getAs[String]("Job_Timeout_Status") == "NO Timeout")
    assert(report(1L).getAs[Long]("Total_Job_Duration_Min") == 5L)
    assert(report(1L).getAs[Long]("File_Waiting_Duration_Min") == 1L)
  }

  test("FAIL + Job Timeout when counts mismatch and run exceeds threshold") {
    assert(report(2L).getAs[String]("RowCountMatchFlag") == "FAIL (Row count match)")
    assert(report(2L).getAs[String]("Job_Timeout_Status") == "Job Timeout")
    assert(report(2L).getAs[Long]("Total_Job_Duration_Min") == 90L)
  }

  test("In Progress when log rows exist but source/target are empty") {
    assert(report(3L).getAs[String]("RowCountMatchFlag") == "In Progress")
  }

  test("persist is idempotent per report date (DELETE + INSERT)") {
    val root = java.nio.file.Files.createTempDirectory("rep").toString
    val meta = new graft.catalog.MetaStore(spark, root).bootstrap()
    val rpt = DailyLogReport.build(logs, src, now, day)
    DailyLogReport.persist(meta, rpt, day)
    assert(meta.report.read().count() == 4)
    DailyLogReport.persist(meta, rpt, day) // daily re-run
    assert(meta.report.read().count() == 4)
    val verdicts = meta.report.read()
      .select("HeaderID", "Verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts(1L) == "PASS (Row count match)")
    assert(verdicts(3L) == "In Progress")
  }

  test("job guard: collecting and persisting a built report does not run its plan again") {
    val root = java.nio.file.Files.createTempDirectory("rep-jobs").toString
    val meta = new graft.catalog.MetaStore(spark, root).bootstrap()
    val built = DailyLogReport.build(logs, src, now, day)
    val jobs = TestSpark.jobsDuring(spark) {
      assert(built.collect().length === 4)
      DailyLogReport.persist(meta, built, day)
    }
    // the collect and the persist's select; 13 when each reader ran the
    // report plan again, and 3 while the day's delete rewrote the table
    // in a job
    assert(jobs.size <= 2, jobs)
    assert(meta.report.read().count() === 4)
  }

  test("persist replaces its own day's rows and keeps every other day's") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("rep-days").toString
    val meta = new graft.catalog.MetaStore(spark, root).bootstrap()
    val rpt = DailyLogReport.build(logs, src, now, day)
    val day2 = Date.valueOf("2024-03-02")
    DailyLogReport.persist(meta, rpt, day)
    DailyLogReport.persist(meta, rpt, day2)
    // the day-1 re-run reports two feeds: its four old rows must go
    DailyLogReport.persist(meta, rpt.filter(col("HeaderID") <= 2L), day)
    val stored = meta.report.read().select("ReportDate", "HeaderID").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toSeq.sorted
    assert(stored === Seq(1L, 2L).map("2024-03-01" -> _) ++
      Seq(1L, 2L, 3L, 4L).map("2024-03-02" -> _))
  }

  test("open window is closed by the injected clock") {
    assert(report(4L).getAs[Timestamp]("Process_End") == now)
    assert(report(4L).getAs[String]("RowCountMatchFlag") == "PASS (Row count match)")
    assert(report(4L).getAs[Long]("Total_Job_Duration_Min") == 60L)
  }

  test("fileInventory lists each source file once with its modification time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rep-inv").toString
    Seq((1, "a")).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    Seq((2, "b")).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    val inv = DailyLogReport.fileInventory(spark, dir).collect()
    assert(inv.length == 2, inv.toSeq) // one row per part file
    assert(inv.forall(_.getString(0).endsWith(".parquet")))
    // mtime comes from the scan's own _metadata, and is a real time
    assert(inv.forall(r => r.getTimestamp(1).getTime > 0L))
  }
}
