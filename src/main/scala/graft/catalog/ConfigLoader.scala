package graft.catalog

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.model.Catalog._
import graft.model.FeedConfig
import graft.model.FeedConfig.Feed
import graft.orchestrate.CronDescribe

/** Register/refresh feed configurations — the reference's
  * `InsertConfig.insert_config()` flow (modules/insert_config.py:482-494,
  * SURVEY §3.2): validate JSON configs → header/column/job relations →
  * MERGE into the catalog with update / insert / NOT-MATCHED-BY-SOURCE
  * soft-retire → seed control rows insert-only → compact hot tables.
  *
  * Re-running with the same configs is a no-op; dropping a feed from
  * the config set retires it (IsCurrent=0) without deleting history.
  */
final class ConfigLoader(meta: MetaStore,
                         clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {
  private val spark = meta.spark
  import spark.implicits._

  /** Validate and load a config set. Returns validation errors (empty =
    * loaded). */
  def load(feeds: Seq[Feed]): Seq[String] = {
    val errs = FeedConfig.validateAll(feeds)
    if (errs.nonEmpty) return errs
    val now = clock()

    // header staging → MERGE (update+insert+retire, insert_config.py:202-270)
    val header = feeds.map { f =>
      HeaderConfig(f.HeaderID.toLong, f.SourceContainer, f.SourceFilePath,
        f.SourceFileFormat, f.SourceFileHeader.toByte, f.SourceFileDelimiter,
        f.TargetTableSchema, f.TargetTableName, f.IsPII.toByte, f.PIISchema,
        f.PIITableName, f.OverWriteFlag.toByte, f.BatchFileCount,
        f.ContinuousRunFlag.toByte, s"feed_${f.HeaderID}.json",
        f.IsCurrent.toByte, now, now)
    }.toDS().toDF()
    val headerUpdates = meta.header.schema.fieldNames
      .filterNot(c => c == "HeaderID" || c == "CreatedDateTime")
      .map(c => c -> (if (c == "LastUpdatedDateTime") lit(now) else Merge.src(c)))
      .toMap
    meta.header.upsert(header, Seq("HeaderID"),
      whenMatchedUpdate = headerUpdates,
      insertDefaults = Map("CreatedDateTime" -> lit(now), "LastUpdatedDateTime" -> lit(now)),
      whenNotMatchedBySourceSet = Map(
        "IsCurrent" -> lit(0), "LastUpdatedDateTime" -> lit(now)))

    // column staging → 2-key MERGE (insert_config.py:301-345)
    val columns = feeds.flatMap { f =>
      f.Columns.map(c => ColumnConfig(f.HeaderID, c.SourceColumnName,
        c.TargetColumnName, c.TargetDataType, c.ColumnOrder,
        c.ZOrder.toByte, c.IsPII.toByte, 1.toByte, now, now))
    }.toDS().toDF()
    val columnUpdates = meta.columns.schema.fieldNames
      .filterNot(c => Set("HeaderID", "ColumnOrder", "CreatedDateTime").contains(c))
      .map(c => c -> (if (c == "LastUpdatedDateTime") lit(now) else Merge.src(c)))
      .toMap
    meta.columns.upsert(columns, Seq("HeaderID", "ColumnOrder"),
      whenMatchedUpdate = columnUpdates,
      insertDefaults = Map("CreatedDateTime" -> lit(now), "LastUpdatedDateTime" -> lit(now)),
      whenNotMatchedBySourceSet = Map(
        "IsCurrent" -> lit(0), "LastUpdatedDateTime" -> lit(now)))

    // job config MERGE (insert_config.py:379-426), cron described via
    // the engine's one UDF-equivalent
    val jobs = feeds.map { f =>
      JobConfig(f.HeaderID, f.JobConfig.Alert, f.JobConfig.Emails,
        f.JobConfig.WarningDuration, f.JobConfig.TimeOut,
        f.JobConfig.Retries.toByte, f.JobConfig.ClusterMaxWorkers.toByte,
        f.JobConfig.SparkConf, f.JobConfig.CronSyntax,
        CronDescribe.describe(f.JobConfig.CronSyntax), now, now)
    }.toDS().toDF()
    val jobUpdates = meta.jobs.schema.fieldNames
      .filterNot(c => c == "HeaderID" || c == "CreatedDateTime")
      .map(c => c -> (if (c == "LastUpdatedDateTime") lit(now) else Merge.src(c)))
      .toMap
    meta.jobs.upsert(jobs, Seq("HeaderID"), whenMatchedUpdate = jobUpdates,
      insertDefaults = Map("CreatedDateTime" -> lit(now), "LastUpdatedDateTime" -> lit(now)))

    // control rows: insert-only seed (insert_config.py:443-468)
    meta.insertWhenNotMatched(meta.control,
      feeds.map(f => ControlRow(f.HeaderID.toLong, 0, 0, None, 0, None, now)), "HeaderID")

    // OPTIMIZE ZORDER BY (HeaderID) on the hot tables (insert_config.py:476-480)
    meta.header.compact(Seq("HeaderID"))
    meta.columns.compact(Seq("HeaderID"))
    Nil
  }
}
