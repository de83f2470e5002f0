package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.FeedConfig.Feed

/** The streaming half of the ingest flagship path: an incremental file
  * source feeding [[IngestPipeline.processBatch]] through foreachBatch —
  * the reference's Auto Loader + writeStream block
  * (modules/auto_loader_steps.py:85-114 read,
  * notebooks/Data Ingestion Steps.py:31-46 write).
  *
  * Auto Loader specifics map to the OSS file source:
  *  - incremental discovery + exactly-once → checkpointed file-stream
  *    source (seen-files log lives in the checkpoint);
  *  - `maxFilesPerTrigger` 1/100 by run mode → same option;
  *  - `_rescued_data` → PERMISSIVE mode + columnNameOfCorruptRecord
  *    (csv/json); documented divergence for parquet (SURVEY §7.4);
  *  - `_metadata.file_path` → projected as source_file_path;
  *  - one-shot mode's fragile poll-and-stop loop
  *    (auto_loader_steps.py:500-528) → Trigger.AvailableNow, which
  *    drains exactly the available files then stops.
  */
final class StreamRunner(val spark: SparkSession, val pipeline: IngestPipeline) {
  private val feed: Feed = pipeline.feed

  /** The streaming source DataFrame (read_streaming,
    * auto_loader_steps.py:98-114). */
  def source(): DataFrame = {
    val fmt = feed.SourceFileFormat.toLowerCase
    val declared = SchemaTools.declaredSchema(pipeline.columns)
    val withRescue = fmt match {
      case "csv" | "json" =>
        declared.add(IngestPipeline.RescueColumn, "string", nullable = true)
      case _ => declared // parquet: schema mismatch surfaces as nulls/read error
    }
    var reader = spark.readStream.format(fmt)
      .schema(withRescue)
      .option("maxFilesPerTrigger", feed.maxFilesPerTrigger)
      .option("ignoreMissingFiles", "true")
    if (fmt == "csv") {
      reader = reader
        .option("header", feed.SourceFileHeader == 1)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", IngestPipeline.RescueColumn)
      if (feed.SourceFileDelimiter.nonEmpty)
        reader = reader.option("sep", feed.SourceFileDelimiter)
    }
    if (fmt == "json")
      reader = reader.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", IngestPipeline.RescueColumn)
    reader.load(feed.SourceFilePath)
      // S2: _metadata.file_path → source_file_path
      // (notebooks/Data Ingestion Steps.py:38)
      .selectExpr("*", "_metadata.file_path AS source_file_path")
  }

  /** Start the stream (Data Ingestion Steps.py:31-46). Continuous mode
    * micro-batches every 0.5 s; one-shot mode drains available files and
    * stops (AvailableNow replaces the reference's 30 s trigger + control
    * table poll + manual stop). */
  def start(checkpointDir: String): StreamingQuery = {
    val trigger =
      if (feed.ContinuousRunFlag == 1) Trigger.ProcessingTime("500 milliseconds")
      else Trigger.AvailableNow()
    source().writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // source_file_path rides along for the corrupt-file move and is
        // excluded from the target projection by the ordered select.
        pipeline.processBatch(batch, batchId): Unit
      }
      .queryName(s"ingest-${feed.HeaderID}")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Batch-side drift preflight: the OSS file source needs its schema
    * up front (Auto Loader evolves it mid-stream), so new columns are
    * detected by peeking at the source files' header/schema BEFORE the
    * stream starts — the reference runs the same table-side re-sync
    * before each ingest (Data Ingestion Helper.py:193-283). */
  def preflightDrift(): Unit = {
    val fmt = feed.SourceFileFormat.toLowerCase
    // A headerless CSV cannot name new columns (Spark would report
    // positional _c0.._cN and every one would look like drift) — its
    // schema is positional and fixed by the config.
    if (fmt == "csv" && feed.SourceFileHeader != 1) return
    val observed = fmt match {
      case "csv" =>
        var r = spark.read.option("header", feed.SourceFileHeader == 1)
        if (feed.SourceFileDelimiter.nonEmpty) r = r.option("sep", feed.SourceFileDelimiter)
        r.csv(feed.SourceFilePath).schema
      case "json" => spark.read.json(feed.SourceFilePath).schema
      // parquet, orc, and any other self-describing columnar format
      case other => spark.read.format(other).load(feed.SourceFilePath).schema
    }
    val known = pipeline.columns.map(_.SourceColumnName).toSet
    val extras = observed.fields.toSeq.filterNot(f => known.contains(f.name))
      .map(f => org.apache.spark.sql.types.StructField(f.name,
        org.apache.spark.sql.types.StringType))
    pipeline.evolveIfDrifted(extras, batchId = -1, pipeline.clock())
  }

  /** True when the checkpoint has already committed ≥1 batch. On such a
    * checkpoint the file source will NOT replay the committed batches —
    * so a pre-load delete of today's rows would orphan their data. */
  private def checkpointHasCommits(checkpointDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(checkpointDir, "commits")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) &&
      fs.listStatus(path).exists(s => !s.getPath.getName.startsWith("."))
  }

  /** One-shot ingest: preflight drift, idempotent daily delete, create
    * targets, start, drain, stop, compact. Returns when the sink is
    * fully loaded. */
  def runOnce(checkpointDir: String): Unit = {
    if (FileOps.awaitFiles(spark, feed.SourceFilePath, timeoutMs = 10000))
      preflightDrift()
    pipeline.createTargets()
    // one-shot mode deletes today's rows so a re-run of the same day's
    // files (with a FRESH checkpoint, which replays everything) never
    // duplicates (Data Ingestion Helper.py:139-142). On a resumed
    // checkpoint — a retry — committed batches will not replay, so
    // their already-loaded rows must survive: skip the delete, the
    // per-batch compensating delete keeps replays clean instead.
    if (feed.ContinuousRunFlag == 0 && feed.OverWriteFlag == 0
      && !checkpointHasCommits(checkpointDir))
      pipeline.deleteToday()
    val q = start(checkpointDir)
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
    // post-load OPTIMIZE ZORDER from the config's flags
    // (auto_loader_steps.py:481-498) — once per completed load
    pipeline.compactTargets()
  }

  /** Highest batch id COMMITTED to the stream's checkpoint, or -1. The
    * commit file is the only completion marker with no race: it appears
    * strictly after the batch's foreachBatch work (data + bookkeeping)
    * finished, and a committed batch never replays — so stopping on it
    * can neither interrupt in-flight work nor orphan rows. Polling the
    * control table instead would fire early (it advances on EVERY log
    * entry, including the mid-batch drift log written before the data
    * lands), and polling the log's "Batch N loaded" entry still leaves
    * a window where stop() interrupts the control update right after
    * it. A driver-side directory listing, no Spark job per poll. */
  private def lastCommittedBatchId(checkpointDir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(checkpointDir, "commits")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) -1
    else fs.listStatus(path).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .foldLeft(-1)((m, n) => math.max(m, n.toInt))
  }

  /** Continuous-mode graceful stop (auto_loader_steps.py:500-528
    * `stop_batch`, which polls the control table): start the
    * 0.5 s-trigger stream, poll the checkpoint's commit log until
    * BatchFileCount batches have COMMITTED past the starting point
    * (see [[lastCommittedBatchId]] for why commits, not control), then
    * stop the query. A deadline bounds the wait when fewer files than
    * expected arrive. Ends with the same post-load compaction as
    * [[runOnce]]. */
  def runContinuousBatches(checkpointDir: String,
                           pollMs: Long = 100,
                           timeoutMs: Long = 60000): Unit = {
    require(feed.ContinuousRunFlag == 1,
      "runContinuousBatches drives continuous-mode feeds; use runOnce otherwise")
    if (FileOps.awaitFiles(spark, feed.SourceFilePath, timeoutMs = 10000))
      preflightDrift()
    pipeline.createTargets()
    val initial = lastCommittedBatchId(checkpointDir)
    val q = start(checkpointDir)
    val deadline = System.currentTimeMillis() + timeoutMs
    try {
      while (q.isActive
        && lastCommittedBatchId(checkpointDir) <= initial + feed.BatchFileCount - 1
        && System.currentTimeMillis() < deadline)
        Thread.sleep(pollMs)
      // surface a batch failure instead of swallowing it as a "stop"
      if (q.exception.isDefined) throw q.exception.get
    } finally if (q.isActive) q.stop()
    pipeline.compactTargets()
  }

  /** Harness-level retry honoring the config's Retries
    * (`.option("retryCount", 2)` in Data Ingestion Steps.py:44, job
    * max_retries in create_workflow_jobs.py:278-279): re-run a failed
    * ingest up to Retries extra times. The checkpoint makes replays
    * exactly-once at the source and the BatchId-stamped compensating
    * delete keeps the target clean, so a retry after an IN-PROCESS
    * failure never double-loads. A process death after the target
    * commit can: the replay gets a new `ModifiedDateTime`, which the
    * delete is keyed on (so is the reference's Delta append without
    * `txnVersion`). Returns the number of retries used; notifies and
    * rethrows when the attempts are exhausted. */
  def runOnceWithRetry(checkpointDir: String): Int = {
    val max = math.max(feed.JobConfig.Retries, 0)
    var attempt = 0
    while (true) {
      try { runOnce(checkpointDir); return attempt }
      catch {
        case e: Exception if attempt < max =>
          pipeline.meta.logAndControl(feed.HeaderID, feed.SourceFilePath,
            batchId = -1, "AUTO_LOADER",
            s"Attempt ${attempt + 1} failed: ${e.getMessage}; retrying", 2,
            error = Some(e.toString), now = pipeline.clock())
          attempt += 1
        case e: Exception =>
          pipeline.notifier.notify("RUN_FAILED", feed.qualifiedTarget,
            s"ingest failed after $attempt retries: ${e.getMessage}")
          throw e
      }
    }
    attempt // unreachable
  }
}
