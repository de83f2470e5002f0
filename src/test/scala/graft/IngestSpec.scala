package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.MetaStore
import graft.ingest.{FileOps, IngestPipeline, StreamRunner}
import graft.model.FeedConfig._

/** End-to-end ingest slices on generated CSV fixtures (SURVEY §7.2),
  * including the negative paths the oracle queries can't drive:
  * corrupt-row quarantine + file move + batch failure, overwrite mode,
  * and the control/log bookkeeping contents. */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val now = Timestamp.valueOf("2024-03-01 12:00:00")

  private def feed(src: String, overwrite: Boolean = false): Feed = Feed(
    HeaderID = 7, SourceContainer = "local", SourceFilePath = src,
    SourceFileFormat = "csv", SourceFileHeader = 1, SourceFileDelimiter = ",",
    TargetTableSchema = "t", TargetTableName = "people",
    OverWriteFlag = if (overwrite) 1 else 0,
    Columns = Seq(
      ColumnSpec("id", "person_id", "int", 1),
      ColumnSpec("name", "person_name", "string", 2),
      ColumnSpec("score", "score", "double", 3)))

  private def writeCsv(tmp: Path, name: String, lines: Seq[String]): Unit = {
    val src = Files.createDirectories(tmp.resolve("src"))
    Files.writeString(src.resolve(name), lines.mkString("\n"))
  }

  private def build(tmp: Path, f: Feed): (IngestPipeline, StreamRunner) = {
    val meta = new MetaStore(spark, tmp.resolve("meta").toString).bootstrap()
    val pipe = new IngestPipeline(spark, f, meta, tmp.resolve("target").toString,
      corruptPath = Some(tmp.resolve("corrupt").toString),
      errorDir = Some(tmp.resolve("errors").toString),
      clock = () => now)
    (pipe, new StreamRunner(spark, pipe))
  }

  test("happy path: rows land renamed + stamped; log and control updated") {
    val tmp = Files.createTempDirectory("ing-ok")
    writeCsv(tmp, "f.csv", Seq("id,name,score", "1,ann,1.5", "2,bob,2.5"))
    val (pipe, runner) = build(tmp, feed(tmp.resolve("src").toString))
    runner.runOnce(tmp.resolve("ckpt").toString)

    val rows = pipe.target.read().orderBy("person_id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows.head.getString(1) == "ann")
    assert(rows.head.getAs[Int]("BatchId") == 1)
    assert(rows.head.getAs[java.sql.Date]("InsertDate").toString == "2024-03-01")

    val logTypes = pipe.meta.logs.read()
      .select("LogEntryType").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(logTypes.contains("ROW_COUNT"))
    val ctl = pipe.meta.control.read().filter(col("HeaderID") === 7).collect()
    assert(ctl.nonEmpty && ctl.head.getAs[Int]("StatusID") == 1)
  }

  test("corrupt row: batch fails, quarantine written, source file moved to errors") {
    val tmp = Files.createTempDirectory("ing-bad")
    // 'oops' cannot parse as double → PERMISSIVE captures the raw line
    // into _rescued_data → the corrupt gate trips.
    writeCsv(tmp, "bad.csv", Seq("id,name,score", "1,ann,1.5", "2,bob,oops"))
    val (pipe, runner) = build(tmp, feed(tmp.resolve("src").toString))
    val ex = intercept[Exception] { runner.runOnce(tmp.resolve("ckpt").toString) }
    assert(ex.getMessage.contains("Bad records") ||
      Option(ex.getCause).exists(_.getMessage.contains("Bad records")))
    // quarantine parquet exists with the full batch
    assert(spark.read.parquet(tmp.resolve("corrupt").toString).count() == 2)
    // offending file moved out of the source dir
    assert(Files.list(tmp.resolve("errors")).count() == 1)
    assert(!Files.exists(tmp.resolve("src").resolve("bad.csv")))
    // failure logged with StatusID=3
    assert(pipe.meta.logs.read().filter(col("StatusID") === 3).count() >= 1)
  }

  test("overwrite mode replaces prior contents") {
    val tmp = Files.createTempDirectory("ing-ow")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "1,ann,1.5"))
    val f = feed(tmp.resolve("src").toString, overwrite = true)
    val (pipe, runner) = build(tmp, f)
    runner.runOnce(tmp.resolve("ckpt").toString)
    assert(pipe.target.read().count() == 1)

    // second file arrives; new one-shot run overwrites
    writeCsv(tmp, "b.csv", Seq("id,name,score", "9,zed,9.9"))
    new StreamRunner(spark, pipe).runOnce(tmp.resolve("ckpt").toString)
    val ids = pipe.target.read().select("person_id")
      .as[Int](org.apache.spark.sql.Encoders.scalaInt).collect().toSet
    assert(ids == Set(9))
  }

  test("multi-file one-shot: maxFilesPerTrigger=1 gives one batch per file") {
    val tmp = Files.createTempDirectory("ing-multi")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "1,ann,1.5"))
    writeCsv(tmp, "b.csv", Seq("id,name,score", "2,bob,2.5"))
    val (pipe, runner) = build(tmp, feed(tmp.resolve("src").toString))
    runner.runOnce(tmp.resolve("ckpt").toString)
    val batches = pipe.target.read().select("BatchId")
      .as[Int](org.apache.spark.sql.Encoders.scalaInt).collect().toSet
    assert(pipe.target.read().count() == 2)
    assert(batches == Set(1, 2)) // two micro-batches, ids stamped 1 and 2
  }

  test("daily re-run with a fresh checkpoint is idempotent (deleteToday)") {
    val tmp = Files.createTempDirectory("ing-idem")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "1,ann,1.5", "2,bob,2.5"))
    val (pipe, runner) = build(tmp, feed(tmp.resolve("src").toString))
    runner.runOnce(tmp.resolve("ckpt1").toString)
    assert(pipe.target.read().count() == 2)
    // same files, same day, NEW checkpoint (e.g. recovery): without the
    // pre-flight delete this would double to 4
    new StreamRunner(spark, pipe).runOnce(tmp.resolve("ckpt2").toString)
    assert(pipe.target.read().count() == 2)
  }

  test("resumed-checkpoint re-run keeps committed rows (retry never under-loads)") {
    val tmp = Files.createTempDirectory("ing-resume")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "1,ann,1.5", "2,bob,2.5"))
    val (pipe, runner) = build(tmp, feed(tmp.resolve("src").toString))
    runner.runOnce(tmp.resolve("ckpt").toString)
    assert(pipe.target.read().count() == 2)
    // SAME checkpoint — what runOnceWithRetry does after a failure. The
    // committed batch will NOT replay, so the pre-load daily delete must
    // be skipped or its rows are silently lost.
    new StreamRunner(spark, pipe).runOnce(tmp.resolve("ckpt").toString)
    assert(pipe.target.read().count() == 2)
  }

  test("type drift, widening direction: narrower file values load into the declared type") {
    // Policy (documented in COVERAGE.md): the DECLARED type wins. A file
    // whose physical values are NARROWER than the declaration (int
    // values arriving for a declared bigint, int-ish text for a declared
    // double) widens silently on read — the reader parses into the
    // declared type, so nothing is lost and no drift event fires (the
    // column set did not change; this is the common benign case after a
    // producer-side type tightening).
    val tmp = Files.createTempDirectory("ing-widen")
    writeCsv(tmp, "w.csv", Seq("id,name,score", "1,ann,2", "2147483648,bob,3"))
    val f = feed(tmp.resolve("src").toString).copy(Columns = Seq(
      ColumnSpec("id", "person_id", "bigint", 1), // declared WIDER than the values
      ColumnSpec("name", "person_name", "string", 2),
      ColumnSpec("score", "score", "double", 3)))
    val (pipe, runner) = build(tmp, f)
    runner.runOnce(tmp.resolve("ckpt").toString)
    val rows = pipe.target.read().orderBy("person_id").collect()
    // 2147483648 > Int.MaxValue: representable ONLY because the declared
    // type is bigint — the value survives exactly
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2147483648L))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(2.0, 3.0))
    assert(pipe.driftEvents.isEmpty, pipe.driftEvents)
  }

  test("type drift, narrowing direction: unrepresentable values rescue and quarantine") {
    // The inverse arrival — file values WIDER than the declaration (a
    // bigint-sized value for a declared int column) — must not load as
    // silently-truncated garbage. Policy: the value cannot parse into
    // the declared type, so PERMISSIVE mode rescues the raw row into
    // _rescued_data and the corrupt gate fails the batch into
    // quarantine, same as any malformed row — loud, compensated, and
    // the operator decides (widen the config, or fix the producer).
    val tmp = Files.createTempDirectory("ing-narrow")
    writeCsv(tmp, "n.csv", Seq("id,name,score",
      "1,ann,1.5", "3000000000,bob,2.5")) // 3e9 overflows the declared int
    val (pipe, runner) = build(tmp, feed(tmp.resolve("src").toString))
    val ex = intercept[Exception] { runner.runOnce(tmp.resolve("ckpt").toString) }
    assert(ex.getMessage.contains("Bad records") ||
      Option(ex.getCause).exists(_.getMessage.contains("Bad records")))
    // the whole batch (good + bad rows) is quarantined for inspection
    assert(spark.read.parquet(tmp.resolve("corrupt").toString).count() == 2)
    assert(pipe.meta.logs.read().filter(col("StatusID") === 3).count() >= 1)
  }

  test("headerless csv: positional schema, no phantom _cN drift") {
    val tmp = Files.createTempDirectory("ing-nohdr")
    writeCsv(tmp, "f.csv", Seq("1,ann,1.5", "2,bob,2.5")) // no header row
    val f = feed(tmp.resolve("src").toString).copy(SourceFileHeader = 0)
    val (pipe, runner) = build(tmp, f)
    runner.runOnce(tmp.resolve("ckpt").toString)
    assert(pipe.driftEvents.isEmpty, pipe.driftEvents)
    val rows = pipe.target.read().orderBy("person_id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(pipe.target.read().columns.count(_.startsWith("_c")) == 0)
  }

  test("json feed format parses with declared schema") {
    val tmp = Files.createTempDirectory("ing-json")
    val src = Files.createDirectories(tmp.resolve("src"))
    Files.writeString(src.resolve("f.json"),
      """{"id": 1, "name": "ann", "score": 1.5}
        |{"id": 2, "name": "bob", "score": 2.5}""".stripMargin)
    val f = feed(src.toString).copy(SourceFileFormat = "json",
      SourceFileHeader = 0, SourceFileDelimiter = "")
    val (pipe, runner) = build(tmp, f)
    runner.runOnce(tmp.resolve("ckpt").toString)
    val rows = pipe.target.read().orderBy("person_id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows(1).getAs[Double]("score") == 2.5)
  }

  test("orc feed format ingests with drift preflight through the generic path") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ing-orc")
    val src = tmp.resolve("src")
    Seq((1, "ann", 1.5), (2, "bob", 2.5)).toDF("id", "name", "score")
      .coalesce(1).write.orc(src.toString)
    val f = feed(src.toString).copy(SourceFileFormat = "orc",
      SourceFileHeader = 0, SourceFileDelimiter = "")
    val (pipe, runner) = build(tmp, f)
    runner.runOnce(tmp.resolve("ckpt").toString)
    val rows = pipe.target.read().orderBy("person_id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows(1).getAs[Double]("score") == 2.5)
    assert(rows.head.getAs[Int]("BatchId") == 1)
  }

  test("continuous mode: ProcessingTime trigger drains and can be stopped") {
    val tmp = Files.createTempDirectory("ing-cont")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "1,ann,1.5"))
    val f = feed(tmp.resolve("src").toString).copy(ContinuousRunFlag = 1)
    val (pipe, runner) = build(tmp, f)
    runner.preflightDrift()
    pipe.createTargets()
    val q = runner.start(tmp.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      assert(pipe.target.read().count() == 1)
      // a new file arrives mid-stream; the 0.5 s trigger picks it up
      writeCsv(tmp, "b.csv", Seq("id,name,score", "2,bob,2.5"))
      q.processAllAvailable()
      assert(pipe.target.read().count() == 2)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("FileOps.awaitFiles times out cleanly on an empty dir") {
    val tmp = Files.createTempDirectory("ing-empty")
    assert(!FileOps.awaitFiles(spark, tmp.resolve("nope").toString, timeoutMs = 300))
  }

  test("happy-path batch scans its input exactly once (counts ride the write)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ing-onescan")
    val meta = new MetaStore(spark, tmp.resolve("meta").toString).bootstrap()
    val pipe = new IngestPipeline(spark, feed(tmp.resolve("src").toString), meta,
      tmp.resolve("target").toString, clock = () => now)
    val scanned = spark.sparkContext.longAccumulator("scans")
    val batch = Seq((1, "ann", 1.5), (2, "bob", 2.5)).toDF("id", "name", "score")
      .as[(Int, String, Double)]
      .map { r => scanned.add(1); r }
      .toDF("id", "name", "score")
    val rows = pipe.processBatch(batch, batchId = 0)
    assert(rows == 2)
    // 2 rows, 1 pass: the row count is an observe() metric on the write
    // scan, not a separate count job (the round-2 path scanned twice)
    assert(scanned.value == 2, s"batch scanned ${scanned.value / 2} times")
  }

  /** Spark jobs `body` submits from this thread, by SQL execution
    * description. Exact, not sampled: the jobs carry a job group, and a
    * sentinel job after `body` proves every earlier job-start event
    * reached the listener (the bus delivers in order). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).map(_.getProperty(k)).orNull
        prop("spark.jobGroup.id") match {
          case `group` => seen.add(String.valueOf(prop("spark.job.description")))
          case g if g == group + "-sentinel" => drained.countDown()
          case _ => ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-sentinel", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("catalog bookkeeping submits no Spark job; a happy-path batch submits only its sink write") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ing-nojobs")
    val meta = new MetaStore(spark, tmp.resolve("meta").toString).bootstrap()
    val pipe = new IngestPipeline(spark, feed(tmp.resolve("src").toString), meta,
      tmp.resolve("target").toString, clock = () => now)
    pipe.createTargets()
    // START line (inserts the control row) and a later batch's entries
    // (shifts it): the per-batch bookkeeping runs on the driver
    assert(jobsDuring(meta.logAndControl(7, "/src", -1, "START", "Job started", 1, now = now)) === Nil)
    assert(jobsDuring(meta.logAndControlMany(7, "/src", 0,
      Seq(("ROW_COUNT", "2", 1, None), ("AUTO_LOADER", "Batch 0 loaded", 1, None)), now = now)) === Nil)
    // a clean batch: exactly one job, the target append; the log rows
    // and the control update it writes ride no job of their own
    val batch = Seq((1, "ann", 1.5), (2, "bob", 2.5)).toDF("id", "name", "score")
    val jobs = jobsDuring(assert(pipe.processBatch(batch, batchId = 1) === 2))
    assert(jobs.size === 1, jobs)
    assert(pipe.target.read().count() === 2)
    val ctl = meta.control.read().filter(col("HeaderID") === 7).collect()
    assert(ctl.length === 1 && ctl.head.getAs[Int]("LatestBatchID") === 1 &&
      ctl.head.getAs[Int]("PreviousBatchID") === 0)
  }

  test("append-mode corrupt batch: compensating delete leaves target empty, notifier fires") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ing-comp")
    val meta = new MetaStore(spark, tmp.resolve("meta").toString).bootstrap()
    val notifier = new graft.notify.BufferingNotifier
    val pipe = new IngestPipeline(spark, feed(tmp.resolve("src").toString), meta,
      tmp.resolve("target").toString,
      corruptPath = Some(tmp.resolve("corrupt").toString),
      clock = () => now, notifier = notifier)
    val bad = Seq(
      (1, "ann", 1.5, null.asInstanceOf[String]),
      (2, "bob", 2.5, "2,bob,oops"))
      .toDF("id", "name", "score", "_rescued_data")
    intercept[IllegalStateException] { pipe.processBatch(bad, batchId = 0) }
    // the batch was appended on the single write pass, then pulled back
    // out by the BatchId-stamped compensating delete
    assert(pipe.target.read().count() == 0)
    assert(spark.read.parquet(tmp.resolve("corrupt").toString).count() == 2)
    assert(notifier.events.exists(_._1 == "CORRUPT_BATCH"), notifier.events)
  }

  test("continuous mode: runContinuousBatches stops after BatchFileCount batches") {
    val tmp = Files.createTempDirectory("ing-contstop")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "1,ann,1.5"))
    val f = feed(tmp.resolve("src").toString)
      .copy(ContinuousRunFlag = 1, BatchFileCount = 2)
    val (pipe, runner) = build(tmp, f)
    // deliver the second batch's file while the stream is live
    val writer = new Thread(() => {
      Thread.sleep(1500)
      writeCsv(tmp, "b.csv", Seq("id,name,score", "2,bob,2.5"))
    })
    writer.start()
    runner.runContinuousBatches(tmp.resolve("ckpt").toString, timeoutMs = 45000)
    writer.join()
    // both batches landed and the query stopped on its own bookkeeping
    assert(pipe.target.read().count() == 2)
    val latest = pipe.meta.control.read().filter(col("HeaderID") === 7)
      .select(max(col("LatestBatchID"))).collect().head.getInt(0)
    assert(latest >= 1, s"expected 2 batches, LatestBatchID=$latest")
  }

  test("runOnceWithRetry retries a transient failure and succeeds") {
    val tmp = Files.createTempDirectory("ing-retry")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "1,ann,1.5", "2,bob,2.5"))
    val meta = new MetaStore(spark, tmp.resolve("meta").toString).bootstrap()
    val failures = new java.util.concurrent.atomic.AtomicInteger(1)
    val flakyClock: () => Timestamp = () => {
      if (failures.getAndDecrement() > 0) throw new RuntimeException("transient")
      now
    }
    val pipe = new IngestPipeline(spark, feed(tmp.resolve("src").toString), meta,
      tmp.resolve("target").toString, clock = flakyClock)
    val retries = new StreamRunner(spark, pipe)
      .runOnceWithRetry(tmp.resolve("ckpt").toString)
    assert(retries == 1)
    // the checkpoint replays the failed batch exactly once
    assert(pipe.target.read().count() == 2)
    assert(pipe.meta.logs.read()
      .filter(col("LogEntryDescription").contains("retrying")).count() == 1)
  }

  test("runOnceWithRetry exhausts Retries and notifies RUN_FAILED") {
    val tmp = Files.createTempDirectory("ing-retryfail")
    writeCsv(tmp, "bad.csv", Seq("id,name,score", "2,bob,oops"))
    val meta = new MetaStore(spark, tmp.resolve("meta").toString).bootstrap()
    val notifier = new graft.notify.BufferingNotifier
    val f = feed(tmp.resolve("src").toString)
    val pipe = new IngestPipeline(spark,
      f.copy(JobConfig = f.JobConfig.copy(Retries = 1)), meta,
      tmp.resolve("target").toString,
      corruptPath = Some(tmp.resolve("corrupt").toString),
      clock = () => now, notifier = notifier)
    intercept[Exception] {
      new StreamRunner(spark, pipe).runOnceWithRetry(tmp.resolve("ckpt").toString)
    }
    // 1 retry attempted (logged), then the failure notified
    assert(pipe.meta.logs.read()
      .filter(col("LogEntryDescription").contains("retrying")).count() == 1)
    assert(notifier.events.exists(_._1 == "RUN_FAILED"), notifier.events)
  }

  test("ZOrder-flagged feed is compacted after the load: one sorted file") {
    val tmp = Files.createTempDirectory("ing-zorder")
    writeCsv(tmp, "a.csv", Seq("id,name,score", "3,cat,3.0", "1,ann,1.5"))
    writeCsv(tmp, "b.csv", Seq("id,name,score", "2,bob,2.5"))
    val base = feed(tmp.resolve("src").toString)
    val f = base.copy(Columns = base.Columns.map(c =>
      if (c.SourceColumnName == "id") c.copy(ZOrder = 1) else c))
    val (pipe, runner) = build(tmp, f)
    runner.runOnce(tmp.resolve("ckpt").toString)
    // two micro-batches wrote >=2 files; post-load compaction leaves 1
    // (inside the single InsertDate partition directory)
    import scala.jdk.CollectionConverters._
    val partFiles = Files.walk(tmp.resolve("target")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq
    assert(partFiles.size == 1, partFiles)
    // and rows are clustered by the z column
    val ids = pipe.target.read().select("person_id")
      .as[Int](org.apache.spark.sql.Encoders.scalaInt).collect().toSeq
    assert(ids == ids.sorted, ids)
  }

  test("daily delete drops one partition directory; other days' files untouched") {
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("ing-daypart")
    writeCsv(tmp, "d1.csv", Seq("id,name,score", "1,ann,1.5"))
    val meta = new MetaStore(spark, tmp.resolve("meta").toString).bootstrap()
    var day = Timestamp.valueOf("2024-03-01 12:00:00")
    val pipe = new IngestPipeline(spark, feed(tmp.resolve("src").toString), meta,
      tmp.resolve("target").toString, clock = () => day)
    val runner = new StreamRunner(spark, pipe)
    runner.runOnce(tmp.resolve("ckpt").toString)
    // day 2: one more file lands; same checkpoint → only the new file
    writeCsv(tmp, "d2.csv", Seq("id,name,score", "2,bob,2.5"))
    day = Timestamp.valueOf("2024-03-02 12:00:00")
    runner.runOnce(tmp.resolve("ckpt").toString)
    val targetDir = tmp.resolve("target")
    assert(Files.exists(targetDir.resolve("InsertDate=2024-03-01")))
    assert(Files.exists(targetDir.resolve("InsertDate=2024-03-02")))
    // snapshot day 1's data files (path + mtime): the day-2 delete must
    // be a partition-directory drop, not a table rewrite
    def day1Files() = Files.walk(targetDir.resolve("InsertDate=2024-03-01"))
      .iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    val before = day1Files()
    assert(before.nonEmpty)
    pipe.deleteToday() // clock is day 2
    assert(!Files.exists(targetDir.resolve("InsertDate=2024-03-02")))
    assert(day1Files() === before) // byte-for-byte untouched
    val rows = pipe.target.read().collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1))
    assert(rows.head.getAs[java.sql.Date]("InsertDate").toString == "2024-03-01")
  }
}
