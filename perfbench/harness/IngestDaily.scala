package perfbench

import java.nio.file.Path
import java.sql.{Date, Timestamp}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.catalog.MetaStore
import graft.ingest.{FileOps, IngestPipeline, Masking, StreamRunner}
import graft.report.DailyLogReport

/** Workload `ingest_daily`: the paper's own job. One seeded day of
  * landing files for four feeds is landed into a fresh catalog, feed by
  * feed, the way the reference's daily job does it (START log, the
  * feed's Auto Loader run, END log), and the day ends with the
  * reconciliation report over the resulting catalog. The small-file
  * feeds run one-shot at one file per trigger, so their batches are
  * bound by catalog bookkeeping; the bulk feed runs in continuous mode
  * at 100 files per trigger, 100 k rows in one trigger, so it is bound
  * by its sink writes (the traced `ingest.{small,bulk}_*_ms` split). */
object IngestDaily {
  val Shape: Gen.DayShape = Gen.DayShape(smallFiles = 3, smallRows = 1000, bulkFiles = 100, bulkRows = 1000)
  private val WarmShape = Gen.DayShape(smallFiles = 1, smallRows = 50, bulkFiles = 1, bulkRows = 50)
  private val BulkFeed = 104
  private val ReportDate = Date.valueOf("2024-03-01")
  private val DayStart = Timestamp.valueOf("2024-03-01 06:00:00").getTime

  /** Where one landing of the day keeps its state. */
  final class Site(val root: Path) {
    val meta: String = root.resolve("meta").toString
    def target(id: Int): String = root.resolve(s"sink/target/$id").toString
    def pii(id: Int): String = root.resolve(s"sink/pii/$id").toString
    def ckpt(id: Int): String = root.resolve(s"ckpt/$id").toString
  }

  /** One feed's landing: its wall time, micro-batches, stop-and-compact
    * tail, the files its source committed (traced runs), and what the
    * catalog, the sink and Spark's tasks spent on it (traced runs). */
  final case class FeedRun(id: Int, ms: Double, batches: Seq[Progress], postStreamMs: Double,
                           files: Int = 0, split: Map[String, Long] = Map.empty)

  /** Counters read around each feed's landing, so the catalog/sink split
    * of the small-file feeds and of the bulk feed can be told apart. */
  private val SplitCounters = Seq("catalog.ns", "catalog.logs.ns", "sink.target.ns", "sink.pii.ns",
    "spark.task_run_ms")

  /** Distinct files the feed's file source committed, from the source
    * log in its checkpoint. */
  private def committedFiles(ckpt: String): Int = {
    val log = java.nio.file.Paths.get(ckpt, "sources", "0")
    if (!java.nio.file.Files.isDirectory(log)) 0
    else java.nio.file.Files.list(log).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala.filter(_.startsWith("{")))
      .map(l => """"path":"([^"]*)"""".r.findFirstMatchIn(l).map(_.group(1)).getOrElse(l)).toSet.size
  }
  final case class DayRun(feeds: Seq[FeedRun], reportMs: Double, landMs: Double, failedOps: Int,
                          gates: Seq[(String, Boolean)], rows: Long)

  private def pipelines(ctx: Ctx, day: Gen.Day, site: Site, meta: MetaStore,
                        clock: () => Timestamp): Seq[(Gen.FeedInput, IngestPipeline)] =
    day.feeds.map { fi =>
      val id = fi.feed.HeaderID
      fi -> new IngestPipeline(ctx.spark, fi.feed, meta, site.target(id),
        piiPath = if (fi.feed.IsPII == 1) Some(site.pii(id)) else None, clock = clock)
    }

  /** The catalog's set-up for a day: bootstrap, config validation and
    * target creation. */
  private def prepare(ctx: Ctx, day: Gen.Day, site: Site,
                      clock: () => Timestamp): (MetaStore, Seq[(Gen.FeedInput, IngestPipeline)]) = {
    val errs = graft.model.FeedConfig.validateAll(day.feeds.map(_.feed))
    require(errs.isEmpty, s"generated feed configs are invalid: ${errs.mkString("; ")}")
    val meta = new MetaStore(ctx.spark, site.meta).bootstrap()
    val pipes = pipelines(ctx, day, site, meta, clock)
    pipes.foreach(_._2.createTargets())
    (meta, pipes)
  }

  /** Lands the whole day into `site` and builds the report. Outside
    * warm-up the landing runs as a measured phase and the gates run after
    * it. */
  private def landDay(ctx: Ctx, day: Gen.Day, site: Site, defect: Boolean, warmup: Boolean): DayRun = {
    val rec = ctx.rec
    val wall0 = System.currentTimeMillis()
    // the day's clock: a fixed date, advancing with real time
    val clock = () => new Timestamp(DayStart + System.currentTimeMillis() - wall0)
    val (meta, pipes) = prepare(ctx, day, site, clock)
    rec.classes = Seq("catalog.logs" -> s"${site.meta}/logs", "catalog" -> site.meta,
      "sink.pii" -> site.root.resolve("sink/pii").toString,
      "sink.target" -> site.root.resolve("sink/target").toString)
    var failedOps = 0
    var report: Array[org.apache.spark.sql.Row] = Array.empty
    def timed[T](body: => T): T = if (warmup) body else rec.measured(body)
    val (feedRuns, reportMs) = timed {
      val runs = pipes.map { case (fi, pipe) =>
        val id = fi.feed.HeaderID
        val t0 = System.nanoTime()
        val c0 = SplitCounters.map(rec.counter)
        var batches: Seq[Progress] = Nil
        var runEndMs = 0L
        var ms = 0.0
        val ok = rec.span(s"ingest.feed.$id") {
          val ok = try {
            meta.logAndControl(id, fi.feed.SourceFilePath, -1, "START", "Job started", 1, now = clock())
            val runner = new StreamRunner(ctx.spark, pipe)
            if (fi.feed.ContinuousRunFlag == 1) runner.runContinuousBatches(site.ckpt(id))
            else runner.runOnce(site.ckpt(id))
            runEndMs = System.currentTimeMillis()
            meta.logAndControl(id, fi.feed.SourceFilePath, -1, "END", "Job finished", 1, now = clock())
            true
          } catch { case e: Exception =>
            System.err.println(s"[ingest_daily] feed $id failed: $e")
            false
          }
          ms = (System.nanoTime() - t0) / 1e6
          batches = rec.takeProgress().filter(p => p.query == s"ingest-$id" && p.rows > 0)
          batches.foreach(p => rec.addSpan(s"ingest.batch.$id.${p.batchId}", rec.current,
            p.startMs * 1000L, (p.startMs + p.durations.getOrElse("triggerExecution", 0L)) * 1000L))
          ok
        }
        if (!ok) failedOps += 1
        val lastEnd = batches.map(p => p.startMs + p.durations.getOrElse("triggerExecution", 0L))
          .foldLeft(0L)(math.max)
        val split = SplitCounters.zip(SplitCounters.map(rec.counter).zip(c0).map { case (a, b) => a - b }).toMap
        // stop and compaction: from the last batch's end to the run returning
        FeedRun(id, ms, batches, if (lastEnd > 0 && runEndMs > 0) (runEndMs - lastEnd).toDouble else 0.0,
          split = split)
      }
      if (defect) // the planted defect: one target row goes missing
        pipes.find(_._1.feed.HeaderID == 103).foreach(_._2.target.deleteWhere(col("sku") === 0L))
      val t0 = System.nanoTime()
      rec.span("report.daily") {
        try {
          import ctx.spark.implicits._
          val counts = pipes.map { case (fi, pipe) =>
            (fi.feed.HeaderID.toLong, fi.rows, pipe.target.read().count(),
              fi.feed.JobConfig.WarningDuration)
          }.toDF("HeaderID", "Parquet_Row_Count", "Delta_Count", "WarningDuration")
          val built = DailyLogReport.build(meta.logs.read(), counts, clock(), ReportDate)
          report = built.collect()
          DailyLogReport.persist(meta, built, ReportDate)
        } catch { case e: Exception =>
          System.err.println(s"[ingest_daily] report failed: $e")
          failedOps += 1
        }
      }
      (runs, (System.nanoTime() - t0) / 1e6)
    }
    val landMs = feedRuns.map(_.ms).sum
    val feeds = if (!rec.traced) feedRuns else feedRuns.map(f => f.copy(files = committedFiles(site.ckpt(f.id))))
    val gates = if (warmup) Nil else ctx.phase("gates")(this.gates(pipes, meta, report))
    // a failed gate fails the op it checks: the feed's landing, or the report
    val failedFeeds = day.feeds.map(_.feed.HeaderID).count(id =>
      gates.exists { case (n, ok) => !ok && n.startsWith(s"feed$id.") })
    val reportFailed = gates.exists { case (n, ok) => !ok && n.startsWith("report.") }
    DayRun(feeds, reportMs, landMs,
      math.max(failedOps, failedFeeds + (if (reportFailed) 1 else 0)), gates, day.rows)
  }

  private def gates(pipes: Seq[(Gen.FeedInput, IngestPipeline)],
                    meta: MetaStore, report: Array[org.apache.spark.sql.Row]): Seq[(String, Boolean)] = {
    val verdicts = report.map(r => r.getAs[Number]("HeaderID").longValue -> r.getAs[String]("RowCountMatchFlag")).toMap
    val logged = meta.logs.read().filter(col("LogEntryType") === "ROW_COUNT").groupBy(col("HeaderID"))
      .agg(sum(col("LogEntryDescription").cast("long"))).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    pipes.flatMap { case (fi, pipe) =>
      val id = fi.feed.HeaderID
      def safe(f: => Boolean) = try f catch { case e: Exception =>
        System.err.println(s"[ingest_daily] gate on feed $id failed: $e"); false }
      val target = pipe.target.read()
      val rows = safe(target.count() == fi.rows && logged.get(id.toLong).contains(fi.rows))
      val pass = Seq(s"report.feed$id.pass" -> verdicts.get(id.toLong).contains("PASS (Row count match)"))
      val pii = pipe.piiTarget.toSeq.map { p =>
        s"feed$id.pii_masked" -> safe {
          val shadow = p.read()
          val rest = target.columns.filterNot(fi.piiColumns.contains).map(col).toSeq
          shadow.filter(fi.piiColumns.map(c => col(c).isNull || col(c) =!= Masking.MaskValue).reduce(_ || _))
            .isEmpty &&
            shadow.select(rest: _*).exceptAll(target.select(rest: _*)).isEmpty &&
            target.select(rest: _*).exceptAll(shadow.select(rest: _*)).isEmpty
        }
      }
      val drift = fi.driftColumn.toSeq.map { c =>
        s"feed$id.drift_column" -> safe {
          !meta.columns.read().filter(col("HeaderID") === id && col("SourceColumnName") === c).isEmpty &&
            target.columns.contains(c) && target.filter(col(c).isNotNull).count() == fi.driftRows
        }
      }
      Seq(s"feed$id.rows" -> rows) ++ pass ++ pii ++ drift
    }
  }

  def run(ctx: Ctx): Outcome = {
    val rec = ctx.rec
    // the day's landing files from the seed; set-up is a catalog ready to
    // take them (bootstrap, config validation, target creation)
    val day = ctx.phase("gen")(Gen.day(ctx.spark, ctx.dir("input"), ctx.seed, Shape))
    val (setupS, _) = ctx.setupReps(3) { k =>
      val site = new Site(ctx.dir(s"setup$k"))
      prepare(ctx, day, site, () => new Timestamp(DayStart))
      FileOps.deleteRecursively(site.root)
    }

    // warm-up, untimed: a day of one small file per feed, the bulk
    // feed's continuous trigger included, and the report over them
    val warmDay = Gen.day(ctx.spark, ctx.dir("warm_input"), ctx.seed + 1, WarmShape)
    ctx.phase("warm")(landDay(ctx, warmDay, new Site(ctx.dir("warm")), defect = false, warmup = true))
    FileOps.deleteRecursively(ctx.work.resolve("warm"))

    var heapMb = 0.0
    val runs = ctx.loopFor { i =>
      val site = new Site(ctx.dir(s"day$i"))
      val r = rec.span(s"ingest.day.$i")(landDay(ctx, day, site, ctx.plantDefect, warmup = false))
      FileOps.deleteRecursively(site.root)
      heapMb = math.max(heapMb, ctx.retainedHeapMb())
      r
    }

    val small = runs.flatMap(_.feeds.filter(_.id != BulkFeed).flatMap(_.batches))
    val allBatches = runs.flatMap(_.feeds.flatMap(_.batches))
    val n = runs.size.toDouble
    val landS = runs.map(_.landMs).sum / 1000.0
    val partMedians = day.feeds.map(f => Stats.median(runs.map(_.feeds.find(_.id == f.feed.HeaderID).get.ms))) :+
      Stats.median(runs.map(_.reportMs))
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(runs.map(r => (r.landMs + r.reportMs) / 1000.0)),
      "p50_ms" -> Stats.median(small.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)),
      "geomean_ms" -> Stats.geomean(partMedians),
      "items_per_s" -> runs.map(_.rows).sum / landS,
      "heap_peak_mb" -> heapMb)

    val layers = if (!rec.traced) Map.empty[String, Double] else {
      def dur(k: String*) = allBatches.map(p => k.map(p.durations.getOrElse(_, 0L)).sum).sum / n
      val spans = rec.allSpans
      val reportSpans = spans.filter(_.name == "report.daily")
      val (reportJobs, reportShuffle) = reportSpans.map(s => rec.subtree(s.id))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      val self = rec.selfUs()
      def selfMs(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(s => self(s.id)).sum / 1000.0 / n
      val catalogBytes = rec.counter("catalog.bytes_written") + rec.counter("catalog.logs.bytes_written")
      val sinkBytes = rec.counter("sink.target.bytes_written") + rec.counter("sink.pii.bytes_written")
      // per day: the named counters summed over the small-file feeds' or
      // the bulk feed's landings
      def split(small: Boolean, names: String*) = runs.map(_.feeds.filter(f => (f.id != BulkFeed) == small)
        .map(f => names.map(f.split.getOrElse(_, 0L)).sum).sum).sum.toDouble / n
      Map(
        "ingest.batches" -> allBatches.size / n,
        "ingest.files" -> runs.map(_.feeds.map(_.files).sum).sum / n,
        "ingest.rows" -> allBatches.map(_.rows).sum / n,
        "ingest.add_batch_ms" -> dur("addBatch"),
        "ingest.latest_offset_ms" -> dur("latestOffset"),
        "ingest.commit_ms" -> dur("walCommit", "commitOffsets"),
        "ingest.post_stream_ms" -> runs.map(_.feeds.map(_.postStreamMs).sum).sum / n,
        "ingest.self_ms" -> selfMs("ingest.feed."),
        "catalog.execs" -> (rec.counter("catalog.execs") + rec.counter("catalog.logs.execs")) / n,
        "catalog.ms" -> (rec.counter("catalog.ns") + rec.counter("catalog.logs.ns")) / 1e6 / n,
        "catalog.bytes_written" -> catalogBytes / n,
        "catalog.write_amp" -> catalogBytes.toDouble / math.max(1L, rec.counter("catalog.logs.bytes_written")),
        "ingest.small_catalog_ms" -> split(small = true, "catalog.ns", "catalog.logs.ns") / 1e6,
        "ingest.small_sink_ms" -> split(small = true, "sink.target.ns", "sink.pii.ns") / 1e6,
        "ingest.bulk_catalog_ms" -> split(small = false, "catalog.ns", "catalog.logs.ns") / 1e6,
        "ingest.bulk_sink_ms" -> split(small = false, "sink.target.ns", "sink.pii.ns") / 1e6,
        "ingest.bulk_busy_share" -> split(small = false, "spark.task_run_ms") /
          (runs.map(_.feeds.filter(_.id == BulkFeed).map(_.ms).sum).sum / n * Runtime.getRuntime.availableProcessors()),
        "sink.target_ms" -> rec.counter("sink.target.ns") / 1e6 / n,
        "sink.pii_ms" -> rec.counter("sink.pii.ns") / 1e6 / n,
        "sink.bytes_written" -> sinkBytes / n,
        "sink.write_amp" -> sinkBytes.toDouble / n / day.bytes,
        "report.jobs" -> reportJobs / n,
        "report.shuffle_bytes" -> reportShuffle / n,
        "report.self_ms" -> selfMs("report."))
    }
    val gates = runs.flatMap(_.gates).groupBy(_._1).map { case (k, v) => k -> v.forall(_._2) }.toSeq.sortBy(_._1)
    Outcome(attempted = runs.size * (day.feeds.size + 1L), failed = runs.map(_.failedOps.toLong).sum,
      gates = gates, e2e = e2e, layers = layers,
      info = Map("units" -> runs.size.toString, "input_rows" -> day.rows.toString,
        "input_bytes" -> day.bytes.toString, "small_batch_ms" -> small.map(_.durations.getOrElse("triggerExecution", 0L)).mkString("[", ",", "]"),
        "land_s" -> Json.num(Stats.median(runs.map(_.landMs / 1000.0))),
        "report_ms" -> Json.num(Stats.median(runs.map(_.reportMs))),
        "feed_ms" -> day.feeds.map(f => s"${Json.str(f.feed.HeaderID.toString)}:" +
          Json.num(Stats.median(runs.map(_.feeds.find(_.id == f.feed.HeaderID).get.ms)))).mkString("{", ",", "}"),
        "bulk_rows_per_s" -> Json.num(day.feeds.last.rows / (Stats.median(runs.map(_.feeds.last.ms)) / 1000.0))))
  }
}
