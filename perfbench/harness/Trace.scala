package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one run share the recorder's run id;
  * `parent` is 0 for the workload's root span. Times are epoch µs. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Progress(query: String, batchId: Long, rows: Long, startMs: Long,
                          durations: Map[String, Long])

/** Everything a run records about the program while it runs.
  *
  * Untraced, it keeps only what the end-to-end metrics need: the
  * streaming progress of each micro-batch. Traced, it also keeps spans
  * around the benchmark's calls into each module and hangs every Spark
  * job under the span that submitted it (through a local property,
  * which the threads a streaming query starts inherit), and it adds
  * Spark's own listeners: job/stage/task totals, Catalyst phase times
  * from `QueryExecution.tracker`, and per-execution write sizes
  * classified by the directory they touch.
  *
  * Listener events arrive asynchronously, so counters only count while
  * a measured phase is open, and opening or closing one first drains
  * the listener bus. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  @volatile private var measuring = false

  /** Waits until every listener event posted so far was delivered. */
  private def drain(): Unit = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    drainNs.add(System.nanoTime() - t0)
  }
  private val drainNs = new LongAdder
  private val qelNs = new LongAdder
  def drainMs: Double = drainNs.sum() / 1e6
  def listenerMs: Double = qelNs.sum() / 1e6

  /** Runs `body` as a measured phase: only what it causes is counted. */
  def measured[T](body: => T): T = {
    drain()
    measuring = true
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    try body
    finally {
      drain()
      measuring = false
      wallNs.add(System.nanoTime() - t0)
      gcTotal.add(gcMs() - gc0)
    }
  }
  /** Runs `body` inside a measured phase without counting what it causes. */
  def unmeasured[T](body: => T): T = {
    val was = measuring
    if (was) { drain(); measuring = false }
    try body
    finally if (was) { drain(); measuring = true }
  }

  private val wallNs = new LongAdder
  private val gcTotal = new LongAdder
  def measuredWallMs: Double = wallNs.sum() / 1e6

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  // ------------------------------------------------------------- spans

  private val spanSeq = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val SpanProp = "perfbench.span"

  /** Times `body` as a span named `name` under the caller's open span.
    * Untraced, it only runs `body`. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spanSeq.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowUs
      try body
      finally {
        spans.add(Span(id, parent, name, start, nowUs))
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Id of the caller's innermost open span (0 outside any). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Records a span timed elsewhere, e.g. a micro-batch from its
    * streaming progress. */
  def addSpan(name: String, parent: Long, startUs: Long, endUs: Long): Unit =
    if (traced) spans.add(Span(spanSeq.incrementAndGet(), parent, name, startUs, endUs))

  // --------------------------------------------------- streaming progress

  private val progress = new ConcurrentLinkedQueue[Progress]()

  /** Progress of every micro-batch since the last call, in arrival order. */
  def takeProgress(): Seq[Progress] = {
    drain()
    Iterator.continually(progress.poll()).takeWhile(_ != null).toList
  }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(Option(p.name).getOrElse(""), p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  })

  // ------------------------------------------------ Spark engine counters

  final class Counter { val v = new LongAdder; def add(x: Long): Unit = v.add(x); def get: Long = v.sum() }
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Counter]()
  def count(name: String, x: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new Counter).add(x)
  def counter(name: String): Long = Option(counters.get(name)).map(_.get).getOrElse(0L)

  private case class JobInfo(span: Long, startMs: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** Spark jobs and shuffle bytes, keyed by the span that submitted them. */
  private val spanJobs = new java.util.concurrent.ConcurrentHashMap[Long, Counter]()
  private val spanShuffle = new java.util.concurrent.ConcurrentHashMap[Long, Counter]()
  private val jobSpans = new ConcurrentLinkedQueue[Span]()

  /** Path prefixes that classify a query execution by what it touches:
    * (category, prefix), first match wins. */
  @volatile var classes: Seq[(String, String)] = Nil

  if (traced) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toLong).getOrElse(0L)
        jobs.put(e.jobId, JobInfo(span, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        count("spark.jobs")
        spanJobs.computeIfAbsent(span, _ => new Counter).add(1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.remove(e.jobId)).foreach { j =>
          jobSpans.add(Span(-e.jobId - 1L, j.span, "spark.job", j.startMs * 1000L, e.time * 1000L))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (measuring) count("spark.stages")
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuring && e.taskMetrics != null) {
        val m = e.taskMetrics
        count("spark.tasks")
        count("spark.task_run_ms", m.executorRunTime)
        count("spark.task_cpu_ns", m.executorCpuTime)
        val shuffle = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        count("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        count("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
          spanShuffle.computeIfAbsent(j.span, _ => new Counter).add(shuffle)
        }
      }
    })

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (measuring) {
          val t0 = System.nanoTime()
          qe.tracker.phases.foreach { case (phase, s) =>
            count(s"catalyst.${phase}_ms", s.durationMs)
          }
          classify(qe.executedPlan, durationNs)
          qelNs.add(System.nanoTime() - t0)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (measuring) count("exec.failed")
    })
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def classify(plan: SparkPlan, durationNs: Long): Unit = {
    val all = nodes(plan)
    val writes = all.collect {
      case d: DataWritingCommandExec => d.cmd
    }.collect { case c: InsertIntoHadoopFsRelationCommand =>
      (c.outputPath.toUri.getPath, c.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
    }
    val reads = all.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
    def classOf(path: String): Option[String] =
      classes.collectFirst { case (c, prefix) if path.startsWith(prefix) => c }
    // a write decides the class; a read-only execution is classified by
    // the first classified directory it scans
    val cls = writes.flatMap(w => classOf(w._1)).headOption
      .orElse(reads.flatMap(classOf).headOption)
    cls.foreach { c =>
      count(s"$c.execs")
      count(s"$c.ns", durationNs)
    }
    writes.foreach { case (path, bytes) =>
      classOf(path).foreach(c => count(s"$c.bytes_written", bytes))
    }
  }

  // ------------------------------------------------------------ results

  /** Jobs and shuffle bytes under span `id` and all its descendants. */
  def subtree(id: Long): (Long, Long) = {
    val kids = children
    def walk(s: Long): (Long, Long) = {
      val own = (Option(spanJobs.get(s)).map(_.get).getOrElse(0L),
        Option(spanShuffle.get(s)).map(_.get).getOrElse(0L))
      kids.getOrElse(s, Nil).map(walk).foldLeft(own) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    walk(id)
  }
  private lazy val children: Map[Long, Seq[Long]] =
    spans.asScala.toSeq.groupBy(_.parent).map { case (p, xs) => p -> xs.map(_.id) }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobSpans: Seq[Span] = jobSpans.asScala.toSeq

  /** Self time of each span: its length minus the part of it that its
    * child spans and the Spark jobs it submitted cover. */
  def selfUs(): Map[Long, Long] = {
    val byParent = (spans.asScala.toSeq ++ jobSpans.asScala.toSeq).groupBy(_.parent)
    spans.asScala.map { s =>
      val covered = byParent.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var curS = -1L
      var curE = -1L
      covered.foreach { case (a, b) =>
        if (a > curE) { total += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      total += math.max(0L, curE - curS)
      s.id -> math.max(0L, (s.endUs - s.startUs) - total)
    }.toMap
  }

  def gcMsTotal: Long = gcTotal.sum()

  /** The spans as one JSON document. */
  def spansJson(workload: String, seed: Long): String = {
    def one(s: Span) =
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
    (allSpans ++ allJobSpans).sortBy(_.startUs).map(one)
      .mkString(s"""{"run_id":"$runId","workload":"$workload","seed":$seed,"spans":[""", ",\n", "]}\n")
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
