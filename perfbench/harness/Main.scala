package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one workload run reports back to `run.py`: operations attempted
  * and failed, the correctness gates, `e2e` (the end-to-end metrics),
  * `layers` (the per-layer ones, traced runs only) and diagnostics
  * (`info`, raw JSON values). */
final case class Outcome(attempted: Long, failed: Long, gates: Seq[(String, Boolean)],
                         e2e: Map[String, Double], layers: Map[String, Double],
                         info: Map[String, String] = Map.empty)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val work: Path, val seed: Long,
                val seconds: Double, val plantDefect: Boolean) {
  private val jvmStartNs = System.nanoTime()
  /** Work stops being started once the JVM has run this long, so a run
    * on a slow machine still ends well inside its time limit. */
  private val hardStopS = 100.0
  def elapsedS: Double = (System.nanoTime() - jvmStartNs) / 1e9

  /** Wall seconds of each phase of the run (a diagnostic). */
  val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Runs `unit` until `seconds` of measured time have passed (at least
    * once), and returns each unit's result. */
  def loopFor[T](unit: Int => T): Seq[T] = phase("measure") {
    val out = Seq.newBuilder[T]
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || ((System.nanoTime() - t0) / 1e9 < seconds && elapsedS < hardStopS)) {
      out += unit(i)
      i += 1
    }
    out.result()
  }

  /** Runs set-up `reps` times into fresh directories and returns the
    * median wall time in seconds with the last repetition's result. */
  def setupReps[T](reps: Int)(setup: Int => T): (Double, Seq[T]) = phase("setup") {
    val runs = (0 until reps).map { k =>
      val t0 = System.nanoTime()
      val r = setup(k)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    (Stats.median(runs.map(_._1)), runs.map(_._2))
  }

  /** Forces a full GC and returns the heap still in use, in MiB. The
    * benchmark calls it between units, outside every timed region. */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** CPU time of the whole machine from `/proc/stat`, in ticks: (stolen
    * by the hypervisor, total). Empty where the file does not exist. */
  def cpuTicks(): Option[(Long, Long)] = try {
    val f = java.nio.file.Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
  } catch { case _: Exception => None }

  /** CPU seconds this JVM has used. */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** The system's one-minute load average. */
  def loadAvg(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** A fixed CPU-bound query sized to this machine (`local[nproc]`,
    * `nproc` partitions): its time says what the machine was worth
    * during the run, so a run taken under ambient load stands out. */
  def calibrate(spark: SparkSession, nproc: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L * nproc, 1, nproc).select(xxhash64(col("id")).as("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def session(nproc: Int): SparkSession = {
    val spark = graft.Tables.session("perfbench", nproc.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val out = Paths.get(arg(args, "--out").getOrElse(sys.error("--out is required")))
    val traceOut = arg(args, "--trace-out").map(Paths.get(_))
    val plantDefect = args.contains("--plant-defect")
    val load0 = loadAvg()
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = session(nproc)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      if (workload == "gen") {
        // input identity only: generate every workload's inputs and
        // print one digest per input set
        val d = Seq(
          "day" -> { Gen.day(spark, work.resolve("day"), seed, IngestDaily.Shape); Gen.digest(spark, work.resolve("day")) },
          "corpus" -> { DedupStream.writeInputs(spark, work.resolve("corpus"), seed); Gen.digest(spark, work.resolve("corpus")) },
          "tables" -> { Gen.serveTables(spark, work.resolve("tables"), seed); Gen.digest(spark, work.resolve("tables")) })
        Files.writeString(out, d.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}\n"))
        return
      }
      val rec = new Recorder(spark, traced)
      val ctx = new Ctx(spark, rec, work, seed, seconds, plantDefect)
      val outcome = rec.span(s"workload.$workload") {
        workload match {
          case "ingest_daily" => IngestDaily.run(ctx)
          case "dedup_stream" => DedupStream.run(ctx)
          case other => sys.error(s"unknown workload $other")
        }
      }
      val calLast = calibrate(spark, nproc)
      val common = if (!traced) Map.empty[String, Double] else {
        val wallMs = rec.measuredWallMs
        val units = math.max(1.0, outcome.info.get("units").map(_.toDouble).getOrElse(1.0))
        def per(name: String) = rec.counter(name) / units
        Map(
          "spark.jobs" -> per("spark.jobs"),
          "spark.stages" -> per("spark.stages"),
          "spark.tasks" -> per("spark.tasks"),
          "spark.task_run_ms" -> per("spark.task_run_ms"),
          "spark.task_cpu_ms" -> per("spark.task_cpu_ns") / 1e6,
          "spark.shuffle_read_bytes" -> per("spark.shuffle_read_bytes"),
          "spark.shuffle_write_bytes" -> per("spark.shuffle_write_bytes"),
          "spark.spill_bytes" -> per("spark.spill_bytes"),
          "spark.busy_share" -> rec.counter("spark.task_run_ms") / math.max(1.0, wallMs * nproc),
          "catalyst.analysis_ms" -> per("catalyst.analysis_ms"),
          "catalyst.optimization_ms" -> per("catalyst.optimization_ms"),
          "catalyst.planning_ms" -> per("catalyst.planning_ms"),
          "driver.gc_ms" -> rec.gcMsTotal / units,
          "trace.spans" -> (rec.allSpans.size + rec.allJobSpans.size).toDouble)
      }
      traceOut.foreach { p =>
        Files.createDirectories(p.getParent)
        Files.writeString(p, rec.spansJson(workload, seed))
      }
      val diag = Map(
        "nproc" -> nproc.toString,
        "load_start" -> Json.num(load0),
        "load_end" -> Json.num(loadAvg()),
        // ambient load the probe can miss: the share of the machine's CPU
        // time the hypervisor gave to others, and this JVM's CPU seconds
        "steal_share" -> Json.num(ticks0.zip(cpuTicks()).map { case ((s0, t0), (s1, t1)) =>
          (s1 - s0).toDouble / math.max(1L, t1 - t0) }.getOrElse(0.0)),
        "process_cpu_s" -> Json.num(processCpuS()),
        "session_s" -> Json.num(sessionS),
        "calibration_s" -> Json.num(calLast),
        "run_id" -> Json.str(rec.runId),
        "listener_drain_ms" -> Json.num(rec.drainMs),
        "query_listener_ms" -> Json.num(rec.listenerMs),
        "phase_s" -> ctx.phases.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")) ++
        outcome.info ++
        // a traced run's own end-to-end figures: traced minus untraced
        // is the tracing overhead
        (if (traced) Map("end_to_end_traced" -> outcome.e2e.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
         else Map.empty)
      val metrics = if (traced) outcome.layers ++ common else outcome.e2e
      val json = new StringBuilder("{")
      json.append(s""""attempted":${outcome.attempted},"failed":${outcome.failed},""")
      json.append(s""""gates":${outcome.gates.map { case (n, ok) => s"${Json.str(n)}:$ok" }.mkString("{", ",", "}")},""")
      json.append(s""""metrics":${metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")},""")
      json.append(s""""diagnostics":${diag.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}""")
      json.append("}\n")
      Files.writeString(out, json.toString)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
  }
}
