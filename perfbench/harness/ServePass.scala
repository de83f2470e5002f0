package perfbench

import graft.queries.Registry

/** The serve pass of `dedup_stream`: between cadence cycles one client
  * serves registry entries, in a fixed order, over seeded tables shaped
  * like the repo's testdata (see [[Gen.serveTables]]) — a text entry
  * (BM25 top documents) and a vector entry (exact top-k plus MMR
  * re-ranking). Each entry is timed as its program's build
  * (`fn(spark, dir)`: the eager pins and driver fetches it makes) plus
  * the execution of the frame it returns into a noop sink. */
object ServePass {
  val Entries: Seq[String] = Seq("q_bm25", "q_mmr_rerank")

  final case class Exec(name: String, buildMs: Double, execMs: Double) {
    def ms: Double = buildMs + execMs
  }

  private lazy val registry = Registry.all.toMap

  /** One timed execution of entry `name` over the tables in `dir`. */
  def exec(ctx: Ctx, dir: String, name: String): Exec = {
    val rec = ctx.rec
    rec.span(s"queries.entry.$name") {
      val t0 = System.nanoTime()
      val df = rec.span("queries.build")(Registry.queries(name)(ctx.spark, dir))
      val t1 = System.nanoTime()
      rec.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
      Exec(name, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    }
  }

  /** Runs every entry's program once, untimed, and writes its result
    * under `work/results/<entry>` with `work/oracle.json`, which names the
    * tables, the results and each entry's DuckDB oracle SQL; `run.py`
    * makes the compare. It doubles as the entries' warm-up. */
  def writeResults(ctx: Ctx, dir: String): Unit = {
    val results = ctx.dir("results")
    Entries.foreach { n =>
      require(registry.get(n).exists(_.oracle.isDefined), s"$n has no oracle")
      Registry.queries(n)(ctx.spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(n).toString)
    }
    java.nio.file.Files.writeString(ctx.work.resolve("oracle.json"), Entries.map { n =>
      s"${Json.str(n)}:${Json.str(registry(n).oracle.get)}"
    }.mkString(s"""{"tables":${Json.str(dir)},"results":${Json.str(results.toString)},"sql":{""", ",", "}}\n"))
  }

  /** The queries layer's per-layer metrics, per unit (`units` passes). */
  def layers(ctx: Ctx, execs: Seq[Exec], units: Double): Map[String, Double] = {
    val spans = ctx.rec.allSpans
    Map(
      "queries.build_ms" -> execs.map(_.buildMs).sum / units,
      "queries.exec_ms" -> execs.map(_.execMs).sum / units) ++
      Entries.flatMap { e =>
        val xs = execs.filter(_.name == e)
        Seq(s"$e.build_ms" -> xs.map(_.buildMs).sum / units,
          s"$e.exec_ms" -> xs.map(_.execMs).sum / units,
          s"$e.jobs" -> spans.filter(_.name == s"queries.entry.$e").map(s => ctx.rec.subtree(s.id)._1).sum / units)
      }
  }
}
