package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.plans.{IncrementalComponents, Materialize}
import graft.streaming.{IndexMaintenance, LeveledIndex, StreamNearDup}

/** Workload `dedup_stream`: the streaming near-duplicate loop. Waves of
  * documents arrive over a stored base corpus; each wave runs the
  * per-batch body of the registry's `q_stream_dedup_pipeline` — band and
  * serve candidates against the stored index, fetch candidate endpoint
  * texts, verify exact trigram Jaccard, append labels, forwards, texts
  * and bands — and maintenance runs on its own cadence (one batch in
  * [[Every]]). A unit of work is one whole cadence cycle, so every unit
  * pays maintenance exactly once, followed by one [[ServePass]] over the
  * serve tables: the registry's read side, measured on the same loop. */
object DedupStream {
  private val BaseDocs = 400
  private val Waves = 40
  private val PerWave = 24
  private val DupsPerWave = 4
  private val Threshold = 0.5
  /** Maintenance cadence of the stored runs: every 4th batch rather than
    * the registry entry's 8th, so one cycle fits in a run. */
  val Every = 4

  /** The base corpus as one parquet file and every wave as one
    * `waves/wave=<i>/part.parquet`, written in a single job. */
  def writeInputs(spark: org.apache.spark.sql.SparkSession, dir: Path, seed: Long): Gen.Corpus = {
    val c = Gen.corpus(seed, BaseDocs, Waves, PerWave, DupsPerWave)
    Files.createDirectories(dir)
    Gen.writeParquetFile(spark, dir.resolve("base.parquet"), Gen.docsSchema,
      c.base.map { case (id, t) => org.apache.spark.sql.Row(id, t) })
    val waves = dir.resolve("waves")
    spark.createDataFrame(c.waves.zipWithIndex.flatMap { case (w, i) =>
      w.map { case (id, t) => org.apache.spark.sql.Row(id, t, i) } }.asJava,
      Gen.docsSchema.add("wave", org.apache.spark.sql.types.IntegerType))
      .repartition(1).write.partitionBy("wave").parquet(waves.toString)
    // fixed file names, so the same seed gives the same files
    Files.walk(waves).iterator().asScala.toList.filter(Files.isRegularFile(_)).foreach { p =>
      if (p.getFileName.toString.endsWith(".parquet")) Files.move(p, p.resolveSibling("part.parquet"))
      else Files.delete(p)
    }
    c
  }

  /** The loop's stored state: band index, text stage, labels, forwards. */
  final class State(spark: org.apache.spark.sql.SparkSession, root: Path, tag: String) {
    private def long(n: String) = StructField(n, LongType)
    private val bandSchema = StreamNearDup.bandRelation(
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), Gen.docsSchema),
      "doc_id", "text").schema
    val idx: LeveledIndex = LeveledIndex.create(spark, s"pb_idx_$tag", s"$root/idx", bandSchema, "bh",
      every = Every)
    val txt: LeveledIndex = LeveledIndex.create(spark, s"pb_txt_$tag", s"$root/txt", Gen.docsSchema, "doc_id",
      every = Every)
    val labels: LeveledIndex = LeveledIndex.create(spark, s"pb_labels_$tag", s"$root/labels",
      StructType(Seq(long("doc_id"), long("comp_id"))), "doc_id", every = Every)
    val fwd: graft.catalog.ParquetTable = graft.catalog.ParquetTable(spark, s"pb_fwd_$tag", s"$root/fwd",
      StructType(Seq(long("old_root"), long("new_root")))).createIfNotExists()

    /** The initial generation: the base corpus's bands and texts. */
    def build(base: DataFrame): Unit = {
      idx.writeBase(StreamNearDup.bandRelation(base, "doc_id", "text"))
      txt.writeBase(base.select(col("doc_id"), col("text")))
    }
    def files: Int = Seq(idx.table, txt.table, labels.table, fwd).map(_.dataFileCount).sum
    def bytes: Long = Seq(idx.table, txt.table, labels.table, fwd).map(_.tableBytes).sum
  }

  final case class Batch(ms: Double, serve: Double, fetch: Double, verify: Double,
                         append: Double, maint: Double, cands: Long, verified: Long)

  /** One micro-batch through the pipeline body, each call timed. */
  private def batch(ctx: Ctx, st: State, bid: Long, docs: DataFrame): Batch = {
    val rec = ctx.rec
    val t0 = System.nanoTime()
    val (nb, cands) = rec.span("dd.serve") {
      val nb = Materialize.stage(StreamNearDup.bandRelation(docs, "doc_id", "text"))
      (nb, Materialize.stage(StreamNearDup.hybridCandidates(nb, st.idx.read(), threshold = Threshold,
        pruneKeyCap = StreamNearDup.adaptiveKeyCap(st.idx.table.tableBytes))))
    }
    val t1 = System.nanoTime()
    val texts = rec.span("dd.fetch") {
      val eps = Materialize.modelState(
        cands.select(col("id_a").as("doc_id")).unionByName(cands.select(col("id_b").as("doc_id"))).distinct(),
        "dedup-stream candidate endpoints", 1 << 20)
      (if (eps.isEmpty) st.txt.read().filter(lit(false))
       else st.txt.read().filter(org.apache.spark.sql.graft.ColumnBridge.inSet("doc_id",
         eps.map(r => Long.box(r.getLong(0)): Any).toSet)))
        .unionByName(docs.select(col("doc_id"), col("text")))
    }
    val t2 = System.nanoTime()
    val verified = rec.span("dd.verify") {
      Materialize.stage(graft.text.Dedup.verifyPairsJaccard(texts, "doc_id", "text", cands,
        threshold = Threshold).select(col("id_a"), col("id_b")))
    }
    val t3 = System.nanoTime()
    rec.span("dd.append") {
      val (nl, nf) = IncrementalComponents.batchAppends(st.labels.read(), st.fwd.read(), verified)
      val (pl, pf) = (Materialize.stage(nl), Materialize.stage(nf))
      st.labels.writeBatchIfAbsent(bid, pl)
      st.fwd.append(pf)
      st.txt.writeBatch(bid, docs.select(col("doc_id"), col("text")))
      st.idx.writeBatch(bid, nb)
    }
    val t4 = System.nanoTime()
    rec.span("dd.maint") {
      IndexMaintenance.maintainComponents(st.labels, st.fwd, bid)
      st.idx.maintain(bid)
      st.txt.maintain(bid)
    }
    val t5 = System.nanoTime()
    // pair counts for the verify yield are read after the batch, and
    // only in a traced run (each is a Spark job of its own)
    val (nc, nv) = if (rec.traced) rec.unmeasured((cands.count(), verified.count())) else (0L, 0L)
    Batch((t5 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, (t4 - t3) / 1e6,
      (t5 - t4) / 1e6, nc, nv)
  }

  /** The from-scratch answer: all pairs of `docs` with exact word-trigram
    * Jaccard ≥ the threshold, closed transitively; each document labelled
    * by the smallest id in its component. */
  def batchComponents(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val grams = docs.map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      id -> (if (toks.length < 3) Set.empty[String] else toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toArray
    val parent = scala.collection.mutable.Map[Long, Long]() ++ docs.map(d => d._1 -> d._1)
    def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    for (i <- grams.indices; j <- i + 1 until grams.length) {
      val (a, ga) = grams(i)
      val (b, gb) = grams(j)
      val inter = ga.count(gb.contains)
      val union = ga.size + gb.size - inter
      if (union > 0 && inter.toDouble / union >= Threshold) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    docs.map(d => d._1 -> find(d._1)).toMap
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rec = ctx.rec
    val input = ctx.dir("dd_input")
    // set-up: the seeded corpus, and the stored base generation built
    // over it
    val tables = ctx.dir("tables").toString
    val (servedRows, corpus) = ctx.phase("gen") {
      (Gen.serveTables(spark, ctx.work.resolve("tables"), ctx.seed), writeInputs(spark, input, ctx.seed))
    }
    val base = spark.read.parquet(input.resolve("base.parquet").toString)
    val (setupS, states) = ctx.setupReps(3) { k =>
      val st = new State(spark, ctx.dir(s"state$k"), s"s$k")
      st.build(base)
      st
    }
    def wave(i: Int) = spark.read.parquet(input.resolve(s"waves/wave=$i").toString)

    // warm-up on the first set-up's state: one batch that closes a
    // cadence, so maintenance runs too; and one run of each served entry,
    // which writes the results the oracle compare checks
    ctx.phase("warm") {
      batch(ctx, states.head, Every - 1L, wave(0))
      ServePass.writeResults(ctx, tables)
    }

    val st = states.last
    var next = 0
    var heapMb = 0.0
    var filesMax = 0
    val cycles = ctx.loopFor { c =>
      val t0 = System.nanoTime()
      val (bs, xs) = rec.measured {
        rec.span(s"dd.cycle.$c") {
          val bs = (0 until Every).takeWhile(_ => next < corpus.waves.size).map { j =>
            val bid = (c * Every + j).toLong
            val b = rec.span(s"dd.batch.$bid")(batch(ctx, st, bid, wave(next)))
            next += 1
            b
          }
          (bs, rec.span("queries.pass")(ServePass.Entries.map(ServePass.exec(ctx, tables, _))))
        }
      }
      val s = (System.nanoTime() - t0) / 1e9
      filesMax = math.max(filesMax, st.files)
      heapMb = math.max(heapMb, ctx.retainedHeapMb())
      (bs, s, xs)
    }.filter(_._1.size == Every)
    require(cycles.nonEmpty, "no complete cadence cycle was measured")

    // correctness: the streamed labels equal the from-scratch answer over
    // every document the loop has seen
    val seen = corpus.base ++ corpus.waves.take(next).flatten
    val (streamed, expected) = ctx.phase("gates") {
      val resolved = IncrementalComponents.resolvedLabels(st.labels.read(), st.fwd.read())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (seen.map { case (id, _) => id -> resolved.getOrElse(id, id) }.toMap, batchComponents(seen))
    }
    val labelsOk = streamed == expected
    if (!labelsOk) {
      val diff = expected.filter { case (k, v) => streamed(k) != v }.take(5)
      System.err.println(s"[dedup_stream] labels differ from the batch answer, e.g. $diff")
    }

    val batches = cycles.flatMap(_._1)
    val execs = cycles.flatMap(_._3)
    val entryMedians = ServePass.Entries.map(e => Stats.median(execs.filter(_.name == e).map(_.ms)))
    val docs = cycles.size * Every * PerWave
    val stages = Seq[Batch => Double](_.serve, _.fetch, _.verify, _.append, _.maint)
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(cycles.map(_._2)),
      "p50_ms" -> Stats.median(batches.map(_.ms)),
      "geomean_ms" -> Stats.geomean(stages.map(f => batches.map(f).sum / batches.size) ++ entryMedians),
      "items_per_s" -> docs / (batches.map(_.ms).sum / 1000.0),
      "heap_peak_mb" -> heapMb)

    val layers = if (!rec.traced) Map.empty[String, Double] else {
      val n = batches.size.toDouble
      val spans = rec.allSpans
      val self = rec.selfUs()
      val batchSpans = spans.filter(_.name.startsWith("dd.batch."))
      def perBatch(f: Batch => Double) = batches.map(f).sum / n
      Map(
        "dd.serve_ms" -> perBatch(_.serve),
        "dd.fetch_ms" -> perBatch(_.fetch),
        "dd.verify_ms" -> perBatch(_.verify),
        "dd.append_ms" -> perBatch(_.append),
        "dd.maint_ms" -> perBatch(_.maint),
        "dd.jobs_per_batch" -> batchSpans.map(s => rec.subtree(s.id)._1).sum / n,
        "dd.state_files_max" -> filesMax.toDouble,
        "dd.state_bytes" -> st.bytes.toDouble,
        "dd.verify_yield" -> batches.map(_.verified).sum.toDouble / math.max(1L, batches.map(_.cands).sum),
        "dd.self_ms" -> spans.filter(s => Seq("dd.serve", "dd.fetch", "dd.verify", "dd.append", "dd.maint")
          .contains(s.name)).map(s => self(s.id)).sum / 1000.0 / n) ++
        ServePass.layers(ctx, execs, cycles.size.toDouble)
    }
    Outcome(attempted = batches.size + execs.size, failed = if (labelsOk) 0 else batches.size,
      gates = Seq("labels_equal_batch_components" -> labelsOk), e2e = e2e, layers = layers,
      info = Map("units" -> cycles.size.toString, "input_rows" -> (corpus.rows + servedRows).toString,
        "input_bytes" -> Seq(input, ctx.work.resolve("tables")).flatMap(d => Files.walk(d).iterator().asScala
          .filter(Files.isRegularFile(_)).map(p => Files.size(p))).sum.toString,
        "batches" -> batches.size.toString, "docs_seen" -> seen.size.toString,
        "batch_ms" -> batches.map(b => Json.num(math.rint(b.ms))).mkString("[", ",", "]"),
        "entry_ms" -> ServePass.Entries.zip(entryMedians).map { case (e, m) => s"${Json.str(e)}:${Json.num(m)}" }
          .mkString("{", ",", "}")))
  }
}
