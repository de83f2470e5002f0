package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AnnMaintain, AnnTwoTier, DedupPipeline, HybridNearDup,
  TwoTierNearDup, UpsertSink}

/** Every streaming body, crashed right after each storage commit of a
  * batch that fires its cadence fold and redelivered, lands on the
  * crash-free result ([[CommitSweep]]): every stored table as a row
  * multiset, plus the served answer. */
class CommitSweepSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  private def swept(result: CommitSweep.Result): Unit = {
    info(s"N = ${result.n} commits: ${result.labels.mkString(", ")}")
    assert(result.n > 0, "the batch under test committed nothing")
    assert(result.failures.isEmpty, result.failures.mkString("\n"))
  }

  // ---- near-duplicate bodies ----

  private val t0 = 1700000000000L
  private val hourMs = 3600000L

  /** Batch `bid`'s documents: a fresh one, a near copy of batch 0's
    * fresh one (found through the stored index) and a near copy of its
    * own fresh one (found inside the batch). */
  private def docs(bid: Long): DataFrame = {
    def fresh(b: Long) = (0 until 40).map(t => s"b${b}t$t").mkString(" ")
    val rows = Seq(bid * 10 + 1 -> fresh(bid), bid * 10 + 3 -> s"${fresh(bid)} tail") ++
      (if (bid > 0) Seq(bid * 10 + 2 -> s"${fresh(0)} again") else Nil)
    rows.toDF("doc_id", "text")
      .withColumn("arrival", lit(new Timestamp(t0 + bid * hourMs)))
  }

  private def hybrid(containment: Boolean)(root: String) = new CommitSweep.Body {
    private lazy val p =
      if (containment) HybridNearDup.containment(spark, "sw_hyb", root)
      else HybridNearDup.create(spark, "sw_hyb", root)
    def run(bid: Long): Unit = { p.perBatch(docs(bid).drop("arrival"), bid); () }
    def state(): Map[String, DataFrame] =
      Map("idx" -> p.idx.table.read(), "pairs" -> p.pairs.table.read())
  }

  // batch 7 ages batch 0's rows out of the 2-hour window
  private def twoTier(containment: Boolean)(root: String) = new CommitSweep.Body {
    private lazy val p =
      if (containment) TwoTierNearDup.containment(spark, "sw_tt", root, 2 * hourMs)
      else TwoTierNearDup.create(spark, "sw_tt", root, 2 * hourMs)
    def run(bid: Long): Unit = { p.perBatch(docs(bid), bid); () }
    def state(): Map[String, DataFrame] = Map("pend" -> p.tier.pendT.read(),
      "idx" -> p.tier.idxT.read(), "pairs" -> p.pairs.table.read())
  }

  // The stored-index bodies fold on batch ids 7, 15, …. Their streams
  // here run batch 0, then batch 7 under test (ids 1–6 carried no data;
  // nothing in a body reads the gap), so the fold merges two level-0
  // runs: the same kinds of commit as after eight, a quarter as many.
  private val prefix = Seq(0L)

  /** Swept, with pairs found (the fixture is not trivial). */
  private def pairsSwept(result: CommitSweep.Result): Unit = {
    swept(result)
    assert(result.clean("pairs").nonEmpty, "the fixture found no pairs")
  }

  test("commit sweep: HybridNearDup over bands, a cadence batch") {
    pairsSwept(CommitSweep("hyb-bands", hybrid(containment = false), prefix, 7L, Nil))
  }

  test("commit sweep: HybridNearDup over seeds, a cadence batch") {
    pairsSwept(CommitSweep("hyb-seeds", hybrid(containment = true), prefix, 7L, Nil))
  }

  test("commit sweep: TwoTierNearDup over bands, an aging cadence batch") {
    pairsSwept(CommitSweep("tt-bands", twoTier(containment = false), prefix, 7L, Nil))
  }

  test("commit sweep: TwoTierNearDup over seeds, an aging cadence batch") {
    pairsSwept(CommitSweep("tt-seeds", twoTier(containment = true), prefix, 7L, Nil))
  }

  // ---- the composed dedup pipeline ----

  /** Thirty documents, then near copies of ten of them: the cadence
    * batch at every = 2. */
  private def dedupDocs(bid: Long): DataFrame = {
    def text(i: Long) = (0 until 12).map(t => s"w${i}x$t").mkString(" ")
    (if (bid == 0L) (0L until 30L).map(i => i -> text(i))
     else (0L until 10L).map(i => (i + 1000L) -> s"${text(i)} trailing"))
      .toDF("doc_id", "text")
  }

  test("commit sweep: DedupPipeline, a cadence batch folding the components") {
    val all = (0L to 1L).map(dedupDocs).reduce(_ unionByName _)
    val expected = graft.text.Dedup
      .nearDupComponents(all, "doc_id", "text", threshold = 0.5)
      .select(col("doc_id"), col("comp_id"))
    def open(root: String) = new CommitSweep.Body {
      private lazy val p = DedupPipeline.create(spark, "sw_dd", root, every = 2)
      def run(bid: Long): Unit = { p.perBatch(dedupDocs(bid), bid); () }
      def state(): Map[String, DataFrame] = Map(
        "idx" -> p.idx.table.read(), "txt" -> p.txt.table.read(),
        "labels" -> p.labels.table.read(), "fwd" -> p.fwd.read(),
        "components" -> all.select(col("doc_id"))
          .join(graft.plans.IncrementalComponents
            .resolvedLabels(p.labels.read(), p.fwd.read()), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("comp_id"), col("doc_id")).as("comp_id")))
    }
    val result = CommitSweep("dedup", open, Seq(0L), 1L, Nil)
    swept(result)
    assert(result.labels.exists(_.startsWith("sw_dd_labels/mig=-")),
      "the batch under test did not fold the component labels")
    // the crash-free answer is the from-scratch batch answer
    assert(result.clean("components") == CommitSweep.rows(expected))
  }

  // ---- ANN bodies ----

  private lazy val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  private def shifted(df: DataFrame) = df.select(col("vec_id"),
    transform(col("embedding"),
      (x, i) => x + when(i < lit(8), lit(0.5)).otherwise(lit(0.0))).as("embedding"))

  private lazy val annQueries = emb.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("qid"), col("embedding"))

  /** Batch 0 is the held-out reference window (the monitor's
    * baseline); batch 7 is drifted arrivals when `drift`, else a small
    * healthy slice of the reference under fresh ids. */
  private def annBatch(drift: Boolean)(bid: Long): DataFrame = {
    val reference = emb.filter(col("vec_id") % 4 === 1)
    if (bid == 0L) reference
    else if (bid == 7L && drift) shifted(emb.filter(col("vec_id") % 4 === 3))
    else reference.filter(floor(col("vec_id") / 4) % 10 === bid % 10)
      .select((col("vec_id") + lit(bid * 100000L)).as("vec_id"), col("embedding"))
  }

  private final class AnnMaintainBody(drift: Boolean, root: String) extends CommitSweep.Body {
    lazy val p = AnnMaintain.create(spark, "sw_annm", root,
      emb.filter(col("vec_id") % 2 === 0), graft.vector.TrainReservoir.Fixed(5000))
    def run(bid: Long): Unit = { p.perBatch(annBatch(drift)(bid), bid); () }
    def served(): DataFrame = p.serve(annQueries)
      .select(col("qid"), col("vec_id"), col("rank"), col("adc"))
    def state(): Map[String, DataFrame] = {
      val dir = p.index.currentDir()
      Map("gen" -> Seq(p.index.currentGen().get).toDF("gen"),
        "vecs" -> p.vecs.table.read(), "resv" -> p.resv.index.table.read(),
        "stats" -> p.stats.read(), "served" -> served()) ++
        Seq("centroids", "assign", "codebooks", "codes")
          .map(r => r -> spark.read.parquet(s"$dir/$r"))
    }
  }

  test("commit sweep: AnnMaintain, a healthy cadence batch") {
    val result = CommitSweep("annm-healthy", new AnnMaintainBody(false, _),
      prefix, 7L, Nil)
    swept(result)
    assert(!result.labels.exists(_.endsWith("/_current")), "the healthy batch retrained")
  }

  test("commit sweep: AnnMaintain, a retrain batch; the old generation serves") {
    // a crash anywhere before the pointer flip leaves generation 0
    // serving, and every such crash serves the same answer — never a
    // mix of old and new relations
    val beforeFlip = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val result = CommitSweep("annm-retrain", new AnnMaintainBody(true, _), prefix, 7L,
      Nil, afterCrash = { (body: AnnMaintainBody, label: String) =>
        val gen = body.p.index.currentGen()
        if (label.startsWith("gen_")) {
          beforeFlip.add(CommitSweep.rows(body.served()))
          if (gen.contains(0L)) None
          else Some(s"a crash after $label moved the pointer to $gen")
        } else if (label == "sw_annm_stats" && gen.contains(0L)) {
          beforeFlip.add(CommitSweep.rows(body.served()))
          None
        } else if (label.endsWith("/_current")) {
          // published, not rebased: the replay must rebase only
          if (gen.contains(1L) && !body.p.stats.read().isEmpty) None
          else Some(s"the crash after the publish left generation $gen")
        } else None
      })
    swept(result)
    assert(result.labels.count(_.endsWith("/_current")) == 1)
    // one retrain, rebased, holding each landed vector once
    assert(result.clean("gen") == Seq("""{"gen":1}"""), result.clean("gen"))
    assert(result.clean("stats").isEmpty)
    assert(result.clean("assign").size == result.clean("vecs").size)
    assert(result.clean("vecs").size == annBatch(true)(0L).count() + annBatch(true)(7L).count())
    // the ingest's two statistics commits and the four stage writes
    assert(beforeFlip.size == 6, beforeFlip.size)
    assert(beforeFlip.toArray.distinct.length == 1,
      "crashes between the generation's stage writes served different answers")
  }

  test("commit sweep: AnnTwoTier, an aging cadence batch") {
    def open(root: String) = new CommitSweep.Body {
      private lazy val p = AnnTwoTier.create(spark, "sw_anntt", root,
        emb.filter(col("vec_id") % 2 === 0), ttlMs = 2 * hourMs)
      def run(bid: Long): Unit = {
        p.perBatch(annBatch(drift = false)(bid)
          .withColumn("ts", lit(new Timestamp(t0 + bid * hourMs))), bid)
        ()
      }
      def state(): Map[String, DataFrame] = Map(
        "pend" -> p.tier.pendT.read(), "idx" -> p.tier.idxT.read(),
        "served" -> p.serve(annQueries)
          .select(col("qid"), col("vec_id"), col("rank"), col("adc")))
    }
    swept(CommitSweep("anntt", open, prefix, 7L, Nil))
  }

  // ---- the exactly-once upsert sink ----

  private def upsertBody(partitioned: Boolean)(root: String) = new CommitSweep.Body {
    private val schema = Seq((0L, 0.0, "")).toDF("k", "v", "day").schema
    private lazy val table = graft.catalog.ParquetTable(spark, "sw_upsert",
      s"$root/table", schema, partitionCols = if (partitioned) Seq("day") else Nil)
    // additive: a double-applied batch would show
    private lazy val sink = new UpsertSink(table, Seq("k", "day"),
      Map("v" -> (graft.catalog.Merge.tgt("v") + graft.catalog.Merge.src("v"))),
      s"$root/ckpt")
    def run(bid: Long): Unit = sink.apply((0 until 3).map(d =>
      ((d + bid) % 4, bid + d / 10.0, s"2024-01-0${d + 1}")).toDF("k", "v", "day"), bid)
    def state(): Map[String, DataFrame] = Map("table" -> table.read())
  }

  test("commit sweep: UpsertSink, whole-table route") {
    swept(CommitSweep("upsert-table", upsertBody(partitioned = false),
      Seq(0L, 1L), 2L, Seq(3L)))
  }

  test("commit sweep: UpsertSink, partition-scoped route") {
    val result = CommitSweep("upsert-parts", upsertBody(partitioned = true),
      Seq(0L, 1L), 2L, Seq(3L))
    swept(result)
    assert(result.n == 3, result.labels)
  }

  // ---- leveled maintenance at every level ----

  private def leveledBody(root: String) = new CommitSweep.Body {
    private lazy val idx = graft.streaming.LeveledIndex.create(spark, "sw_lvl",
      s"$root/idx", Seq((0L, 0L)).toDF("bh", "v").schema, "bh", every = 2, fanout = 2)
    def run(bid: Long): Unit = {
      idx.writeBatch(bid, Seq((bid, bid * 10), (bid, bid * 10 + 1)).toDF("bh", "v"))
      idx.maintain(bid)
      ()
    }
    def state(): Map[String, DataFrame] = Map("idx" -> idx.table.read())
  }

  test("commit sweep: LeveledIndex.maintain, a cascade through three levels") {
    // batch 7 folds level 0 and cascades 1 → 2 → 3: ten commits
    val result = CommitSweep("leveled", leveledBody, 0L until 7L, 7L, Seq(8L, 9L))
    swept(result)
    val levels = result.labels.map(l =>
      graft.streaming.LeveledIndex.levelOf(l.split("=").last.toLong))
    assert(levels.max == 3, result.labels)
  }

  test("commit sweep: LeveledIndex, a replay after the cascade merged level 1") {
    // k = 9: the 2 → 3 merge committed and deleted one of its sources;
    // k = 10: every source deleted; k = 11: the batch finished. The
    // level-1 run keyed by the batch is gone in all three, so its
    // presence no longer proved the batch landed: the replay re-landed
    // the batch's rows, and at k = 9 the replayed maintenance stopped
    // at the idle level 0 and never finished the level-2 deletes.
    swept(CommitSweep("leveled-cascaded", leveledBody, 0L until 7L, 7L, Seq(8L, 9L),
      only = Seq(9, 10, 11)))
  }

  // ---- the one seam ----

  test("source guard: no failure-injection parameter outside the commit hook") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val seams = Seq(
      "interruptAfter".r,
      """interrupt\s*:\s*Int\s*=>\s*Unit""".r,
      """\bat\s*:\s*String\s*=>\s*Unit""".r)
    // a `() => Unit` parameter on a storage or streaming body is
    // seam-shaped whatever its name
    val bodies = Seq("catalog", "streaming", "vector", "ingest")
    val thunk = """\w+\s*:\s*\(\)\s*=>\s*Unit""".r
    val walk = java.nio.file.Files.walk(root)
    val hits = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        val rel = root.relativize(f).toString
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val pats = seams ++ (if (bodies.exists(b => rel.startsWith(s"graft/$b/"))) Seq(thunk) else Nil)
        pats.flatMap(_.findAllIn(src).map(m => s"$rel: $m"))
      }
    } finally walk.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
