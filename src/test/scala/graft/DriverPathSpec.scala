package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{DriverFetch, IncrementalComponents, Materialize}
import graft.streaming.StreamNearDup
import graft.text.Dedup

/** Driver ≡ distributed for the streaming dedup loop's three batch-sized
  * steps — the hybrid serve, exact verify and the component appends.
  * Each operator's public entry (which picks its path by size) must
  * return exactly the rows of its distributed body: the same multiset,
  * Jaccard doubles bit-equal. Every fixture runs against every operator
  * it applies to; the cap fixtures also prove the distributed body is
  * the one that served. */
class DriverPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split(" ")
  /** A 24-word text; variant v swaps its last v words. */
  private def text(seed: Int, v: Int = 0): String =
    (words.indices.map(i => words((i + seed) % words.length)).dropRight(v) ++
      (0 until v).map(i => s"w$seed$i")).mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** The rows as a multiset, doubles by their raw bits. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).groupMapReduce(identity)(_ => 1)(_ + _)

  /** One operator on one fixture: the size-selected result, the
    * distributed body's, and whether the driver path must serve. */
  private case class Case(viaEntry: () => Seq[DataFrame],
                                distributed: () => Seq[DataFrame],
                                driver: Boolean, rows: Boolean)

  private val caps: Map[String, (Int, Long)] = Map(
    "over the row cap" -> (2, DriverFetch.MaxBytes),
    "over the byte cap" -> (DriverFetch.MaxRows, 64L))

  // ---- hybrid serve: batch docs vs a stored band index on parquet ----

  private def serve(batch: DataFrame, stored: DataFrame, maxBucket: Int = 10000,
                    pruneKeyCap: Int = 8192, driver: Boolean = true,
                    rows: Boolean = true): Case = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-driverpath-idx")
    StreamNearDup.bandRelation(stored, "doc_id", "text")
      .sortWithinPartitions("bh").write.parquet(s"$tmp/idx")
    val index = spark.read.parquet(s"$tmp/idx")
    val nb = Materialize.stage(StreamNearDup.bandRelation(batch, "doc_id", "text"))
    Case(() => Seq(StreamNearDup.hybridCandidates(nb, index, threshold = 0.5,
        maxBucket = maxBucket, pruneKeyCap = pruneKeyCap)),
      () => Seq(StreamNearDup.hybridCandidatesDistributed(nb, index, 0.5, 64,
        maxBucket, pruneKeyCap)), driver, rows)
  }

  private val stored = (1 to 6).map(i => (i.toLong, text(i)))
  private val near = Seq((101L, text(1, 2)), (102L, text(2, 3)), (103L, text(9)))

  private val serveCases: Map[String, () => Case] = Map(
    "an empty batch" -> (() => serve(docs(), docs(stored: _*), rows = false)),
    "duplicate and self pairs" -> (() => serve(
      docs(near :+ near.head :+ (104L -> text(1, 2)): _*),
      docs(stored :+ (101L -> text(1, 2)): _*))),
    "a replayed batch" -> (() => serve(docs(near: _*), docs(stored ++ near: _*))),
    "a hot bucket" -> { () =>
      // five batch copies of one text and two stored ones: 7 members in
      // each of its buckets against maxBucket 3 — hot, split into g = 3
      // salted sub-buckets
      val batch = docs((201L to 205L).map(_ -> text(3)) :+ (206L -> text(3, 1)): _*)
      val st = docs(stored :+ (7L -> text(3)): _*)
      val widest = StreamNearDup.bandRelation(batch.unionByName(st), "doc_id", "text")
        .groupBy(col("band"), col("bh")).count().collect().map(_.getLong(2)).max
      assert(widest >= 2 * 3, s"no bucket reaches g >= 2 (widest $widest)")
      serve(batch, st, maxBucket = 3)
    },
    "keys over pruneKeyCap" -> (() => serve(docs(near: _*), docs(stored: _*),
      pruneKeyCap = 1, driver = false))) ++
    caps.map { case (name, (r, b)) => name -> { () =>
      val c = serve(docs(near: _*), docs(stored: _*), driver = false)
      c.copy(viaEntry = () => DriverFetch.withCaps(r, b)(c.viaEntry()))
    }}

  // ---- exact verify: pairs against an (id, text) relation ----

  private def verify(texts: DataFrame, pairs: Seq[(Long, Long)],
                     driver: Boolean = true, rows: Boolean = true): Case = {
    val p = Materialize.stage(pairs.toDF("id_a", "id_b"))
    Case(() => Seq(Dedup.verifyPairsJaccard(texts, "doc_id", "text", p, 0.5)),
      () => Seq(Dedup.verifyPairsJaccardDistributed(texts, "doc_id", "text", p, 0.5, 3)),
      driver, rows)
  }

  private def texts = docs(stored ++ near: _*)
  private val pairs = Seq((1L, 101L), (2L, 102L), (1L, 2L), (3L, 103L))

  private val verifyCases: Map[String, () => Case] = Map(
    "an empty batch" -> (() => verify(texts, Nil, rows = false)),
    "duplicate and self pairs" -> (() => verify(texts,
      pairs ++ Seq((1L, 101L), (101L, 1L), (5L, 5L)))),
    "a replayed batch" -> (() => verify(
      texts.unionByName(docs(near: _*)), pairs)),
    "null texts" -> (() => verify(
      Seq((1L, text(1)), (2L, null), (3L, null), (4L, "")).toDF("doc_id", "text"),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 1L))))) ++
    caps.map { case (name, (r, b)) => name -> { () =>
      val c = verify(texts, pairs, driver = false)
      c.copy(viaEntry = () => DriverFetch.withCaps(r, b)(c.viaEntry()))
    }}

  // ---- component appends: one batch of pairs against stored labels ----

  private def appends(labels: Seq[(Long, Long)], fwd: Seq[(Long, Long)],
                      batch: Seq[(Long, Long)], driver: Boolean = true,
                      rows: Boolean = true): Case = {
    val (l, f, p) = (Materialize.stage(labels.toDF("doc_id", "comp_id")),
      Materialize.stage(fwd.toDF("old_root", "new_root")),
      Materialize.stage(batch.toDF("id_a", "id_b")))
    def both(r: (DataFrame, DataFrame)) = Seq(r._1, r._2)
    Case(() => both(IncrementalComponents.batchAppends(l, f, p)),
      () => both(IncrementalComponents.batchAppendsDistributed(l, f, p)),
      driver, rows)
  }

  // components {1,2,3} (root 1, reached through a forward 3 -> 1),
  // {10,11}, {20,21}
  private val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (10L, 10L), (11L, 10L),
    (20L, 20L), (21L, 20L))
  private val fwd = Seq((3L, 1L))
  private val batch = Seq((2L, 11L), (21L, 30L), (30L, 31L))

  private val appendCases: Map[String, () => Case] = Map(
    "an empty batch" -> (() => appends(labels, fwd, Nil, rows = false)),
    "duplicate and self pairs" -> (() => appends(labels, fwd,
      batch ++ Seq((11L, 2L), (2L, 11L), (40L, 40L), (3L, 3L)))),
    // replayed after a crash between the two appends: the batch's
    // labels landed (one of them twice), its forward did not
    "a replayed batch" -> (() => appends(
      labels ++ Seq((30L, 20L), (31L, 20L), (30L, 20L)), fwd, batch)),
    "a forwarding chain" -> (() => appends(labels :+ (4L, 4L),
      fwd ++ Seq((4L, 3L), (20L, 4L)), Seq((21L, 11L), (50L, 4L))))) ++
    caps.map { case (name, (r, b)) => name -> { () =>
      val c = appends(labels, fwd, batch, driver = false)
      c.copy(viaEntry = () => DriverFetch.withCaps(r, b)(c.viaEntry()))
    }}

  test("source guard: paths are chosen by size only — no cap parameter, path " +
       "conf or hand-rolled cap fetch in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources under ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles.toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val banned = Seq(
      "a per-operator cap parameter" -> "maxDriver|maxBatchIds".r,
      "a path-choice conf" -> "conf\\.get\\(\\s*\"graft\\.[^\"]*disable".r,
      "a kill-switch env read" -> "(sys\\.env|getenv)[^\\n]*_DISABLE".r,
      // the one bounded cap + 1 fetch is Materialize.modelState's
      "a hand-rolled cap fetch" -> "\\.limit\\([^()]*\\+\\s*1\\)".r)
    val found = for {
      f <- files(root)
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      (what, re) <- banned
      m <- re.findAllMatchIn(text)
      if !(what == "a hand-rolled cap fetch" && f.getName == "Materialize.scala")
    } yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}: $what (${m.matched})"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("source guard: one way per storage operation — no partition-scoped DML " +
       "twin, cadence compaction, temp-name staging, file-count knob or " +
       "folded-layout hook in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources under ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles.toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val banned = Seq("updateInPartition", "deleteWhereInPartition", "maybeCompact",
      "TmpPrefix", "targetPartitions", "remap =", "TieredIndex.Folded",
      "repartitionByRange(1")
    val found = for {
      f <- files(root)
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // other writers name their pointer files `.tmp-` on purpose; the
      // table stages under `_pstage` only
      word <- banned ++ (if (f.getName == "ParquetTable.scala") Seq(".tmp-") else Nil)
      i <- Iterator.iterate(text.indexOf(word))(j => text.indexOf(word, j + 1))
        .takeWhile(_ >= 0)
    } yield s"${f.getPath}:${text.take(i).count(_ == '\n') + 1}: $word"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("a rejected fetch stops its job: a many-partition input over the byte " +
       "cap ships far fewer task results than it has partitions") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val parts = 32
    // every partition is over the cap alone; all but partition 0 stall
    // on their first row, so the driver rejects the fetch while they run
    val row = org.apache.spark.sql.functions.udf { (i: Long) =>
      if (org.apache.spark.TaskContext.getPartitionId() > 0 && i % 1000 == 0) Thread.sleep(200)
      "x" * 100
    }.asNondeterministic()
    val df = spark.range(0, parts * 1000L, 1, parts).select(row(col("id")).as("s"))
    val sc = spark.sparkContext
    val group = s"rejected-fetch-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => j.stageIds.foreach(stages.add)
          case Some(g) if g == group + "-sentinel" => drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.reason == org.apache.spark.Success)
          succeeded.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "rejected fetch")
      val got = try org.apache.spark.sql.graft.ExecutionBridge.collectBounded(
        df, DriverFetch.MaxRows, 16L << 10) finally sc.clearJobGroup()
      assert(got.isEmpty)
      // the bus delivers in order: the sentinel's start follows every
      // task end of the fetch job that had happened before it
      sc.setJobGroup(group + "-sentinel", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(succeeded.get >= 1 && succeeded.get < parts / 2,
        s"${succeeded.get} of $parts fetch tasks shipped their results")
    } finally sc.removeSparkListener(listener)
  }

  for {
    (op, cases) <- Seq("hybridCandidates" -> serveCases,
      "verifyPairsJaccard" -> verifyCases, "batchAppends" -> appendCases)
    (fixture, mk) <- cases.toSeq.sortBy(_._1)
  } test(s"driver ≡ distributed: $op, $fixture") {
    val c = mk()
    val got = c.viaEntry()
    val want = c.distributed()
    assert(got.map(isLocal) === Seq.fill(got.size)(c.driver),
      s"expected the ${if (c.driver) "driver" else "distributed"} path")
    assert(!want.exists(isLocal), "the distributed body returned a local relation")
    got.zip(want).foreach { case (g, w) =>
      assert(g.schema.map(f => (f.name, f.dataType)) === w.schema.map(f => (f.name, f.dataType)))
      assert(bag(g) === bag(w))
    }
    if (c.rows) assert(got.exists(g => !g.isEmpty), "the fixture produced no rows")
  }
}
