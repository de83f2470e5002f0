package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.queries.StreamFixtures

/** Scaling probe for the STREAMING state family — the 100 TB risk the
  * batch [[ScaleProbe]] can't see: state-store growth. Each probed
  * pipeline is the same machinery its registry entry runs
  * (`q_stream_neardup`, `q_stream_containment`,
  * `q_stream_vector_ingest`), but the probe owns the StreamingQuery,
  * so alongside wall time it records the state-operator metrics Spark
  * reports per micro-batch: peak state rows and peak state-store
  * memory. A superlinear STATE column is the smoke signal even when
  * wall time still looks fine — state is what evicts first on a real
  * cluster.
  *
  * Corpus scaling reuses [[ScaleProbe]]'s vocabulary-disjoint replicas:
  * duplicate structure (planted pairs, candidate fan-out) stays
  * constant while the corpus grows, so growth measures the ENGINE.
  * The planted set stays the base corpus's 10/20 docs at every scale —
  * the posting/bucket STATE is what grows with the corpus, which is
  * exactly the quantity under test.
  *
  * Usage: `runMain graft.tools.StreamProbe <workDir> <scale...>` with
  * `SPARK_GRAFT_SF_DIR` as the base. Output: one JSON line per
  * (scale, pipeline) with sec (min-of-2), peak state rows and bytes,
  * then fitted exponents (time and state) per pipeline. */
object StreamProbe {

  final case class Probe(sec: Double, stateRows: Long, stateBytes: Long)

  private def withStream(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Probe = {
    val t0 = System.nanoTime()
    val q = start
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val ops = q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    Probe(sec,
      if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max,
      if (ops.isEmpty) 0L else ops.map(_.memoryUsedBytes).max)
  }

  /** A file-source stream over `src` (`filesPerTrigger` files a
    * micro-batch) through the per-batch `body`, to completion. */
  private def drive(ss: SparkSession, src: java.nio.file.Path,
                    filesPerTrigger: Int, ckpt: java.nio.file.Path)(
      body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, filesPerTrigger),
      ckpt.toString)(body)

  private def mean(xs: Seq[Double]): Double = xs.sum / math.max(1, xs.size)

  /** `"<key>_first<n>":…,"<key>_last<n>":…` — the means of a series'
    * first and last `n` values. */
  private def endsJson(key: String, xs: Seq[Double], n: Int): String =
    f""""${key}_first$n":${mean(xs.take(n))}%.3f,"${key}_last$n":${mean(xs.takeRight(n))}%.3f"""

  /** `"<key>_max":…,"<key>_end":…` — the peak and the final value of a
    * series of file counts. */
  private def filesJson(key: String, xs: Seq[Int]): String =
    s""""${key}_max":${if (xs.isEmpty) 0 else xs.max},"${key}_end":${xs.lastOption.getOrElse(0)}"""

  /** The corpus split into 40 single-file waves under a fresh temp dir
    * (`prefix`); returns the dir and its source subdir. */
  private def fortyWaves(s: SparkSession, dir: String, prefix: String)
      : (java.nio.file.Path, java.nio.file.Path) = {
    val tmp = Files.createTempDirectory(prefix)
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    (0 until 40).foreach { wv =>
      StreamFixtures.writeBatch(tmp, src,
        docs.filter(col("doc_id") % 40 === wv), s"w$wv",
        parts = 1, mtimeMs = 1000000000000L + wv * 60000L)
    }
    (tmp, src)
  }

  /** The embeddings as the ANN bodies take them (`array<double>`). */
  private def vectors(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))

  /** q_stream_neardup's machinery: LSH bucket state over the corpus
    * (batch 1, 8 files) + planted copies (batch 2). */
  def nearDup(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-nd")
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000000L).as("doc_id"),
      concat(col("text"), lit(" trailing")).as("text"))
    StreamFixtures.writeBatch(tmp, src, docs, "a", 8, 1000000000000L)
    StreamFixtures.writeBatch(tmp, src, planted, "b", 1, 1000000060000L)
    val ss = StreamFixtures.childSession(s, 8)
    val raw = StreamFixtures.fileStream(ss, src, 8)
    val name = s"sprobe_nd_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
    val probe = withStream {
      graft.streaming.StreamNearDup
        .candidateStream(raw, "doc_id", "text", threshold = 0.5)(ss)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    ss.catalog.dropTempView(name)
    graft.ingest.FileOps.deleteRecursively(tmp)
    probe
  }

  /** The TTL'd near-dup index under a REALISTIC growth model: corpus
    * growth = a longer arrival history at a FIXED ingest rate (one
    * 25k-doc wave per event-hour), not a bigger instant. TTL = 1.5
    * event-hours, so only ~2 waves of buckets are live at any batch —
    * peak state is set by rate × horizon and stays FLAT as the corpus
    * (= wave count) grows, where the unbounded index's state grows
    * linearly forever. This is the probe evidence for the bounded-
    * state mode; recall beyond the horizon is explicitly the stored-
    * index hybrid's job ([[nearDupHybrid]]). */
  def nearDupTtl(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-ndttl")
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val waveSize = 25000L
    val waves = math.max(2,
      ((graft.Tables.parquetRowCount(s, dir, "documents") + waveSize - 1)
        / waveSize).toInt)
    val t0 = 1700000000000L
    (0 until waves).foreach { wv =>
      val wave = docs
        .filter(col("doc_id") % waves === wv)
        .withColumn("arrival",
          lit(new java.sql.Timestamp(t0 + wv * 3600000L)))
      StreamFixtures.writeBatch(tmp, src, wave, s"w$wv",
        parts = 1, mtimeMs = 1000000000000L + wv * 60000L)
    }
    val ss = StreamFixtures.childSession(s, 8)
    val raw = StreamFixtures.fileStream(ss, src, 1)
    val name = s"sprobe_ndttl_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
    val probe = withStream {
      graft.streaming.StreamNearDup
        .candidateStream(raw, "doc_id", "text", threshold = 0.5,
          stateTtlMs = Some(5400000L), eventTimeCol = Some("arrival"))(ss)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    ss.catalog.dropTempView(name)
    graft.ingest.FileOps.deleteRecursively(tmp)
    probe
  }

  /** q_stream_neardup_hybrid's body ([[graft.streaming.HybridNearDup]]):
    * the band index in a leveled stage table, candidates via per-batch
    * bucket joins, stream state ZERO at every scale — the second
    * bounded-state answer. Per arriving batch the cost is one pruned
    * read of the stored index (the arriving side's bucket keys pushed
    * as an IN filter; the index never shuffles). */
  def nearDupHybrid(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-ndh")
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000000L).as("doc_id"),
      concat(col("text"), lit(" trailing")).as("text"))
    StreamFixtures.writeBatch(tmp, src, docs, "a", 8, 1000000000000L)
    StreamFixtures.writeBatch(tmp, src, planted, "b", 1, 1000000060000L)
    val ss = StreamFixtures.childSession(s, 8)
    val p = graft.streaming.HybridNearDup.create(ss, "sprobe_ndh", tmp.toString)
    val probe = withStream {
      drive(ss, src, 8, tmp.resolve("ckpt")) { (b, bid) => p.perBatch(b, bid); () }
    }
    graft.ingest.FileOps.deleteRecursively(tmp)
    probe
  }

  /** TWO-TIER composition (q_stream_neardup_twotier's machinery, tier B
    * through [[graft.streaming.TwoTierNearDup]]) under
    * the fixed-rate growth model: tier A = the TTL'd stateful window
    * (1.5 event-hours), tier B = pending→bulk aging + pruned stored-
    * index serves. The probe's claims: tier A's state stays BOUNDED by
    * rate × horizon as the corpus (= wave count) grows, while recall
    * stays FULL — planted copies of WAVE-0 docs arrive in the final
    * wave, far beyond the horizon, and must be found through tier B's
    * aged bulk index (tier A evicted their originals long ago). Emits
    * a detail JSON line with the planted-recall count. */
  def nearDupTwoTier(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-ndtt")
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val waveSize = 25000L
    val waves = math.max(3,
      ((graft.Tables.parquetRowCount(s, dir, "documents") + waveSize - 1)
        / waveSize).toInt)
    val t0 = 1700000000000L
    val ttlMs = 5400000L
    (0 until waves).foreach { wv =>
      val wave = docs
        .filter(col("doc_id") % waves === wv)
        .withColumn("arrival",
          lit(new java.sql.Timestamp(t0 + wv * 3600000L)))
      StreamFixtures.writeBatch(tmp, src, wave, s"w$wv",
        parts = 1, mtimeMs = 1000000000000L + wv * 60000L)
    }
    // planted beyond-horizon dups: copies of 10 WAVE-0 docs arriving
    // after every earlier wave — only the bulk tier can find them
    val planted = docs.filter(col("doc_id") % waves === 0)
      .orderBy(col("doc_id")).limit(10)
      .select((col("doc_id") + 100000000L).as("doc_id"),
        concat(col("text"), lit(" trailing")).as("text"))
      .withColumn("arrival",
        lit(new java.sql.Timestamp(t0 + waves * 3600000L)))
    StreamFixtures.writeBatch(tmp, src, planted, "wp",
      parts = 1, mtimeMs = 1000000000000L + waves * 60000L)
    val ss = StreamFixtures.childSession(s, 8)
    import graft.streaming.StreamNearDup
    val p = graft.streaming.TwoTierNearDup.create(ss, "sprobe_ndtt",
      tmp.toString, ttlMs)
    def raw() = StreamFixtures.fileStream(ss, src, 1)
    val probeB = withStream {
      drive(ss, src, 1, tmp.resolve("ckptB")) { (b, bid) => p.perBatch(b, bid); () }
    }
    val name = s"sprobe_ndtt_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
    val probeA = withStream {
      StreamNearDup
        .candidateStream(raw(), "doc_id", "text", threshold = 0.5,
          stateTtlMs = Some(ttlMs), eventTimeCol = Some("arrival"))(ss)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val tierA = ss.table(name).select(col("id_a"), col("id_b"))
    val tierB = p.pairs.read()
    // recall counted against the EXACT planted set — (original id,
    // original id + offset) for the 10 wave-0 docs actually copied —
    // not any coincidental candidate pair whose id delta happens to
    // equal the offset (which would inflate planted_found)
    val plantedOrigIds = docs.filter(col("doc_id") % waves === 0)
      .orderBy(col("doc_id")).limit(10)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val foundPlanted = tierA.unionByName(tierB).distinct()
      .filter(col("id_a").isin(plantedOrigIds: _*) &&
        col("id_b") === col("id_a") + 100000000L).count()
    ss.catalog.dropTempView(name)
    graft.ingest.FileOps.deleteRecursively(tmp)
    println(s"""{"pipeline":"stream_neardup_twotier","waves":${waves + 1},"planted_expected":10,"planted_found":$foundPlanted,"tierA_state_rows":${probeA.stateRows},"tierA_sec":${f"${probeA.sec}%.2f"},"tierB_sec":${f"${probeB.sec}%.2f"}}""")
    Probe(probeA.sec + probeB.sec, probeA.stateRows, probeA.stateBytes)
  }

  /** SALVAGE RECALL, measured — turns StreamNearDup's ~1/g hot-band
    * argument into numbers. Synthetic signatures (the salvage operates
    * on the band relation, so the probe constructs it directly) force
    * ONE hot bucket: 200 filler docs plus every planted original share
    * band 0's four slots while all other slots are unique per doc.
    * Two planted families measure the two sides of the trade:
    *
    *  - NEAR-IDENTICAL pairs (2 of 64 slots perturbed, est. Jaccard
    *    0.97): the dup differs in bands 1-2 but co-buckets with its
    *    original in 13 COLD bands (slots 5 and 9 sit in bands 1-2; band 0
    *    is the hot one) — the "other bands carry the pair"
    *    claim. Expected found = planted at EVERY g.
    *  - HOT-ONLY pairs (one slot perturbed in each of the 15 cold
    *    bands, est. Jaccard 0.77 — still far above the 4σ cutoff):
    *    the ONLY co-bucketing band is the hot one, so found/planted
    *    directly measures the salted split — expected ~1/g (identical
    *    signatures would keep full recall; these differ, so the salt
    *    separates them with probability (g-1)/g).
    *
    * g is forced through maxBucket: the hot bucket's total membership
    * is 320 (260 stored + 60 arriving), so caps {100000, 160, 80, 40}
    * yield g = {1 (cold baseline), 2, 4, 8}. One detail JSON line per
    * g reports found/planted for both families. */
  def nearDupSalvageRecall(s: SparkSession, dir: String): Probe = {
    import s.implicits._
    val k = 64
    val bands = 16
    def sig(base: Long, perturb: Set[Int] = Set.empty): Array[Long] =
      (0 until k).map { j =>
        val v = if (j < 4) 777000L + j else base * 64L + j
        if (perturb(j)) v + 1000000000L else v
      }.toArray
    val fillers = (0 until 200).map(i => (10000L + i, sig(100000L + i)))
    val nearOrig = (0 until 20).map(p => (20000L + p, sig(200000L + p)))
    val nearDup = (0 until 20).map(p =>
      (120000L + p, sig(200000L + p, Set(5, 9))))
    val hotOrig = (0 until 40).map(q => (30000L + q, sig(300000L + q)))
    val hotDup = (0 until 40).map(q =>
      (130000L + q, sig(300000L + q, (1 until 16).map(_ * 4).toSet)))
    def bandsOf(rows: Seq[(Long, Array[Long])]) =
      graft.plans.Materialize.stage(
        s.createDataset(rows).toDF("doc_id", "sig")
          .select(col("doc_id"), col("sig"),
            explode(graft.text.Dedup.bandHashes(col("sig"), k, bands)).as("b"))
          .select(col("b.band").as("band"), col("b.bh").as("bh"),
            col("doc_id"), col("sig")))
    val index = bandsOf(fillers ++ nearOrig ++ hotOrig)
    val batch = bandsOf(nearDup ++ hotDup)
    val t0 = System.nanoTime()
    Seq((1, 100000), (2, 160), (4, 80), (8, 40)).foreach { case (g, mb) =>
      val pairs = graft.streaming.StreamNearDup
        .hybridCandidates(batch, index, threshold = 0.5, maxBucket = mb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nearFound = (0 until 20).count(p =>
        pairs((20000L + p, 120000L + p)))
      val hotFound = (0 until 40).count(q =>
        pairs((30000L + q, 130000L + q)))
      println(s"""{"pipeline":"stream_neardup_salvage_recall","g":$g,"max_bucket":$mb,"near_identical_found":$nearFound,"near_identical_planted":20,"hot_only_found":$hotFound,"hot_only_planted":40}""")
    }
    Probe((System.nanoTime() - t0) / 1e9, 0L, 0L)
  }

  /** q_stream_containment_hybrid's body
    * ([[graft.streaming.HybridNearDup]] over seed-gram postings): the
    * posting list in a leveled run table, per-batch broadcast joins,
    * stream state ZERO. */
  def containmentHybrid(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-sch")
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val pad = array_join(
      transform(sequence(lit(1), lit(1499)),
        i => concat(lit("pady"), i.cast("string"))), " ")
    val buried = docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 500000000L).as("doc_id"),
      concat(col("text"), lit(" "), pad).as("text"))
    StreamFixtures.writeBatch(tmp, src, docs, "a", 8, 1000000000000L)
    StreamFixtures.writeBatch(tmp, src, buried, "b", 1, 1000000060000L)
    val ss = StreamFixtures.childSession(s, 8)
    val p = graft.streaming.HybridNearDup.containment(ss, "sprobe_sch", tmp.toString)
    val probe = withStream {
      drive(ss, src, 8, tmp.resolve("ckpt")) { (b, bid) => p.perBatch(b, bid); () }
    }
    graft.ingest.FileOps.deleteRecursively(tmp)
    probe
  }

  /** STEADY-STATE serve cost of the near-dup hybrid: the band index is
    * pre-built over the WHOLE ×N corpus (bh-sorted, 1 MiB row groups,
    * compacted — the layout the entries maintain), and the probe times
    * ONLY one small arriving batch's serve (candidate joins + pair
    * write + index append). This is the row that must stay near-FLAT
    * as the index grows ×1→×100: the batch's bucket keys push into the
    * index read as an IN filter, so the scan reads ~the matching row
    * groups, not the index. Index build time is excluded — it is the
    * bulk load every form pays once. */
  def nearDupHybridServe(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-ndhs")
    val ss = StreamFixtures.childSession(s, 8)
    import graft.streaming.StreamNearDup
    val docs = graft.Tables.load(ss, dir, "documents")
      .select(col("doc_id"), col("text"))
    val bands = StreamNearDup.bandRelation(docs, "doc_id", "text")
    val idxTable = graft.catalog.ParquetTable(
      ss, "sprobe_ndhs_idx", s"$tmp/idx", bands.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    idxTable.append(bands.sortWithinPartitions("bh"))
    idxTable.compact(Seq("bh"))
    val planted = docs.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000000L).as("doc_id"),
      concat(col("text"), lit(" trailing")).as("text"))
    val nb = graft.plans.Materialize.stage(
      StreamNearDup.bandRelation(planted, "doc_id", "text"))
    val t0 = System.nanoTime()
    StreamNearDup.hybridCandidates(nb, idxTable.read(), threshold = 0.5,
        pruneKeyCap = StreamNearDup.adaptiveKeyCap(idxTable.tableBytes))
      .write.mode("append").parquet(tmp.resolve("pairs").toString)
    idxTable.append(nb.sortWithinPartitions("bh"))
    val sec = (System.nanoTime() - t0) / 1e9
    graft.ingest.FileOps.deleteRecursively(tmp)
    Probe(sec, 0L, 0L)
  }

  /** LONG-RUN behavior of the near-dup hybrid under the production
    * maintenance cadence — the r12 residue this measures away: per-
    * batch appends fragment the stored index (one file set per batch;
    * footer/metadata reads grow with file count), and without cadence
    * compaction a long-running serve degrades even though every other
    * per-batch cost is batch-bounded. 40 single-file micro-batches
    * (the corpus split into 40 waves) run the entry's library body
    * ([[graft.streaming.HybridNearDup]]: sign, pruned serve,
    * skip-if-landed pair run, leveled batch-run write,
    * [[graft.streaming.LeveledIndex.maintain]] every 8) — and
    * the probe records per-batch serve seconds and the index's data-
    * file count after each batch. The claims under test: file count
    * stays BOUNDED (sawtooth, reset by each compaction — never
    * monotone growth) and serve time stays FLAT (last-10-batch mean ≈
    * first-10-batch mean) while the index grows 40×. Emits one detail
    * JSON line; the returned Probe carries the last-10 mean serve. */
  def nearDupHybridLongRun(s: SparkSession, dir: String): Probe =
    hybridLongRun(s, dir, "stream_neardup_hybrid_longrun",
      graft.streaming.HybridNearDup.create(_, "sprobe_ndhl", _))

  /** A [[nearDupHybridLongRun]]-shaped run of the hybrid body `make`
    * (given the session and the root): per-batch seconds (serve and
    * maintenance) and the index's data-file count after each batch. */
  private def hybridLongRun(s: SparkSession, dir: String, pipeline: String,
      make: (SparkSession, String) => graft.streaming.HybridNearDup): Probe = {
    val (tmp, src) = fortyWaves(s, dir, "graft-sprobe-hl")
    val ss = StreamFixtures.childSession(s, 8)
    val p = make(ss, tmp.toString)
    val perBatch = scala.collection.mutable.ArrayBuffer[(Long, Double, Int)]()
    withStream {
      drive(ss, src, 1, tmp.resolve("ckpt")) { (b, bid) =>
        val r = p.perBatch(b, bid)
        perBatch += ((bid, r.serveSec + r.maintSec, p.idx.table.dataFileCount))
        ()
      }
    }
    graft.ingest.FileOps.deleteRecursively(tmp)
    val sorted = perBatch.sortBy(_._1).toSeq
    val secs = sorted.map(_._2)
    println(s"""{"pipeline":"$pipeline","batches":${sorted.size},${filesJson("files", sorted.map(_._3))},${endsJson("serve_sec", secs, 10)}}""")
    Probe(mean(secs.takeRight(10)), 0L, 0L)
  }

  /** TWO-TIER containment (q_stream_containment_twotier's machinery)
    * under the fixed-rate growth model — the [[nearDupTwoTier]] row for
    * the seed-gram posting family: tier A = the TTL'd stateful posting
    * window (1.5 event-hours, state bounded by rate × horizon), tier
    * B = pending→bulk aging + pruned stored-posting serves. Planted
    * beyond-horizon containment: 10 wave-0 ORIGINALS (copies of docs
    * 0-9, whose seed counts the containment fixtures prove sufficient)
    * whose pad-BURIED copies arrive in the final wave, hours past the
    * horizon — only the aged bulk postings can pair them. Emits a
    * detail JSON line with planted recall and tier-A peak state. */
  def containmentTwoTier(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-sctt")
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val waveSize = 25000L
    val waves = math.max(3,
      ((graft.Tables.parquetRowCount(s, dir, "documents") + waveSize - 1)
        / waveSize).toInt)
    val t0 = 1700000000000L
    val ttlMs = 5400000L
    val gramFn = Some(
      graft.text.Dedup.portableGramHashes(_: org.apache.spark.sql.Column, 3))
    val origs = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    (0 until waves).foreach { wv =>
      val base = docs.filter(col("doc_id") % waves === wv)
      val wave = (if (wv == 0) base.unionByName(origs) else base)
        .withColumn("arrival",
          lit(new java.sql.Timestamp(t0 + wv * 3600000L)))
      StreamFixtures.writeBatch(tmp, src, wave, s"w$wv",
        parts = 1, mtimeMs = 1000000000000L + wv * 60000L)
    }
    val pad = array_join(
      transform(sequence(lit(1), lit(1499)),
        i => concat(lit("pady"), i.cast("string"))), " ")
    val planted = origs
      .select((col("doc_id") + 100000000L).as("doc_id"),
        concat(col("text"), lit(" "), pad).as("text"))
      .withColumn("arrival",
        lit(new java.sql.Timestamp(t0 + waves * 3600000L)))
    StreamFixtures.writeBatch(tmp, src, planted, "wp",
      parts = 1, mtimeMs = 1000000000000L + waves * 60000L)
    val ss = StreamFixtures.childSession(s, 8)
    import graft.streaming.StreamSeedGram
    val p = graft.streaming.TwoTierNearDup.containment(ss, "sprobe_sctt",
      tmp.toString, ttlMs)
    def raw() = StreamFixtures.fileStream(ss, src, 1)
    val probeB = withStream {
      drive(ss, src, 1, tmp.resolve("ckptB")) { (b, bid) => p.perBatch(b, bid); () }
    }
    val name = s"sprobe_sctt_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
    val probeA = withStream {
      StreamSeedGram
        .seedPairStreamTtl(raw(), "doc_id", "text",
          stateTtlMs = ttlMs, eventTimeCol = "arrival",
          w = 3, seedMod = 8, maxDf = 1000, gramFn = gramFn)(ss)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    // the min-shared-seeds recovery across BOTH tiers, then exact
    // planted-id matching (the nearDupTwoTier counting fix)
    val cands = ss.table(name).select(col("id_a"), col("id_b"), col("h"))
      .unionByName(p.pairs.read())
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("h")).as("shared"))
      .filter(col("shared") >= 2)
    val foundPlanted = cands
      .filter(col("id_a") >= 700000L && col("id_a") < 700010L &&
        col("id_b") === col("id_a") + 100000000L).count()
    // DETECTABLE planted set: an original with < 2 seed grams can never
    // pair under the min-shared-seeds rule — in the batch detector and
    // its oracle exactly as here (at sf0.1, doc 0 carries 1 seed) — so
    // recall is counted against what the rule can express, not the raw
    // plant count
    val expected = graft.streaming.IndexFamily.Seeds.sign(origs, false)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n"))
      .filter(col("n") >= 2).count()
    ss.catalog.dropTempView(name)
    graft.ingest.FileOps.deleteRecursively(tmp)
    println(s"""{"pipeline":"stream_containment_twotier","waves":${waves + 1},"planted_expected":$expected,"planted_found":$foundPlanted,"tierA_state_rows":${probeA.stateRows},"tierA_sec":${f"${probeA.sec}%.2f"},"tierB_sec":${f"${probeB.sec}%.2f"}}""")
    Probe(probeA.sec + probeB.sec, probeA.stateRows, probeA.stateBytes)
  }

  /** LONG-RUN behavior of the containment hybrid under the production
    * maintenance cadence — the [[nearDupHybridLongRun]] measurement for
    * the posting index: 40 single-file micro-batches run the entry's
    * library body ([[graft.streaming.HybridNearDup]] over seed grams:
    * seed-publish, pruned serve, skip-if-landed pair run, leveled
    * posting run, maintenance every 8); claims: file count bounded
    * (sawtooth), serve flat while the posting index grows 40×. */
  def containmentHybridLongRun(s: SparkSession, dir: String): Probe =
    hybridLongRun(s, dir, "stream_containment_hybrid_longrun",
      graft.streaming.HybridNearDup.containment(_, "sprobe_schl", _))

  /** LONG-RUN behavior of the COMPOSED dedup pipeline
    * (q_stream_dedup_pipeline's body, [[graft.streaming.DedupPipeline]]:
    * pruned candidate serve →
    * endpoint-pruned exact verify → incremental components, FOUR stage
    * tables of which three compact on the cadence): 40 single-file
    * micro-batches; claims: every compacted table's file count stays
    * bounded and per-batch cost stays flat while all four tables grow
    * 40×. */
  def dedupPipelineLongRun(s: SparkSession, dir: String): Probe = {
    val (tmp, src) = fortyWaves(s, dir, "graft-sprobe-ddpl")
    val ss = StreamFixtures.childSession(s, 8)
    val p = graft.streaming.DedupPipeline.create(ss, "sprobe_ddpl", tmp.toString)
    val perBatch = scala.collection.mutable
      .ArrayBuffer[(Long, graft.streaming.BatchReport, Int, Int, Int)]()
    val probe = withStream {
      drive(ss, src, 1, tmp.resolve("ckpt")) { (b, bid) =>
        // maintenance is timed APART from serving, per cadence: the
        // r14 full-table rewrite grew 3.0 → 6.9 s over these 40
        // batches; the leveled fold + in-place forwards closure must
        // stay FLAT (O(new rows), with geometrically-rarer cascades)
        val r = p.perBatch(b, bid)
        // the diagnostic fwd-count is its own Spark job, read after the
        // batch so it cannot inflate the maintenance series
        if (r.maintained) println(f"[ddpl-maint] bid=$bid maint=${r.maintSec}%.2f fwd_rows=${p.fwd.read().count()}")
        perBatch += ((bid, r, p.idx.table.dataFileCount,
          p.txt.table.dataFileCount, p.labels.table.dataFileCount))
        ()
      }
    }
    graft.ingest.FileOps.deleteRecursively(tmp)
    val sorted = perBatch.sortBy(_._1).toSeq
    val serveOnly = sorted.filterNot(_._2.maintained).map(_._2.serveSec)
    // the FULL per-cadence maintenance series — the r15 claim is that
    // it is flat (first ≈ last), not just that its endpoints are
    val maints = sorted.filter(_._2.maintained).map(_._2.maintSec)
    val maintsJson = maints.map(m => f"$m%.3f").mkString("[", ",", "]")
    println(s"""{"pipeline":"stream_dedup_pipeline_longrun","batches":${sorted.size},${filesJson("files_idx", sorted.map(_._3))},${filesJson("files_txt", sorted.map(_._4))},${filesJson("files_labels", sorted.map(_._5))},${endsJson("serve_sec", serveOnly, 10)},"maint_sec":$maintsJson,"maint_sec_first":${f"${maints.headOption.getOrElse(0.0)}%.3f"},"maint_sec_last":${f"${maints.lastOption.getOrElse(0.0)}%.3f"}}""")
    Probe(mean(serveOnly.takeRight(10)), 0L, 0L)
  }

  /** Steady-state serve cost of the containment hybrid — the
    * [[nearDupHybridServe]] measurement for the posting index. */
  def containmentHybridServe(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-schs")
    val ss = StreamFixtures.childSession(s, 8)
    import graft.streaming.StreamSeedGram
    val docs = graft.Tables.load(ss, dir, "documents")
      .select(col("doc_id"), col("text"))
    val gramFn = Some(graft.text.Dedup.portableGramHashes(_: org.apache.spark.sql.Column, 3))
    val seeds = StreamSeedGram.seedRelation(docs, "doc_id", "text",
      w = 3, seedMod = 8, gramFn = gramFn)
    val idxTable = graft.catalog.ParquetTable(
      ss, "sprobe_schs_idx", s"$tmp/idx", seeds.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    idxTable.append(seeds.sortWithinPartitions("h"))
    idxTable.compact(Seq("h"))
    val pad = array_join(
      transform(sequence(lit(1), lit(1499)),
        i => concat(lit("pady"), i.cast("string"))), " ")
    val buried = docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 500000000L).as("doc_id"),
      concat(col("text"), lit(" "), pad).as("text"))
    val nb = graft.plans.Materialize.stage(
      StreamSeedGram.seedRelation(buried, "doc_id", "text",
        w = 3, seedMod = 8, gramFn = gramFn))
    val t0 = System.nanoTime()
    StreamSeedGram.hybridSeedPairs(nb, idxTable.read(), maxDf = 1000,
        pruneKeyCap = graft.streaming.StreamNearDup
          .adaptiveKeyCap(idxTable.tableBytes))
      .write.mode("append").parquet(tmp.resolve("pairs").toString)
    idxTable.append(nb.sortWithinPartitions("h"))
    val sec = (System.nanoTime() - t0) / 1e9
    graft.ingest.FileOps.deleteRecursively(tmp)
    Probe(sec, 0L, 0L)
  }

  /** Steady-state cost of ONE incremental-components batch as the
    * stored LABEL table grows ×N (40 label rows per corpus doc,
    * synthetic 4-doc components, doc-sorted with small row groups —
    * the layout q_components_incremental maintains): a FIXED 100-pair
    * batch (50 comp-merges through interior nodes, 25 new-node
    * attaches, 25 new-new pairs) is applied and timed end to end
    * (pruned root lookup + star-CC over the root graph + both
    * appends). The row that must stay FLAT: per-batch cost is bounded
    * by the batch, never the label table. */
  def incrementalComponentsServe(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-inc")
    val n = graft.Tables.parquetRowCount(s, dir, "documents") * 40L
    val base = s.range(n).select(col("id").as("doc_id"),
      (col("id") - col("id") % 4).as("comp_id"))
    val labelsT = graft.catalog.ParquetTable(
      s, "sprobe_inc_labels", s"$tmp/labels", base.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    // range partitions are already contiguous/sorted by id
    labelsT.append(base)
    val fwdT = graft.catalog.ParquetTable(
      s, "sprobe_inc_fwd", s"$tmp/fwd",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("old_root",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("new_root",
          org.apache.spark.sql.types.LongType)))).createIfNotExists()
    import s.implicits._
    val batch = ((0L until 50L).map(i => (i * 8 + 1, i * 8 + 5)) ++
      (0L until 25L).map(j => (n * 2 + j, j * 8 + 2)) ++
      (0L until 25L).map(j => (n * 3 + 2 * j, n * 3 + 2 * j + 1)))
      .toDF("id_a", "id_b")
    val t0 = System.nanoTime()
    val (nl, nf) = graft.plans.IncrementalComponents.batchAppends(
      labelsT.read(), fwdT.read(), batch)
    val (pl, pf) = (graft.plans.Materialize.stage(nl),
      graft.plans.Materialize.stage(nf))
    labelsT.append(pl.sortWithinPartitions("doc_id"))
    fwdT.append(pf)
    val sec = (System.nanoTime() - t0) / 1e9
    graft.ingest.FileOps.deleteRecursively(tmp)
    Probe(sec, 0L, 0L)
  }

  /** q_stream_containment's machinery: seed-gram posting state. */
  def containment(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-sc")
    val src = Files.createDirectories(tmp.resolve("src"))
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val pad = array_join(
      transform(sequence(lit(1), lit(1499)),
        i => concat(lit("pady"), i.cast("string"))), " ")
    val buried = docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 500000000L).as("doc_id"),
      concat(col("text"), lit(" "), pad).as("text"))
    StreamFixtures.writeBatch(tmp, src, docs, "a", 8, 1000000000000L)
    StreamFixtures.writeBatch(tmp, src, buried, "b", 1, 1000000060000L)
    val ss = StreamFixtures.childSession(s, 8)
    val raw = StreamFixtures.fileStream(ss, src, 8)
    val name = s"sprobe_sc_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
    val probe = withStream {
      graft.streaming.StreamSeedGram
        .seedPairStream(raw, "doc_id", "text", w = 3, seedMod = 8,
          maxDf = 1000,
          gramFn = Some(graft.text.Dedup.portableGramHashes(_, 3)))(ss)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    ss.catalog.dropTempView(name)
    graft.ingest.FileOps.deleteRecursively(tmp)
    probe
  }

  /** LONG-RUN behavior of the ANN maintenance loop
    * (q_stream_ann_maintain's body, [[graft.streaming.AnnMaintain]]):
    * 20 healthy arrival waves (the corpus re-landed with fresh ids each
    * wave — no drift, so no retrain fires and the probe isolates the
    * STEADY-STATE cost): encode-append into the current generation,
    * landed-vector and reservoir writes (1 MiB size target), the
    * statistics merge, the decision. Claims: per-batch cost stays FLAT
    * while the landed index grows 20× — the monitor reads k × windows
    * STATS rows, never the scored history — and the decision stays
    * quiet on healthy waves (zero retrains). */
  def annMaintainLongRun(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-annm")
    val emb = vectors(s, dir)
    val p = graft.streaming.AnnMaintain.create(s, "sprobe_annm", tmp.toString,
      emb.filter(col("vec_id") % 2 === 0), graft.vector.TrainReservoir.Target(1L << 20))
    val waves = 20
    val reports = (0 until waves).map { wv =>
      p.perBatch(graft.plans.Materialize.stage(
        emb.select((col("vec_id") + lit(wv * 1000000L)).as("vec_id"),
          col("embedding"))), wv.toLong)
    }
    val statsRows = p.stats.read().count()
    graft.ingest.FileOps.deleteRecursively(tmp)
    val secs = reports.map(r => r.serveSec + r.maintSec)
    println(s"""{"pipeline":"ann_maintain_longrun","waves":$waves,"retrains":${reports.count(_.maintained)},"stats_rows":$statsRows,${endsJson("sec", secs, 5)}}""")
    Probe(mean(secs.takeRight(5)), 0L, 0L)
  }

  /** The ANN maintenance loop THROUGH drift waves — the expensive path
    * [[annMaintainLongRun]]'s 20 healthy waves never exercise: drift
    * flags → sampled retrain → re-encode → atomic swap → baseline
    * rebase → re-arm, measured per PHASE between the body's commits. Two
    * drift waves are planted (+0.5 on the first 8 coordinates at wave
    * 8, +0.5 more on the next 8 from wave 16) so the second retrain
    * runs against a landed table ~2× the first's — the r15 claim under
    * test: with the training population banked in the incremental
    * [[graft.vector.TrainReservoir]] (1 MiB size target — sample
    * membership evaluated at ingest, so training never scans the
    * corpus), the TRAINING phases (centroid k-means, PQ codebooks) stay
    * FLAT across retrains while only the inherent re-encode passes
    * (assign, codes) grow with the corpus. Also reported: the monitor
    * re-arms after each rebase (stats rows return to k×1 'train' then
    * re-split) and the per-wave cost returns to the healthy band after
    * each swap. */
  def annMaintainDriftWave(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-annw")
    val emb = vectors(s, dir)
    val p = graft.streaming.AnnMaintain.create(s, "sprobe_annw", tmp.toString,
      emb.filter(col("vec_id") % 2 === 0), graft.vector.TrainReservoir.Target(1L << 20))
    val waves = 24
    // wave 8: +0.5 on coords [0,8); wave 16: ADDITIONALLY +0.5 on
    // coords [8,16) — the second drift is orthogonal to the first, so
    // it reads at full magnitude against whatever mixture the first
    // retrain's quantizers settled on
    def d1(wv: Int): Double = if (wv < 8) 0.0 else 0.5
    def d2(wv: Int): Double = if (wv < 16) 0.0 else 0.5
    val healthySecs = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val retrainRows = scala.collection.mutable.ArrayBuffer[String]()
    (0 until waves).foreach { wv =>
      val batch = graft.plans.Materialize.stage(
        emb.select((col("vec_id") + lit(wv * 1000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x + when(i < lit(8), lit(d1(wv)))
              .when(i < lit(16), lit(d2(wv)))
              .otherwise(lit(0.0))).as("embedding")))
      // phase clocks from the commits; the decision commits nothing, so
      // it falls inside the centroid phase
      val marks = scala.collection.mutable.Map[String, Long]()
      val r = graft.catalog.Commits.during { label =>
        val phase =
          if (label == "sprobe_annw_stats")
            if (marks.contains("published")) "rebased" else "ingested"
          else if (label.endsWith("/_current")) "published"
          else label.takeWhile(_ != '/')
        marks(phase) = System.nanoTime()
      }(p.perBatch(batch, wv.toLong))
      if (r.maintained) {
        def ph(a: String, b: String) = f"${(marks(b) - marks(a)) / 1e9}%.2f"
        val sizes = s""""table_rows":${p.vecs.read().count()},"keep_buckets":${p.resv.storedKeep},"train_rows":${p.resv.trainPop().count()}"""
        retrainRows += s"""{"wave":$wv,"gen":${p.index.currentGen().getOrElse(-1L)},$sizes,"sec_train_centroids":${ph("ingested", "gen_centroids")},"sec_encode_assign":${ph("gen_centroids", "gen_assign")},"sec_train_codebooks":${ph("gen_assign", "gen_codebooks")},"sec_encode_codes":${ph("gen_codebooks", "gen_codes")},"sec_publish":${ph("gen_codes", "published")},"sec_rebase":${ph("published", "rebased")},"sec_total":${ph("ingested", "rebased")}}"""
      } else healthySecs += ((wv, r.serveSec + r.maintSec))
    }
    val statsRows = p.stats.read().count()
    val genEnd = p.index.currentGen().getOrElse(-1L)
    graft.ingest.FileOps.deleteRecursively(tmp)
    val pre = mean(healthySecs.filter(_._1 < 8).map(_._2).toSeq)
    val mid = mean(healthySecs.filter(w => w._1 > 8 && w._1 < 16)
      .map(_._2).toSeq)
    val post = mean(healthySecs.filter(_._1 > 16).map(_._2).toSeq)
    retrainRows.foreach(println)
    println(s"""{"pipeline":"ann_maintain_driftwave","waves":$waves,"retrains":${retrainRows.size},"gen_end":$genEnd,"stats_rows_end":$statsRows,"healthy_sec_pre":${f"$pre%.3f"},"healthy_sec_mid":${f"$mid%.3f"},"healthy_sec_post":${f"$post%.3f"}}""")
    Probe(post, 0L, 0L)
  }

  /** q_stream_ann_twotier's body ([[graft.streaming.AnnTwoTier]])
    * long-run: 24 arrival waves against a 4-wave recency horizon.
    * Claims: tier-A state (the raw pending window) stays BOUNDED at
    * rate × horizon while the landed corpus grows 24× (everything
    * older lives only as PQ codes in the bulk tier), and the per-wave
    * cost — age-with-encode + pending write + leveled maintenance +
    * full two-tier serve — grows only with the INDEX-side candidate
    * mass (any ANN serve does as the corpus grows), never with a
    * raw-vector scan. */
  def annTwoTier(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-anntt")
    val emb = vectors(s, dir)
    val hourMs = 3600000L
    val p = graft.streaming.AnnTwoTier.create(s, "sprobe_anntt", tmp.toString,
      emb.filter(col("vec_id") % 2 === 0), ttlMs = 4 * hourMs)
    val queries = graft.plans.Materialize.stage(
      emb.filter(col("vec_id") % 50 === 0).limit(40)
        .select(col("vec_id").as("qid"), col("embedding")))
    val t0ms = 1700000000000L
    val waves = 24
    val perWave = (0 until waves).map { wv =>
      val batch = graft.plans.Materialize.stage(
        emb.select((col("vec_id") + lit(wv * 1000000L)).as("vec_id"),
          col("embedding"))
          .withColumn("ts",
            lit(new java.sql.Timestamp(t0ms + wv * hourMs))))
      val t0 = System.nanoTime()
      p.perBatch(batch, wv.toLong)
      require(p.serve(queries).count() > 0,
        "two-tier probe serve came back empty (wave " + wv + ")")
      (System.nanoTime() - t0) / 1e9
    }
    val pendRows = p.tier.pendT.read().count()
    val bulkVecs = p.tier.bulk().filter(col("sub") === 0).count()
    graft.ingest.FileOps.deleteRecursively(tmp)
    println(s"""{"pipeline":"stream_ann_twotier","waves":$waves,"horizon_waves":4,"tierA_rows":$pendRows,"bulk_vecs":$bulkVecs,${endsJson("sec", perWave, 5)}}""")
    Probe(mean(perWave.takeRight(5)), pendRows, 0L)
  }

  /** [[graft.streaming.StreamNearDup.KeyCapCalibration.measure]] on
    * the PRODUCTION session profile (local[32] — the profile
    * Default's 40 µs/key + 1.6 GB/s forensics came from; the
    * StreamingSpec run of the same measurement sits in the 4-thread
    * test JVM, where aggregate scan throughput is legitimately ~8×
    * lower and the derived cap correspondingly prune-happier). The
    * probe row is the reconciliation evidence for the two-point
    * marginal calibration: perKeyNanos and bytesPerKey should land
    * within ~2× of Default's here. */
  def keycapCalibration(s: SparkSession, dir: String): Probe = {
    val cal = graft.streaming.StreamNearDup.KeyCapCalibration.measure(s)
    println(s"""{"pipeline":"keycap_calibration","per_key_nanos":${cal.perKeyNanos},"scan_mb_per_sec":${cal.scanBytesPerSec >> 20},"bytes_per_key":${cal.bytesPerKey},"default_per_key_nanos":40000,"default_bytes_per_key":65536}""")
    Probe(cal.perKeyNanos / 1e9, 0L, 0L)
  }

  /** q_stream_vector_ingest's machinery: stateless foreachBatch
    * assignment against broadcast centroids — the probe documents that
    * state stays ZERO while throughput scales with the table. */
  def vectorIngest(s: SparkSession, dir: String): Probe = {
    val tmp = Files.createTempDirectory("graft-sprobe-vec")
    val src = Files.createDirectories(tmp.resolve("src"))
    val emb = graft.Tables.load(s, dir, "embeddings")
    val cents = graft.vector.KMeans.fitCentroids(
      emb, "vec_id", "embedding", k = 16, iters = 2)
    import s.implicits._
    val centroids = cents.toDF("cid", "embedding")
    StreamFixtures.writeBatch(tmp, src,
      emb.filter(col("vec_id") % 2 === 0), "a", 4, 1000000000000L)
    StreamFixtures.writeBatch(tmp, src,
      emb.filter(col("vec_id") % 2 === 1), "b", 4, 1000000060000L)
    val ss = StreamFixtures.childSession(s, 4)
    val out = tmp.resolve("assign").toString
    val probe = withStream {
      drive(ss, src, 4, tmp.resolve("ckpt")) { (batch, _) =>
        graft.vector.Ann.ivfAssign(batch, "vec_id", "embedding", centroids)
          .write.mode("append").parquet(out)
      }
    }
    graft.ingest.FileOps.deleteRecursively(tmp)
    probe
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamProbe <workDir> <scale...>")
    val workDir = args(0)
    val scales = args.drop(1).map(_.toInt).toSeq.sorted
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Tables.session("graft-stream-probe")
    graft.Tables.load(spark, baseDir, "nation").count()
    val all: Seq[(String, (SparkSession, String) => Probe)] = Seq(
      "stream_neardup" -> nearDup,
      "stream_neardup_ttl" -> nearDupTtl,
      "stream_neardup_hybrid" -> nearDupHybrid,
      "stream_neardup_hybrid_serve" -> nearDupHybridServe,
      "stream_neardup_hybrid_longrun" -> nearDupHybridLongRun,
      "stream_neardup_twotier" -> nearDupTwoTier,
      "stream_neardup_salvage_recall" -> nearDupSalvageRecall,
      "stream_containment" -> containment,
      "stream_containment_hybrid" -> containmentHybrid,
      "stream_containment_hybrid_serve" -> containmentHybridServe,
      "stream_containment_hybrid_longrun" -> containmentHybridLongRun,
      "stream_containment_twotier" -> containmentTwoTier,
      "stream_dedup_pipeline_longrun" -> dedupPipelineLongRun,
      "components_incremental_serve" -> incrementalComponentsServe,
      "ann_maintain_longrun" -> annMaintainLongRun,
      "ann_maintain_driftwave" -> annMaintainDriftWave,
      "stream_ann_twotier" -> annTwoTier,
      "keycap_calibration" -> keycapCalibration,
      "stream_vector_ingest" -> vectorIngest)
    val pipelines = sys.env.get("SPARK_GRAFT_PROBE_ENTRIES") match {
      case Some(sel) =>
        val names = sel.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val known = all.map(_._1).toSet
        val unknown = names.diff(known)
        require(unknown.isEmpty,
          s"unknown probe entries: ${unknown.mkString(", ")} — " +
            s"known: ${known.mkString(", ")}")
        all.filter { case (n, _) => names(n) }
      case None => all
    }

    def reset(): Unit = {
      try org.apache.spark.sql.execution.streaming.state
        .GraftStateStoreHygiene.unloadAllProviders()
      catch { case _: Throwable => () }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }

    val results = scales.map { scale =>
      val dir = s"$workDir/x$scale"
      if (!new java.io.File(s"$dir/documents.parquet").exists())
        ScaleProbe.buildCorpus(spark, baseDir, scale, dir)
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleProbe.buildVectors(spark, baseDir, scale, dir)
      val rows = pipelines.map { case (pname, fn) =>
        val attempts = (1 to 2).map { _ =>
          val p = fn(spark, dir); reset(); p
        }
        val best = attempts.minBy(_.sec)
        println(s"""{"scale":$scale,"pipeline":"$pname","sec":${f"${best.sec}%.2f"},"state_rows":${best.stateRows},"state_bytes":${best.stateBytes}}""")
        pname -> best
      }
      scale -> rows.toMap
    }
    if (scales.size >= 2) {
      val lo = scales.head; val hi = scales.last
      val ratio = math.log(hi.toDouble / lo)
      println("pipeline,time_exponent,state_rows_exponent,t_lo,t_hi,rows_lo,rows_hi,bytes_hi")
      pipelines.foreach { case (n, _) =>
        val a = results.head._2(n); val b = results.last._2(n)
        val tExp = math.log(b.sec / a.sec) / ratio
        val rExp =
          if (a.stateRows > 0 && b.stateRows > 0)
            math.log(b.stateRows.toDouble / a.stateRows) / ratio
          else 0.0
        println(f"$n,$tExp%.2f,$rExp%.2f,${a.sec}%.2f,${b.sec}%.2f,${a.stateRows},${b.stateRows},${b.stateBytes}")
      }
    }
    spark.stop()
  }
}
