package graft.queries

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.catalog.MetaStore
import graft.ingest.{IngestPipeline, StreamRunner}
import graft.model.FeedConfig._

/** End-to-end ingest-pipeline entries (SURVEY §3.1, the flagship path):
  * file feed → streaming scan → system columns → drift → select/rename →
  * PII fork → sink → log/control bookkeeping. The clock is pinned so
  * even these are DuckDB-checkable: the expected target contents are a
  * pure function of the source table.
  */
object PipelineQueries {

  private val fixedNow = Timestamp.valueOf("2024-01-15 10:00:00")

  /** Shared by `q_stream_neardup` (stateful LSH index) and
    * `q_stream_neardup_hybrid` (zero-state stored-index form): both
    * must land on the exact all-pairs ≥ 0.5 Jaccard replay — the index
    * representation decides recall mechanics only, never the verified
    * answer. */
  private val streamNeardupOracleSql: String =
    """WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, concat(text, ' trailing') AS text
      |  FROM documents WHERE doc_id < 20),
      |toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM docs2),
      |grams AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS g
      |  FROM toks),
      |scored AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) AS inter,
      |    CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) AS un
      |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  CASE WHEN un = 0 THEN 0.0 ELSE inter / un END AS jaccard
      |FROM scored
      |WHERE (CASE WHEN un = 0 THEN 0.0 ELSE inter / un END) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Shared by `q_stream_containment` (stateful posting index) and
    * `q_stream_containment_hybrid` (zero-state stored-index form):
    * the full-pipeline replay — seed selection, min-shared-seeds,
    * exact containment verify — must equal the batch
    * q_containment_seed answer bit-for-bit for either index
    * representation. */
  private val streamContainmentOracleSql: String =
    """WITH docs5 AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 500000 AS doc_id,
              |    concat(text, ' ', array_to_string(
              |      list_transform(range(1, 1500), i -> 'pady' || i), ' ')) AS text
              |  FROM documents WHERE doc_id < 10),
              |toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              |  FROM docs5),
              |gh AS (
              |  SELECT doc_id, list_distinct(list_transform(
              |    range(1, len(t) - 1),
              |    i -> ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT))
              |    AS g
              |  FROM toks),
              |seeds AS (
              |  SELECT doc_id, unnest(list_filter(g, h -> h % 8 = 0)) AS h
              |  FROM gh),
              |rare AS (SELECT h FROM seeds GROUP BY h HAVING count(*) <= 1000),
              |idx AS (SELECT s.doc_id, s.h FROM seeds s JOIN rare r ON s.h = r.h),
              |cand AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING count(*) >= 2),
              |scored AS (
              |  SELECT c.id_a, c.id_b,
              |    round(CASE WHEN least(len(ga.g), len(gb.g)) = 0 THEN 0.0
              |      ELSE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
              |           / CAST(least(len(ga.g), len(gb.g)) AS DOUBLE) END, 4)
              |      AS containment
              |  FROM cand c
              |  JOIN gh ga ON ga.doc_id = c.id_a
              |  JOIN gh gb ON gb.doc_id = c.id_b)
              |SELECT id_a, id_b, containment FROM scored
              |WHERE containment >= 0.9
              |ORDER BY id_a, id_b""".stripMargin


  /** Deterministic single-file CSV feed from `nation` (25 rows): exactly
    * one source file → exactly one micro-batch → BatchId=1. */
  private def writeNationCsv(s: SparkSession, dir: String, tmp: Path,
                             withExtra: Boolean): String = {
    val rows = Tables.load(s, dir, "nation")
      .orderBy(col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .collect()
    val header = if (withExtra) "n_nationkey,n_name,n_regionkey,extra_note"
                 else "n_nationkey,n_name,n_regionkey"
    val lines = rows.map { r =>
      val base = s"${r.getInt(0)},${r.getString(1)},${r.getInt(2)}"
      if (withExtra) s"$base,note-${r.getInt(0)}" else base
    }
    val src = Files.createDirectories(tmp.resolve("src"))
    Files.writeString(src.resolve("feed.csv"), (header +: lines).mkString("\n"))
    src.toString
  }

  private def nationFeed(srcDir: String, pii: Boolean): Feed = Feed(
    HeaderID = 1, SourceContainer = "local", SourceFilePath = srcDir,
    SourceFileFormat = "csv", SourceFileHeader = 1, SourceFileDelimiter = ",",
    TargetTableSchema = "analytics", TargetTableName = "nation_ingested",
    IsPII = if (pii) 1 else 0, PIISchema = "pii", PIITableName = "nation_pii",
    Columns = Seq(
      ColumnSpec("n_nationkey", "nation_key", "int", 1),
      ColumnSpec("n_name", "nation_name", "string", 2, IsPII = if (pii) 1 else 0),
      ColumnSpec("n_regionkey", "region_key", "int", 3)))

  /** Run the one-shot ingest and return (pipeline, meta). */
  private def ingest(s: SparkSession, feed: Feed, tmp: Path,
                     pii: Boolean): IngestPipeline = {
    val meta = new MetaStore(s, tmp.resolve("meta").toString).bootstrap()
    val pipe = new IngestPipeline(s, feed, meta,
      tmp.resolve("target").toString,
      piiPath = if (pii) Some(tmp.resolve("pii").toString) else None,
      corruptPath = Some(tmp.resolve("corrupt").toString),
      errorDir = Some(tmp.resolve("errors").toString),
      clock = () => fixedNow)
    new StreamRunner(s, pipe).runOnce(tmp.resolve("ckpt").toString)
    pipe
  }

  val defs: Seq[(String, Q)] = Seq(

    // S1/S2/S8/P1-P3/O4/ST*: the full one-shot CSV ingest slice.
    "q_ingest_csv" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-ingest")
        val src = writeNationCsv(s, dir, tmp, withExtra = false)
        ingest(s, nationFeed(src, pii = false), tmp, pii = false)
          .target.read().orderBy(col("nation_key"))
      },
      Some("""SELECT n_nationkey AS nation_key, n_name AS nation_name,
             |  n_regionkey AS region_key, 1 AS BatchId,
             |  DATE '2024-01-15' AS InsertDate,
             |  TIMESTAMP '2024-01-15 10:00:00' AS ModifiedDateTime
             |FROM nation ORDER BY nation_key""".stripMargin),
      // timed family gate: q_ingest_events (oracle still gates this entry)
      bench = false),

    // S1 (json): same slice through the JSON-lines source — the format
    // branch of the file-stream source gets its own correctness gate,
    // not just the spec-level orc/json coverage.
    "q_ingest_json" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-ingest-json")
        val rows = Tables.load(s, dir, "nation")
          .orderBy(col("n_nationkey"))
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .collect()
        val lines = rows.map { r =>
          s"""{"n_nationkey":${r.getInt(0)},"n_name":"${r.getString(1)}","n_regionkey":${r.getInt(2)}}"""
        }
        val src = Files.createDirectories(tmp.resolve("src"))
        Files.writeString(src.resolve("feed.json"), lines.mkString("\n"))
        ingest(s, nationFeed(src.toString, pii = false)
          .copy(SourceFileFormat = "json", SourceFileHeader = 0,
            SourceFileDelimiter = ""),
          tmp, pii = false)
          .target.read().orderBy(col("nation_key"))
      },
      Some("""SELECT n_nationkey AS nation_key, n_name AS nation_name,
             |  n_regionkey AS region_key, 1 AS BatchId,
             |  DATE '2024-01-15' AS InsertDate,
             |  TIMESTAMP '2024-01-15 10:00:00' AS ModifiedDateTime
             |FROM nation ORDER BY nation_key""".stripMargin),
      // timed family gate: q_ingest_events (oracle still gates this entry)
      bench = false),

    // S1 (orc): and the ORC branch — all four source formats of the
    // file-stream source now carry the same oracle gate.
    "q_ingest_orc" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-ingest-orc")
        val src = tmp.resolve("src")
        Tables.load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .coalesce(1)
          .write.orc(src.toString)
        ingest(s, nationFeed(src.toString, pii = false)
          .copy(SourceFileFormat = "orc", SourceFileHeader = 0,
            SourceFileDelimiter = ""),
          tmp, pii = false)
          .target.read().orderBy(col("nation_key"))
      },
      Some("""SELECT n_nationkey AS nation_key, n_name AS nation_name,
             |  n_regionkey AS region_key, 1 AS BatchId,
             |  DATE '2024-01-15' AS InsertDate,
             |  TIMESTAMP '2024-01-15 10:00:00' AS ModifiedDateTime
             |FROM nation ORDER BY nation_key""".stripMargin),
      // timed family gate: q_ingest_events (oracle still gates this entry)
      bench = false),

    // P4: the PII shadow table is byte-identical except masked columns.
    "q_ingest_pii" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-ingest-pii")
        val src = writeNationCsv(s, dir, tmp, withExtra = false)
        ingest(s, nationFeed(src, pii = true), tmp, pii = true)
          .piiTarget.get.read().orderBy(col("nation_key"))
      },
      Some("""SELECT n_nationkey AS nation_key, 'xxxxxxx' AS nation_name,
             |  n_regionkey AS region_key, 1 AS BatchId,
             |  DATE '2024-01-15' AS InsertDate,
             |  TIMESTAMP '2024-01-15 10:00:00' AS ModifiedDateTime
             |FROM nation ORDER BY nation_key""".stripMargin),
      // timed family gate: q_ingest_events (oracle still gates this entry)
      bench = false),

    // U3/D5/D6: schema drift — a 4th column appears in the feed, the
    // config evolves (string, next ColumnOrder), target carries it.
    "q_ingest_drift" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-ingest-drift")
        val src = writeNationCsv(s, dir, tmp, withExtra = true)
        ingest(s, nationFeed(src, pii = false), tmp, pii = false)
          .target.read().orderBy(col("nation_key"))
      },
      Some("""SELECT n_nationkey AS nation_key, n_name AS nation_name,
             |  n_regionkey AS region_key,
             |  concat('note-', CAST(n_nationkey AS VARCHAR)) AS extra_note,
             |  1 AS BatchId, DATE '2024-01-15' AS InsertDate,
             |  TIMESTAMP '2024-01-15 10:00:00' AS ModifiedDateTime
             |FROM nation ORDER BY nation_key""".stripMargin),
      // timed family gate: q_ingest_events (oracle still gates this entry)
      bench = false),

    // The drift event also lands in the column-config catalog table.
    "q_ingest_drift_config" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-ingest-driftcfg")
        val src = writeNationCsv(s, dir, tmp, withExtra = true)
        val pipe = ingest(s, nationFeed(src, pii = false), tmp, pii = false)
        pipe.meta.columns.read()
          .select(col("HeaderID"), col("SourceColumnName"),
            col("TargetColumnName"), col("TargetDataType"), col("ColumnOrder"))
          .orderBy(col("ColumnOrder"))
      },
      Some("""SELECT * FROM (VALUES
             |  (1, 'extra_note', 'extra_note', 'string', 4))
             |  t(HeaderID, SourceColumnName, TargetColumnName, TargetDataType, ColumnOrder)
             |ORDER BY ColumnOrder""".stripMargin),
      // timed family gate: q_ingest_events (oracle still gates this entry)
      bench = false),

    // Streaming == batch parity for event-time aggregation: the SAME
    // windowed count/sum (streaming/EventStream.windowedCounts) runs as
    // a REAL Structured-Streaming query (file stream → AvailableNow →
    // complete mode → memory sink) and must equal the oracle's batch
    // recomputation. This is the contract that lets a user move an agg
    // between batch and streaming without re-validating semantics.
    // Stream-static enrichment as a REAL streaming query: the event
    // stream picks up each user's market segment from a broadcast
    // customer dim per micro-batch — the stream never shuffles, there
    // is no join state to grow, and unmatched events pass through
    // null-padded (kept as 'UNKNOWN' here so the aggregate is total).
    // The oracle recomputes the same enrichment as a batch join.
    "q_stream_enrich" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-enr")
        val srcDir = Files.createDirectories(tmp.resolve("src"))
        Files.createSymbolicLink(srcDir.resolve("events.parquet"),
          java.nio.file.Paths.get(s"$dir/events.parquet"))
        val ev = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
          .transform(graft.Tables.normalizeTs(_))
        val dim = graft.Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        val enriched = graft.streaming.EventStream.enrich(ev, dim, "user_id")
        val name = s"stream_e_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = enriched.writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        s.table(name)
          .groupBy(coalesce(col("segment"), lit("UNKNOWN")).as("segment"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
          .orderBy(col("segment"))
      },
      Some("""SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
             |  count(*) AS n, round(sum(e.value), 2) AS total
             |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
             |GROUP BY 1 ORDER BY segment""".stripMargin),
      // timed family gate: q_stream_windows (oracle still gates this entry)
      bench = false),

    // Stream-stream interval join as a REAL streaming query: clicks
    // attributed to purchases by the same user within 10 minutes, both
    // sides file streams, result appended to a memory sink and then
    // aggregated per user bucket. The oracle recomputes the attribution
    // as a batch interval join — the streaming state machinery
    // (watermarks bounding join state on both sides) must produce
    // EXACTLY the batch semantics on a bounded input.
    "q_stream_join" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-join")
        // A stream-stream join allocates TWO state stores per shuffle
        // partition per micro-batch; at the session's 32 partitions the
        // store setup dwarfs the (tiny) join itself. The state
        // partition count is captured when the query STARTS, so the
        // streaming phase runs on its OWN child session with the knob
        // scoped there — the caller's session is never mutated (a
        // process-global conf.set would race any concurrent entry). On
        // a real cluster this knob is sized to state volume, not to
        // the session default.
        val ss = StreamFixtures.childSession(s, 4)
        def src(sub: String) = {
          val d = Files.createDirectories(tmp.resolve(sub))
          Files.createSymbolicLink(d.resolve("events.parquet"),
            java.nio.file.Paths.get(s"$dir/events.parquet"))
          ss.readStream
            .schema(ss.read.parquet(s"$dir/events.parquet").schema)
            .parquet(d.toString)
            .transform(graft.Tables.normalizeTs(_))
        }
        val clicks = src("l").filter(col("event_type") === "click")
        val purchases = src("r").filter(col("event_type") === "purchase")
        val joined = graft.streaming.EventStream.joinWithinHorizon(
          clicks, purchases, keyCol = "user_id", horizon = "10 minutes")
        val name = s"stream_j_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        // the memory sink registers its temp view in the child session;
        // the batch aggregation runs on the caller's session (global
        // temp not needed — read the child's table by DataFrame)
        ss.table(name)
          .groupBy((col("user_id") % 10).as("user_bucket"))
          .agg(count(lit(1)).as("n_attributed"),
            round(sum(col("right_value")), 2).as("attributed_value"))
          .orderBy(col("user_bucket"))
      },
      Some("""SELECT l.user_id % 10 AS user_bucket,
             |  count(*) AS n_attributed,
             |  round(sum(r.value), 2) AS attributed_value
             |FROM events l JOIN events r
             |  ON r.user_id = l.user_id
             | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
             |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
             |GROUP BY 1 ORDER BY user_bucket""".stripMargin),
      // timed family gate: q_stream_windows (oracle still gates this entry)
      bench = false),

    // Streaming exact dedup under redelivery: the SAME events file is
    // exposed to the stream source twice (two symlinks), so every
    // record is delivered twice; dropDuplicatesWithinWatermark on
    // event_id must collapse the double feed back to the original set
    // — the oracle aggregates the ONE-copy batch table, so any leaked
    // duplicate doubles a count and turns the row red. Bounded state:
    // keys are only held within the watermark horizon.
    "q_stream_dedup" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-dedup")
        val srcDir = Files.createDirectories(tmp.resolve("src"))
        Files.createSymbolicLink(srcDir.resolve("events.parquet"),
          java.nio.file.Paths.get(s"$dir/events.parquet"))
        Files.createSymbolicLink(srcDir.resolve("events_again.parquet"),
          java.nio.file.Paths.get(s"$dir/events.parquet"))
        // dedup state stores per shuffle partition: scope the count to
        // the (tiny) state like q_stream_join — on a CHILD session, so
        // the caller's conf is never mutated
        val ss = StreamFixtures.childSession(s, 4)
        val raw = ss.readStream
          .schema(ss.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
        val ev = raw.transform(graft.Tables.normalizeTs(_))
        val deduped = graft.streaming.EventStream.dedupedStream(
          ev, Seq("event_id"), watermarkDelay = "1 minute")
        val name = s"stream_dd_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = deduped.writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        ss.table(name)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  round(sum(value), 2) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      // timed family gate: q_stream_cdc_merge (oracle still gates this entry)
      bench = false),

    // Streaming LSH near-dup: the MinHash signature index lives in the
    // STATE STORE (StreamNearDup) and each micro-batch's documents are
    // checked against the bucket memberships accumulated from every
    // earlier batch. The originals arrive in batch 1 and the planted
    // near-copies in batch 2, so every planted pair is findable ONLY
    // through cross-batch state — a single-batch run would find them
    // within-batch, this split proves the index survives the state
    // store's serialize/restore. Stream candidates are exact-verified
    // batch-side (verifyPairsJaccard), and the oracle is the same
    // exact all-pairs replay as q_neardup_pairs: the streaming index
    // must land on the batch answer bit-for-bit.
    "q_stream_neardup" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-nd")
        val src = Files.createDirectories(tmp.resolve("src"))
        val docs = graft.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = docs.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" trailing")).as("text"))
        // batch 1 (the corpus) 8 files wide, batch 2 (the planted
        // copies) as one later-stamped file — see StreamFixtures
        StreamFixtures.writeBatch(tmp, src, docs, "a",
          parts = 8, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src, planted, "b",
          parts = 1, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 4)
        val raw = StreamFixtures.fileStream(ss, src, 8)
        val name = s"stream_nd_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = graft.streaming.StreamNearDup
          .candidateStream(raw, "doc_id", "text", threshold = 0.5)(ss)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // candidates are tiny; materialize them (verifyPairsJaccard
        // consumes its pair input three times)
        val cands = ss.table(name).distinct().transform(graft.plans.Materialize.stage)
        // stream + candidates materialized; the verify below reads only
        // `dir` — reclaim the fixture
        graft.ingest.FileOps.deleteRecursively(tmp)
        // rebuild the full planted corpus ON THE CHILD SESSION (mixing
        // DataFrames across sessions in one plan is undefined)
        val docsB = graft.Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allB = docsB.unionByName(
          docsB.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text")))
        graft.text.Dedup.verifyPairsJaccard(allB, "doc_id", "text",
            cands, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(streamNeardupOracleSql),
      // timed family gate: q_stream_neardup_hybrid (the zero-state production
      // shape; this unbounded-state baseline stays oracle-gated and probed)
      bench = false),

    // The ZERO-STATE hybrid of q_stream_neardup — weak-mark closure
    // for the unbounded stream index (r10 verdict #1): the bulk band
    // index lives in a ParquetTable STAGE TABLE, not the state store.
    // Each micro-batch signs its documents map-side, bucket-joins the
    // new band rows against the STORED index (new-vs-bulk) and against
    // itself (new-vs-new), appends found candidates to a pairs table,
    // then appends its own band rows to the index — so stream state is
    // EMPTY at every point (no flatMapGroupsWithState anywhere), the
    // index is columnar storage that compacts/buckets like any table,
    // and recall is FULL at any horizon (nothing ever evicts). Per-
    // batch cost is sized by the batch, never the corpus: the bucket
    // equi-join touches only matching (band, bh) keys. The oracle is
    // q_stream_neardup's verbatim — the index representation changes
    // recall MECHANICS only; after the exact batch-side verify both
    // forms must land on the identical all-pairs ≥ 0.5 replay.
    "q_stream_neardup_hybrid" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-ndh")
        val src = Files.createDirectories(tmp.resolve("src"))
        val docs = graft.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = docs.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" trailing")).as("text"))
        StreamFixtures.writeBatch(tmp, src, docs, "a",
          parts = 8, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src, planted, "b",
          parts = 1, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 4)
        // graft.streaming.HybridNearDup: leveled band index and pair
        // log, maintained on the production cadence (every 8 batches —
        // a 2-batch fixture never pays a merge; StreamingSpec pins pair
        // byte-identity across it and the long-run StreamProbe row
        // measures bounded files + flat serve AND flat maintenance)
        val p = graft.streaming.HybridNearDup.create(ss, "ndh", tmp.toString)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 8),
          s"$tmp/ckpt")(p.perBatch(_, _))
        val cands = p.pairs.read().distinct()
          .transform(graft.plans.Materialize.stage)
        graft.ingest.FileOps.deleteRecursively(tmp)
        val docsB = graft.Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allB = docsB.unionByName(
          docsB.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text")))
        graft.text.Dedup.verifyPairsJaccard(allB, "doc_id", "text",
            cands, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(streamNeardupOracleSql)),

    // The TTL'd (recent-window) mode of the streaming near-dup index,
    // ORACLE-GATED: the fixture's duplicate pairs all arrive INSIDE
    // the horizon (originals at event-time t0, planted copies at
    // t0 + 1 h against a 2 h TTL), so the bounded index must land on
    // the SAME exact all-pairs replay as the unbounded form — the TTL
    // changes what is EVENTUALLY evicted, never what is found inside
    // the horizon. Eviction semantics themselves (beyond-horizon
    // bucket drop, deterministic event-time timeout under replay) stay
    // spec-pinned in StreamingSpec; the probe row (stream_neardup_ttl)
    // carries the flat-state evidence at a fixed ingest rate.
    "q_stream_neardup_ttl" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-ndttl")
        val src = Files.createDirectories(tmp.resolve("src"))
        val t0 = 1700000000000L
        def at(ms: Long) = lit(new java.sql.Timestamp(ms)).as("arrival")
        val docs = graft.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = docs.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" trailing")).as("text"))
        StreamFixtures.writeBatch(tmp, src,
          docs.select(col("doc_id"), col("text"), at(t0)), "a",
          parts = 8, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src,
          planted.select(col("doc_id"), col("text"), at(t0 + 3600000L)), "b",
          parts = 1, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 4)
        val raw = StreamFixtures.fileStream(ss, src, 8)
        val name = s"stream_ndttl_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = graft.streaming.StreamNearDup
          .candidateStream(raw, "doc_id", "text", threshold = 0.5,
            stateTtlMs = Some(2L * 3600000L),
            eventTimeCol = Some("arrival"))(ss)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val cands = ss.table(name).distinct()
          .transform(graft.plans.Materialize.stage)
        graft.ingest.FileOps.deleteRecursively(tmp)
        val docsB = graft.Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allB = docsB.unionByName(
          docsB.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text")))
        graft.text.Dedup.verifyPairsJaccard(allB, "doc_id", "text",
            cands, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(streamNeardupOracleSql),
      // timed family gate: q_stream_neardup_hybrid (the TTL mode's
      // scale story is the StreamProbe flat-state row)
      bench = false),

    // TWO-TIER streaming dedup — the TTL window and the stored-index
    // hybrid COMPOSED, which is the actual production shape at 100 TB:
    // a TTL'd in-memory recent window (tier A — bounded state, catches
    // the within-horizon duplicate mass the moment it arrives) plus a
    // stored bulk index for everything older (tier B — zero stream
    // state, full recall at any horizon). The glue is an AGING path:
    // each arriving batch's band rows land in a PENDING stage table
    // (horizon-bounded — rate × TTL rows); when a batch's max event
    // time moves the horizon past a pending row's arrival, the row
    // migrates into the bh-sorted bulk index — EXACTLY ONCE under
    // micro-batch replay: both tables are partitioned by the batch id
    // and every write is an atomic partition overwrite
    // (graft.streaming.TieredIndex), so a crash between the index
    // write and the pending delete can never land an aged row twice.
    // The bulk tier holds exactly what the window has aged out;
    // candidates =
    // tier A ∪ tier B, dedup'd, exact-verified — the SAME all-pairs
    // oracle as every other index representation: the tiering changes
    // WHERE a pair is found (and what state/scan it costs), never the
    // verified answer. Fixture: originals at t0; dups of docs 0-9 at
    // t0+1h (inside the 2h TTL — tier A's cross-batch state finds
    // them); a novel-text sentinel wave at t0+2.5h advances the
    // watermark so t0's buckets EVICT; dups of docs 10-19 at t0+3h —
    // beyond the horizon, found through the aged rows in the bulk
    // index (tier B). Recall is therefore full while tier A's state
    // stays bounded by the horizon (the StreamProbe two-tier row
    // measures exactly that at a fixed ingest rate).
    "q_stream_neardup_twotier" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-ndtt")
        val src = Files.createDirectories(tmp.resolve("src"))
        val t0 = 1700000000000L
        val ttlMs = 2L * 3600000L
        def at(ms: Long) = lit(new java.sql.Timestamp(ms)).as("arrival")
        val docs = graft.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        def dups(lo: Int, hi: Int) =
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text"))
        val sentinels = docs.filter(col("doc_id") < 5).select(
          (col("doc_id") + 900000).as("doc_id"),
          concat(lit("sentinelnovel"), col("doc_id").cast("string"),
            lit(" wholly unique filler tokens "),
            md5(col("doc_id").cast("string"))).as("text"))
        StreamFixtures.writeBatch(tmp, src,
          docs.select(col("doc_id"), col("text"), at(t0)), "a",
          parts = 1, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src,
          dups(0, 10).select(col("doc_id"), col("text"), at(t0 + 3600000L)),
          "b", parts = 1, mtimeMs = 1000000060000L)
        StreamFixtures.writeBatch(tmp, src,
          sentinels.select(col("doc_id"), col("text"), at(t0 + 9000000L)),
          "w", parts = 1, mtimeMs = 1000000120000L)
        StreamFixtures.writeBatch(tmp, src,
          dups(10, 20).select(col("doc_id"), col("text"), at(t0 + 10800000L)),
          "c", parts = 1, mtimeMs = 1000000180000L)
        val ss = StreamFixtures.childSession(s, 4)
        def raw() = StreamFixtures.fileStream(ss, src, 1)
        // tier B (graft.streaming.TwoTierNearDup): pending (band rows
        // still inside the horizon) + bulk index (aged-out rows),
        // glued by TieredIndex's EXACTLY-ONCE aging — a crash anywhere
        // in the age → serve → writePending sequence replays without
        // ever duplicating an index row (StreamingSpec injects the
        // crash in the exact append/delete window and pins this) — and
        // a skip-if-landed pair log
        val tierB = graft.streaming.TwoTierNearDup.create(ss, "ndtt",
          tmp.toString, ttlMs)
        StreamFixtures.runBatches(raw(),
          s"$tmp/ckptB")(tierB.perBatch(_, _))
        // tier A: the TTL'd stateful window over the same arrivals
        val name = s"stream_ndtt_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val qa = graft.streaming.StreamNearDup
          .candidateStream(raw(), "doc_id", "text", threshold = 0.5,
            stateTtlMs = Some(ttlMs), eventTimeCol = Some("arrival"))(ss)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        qa.awaitTermination()
        val cands = ss.table(name)
          .unionByName(tierB.pairs.read())
          .distinct()
          .transform(graft.plans.Materialize.stage)
        graft.ingest.FileOps.deleteRecursively(tmp)
        val docsB = graft.Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allB = docsB.unionByName(
          docsB.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text")))
        graft.text.Dedup.verifyPairsJaccard(allB, "doc_id", "text",
            cands, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(streamNeardupOracleSql),
      // timed family gate: q_stream_neardup_hybrid (tier B is its
      // timed serve shape; tier A's bounded state is the TTL probe
      // row; the two-tier StreamProbe row measures the composition)
      bench = false),

    // Streaming seed-gram containment: the winnowing posting list as
    // STREAM STATE (StreamSeedGram). Same extreme-asymmetry fixture as
    // q_containment_seed (10 docs buried under ~1500 novel pad tokens
    // each), split so the originals arrive in batch 1 and the buried
    // copies in batch 2 — every planted pair is findable only through
    // the posting state restored across the batch boundary. The stream
    // emits one row per shared seed; the batch side aggregates to
    // >= minSeeds and exact-verifies containment with the portable
    // gram hash, so the oracle replays the ENTIRE pipeline — seed
    // selection, min-shared-seeds, exact verify — bit-for-bit against
    // the batch q_containment_seed answer.
    //
    // Batch 1 is EIGHT corpus files consumed in one trigger
    // (maxFilesPerTrigger = 8): with a single coalesce(1) file the
    // whole corpus md5 gram pass ran in ONE task (the r9 bench hog —
    // 13.9 s driver min-of-2); a real deployment's batch is always
    // many files wide, so the 8-way layout is both the faster and the
    // more cluster-faithful shape. The temp fixture is deleted before
    // returning (the verify plan reads only the memory sink + `dir`),
    // so repeated bench attempts don't accumulate corpus copies in
    // /tmp.
    "q_stream_containment" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-sc")
        val src = Files.createDirectories(tmp.resolve("src"))
        val docs = graft.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val pad = array_join(
          transform(sequence(lit(1), lit(1499)),
            i => concat(lit("pady"), i.cast("string"))), " ")
        def buried(d: org.apache.spark.sql.DataFrame) =
          d.filter(col("doc_id") < 10).select(
            (col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" "), pad).as("text"))
        StreamFixtures.writeBatch(tmp, src, docs, "a",
          parts = 8, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src, buried(docs), "b",
          parts = 1, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 8)
        val raw = StreamFixtures.fileStream(ss, src, 8)
        val name = s"stream_sc_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = graft.streaming.StreamSeedGram
          .seedPairStream(raw, "doc_id", "text", w = 3, seedMod = 8,
            maxDf = 1000,
            gramFn = Some(graft.text.Dedup.portableGramHashes(_, 3)))(ss)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // one row per shared seed → the batch candidate rule is a
        // per-pair count; tiny, materialized before the 3-reference
        // verify consumes it
        val cands = ss.table(name)
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 2)
          .select(col("id_a"), col("id_b"))
          .transform(graft.plans.Materialize.stage)
        // stream + candidate set are materialized; nothing downstream
        // reads the fixture — reclaim it now
        graft.ingest.FileOps.deleteRecursively(tmp)
        val docsB = graft.Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allB = docsB.unionByName(buried(docsB))
        graft.text.Dedup.verifyPairsContainment(allB, "doc_id", "text",
            cands, threshold = 0.9, w = 3,
            gramFn = Some(graft.text.Dedup.portableGramHashes(_, 3)))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(streamContainmentOracleSql)),

    // The ZERO-STATE hybrid of q_stream_containment — the
    // q_stream_neardup_hybrid body over the containment family's
    // posting index: seed publications land in a leveled run table,
    // each micro-batch joins its own (batch-broadcast)
    // seed hashes against the STORED postings (new-vs-bulk) and itself
    // (new-vs-new), emits one row per shared seed, and appends its
    // publications — no flatMapGroupsWithState anywhere, state EMPTY
    // at every point, full recall at any horizon, and the stop-gram
    // cap becomes the batch HAVING evaluated against everything landed
    // so far. Same fixture, same recovery (>= 2 shared seeds), same
    // exact verify, same oracle as the stateful form.
    "q_stream_containment_hybrid" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-sch")
        val src = Files.createDirectories(tmp.resolve("src"))
        val docs = graft.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val pad = array_join(
          transform(sequence(lit(1), lit(1499)),
            i => concat(lit("pady"), i.cast("string"))), " ")
        def buried(d: org.apache.spark.sql.DataFrame) =
          d.filter(col("doc_id") < 10).select(
            (col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" "), pad).as("text"))
        StreamFixtures.writeBatch(tmp, src, docs, "a",
          parts = 8, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src, buried(docs), "b",
          parts = 1, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 8)
        // the library body (graft.streaming.HybridNearDup over seed-gram
        // postings): leveled posting index, skip-if-landed pair log
        val p = graft.streaming.HybridNearDup.containment(ss, "sch", tmp.toString)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 8),
          s"$tmp/ckpt")(p.perBatch(_, _))
        val cands = p.pairs.read()
          .groupBy(col("id_a"), col("id_b"))
          // DISTINCT seeds, not rows: idempotent under batch replay
          .agg(countDistinct(col("h")).as("shared"))
          .filter(col("shared") >= 2)
          .select(col("id_a"), col("id_b"))
          .transform(graft.plans.Materialize.stage)
        graft.ingest.FileOps.deleteRecursively(tmp)
        val docsB = graft.Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allB = docsB.unionByName(buried(docsB))
        graft.text.Dedup.verifyPairsContainment(allB, "doc_id", "text",
            cands, threshold = 0.9, w = 3,
            gramFn = Some(graft.text.Dedup.portableGramHashes(_, 3)))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(streamContainmentOracleSql),
      // timed family gate: q_stream_containment (this zero-state form's
      // scale story is probe-measured: 0 state rows, 2x faster at x100)
      bench = false),

    // TWO-TIER streaming containment — the q_stream_neardup_twotier
    // composition applied to the seed-gram posting family: a TTL'd
    // in-memory recent window (tier A — StreamSeedGram.seedPairStreamTtl,
    // bounded state, emits one (pair, h) row per shared seed) plus the
    // stored h-sorted bulk posting index for everything older (tier B —
    // the two-tier library body over seed grams, zero stream state),
    // glued by TieredIndex's
    // EXACTLY-ONCE aging (mig-partitioned atomic overwrites — the same
    // machinery, crash-spec'd once, reused). Candidates = tier A ∪
    // tier B with the min-shared-seeds rule counting DISTINCT seeds
    // across tiers (a pair found through both tiers for the same seed
    // counts it once — also what makes replay idempotent), then the
    // exact containment verify. SAME oracle as the stateful and hybrid
    // forms: tiering changes WHERE a pair is found, never the answer.
    // Fixture: originals at t0; buried copies of docs 0-4 at t0+1h
    // (inside the 2 h TTL — tier A pairs them); a novel sentinel wave
    // at t0+2.5h advances the watermark past t0's postings; buried
    // copies of docs 5-9 at t0+3h — beyond the horizon, found through
    // the postings the aging path moved into the bulk index.
    "q_stream_containment_twotier" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-sctt")
        val src = Files.createDirectories(tmp.resolve("src"))
        val t0 = 1700000000000L
        val ttlMs = 2L * 3600000L
        def at(ms: Long) = lit(new java.sql.Timestamp(ms)).as("arrival")
        val docs = graft.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val pad = array_join(
          transform(sequence(lit(1), lit(1499)),
            i => concat(lit("pady"), i.cast("string"))), " ")
        def buried(d: org.apache.spark.sql.DataFrame, lo: Int, hi: Int) =
          d.filter(col("doc_id") >= lo && col("doc_id") < hi).select(
            (col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" "), pad).as("text"))
        val sentinels = docs.filter(col("doc_id") < 5).select(
          (col("doc_id") + 900000).as("doc_id"),
          concat(lit("sentinelnovel"), col("doc_id").cast("string"),
            lit(" wholly unique filler tokens "),
            md5(col("doc_id").cast("string"))).as("text"))
        StreamFixtures.writeBatch(tmp, src,
          docs.select(col("doc_id"), col("text"), at(t0)), "a",
          parts = 1, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src,
          buried(docs, 0, 5).select(col("doc_id"), col("text"),
            at(t0 + 3600000L)), "b", parts = 1, mtimeMs = 1000000060000L)
        StreamFixtures.writeBatch(tmp, src,
          sentinels.select(col("doc_id"), col("text"), at(t0 + 9000000L)),
          "w", parts = 1, mtimeMs = 1000000120000L)
        StreamFixtures.writeBatch(tmp, src,
          buried(docs, 5, 10).select(col("doc_id"), col("text"),
            at(t0 + 10800000L)), "c", parts = 1, mtimeMs = 1000000180000L)
        val ss = StreamFixtures.childSession(s, 4)
        val gramFn = Some(
          graft.text.Dedup.portableGramHashes(_: org.apache.spark.sql.Column, 3))
        def raw() = StreamFixtures.fileStream(ss, src, 1)
        // tier B (graft.streaming.TwoTierNearDup over seed-gram
        // postings): pending + bulk postings glued by TieredIndex's
        // exactly-once aging, and a skip-if-landed pair log
        val tierB = graft.streaming.TwoTierNearDup.containment(ss, "sctt",
          tmp.toString, ttlMs)
        StreamFixtures.runBatches(raw(),
          s"$tmp/ckptB")(tierB.perBatch(_, _))
        // tier A: the TTL'd stateful posting window over the same
        // arrivals, emitting (pair, h)
        val name = s"stream_sctt_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val qa = graft.streaming.StreamSeedGram
          .seedPairStreamTtl(raw(), "doc_id", "text",
            stateTtlMs = ttlMs, eventTimeCol = "arrival",
            w = 3, seedMod = 8, maxDf = 1000, gramFn = gramFn)(ss)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        qa.awaitTermination()
        val cands = ss.table(name)
          .unionByName(tierB.pairs.read())
          .groupBy(col("id_a"), col("id_b"))
          .agg(countDistinct(col("h")).as("shared"))
          .filter(col("shared") >= 2)
          .select(col("id_a"), col("id_b"))
          .transform(graft.plans.Materialize.stage)
        graft.ingest.FileOps.deleteRecursively(tmp)
        val docsB = graft.Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allB = docsB.unionByName(buried(docsB, 0, 10))
        graft.text.Dedup.verifyPairsContainment(allB, "doc_id", "text",
            cands, threshold = 0.9, w = 3,
            gramFn = Some(graft.text.Dedup.portableGramHashes(_, 3)))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(streamContainmentOracleSql),
      // timed family gate: q_stream_containment (tier B's serve shape
      // is the probe-measured hybrid; tier A's bounded state and the
      // beyond-horizon recovery are the StreamProbe two-tier row)
      bench = false),

    "q_stream_windows" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-win")
        val srcDir = Files.createDirectories(tmp.resolve("src"))
        Files.createSymbolicLink(srcDir.resolve("events.parquet"),
          java.nio.file.Paths.get(s"$dir/events.parquet"))
        // the raw schema feeds the stream source; the schema-aware ts
        // normalization mirrors Tables.load
        val raw = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
        val ev = raw.transform(graft.Tables.normalizeTs(_))
        val name = s"stream_win_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = graft.streaming.EventStream
          .windowedCounts(ev, windowLen = "1 day", watermark = "1 minute")
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        s.table(name)
          .select(col("window_start"), col("event_type"), col("n"),
            round(col("sum_value"), 2).as("sum_value"))
          .orderBy(col("window_start"), col("event_type"))
      },
      Some("""SELECT date_trunc('day', ts) AS window_start, event_type,
             |  count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // WATERMARK late-data semantics, pinned end to end: a three-batch
    // stream where batch 1 carries the NEWEST day (the corpus max,
    // which sets the watermark), batch 2 the on-time remainder of the
    // last three days, and batch 3 the out-of-order stragglers of two
    // kinds — rows from the day before the watermark cutoff (late but
    // WITHIN the 1-day delay: must be aggregated into their still-open
    // window) and rows older than the cutoff (must be DROPPED before
    // aggregation). The three-file layout is forced by a real engine
    // subtlety this entry exists to pin (found against the executed
    // plan's `StateStoreSave … lateEvents, eviction` pair): since the
    // chained-stateful-operator fix, Spark filters late INPUT rows
    // with the PREVIOUS batch's watermark while evicting state with
    // the CURRENT one — so a straggler arriving in the very next batch
    // after the max-setting one is NOT yet dropped; it must arrive one
    // batch later. Update mode + a memory sink collect every per-batch
    // emission; counts are monotone per window, so max() per window is
    // the final answer. The oracle is the batch aggregation over
    // EXACTLY the last three days: if the drop failed, older windows
    // appear (extra rows → red); if the late-accept failed, the middle
    // day's count falls short (hash mismatch → red). This is the
    // 100 TB streaming correctness contract — watermark state eviction
    // is what keeps window state bounded, and this entry is the only
    // place the DROP side of that bargain is oracle-checked rather
    // than assumed.
    "q_stream_late" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-late")
        val src = Files.createDirectories(tmp.resolve("src"))
        val ss = StreamFixtures.childSession(s, 4)
        val ev = graft.Tables.load(ss, dir, "events")
          .select(col("ts"), col("user_id"), col("value"))
        val dmaxDay = ev.agg(date_trunc("day", max(col("ts")))).head()
          .getTimestamp(0)
        def minusDays(t: java.sql.Timestamp, d: Long) =
          java.sql.Timestamp.from(t.toInstant.minus(
            java.time.Duration.ofDays(d)))
        val dm1 = minusDays(dmaxDay, 1) // start of day(max) − 1
        val dm2 = minusDays(dmaxDay, 2) // start of day(max) − 2
        // stragglers: day(max)−1 rows for every 10th user arrive a
        // batch late — inside the 1-day delay once batch 1 has set the
        // watermark to max(ts) − 1 day (< start of their window's end)
        val lateOk = col("ts") >= lit(dm1) && col("ts") < lit(dmaxDay) &&
          pmod(col("user_id"), lit(10L)) === 0
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val stage = tmp.resolve(s"stage_$name")
          df.coalesce(1).write.parquet(stage.toString)
          val part = graft.ingest.FileOps.listDir(stage)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
        }
        // a: the max-setting day; b: on-time remainder of the 3-day
        // tail; c: the stragglers — one benign batch between a and c
        // so a's watermark is the LATE-EVENT filter by the time c lands
        writeOne(ev.filter(col("ts") >= lit(dmaxDay)), "a")
        writeOne(ev.filter(
          col("ts") >= lit(dm2) && col("ts") < lit(dmaxDay) && !lateOk), "b")
        writeOne(ev.filter(col("ts") < lit(dm2) || lateOk), "c")
        Seq("a", "b", "c").zipWithIndex.foreach { case (n, i) =>
          java.nio.file.Files.setLastModifiedTime(src.resolve(s"$n.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(
              1000000000000L + i * 60000L))
        }
        val stream = StreamFixtures.fileStream(ss, src, 1)
        val name = s"stream_late_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = stream
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
          .writeStream.format("memory").queryName(name)
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        ss.table(name)
          .groupBy(col("window.start").as("window_start"))
          .agg(max(col("n")).as("n"), max(col("value_cents")).as("value_cents"))
          .orderBy(col("window_start"))
      },
      Some("""WITH mx AS (
             |  SELECT date_trunc('day', max(ts)) AS dmax FROM events)
             |SELECT date_trunc('day', ts) AS window_start,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |    AS value_cents
             |FROM events, mx
             |WHERE ts >= dmax - INTERVAL 2 DAY
             |GROUP BY 1
             |ORDER BY 1""".stripMargin),
      // timed family gate: q_stream_session_window (oracle still gates this entry)
      bench = false),

    // ENGINE-managed session state on a stream: the native
    // session_window aggregation over four micro-batches — the state
    // store must merge overlapping per-batch sessions itself (the
    // machinery q_stream_sessionize hand-rolls), and complete mode
    // emits the final merged sessions without sentinel files. The
    // oracle is the SAME gap-islands replay as the batch
    // q_session_window, so streaming merge state must land exactly
    // where one batch pass does.
    "q_stream_session_window" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-sw")
        val srcDir = tmp.resolve("src").toString
        val ss = StreamFixtures.childSession(s, 4)
        ss.read.parquet(s"$dir/events.parquet").repartition(4)
          .write.parquet(srcDir)
        val ev = ss.readStream
          .schema(ss.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .transform(graft.Tables.normalizeTs(_))
        val name = s"stream_sw_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = ev
          .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("sw"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("tv"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        ss.table(name)
          .select(col("user_id"),
            col("sw.start").as("session_start"),
            col("sw.end").as("session_end"),
            col("n_events"), round(col("tv"), 2).as("total_value"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 21600000000
             |         THEN 1 ELSE 0 END AS ns
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |numbered AS (
             |  SELECT user_id, ts, value,
             |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM g)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 6 HOUR AS session_end,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  round(sum(value), 2) AS total_value
             |FROM numbered GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // Custom STATE inside Structured Streaming: the
    // flatMapGroupsWithState gap-sessionizer, driven as a real file
    // stream and required to reproduce BATCH gap-islands semantics
    // exactly on a bounded input. Three micro-batches: all real events
    // (every user's history lands sorted in one state pass), then two
    // sentinel files whose event times push the watermark past every
    // open session's last+gap — event-time timeouts fire only on the
    // batch AFTER the watermark moves, so closing the per-user final
    // sessions needs two advancing batches, which is exactly the
    // machinery under test (lost state, a missed timeout or a
    // session interval that drifts shows up against the oracle's
    // windowed replay). Sentinel users are negative ids, filtered out.
    "q_stream_sessionize" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-sess")
        val src = Files.createDirectories(tmp.resolve("src"))
        val ss = StreamFixtures.childSession(s, 4)
        import ss.implicits._
        val gapMs = 12 * 3600 * 1000L
        val ev = graft.Tables.load(ss, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        def sentinel(uid: Long, t: java.sql.Timestamp) =
          Seq((uid, t, "sentinel", 0.0))
            .toDF("user_id", "ts", "event_type", "value")
            .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
              col("event_type"), col("value"))
        val s1 = new java.sql.Timestamp(maxTs.getTime + gapMs + 2 * 3600 * 1000L)
        val s2 = new java.sql.Timestamp(s1.getTime + gapMs + 2 * 3600 * 1000L)
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val stage = tmp.resolve(s"stage_$name")
          df.coalesce(1).write.parquet(stage.toString)
          val part = graft.ingest.FileOps.listDir(stage)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
        }
        writeOne(ev, "a")
        writeOne(sentinel(-1L, s1), "b")
        writeOne(sentinel(-2L, s2), "c")
        // strictly increasing mtimes pin the batch order a → b → c
        Seq("a", "b", "c").zipWithIndex.foreach { case (n, i) =>
          java.nio.file.Files.setLastModifiedTime(src.resolve(s"$n.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
        val stream = StreamFixtures.fileStream(ss, src, 1)
          .as[graft.streaming.EventStream.Event]
        val name = s"stream_se_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = graft.streaming.EventStream
          .sessionize(stream, gapMs = gapMs, watermarkDelay = "1 hour")(ss)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        ss.table(name)
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("start").as("session_start"),
            col("end").as("session_end"), col("n_events").cast("long").as("n_events"),
            round(col("total_value"), 2).as("total_value"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000
             |         THEN 1 ELSE 0 END AS ns
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |numbered AS (
             |  SELECT user_id, ts, value,
             |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
             |      AS session_id
             |  FROM g)
             |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  round(sum(value), 2) AS total_value
             |FROM numbered GROUP BY user_id, session_id
             |ORDER BY user_id, session_start""".stripMargin),
      // timed family gate: q_stream_session_window (oracle still gates this entry)
      bench = false),

    // Custom aggregate INSIDE Structured Streaming: the top-k
    // TypedImperativeAggregate runs as a streaming windowed
    // aggregation, so its buffer must survive the state store's
    // serialize/restore across micro-batches — a contract nothing in
    // the batch path exercises. Top-3 events by value per day per
    // event type; the oracle replays the same ranking in batch, so a
    // buffer lost or corrupted between micro-batches turns the row
    // red. (Child session scopes the state-store partition count,
    // like the other streaming entries.)
    "q_stream_topk" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-topk")
        val srcDir = tmp.resolve("src").toString
        val ss = StreamFixtures.childSession(s, 4)
        // four source files + maxFilesPerTrigger=1 → four micro-batches:
        // the state store must serialize/restore the topk buffers
        // BETWEEN batches, which a single-file source never exercises
        ss.read.parquet(s"$dir/events.parquet").repartition(4)
          .write.parquet(srcDir)
        val ev = ss.readStream
          .schema(ss.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .transform(graft.Tables.normalizeTs(_))
        val name = s"stream_tk_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = ev
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(call_function("graft_topk",
            round(col("value") * 100).cast("long"), col("event_id"), lit(3))
            .as("top"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        ss.table(name)
          .select(col("w.start").as("window_start"), col("event_type"),
            posexplode(col("top")))
          .select(col("window_start"), col("event_type"),
            (col("pos") + 1).cast("long").as("rk"),
            col("col.score").as("score_cents"),
            col("col.payload").as("event_id"))
          .orderBy(col("window_start"), col("event_type"), col("rk"))
      },
      Some("""SELECT window_start, event_type, rk, score_cents, event_id
             |FROM (
             |  SELECT date_trunc('day', ts) AS window_start, event_type,
             |    CAST(round(value * 100) AS BIGINT) AS score_cents, event_id,
             |    CAST(row_number() OVER (
             |      PARTITION BY date_trunc('day', ts), event_type
             |      ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id)
             |      AS BIGINT) AS rk
             |  FROM events)
             |WHERE rk <= 3
             |ORDER BY window_start, event_type, rk""".stripMargin),
      // timed family gate: q_stream_windows (oracle still gates this entry)
      bench = false),

    // Sequential-pattern matching ON A STREAM (the CEP /
    // MATCH_RECOGNIZE shape Spark lacks): the per-user funnel stage
    // machine runs as flatMapGroupsWithState across two chronological
    // micro-batches (event_id is event-time-monotone in this corpus,
    // asserted against all three SFs), so cross-batch conversions —
    // view in batch 1, click in batch 2 — are only found through
    // RESTORED state. One StageHit is emitted per advance; the stage
    // counts must equal the batch q_funnel's exactly (SAME oracle
    // string — AnalyticsQueries.funnelOracle — so the two entries can
    // never drift onto different conversion semantics).
    "q_stream_funnel" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-funnel")
        val src = Files.createDirectories(tmp.resolve("src"))
        val ss = StreamFixtures.childSession(s, 4)
        val ev = graft.Tables.load(ss, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value"))
        val nEvents = ev.agg(count(lit(1))).head().getLong(0)
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val stage = tmp.resolve(s"stage_$name")
          df.coalesce(1).write.parquet(stage.toString)
          val part = graft.ingest.FileOps.listDir(stage)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
        }
        val half = nEvents / 2
        // The funnel's batch equivalence rests on micro-batches arriving
        // in per-user event-time order, which this split realizes via
        // event_id being event-time-monotone — ENFORCE that instead of
        // assuming it (a fixture violating it would silently change
        // conversion counts): every batch-1 timestamp must precede every
        // batch-2 timestamp.
        val bounds = ev.agg(
          max(when(col("event_id") < half, col("ts"))).as("max_a"),
          min(when(col("event_id") >= half, col("ts"))).as("min_b")).head()
        require(!bounds.isNullAt(0) && !bounds.isNullAt(1) &&
          !bounds.getTimestamp(0).after(bounds.getTimestamp(1)),
          s"q_stream_funnel fixture violated event-time monotonicity: " +
            s"max(ts) of batch 1 = ${bounds.get(0)} > min(ts) of batch 2 = ${bounds.get(1)}")
        writeOne(ev.filter(col("event_id") < half).drop("event_id"), "a")
        writeOne(ev.filter(col("event_id") >= half).drop("event_id"), "b")
        Seq("a", "b").zipWithIndex.foreach { case (n, i) =>
          java.nio.file.Files.setLastModifiedTime(src.resolve(s"$n.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(
              1000000000000L + i * 60000L))
        }
        import ss.implicits._
        val stream = StreamFixtures.fileStream(ss, src, 1)
          .as[graft.streaming.EventStream.Event]
        val name = s"stream_fn_${tmp.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val q = graft.streaming.EventStream
          .funnel(stream, Seq("view", "click", "purchase"),
            windowMs = 24 * 3600 * 1000L)(ss)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // stream result lives in the memory sink; the fixture dir is
        // dead weight from here — reclaim it (bench attempts repeat)
        graft.ingest.FileOps.deleteRecursively(tmp)
        ss.table(name)
          .groupBy(col("stage")).agg(count(lit(1)).as("users"))
          .select(col("stage").cast("int").as("stage"),
            when(col("stage") === 1, "view")
              .when(col("stage") === 2, "view>click")
              .otherwise("view>click>purchase").as("name"),
            col("users"))
          .orderBy(col("stage"))
      },
      Some(AnalyticsQueries.funnelOracle),
      // timed family gate: q_funnel (oracle still gates this entry)
      bench = false),

    // CDC landing as a REAL stream: three change batches (initial
    // load, then two update/insert waves) drive the exactly-once
    // foreachBatch MERGE sink (graft.streaming.UpsertSink — the
    // txn-marker-in-commit pattern). The oracle replays last-writer-
    // wins per key across the batch sequence, so lost updates, missed
    // inserts, or a double-applied batch all turn the row red. After
    // the stream completes, batch 0 is RE-DELIVERED by hand through
    // the sink — the committed-batch marker must make it a no-op, so
    // idempotence is part of the oracle-checked answer, not just the
    // StreamingSpec failure-injection coverage. Scale shape: per
    // micro-batch one MERGE against the target (partition-scoped when
    // keys cover the partition columns — spec-gated route); sink state
    // is one integer per (table, epoch).
    "q_stream_cdc_merge" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-stream-cdc")
        val src = Files.createDirectories(tmp.resolve("src"))
        val sup = Tables.load(s, dir, "supplier")
        def wave(pred: org.apache.spark.sql.Column, delta: Double) =
          sup.filter(pred).select(col("s_suppkey"),
            (col("s_acctbal") + delta).as("bal"))
        val w0 = wave(col("s_suppkey") % 2 === 0, 0.0)
        StreamFixtures.writeBatch(tmp, src, w0, "a", 1, 1000000000000L)
        StreamFixtures.writeBatch(tmp, src,
          wave(col("s_suppkey") % 3 === 0, 100.0), "b", 1, 1000000060000L)
        StreamFixtures.writeBatch(tmp, src,
          wave(col("s_suppkey") % 5 === 0, 1000.0), "c", 1, 1000000120000L)
        val ss = StreamFixtures.childSession(s, 4)
        val schema = ss.read.parquet(src.toString).schema
        val table = graft.catalog.ParquetTable(
          ss, "cdc_target", tmp.resolve("target").toString, schema)
        val ckpt = tmp.resolve("ckpt").toString
        val sink = new graft.streaming.UpsertSink(table, Seq("s_suppkey"),
          Map("bal" -> graft.catalog.Merge.src("bal")), ckpt)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 1), ckpt)(sink.apply _)
        // redeliver batch 0: the marker makes this a committed no-op —
        // if it re-applied, every %2 key's bal would regress to wave-0
        sink.apply(ss.read.parquet(s"$src/a_0.parquet"), 0L)
        table.read()
          .select(col("s_suppkey"), round(col("bal"), 2).as("bal"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey,
             |  round(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 1000.0
             |             WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100.0
             |             ELSE s_acctbal END, 2) AS bal
             |FROM supplier
             |WHERE s_suppkey % 2 = 0 OR s_suppkey % 3 = 0
             |   OR s_suppkey % 5 = 0
             |ORDER BY s_suppkey""".stripMargin)),

    // S1 at scale: one-shot parquet ingest of the whole events table —
    // the throughput-relevant ingest bench (streaming scan → project →
    // sink, no shuffle).
    "q_ingest_events" -> Q(
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-ingest-ev")
        // The file-stream source wants a directory: expose the events
        // parquet file through a symlinked source dir (no data copy).
        val srcDir = Files.createDirectories(tmp.resolve("src"))
        Files.createSymbolicLink(srcDir.resolve("events.parquet"),
          java.nio.file.Paths.get(s"$dir/events.parquet"))
        val feed = Feed(
          HeaderID = 2, SourceContainer = "local",
          SourceFilePath = srcDir.toString,
          SourceFileFormat = "parquet", SourceFileHeader = 0,
          SourceFileDelimiter = "",
          TargetTableSchema = "analytics", TargetTableName = "events_ingested",
          Columns = Seq(
            ColumnSpec("event_id", "event_id", "bigint", 1),
            ColumnSpec("ts", "event_ts_nanos", "bigint", 2),
            ColumnSpec("user_id", "user_id", "bigint", 3),
            ColumnSpec("event_type", "event_type", "string", 4),
            ColumnSpec("value", "value", "double", 5),
            ColumnSpec("props", "props", "string", 6)))
        val pipe = ingest(s, feed, tmp, pii = false)
        pipe.target.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("sum_value"),
               max(col("BatchId")).as("max_batch"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  round(sum(value), 2) AS sum_value, 1 AS max_batch
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))
  )
}
