package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{ceil, coalesce, col, count, greatest, hash, lit, max, pmod, raise_error, session_window, when}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}

/** Structured-Streaming semantics: watermarked windowed aggregation on
  * a real stream (memory source → memory sink) and gap sessionization
  * state across micro-batches. */
class StreamingSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked windowed counts emit closed windows on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(
      input.toDF(), windowLen = "5 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      input.addData(
        Event(1, ts("2024-03-01 10:01:00"), "click", 1.0),
        Event(2, ts("2024-03-01 10:02:00"), "click", 2.0),
        Event(1, ts("2024-03-01 10:06:00"), "view", 3.0))
      q.processAllAvailable()
      // advance event time far enough to close the first windows
      input.addData(Event(3, ts("2024-03-01 10:30:00"), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("window_start", "event_type", "n", "sum_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("2024-03-01 10:00:00.0", "click", 2L, 3.0)))
      assert(rows.contains(("2024-03-01 10:05:00.0", "view", 1L, 3.0)))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("sessionization state carries across micro-batches, closes on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 session A starts
      input.addData(
        Event(1, ts("2024-03-01 09:00:00"), "click", 1.0),
        Event(1, ts("2024-03-01 09:05:00"), "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // still open
      // batch 2: >10 min gap → session A closes, session B opens
      input.addData(Event(1, ts("2024-03-01 10:00:00"), "click", 5.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[Session].collect()
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0)
      assert(s.start == ts("2024-03-01 09:00:00") && s.end == ts("2024-03-01 09:05:00"))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("funnel machine: cross-batch conversion, window expiry, no second funnel") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.funnel(input.toDS(),
      Seq("view", "click", "purchase"), windowMs = 60 * 60 * 1000L)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 views (stage 1); user 2 views
      input.addData(
        Event(1, ts("2024-03-01 09:00:00"), "view", 1.0),
        Event(2, ts("2024-03-01 09:00:00"), "view", 1.0))
      q.processAllAvailable()
      // batch 2: user 1 converts via RESTORED state (click+purchase in
      // window); user 2's click is past the 1 h window — no stage 2
      input.addData(
        Event(1, ts("2024-03-01 09:30:00"), "click", 1.0),
        Event(1, ts("2024-03-01 09:45:00"), "purchase", 1.0),
        Event(2, ts("2024-03-01 11:00:00"), "click", 1.0))
      q.processAllAvailable()
      // batch 3: user 1 is COMPLETE — a fresh view must not start a
      // second funnel (would double-count stage hits)
      input.addData(
        Event(1, ts("2024-03-01 12:00:00"), "view", 1.0),
        Event(1, ts("2024-03-01 12:10:00"), "click", 1.0))
      q.processAllAvailable()
      val hits = spark.table("funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
      assert(hits == Seq((1L, 1), (1L, 2), (1L, 3), (2L, 1)), hits.toString)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("idle user's session is closed when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(),
      gapMs = 5 * 60 * 1000L, watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("sess_timeout")
      .outputMode("append").start()
    try {
      input.addData(Event(7, ts("2024-03-01 09:00:00"), "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_timeout").count() == 0) // open, state held
      // user 8's 09:20 event advances the watermark to 09:19, past
      // user 7's timeout (09:00 + 5 min) → next batch fires the timeout
      input.addData(Event(8, ts("2024-03-01 09:20:00"), "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(8, ts("2024-03-01 09:21:00"), "click", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_timeout").as[Session].collect()
        .filter(_.user_id == 7L)
      assert(closed.length == 1 && closed.head.n_events == 1
        && closed.head.total_value == 2.0)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("late-but-in-watermark event extends the session backwards, never shrinks it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(),
      gapMs = 30 * 60 * 1000L, watermarkDelay = "20 minutes")
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts("2024-03-01 10:00:00"), "click", 1.0))
      q.processAllAvailable() // watermark → 09:40
      // 09:55 is BEFORE the restored state's last=10:00 but inside the
      // watermark: it must extend the session's start, not drag last
      // backwards (which could wrongly split the next event)
      input.addData(Event(1, ts("2024-03-01 09:55:00"), "click", 2.0))
      q.processAllAvailable()
      // 11:00 is >30 min past last=10:00 → closes the session
      input.addData(Event(1, ts("2024-03-01 11:00:00"), "click", 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_late").as[Session].collect()
      assert(sessions.length == 1, sessions.toSeq)
      val s = sessions.head
      assert(s.start == ts("2024-03-01 09:55:00"), s)
      assert(s.end == ts("2024-03-01 10:00:00"), s)
      assert(s.n_events == 2 && s.total_value == 3.0, s)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("straggler older than start minus gap closes as its own session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(),
      gapMs = 5 * 60 * 1000L, watermarkDelay = "60 minutes")
      .writeStream.format("memory").queryName("sess_stray")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts("2024-03-01 10:00:00"), "click", 1.0))
      q.processAllAvailable()
      // 09:40 is 20 min before the open session's start with a 5 min
      // gap: merging it would bridge a silence wider than the gap, so
      // it must close as its own single-event session
      input.addData(Event(1, ts("2024-03-01 09:40:00"), "click", 2.0))
      q.processAllAvailable()
      val strays = spark.table("sess_stray").as[Session].collect()
      assert(strays.length == 1, strays.toSeq)
      assert(strays.head.start == ts("2024-03-01 09:40:00")
        && strays.head.end == ts("2024-03-01 09:40:00")
        && strays.head.n_events == 1, strays.head)
      // and the open session was untouched: a far-future event closes it
      input.addData(Event(1, ts("2024-03-01 11:00:00"), "click", 4.0))
      q.processAllAvailable()
      val all = spark.table("sess_stray").as[Session].collect()
        .sortBy(_.start.getTime)
      assert(all.length == 2, all.toSeq)
      assert(all(1).start == ts("2024-03-01 10:00:00")
        && all(1).n_events == 1 && all(1).total_value == 1.0, all(1))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.dedupedStream(input.toDF(),
      keyCols = Seq("user_id", "event_type"), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-03-01 10:00:00"), "click", 1.0),
        Event(1, ts("2024-03-01 10:00:30"), "click", 1.0), // same-batch dup
        Event(2, ts("2024-03-01 10:01:00"), "view", 2.0))
      q.processAllAvailable()
      // next batch: (1, click) again inside the horizon → dropped;
      // (2, click) is a new key → kept
      input.addData(
        Event(1, ts("2024-03-01 10:02:00"), "click", 9.0),
        Event(2, ts("2024-03-01 10:03:00"), "click", 3.0))
      q.processAllAvailable()
      val keys = spark.table("dedup_out")
        .collect().map(r => (r.getLong(r.fieldIndex("user_id")),
          r.getString(r.fieldIndex("event_type")))).toSeq
      assert(keys.sorted == Seq((1L, "click"), (2L, "click"), (2L, "view")))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("stream-static enrich: broadcast dim lookup, unmatched events flow through") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = EventStream.enrich(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      input.addData(
        Event(1, ts("2024-03-01 10:01:00"), "click", 1.0),
        Event(9, ts("2024-03-01 10:02:00"), "view", 2.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .select("user_id", "event_type", "tier")
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)))).toSet
      assert(rows === Set((1L, "click", Some("gold")),
        (9L, "view", None)))
      // plan: the dim side is a broadcast hash lookup — the stream
      // itself must not shuffle for the join (batch twin, same plan)
      val bplan = EventStream.enrich(
        Seq(Event(1, ts("2024-03-01 10:01:00"), "c", 1.0)).toDF(), dim,
        "user_id").queryExecution.executedPlan.toString
      assert(bplan.contains("BroadcastHashJoin"), bplan)
      assert(!bplan.contains("Exchange hashpartitioning"), bplan)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("left-outer interval join emits unmatched clicks after the watermark proves no match") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val convs = MemoryStream[Event]
    val q = EventStream.leftJoinWithinHorizon(
      clicks.toDF(), convs.toDF(),
      horizon = "10 minutes", watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("louter_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      clicks.addData(
        Event(1, ts("2024-03-01 10:00:00"), "click", 1.0),  // will match
        Event(2, ts("2024-03-01 10:00:00"), "click", 1.0))  // never matches
      convs.addData(Event(1, ts("2024-03-01 10:05:00"), "conv", 9.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past click+horizon+delay so the
      // engine can prove user 2 has no conversion coming
      clicks.addData(Event(9, ts("2024-03-01 11:00:00"), "click", 0.0))
      convs.addData(Event(9, ts("2024-03-01 11:00:00"), "conv", 0.0))
      q.processAllAvailable()
      clicks.addData(Event(9, ts("2024-03-01 11:30:00"), "click", 0.0))
      convs.addData(Event(9, ts("2024-03-01 11:30:00"), "conv", 0.0))
      q.processAllAvailable()
      val rows = spark.table("louter_out")
        .collect().map(r => (r.getLong(0), Option(r.getString(4)))).toSet
      assert(rows.contains((1L, Some("conv"))), rows)   // matched pair
      assert(rows.contains((2L, None)), rows)           // null-padded
    } finally { q.stop(); q.awaitTermination() }
  }

  test("native session_window aggregates on a stream: session closes past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = input.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"),
        session_window(col("ts"), "10 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("start"), col("n"))
      .writeStream.format("memory").queryName("sess_win_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      input.addData(
        Event(1, ts("2024-03-01 10:00:00"), "click", 1.0),
        Event(1, ts("2024-03-01 10:05:00"), "view", 1.0), // merges: gap < 10m
        Event(2, ts("2024-03-01 10:00:00"), "click", 1.0))
      q.processAllAvailable()
      // event time far past the sessions' end + watermark → emit
      input.addData(Event(3, ts("2024-03-01 12:00:00"), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_win_out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
      assert(rows.contains((1L, "2024-03-01 10:00:00.0", 2L)), rows) // merged session
      assert(rows.contains((2L, "2024-03-01 10:00:00.0", 1L)), rows)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("exactly-once upsert sink: merges batches, redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("upsert-sink")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val table = graft.catalog.ParquetTable(spark, "upsert_t", s"$root/table", schema)
    val sink = new graft.streaming.UpsertSink(table, Seq("k"),
      Map("v" -> graft.catalog.Merge.src("v")), s"$root/ckpt")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("k", "v")
      .writeStream.foreachBatch(sink.apply _)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      input.addData((2L, "B"), (3L, "c")); q.processAllAvailable()
      def state() = table.read().collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state() === Map(1L -> "a", 2L -> "B", 3L -> "c"))
      val committed = sink.lastCommitted
      assert(committed >= 1L)
      // redeliver an old batch (the at-least-once case): must be a no-op
      sink.apply(Seq((2L, "ZZZ")).toDF("k", "v"), batchId = 0L)
      assert(state() === Map(1L -> "a", 2L -> "B", 3L -> "c"))
      assert(sink.lastCommitted === committed)
      // the marker lives INSIDE the table dir — published by the same
      // rename as the merged data, so data and marker cannot diverge
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/table/_graft_txn")))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("partitioned sink with keys NOT covering partitions falls back to whole-table merge") {
    // key k can move between days: partition-scoped merging would
    // insert a duplicate k in the new day instead of updating the old
    // row — the sink must detect the uncovered partition column and
    // take the whole-table path (still exactly-once via root marker)
    val root = java.nio.file.Files.createTempDirectory("upsert-part-fb")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("InsertDate",
        org.apache.spark.sql.types.StringType)))
    val table = graft.catalog.ParquetTable(spark, "upsert_fb", s"$root/table",
      schema, partitionCols = Seq("InsertDate"))
    val sink = new graft.streaming.UpsertSink(table, Seq("k"),
      Map("v" -> (graft.catalog.Merge.tgt("v") + graft.catalog.Merge.src("v")),
        "InsertDate" -> graft.catalog.Merge.src("InsertDate")),
      s"$root/ckpt")
    sink.apply(Seq((1L, 1.0, "2024-01-01")).toDF("k", "v", "InsertDate"), 0L)
    // same key arrives on a LATER day: must update (and migrate) the
    // day1 row, not insert a second k=1
    sink.apply(Seq((1L, 10.0, "2024-01-02")).toDF("k", "v", "InsertDate"), 1L)
    val rows = table.read().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(rows.toSeq === Seq((1L, 11.0, "2024-01-02")), rows.toSeq)
    // redelivery of batch 1 is a no-op (root-marker exactly-once)
    sink.apply(Seq((1L, 10.0, "2024-01-02")).toDF("k", "v", "InsertDate"), 1L)
    assert(table.read().collect().map(_.getDouble(1)).toSeq === Seq(11.0))
    assert(sink.lastCommitted === 1L)
  }

  test("partitioned upsert sink: additive CDC merges are exactly-once per partition") {
    val root = java.nio.file.Files.createTempDirectory("upsert-part")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("InsertDate",
        org.apache.spark.sql.types.StringType)))
    val table = graft.catalog.ParquetTable(spark, "upsert_p", s"$root/table",
      schema, partitionCols = Seq("InsertDate"))
    // ADDITIVE update — the non-idempotent case a naive redelivery
    // would double-apply. Keys COVER the partition column, so the sink
    // routes to partition-scoped merges (the semantics-preserving case).
    val sink = new graft.streaming.UpsertSink(table, Seq("k", "InsertDate"),
      Map("v" -> (graft.catalog.Merge.tgt("v") + graft.catalog.Merge.src("v"))),
      s"$root/ckpt")
    def state() = table.read().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    sink.apply(Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-02"))
      .toDF("k", "v", "InsertDate"), 0L)
    sink.apply(Seq((1L, 10.0, "2024-01-01"), (2L, 10.0, "2024-01-02"))
      .toDF("k", "v", "InsertDate"), 1L)
    assert(state() === Set((1L, 11.0, "2024-01-01"), (2L, 12.0, "2024-01-02")))
    // full redelivery of batch 1: every touched partition carries the
    // marker → no partition re-applies the addition
    sink.apply(Seq((1L, 10.0, "2024-01-01"), (2L, 10.0, "2024-01-02"))
      .toDF("k", "v", "InsertDate"), 1L)
    assert(state() === Set((1L, 11.0, "2024-01-01"), (2L, 12.0, "2024-01-02")))
    // partial-crash redelivery: batch 2 reached day 1 but "crashed"
    // before day 2; the redelivered batch skips day 1, applies day 2
    sink.apply(Seq((1L, 100.0, "2024-01-01")).toDF("k", "v", "InsertDate"), 2L)
    sink.apply(Seq((1L, 100.0, "2024-01-01"), (2L, 100.0, "2024-01-02"))
      .toDF("k", "v", "InsertDate"), 2L)
    assert(state() === Set((1L, 111.0, "2024-01-01"), (2L, 112.0, "2024-01-02")))
    // the marker lives INSIDE each partition dir — same rename as the data
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$root/table/InsertDate=2024-01-01/_graft_txn")))
    // lastCommitted aggregates the per-partition markers (there is no
    // root marker on this path)
    assert(sink.lastCommitted === 2L)
    // a WHOLE-TABLE rewrite between batches (routine OPTIMIZE) must not
    // reset the per-partition dedup state: markers ride the swap...
    table.compact()
    assert(table.lastTxnInPartition(Seq("InsertDate" -> "2024-01-01"), sinkEpoch(root)).isDefined)
    // ...so a redelivery after the compaction still applies nothing
    sink.apply(Seq((1L, 100.0, "2024-01-01"), (2L, 100.0, "2024-01-02"))
      .toDF("k", "v", "InsertDate"), 2L)
    assert(state() === Set((1L, 111.0, "2024-01-01"), (2L, 112.0, "2024-01-02")))
  }

  test("sink keyed on exactly the partition columns takes the whole-table route") {
    // daily-rollup shape: one row per InsertDate, keys = the partition
    // column alone. Partition-scoped merging would have NO residual key
    // to match on — the sink must fall back to the whole-table route
    // (which handles it fine) instead of failing every batch.
    val root = java.nio.file.Files.createTempDirectory("upsert-pkeys")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("InsertDate",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType)))
    val table = graft.catalog.ParquetTable(spark, "upsert_pk", s"$root/table",
      schema, partitionCols = Seq("InsertDate"))
    val sink = new graft.streaming.UpsertSink(table, Seq("InsertDate"),
      Map("cnt" -> (graft.catalog.Merge.tgt("cnt") + graft.catalog.Merge.src("cnt"))),
      s"$root/ckpt")
    def state() = table.read().select("InsertDate", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sink.apply(Seq(("2024-01-01", 5L)).toDF("InsertDate", "cnt"), 0L)
    sink.apply(Seq(("2024-01-01", 3L), ("2024-01-02", 1L))
      .toDF("InsertDate", "cnt"), 1L)
    assert(state() === Map("2024-01-01" -> 8L, "2024-01-02" -> 1L))
    // additive update + redelivery: exactly-once via the root marker
    sink.apply(Seq(("2024-01-01", 3L), ("2024-01-02", 1L))
      .toDF("InsertDate", "cnt"), 1L)
    assert(state() === Map("2024-01-01" -> 8L, "2024-01-02" -> 1L))
  }

  test("root marker from a pre-routing-change commit still dedups on the scoped route") {
    // a sink redeployed across a keys change (whole-table → partition-
    // scoped) redelivers its in-flight batch carrying only the ROOT
    // marker; the scoped route must consult it and skip
    val root = java.nio.file.Files.createTempDirectory("upsert-transition")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("InsertDate",
        org.apache.spark.sql.types.StringType)))
    val table = graft.catalog.ParquetTable(spark, "upsert_tr", s"$root/table",
      schema, partitionCols = Seq("InsertDate"))
    val add = Map("v" -> (graft.catalog.Merge.tgt("v") + graft.catalog.Merge.src("v")),
      "InsertDate" -> graft.catalog.Merge.src("InsertDate"))
    // keys don't cover the partition column → whole-table route, root marker
    val before = new graft.streaming.UpsertSink(table, Seq("k"), add, s"$root/ckpt")
    before.apply(Seq((1L, 1.0, "2024-01-01")).toDF("k", "v", "InsertDate"), 0L)
    // redeploy with partition-covering keys → scoped route; batch 0
    // redelivered (same epoch — the checkpoint was NOT reset)
    val after = new graft.streaming.UpsertSink(table, Seq("k", "InsertDate"),
      Map("v" -> (graft.catalog.Merge.tgt("v") + graft.catalog.Merge.src("v"))),
      s"$root/ckpt")
    after.apply(Seq((1L, 1.0, "2024-01-01")).toDF("k", "v", "InsertDate"), 0L)
    // the non-idempotent addition must NOT re-apply
    assert(table.read().collect().map(_.getDouble(1)).toSeq === Seq(1.0))
    // a genuinely new batch still lands
    after.apply(Seq((1L, 10.0, "2024-01-01")).toDF("k", "v", "InsertDate"), 1L)
    assert(table.read().collect().map(_.getDouble(1)).toSeq === Seq(11.0))
  }

  /** The sink's epoch id, read the same way the sink reads it. */
  private def sinkEpoch(root: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(
      root.resolve("ckpt/graft_epoch")), "UTF-8").trim

  test("injected mid-batch failure on the partition-scoped route reconciles exactly-once") {
    // The high-water-mark doc (UpsertSink: a crash mid-batch leaves the
    // marker in exactly the partitions already merged; redelivery skips
    // those) — proven with a REAL thrown failure, not a pre-shaped
    // partial batch: a poisoned merge expression kills the batch while
    // the per-partition loop is mid-flight, then a clean sink
    // redelivers the same batch id. The additive update is
    // non-idempotent, so any partition applied twice (or a torn swap)
    // shows up in the final values.
    val root = java.nio.file.Files.createTempDirectory("upsert-kill")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("InsertDate",
        org.apache.spark.sql.types.StringType)))
    val table = graft.catalog.ParquetTable(spark, "upsert_kill", s"$root/table",
      schema, partitionCols = Seq("InsertDate"))
    val add = Map("v" ->
      (graft.catalog.Merge.tgt("v") + graft.catalog.Merge.src("v")))
    val clean = new graft.streaming.UpsertSink(table, Seq("k", "InsertDate"),
      add, s"$root/ckpt")
    // batch 0 seeds three partitions (all keys matched from batch 1 on)
    val seed = Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-02"),
      (3L, 3.0, "2024-01-03"))
    clean.apply(seed.toDF("k", "v", "InsertDate"), 0L)
    // poisoned sink: the MATCHED update for key 2 (day 2's row) throws
    // while that partition's merge is being written — the process dies
    // with some partitions swapped and some not, whichever order the
    // loop visited them in
    val poisoned = new graft.streaming.UpsertSink(table, Seq("k", "InsertDate"),
      Map("v" -> when(graft.catalog.Merge.src("k") === 2L,
        raise_error(lit("injected mid-batch kill")).cast("double"))
        .otherwise(graft.catalog.Merge.tgt("v") + graft.catalog.Merge.src("v"))),
      s"$root/ckpt")
    val batch1 = Seq((1L, 10.0, "2024-01-01"), (2L, 10.0, "2024-01-02"),
      (3L, 10.0, "2024-01-03"))
    val killed = intercept[Exception] {
      poisoned.apply(batch1.toDF("k", "v", "InsertDate"), 1L)
    }
    assert(killed.getMessage != null)
    // crash-state invariant: marker present ⟺ that partition's addition
    // landed (atomic swap publishes data + marker together); absent ⟺
    // value untouched. No partition may be torn or half-applied.
    val ep = sinkEpoch(root)
    val mid = table.read().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    seed.foreach { case (k, v0, day) =>
      val marked = table
        .lastTxnInPartition(Seq("InsertDate" -> day), ep).exists(1L <= _)
      val got = mid.find(_._1 == k).get._2
      if (marked) assert(got === v0 + 10.0,
        s"day $day carries the batch-1 marker but v=$got")
      else assert(got === v0, s"day $day has no marker but v=$got")
      if (k == 2L) assert(!marked, "the poisoned partition must not commit")
    }
    // engine redelivery of the SAME batch through a clean sink: marked
    // partitions skip, unmarked ones apply — exactly-once composes
    clean.apply(batch1.toDF("k", "v", "InsertDate"), 1L)
    val fin = table.read().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(fin === Set((1L, 11.0, "2024-01-01"), (2L, 12.0, "2024-01-02"),
      (3L, 13.0, "2024-01-03")))
    assert(clean.lastCommitted === 1L)
    // a second redelivery is a full no-op
    clean.apply(batch1.toDF("k", "v", "InsertDate"), 1L)
    assert(table.read().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet === fin)
  }

  test("upsert sink: checkpoint reset rotates the epoch — restarted batch ids apply") {
    val root = java.nio.file.Files.createTempDirectory("upsert-epoch")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val table = graft.catalog.ParquetTable(spark, "upsert_e", s"$root/table", schema)
    def mkSink() = new graft.streaming.UpsertSink(table, Seq("k"),
      Map("v" -> graft.catalog.Merge.src("v")), s"$root/ckpt")
    def v1() = table.read().filter(col("k") === 1L).collect().head.getString(1)
    val sink = mkSink()
    sink.apply(Seq((1L, "a")).toDF("k", "v"), 0L)
    sink.apply(Seq((1L, "b")).toDF("k", "v"), 1L)
    assert(sink.lastCommitted === 1L && v1() === "b")
    // wipe the checkpoint: Structured Streaming restarts batch ids at 0.
    // A free-standing marker would silently swallow every batch until
    // the id climbed past the stale high-water mark; the epoch rotation
    // must make the new generation's batch 0 apply
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/ckpt"))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    val sink2 = mkSink()
    assert(sink2.lastCommitted === -1L)
    sink2.apply(Seq((1L, "fresh")).toDF("k", "v"), 0L)
    assert(v1() === "fresh")
  }

  test("batch sessionization closes every session at end of input") {
    val events = Seq(
      Event(1, ts("2024-03-01 09:00:00"), "a", 1.0),
      Event(1, ts("2024-03-01 09:05:00"), "b", 2.0),
      Event(1, ts("2024-03-01 11:00:00"), "c", 4.0),
      Event(2, ts("2024-03-01 09:00:00"), "d", 8.0)).toDS()
    val sessions = EventStream.sessionizeBatch(events, gapMs = 10 * 60 * 1000L)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(sessions.map(s => (s.user_id, s.n_events, s.total_value)).toSeq ==
      Seq((1L, 2, 3.0), (1L, 1, 4.0), (2L, 1, 8.0)))
  }

  test("stream-stream interval join attributes within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStream.joinWithinHorizon(
      views.toDF(), clicks.toDF(), horizon = "10 minutes",
      watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      views.addData(Event(1, ts("2024-03-01 10:00:00"), "view", 0.0),
        Event(2, ts("2024-03-01 10:00:00"), "view", 0.0))
      // user 1 clicks inside the horizon (cross micro-batch), user 2
      // clicks 40 min later — outside it; user 3 clicks with no view
      clicks.addData(Event(1, ts("2024-03-01 10:04:00"), "click", 7.0),
        Event(2, ts("2024-03-01 10:40:00"), "click", 1.0),
        Event(3, ts("2024-03-01 10:05:00"), "click", 2.0))
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .collect().map(r => (r.getLong(0), r.getString(2), r.getString(4),
          r.getDouble(5))).toSet
      assert(rows == Set((1L, "view", "click", 7.0)), rows)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("interval join gives identical rows on the batch path") {
    val views = Seq(Event(1, ts("2024-03-01 10:00:00"), "view", 0.0)).toDF()
    val clicks = Seq(
      Event(1, ts("2024-03-01 10:09:59"), "click", 5.0),
      Event(1, ts("2024-03-01 10:10:01"), "click", 6.0)).toDF()
    val out = EventStream.joinWithinHorizon(views, clicks)
      .collect().map(r => (r.getLong(0), r.getDouble(5))).toSeq
    assert(out == Seq((1L, 5.0)), out) // boundary: ≤ horizon joins, > does not
  }

  test("streaming LSH index finds cross-batch near-dups; redelivery emits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val q = graft.streaming.StreamNearDup.candidateStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", threshold = 0.7)
      .writeStream.format("memory").queryName("nd_out").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      // batch 1: the index fills — an original and an unrelated doc
      input.addData((1L, base),
        (3L, "completely different words about streaming state stores in spark engines"))
      q.processAllAvailable()
      assert(spark.table("nd_out").count() == 0)
      // batch 2: the near-copy must find doc 1 through STATE — its
      // bucket mate lives only in the restored membership list
      input.addData((2L, base + " extra"))
      q.processAllAvailable()
      val pairs = spark.table("nd_out").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)), pairs)
      // redelivery of already-indexed ids is a no-op (known members
      // are skipped, so no self-pairs, no duplicate emissions)
      input.addData((1L, base), (2L, base + " extra"))
      q.processAllAvailable()
      assert(spark.table("nd_out").distinct().count() == 1)
      assert(spark.table("nd_out").filter(col("id_a") === col("id_b")).count() == 0)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("streaming LSH index state survives the RocksDB state store (the large-state production provider)") {
    // the default HDFS-backed provider keeps state deserialized on the
    // JVM heap; a 10⁹-membership index needs RocksDB, whose
    // serialize/restore cycle is a genuinely different codepath (every
    // get/put round-trips the encoder) — run the same cross-batch
    // discovery there and require the identical answer
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val q = graft.streaming.StreamNearDup.candidateStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", threshold = 0.7)(ss)
      .writeStream.format("memory").queryName("nd_rocks").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      input.addData((1L, base))
      q.processAllAvailable()
      assert(ss.table("nd_rocks").count() == 0)
      input.addData((2L, base + " extra"))
      q.processAllAvailable()
      val pairs = ss.table("nd_rocks").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)), pairs)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("TTL'd LSH index holds the recent window only: idle buckets evict, late dups miss") {
    // the bounded-state mode (r10 verdict #3): with stateTtlMs set, a
    // bucket whose newest member ages past the TTL is evicted when the
    // EVENT-time watermark passes — state tracks the arrival horizon
    // instead of everything ever seen, deterministically under replay.
    // The documented trade is asserted too: a near-copy arriving after
    // its original evicted is NOT paired (beyond-horizon dups are the
    // batch path's / the stored-index hybrid's job).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val t0 = ts("2024-03-01 10:00:00").getTime
    def at(deltaSec: Int) = new Timestamp(t0 + deltaSec * 1000L)
    val q = graft.streaming.StreamNearDup.candidateStream(
        input.toDF().toDF("doc_id", "text", "arrival"), "doc_id", "text",
        threshold = 0.7, stateTtlMs = Some(5000L),
        eventTimeCol = Some("arrival"))
      .writeStream.format("memory").queryName("nd_ttl").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      input.addData((1L, base, at(0)))
      q.processAllAvailable()
      // batch 2, ten event-seconds later: the watermark passes doc 1's
      // eviction deadline (t0+5s) and its idle buckets drop
      input.addData((3L, "completely different words about streaming state stores in spark engines", at(10)))
      q.processAllAvailable()
      val rows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // only doc 3's 16 band buckets remain — doc 1's were evicted
      assert(rows == 16, s"state rows $rows: eviction did not bound state")
      // the late near-copy of doc 1 finds nothing: its bucket mates are gone
      input.addData((2L, base + " extra", at(11)))
      q.processAllAvailable()
      assert(spark.table("nd_ttl").count() == 0)
      // but a copy arriving WITHIN the horizon still pairs through state
      input.addData((4L, base + " fresh", at(12)))
      q.processAllAvailable()
      val pairs = spark.table("nd_ttl").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((2L, 4L)), pairs)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("stored-index hybrid: cross-batch dup found through the stage table, stream state EMPTY") {
    // q_stream_neardup_hybrid's library body at unit scale: the band
    // index and the pair log live in leveled run tables, each batch
    // bucket-joins against the stored index, and the streaming query
    // carries NO stateful operator at all — the 100 TB answer to
    // unbounded index state.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndh-spec")
    val p = graft.streaming.HybridNearDup.create(spark, "ndh_spec", tmp.toString)
    def found = p.pairs.read().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        p.perBatch(batch, bid); ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      input.addData((1L, base),
        (3L, "completely different words about streaming state stores in spark engines"))
      q.processAllAvailable()
      assert(found.isEmpty, found)
      // the near-copy arrives a batch later: found via the STORED index
      input.addData((2L, base + " extra"))
      q.processAllAvailable()
      assert(found.toSet == Set((1L, 2L)), found)
      // no stateful operator anywhere in the streaming query
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally {
      q.stop(); q.awaitTermination()
      graft.ingest.FileOps.deleteRecursively(tmp)
    }
  }

  test("stored-posting hybrid: shared seeds found through the stage table, state EMPTY, cap binds") {
    // q_stream_containment_hybrid's machinery at unit scale — the
    // seed-gram counterpart of the near-dup hybrid: postings in a
    // ParquetTable, per-batch joins, no stateful operator; the df cap
    // is the batch HAVING over everything landed so far.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamSeedGram
    val input = MemoryStream[(Long, String)]
    val tmp = java.nio.file.Files.createTempDirectory("graft-sch-spec")
    val seedSchema = StreamSeedGram.seedRelation(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
      w = 3, seedMod = 1).schema
    val idx = graft.catalog.ParquetTable(
      spark, "sch_spec_idx", s"$tmp/idx", seedSchema).createIfNotExists()
    val found = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val nb = graft.plans.Materialize.stage(
          StreamSeedGram.seedRelation(batch, "doc_id", "text",
            w = 3, seedMod = 1))
        found ++= StreamSeedGram.hybridSeedPairs(nb, idx.read(), maxDf = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        idx.append(nb)
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      input.addData((1L, "p q r s"), (9L, "unrelated words entirely here"))
      q.processAllAvailable()
      assert(found.isEmpty, found)
      // doc 2 shares both of doc 1's grams — found via the STORED
      // postings, one row PER shared seed ("p q r" and "q r s")
      input.addData((2L, "p q r s t"))
      q.processAllAvailable()
      assert(found.groupBy(identity).view.mapValues(_.size).toMap ==
        Map((1L, 2L) -> 2), found)
      // both seeds now carry df 2 = the cap: a third carrier's total
      // df would be 3 > maxDf — the batch HAVING drops the seeds and
      // nothing is emitted
      input.addData((3L, "p q r s u"))
      q.processAllAvailable()
      assert(found.size == 2, found)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally {
      q.stop(); q.awaitTermination()
      graft.ingest.FileOps.deleteRecursively(tmp)
    }
  }

  test("containment hybrid body: a redelivered batch leaves the pair log and the posting index row-identical") {
    // graft.streaming.HybridNearDup over seed grams. Batch 1 carries two
    // copies of batch 0's document; replayed, it would serve against
    // its own landed postings and emit each (2, 3) seed twice — the pair
    // log lands skip-if-landed, the posting run is replaced.
    val tmp = java.nio.file.Files.createTempDirectory("graft-sch-replay")
    val words = (1 to 120).map(i => s"w$i").mkString(" ")
    val p = graft.streaming.HybridNearDup.containment(spark, "sch_replay", tmp.toString)
    p.perBatch(Seq((1L, words)).toDF("doc_id", "text"), 0L)
    val batch1 = Seq((2L, s"$words copy two"), (3L, s"lead $words")).toDF("doc_id", "text")
    p.perBatch(batch1, 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val pairs = rows(p.pairs.read())
    val index = rows(p.idx.read())
    val perPair = p.pairs.read().groupBy(col("id_a"), col("id_b")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(perPair.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), perPair)
    assert(perPair.values.forall(_ >= 2), perPair)
    p.perBatch(batch1, 1L)
    assert(rows(p.pairs.read()) == pairs, "the replay changed the pair log")
    assert(rows(p.idx.read()) == index, "the replay changed the posting index")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("hybrid stored-index hot buckets are SALVAGED: planted boilerplate dups are found, fan-out stays bounded") {
    // r13 closes the r12 weak mark this test used to PIN (hot buckets
    // emitted nothing): a (band, bh) bucket at/past maxBucket is now
    // sub-bucketed by a hash of the full signature — identical-
    // signature pairs (template copies, where real dup mass
    // concentrates) keep FULL recall at any cap, while diverse-
    // signature collisions spread across ceil(T/cap) sub-buckets so
    // the per-bucket compare fan-out stays ~T·cap instead of T².
    import graft.streaming.StreamNearDup
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndh-cap")
    val boiler = "same boilerplate text repeated across many documents word word word"
    val other = "a completely different document about unrelated topics and words"
    val idxDocs = Seq((11L, boiler), (12L, boiler), (13L, boiler),
      (21L, other)).toDF("doc_id", "text")
    val bands = StreamNearDup.bandRelation(idxDocs, "doc_id", "text")
    val idx = graft.catalog.ParquetTable(
      spark, "ndh_cap_idx", s"$tmp/idx", bands.schema).createIfNotExists()
    idx.append(bands)
    val nb = graft.plans.Materialize.stage(StreamNearDup.bandRelation(
      Seq((1L, boiler), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text"))
    def pairs(maxBucket: Int): Set[(Long, Long)] =
      StreamNearDup.hybridCandidates(nb, idx.read(), threshold = 0.7,
          maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Set((1L, 11L), (1L, 12L), (1L, 13L), (2L, 21L))
    // cap far above the fixture: every stored near-dup is found
    assert(pairs(10000) == full)
    // cap 3 ≤ the boilerplate buckets' total membership (3 stored + 1
    // arriving): the r12 form emitted NOTHING from those buckets — the
    // planted identical-signature dups must now survive salvage
    // (identical sigs always share a sub-bucket), and the cold bucket
    // serves unchanged
    assert(pairs(3) == full,
      "planted boilerplate duplicates must be FOUND through salvage")
    // boundary: the boilerplate buckets' total membership is EXACTLY
    // the cap (3 stored + 1 arriving = 4) — the hot predicate counts
    // them hot, and gOf's floor-at-2 makes them actually sub-bucket
    // (plain ceil(4/4) = 1 would log a salvage that never split);
    // identical signatures co-bucket at any g, so recall stays full
    assert(pairs(4) == full,
      "a bucket exactly at maxBucket must salvage, not just log")
    // a degenerate bulk batch (4 boilerplate docs) at cap 4: all its
    // genuine pairs (identical signatures — the output-sensitive case)
    // still land, within-batch included
    val bulk = graft.plans.Materialize.stage(StreamNearDup.bandRelation(
      Seq((1L, boiler), (2L, boiler), (3L, boiler), (4L, boiler),
        (5L, other)).toDF("doc_id", "text"), "doc_id", "text"))
    val salvaged = StreamNearDup.hybridCandidates(bulk, idx.read(),
        threshold = 0.7, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchBoiler = Seq(1L, 2L, 3L, 4L)
    val expected = (for {
      a <- batchBoiler; b <- Seq(11L, 12L, 13L)
    } yield (a, b)).toSet ++
      (for { a <- batchBoiler; b <- batchBoiler if a < b } yield (a, b)) +
      ((5L, 21L))
    assert(salvaged == expected)
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("hot-bucket salvage bounds sub-bucket sizes for diverse signatures") {
    // the COST side of salvage: coincidental collisions (shared band
    // hash, diverse full signatures — the quadratic-cost/empty-output
    // case maxBucket exists for) must spread across sub-buckets. 40
    // near-identical docs (one trailing word varies) collide in most
    // bands while their full 64-slot signatures differ, so the salt —
    // pmod(hash(sig), ceil(T/cap)) — must keep every sub-bucket well
    // under T. Replays the operator's own salt formula structurally.
    import graft.streaming.StreamNearDup
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = (0L until 40L).map(i => (i, s"$base tail$i"))
      .toDF("doc_id", "text")
    val bands = StreamNearDup.bandRelation(docs, "doc_id", "text")
    val cap = 8
    val counts = bands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("t"))
    val sized = bands.join(counts, Seq("band", "bh"))
      .withColumn("g", when(col("t") < cap, lit(1))
        .otherwise(greatest(lit(2),
          ceil(col("t").cast("double") / cap).cast("int"))))
      .withColumn("sub", pmod(hash(col("sig")), col("g")))
      .groupBy(col("band"), col("bh"), col("sub"))
      .agg(count(lit(1)).as("n"), max(col("t")).as("t"))
      .collect()
    val hot = sized.filter(_.getAs[Long]("t") >= cap)
    assert(hot.nonEmpty, "fixture produced no hot buckets — tune it")
    val maxSub = hot.map(_.getAs[Long]("n")).max
    // hash unevenness slack ×3: the bound under test is T² → ~T·cap,
    // i.e. sub-buckets must not stay bucket-sized
    assert(maxSub <= 3L * cap,
      s"hot-bucket sub-bucket reached $maxSub rows (cap $cap)")
  }

  test("index compaction preserves the hybrid serve answer and defragments the file sets") {
    // per-batch appends fragment the stored index (one file set per
    // micro-batch); compact(Seq("bh")) rewrites it globally bh-sorted —
    // the layout the pushed IN filter prunes — and must not change a
    // single served pair
    import graft.streaming.StreamNearDup
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndh-compact")
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val bandsOf = (rows: Seq[(Long, String)]) =>
      StreamNearDup.bandRelation(rows.toDF("doc_id", "text"), "doc_id", "text")
    val idx = graft.catalog.ParquetTable(
      spark, "ndh_compact_idx", s"$tmp/idx", bandsOf(Seq()).schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    // three micro-batch appends, two files each
    Seq(Seq(1L -> base, 2L -> "entirely different words about state stores"),
        Seq(3L -> (base + " extra")),
        Seq(4L -> "another unrelated document with novel tokens throughout"))
      .foreach(rows => idx.append(
        bandsOf(rows).repartition(2).sortWithinPartitions("bh")))
    def dataFiles(): Int = idx.dataFileCount
    val nb = graft.plans.Materialize.stage(bandsOf(Seq(9L -> (base + " more"))))
    def served(): Seq[(Long, Long)] =
      StreamNearDup.hybridCandidates(nb, idx.read(), threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val filesBefore = dataFiles()
    val before = served()
    assert(before.nonEmpty)
    idx.compact(Seq("bh"))
    assert(served() == before, "compaction changed the served pairs")
    assert(dataFiles() < filesBefore,
      s"compaction did not reduce files: $filesBefore -> ${dataFiles()}")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("composed dedup pipeline survives a mid-batch crash: restart lands on the from-scratch answer") {
    // failure injection for q_stream_dedup_pipeline's library body
    // (graft.streaming.DedupPipeline, on its leveled tables) — the
    // composition claim the per-piece replay specs cannot make: the
    // FOUR writes (labels, forwards, texts, band index) are not atomic
    // as a group, so a crash between them leaves the stores
    // inconsistent, and the restarted stream REDELIVERS the whole
    // micro-batch. Exactly-once here is by ALGEBRA plus the tables'
    // replay rules: label appends are derived from state-at-read (a
    // redelivered endpoint is 'known' and appends nothing; an applied
    // merge yields no root pair; a missing forward is re-detected) and
    // land skip-if-landed, and the recall stores (texts, index) land by
    // batch-partition replacement. Three crash points, each right
    // after one of batch 1's storage commits (the commit hook's scope
    // reaches the stream thread), batch 1 closing the tables' cadence
    // (every = 2):
    //  - between the forwards append and the text write (stores
    //    inconsistent: labels+fwd landed, texts/index missing),
    //  - after ALL writes but before maintenance and the checkpoint
    //    commit (the duplicate-write case: replay re-writes texts and
    //    bands), and
    //  - after component maintenance committed (forwards closed, label
    //    runs folded) but before the band/text folds.
    // Every restart must land the final labels exactly on the
    // from-scratch batch answer.
    val docsLocal = ((0L until 30L).map(i =>
      (i, (0 until 12).map(t => s"w${i}x$t").mkString(" "))) ++
      (0L until 10L).map(i =>
        (i + 1000L, (0 until 12).map(t => s"w${i}x$t").mkString(" ") + " trailing")))
      .toDF("doc_id", "text")
    val originals = docsLocal.filter(col("doc_id") < 1000L)
    val planted = docsLocal.filter(col("doc_id") >= 1000L)
    val expected = graft.text.Dedup
      .nearDupComponents(docsLocal, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each point is "right after commit X": which labels X may carry,
    // and which of batch 1's commits with such a label it is
    val crashPoints = Map(
      // the forwards append, or the text landing when the batch has no
      // forwards (an empty append publishes nothing)
      "between-appends" -> (Set("fi_fwd", "fi_txt/mig=1"), 1),
      "after-appends" -> (Set("fi_idx/mig=1"), 1),
      // the label write, then the components fold's two run deletes
      "after-components" -> (Set("fi_labels/mig=0", "fi_labels/mig=1"), 3))
    for (crashPoint <- Seq("between-appends", "after-appends", "after-components")) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-ddp-fi")
      val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
      graft.queries.StreamFixtures.writeBatch(tmp, src, originals, "a",
        parts = 1, mtimeMs = 1000000000000L)
      graft.queries.StreamFixtures.writeBatch(tmp, src, planted, "b",
        parts = 1, mtimeMs = 1000000060000L)
      val ss = graft.queries.StreamFixtures.childSession(spark, 4)
      val p = graft.streaming.DedupPipeline.create(ss, "fi", tmp.toString,
        every = 2)
      val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
      val batchNow = new java.util.concurrent.atomic.AtomicLong(-1L)
      // the hook's scope reaches the stream thread that runs foreachBatch
      def run(inject: Boolean): Unit = {
        val (crashLabels, occurrence) = crashPoints(crashPoint)
        var seen = 0
        graft.catalog.Commits.during { label =>
          if (inject && batchNow.get == 1L && crashLabels(label)) {
            seen += 1
            if (seen == occurrence && !injected.getAndSet(true))
              throw new RuntimeException(s"injected crash at $crashPoint")
          }
        }(stream())
      }
      def stream(): Unit = {
        val q = ss.readStream
          .schema(ss.read.parquet(src.toString).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(src.toString)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
            batchNow.set(bid)
            p.perBatch(batch, bid)
            ()
          }
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        run(inject = true)
      }
      assert(failure.getMessage.contains("injected crash"), failure.getMessage)
      assert(injected.get(), "the crash never fired")
      // restart from the checkpoint: batch 1 is redelivered whole
      run(inject = false)
      // the label algebra must not have double-applied anything
      val labelRows = p.labels.read().collect()
      assert(labelRows.map(_.getLong(0)).distinct.length == labelRows.length,
        s"[$crashPoint] duplicate label rows after replay")
      val resolved = graft.plans.IncrementalComponents
        .resolvedLabels(p.labels.read(), p.fwd.read())
      val allIds = docsLocal.select(col("doc_id"))
      val got = allIds.join(resolved, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp_id"), col("doc_id")).as("comp_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"[$crashPoint] restart diverged from the from-scratch answer")
      graft.ingest.FileOps.deleteRecursively(tmp)
    }
  }

  test("cadence compaction bounds index file count without changing content") {
    // "compact every N batches in production": drive 16 append
    // batches, compact on the window-closing ids (every = 4), and
    // assert the data-file count stays BOUNDED (sawtooth, not monotone
    // growth) and the table content is untouched — compaction is a
    // layout rewrite, never a data op.
    val tmp = java.nio.file.Files.createTempDirectory("graft-cadence")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bh",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val t = graft.catalog.ParquetTable(spark, "cadence_idx",
      s"$tmp/idx", schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    def dataFiles(): Int = t.dataFileCount
    val filesSeen = scala.collection.mutable.ArrayBuffer[Int]()
    (0L until 16L).foreach { bid =>
      t.append(Seq((bid, bid * 10), (bid, bid * 10 + 1))
        .toDF("bh", "v").repartition(2))
      if (bid % 4 == 3) t.compact(Seq("bh"))
      filesSeen += dataFiles()
    }
    // bounded: between compactions at most `every` appends × 2 files
    // accumulate on top of the compacted baseline (1 file at this size)
    assert(filesSeen.max <= 1 + 4 * 2, s"file counts: $filesSeen")
    assert(filesSeen.last == 1, s"final compaction left ${filesSeen.last} files")
    // content untouched: every appended row present exactly once
    assert(t.read().count() == 32)
    assert(t.read().agg(org.apache.spark.sql.functions.sum(col("v")))
      .head().getLong(0) == (0L until 16L).map(b => b * 20 + 1).sum)
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  private def leveledRowSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bh",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType)))

  test("leveled index: O(new) folds, cascades on fanout, content exactly-once") {
    // The r15 replacement for full-table cadence compaction: 32
    // batches under every=4/fanout=4 must fold on exactly the
    // window-closing ids, cascade level-1 → level-2 twice (at bids 15
    // and 31), keep the run/file count bounded, and leave every row
    // present exactly once — maintenance is a layout operation, never
    // a data op.
    import graft.streaming.LeveledIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-leveled")
    val idx = LeveledIndex.create(spark, "lvl_idx", s"$tmp/idx",
      leveledRowSchema, "bh", every = 4, fanout = 4)
    val fired = scala.collection.mutable.ArrayBuffer[Long]()
    val filesSeen = scala.collection.mutable.ArrayBuffer[Int]()
    (0L until 32L).foreach { bid =>
      idx.writeBatch(bid, Seq((bid, bid * 10), (bid, bid * 10 + 1))
        .toDF("bh", "v").repartition(2))
      if (idx.maintain(bid)) fired += bid
      filesSeen += idx.table.dataFileCount
    }
    assert(fired.toSeq == (3L until 32L by 4L).toSeq)
    assert(idx.read().count() == 64)
    assert(idx.read().agg(org.apache.spark.sql.functions.sum(col("v")))
      .head().getLong(0) == (0L until 32L).map(b => b * 20 + 1).sum)
    // both cascades fired: everything now lives in two level-2 runs
    assert(idx.levelSizes() == Map(2 -> 2), s"levels: ${idx.levelSizes()}")
    // bounded: ≤ every level-0 runs × 2 files + (fanout−1) level-1
    // runs + accumulated level-2 runs at any recorded point
    assert(filesSeen.max <= 4 * 2 + 3 + 2, s"file counts: $filesSeen")
    // batch replay REPLACES its own partition (no duplicate rows)
    idx.writeBatch(99L, Seq((99L, 0L), (99L, 1L)).toDF("bh", "v"))
    idx.writeBatch(99L, Seq((99L, 0L), (99L, 1L)).toDF("bh", "v"))
    assert(idx.read().count() == 66)
    // writeBatchIfAbsent: skips when the first attempt committed
    idx.writeBatchIfAbsent(99L, Seq((99L, 555L)).toDF("bh", "v"))
    assert(idx.read().filter(col("v") === 555L).count() == 0)
    idx.writeBatchIfAbsent(100L, Seq((100L, 556L)).toDF("bh", "v"))
    assert(idx.read().filter(col("v") === 556L).count() == 1)
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("a cadence batch replayed after the components fold keeps every label") {
    // the size-triggered fold of IndexMaintenance.maintainComponents
    // rewrites the whole label table into the level-1 run keyed by the
    // cadence batch; a crash after it (the dedup pipeline's
    // "after-components" crash point) replays the batch, whose labels,
    // recomputed against the stored state, are empty. That replayed
    // write must not land a level-0 run the replayed maintenance would
    // fold OVER the folded labels.
    import graft.streaming.{IndexMaintenance, LeveledIndex}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tmp = java.nio.file.Files.createTempDirectory("graft-fold-replay")
    def longs(names: String*) = StructType(names.map(StructField(_, LongType)))
    val labels = LeveledIndex.create(spark, "fold_replay_labels", s"$tmp/labels",
      longs("doc_id", "comp_id"), "doc_id", every = 2)
    val fwd = graft.catalog.ParquetTable(spark, "fold_replay_fwd", s"$tmp/fwd",
      longs("old_root", "new_root")).createIfNotExists()
    // one file per write, so the forwards outgrow the fold trigger
    // (a quarter of the label bytes)
    labels.writeBatch(0L, Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("doc_id", "comp_id")
      .coalesce(1))
    // batch 1 merges the two components through a new node 3
    def batch1(newLabels: Seq[(Long, Long)], newFwd: Seq[(Long, Long)]): Boolean = {
      labels.writeBatchIfAbsent(1L, newLabels.toDF("doc_id", "comp_id").coalesce(1))
      fwd.append(newFwd.toDF("old_root", "new_root").coalesce(1))
      IndexMaintenance.maintainComponents(labels, fwd, 1L)
    }
    def resolved() = graft.plans.IncrementalComponents
      .resolvedLabels(labels.read(), fwd.read()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch1(Seq((3L, 1L)), Seq((5L, 1L))))
    assert(fwd.read().isEmpty, "the size-triggered fold did not fire")
    val folded = resolved()
    assert(folded == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L), (6L, 1L)), folded)
    // the replay: nothing new to append
    batch1(Nil, Nil)
    assert(resolved() == folded, s"replay lost labels: ${resolved()}")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  /** A dedup pipeline over stored tables under `tmp` — twelve base
    * documents, two components — and a batch of four documents, three
    * of them near-duplicates of base documents. */
  private def dedupFixture(tmp: java.nio.file.Path)
      : (graft.streaming.DedupPipeline, org.apache.spark.sql.DataFrame) = {
    import graft.streaming.StreamNearDup
    // twelve words of its own per document; a tail word makes a
    // near-duplicate (10 of 11 trigrams shared)
    def text(i: Int, tail: String = "") = (0 until 12).map(j => s"t${i}w$j").mkString(" ") + tail
    val base = (1 to 12).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val p = graft.streaming.DedupPipeline.create(spark, "jobs", tmp.toString)
    p.idx.writeBase(StreamNearDup.bandRelation(base, "doc_id", "text"))
    p.txt.writeBase(base)
    p.labels.writeBase(Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("doc_id", "comp_id"))
    p.fwd.append(Seq((2L, 1L)).toDF("old_root", "new_root"))
    (p, Seq((101L, text(1, " x")), (102L, text(5, " y")), (103L, text(6, " z")),
      (104L, text(40))).toDF("doc_id", "text"))
  }

  test("one batch of the dedup body runs a bounded number of Spark jobs") {
    // the batch-sized steps of the dedup pipeline's library body (band,
    // serve, endpoint fetch, verify, component appends) against stored
    // tables; they run on the driver, so a chain of single-task jobs
    // per step (~48 a batch before) must not grow back unnoticed; a
    // stage of a local relation runs no job (15 before that)
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-jobs")
    val (p, batch) = dedupFixture(tmp)
    var appended = 0L
    val jobs = TestSpark.jobsDuring(spark) {
      val (_, nl, nf) = p.batchSteps(batch)
      appended = nl.count() + nf.count()
    }
    // the batch's three near-duplicates each land one label row
    assert(appended == 3, s"appended $appended rows")
    info(s"${jobs.size} jobs for one batch")
    assert(jobs.size <= 9, s"${jobs.size} jobs for one batch:\n${jobs.mkString("\n")}")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("one non-cadence batch of the dedup pipeline, landings included, runs a bounded number of jobs") {
    // the four landings (labels, forwards, texts, bands) are batch-sized
    // and land from the driver: no write job each (17 jobs when each
    // landing was a Spark write and each stage a job)
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-landing-jobs")
    val (p, batch) = dedupFixture(tmp)
    var report: graft.streaming.BatchReport = null
    val jobs = TestSpark.jobsDuring(spark) { report = p.perBatch(batch, 0L) }
    assert(!report.maintained)
    assert(p.labels.read().count() == 4 + 3 && p.txt.read().count() == 12 + 4)
    info(s"${jobs.size} jobs for one batch")
    assert(jobs.size <= 8, s"${jobs.size} jobs for one batch:\n${jobs.mkString("\n")}")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("adaptive prune-key cap scales with the stored index, both regimes serve correctly") {
    // the r12 residue: pruneKeyCap was a constant 8192, so a wide batch
    // against a truly huge index fell back to the full scan unless the
    // operator re-tuned it. The cap now derives from the index's
    // measured bytes: floored at the measured-safe 8192 for small
    // indexes, growing one key per 64 KiB, hard-capped at 1 << 17
    // where key plumbing itself reaches seconds.
    import graft.streaming.StreamNearDup
    assert(StreamNearDup.adaptiveKeyCap(0L) == 8192)
    assert(StreamNearDup.adaptiveKeyCap(100L * 1024 * 1024) == 8192)
    // 1 GiB index -> 16384 keys; monotone growth past the floor
    assert(StreamNearDup.adaptiveKeyCap(1L << 30) == 16384)
    assert(StreamNearDup.adaptiveKeyCap(1L << 32) == 65536)
    // hard cap: a petabyte index still caps the driver-held key set
    assert(StreamNearDup.adaptiveKeyCap(1L << 50) == (1 << 17))
    // integration, regime 1 (narrow batch vs small index — the
    // adaptive cap lands on the floor, far above the key set): the
    // pruned IN-filter plan serves
    val tmp = java.nio.file.Files.createTempDirectory("graft-adaptcap")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bands = StreamNearDup.bandRelation(
      Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    val idx = graft.catalog.ParquetTable(spark, "adapt_idx",
      s"$tmp/idx", bands.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    idx.append(bands.sortWithinPartitions("bh"))
    val cap = StreamNearDup.adaptiveKeyCap(idx.tableBytes)
    assert(cap == 8192, s"small index must land on the floor, got $cap")
    val nb = graft.plans.Materialize.stage(StreamNearDup.bandRelation(
      Seq((2L, a + " trailing")).toDF("doc_id", "text"), "doc_id", "text"))
    // the narrow batch serves on the driver; its index fetch carries
    // the pushed filter
    var pruned: org.apache.spark.sql.DataFrame = null
    val fetches = TestSpark.plansDuring(spark) {
      pruned = StreamNearDup.hybridCandidates(nb, idx.read(),
        threshold = 0.5, pruneKeyCap = cap)
    }.map(_.executedPlan.toString)
    assert(fetches.exists(_.contains("PushedFilters: [In(bh")),
      fetches.mkString("\n"))
    // regime 2 (batch keys exceed the cap — the wide-bulk fallback):
    // full bucket join, identical answer
    val full = StreamNearDup.hybridCandidates(nb, idx.read(),
      threshold = 0.5, pruneKeyCap = 1)
    assert(full.collect().toSet == pruned.collect().toSet)
    assert(pruned.collect().nonEmpty)
    // SELF-CALIBRATION (r13 residue: the 64 KiB/key break-even
    // hard-coded one box's numbers): measure() derives the per-key
    // plumbing cost and scan throughput on the hardware at hand,
    // clamped against timer hiccups and logged. The served ANSWER must
    // be calibration-independent — the cap only picks which plan runs.
    val cal = StreamNearDup.KeyCapCalibration.measured(spark)
    assert(cal.perKeyNanos >= 2000L && cal.perKeyNanos <= 1000000L,
      s"per-key cost escaped the clamps: $cal")
    assert(cal.scanBytesPerSec >= (64L << 20) &&
      cal.scanBytesPerSec <= (64L << 30),
      s"scan throughput escaped the clamps: $cal")
    val capM = StreamNearDup.adaptiveKeyCap(idx.tableBytes, cal)
    assert(capM >= 8192 && capM <= (1 << 17), s"derived cap $capM")
    // the two-point marginal must land the break-even in Default's
    // neighborhood (measured 39-85 KiB/key across this box's session
    // profiles vs Default's 64; the r14 floor-anchored single point
    // was 64× off). Loose 8× bound: constants are hardware-dependent
    // and the cap is clamped — this only guards a regression back to
    // fixed-overhead-dominated measurement.
    val dflt = StreamNearDup.KeyCapCalibration.Default
    assert(cal.bytesPerKey >= dflt.bytesPerKey / 8 &&
      cal.bytesPerKey <= dflt.bytesPerKey * 8,
      s"measured break-even ${cal.bytesPerKey} B/key is not in " +
        s"Default's neighborhood (${dflt.bytesPerKey} B/key)")
    info(s"measured calibration: ${cal.perKeyNanos} ns/key, " +
      s"${cal.scanBytesPerSec >> 20} MB/s -> ${cal.bytesPerKey >> 10} " +
      s"KiB/key, cap $capM at ${idx.tableBytes} index bytes")
    val prunedM = StreamNearDup.hybridCandidates(nb, idx.read(),
      threshold = 0.5, pruneKeyCap = capM)
    assert(prunedM.collect().toSet == pruned.collect().toSet,
      "measured calibration changed the served answer")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("childSession ships the state-store provider from the scoped override") {
    // the one-flag RocksDB flip for the whole streaming family rests on
    // this plumbing — gate it directly so a silent break cannot turn
    // the provider-equivalence test into default-vs-default. The
    // override is THREAD-scoped (DynamicVariable), not a sys.props
    // mutation: a concurrent suite on another thread must keep the
    // startup provider.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val plain = graft.queries.StreamFixtures.childSession(spark, 4)
    assert(plain.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(plain.conf.getOption(key).forall(_ != rocks))
    // a SIBLING thread (created outside the scope — a parallel suite,
    // a concurrently-running entry) must keep the startup provider;
    // DynamicVariable inheritance applies only to threads the scoped
    // work itself spawns
    var otherThreadConf: Option[String] = None
    val sibling = new Thread(() => {
      otherThreadConf = graft.queries.StreamFixtures
        .childSession(spark, 4).conf.getOption(key)
    })
    graft.queries.StreamFixtures.withStateStoreProvider(rocks) {
      val ss = graft.queries.StreamFixtures.childSession(spark, 4)
      assert(ss.conf.get(key) == rocks)
      // the parent session's conf must never be mutated
      assert(spark.conf.getOption(key).forall(_ != rocks))
      sibling.start(); sibling.join()
      assert(otherThreadConf.forall(_ != rocks),
        "provider override leaked to a sibling thread")
    }
    // scope exited: back to default
    val after = graft.queries.StreamFixtures.childSession(spark, 4)
    assert(after.conf.getOption(key).forall(_ != rocks))
    // explicit parameter beats the scope
    val explicit = graft.queries.StreamFixtures
      .childSession(spark, 4, Some(rocks))
    assert(explicit.conf.get(key) == rocks)
  }

  test("stateful registry entries are byte-identical under RocksDB vs the default provider") {
    // weak-mark closure (r10 verdict #1): the streaming state family
    // must produce the same rows when state lives in RocksDB —
    // serialize/restore round-trips every get/put through the encoder,
    // a genuinely different codepath than heap-held state. Run the
    // three state-heavy oracle entries under both providers end to end
    // (fixture build, micro-batch replay, state restore, batch-side
    // verify) and require identical collected output.
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    for (name <- Seq("q_stream_neardup", "q_stream_containment",
        "q_stream_sessionize")) {
      val base = SparkEntry.queries(name)(spark, TestSpark.sf).collect().toSeq
      val rocksRows =
        graft.queries.StreamFixtures.withStateStoreProvider(rocks) {
          SparkEntry.queries(name)(spark, TestSpark.sf).collect().toSeq
        }
      assert(base == rocksRows,
        s"$name differs under RocksDBStateStoreProvider")
      assert(base.nonEmpty, s"$name produced no rows")
    }
  }

  test("streaming seed-gram posting emits one row per shared seed across batches; df cap stops indexing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // seedMod = 1 → every distinct 3-gram is a seed (deterministic
    // postings without hunting for hash-mod-0 grams); maxDf = 2 caps
    // each posting at two members
    val q = graft.streaming.StreamSeedGram.seedPairStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        w = 3, seedMod = 1, maxDf = 2)
      .writeStream.format("memory").queryName("sg_out").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      input.addData((1L, "p q r s"), (9L, "unrelated words entirely here"))
      q.processAllAvailable()
      assert(spark.table("sg_out").count() == 0)
      // doc 2 shares both of doc 1's grams — found via restored state,
      // one emitted row PER shared seed (the minSeeds pre-aggregation)
      input.addData((2L, "p q r s t"))
      q.processAllAvailable()
      val rows = spark.table("sg_out").groupBy("id_a", "id_b").count()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 2L, 2L)), rows) // grams "p q r" and "q r s" shared
      // both buckets are now at the cap: a third carrier indexes
      // nothing and emits nothing
      input.addData((3L, "p q r s u"))
      q.processAllAvailable()
      assert(spark.table("sg_out").groupBy("id_a", "id_b").count().count() == 1)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("StreamFixtures multi-file batches: one mtime stamp = one micro-batch") {
    // The streaming oracle entries' cross-batch-state claim rests on
    // FileStreamSource consuming all of a stamp's files in ONE trigger
    // and the later stamp in the NEXT - if the source ever interleaved
    // them, planted pairs would be found within-batch and the entries
    // would silently stop exercising state restore. Pin the contract:
    // 8 same-stamp files + 1 later file under maxFilesPerTrigger=8
    // must yield exactly 2 batches with the exact row split.
    val tmp = java.nio.file.Files.createTempDirectory("graft-sfx")
    val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
    val a = (0L until 80L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val b = (100L until 110L).map(i => (i, s"late $i")).toDF("doc_id", "text")
    graft.queries.StreamFixtures.writeBatch(tmp, src, a, "a", 8, 1000000000000L)
    graft.queries.StreamFixtures.writeBatch(tmp, src, b, "b", 1, 1000000060000L)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    val q = ss.readStream
      .schema(ss.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", "8")
      .parquet(src.toString)
      .writeStream.format("memory").queryName("sfx_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.numInputRows).toSeq
    assert(batches == Seq(80L, 10L),
      s"expected batch split [80, 10], got $batches")
    ss.catalog.dropTempView("sfx_out")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("two-tier late arrivals: dropped by tier A's watermark, served against the bulk tier, migrated next batch, findable ever after") {
    // END-TO-END late-arrival semantics of the q_stream_neardup_twotier
    // composition (tier B through its library body) — the r13 verdict's open question. A row arriving
    // with an event time already BEHIND the horizon:
    //  (a) is DROPPED by tier A (0 ms-slack watermark — consistent
    //      with candidateStream's documented stance), so it pairs with
    //      NOTHING in the recent window: a late dup of a still-
    //      in-window original is missed — the same trade as the TTL'd
    //      single-tier form, where a dup arriving after eviction
    //      misses; documented, pinned here;
    //  (b) IS served against the bulk tier on arrival — a late dup of
    //      an already-aged original is found through tier B;
    //  (c) lands in pending pre-aged and migrates into the bulk index
    //      on the NEXT batch's aging — after which FUTURE (non-late)
    //      duplicates find it through tier B, while the in-window
    //      original it missed is still paired by tier A for those
    //      future arrivals. Net: only the (late row ↔ recent window)
    //      pairs are traded away, exactly once, never silently growing.
    import graft.streaming.StreamNearDup
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndtt-late")
    val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
    val t0 = 1700000000000L
    val ttlMs = 2L * 3600000L
    val h = 3600000L
    def at(ms: Long) = org.apache.spark.sql.functions
      .lit(new Timestamp(ms)).as("arrival")
    val xText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val yText = "one two three four five six seven eight nine ten eleven twelve"
    def docs(rows: Seq[(Long, String)], ms: Long) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), at(ms))
    // b0: X's original; b1: sentinel + Y's original (watermark moves to
    // t0+2.5h, X ages); b2: LATE dups of X and Y at event time t0;
    // b3: sentinel (the late rows age); b4: a future dup of Y.
    Seq(
      (docs(Seq(1L -> xText), t0), "b0"),
      (docs(Seq(901L -> "sentinel unique filler tokens first wave entirely novel words here",
        2L -> yText), t0 + (2.5 * h).toLong), "b1"),
      (docs(Seq(11L -> (xText + " trailing"), 12L -> (yText + " trailing")), t0), "b2"),
      (docs(Seq(902L -> "sentinel second wave other novel filler tokens wholly distinct text"), t0 + 3 * h), "b3"),
      (docs(Seq(13L -> (yText + " trailing more")), t0 + (3.5 * h).toLong), "b4")
    ).zipWithIndex.foreach { case ((df, name), i) =>
      graft.queries.StreamFixtures.writeBatch(tmp, src, df, name,
        parts = 1, mtimeMs = 1000000000000L + i * 60000L)
    }
    val ss = graft.queries.StreamFixtures.childSession(spark, 4)
    def raw() = ss.readStream
      .schema(ss.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    val p = graft.streaming.TwoTierNearDup.create(ss, "ndtt_late",
      tmp.toString, ttlMs)
    val qb = raw().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        p.perBatch(batch, bid); ()
      }
      .option("checkpointLocation", s"$tmp/ckptB")
      .trigger(Trigger.AvailableNow()).start()
    qb.awaitTermination()
    val qa = StreamNearDup
      .candidateStream(raw(), "doc_id", "text", threshold = 0.5,
        stateTtlMs = Some(ttlMs), eventTimeCol = Some("arrival"))(ss)
      .writeStream.format("memory").queryName("ndtt_late_a")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    qa.awaitTermination()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tierB = pairSet(p.pairs.read())
    val tierA = pairSet(ss.table("ndtt_late_a"))
    // (b) late dup of the AGED original found through tier B on arrival
    assert(tierB.contains((1L, 11L)), s"tierB=$tierB")
    // (a) the documented trade: the late dup of the still-in-window
    // original is found by NEITHER tier (tier A dropped the late row;
    // tier B's bulk does not hold the in-window original)
    assert(!tierA.contains((2L, 12L)) && !tierB.contains((2L, 12L)),
      s"late-vs-recent pair should be the documented miss: A=$tierA B=$tierB")
    // (c) the late row MIGRATED on the next batch's aging (it is in the
    // bulk index) and a FUTURE dup finds it through tier B...
    assert(p.tier.bulk().filter(col("doc_id") === 12L).count() > 0,
      "late row did not migrate into the bulk index")
    assert(tierB.contains((12L, 13L)), s"tierB=$tierB")
    // ...while tier A still pairs that future dup with the in-window
    // original the late row missed
    assert(tierA.contains((2L, 13L)), s"tierA=$tierA")
    ss.catalog.dropTempView("ndtt_late_a")
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("two-tier aging is exactly-once: a crash between the index write and the pending delete never duplicates a row") {
    // the r13 ADVICE window: the old form appended aged rows to the
    // bulk index and THEN deleted them from pending, so a crash between
    // the two made the replayed batch re-age and re-append — duplicates
    // persisted in the index forever. TieredIndex's mig-partitioned
    // atomic overwrites make every step idempotent; this test lands a
    // crash in the exact window (right after the index partition's
    // commit), replays, and
    // asserts the index holds each aged row exactly once — plus the
    // late-arrival variant (a replayed batch must not re-age its OWN
    // pending rows) and the fold-compaction content identity.
    import graft.streaming.{StreamNearDup, TieredIndex}
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndtt-crash")
    val t0 = 1700000000000L
    def at(ms: Long) = lit(new Timestamp(ms)).as("arrival")
    def bands(rows: Seq[(Long, String)], ms: Long) =
      StreamNearDup.bandRelationWithTs(
        rows.toDF("doc_id", "text")
          .select(col("doc_id"), col("text"), at(ms)),
        "doc_id", "text", "arrival")
    val docsA = Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six seven")
    val rowSchema = bands(docsA, t0).schema
    val tier = TieredIndex.create(spark, "ndtt_crash", tmp.toString,
      rowSchema, sortKey = "bh")
    // batch 0: nothing to age yet; its band rows land in pending
    tier.age(0L, t0 - 7200000L)
    tier.writePending(0L, bands(docsA, t0))
    val pend0 = tier.pendT.read().count()
    assert(pend0 > 0)
    // batch 1 arrives 3 h later under a 2 h TTL: batch 0's rows must
    // age. Crash injected between the index partition write and the
    // pending delete.
    val cutoff1 = t0 + 3600000L
    val boom = intercept[RuntimeException] {
      graft.catalog.Commits.during { label =>
        if (label == "ndtt_crash_idx/mig=1")
          throw new RuntimeException("injected crash in the aging window")
      }(tier.age(1L, cutoff1))
    }
    assert(boom.getMessage.contains("injected"))
    // crash state: rows in the bulk index AND still in pending
    assert(tier.idxT.read().count() == pend0)
    assert(tier.pendT.read().count() == pend0)
    // REPLAY of batch 1: the partition overwrite rewrites the SAME
    // rows instead of appending beside the crashed attempt's copy
    tier.age(1L, cutoff1)
    assert(tier.idxT.read().count() == pend0,
      "replayed aging duplicated index rows")
    assert(tier.idxT.read().drop("mig", "sig").distinct().count() == pend0)
    assert(tier.pendT.read().count() == 0)
    // second window: batch 1 carries a LATE row (event time already
    // behind the horizon) and crashes AFTER writePending, BEFORE its
    // checkpoint commit. The replayed batch re-runs age(1) — which must
    // NOT re-age batch 1's OWN pending rows (the mig exclusion): the
    // late row would otherwise land in the bulk index AND be re-written
    // to pending, duplicating at the next aging.
    val nb1 = bands(Seq(3L -> "seven eight nine ten eleven twelve"),
        t0 + 10800000L)
      .unionByName(bands(Seq(4L -> "late words from the distant past"), t0))
    tier.writePending(1L, nb1) // first attempt reached here, then crashed
    tier.age(1L, cutoff1)      // replay opens with aging
    assert(tier.idxT.read().count() == pend0,
      "replay re-aged this batch's own pending rows")
    tier.writePending(1L, nb1)
    val pend1 = tier.pendT.read().count()
    // batch 2: the late row (and only it) migrates now, exactly once
    val lateRows = tier.pendT.read()
      .filter(col("ts") <= lit(new Timestamp(t0 + 7200000L))).count()
    assert(lateRows > 0, "fixture lost its late row")
    tier.age(2L, t0 + 7200000L)
    assert(tier.idxT.read().count() == pend0 + lateRows)
    assert(tier.idxT.read().drop("mig", "sig").distinct().count()
      == pend0 + lateRows)
    assert(tier.pendT.read().count() == pend1 - lateRows)
    graft.ingest.FileOps.deleteRecursively(tmp)
  }
}
