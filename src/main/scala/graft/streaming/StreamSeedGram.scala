package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.text.Dedup

/** Streaming seed-gram containment index: the content-deterministic
  * posting list as STREAM STATE.
  *
  * The batch seed-gram detector
  * ([[graft.text.Dedup.seedGramContainmentPairs]]) publishes each
  * document's winnowing-sampled seed grams (hash ≡ 0 mod `seedMod`)
  * and self-joins the posting list. The streaming form holds each
  * seed's accumulated posting (the member ids) in the state store:
  * when a document arrives carrying a seed some earlier document also
  * published, the pair is emitted from state — one row PER SHARED
  * SEED, which is exactly the pre-aggregation of the batch self-join,
  * so the caller recovers the batch candidate set with
  * `groupBy(id_a, id_b).count() >= minSeeds` and finishes with
  * [[graft.text.Dedup.verifyPairsContainment]] for exact precision.
  * Pairs are unordered (min, max) and emitted when the later member
  * arrives, so the output set is independent of how documents split
  * into micro-batches; redelivered ids are skipped.
  *
  * Stop-gram cap: a posting at `maxDf` members stops indexing new
  * arrivals — the streaming analogue of the batch path's global
  * `HAVING df <= maxDf`. The two differ once a seed CROSSES the cap
  * mid-stream (the batch form retroactively drops the seed's earlier
  * pairs, the streaming form keeps the pre-cap prefix); below the cap
  * they are identical, and real boilerplate seeds blow far past any
  * sane cap either way. The oracle fixture's max seed df is 23 at
  * sf0.1 against the default cap of 1000.
  *
  * Scale shape: state per seed is a bare id list (8 bytes a member,
  * bounded by `maxDf`); the text never leaves the signing map stage,
  * and per-arrival work is one state lookup + at most `maxDf`
  * emissions per carried seed — the same bounded fan-out argument as
  * the batch posting join. */
object StreamSeedGram {

  /** One document's publication of one seed gram. */
  final case class SeedDoc(h: Long, doc_id: Long)

  /** [[SeedDoc]] carrying the event time — raw TIMESTAMP end to end so
    * the watermark's attribute metadata survives (the
    * [[StreamNearDup.BucketDoc]] note). */
  final case class SeedDocTs(h: Long, doc_id: Long, ts: java.sql.Timestamp)

  /** Unordered candidate pair (id_a < id_b), one row per shared seed. */
  final case class SeedPair(id_a: Long, id_b: Long)

  /** [[SeedPair]] CARRYING the shared seed hash — what the two-tier
    * composition unions with the stored-index rows so the min-shared-
    * seeds recovery can count DISTINCT seeds across tiers (a pair found
    * through both tiers for the same seed must count that seed once). */
  final case class SeedPairH(id_a: Long, id_b: Long, h: Long)

  /** The seed-posting relation of an (idCol, textCol) relation — one
    * row per (h, doc_id) publication, map-only (the text ends here).
    * Shared by the stateful index ([[seedPairStream]]) and the
    * stored-index hybrid ([[hybridSeedPairs]]); batch or streaming. */
  def seedRelation(docs: DataFrame, idCol: String, textCol: String,
                   w: Int = 3, seedMod: Int = 8,
                   gramFn: Option[Column => Column] = None): DataFrame = {
    val gram: Column => Column =
      gramFn.getOrElse(Dedup.fastGramHashes(_: Column, w))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        gram(col(textCol)).as("g"))
      .select(col("doc_id"),
        explode(filter(col("g"), h => pmod(h, lit(seedMod)) === 0)).as("h"))
      .select(col("h"), col("doc_id"))
  }

  /** [[seedRelation]] CARRYING the event-time column (as `ts`) — the
    * containment two-tier composition's PENDING relation needs each
    * posting row's arrival time to decide when it ages into the stored
    * bulk index. The timestamp column passes through UNWRAPPED so
    * watermark metadata survives. */
  def seedRelationWithTs(docs: DataFrame, idCol: String, textCol: String,
                         tsCol: String, w: Int = 3, seedMod: Int = 8,
                         gramFn: Option[Column => Column] = None): DataFrame = {
    val gram: Column => Column =
      gramFn.getOrElse(Dedup.fastGramHashes(_: Column, w))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        gram(col(textCol)).as("g"), col(tsCol).as("__ts"))
      .select(col("doc_id"),
        explode(filter(col("g"), h => pmod(h, lit(seedMod)) === 0)).as("h"),
        col("__ts"))
      .select(col("h"), col("doc_id"), col("__ts").as("ts"))
  }

  /** Per-shared-seed pairs of ONE arriving batch against a STORED
    * posting index plus itself — the zero-state hybrid (the
    * [[graft.streaming.StreamNearDup.hybridCandidates]] pattern for
    * the containment family): the posting list lives in a stage table
    * appended per batch by the caller's foreachBatch, stream state
    * stays EMPTY, recall is full at any horizon. Per batch, the
    * arriving side's distinct seed hashes broadcast and the stored
    * postings are scanned ONCE, map-only (the index never shuffles;
    * only matching postings survive into the df count and the cross
    * join) — the per-batch index scan is the price of zero state,
    * amortized by batch sizing and columnar layout.
    *
    * Stop-gram cap: a seed whose TOTAL df (stored + arriving) exceeds
    * `maxDf` emits nothing this batch — the batch path's `HAVING
    * df <= maxDf` evaluated against everything landed so far, which is
    * at least as strict as the stateful form's prefix-of-arrival cap;
    * below the cap all three forms agree, and the oracle fixtures sit
    * far below it. Deliberately NOT salvaged the way
    * [[StreamNearDup.hybridCandidates]] sub-buckets its hot LSH
    * buckets (r13): maxDf here is SEMANTIC — the batch detector and
    * its DuckDB oracle both drop over-df seeds as boilerplate, so a
    * salvage that let hot seeds emit would make the stream form
    * STRICTLY more permissive than the batch semantics it must replay
    * (extra shared-seed rows could promote pairs past the minSeeds
    * gate that the batch path rejects). The near-dup maxBucket, by
    * contrast, is purely operational — no batch counterpart — which is
    * what makes its salvage sound. Emits one unordered (id_a < id_b, h) row PER SHARED
    * SEED, CARRYING the seed hash so recovery counts DISTINCT seeds
    * (`groupBy(pair).agg(countDistinct(h)) >= minSeeds`) — which makes
    * the pair recovery idempotent under micro-batch REPLAY: a
    * redelivered batch re-appends index rows and re-emits the same
    * (h, pair) rows, and the distinct-seed count is unchanged (a bare
    * row count would double and promote 1-seed pairs past the gate).
    * Replayed index rows bias only the df cap, in the conservative
    * direction (recall loss, never false pairs); production appends
    * route through the txn-marker machinery
    * ([[graft.streaming.UpsertSink]]) for exactly-once.
    *
    * Index-scan PRUNING (the
    * [[graft.streaming.StreamNearDup.hybridCandidates]] contract): the
    * batch's distinct seed hashes are pushed into the posting read as
    * an IN filter, so an `h`-sorted index written with
    * [[graft.catalog.ParquetTable.IndexWriteOptions]] and compacted by
    * `h` serves a batch by reading ~the matching row groups — per-batch
    * cost tracks the batch, not the landed corpus. Batches whose seed
    * set exceeds `pruneKeyCap` fall back to the full posting join:
    * driver-held key plumbing costs grow with the key count while a
    * batch that wide amortizes its one scan (the
    * StreamNearDup.hybridCandidates measurement); raise the cap to
    * serve wide batches against a truly huge index. */
  def hybridSeedPairs(newSeeds: DataFrame, index: DataFrame,
                      maxDf: Int = 1000,
                      pruneKeyCap: Int = 8192): DataFrame = {
    // one distinct job; below the cap the driver-held keys serve both
    // the pushed IN filter and the posting join's broadcast side (the
    // StreamNearDup.hybridCandidates stance)
    val keys = newSeeds.select(col("h")).distinct()
    // matching stored postings feed the df count AND the cross join —
    // pin once; the relation is batch-seed-sized, not index-sized
    val matching = graft.plans.Materialize.stage(
      graft.plans.DriverFetch("hybrid seed serve: batch seed keys", Seq(keys),
          pruneKeyCap) match {
        case Some(Seq(keyRows)) =>
          val pruned =
            if (keyRows.isEmpty) index.filter(lit(false))
            else index.filter(org.apache.spark.sql.graft.ColumnBridge
              .inSet("h", keyRows.map(r => Long.box(r.getLong(0))).toSet))
          pruned.join(broadcast(newSeeds.sparkSession.createDataFrame(
            java.util.Arrays.asList(keyRows: _*), keys.schema)), Seq("h"))
        case _ => index.join(broadcast(keys), Seq("h"))
      })
    val newDf = newSeeds.groupBy(col("h")).agg(count(lit(1)).as("ndf"))
    val storedDf = matching.groupBy(col("h")).agg(count(lit(1)).as("sdf"))
    val okSeeds = newDf.join(storedDf, Seq("h"), "left")
      .filter(col("ndf") + coalesce(col("sdf"), lit(0L)) <= maxDf)
      .select(col("h"))
    val nb = newSeeds.join(broadcast(okSeeds), Seq("h"))
    val cross = nb
      .join(matching.select(col("h"), col("doc_id").as("o_id")), Seq("h"))
      .filter(col("o_id") =!= col("doc_id"))
      .select(least(col("doc_id"), col("o_id")).as("id_a"),
        greatest(col("doc_id"), col("o_id")).as("id_b"), col("h"))
    val within = nb
      .join(nb.select(col("h"), col("doc_id").as("o_id")), Seq("h"))
      .filter(col("doc_id") < col("o_id"))
      .select(col("doc_id").as("id_a"), col("o_id").as("id_b"), col("h"))
    cross.unionByName(within)
  }

  /** Per-shared-seed candidate pairs over a STREAMING (idCol, textCol)
    * relation. Aggregate to `>= minSeeds` and exact-verify batch-side.
    * `gramFn` defaults to the fast in-engine hash; pass
    * [[graft.text.Dedup.portableGramHashes]] for an engine-replayable
    * seed selection (the oracle path). */
  def seedPairStream(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 3, seedMod: Int = 8, maxDf: Int = 1000,
                     gramFn: Option[Column => Column] = None)(
      implicit spark: SparkSession): Dataset[SeedPair] = {
    import spark.implicits._
    val seeds = seedRelation(docs, idCol, textCol, w, seedMod, gramFn)
      .as[SeedDoc]
    seeds
      .groupByKey(_.h)
      .flatMapGroupsWithState[List[Long], SeedPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows: Iterator[SeedDoc], state) =>
          var members = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[SeedPair]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            if (!members.contains(d.doc_id) && members.size < maxDf) {
              members.foreach { m =>
                out += SeedPair(math.min(m, d.doc_id), math.max(m, d.doc_id))
              }
              members = d.doc_id :: members
            }
          }
          state.update(members)
          out.result().iterator
      }
  }

  /** The TTL'd (recent-window) form of [[seedPairStream]], emitting the
    * shared seed hash — tier A of the containment two-tier composition
    * (`q_stream_containment_twotier`), mirroring
    * [[StreamNearDup.candidateStream]]'s TTL mode: a posting bucket
    * whose newest member is older than `stateTtlMs` when the watermark
    * passes is evicted (EVENT-time timeout — deterministic under
    * replay), so state holds the arrival horizon instead of every
    * posting ever published. Beyond-horizon containment pairs are the
    * stored bulk index's job ([[hybridSeedPairs]] over the aged
    * postings — the two-tier glue is [[TieredIndex]]). The 0 ms-slack
    * watermark drops late rows here exactly as candidateStream does;
    * the composition's late-arrival semantics are pinned in
    * StreamingSpec. */
  def seedPairStreamTtl(docs: DataFrame, idCol: String, textCol: String,
                        stateTtlMs: Long, eventTimeCol: String,
                        w: Int = 3, seedMod: Int = 8, maxDf: Int = 1000,
                        gramFn: Option[Column => Column] = None)(
      implicit spark: SparkSession): Dataset[SeedPairH] = {
    import spark.implicits._
    val src = docs.filter(col(eventTimeCol).isNotNull)
      .withWatermark(eventTimeCol, "0 milliseconds")
    val seeds = seedRelationWithTs(src, idCol, textCol, eventTimeCol,
      w, seedMod, gramFn).as[SeedDocTs]
    seeds
      .groupByKey(_.h)
      .flatMapGroupsWithState[List[Long], SeedPairH](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (h, rows: Iterator[SeedDocTs], state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[SeedPairH]
            val batch = rows.toSeq
            batch.sortBy(_.doc_id).foreach { d =>
              if (!members.contains(d.doc_id) && members.size < maxDf) {
                members.foreach { m =>
                  out += SeedPairH(math.min(m, d.doc_id),
                    math.max(m, d.doc_id), h)
                }
                members = d.doc_id :: members
              }
            }
            state.update(members)
            state.setTimeoutTimestamp(
              math.max(batch.map(_.ts.getTime).max + stateTtlMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }
}
