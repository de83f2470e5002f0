package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import graft.catalog.ParquetTable
import graft.plans.Materialize

/** What one micro-batch of a near-duplicate pipeline cost: seconds up
  * to maintenance (serve, verify, the stored writes), seconds of the
  * cadence maintenance, and whether the cadence fired. */
final case class BatchReport(serveSec: Double, maintSec: Double,
                             maintained: Boolean)

/** The near-duplicate streaming pipelines' shared shape. Each pipeline
  * is one per-batch body over stored tables, driven as
  * `stream.writeStream.foreachBatch { (b, bid) => p.perBatch(b, bid) }`
  * — by its registry entry, by StreamProbe and by the crash specs
  * alike, so the exactly-once specs and the flat-cost probes run the
  * code a user runs. Stream state is empty throughout: every relation
  * a batch touches is bounded by the batch and its candidate fan-out.
  *
  * Input rows carry `doc_id` (Long) and `text`; the two-tier pipeline
  * also carries the event time `arrival`. */
object NearDupPipelines {

  /** The candidate threshold (estimated Jaccard for the serve, exact
    * trigram Jaccard for the verify) of every pipeline. */
  val Threshold = 0.5

  private[streaming] val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private[streaming] def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))

  private[streaming] def bandSchema(spark: SparkSession,
                                    tsCol: Option[String] = None): StructType = {
    val docs = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      tsCol.fold(DocSchema)(DocSchema.add(_, TimestampType)))
    tsCol.fold(StreamNearDup.bandRelation(docs, "doc_id", "text"))(
      StreamNearDup.bandRelationWithTs(docs, "doc_id", "text", _)).schema
  }

  /** The hybrid serve against a stored index; the prune-key cap scales
    * with the measured index (wide batches against a huge index still
    * prune, narrow-vs-small skips the plumbing). */
  private[streaming] def serve(newBands: DataFrame, index: DataFrame,
                               indexBytes: Long): DataFrame =
    StreamNearDup.hybridCandidates(newBands, index, threshold = Threshold,
      pruneKeyCap = StreamNearDup.adaptiveKeyCap(indexBytes))

  private[streaming] def timed(body: => Unit)(maintain: => Boolean): BatchReport = {
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    val fired = maintain
    BatchReport((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, fired)
  }
}

import NearDupPipelines._

/** The composed streaming dedup pipeline (`q_stream_dedup_pipeline`).
  * Per micro-batch: (1) the stored-index hybrid serves candidate pairs
  * (pushed bucket-key IN filter, hot buckets capped), (2) candidates
  * exact-verify against the landed corpus — endpoint texts come from a
  * doc-id-InSet-pruned read of the text table plus the batch itself,
  * never a corpus scan — and (3) verified pairs feed incremental
  * component maintenance (append-only labels + forwards).
  *
  * The stored relations are leveled run tables: per-batch writes land
  * as atomic batch-id partitions and the cadence pays O(new rows).
  * Labels are recomputed from stored state, so they land
  * skip-if-landed (a replay's recompute is empty; overwriting would
  * delete the first attempt's rows — see
  * [[LeveledIndex.writeBatchIfAbsent]]); texts and bands are a pure
  * function of the batch and land by partition replacement. The four
  * writes are not atomic as a group; a crash between them replays the
  * whole batch, and the label algebra makes that exactly-once (a
  * redelivered endpoint is known and appends nothing; an applied merge
  * yields no root pair). Maintenance follows the labels' cadence:
  * [[IndexMaintenance.maintainComponents]] closes the forwards in place
  * and folds labels on a size trigger, then the band and text runs fold
  * through [[LeveledIndex.maintain]]. */
final class DedupPipeline(val idx: LeveledIndex, val txt: LeveledIndex,
                          val labels: LeveledIndex, val fwd: ParquetTable) {

  def perBatch(batch: DataFrame, bid: Long): BatchReport =
    perBatch(batch, bid, _ => ())

  /** [[perBatch]] with the failure-injection seam `interruptAfter`,
    * called with "between-appends" (labels and forwards landed, texts
    * and bands not), "after-appends" (all four writes landed) and, on a
    * cadence-closing batch, "after-components" (component maintenance
    * committed, band and text folds not run). */
  private[graft] def perBatch(batch: DataFrame, bid: Long,
                              interruptAfter: String => Unit): BatchReport = {
    val docs = batch.select(col("doc_id"), col("text"))
    timed {
      val (nb, newLabels, newFwd) = batchSteps(docs)
      labels.writeBatchIfAbsent(bid, newLabels)
      fwd.append(newFwd)
      interruptAfter("between-appends")
      txt.writeBatch(bid, docs)
      idx.writeBatch(bid, nb)
      interruptAfter("after-appends")
    } {
      val fired = IndexMaintenance.maintainComponents(labels, fwd, bid)
      if (fired) interruptAfter("after-components")
      idx.maintain(bid)
      txt.maintain(bid)
      fired
    }
  }

  /** The batch-sized steps — band, serve, endpoint fetch, verify,
    * component appends — returning the batch's band rows and the label
    * and forward rows to append, each staged. */
  private[graft] def batchSteps(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val nb = Materialize.stage(StreamNearDup.bandRelation(docs, "doc_id", "text"))
    val cands = Materialize.stage(serve(nb, idx.read(), idx.table.tableBytes))
    // endpoint texts: pruned stored read + the batch itself (batch docs
    // land in the text table only after verify)
    val eps = Materialize.modelState(
      cands.select(col("id_a").as("doc_id"))
        .unionByName(cands.select(col("id_b").as("doc_id"))).distinct(),
      "dedup-pipeline candidate endpoints (batch × fan-out, " +
        "hot-bucket-capped)", 1 << 20)
    val stored =
      if (eps.isEmpty) txt.read().filter(lit(false))
      else txt.read().filter(org.apache.spark.sql.graft.ColumnBridge.inSet(
        "doc_id", eps.map(r => Long.box(r.getLong(0)): Any).toSet))
    val verified = Materialize.stage(
      graft.text.Dedup.verifyPairsJaccard(stored.unionByName(docs), "doc_id",
          "text", cands, threshold = Threshold)
        .select(col("id_a"), col("id_b")))
    val (nl, nf) = graft.plans.IncrementalComponents
      .batchAppends(labels.read(), fwd.read(), verified)
    (nb, Materialize.stage(nl), Materialize.stage(nf))
  }
}

object DedupPipeline {
  /** The pipeline's four tables under `root`, named `<name>_idx`,
    * `_txt`, `_labels` and `_fwd`; the leveled tables maintain every
    * `every` batches. */
  def create(spark: SparkSession, name: String, root: String,
             every: Int = 8): DedupPipeline = new DedupPipeline(
    LeveledIndex.create(spark, s"${name}_idx", s"$root/idx",
      bandSchema(spark), "bh", every = every),
    LeveledIndex.create(spark, s"${name}_txt", s"$root/txt", DocSchema,
      "doc_id", every = every),
    LeveledIndex.create(spark, s"${name}_labels", s"$root/labels",
      longs("doc_id", "comp_id"), "doc_id", every = every),
    ParquetTable(spark, s"${name}_fwd", s"$root/fwd",
      longs("old_root", "new_root")).createIfNotExists())
}

/** The stored-index near-duplicate hybrid (`q_stream_neardup_hybrid`):
  * the band index lives in a leveled run table, not the state store.
  * Per micro-batch: sign the documents, serve them against the stored
  * index (new-vs-stored and new-vs-new bucket joins), land the
  * candidate pairs, then land the batch's own band rows. Candidates
  * are served against state the batch itself mutates, so the pair
  * landing is skip-if-landed (a replay that sees its own bands in the
  * index recomputes a slightly different pair set; the first attempt's
  * atomic swap is the record). Recall is full at any horizon — nothing
  * ever evicts — and per-batch cost is sized by the batch. */
final class HybridNearDup(val idx: LeveledIndex, val pairs: LeveledIndex) {

  def perBatch(batch: DataFrame, bid: Long): BatchReport = timed {
    // sign once, consume twice (serve + index write)
    val nb = Materialize.stage(StreamNearDup.bandRelation(batch, "doc_id", "text"))
    pairs.writeBatchIfAbsent(bid, serve(nb, idx.read(), idx.table.tableBytes))
    idx.writeBatch(bid, nb)
  } {
    val fired = idx.maintain(bid)
    pairs.maintain(bid)
    fired
  }
}

object HybridNearDup {
  /** The band index `<name>_idx` and the pair log `<name>_pairs`. */
  def create(spark: SparkSession, name: String, root: String): HybridNearDup =
    new HybridNearDup(
      LeveledIndex.create(spark, s"${name}_idx", s"$root/idx",
        bandSchema(spark), "bh"),
      LeveledIndex.create(spark, s"${name}_pairs", s"$root/pairs",
        longs("id_a", "id_b"), "id_a"))
}

/** Tier B of the two-tier near-duplicate pipeline
  * (`q_stream_neardup_twotier`): the stored side that keeps recall full
  * beyond tier A's TTL'd stateful window
  * ([[StreamNearDup.candidateStream]], a separate query over the same
  * arrivals). Per micro-batch, in [[TieredIndex]]'s call order: the
  * horizon is the batch's max `arrival` minus `ttlMs`; pending rows
  * behind it age into the bulk index exactly once; the batch is served
  * against the bulk tier only (the recent window is tier A's job); the
  * pairs land skip-if-landed; the batch's band rows land in pending. */
final class TwoTierNearDup(val tier: TieredIndex, val pairs: LeveledIndex,
                           ttlMs: Long) {

  def perBatch(batch: DataFrame, bid: Long): BatchReport = timed {
    val cutoff = batch.agg(max(col("arrival"))).head().getTimestamp(0)
      .getTime - ttlMs
    tier.age(bid, cutoff)
    val nb = Materialize.stage(
      StreamNearDup.bandRelationWithTs(batch, "doc_id", "text", "arrival"))
    pairs.writeBatchIfAbsent(bid,
      serve(nb.drop("ts"), tier.bulk(), tier.idxT.tableBytes))
    tier.writePending(bid, nb)
  } {
    val fired = tier.maintain(bid)
    pairs.maintain(bid)
    fired
  }
}

object TwoTierNearDup {
  /** The tier tables `<name>_pend` and `<name>_idx` and the pair log
    * `<name>_pairs` under `root`, aging rows `ttlMs` behind the newest
    * arrival of each batch. */
  def create(spark: SparkSession, name: String, root: String,
             ttlMs: Long): TwoTierNearDup = new TwoTierNearDup(
    TieredIndex.create(spark, name, root, bandSchema(spark, Some("arrival")),
      sortKey = "bh"),
    LeveledIndex.create(spark, s"${name}_pairs", s"$root/pairs",
      longs("id_a", "id_b"), "id_a"),
    ttlMs)
}
