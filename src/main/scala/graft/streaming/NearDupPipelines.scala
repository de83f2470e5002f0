package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import graft.catalog.ParquetTable
import graft.plans.Materialize

/** What one micro-batch of a streaming body cost: seconds up to
  * maintenance (serve, verify, the stored writes), seconds of the
  * maintenance, and whether it fired (a cadence fold, or for
  * [[AnnMaintain]] a retrain). */
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
  * also carries the event time `arrival`. The ANN bodies follow the
  * same shape ([[AnnPipelines]]). */
object NearDupPipelines {

  /** The candidate threshold (estimated Jaccard for the serve, exact
    * trigram Jaccard for the verify) of every pipeline. */
  val Threshold = 0.5

  private[streaming] val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private[streaming] def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))

  /** The hybrid serve against a stored index; the prune-key cap scales
    * with the measured index (wide batches against a huge index still
    * prune, narrow-vs-small skips the plumbing). */
  private[streaming] def serve(newBands: DataFrame, index: DataFrame,
                               indexBytes: Long): DataFrame =
    StreamNearDup.hybridCandidates(newBands, index, threshold = Threshold,
      pruneKeyCap = StreamNearDup.adaptiveKeyCap(indexBytes))

  /** Time a batch: `body` (serve and stored writes), then `maintain`
    * given the body's result, which reports whether the cadence fired. */
  private[streaming] def timed[A](body: => A)(maintain: A => Boolean): BatchReport = {
    val t0 = System.nanoTime()
    val a = body
    val t1 = System.nanoTime()
    val fired = maintain(a)
    BatchReport((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, fired)
  }

  /** The pair log of a stored-index body: `<name>_pairs` under `root`. */
  private[streaming] def pairLog(spark: SparkSession, name: String, root: String,
                                 family: IndexFamily): LeveledIndex =
    LeveledIndex.create(spark, s"${name}_pairs", s"$root/pairs",
      longs(family.pairCols: _*), "id_a")
}

/** An index family of the stored-index bodies ([[HybridNearDup]],
  * [[TwoTierNearDup]]): how a batch of documents signs into index rows
  * (with their event time as `ts` when `withTs`), how those rows serve
  * against the stored index of a measured size, the index's sort key
  * and the pair log's columns. */
final case class IndexFamily(
    sortKey: String, pairCols: Seq[String],
    sign: (DataFrame, Boolean) => DataFrame,
    serve: (DataFrame, DataFrame, Long) => DataFrame) {

  /** The schema of the index rows, `ts` included when `withTs`. */
  def rowSchema(spark: SparkSession, withTs: Boolean): StructType = {
    val docs = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      if (withTs) NearDupPipelines.DocSchema.add("arrival", TimestampType)
      else NearDupPipelines.DocSchema)
    sign(docs, withTs).schema
  }
}

object IndexFamily {

  /** MinHash-LSH band buckets keyed by `bh`; the estimated-Jaccard
    * hybrid serve emits one `(id_a, id_b)` row per candidate pair. */
  val Bands: IndexFamily = IndexFamily("bh", Seq("id_a", "id_b"),
    (docs, withTs) =>
      if (withTs) StreamNearDup.bandRelationWithTs(docs, "doc_id", "text", "arrival")
      else StreamNearDup.bandRelation(docs, "doc_id", "text"),
    NearDupPipelines.serve)

  /** Winnowing seed grams keyed by `h` (the containment family): word
    * trigrams under the portable gram hash the oracle replays, one in
    * eight kept as seeds, seeds carried by more than 1000 documents
    * dropped. The serve emits one `(id_a, id_b, h)` row per shared
    * seed; callers count distinct `h` per pair, which a replayed batch
    * cannot inflate. */
  val Seeds: IndexFamily = {
    val gram = Some(graft.text.Dedup.portableGramHashes(_: Column, 3))
    IndexFamily("h", Seq("id_a", "id_b", "h"),
      (docs, withTs) =>
        if (withTs) StreamSeedGram.seedRelationWithTs(docs, "doc_id", "text",
          "arrival", w = 3, seedMod = 8, gramFn = gram)
        else StreamSeedGram.seedRelation(docs, "doc_id", "text", w = 3,
          seedMod = 8, gramFn = gram),
      (seeds, index, indexBytes) => StreamSeedGram.hybridSeedPairs(seeds,
        index, maxDf = 1000,
        pruneKeyCap = StreamNearDup.adaptiveKeyCap(indexBytes)))
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

  def perBatch(batch: DataFrame, bid: Long): BatchReport = {
    val docs = batch.select(col("doc_id"), col("text"))
    timed {
      val (nb, newLabels, newFwd) = batchSteps(docs)
      labels.writeBatchIfAbsent(bid, newLabels)
      fwd.append(newFwd)
      txt.writeBatch(bid, docs)
      idx.writeBatch(bid, nb)
    } { _ =>
      val fired = IndexMaintenance.maintainComponents(labels, fwd, bid)
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
      IndexFamily.Bands.rowSchema(spark, withTs = false), "bh", every = every),
    LeveledIndex.create(spark, s"${name}_txt", s"$root/txt", DocSchema,
      "doc_id", every = every),
    LeveledIndex.create(spark, s"${name}_labels", s"$root/labels",
      longs("doc_id", "comp_id"), "doc_id", every = every),
    ParquetTable(spark, s"${name}_fwd", s"$root/fwd",
      longs("old_root", "new_root")).createIfNotExists())
}

/** The stored-index hybrid (`q_stream_neardup_hybrid`, and over seed
  * grams `q_stream_containment_hybrid`): the index lives in a leveled
  * run table, not the state store. Per micro-batch: sign the
  * documents, serve them against the stored index (new-vs-stored and
  * new-vs-new key joins), land the candidate pairs, then land the
  * batch's own index rows. Candidates are served against state the
  * batch itself mutates, so the pair landing is skip-if-landed (a
  * replay that sees its own rows in the index recomputes a different
  * pair set; the first attempt's atomic swap is the record). Recall is
  * full at any horizon — nothing ever evicts — and per-batch cost is
  * sized by the batch. */
final class HybridNearDup(family: IndexFamily, val idx: LeveledIndex,
                          val pairs: LeveledIndex) {

  def perBatch(batch: DataFrame, bid: Long): BatchReport = timed {
    // sign once, consume twice (serve + index write)
    val nb = Materialize.stage(family.sign(batch, false))
    pairs.writeBatchIfAbsent(bid, family.serve(nb, idx.read(), idx.table.tableBytes))
    idx.writeBatch(bid, nb)
  } { _ =>
    val fired = idx.maintain(bid)
    pairs.maintain(bid)
    fired
  }
}

object HybridNearDup {
  /** Over band buckets: the index `<name>_idx` and the pair log
    * `<name>_pairs` under `root`. */
  def create(spark: SparkSession, name: String, root: String): HybridNearDup =
    of(IndexFamily.Bands, spark, name, root)

  /** [[create]] over seed-gram postings (the containment family). */
  def containment(spark: SparkSession, name: String, root: String): HybridNearDup =
    of(IndexFamily.Seeds, spark, name, root)

  private def of(family: IndexFamily, spark: SparkSession, name: String,
                 root: String) = new HybridNearDup(family,
    LeveledIndex.create(spark, s"${name}_idx", s"$root/idx",
      family.rowSchema(spark, withTs = false), family.sortKey),
    pairLog(spark, name, root, family))
}

/** Tier B of the two-tier pipelines (`q_stream_neardup_twotier`, and
  * over seed grams `q_stream_containment_twotier`): the stored side
  * that keeps recall full beyond tier A's TTL'd stateful window
  * ([[StreamNearDup.candidateStream]] or
  * [[StreamSeedGram.seedPairStreamTtl]], a separate query over the same
  * arrivals). Per micro-batch, in [[TieredIndex]]'s call order: the
  * horizon is the batch's max `arrival` minus `ttlMs`; pending rows
  * behind it age into the bulk index exactly once; the batch is served
  * against the bulk tier only (the recent window is tier A's job); the
  * pairs land skip-if-landed; the batch's index rows land in pending. */
final class TwoTierNearDup(family: IndexFamily, val tier: TieredIndex,
                           val pairs: LeveledIndex, ttlMs: Long) {

  def perBatch(batch: DataFrame, bid: Long): BatchReport = timed {
    val cutoff = batch.agg(max(col("arrival"))).head().getTimestamp(0)
      .getTime - ttlMs
    tier.age(bid, cutoff)
    val nb = Materialize.stage(family.sign(batch, true))
    pairs.writeBatchIfAbsent(bid,
      family.serve(nb.drop("ts"), tier.bulk(), tier.idxT.tableBytes))
    tier.writePending(bid, nb)
  } { _ =>
    val fired = tier.maintain(bid)
    pairs.maintain(bid)
    fired
  }
}

object TwoTierNearDup {
  /** Over band buckets: the tier tables `<name>_pend` and `<name>_idx`
    * and the pair log `<name>_pairs` under `root`, aging rows `ttlMs`
    * behind the newest arrival of each batch. */
  def create(spark: SparkSession, name: String, root: String,
             ttlMs: Long): TwoTierNearDup =
    of(IndexFamily.Bands, spark, name, root, ttlMs)

  /** [[create]] over seed-gram postings (the containment family). */
  def containment(spark: SparkSession, name: String, root: String,
                  ttlMs: Long): TwoTierNearDup =
    of(IndexFamily.Seeds, spark, name, root, ttlMs)

  private def of(family: IndexFamily, spark: SparkSession, name: String,
                 root: String, ttlMs: Long) = new TwoTierNearDup(family,
    TieredIndex.create(spark, name, root, family.rowSchema(spark, withTs = true),
      sortKey = family.sortKey),
    pairLog(spark, name, root, family), ttlMs)
}
