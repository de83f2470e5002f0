package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType, TimestampType}
import graft.catalog.{Merge, ParquetTable}
import graft.vector.{Ann, GenerationalIndex, IndexHealth, IndexRetrain, Pq,
  TrainReservoir}
import NearDupPipelines.timed

/** The ANN streaming loops' shared pieces. Input rows carry `vec_id`
  * (Long) and `embedding` (array<double>); the two-tier loop also
  * carries the event time `ts`. The index is a [[GenerationalIndex]] of
  * the IVF-PQ layout [[IndexRetrain.buildGeneration]] lands (16 cells,
  * 8 PQ subspaces over 64 dimensions). */
object AnnPipelines {

  private[streaming] val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  private[streaming] val AssignSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cid", LongType)))

  private[streaming] val CodesSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("sub", IntegerType),
    StructField("code", LongType)))

  /** The generational index under `root`. A fresh root gets generation
    * 0: quantizers trained on `history`, index relations empty (they
    * fill by streaming encode-append). */
  private[streaming] def index(spark: SparkSession, root: String,
                               history: DataFrame): GenerationalIndex = {
    val idx = new GenerationalIndex(spark, s"$root/index")
    if (idx.currentGen().isEmpty) {
      IndexRetrain.buildGeneration(spark, idx.genDir(0L), history,
        spark.createDataFrame(java.util.Collections.emptyList[Row](), VecSchema),
        "vec_id", "embedding")
      idx.publish(0L)
    }
    idx
  }

  /** The PQ codes (`vec_id`, `sub`, `code`) of `vecs` under `books`. */
  private[streaming] def codes(vecs: DataFrame,
                               books: Seq[(Int, Seq[(Long, Seq[Double])])]): DataFrame =
    Pq.encode(vecs, "vec_id", "embedding", 8, 64, books)
      .select(col("vec_id"), col("sub"), col("code"))
}

import AnnPipelines._

/** The ANN day-2 loop (`q_stream_ann_maintain`): ingest, monitor,
  * retrain, swap. Per micro-batch:
  *
  *  1. The batch encode-appends into the CURRENT generation's assign and
  *     codes relations against its stored quantizers (no training
  *     lineage per batch), through leveled writes: a replayed batch
  *     replaces its own run instead of doubling a vector's ADC sum. The
  *     landed vectors (what a retrain re-encodes — a duplicate there
  *     would double its codes) and the training reservoir (the
  *     retrain's sample, banked at ingest) land the same way.
  *  2. The batch is scored at assign time and folded into the monitor's
  *     sufficient statistics — (cid, gen) → (n, ssimq), k × windows
  *     rows — by [[UpsertSink]]'s exactly-once additive merge. The first
  *     window into an empty relation is the held-out baseline `train`,
  *     at bootstrap and after every rebase, which keeps the loop armed
  *     for the next drift wave; later windows rotate (`w<bid>`, the
  *     superseded one dropped first), so the decision compares the
  *     trailing window, with its full accumulated drift, against the
  *     baseline rather than a pool its healthy early windows dilute.
  *  3. [[IndexHealth.cellHealthTrailing]] decides; a drifted cell
  *     retrains on the reservoir, re-encodes the landed vectors and
  *     publishes the next generation ([[IndexRetrain.retrainIfDrifted]]);
  *     the baseline then rebases (statistics truncated — flags mean a
  *     stale quantizer, not different data; the truncate keeps the
  *     sink's txn markers, so a replayed earlier batch stays skipped).
  *
  * Replays: a redelivered batch's merge is marker-skipped, so it cannot
  * double-count a cell. A crash after the publish but before the rebase
  * leaves the batch's drifted window in the statistics; its replay finds
  * the current generation built through this batch (the base run's
  * read-through marker) and rebases without retraining again.
  *
  * The stream driving this body checkpoints at [[checkpoint]], which
  * also holds the statistics sink's epoch. */
final class AnnMaintain(val index: GenerationalIndex, val vecs: LeveledIndex,
                        val resv: TrainReservoir, val stats: ParquetTable,
                        name: String, val checkpoint: String) {

  private val statsSink = new UpsertSink(stats, Seq("cid", "gen"),
    Map("n" -> (Merge.tgt("n") + Merge.src("n")),
      "ssimq" -> (Merge.tgt("ssimq") + Merge.src("ssimq"))), checkpoint)

  /** One micro-batch; `maintained` reports a retrain. */
  def perBatch(batch: DataFrame, bid: Long): BatchReport = {
    val sb = batch.sparkSession
    val vs = batch.select(col("vec_id"), col("embedding"))
    timed {
      val stage = index.currentDir()
      val cents = sb.read.parquet(s"$stage/centroids")
      val books = Pq.booksFrom(sb.read.parquet(s"$stage/codebooks"))
      val assignIdx = IndexRetrain.genRelation(sb, s"${name}_assign",
        s"$stage/assign", AssignSchema, "vec_id")
      val codesIdx = IndexRetrain.genRelation(sb, s"${name}_codes",
        s"$stage/codes", CodesSchema, "vec_id")
      assignIdx.writeBatch(bid, Ann.ivfAssign(vs, "vec_id", "embedding", cents))
      codesIdx.writeBatch(bid, codes(vs, books))
      assignIdx.maintain(bid)
      codesIdx.maintain(bid)
      vecs.writeBatch(bid, vs)
      vecs.maintain(bid)
      resv.append(bid, vs)
      resv.maintain(bid, vecs.table.tableBytes)
      val tag = if (stats.read().isEmpty) "train" else s"w$bid"
      // monitor state stays ≤ 2k rows (baseline + trailing window); a
      // replayed batch re-keeps its own window
      if (tag != "train")
        stats.overwrite(stats.read().filter(
          col("gen") === "train" || col("gen") === lit(tag)))
      statsSink.apply(IndexHealth.scoredStats(IndexHealth
        .assignScored(vs, "vec_id", "embedding", cents)
        .withColumn("gen", lit(tag))
        .select(col("cid").cast("long").as("cid"), col("simq"), col("gen"))), bid)
      (tag, assignIdx)
    } { case (tag, assignIdx) =>
      // minCellN keeps the baseline-only first window quiet
      val retrained = assignIdx.builtThrough.exists(bid <= _) ||
        IndexRetrain.retrainIfDrifted(index,
          IndexHealth.cellHealthTrailing(stats.read(), tag, minCellN = 8L),
          resv.trainPop(), vecs.read(), "vec_id", "embedding",
          // the rebuild reads the vectors THROUGH this batch
          throughBid = Some(bid))
      if (retrained) stats.truncate()
      retrained
    }
  }

  /** The staged IVF-PQ serve of `queries` (`qid`, `embedding`) from the
    * generation serving now. */
  def serve(queries: DataFrame): DataFrame =
    IndexRetrain.serveStage(index.spark, index.currentDir(), queries)
}

object AnnMaintain {
  /** The loop's tables under `root`: the index (generation 0 trained on
    * `history` when fresh), the landed vectors `<name>_vecs`, the
    * training reservoir `<name>_resv` under the `keep` policy, and the
    * monitor statistics `<name>_stats`. */
  def create(spark: SparkSession, name: String, root: String,
             history: DataFrame, keep: TrainReservoir.Keep): AnnMaintain =
    new AnnMaintain(index(spark, root, history),
      LeveledIndex.create(spark, s"${name}_vecs", s"$root/vecs", VecSchema,
        sortKey = "vec_id"),
      TrainReservoir(spark, s"${name}_resv", s"$root/resv", VecSchema,
        "vec_id", keep),
      ParquetTable(spark, s"${name}_stats", s"$root/stats", StructType(Seq(
        StructField("cid", LongType), StructField("gen", StringType),
        StructField("n", LongType), StructField("ssimq", LongType))))
        .createIfNotExists(),
      name, s"$root/ckpt")
}

/** The two-tier (recency-windowed) ANN loop (`q_stream_ann_twotier`):
  * arriving vectors are findable the moment they land (tier A — the
  * raw-vector pending window, encoded at serve time against the stored
  * quantizers), while vectors the horizon has aged out live only as PQ
  * codes in the bulk tier (tier B — encoded once, at aging, by
  * [[TieredIndex.age]]'s transform: a pure function of the aged rows and
  * the published generation, so the exactly-once migration holds). Per
  * micro-batch: the horizon is the batch's max `ts` minus `ttlMs`;
  * pending rows behind it age into the bulk tier encoded; the batch
  * lands in pending; the bulk tier folds on the cadence. */
final class AnnTwoTier(val index: GenerationalIndex, val tier: TieredIndex,
                       ttlMs: Long) {

  def perBatch(batch: DataFrame, bid: Long): BatchReport = timed {
    val sb = batch.sparkSession
    val stage = index.currentDir()
    val cents = sb.read.parquet(s"$stage/centroids")
    val books = Pq.booksFrom(sb.read.parquet(s"$stage/codebooks"))
    val cutoff = batch.agg(max(col("ts"))).head().getTimestamp(0).getTime - ttlMs
    tier.age(bid, cutoff, transform = aged => {
      val vs = aged.select(col("vec_id"), col("embedding"))
      codes(vs, books)
        .join(Ann.ivfAssign(vs, "vec_id", "embedding", cents), Seq("vec_id"))
        .select(col("vec_id"), col("cid"), col("sub"), col("code"))
    })
    tier.writePending(bid, batch.select(col("vec_id"), col("embedding"), col("ts")))
  } { _ => tier.maintain(bid) }

  /** The staged IVF-PQ serve of `queries` (`qid`, `embedding`) over both
    * tiers: the bulk tier's stored assignment and codes, plus the
    * pending window assigned and encoded on the fly. The answer equals
    * a single-tier index over the same vectors. */
  def serve(queries: DataFrame): DataFrame = {
    val spark = index.spark
    val stage = index.currentDir()
    val cents = spark.read.parquet(s"$stage/centroids")
    val booksDf = spark.read.parquet(s"$stage/codebooks")
    val bulk = tier.bulk()
    val pend = tier.pendT.read().select(col("vec_id"), col("embedding"))
    IndexRetrain.serve(
      bulk.filter(col("sub") === 0).select(col("vec_id"), col("cid"))
        .unionByName(Ann.ivfAssign(pend, "vec_id", "embedding", cents)),
      bulk.select(col("vec_id"), col("sub"), col("code"))
        .unionByName(codes(pend, Pq.booksFrom(booksDf))),
      cents, booksDf, queries)
  }
}

object AnnTwoTier {
  /** The index under `root` (generation 0 trained on `history` when
    * fresh) and the tier tables `<name>_pend` and `<name>_idx` under
    * `root/tier`, aging vectors `ttlMs` behind the newest `ts` of each
    * batch. */
  def create(spark: SparkSession, name: String, root: String,
             history: DataFrame, ttlMs: Long): AnnTwoTier =
    new AnnTwoTier(index(spark, root, history),
      TieredIndex.create(spark, name, s"$root/tier",
        VecSchema.add("ts", TimestampType),
        sortKey = "vec_id",
        bulkSchema = Some(AssignSchema.add("sub", IntegerType).add("code", LongType))),
      ttlMs)
}
