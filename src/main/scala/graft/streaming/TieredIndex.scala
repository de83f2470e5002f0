package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.catalog.ParquetTable

/** Tier-B storage of the TWO-TIER streaming dedup composition
  * (`q_stream_neardup_twotier`): a horizon-bounded PENDING table (rows
  * whose event time is still inside the TTL window — tier A's stateful
  * index owns their recall) and the key-sorted BULK index (rows the
  * window has aged out — full recall at any horizon), glued by the
  * AGING path that migrates pending rows once the watermark passes
  * their arrival.
  *
  * ==Exactly-once aging==
  * The r13 form appended aged rows to the bulk index and then deleted
  * them from pending — two mutations on two tables, so a crash between
  * them made the REPLAYED batch re-age the same rows and append them to
  * the index a second time (answers stayed correct through the entries'
  * distinct + exact verify, but bucket membership counts and index
  * bytes inflated forever). Here BOTH tables are hive-partitioned by a
  * `mig` batch-id column and every per-batch write is an ATOMIC
  * PARTITION OVERWRITE ([[graft.catalog.ParquetTable.overwritePartition]]
  * — stage, park, rename), which makes each step IDEMPOTENT under
  * micro-batch replay rather than marker-skipped:
  *
  *  - [[age]] lands the rows batch `bid` expired in index partition
  *    `mig=bid`. The aged set deliberately EXCLUDES pending partition
  *    `mig=bid` (this batch's own rows, which only exist on a replay
  *    whose first attempt crashed after [[writePending]]) — so the aged
  *    set is a pure function of the pending state the batch started
  *    from, and a replay that recomputes it either sees the identical
  *    rows (delete not yet committed → the partition overwrite rewrites
  *    the same bytes) or the empty set (delete committed → the guard
  *    skips, the partition already holds the rows). No interleaving
  *    duplicates a row.
  *  - [[writePending]] lands batch `bid`'s own rows in pending
  *    partition `mig=bid` — a replayed batch REPLACES its own partition
  *    instead of appending beside its first attempt.
  *  - [[maintain]] folds the accumulated per-batch `mig` partitions
  *    through the size-tiered [[LeveledIndex]] merge on the cadence
  *    (without a fold, the file count would grow with batch count
  *    instead of staying bounded; a FULL fold of the whole index would
  *    rewrite it every cadence). The leveled merges carry their own exactly-once
  *    protocol (destination-run txn markers — see [[LeveledIndex]]),
  *    and folding stays replay-safe against [[age]] because it runs
  *    strictly AFTER the batch's pending delete committed: a replay
  *    whose aged set could re-create `mig=bid` beside a folded copy
  *    cannot exist — the aged set is empty whenever the delete (and
  *    therefore any fold that followed it) committed.
  *
  * ==Late arrivals==
  * A row whose event time is already behind the horizon when it
  * arrives is DROPPED by tier A (candidateStream's 0 ms-slack
  * watermark), served against the bulk tier on arrival (so it still
  * pairs with everything already aged), lands in pending pre-aged and
  * migrates on the next batch's aging — after which future arrivals
  * find it through tier B. The one trade: its pairs against the
  * still-in-window rows are missed — the same trade the TTL'd
  * single-tier form makes for a dup arriving after eviction. Pinned
  * end to end by StreamingSpec's late-arrival test.
  *
  * Call order per batch (the entry/probe foreachBatch contract):
  * [[age]] → serve against [[bulk]] → [[writePending]] → [[maintain]].
  */
final class TieredIndex(val pendT: ParquetTable, val idxT: ParquetTable,
                        sortKey: String, compactEvery: Int = 8) {

  private def agedPred(bid: Long, cutoffMs: Long) =
    col("ts") <= lit(new java.sql.Timestamp(cutoffMs)) &&
      col("mig") =!= bid

  /** Migrate pending rows whose event time fell behind `cutoffMs` into
    * the bulk index, exactly once (see class doc). The pending rewrite
    * is horizon-bounded, never corpus-sized — and skipped entirely when
    * nothing aged (a batch arriving faster than the horizon advances
    * would otherwise pay a pointless full pending rewrite).
    *
    * `transform` re-shapes the aged rows into the bulk tier's schema
    * on their way out of the window — identity for the dedup tiers
    * (bulk = pending minus `ts`); the two-tier ANN composition ENCODES
    * aged vectors here (assign + PQ codes against the stored
    * generation's quantizers), which is what lets the recent tier hold
    * raw vectors while the bulk tier holds only compressed codes. The
    * exactly-once argument is unchanged: the transform is a pure
    * function of the aged rows and FROZEN side state (the published
    * quantizer generation), so a replay recomputes either the
    * identical partition bytes or the empty set. */
  def age(bid: Long, cutoffMs: Long,
          transform: DataFrame => DataFrame = identity): Unit = {
    val aged = graft.plans.Materialize.stage(
      pendT.read().filter(agedPred(bid, cutoffMs)))
    if (!aged.isEmpty) {
      // key-sorted so the bulk tier's footer stats stay tight for the
      // serve's pushed IN filter
      idxT.overwritePartition(Seq("mig" -> bid.toString),
        transform(aged).sortWithinPartitions(sortKey))
      pendT.deleteWhere(agedPred(bid, cutoffMs))
    }
  }

  /** The bulk tier as the serve joins expect it (bookkeeping column
    * dropped; column pruning keeps it out of the scan). */
  def bulk(): DataFrame = idxT.read().drop("mig")

  /** Land batch `bid`'s own rows (the band/seed relation WITH its `ts`
    * column) in pending — idempotent under replay (see class doc). */
  def writePending(bid: Long, nb: DataFrame): Unit =
    pendT.overwritePartition(Seq("mig" -> bid.toString), nb)

  private val leveled = new LeveledIndex(idxT, sortKey, compactEvery)

  /** Cadence maintenance of the bulk index: the size-tiered
    * [[LeveledIndex]] fold. The cadence pays O(rows aged since the last
    * cadence), large merges fire geometrically less often, and run/file
    * counts stay bounded (≤ fanout · levels). */
  def maintain(bid: Long): Boolean = leveled.maintain(bid)
}

object TieredIndex {
  /** Create the pending + bulk tables under `root`. `rowSchema` is the
    * band/seed relation schema INCLUDING the event-time column `ts`;
    * the bulk tier stores the same rows minus `ts` unless `bulkSchema`
    * overrides it (the aging `transform` must then produce that shape
    * — the two-tier ANN's encoded-codes tier). Both tables gain the
    * `mig` batch-id partition column. */
  def create(spark: org.apache.spark.sql.SparkSession, name: String,
             root: String, rowSchema: StructType, sortKey: String,
             compactEvery: Int = 8,
             bulkSchema: Option[StructType] = None): TieredIndex = {
    val mig = StructField("mig", LongType, nullable = false)
    val pendT = ParquetTable(spark, s"${name}_pend", s"$root/pend",
      StructType(rowSchema.fields :+ mig), partitionCols = Seq("mig"))
      .createIfNotExists()
    val idxT = ParquetTable(spark, s"${name}_idx", s"$root/idx",
      StructType(bulkSchema.fold(
        rowSchema.fields.filterNot(_.name == "ts"))(_.fields.toArray) :+ mig),
      partitionCols = Seq("mig"),
      writeOptions = ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    new TieredIndex(pendT, idxT, sortKey, compactEvery)
  }
}
