package graft.vector

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.LeveledIndex

/** Incrementally-maintained TRAINING RESERVOIR for quantizer retrains —
  * the r15 closure of the last corpus-scan on the retrain path.
  *
  * [[IndexRetrain.trainSample]] bounds retrain COMPUTE (k-means / PQ
  * fits run over ~targetBytes of rows, not the corpus), but extracting
  * that sample is still a filter over the full landed vector table:
  * one corpus SCAN per retrain just to find the sample. Re-encoding is
  * inherently a corpus pass (every code references the new
  * quantizers); sample extraction is not — the sample's membership
  * predicate (`bucketOf(id) < keep`) is per-row and deterministic, so
  * it can be evaluated once per row AT INGEST and the matching rows
  * banked in a side table. The drift-wave probe measured exactly this:
  * flat sampled row counts (2,571 → 2,469) but training phases growing
  * ~1.5× as the landed table grew 1.8× — the growth is the scan, not
  * the fit.
  *
  * The reservoir stays EXACT, not approximate, because salted-hash
  * keeps are NESTED: `{bucket < k2} ⊆ {bucket < k1}` whenever
  * `k2 ≤ k1`. The reservoir banks each batch's `bucket < storedKeep`
  * rows; when the corpus grows and the size-targeted keep SHRINKS, the
  * reservoir thins in place to the new keep — and every row it drops
  * is a row the tighter sample would have filtered anyway. At any
  * moment `trainPop()` equals [[IndexRetrain.trainSample]] over the
  * full landed table at the stored keep, bit for bit (spec-pinned), so
  * the entries' fresh-build oracles are untouched by WHERE the sample
  * is read from.
  *
  * Storage is a [[graft.streaming.LeveledIndex]] (per-batch atomic
  * partition appends — idempotent under micro-batch replay — and
  * size-tiered cadence folds bounding the run count), so the reservoir
  * inherits the crash matrix proven there. The stored keep is a
  * `_keep` pointer file beside the table, written with the same
  * atomic create-then-rename as [[GenerationalIndex]]'s `_current`.
  * Shrink protocol: the pointer shrinks FIRST, then the runs rewrite
  * filtered. A crash mid-thin leaves over-stored rows that
  * `trainPop()`'s read-time filter hides and the next shrink reclaims
  * — never a missing sample row, which is the side that would break
  * the oracle equality.
  *
  * Scale shape at 100 TB: append cost is O(batch × keep-fraction) and
  * map-side; thinning and folds are O(reservoir) ≈ O(targetBytes) once
  * the corpus outgrows the target; a retrain's training read is
  * O(reservoir) with NO corpus scan. While the corpus is still under
  * target the reservoir is a full copy (keep = all buckets) — the
  * phase where a copy is cheap by definition. */
final class TrainReservoir private (
    val spark: SparkSession, val index: LeveledIndex,
    val idCol: String, root: String,
    val buckets: Int, seed: String, keep: TrainReservoir.Keep) {

  private def keepPtr = new HPath(root, "_keep")
  private def fs =
    keepPtr.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucket = graft.plans.Splits.bucketOf(col(idCol), seed, buckets)

  /** The keep level every banked row is guaranteed to satisfy
    * (`bucket < storedKeep`); `buckets` (= keep everything) until the
    * first shrink. */
  def storedKeep: Int = {
    val f = fs
    if (!f.exists(keepPtr)) buckets
    else {
      val in = f.open(keepPtr)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
  }

  private def writeKeep(k: Int): Unit = {
    val f = fs
    f.mkdirs(new HPath(root))
    val tmp = new HPath(root, s"_keep.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(k.toString.getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(keepPtr.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, keepPtr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    graft.catalog.Commits.committed(keepPtr.toString)
  }

  /** Bank batch `bid`'s sample rows — map-side filter, atomic
    * partition overwrite (replay-idempotent via the leveled write). */
  def append(bid: Long, batch: DataFrame): Unit =
    index.writeBatch(bid, batch.filter(bucket < lit(storedKeep.toLong)))

  /** Cadence maintenance: under a [[TrainReservoir.Target]] keep,
    * shrink the keep toward the target (given the CORPUS table's
    * measured bytes — the reservoir must mirror what
    * [[IndexRetrain.trainKeepBuckets]] would choose over the full
    * table); under a [[TrainReservoir.Fixed]] keep, never shrink. Then
    * fold the leveled runs. Both ride the SAME `every` cadence:
    * thinning is an O(reservoir) rewrite, so firing it per batch would
    * reintroduce the very per-batch table-sized cost the reservoir
    * exists to remove — between cadences the keep just rides slightly
    * high (appends bank a superset; `trainPop`'s read-time filter is
    * what defines the sample). */
  def maintain(bid: Long, corpusBytes: Long): Unit = {
    val every = index.every
    keep match {
      case TrainReservoir.Target(bytes)
          if every > 0 && bid % every == (every - 1).toLong =>
        val kNow = IndexRetrain.trainKeepBuckets(corpusBytes, bytes, buckets)
        if (kNow < storedKeep) {
          writeKeep(kNow)
          thin(kNow)
        }
      case _ => ()
    }
    index.maintain(bid)
    ()
  }

  /** Rewrite every run with the tightened filter, in place — each
    * run's rewrite an atomic partition overwrite. No replay-resume
    * bookkeeping: a crash mid-thin is NOT retried (the replayed
    * cadence recomputes the same keep, finds the pointer already
    * shrunk, and skips thinning entirely), which only leaves
    * over-stored rows the read-time filter hides until the next
    * shrink rewrites them; and a rewrite repeated with the same keep
    * is byte-idempotent anyway. Never a missing sample row — the side
    * that would break the oracle equality. */
  private def thin(keep: Int): Unit =
    index.table.listPartitions().foreach { spec =>
      index.table.overwritePartition(spec,
        index.table.readPartitionsData(Seq(spec))
          .filter(bucket < lit(keep.toLong)))
    }

  /** The training population a retrain should fit on. Contract
    * (spec-pinned): equals `IndexRetrain.trainSample(corpus, idCol,
    * storedKeep)` over the full landed corpus — the read-time filter
    * re-applies the keep so over-stored rows from a crashed shrink
    * never leak into training. */
  def trainPop(): DataFrame =
    index.read().filter(bucket < lit(storedKeep.toLong))
}

object TrainReservoir {
  /** How a reservoir's keep is chosen. */
  sealed trait Keep

  /** Pinned up front at `buckets` (entries whose oracle trains at a
    * known keep). */
  final case class Fixed(buckets: Int) extends Keep

  /** Shrunk on the cadence so the sample lands near `bytes` as the
    * corpus grows ([[IndexRetrain.trainKeepBuckets]]). */
  final case class Target(bytes: Long) extends Keep

  /** Open/create a reservoir under `path` for rows shaped `rowSchema`.
    * `seed` must match the keep the ORACLE replays
    * ([[IndexRetrain.trainSample]]'s default). */
  def apply(spark: SparkSession, name: String, path: String,
            rowSchema: org.apache.spark.sql.types.StructType,
            idCol: String, keep: Keep, every: Int = 8,
            buckets: Int = 10000,
            seed: String = "annretrain"): TrainReservoir = {
    val idx = LeveledIndex.create(spark, name, path, rowSchema,
      sortKey = idCol, every = every)
    val r = new TrainReservoir(spark, idx, idCol, path, buckets, seed, keep)
    keep match {
      case Fixed(k) if k < r.storedKeep => r.writeKeep(k)
      case _ => ()
    }
    r
  }
}
