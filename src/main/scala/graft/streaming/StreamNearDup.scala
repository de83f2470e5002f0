package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.text.Dedup

/** Streaming near-duplicate detection: the LSH signature index as
  * STREAM STATE.
  *
  * The batch near-dup path ([[graft.text.Dedup.candidatePairs]])
  * materializes a signature relation and self-joins it — the whole
  * corpus at once. The streaming form is what an INGESTION pipeline
  * runs instead: every arriving document is MinHash-signed, exploded
  * into its LSH band buckets, and each bucket's accumulated membership
  * (every earlier document that hashed there, held in the state store)
  * is the index the newcomer is checked against. A pair that lands in
  * the same bucket across micro-batches is found the moment its second
  * member arrives — no batch-wide self-join ever runs.
  *
  * Determinism: candidate pairs are emitted as unordered (min, max) id
  * pairs, once per bucket, when the LATER member arrives (within a
  * batch, members are processed in id order). The emitted pair SET is
  * therefore exactly "all same-bucket pairs whose estimated Jaccard
  * clears the pre-filter" — independent of how documents are split
  * into micro-batches — which is what lets a batch oracle replay it.
  * Redelivery-safe: an id already in the bucket's membership is
  * skipped, so a replayed file emits nothing new.
  *
  * Precision is NOT decided here: like the batch path, the estimate
  * only pre-filters (same 4σ margin as
  * [[graft.text.Dedup.verifiedNearDuplicates]]); callers pipe the
  * emitted candidates through
  * [[graft.text.Dedup.verifyPairsJaccard]] for the exact w-gram
  * Jaccard — the streaming index decides recall only.
  *
  * Scale shape (the 100 TB story): state per bucket is its member
  * list — (id, k-slot signature), ~0.5 KB per membership at k = 64,
  * `bands` memberships per document, independent of document size (the
  * text itself never enters state, and never shuffles past the
  * signing map stage). Bucket membership is the same relation the
  * batch path self-joins, held incrementally; a year-long corpus run
  * backs it with the RocksDB state store and compacts via snapshots.
  * Per-bucket comparison cost is bounded exactly like the batch
  * self-join fan-out: a bucket only grows past a handful of members
  * where real duplicate mass exists. A pathological boilerplate bucket
  * (the stop-gram analogue) is capped by `maxBucket`: buckets at the
  * cap stop indexing new members — mirroring the batch path's
  * stop-gram df cap, which likewise trades recall on boilerplate
  * collisions for bounded fan-out. */
object StreamNearDup {

  /** One document's membership in one band bucket; `ts` is the event
    * time (null when the index runs without a TTL). It stays a raw
    * TIMESTAMP column end to end: the watermark rides the column's
    * attribute metadata, which an expression (unix_millis, cast) would
    * strip — and EventTimeTimeout requires the watermarked column to
    * be present in the grouped input. */
  final case class BucketDoc(band: Int, bh: Long, doc_id: Long,
                             sig: Array[Long], ts: java.sql.Timestamp)

  /** Unordered candidate pair, id_a < id_b. */
  final case class CandidatePair(id_a: Long, id_b: Long)

  /** Bucket state: accumulated members (id + signature). */
  final case class Member(id: Long, sig: Array[Long])

  /** Calibration of [[adaptiveKeyCap]]'s break-even. The cap balances
    * two costs that scale differently: driver-side key plumbing grows
    * with the KEY COUNT (`perKeyNanos` each — collect, local-relation
    * build, InSet construction, planning), while the fallback costs one
    * scan of the STORED INDEX (`scanBytesPerSec`). One key is therefore
    * worth holding per [[bytesPerKey]] = perKeyNanos · scanBytesPerSec
    * of index. [[KeyCapCalibration.Default]] carries THIS box's
    * measured numbers (~40 µs/key — ~3 s of plumbing at 76k keys — vs
    * ~1.6 GB/s of full-index scan → 64 KiB/key); on different hardware
    * run [[KeyCapCalibration.measure]] once and pass the result to
    * [[adaptiveKeyCap]] — the constants transfer by measurement, not by
    * faith. Answers never depend on the calibration (the cap only picks
    * WHICH plan serves — StreamingSpec pins regime-identical results). */
  final case class KeyCapCalibration(perKeyNanos: Long,
                                     scanBytesPerSec: Long) {
    /** Index bytes one key's plumbing pays for. */
    def bytesPerKey: Long =
      math.max(1L, perKeyNanos * scanBytesPerSec / 1000000000L)
  }

  object KeyCapCalibration {
    /** The build box's measured constants (r12/r13 probe forensics):
      * 40 µs/key, 1.6 GB/s → 64 KiB of index per key. */
    val Default: KeyCapCalibration = KeyCapCalibration(40000L, 1638400000L)

    /** One-time micro-measurement of the two constants on the current
      * hardware, CLAMPED to sane bounds (a timer hiccup must never
      * produce a degenerate cap) and logged. Per-key cost: build the
      * driver-held key relation and the pushed InSet filter and force
      * planning — the exact plumbing the serve pays; no job runs.
      * Scan throughput: one pass over a freshly written ~128 MB
      * incompressible parquet relation (xxhash64 columns — a
      * compressible fixture would flatter the scan). Memoized per JVM
      * via [[measured]].
      *
      * The per-key cost is a TWO-POINT MARGINAL of the FULL pruned
      * serve path: at the 8192-key floor and again at 65536 keys (the
      * operating point where the cap actually binds — [[Default]]'s
      * 40 µs was observed at 76k keys), plumbing is timed end to end —
      * local key relation, InSet construction, planning the pushed
      * filter against a real parquet relation, and EXECUTING the
      * pruned count (the key set serializes into every task there; a
      * plan-only measurement misses it) — and perKeyNanos is the slope
      * between the two points. The r14 single-point version anchored
      * at the floor and planned against a LOCAL relation only: fixed
      * overhead dominated and the per-key cost read ~64× LOW
      * (~1 KiB/key where the 76k-key forensics said 64 KiB/key), an
      * overly prune-eager cap on any hardware it calibrated. The
      * marginal slope of the real path prices exactly what the cap
      * trades off — the cost of holding MORE keys near the break-even,
      * with fixed overhead differenced away. Each point is timed twice
      * after a warm-up pass and takes the min (JIT + planner-cache
      * noise); the whole measurement runs once per JVM ([[measured]]).
      * Either constant only moves the plan-choice break-even between
      * the clamps; the served answer never depends on it. */
    def measure(spark: SparkSession): KeyCapCalibration = {
      import org.apache.spark.sql.functions.{sum => fsum, xxhash64}
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("bh",
          org.apache.spark.sql.types.LongType)))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-keycap-cal")
      // the ~128 MB fixture is 32 × 4 MB files: under the default
      // 128 MB maxPartitionBytes the whole read packs into 1-2 tasks
      // and the "scan throughput" clocks ONE thread — but the fallback
      // this constant prices is a full scan of a LARGE stored index,
      // which runs at aggregate parallelism. Scope the conf down so
      // the fixture scans like the index would (restored after).
      val mpbKey = "spark.sql.files.maxPartitionBytes"
      val mpbOld = spark.conf.getOption(mpbKey)
      spark.conf.set(mpbKey, (4L * 1024 * 1024).toString)
      val (perKey, scanPerSec) =
        try {
          // TWO fixture sizes (~128 MB and ~512 MB of incompressible
          // xxhash64 longs — the key-columns profile Default's
          // forensics priced; array-laden rows scan slower, erring the
          // cap toward pruning, the side whose cost the ceiling
          // bounds). The throughput is the MARGINAL between the two
          // sizes: a one-shot 128 MB job is mostly fixed overhead
          // (task scheduling, codegen, JIT — measured 326 MB/s
          // "throughput" where the marginal says ~4× more), and the
          // fallback this prices is a large amortized scan.
          def writeFix(rows: Long, dir: String): Long = {
            spark.range(0, rows, 1, 32)
              .select(xxhash64(col("id")).as("bh"),
                xxhash64(col("id") + 1).as("x1"),
                xxhash64(col("id") + 2).as("x2"),
                xxhash64(col("id") + 3).as("x3"))
              .write.mode("overwrite").parquet(dir)
            graft.ingest.FileOps.listDir(
                java.nio.file.Paths.get(dir))
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(p => java.nio.file.Files.size(p)).sum
          }
          val bytesA = writeFix(4000000L, s"$tmp/a")
          val bytesB = writeFix(16000000L, s"$tmp/b")
          // touch EVERY column (column pruning would read a quarter of
          // the bytes) with modulo-bounded terms (a raw sum of random
          // longs overflows under ANSI); each point warmed and timed
          // twice, min taken
          def scanOnce(dir: String): Long = {
            val tS = System.nanoTime()
            spark.read.parquet(dir)
              .agg(fsum(col("bh") % 1000000L + col("x1") % 1000000L +
                col("x2") % 1000000L + col("x3") % 1000000L)).head()
            System.nanoTime() - tS
          }
          scanOnce(s"$tmp/a"); scanOnce(s"$tmp/b")
          val sA = math.min(scanOnce(s"$tmp/a"), scanOnce(s"$tmp/a"))
          val sB = math.min(scanOnce(s"$tmp/b"), scanOnce(s"$tmp/b"))
          val scan = ((bytesB - bytesA).toDouble * 1e9 /
            math.max(1L, sB - sA)).toLong
          // per-key plumbing against a parquet relation like the one
          // the serve prunes: plan + execute, so pushdown translation
          // and the per-task InSet serialization are both in the clock
          def plumb(k: Int): Long = {
            val rows = (0 until k).map(i =>
              org.apache.spark.sql.Row(i % 16, i.toLong * 2654435761L))
            val t0 = System.nanoTime()
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            val keys = rows.map(r => Long.box(r.getLong(1)): Any).toSet
            spark.read.parquet(s"$tmp/a")
              .filter(org.apache.spark.sql.graft.ColumnBridge
                .inSet("bh", keys))
              .count()
            System.nanoTime() - t0
          }
          val (k1, k2) = (8192, 65536)
          plumb(k1); plumb(k2) // warm the JIT and planner paths
          val p1 = math.min(plumb(k1), plumb(k1))
          val p2 = math.min(plumb(k2), plumb(k2))
          (math.max(1L, p2 - p1) / (k2 - k1).toLong, scan)
        } finally {
          mpbOld.fold(spark.conf.unset(mpbKey))(
            v => spark.conf.set(mpbKey, v))
          graft.ingest.FileOps.deleteRecursively(tmp)
        }
      val cal = KeyCapCalibration(
        math.min(1000000L, math.max(2000L, perKey)),
        math.min(64L << 30, math.max(64L << 20, scanPerSec)))
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"adaptiveKeyCap calibration: ${cal.perKeyNanos} ns/key, " +
          s"${cal.scanBytesPerSec >> 20} MB/s scan -> " +
          s"${cal.bytesPerKey >> 10} KiB of index per key" +
          (if (cal.perKeyNanos != perKey || cal.scanBytesPerSec != scanPerSec)
             s" (raw $perKey ns/key, ${scanPerSec >> 20} MB/s clamped)"
           else ""))
      cal
    }

    @volatile private var cached: Option[KeyCapCalibration] = None

    /** [[measure]], memoized per JVM. */
    def measured(spark: SparkSession): KeyCapCalibration =
      cached.getOrElse {
        val c = measure(spark)
        cached = Some(c)
        c
      }
  }

  /** Adaptive prune-key cap for the hybrid serves ([[hybridCandidates]]
    * and [[StreamSeedGram.hybridSeedPairs]]): how many driver-held
    * batch keys are worth holding before falling back to the full
    * index scan. The break-even scales with the index, not a constant —
    * a wide batch against a huge index should still prune, and a
    * narrow batch against a small index should skip the plumbing.
    * Derived from the index's stored data bytes
    * ([[graft.catalog.ParquetTable.tableBytes]] — a filesystem stat
    * walk, no Spark job) at one key per [[KeyCapCalibration.bytesPerKey]]
    * (64 KiB on this box's measured constants; pass
    * [[KeyCapCalibration.measured]] on other hardware), floored at the
    * r12-measured-safe 8192 and capped at 1 << 17, where the key
    * plumbing itself reaches multi-second planning and a batch that
    * wide amortizes the one scan it pays for. */
  def adaptiveKeyCap(indexBytes: Long,
                     cal: KeyCapCalibration = KeyCapCalibration.Default): Int =
    math.min(1L << 17,
      math.max(8192L, indexBytes / cal.bytesPerKey)).toInt

  /** The band-bucket relation of an (idCol, textCol) relation — one
    * row per (band, bh, doc_id, sig), map-only (the text column ends
    * here; only the ~0.5 KB signature travels further). Shared by the
    * stateful index ([[candidateStream]]) and the stored-index hybrid
    * ([[hybridCandidates]]); works on batch and streaming input alike. */
  def bandRelation(docs: DataFrame, idCol: String, textCol: String,
                   w: Int = 3, k: Int = 64, bands: Int = 16): DataFrame =
    bandRelationTs(docs, idCol, textCol, w, k, bands, None).drop("ts")

  /** [[bandRelation]] CARRYING the event-time column (as `ts`) — the
    * two-tier composition's PENDING relation needs each band row's
    * arrival time to decide when it expires from the recent in-memory
    * window into the stored bulk index. */
  def bandRelationWithTs(docs: DataFrame, idCol: String, textCol: String,
                         tsCol: String, w: Int = 3, k: Int = 64,
                         bands: Int = 16): DataFrame =
    bandRelationTs(docs, idCol, textCol, w, k, bands, Some(tsCol))

  /** [[bandRelation]] carrying a raw timestamp event-time column `ts`
    * (null when `tsCol` is None) — the TTL'd stateful index needs each
    * member's arrival time to anchor its bucket's eviction deadline,
    * and the column passes through UNWRAPPED so watermark metadata
    * survives (see [[BucketDoc]]). */
  private def bandRelationTs(docs: DataFrame, idCol: String, textCol: String,
                             w: Int, k: Int, bands: Int,
                             tsCol: Option[String]): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokenHashes(col(textCol)).as("th"),
        tsCol.map(col).getOrElse(lit(null).cast("timestamp")).as("__ts"))
      .select(col("doc_id"),
        Dedup.minhashFromBaseHashes(
          Dedup.shingleHashesFromTokenHashes(col("th"), w), k).as("sig"),
        col("__ts"))
      .select(col("doc_id"), col("sig"), col("__ts"),
        explode(Dedup.bandHashes(col("sig"), k, bands)).as("b"))
      .select(col("b.band").as("band"), col("b.bh").as("bh"),
        col("doc_id"), col("sig"), col("__ts").as("ts"))

  /** Candidate pairs of ONE arriving batch against a STORED band index
    * plus itself — the zero-state hybrid: the bulk index lives in a
    * stage table (appended per batch by the caller's foreachBatch),
    * stream state stays EMPTY, and each micro-batch pays two bucket
    * equi-joins: new-vs-new is batch-sized, and new-vs-stored scans the
    * stored index ONCE, map-only (the batch side broadcasts; the index
    * never shuffles and only matching rows survive the join) — the
    * per-batch index scan is the price of zero state, amortized by
    * batch sizing and columnar layout. This is the 100 TB answer to the stateful index's
    * linear state growth: storage holds the index (columnar,
    * compactable, bucketable by (band, bh)), the state store holds
    * nothing, and recall is FULL — a duplicate arriving years after
    * its original still finds it through the stored buckets, where the
    * TTL'd stateful form would have evicted it.
    *
    * `newBands`/`index` are [[bandRelation]] relations. Emitted pairs
    * are unordered (id_a < id_b), distinct within the batch; the same
    * 4σ pre-filter as [[candidateStream]] applies, so callers pipe
    * through [[graft.text.Dedup.verifyPairsJaccard]] identically.
    * Micro-batch REPLAY (failure redelivery) re-appends index rows and
    * re-emits the same pairs — callers dedup the pair relation (the
    * entries' distinct, which replay cannot perturb); production
    * appends route through the txn-marker machinery
    * ([[graft.streaming.UpsertSink]]) for exactly-once.
    *
    * Index-scan PRUNING: the batch's distinct `bh` keys (bounded:
    * batch docs × bands, a driver-held model-state fetch) are pushed
    * into the index read as an IN filter. When the index table is
    * written key-sorted with small row groups
    * ([[graft.catalog.ParquetTable.IndexWriteOptions]]) and compacted
    * by `bh`, parquet footer min/max stats prune the scan to ~the
    * matching row groups, so per-batch serve cost tracks the BATCH
    * size, not the index size — the steady-state 100 TB shape. A batch
    * whose key set exceeds `pruneKeyCap` falls back to the full bucket
    * join: driver-held key plumbing costs grow with the key count
    * (measured ~3 s of planning at 76k keys) while a batch that wide
    * amortizes the one scan it pays for — and the bulk-load batches
    * that produce such key sets land on a small index anyway. Raise
    * the cap when serving wide batches against a truly huge index.
    *
    * `maxBucket` bounds hot-bucket fan-out by SALTED SUB-BUCKETING
    * (r13 — the r12 form dropped hot buckets outright, and dup mass
    * concentrates exactly there): a bucket whose TOTAL membership
    * (stored index PLUS this batch) reaches the cap is split into
    * g = ceil(total / maxBucket) sub-buckets keyed by a hash of the
    * FULL k-slot signature, and the row joins run on (band, bh, sub)
    * (g is floored at 2 so a bucket exactly AT the cap still splits —
    * the hot predicate and the split agree at the boundary). Cold
    * buckets get g = 1 (sub = 0 on both sides — their plan is
    * byte-identical to the uncapped form). The salt is chosen so the
    * recall trade lands where it costs least:
    *   - identical signatures — template copies, the dominant mass in
    *     a real boilerplate bucket — always co-bucket, so their pairs
    *     keep FULL recall at any g; their pair count is also the TRUE
    *     answer (estimated Jaccard 1 clears any cutoff), so the work
    *     spent on them is output-sensitive, not wasted;
    *   - near-identical signatures may split across sub-buckets in
    *     THIS band (probability ~1/g per hot band) — but a true
    *     near-dup pair collides independently in each of the `bands`
    *     bands, and only HOT bands salvage, so the other bands carry
    *     the pair exactly as before;
    *   - coincidental collisions (different texts, one shared band
    *     hash — the quadratic-cost, empty-output case the cap exists
    *     for) have diverse signatures, so the hash spreads them and
    *     per-bucket compare cost drops from T² to ~T·maxBucket.
    * Without the stored count the new-vs-stored equi-join is quadratic
    * in bucket size as the index grows, and without the batch count a
    * degenerate bulk batch makes the within-batch self-join quadratic
    * in the batch. Both count scans read only join-key columns of
    * batch-key-bounded relations (column pruning keeps the wide `sig`
    * out). Salvaged buckets are logged (never silent). Note the
    * contrast with [[StreamSeedGram.hybridSeedPairs]]'s maxDf, which is
    * NOT salvaged: that cap is the batch detector's semantic stop-gram
    * `HAVING df <= maxDf` (oracle-pinned), not an operational bound.
    *
    * Batch-sized inputs run on the DRIVER ([[driverHybrid]]): the
    * batch's band rows and the matching index rows each come back in
    * one job when each holds at most 2^16 rows and 64 MiB
    * ([[graft.plans.DriverFetch]]), and the key set is within
    * `pruneKeyCap`; the same pairs return as a local relation instead
    * of a chain of ~17 single-task jobs. Larger inputs run the
    * distributed body described above. Selection is by size only. */
  def hybridCandidates(newBands: DataFrame, index: DataFrame,
                       threshold: Double = 0.7, k: Int = 64,
                       maxBucket: Int = 10000,
                       pruneKeyCap: Int = 8192): DataFrame =
    driverHybrid(newBands, index, threshold, k, maxBucket, pruneKeyCap)
      .getOrElse(hybridCandidatesDistributed(newBands, index, threshold, k,
        maxBucket, pruneKeyCap))

  /** Salvaged buckets are NEVER silent: a salvaged bucket still trades
    * SOME recall in its band (near-identical signatures may split). */
  private def warnSalvaged(hot: Long, maxBucket: Int): Unit =
    if (hot > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"hybridCandidates: $hot hot (band, bh) bucket(s) at/past " +
          s"maxBucket=$maxBucket salvaged via salted sub-bucketing — " +
          "identical-signature pairs keep full recall; near-identical " +
          "pairs may split in this band (other bands still carry them)")

  /** Per-bucket sub-bucket count g for a bucket of total membership `t`:
    * ceil(t / maxBucket) for a hot bucket — floored at 2, so the hot
    * predicate (t >= maxBucket) and the split agree at the boundary: a
    * bucket AT the cap is counted hot and actually sub-buckets (plain
    * ceil would give g = 1 there, logging a salvage that never
    * happened) — so each sub-bucket's EXPECTED size stays under the cap
    * and per-bucket compare fan-out drops from T² to ~T·maxBucket. */
  private def gOf(t: Long, maxBucket: Int): Int =
    if (t < maxBucket) 1
    else math.max(2, math.ceil(t.toDouble / maxBucket).toInt)

  /** The driver path of [[hybridCandidates]]: one fetch of the batch's
    * band rows with `hash(sig)`, the bucket keys derived on the driver,
    * one fetch of the matching index rows through the pushed `bh`
    * InSet (the exact (band, bh) match is checked on the driver — bh
    * hashes the band number, so the two differ only on a 64-bit
    * collision), then bucket counts, hot-bucket g, salted sub-buckets
    * and the cross/within pairs on the driver, the estimate through
    * [[agreement]] (the JVM mirror of `graft_sig_agreement`). None —
    * the distributed body serves — when a fetch is over the
    * [[graft.plans.DriverFetch]] caps, the key set is over
    * `pruneKeyCap` (the full-scan regime), the column types are not
    * (int band, long bh, long doc_id, array<long> sig), or a signature
    * is empty or holds a null slot (never produced by `graft_minhash`,
    * where the mirror's arithmetic would differ). */
  private def driverHybrid(newBands: DataFrame, index: DataFrame,
                           threshold: Double, k: Int, maxBucket: Int,
                           pruneKeyCap: Int): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def typed(df: DataFrame) = graft.plans.DriverFetch.hasTypes(df, "band" -> IntegerType,
      "bh" -> LongType, "doc_id" -> LongType, "sig" -> ArrayType(LongType))
    if (!typed(newBands) || !typed(index)) return None
    val cutoff = math.max(0.0, threshold - 2.0 / math.sqrt(k.toDouble))
    val nullable = newBands.schema("doc_id").nullable || index.schema("doc_id").nullable
    val outSchema = StructType(Seq(StructField("id_a", LongType, nullable),
      StructField("id_b", LongType, nullable)))
    def rowsOf(df: DataFrame) = df.select(col("band"), col("bh"), col("doc_id"),
      col("sig"), hash(col("sig")).as("h"))
    // a band row: bucket key, salt hash, and (id, signature) when both
    // are non-null — a null id or signature never pairs, but counts
    final case class Band(key: (Int, Long), h: Int, member: Option[(Long, Array[Long])])
    def bandsOf(rows: Array[Row]): Option[Array[Band]] = {
      val sigs = rows.map(r => if (r.isNullAt(3)) null else r.getSeq[Any](3))
      if (sigs.exists(s => s != null && (s.isEmpty || s.contains(null)))) None
      else Some(rows.zip(sigs).map { case (r, s) =>
        Band((r.getInt(0), r.getLong(1)), r.getInt(4),
          if (r.isNullAt(2) || s == null) None
          else Some((r.getLong(2), s.map(_.asInstanceOf[Long]).toArray)))
      })
    }
    graft.plans.DriverFetch("hybrid serve: batch band rows", Seq(rowsOf(newBands)))
      .flatMap { case Seq(batchRows) => bandsOf(batchRows) }
      .flatMap { batch =>
        val keys = batch.iterator.map(_.key).toSet
        if (keys.size > pruneKeyCap) None
        else if (keys.isEmpty) Some(graft.plans.DriverFetch.local(newBands, Nil, outSchema))
        else graft.plans.DriverFetch("hybrid serve: matching index rows",
            Seq(rowsOf(index.filter(org.apache.spark.sql.graft.ColumnBridge
              .inSet("bh", keys.map(kv => Long.box(kv._2): Any))))))
          .flatMap { case Seq(storedRows) => bandsOf(storedRows) }
          .map { storedAll =>
            val stored = storedAll.filter(b => keys.contains(b.key))
            // per-bucket TOTAL membership (stored + this batch); hot
            // buckets split into g salted sub-buckets, cold ones stay whole
            val total = (batch.iterator ++ stored.iterator).toSeq
              .groupMapReduce(_.key)(_ => 1L)(_ + _)
            val g = total.collect { case (key, t) if t >= maxBucket => key -> gOf(t, maxBucket) }
            warnSalvaged(g.size.toLong, maxBucket)
            def grouped(bands: Array[Band]) = bands.toSeq
              .flatMap(b => b.member.map(m =>
                (b.key, g.get(b.key).fold(0)(Math.floorMod(b.h, _))) -> m))
              .groupMap(_._1)(_._2)
            val (nb, ix) = (grouped(batch), grouped(stored))
            val out = scala.collection.mutable.LinkedHashSet.empty[Row]
            nb.foreach { case (bucket, members) =>
              for ((id, sig) <- members; (oId, oSig) <- ix.getOrElse(bucket, Nil)
                   if oId != id && agreement(sig, oSig) >= cutoff)
                out += Row(math.min(id, oId), math.max(id, oId))
              for ((id, sig) <- members; (oId, oSig) <- members
                   if id < oId && agreement(sig, oSig) >= cutoff)
                out += Row(id, oId)
            }
            graft.plans.DriverFetch.local(newBands, out.toSeq, outSchema)
          }
      }
  }

  /** The distributed body of [[hybridCandidates]] — the path for inputs
    * over the driver caps. */
  private[graft] def hybridCandidatesDistributed(
      newBands: DataFrame, index: DataFrame, threshold: Double, k: Int,
      maxBucket: Int, pruneKeyCap: Int): DataFrame = {
    val cutoff = math.max(0.0, threshold - 2.0 / math.sqrt(k.toDouble))
    // ONE distinct job computes the batch's bucket-key set; below the
    // cap the driver-held rows then serve BOTH pruning consumers — the
    // pushed bh IN filter and the (band, bh) key join's broadcast side
    // (a local relation: no second distributed distinct per consumer)
    val keys = newBands.select(col("band"), col("bh")).distinct()
    val fetchedKeys = graft.plans.DriverFetch("hybrid serve: batch bucket keys",
      Seq(keys), pruneKeyCap).map(_.head)
    // restrict the scan through the batch's BUCKET KEYS — the key set
    // broadcasts at any realistic batch size (16 bytes a key, vs
    // ~0.5 KB a full band row, which could blow past the broadcast
    // threshold and flip the index join to a sort-merge shuffle of the
    // whole index); the row join then runs batch-vs-matching. Two
    // PRUNED scans, deliberately NOT pinned: the membership-count scan
    // reads only the key columns (column pruning keeps the wide `sig`
    // out — a hot bucket is counted without ever materializing its
    // members), and keeping `matching` a straight FileScan join
    // preserves its size estimate so the cross join below broadcasts
    // it (an eagerly staged RDD loses stats and flips the cross join
    // into a full shuffle of the batch — measured 3× slower).
    val (pruned, batchKeys) = fetchedKeys match {
      case Some(rows) =>
        (if (rows.isEmpty) index.filter(lit(false))
         else index.filter(org.apache.spark.sql.graft.ColumnBridge
           .inSet("bh", rows.map(r => Long.box(r.getLong(1))).toSet)),
          newBands.sparkSession.createDataFrame(
            java.util.Arrays.asList(rows: _*), keys.schema))
      case None =>
        // key set too wide to hold driver-side: the documented
        // fallback — full scan, distributed key distinct
        (index, keys)
    }
    // buckets whose TOTAL membership (stored + this batch) is at/over
    // the cap are dropped before either row join multiplies their
    // members — counting the batch side too keeps the WITHIN-batch
    // self-join bounded against a degenerate bulk batch (a boilerplate
    // signature shared by the whole batch is quadratic without it),
    // the same both-sides HAVING the containment hybrid's maxDf makes.
    // Both count scans are key-columns-only (column pruning keeps the
    // wide `sig` out) and batch-key-bounded.
    val storedCnt = pruned.join(broadcast(batchKeys), Seq("band", "bh"))
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__sn"))
    // the counts relation is batch-key-bounded and (since the hot-only
    // refactor) has exactly ONE consumer — the hot-bucket fetch below;
    // the g relation it produces joins back as a LOCAL relation in both
    // key-cap regimes, so nothing here needs a pin: below the key cap
    // the full counts come to the driver in one bounded fetch, in the
    // wide-batch fallback only the (structurally tiny) hot subset does.
    val countsRel = newBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__nn"))
      .join(storedCnt, Seq("band", "bh"), "left")
      .select(col("band"), col("bh"),
        (col("__nn") + coalesce(col("__sn"), lit(0L))).as("__t"))
    // per-bucket sub-bucket count g ([[gOf]]), ONE definition for both
    // key-cap regimes: only the HOT rows of the counts relation come to
    // the driver (structurally tiny — #hot ≤ total membership /
    // maxBucket, so the 1<<20 bound implies a 10^10-member batch+index
    // join before it fails, loudly) and gOf is applied there; cold
    // buckets default to g = 1 through the left join below.
    val gSchema = org.apache.spark.sql.types.StructType(
      keys.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__g", org.apache.spark.sql.types.IntegerType, nullable = false))
    val hotRows: Array[org.apache.spark.sql.Row] =
      if (fetchedKeys.isEmpty)
        // wide-batch fallback: the counts relation is distributed, but
        // the HOT subset is still driver-sized — one bounded fetch
        // (countsRel has no other consumer since the hot-only refactor:
        // the g relation joins back as a LOCAL relation, so no pin)
        graft.plans.Materialize.modelState(
          countsRel.filter(col("__t") >= maxBucket),
          "hot hybrid buckets (≤ total bucket membership / maxBucket)",
          1 << 20)
      else
        graft.plans.Materialize.modelState(countsRel,
          "hybrid bucket membership counts (≤ batch bucket keys)",
          pruneKeyCap + 1).filter(_.getLong(2) >= maxBucket)
    warnSalvaged(hotRows.length.toLong, maxBucket)
    val bucketG: Option[DataFrame] =
      if (hotRows.isEmpty) None
      else Some(newBands.sparkSession.createDataFrame(
        java.util.Arrays.asList(hotRows.map(r => org.apache.spark.sql.Row(
          r.get(0), r.get(1), gOf(r.getLong(2), maxBucket))): _*), gSchema))
    // the salt rides each side map-side: a Murmur3 hash of the full
    // k-slot signature mod the bucket's g (deterministic, partition-
    // independent — identical signatures always land together). The
    // broadcast batch-key join stays underneath exactly as in the cold
    // plan (it carries the size-estimate correction, see below); the
    // hot-only g relation left-joins on top, cold buckets coalescing
    // to g = 1.
    def salted(df: DataFrame, g: DataFrame) =
      df.join(broadcast(batchKeys), Seq("band", "bh"))
        .join(broadcast(g), Seq("band", "bh"), "left")
        .withColumn("__sub",
          pmod(hash(col("sig")), coalesce(col("__g"), lit(1))))
    def pairsFrom(nb: DataFrame, matching: DataFrame,
                  keys: Seq[String]): DataFrame = {
      def renamed(df: DataFrame) = df.select(
        keys.map(col) ++ Seq(col("doc_id").as("o_id"),
          col("sig").as("o_sig")): _*)
      val cross = nb.join(renamed(matching), keys)
        .filter(col("o_id") =!= col("doc_id"))
        .filter(Dedup.estimatedJaccard(col("sig"), col("o_sig")) >= cutoff)
        .select(least(col("doc_id"), col("o_id")).as("id_a"),
          greatest(col("doc_id"), col("o_id")).as("id_b"))
      val within = nb.join(renamed(nb), keys)
        .filter(col("doc_id") < col("o_id"))
        .filter(Dedup.estimatedJaccard(col("sig"), col("o_sig")) >= cutoff)
        .select(col("doc_id").as("id_a"), col("o_id").as("id_b"))
      cross.unionByName(within).distinct()
    }
    bucketG match {
      case None =>
        pairsFrom(newBands.join(broadcast(batchKeys), Seq("band", "bh")),
          pruned.join(broadcast(batchKeys), Seq("band", "bh")),
          Seq("band", "bh"))
      case Some(g) =>
        pairsFrom(salted(newBands, g), salted(pruned, g),
          Seq("band", "bh", "__sub"))
    }
  }

  /** Agreement fraction of two k-slot signatures — the JVM mirror of
    * the codegen'd `graft_sig_agreement` expression (equal slots / k),
    * used on the state side where values are already deserialized. */
  private def agreement(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    var eq = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    if (a.length == 0) 0.0 else eq.toDouble / a.length
  }

  /** Candidate pairs over a STREAMING (idCol, textCol) relation.
    * Emits every same-bucket pair whose estimated Jaccard clears
    * `threshold - 2/√k` (the 4σ pre-filter), as append-mode output.
    * Follow with [[graft.text.Dedup.verifyPairsJaccard]] on the
    * corresponding batch relation for exact precision.
    *
    * `stateTtlMs` (with `eventTimeCol`, its arrival-time anchor)
    * bounds the index to a RECENT WINDOW: a bucket whose newest member
    * is older than the TTL when the watermark passes is evicted
    * (EVENT-time timeout — deterministic under replay, where a
    * processing-time TTL would evict by wall clock AND livelock
    * `processAllAvailable`: ProcessingTimeTimeout makes every batch
    * schedule a successor forever), so state holds the arrival horizon
    * instead of everything ever seen — the ×100 probe measured 765k
    * rows / 1.12 GB for the unbounded form, growing linearly forever.
    * The documented trade: a duplicate arriving AFTER its original's
    * bucket evicted is not paired here — beyond-horizon dups are the
    * batch path's job (re-run [[graft.text.Dedup.candidatePairs]] over
    * the landed corpus, or serve the bulk from a stored band index as
    * `q_stream_neardup_hybrid` does with ZERO stream state). `None`
    * (default) keeps the unbounded exact-index behavior. */
  def candidateStream(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, w: Int = 3,
                      k: Int = 64, bands: Int = 16,
                      maxBucket: Int = 10000,
                      stateTtlMs: Option[Long] = None,
                      eventTimeCol: Option[String] = None)(
      implicit spark: SparkSession): Dataset[CandidatePair] = {
    import spark.implicits._
    require(stateTtlMs.isEmpty || eventTimeCol.nonEmpty,
      "stateTtlMs needs eventTimeCol: the eviction horizon is event-time")
    val cutoff = math.max(0.0, threshold - 2.0 / math.sqrt(k.toDouble))
    // watermark BEFORE signing: zero lateness slack — the TTL horizon
    // itself is the slack, and the watermark only drives eviction
    val src = (stateTtlMs, eventTimeCol) match {
      // a null event time cannot anchor an eviction horizon (and would
      // NPE in the state function) — TTL mode drops such rows at the
      // source, loudly documented rather than silently crashing
      case (Some(_), Some(c)) =>
        docs.filter(col(c).isNotNull).withWatermark(c, "0 milliseconds")
      case _ => docs
    }
    // sign + band map-side: the text column ends here
    val exploded = bandRelationTs(src, idCol, textCol, w, k, bands,
      if (stateTtlMs.isDefined) eventTimeCol else None)
      .as[BucketDoc]
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    exploded
      .groupByKey(d => (d.band, d.bh))
      .flatMapGroupsWithState[List[Member], CandidatePair](
        OutputMode.Append, timeoutConf) {
        (_, rows: Iterator[BucketDoc], state) =>
          if (state.hasTimedOut) {
            // recent-window eviction: the bucket went `stateTtlMs`
            // without a member — drop its membership list
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[CandidatePair]
            val batch = rows.toSeq
            // id order makes within-batch processing deterministic; the
            // emitted pair set is order-independent either way (unordered
            // pairs, emitted when the later member arrives)
            batch.sortBy(_.doc_id).foreach { d =>
              if (!members.exists(_.id == d.doc_id) && members.size < maxBucket) {
                members.foreach { m =>
                  if (agreement(m.sig, d.sig) >= cutoff)
                    out += CandidatePair(math.min(m.id, d.doc_id),
                      math.max(m.id, d.doc_id))
                }
                members = Member(d.doc_id, d.sig) :: members
              }
            }
            state.update(members)
            // eviction deadline: newest arrival + TTL, clamped above
            // the watermark (setTimeoutTimestamp rejects past stamps)
            stateTtlMs.foreach { ttl =>
              state.setTimeoutTimestamp(
                math.max(batch.map(_.ts.getTime).max + ttl,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }
}
