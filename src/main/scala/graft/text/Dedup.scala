package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for document corpora at 100 TB scale.
  *
  * Exact dedup is a hash group-by (one shuffle on the digest). Near-dup
  * detection is MinHash + LSH with banded bucketing: candidates come
  * from an equi-join on (band, bandHash) — never an all-pairs cross
  * join — so cost scales with bucket occupancy, not n². SimHash gives a
  * 64-bit fingerprint whose Hamming distance approximates similarity of
  * the token multisets; n-gram Jaccard is the exact verifier run only
  * on LSH candidates.
  *
  * Signature math runs as Catalyst expressions — the per-shingle
  * hashing via transform + xxhash64, the k-slot signature via the
  * native codegen [[graft.functions.MinHashSignature]] — no UDFs, no
  * driver-side loops.
  */
object Dedup {

  /** Per-round materialization for the iterative component loops.
    *
    * Local mode (the default): `localCheckpoint` — blocks live on
    * executors with lineage truncated, reclaimed by the ContextCleaner;
    * an executor loss mid-loop fails the job. On a long-running
    * cluster that trade is wrong — a 1000-executor job losing one
    * machine should not restart a 30-round contraction — so when the
    * session opts in (`graft.checkpoint.reliable=true`, session-scoped
    * conf) AND a checkpoint dir is configured
    * (`SparkContext.setCheckpointDir`, typically durable storage), the
    * rounds go through a RELIABLE `.checkpoint()`: files survive
    * executor loss, the loop resumes from the last round. Both forms
    * are eager and truncate lineage, so the loop plan never grows. */
  private def roundCheckpoint(df: DataFrame): DataFrame =
    graft.plans.Materialize.stage(df)

  /** Exact duplicate groups: fingerprint → (keeper id, group size).
    * Map-side partial agg then one shuffle on the 128-bit digest. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Rows that survive exact dedup (first id per fingerprint wins).
    * A window (row_number per fingerprint, keep rank 1) rather than a
    * groupBy-min + semi join: the join form gives the input TWO
    * consumers, so any expensive upstream stage (scrub, scoring)
    * re-evaluates per branch — measured 3.3× slower on the composed
    * corpus pipeline. The window consumes one pass and adds exactly
    * one shuffle on the fingerprint. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextFunctions.fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental exact dedup — the daily-ingest form: dedup the new
    * batch within itself (first id per fingerprint wins), then drop
    * every survivor whose fingerprint already exists in the historical
    * corpus. The historical side enters as a compact fingerprint-only
    * relation (16 bytes a row at any corpus size — the running state a
    * pipeline persists between loads); the anti join is an equi join on
    * the fingerprint: broadcastable while history is small, a shuffled
    * hash join at 100 TB — never a cartesian. */
  def incrementalDedup(batch: DataFrame, historical: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val hist = historical
      .select(TextFunctions.fingerprint(col(textCol)).as("__hfp")).distinct()
    exactDedup(batch, idCol, textCol)
      .join(hist,
        TextFunctions.fingerprint(col(textCol)) === col("__hfp"), "left_anti")
  }

  /** [[incrementalDedup]] with a Bloom-filter pre-screen — the form
    * that holds up when the HISTORY is enormous and the overlap is
    * small (the steady state of a daily ingest: almost every new
    * document is new). One aggregation pass over the fingerprint-only
    * history builds a sketch (`~1.2 bytes/key at 1% fpp`); the sketch
    * rides the plan to every executor, and the batch probes it
    * MAP-SIDE: rows the filter rejects are DEFINITELY new (Bloom
    * filters have no false negatives) and bypass the join entirely —
    * only the maybe-set (true overlaps + fpp of the rest) pays the
    * exact fingerprint anti-join. The result is bit-identical to
    * [[incrementalDedup]]; the sketch only routes rows, precision
    * comes from the exact join on the survivors of the probe.
    *
    * Scale envelope: the sketch is a plan literal, so it travels via
    * Spark's task-binary broadcast — comfortable to ~10^8–10^9 history
    * keys (~0.1–1.2 GB at 1% fpp). Beyond that, shard the history and
    * run one probe per shard, or raise fpp (the join stays exact).
    * `expectedItems` skips the sizing count when the caller already
    * knows the state-table row count (e.g. from parquet footers —
    * [[graft.Tables.parquetRowCount]]). */
  def incrementalDedupBloom(batch: DataFrame, historical: DataFrame,
                            idCol: String, textCol: String,
                            fpp: Double = 0.01,
                            expectedItems: Option[Long] = None): DataFrame =
    incrementalDedupBloomFp(batch,
      historical.select(TextFunctions.fingerprint(col(textCol)).as("__hfp")),
      "__hfp", idCol, textCol, fpp, expectedItems)

  /** [[incrementalDedupBloom]] against an EXISTING fingerprint relation
    * — the state-table form: a daily pipeline persists survivors'
    * fingerprints between runs (16 bytes a row) instead of re-reading
    * yesterday's text, and each run screens against that state. Same
    * bit-exact contract as the text-history form.
    *
    * The history is SNAPSHOTTED here (one eager materialization): the
    * Bloom sketch is built at call time, so if the anti-join read the
    * live `fpState` lazily, a state-table append between building this
    * plan and collecting it would make the exact join see rows the
    * sketch doesn't — the screen would stop being one consistent view.
    * The snapshot pins both sides to the same history. (Its blocks are
    * lineage-free local-checkpoint blocks — reclaimed when the plan is
    * dropped, but an executor loss recomputes nothing; a cluster run
    * with a state table in the 10^9-key range should read a pinned
    * stage-table snapshot instead and pass `expectedItems`.) */
  def incrementalDedupBloomFp(batch: DataFrame, fpState: DataFrame,
                              fpCol: String, idCol: String, textCol: String,
                              fpp: Double = 0.01,
                              expectedItems: Option[Long] = None): DataFrame = {
    val hist = fpState.select(col(fpCol).as("__hfp")).distinct()
      .transform(graft.plans.Materialize.stage)
    val n = expectedItems.getOrElse(hist.count())
    val deduped0 = exactDedup(batch, idCol, textCol)
    if (n <= 0) return deduped0 // empty history: everything is new
    // Staged once: the definitely-new / maybe-seen split below consumes
    // the deduped batch TWICE, and unstaged each branch re-ran the full
    // batch scan + fingerprint window (2 text passes + 2 shuffles per
    // screen; guide §1.2). One pass dedups the batch; both probe
    // branches read the pinned blocks.
    val deduped = graft.plans.Materialize.stage(deduped0)
    val sketch = {
      val bf = hist.stat.bloomFilter("__hfp", n, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val fp = TextFunctions.fingerprint(col(textCol))
    val maybe = call_function("graft_bloom_contains", lit(sketch), fp)
    deduped.filter(!maybe)
      .unionByName(
        deduped.filter(maybe)
          .join(hist, fp === col("__hfp"), "left_anti"))
  }

  /** Segment-level (paragraph/sentence) dedup — the boilerplate
    * remover: split every document on `sepRegex`, fingerprint each
    * normalized segment, keep only the GLOBALLY FIRST occurrence
    * (order = (doc id, position)), and reassemble the survivors in
    * document order. A shared footer/header paragraph survives in the
    * earliest document and disappears from every later one, while each
    * document keeps its unique content — removal is segment-wise, never
    * whole-document.
    *
    * Two shuffles at any scale: one on the segment fingerprint (the
    * first-occurrence window), one on the doc id (reassembly). Segment
    * rows carry (id, pos, segment) only, and the rebuilt text is
    * emitted alongside a count of kept/total segments. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sepRegex: String = "\\.", joiner: String = ".",
                     carryCols: Seq[String] = Nil): DataFrame = {
    val segs = df
      .select(col(idCol).as("id") +: carryCols.map(col) :+
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "seg")): _*)
      .filter(trim(col("seg")) =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextFunctions.fingerprint(col("seg")))
      .orderBy(col("id"), col("pos"))
    segs
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("id"))
      .agg(
        // collect_list skips nulls, so the when() keeps only the
        // first-occurrence segments; array_sort on (pos, seg) structs
        // restores document order deterministically
        array_join(transform(
          array_sort(collect_list(
            when(col("__rn") === 1, struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), joiner).as("deduped_text"),
        (count(when(col("__rn") === 1, 1)).as("n_kept") +:
          count(lit(1)).as("n_segs") +:
          // per-doc constants ride the rollup (max = the value)
          carryCols.map(c => max(col(c)).as(c))): _*)
      .withColumnRenamed("id", idCol)
  }

  /** Bind `c` to a lambda variable so `f` can reference it many times
    * while the underlying expression evaluates ONCE per row. Catalyst
    * has no `let`: an expression tree referenced k times inside a
    * higher-order-function lambda is re-evaluated k times PER ELEMENT
    * (unlike a bound attribute, which is an O(1) read) — for a
    * tokenize feeding a per-gram lambda that turns O(tokens) work into
    * O(w · grams · tokens), quadratic in document length. Routing the
    * value through a one-element array makes it a lambda variable: the
    * producer runs once, every reference in `f` is a variable read.
    * Same trick as binding through a named column, but usable inside a
    * single Column so callers can't accidentally inline it. */
  private def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Word w-shingles of the text (empty array when too short). */
  def shingles(text: Column, w: Int = 3): Column =
    bindOnce(TextFunctions.tokens(text)) { toks =>
      when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - lit(w - 1)),
          i => concat_ws(" ", slice(toks, i, lit(w)))))
        .otherwise(array().cast("array<string>"))
    }

  /** MinHash signature from a column of per-shingle base hashes: each
    * shingle is string-hashed ONCE (the expensive part); the k
    * signature slots are universal-hash permutations
    * (a_i·h32 + b_i) mod p computed by the native
    * [[graft.functions.MinHashSignature]] expression — one generated
    * pass keeping k running minima, instead of k interpreted
    * array_min(transform(...)) walks. Seeds, prime and degenerate-input
    * shapes are documented (and pinned bit-identical) there. */
  def minhashFromBaseHashes(baseHashes: Column, k: Int = 64): Column =
    call_function("graft_minhash", baseHashes, lit(k))

  /** One hash per token — bind the result through a NAMED column before
    * feeding [[shingleHashesFromTokenHashes]], or it re-evaluates per
    * reference. */
  def tokenHashes(text: Column): Column =
    transform(TextFunctions.tokens(text), t => xxhash64(t))

  /** Per-shingle base hashes without materializing shingle strings:
    * each w-gram's hash is xxhash64 over the w token hashes (fixed
    * 8-byte words — no concat_ws allocation). `th` MUST be a bound
    * attribute (see [[tokenHashes]]); element_at on a bound array is an
    * O(1) read. String work is O(total token chars), not O(w × chars). */
  def shingleHashesFromTokenHashes(th: Column, w: Int = 3): Column =
    when(size(th) >= w,
      transform(sequence(lit(1), size(th) - lit(w - 1)), i =>
        xxhash64((0 until w).map(o => element_at(th, i + lit(o))): _*)))
      .otherwise(array().cast("array<bigint>"))

  /** Estimated Jaccard similarity from two MinHash signatures — the
    * native [[graft.functions.SignatureAgreement]] loop (one candidate
    * pair pays one evaluation; candidate counts scale with the
    * corpus). */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    call_function("graft_sig_agreement", sigA, sigB)

  /** LSH banding: the signature split into `bands` bands of `k/bands`
    * rows, each band hashed to a bucket key. Docs sharing any band
    * bucket become candidates. */
  def bandHashes(sigCol: Column, k: Int = 64, bands: Int = 16): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(b, concat_ws(",", slice(sigCol, b * lit(r) + lit(1), lit(r))))
          .as("bh")))
  }

  /** The LSH candidate plan over a signature relation: explode band
    * hashes, self equi-join on (band, bh), id-ordered to halve the
    * pairs, distinct pairs first, THEN one est-Jaccard per pair. No
    * cartesian product anywhere. */
  private def candidatePlan(sigd: DataFrame, k: Int, bands: Int): DataFrame = {
    val exploded = sigd
      .select(col("id"), explode(bandHashes(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val pairs = exploded.select(col("id").as("id_a"), col("band"), col("bh"))
      .join(exploded.select(col("id").as("id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(sigd.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigd.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** Candidate near-duplicate pairs via LSH (see [[candidatePlan]]).
    *
    * With `materialize` (the default) this call EAGERLY runs the LSH
    * job: the signature relation is persisted so the self-join and the
    * two score re-joins don't recompute it (the standard cluster-scale
    * "materialize the signature table" step), the scored pair set —
    * tiny relative to the corpus, it IS the near-dup output — is
    * captured via localCheckpoint while the signatures are hot, and the
    * signature cache is released before returning, so repeated corpus
    * runs never accumulate cached blocks. (The checkpoint's blocks are
    * plain RDD blocks, GC'd by the ContextCleaner once the caller drops
    * the DataFrame — unlike CacheManager entries, which outlive every
    * reference. The flip side: checkpointed blocks have no lineage, so
    * an executor loss fails the job — acceptable for the tiny pair set;
    * a long cluster run wanting fault tolerance passes
    * `materialize = false` and persists or stage-tables the result
    * itself.)
    *
    * `materialize = false` returns the raw lazy plan (no persist, no
    * checkpoint) — for plan inspection and for callers composing their
    * own caching. */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 3, k: Int = 64, bands: Int = 16,
                     materialize: Boolean = true): DataFrame = {
    // NO fan-out here (cf. Skew.fanOutSmall, measured r15): the
    // xxhash-based signature kernel is cheap enough that spreading a
    // small input costs more in task/shuffle overhead than it saves —
    // q_components_stage 2.94 -> 4.46 s with a fan-out at this site
    val based = df.select(col(idCol).as("id"),
      tokenHashes(col(textCol)).as("th"))
      .select(col("id"), shingleHashesFromTokenHashes(col("th"), w).as("bh0"))
    val sig = based
      .select(col("id"), minhashFromBaseHashes(col("bh0"), k).as("sig"))
    if (!materialize) candidatePlan(sig, k, bands)
    else {
      val sigd = sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // eager fill — the candidate plan scans the signature relation
        // three times in one job (self-join sides + score re-joins);
        // lazy fills race on per-partition cache locks (see
        // [[withGramSets]])
        sigd.count()
        candidatePlan(sigd, k, bands).transform(graft.plans.Materialize.stage)
      } finally sigd.unpersist(false)
    }
  }

  /** Persist the semi-join-reduced gram relation `sets` (id, g) for
    * the duration of ONE eager verify build. The verify plan references
    * the gram relation once per pair side (ga and gb), and without a
    * persist the hash-heavy gram pass + semi-join executes TWICE inside
    * the same job — measured at 4× the hot-cache verify cost on the
    * seed-containment bench entry (3.25 s vs 0.78 s at sf0.1). The
    * finished pair set — tiny, it IS the detector output — is captured
    * via localCheckpoint while the cache is hot, and the cache is
    * released before returning (CacheManager entries outlive every
    * reference, so a leaked persist accumulates across calls in a
    * long-lived session — same lifecycle as [[candidatePairs]]). */
  private def withGramSets(sets: DataFrame)(build: DataFrame => DataFrame): DataFrame = {
    val s = sets.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fill the cache EAGERLY: with a lazy fill the verify join's two
      // scan subtrees race to compute it, serializing on per-partition
      // cache locks (the q_curation_v2 pathology — a lazy stage cache
      // measured 4× its eager cost cold)
      s.count()
      build(s).transform(graft.plans.Materialize.stage)
    } finally s.unpersist(false)
  }

  /** Near-duplicate pairs above an estimated-Jaccard threshold. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.7, w: Int = 3,
                     k: Int = 64, bands: Int = 16,
                     materialize: Boolean = true): DataFrame =
    candidatePairs(df, idCol, textCol, w, k, bands, materialize)
      .filter(col("est_jaccard") >= threshold)

  /** The production near-dup shape: LSH candidates (recall from
    * banding) verified with the EXACT n-gram Jaccard (precision exact)
    * — the threshold applies to the true similarity, so the output is
    * engine-checkable, unlike the MinHash estimate.
    *
    * Three properties keep this cheap at corpus scale:
    *   - a cheap estimated-Jaccard pre-filter (4σ below the exact
    *     threshold — the k-slot estimate's σ = sqrt(J(1-J)/k) ≤
    *     1/(2√k), so a true ≥-threshold pair clears it with ~3e-5 miss
    *     probability) discards the mass of one-band-coincidence
    *     candidates first;
    *   - the verifier runs once per surviving pair, never all-pairs;
    *   - it compares DISTINCT SHINGLE-HASH sets, not shingle strings:
    *     the candidate-doc set is semi-join-reduced (docs appearing in
    *     any pair — tiny vs the corpus), their 8-byte hash sets are
    *     recomputed and joined to the pairs, and raw text is NEVER
    *     shuffled (at 100 TB the text column is the corpus; the hash
    *     sets are ~1 % of it). Set equality matches string n-gram
    *     equality modulo 64-bit collisions (P ≈ |S|²·2⁻⁶⁴ per doc —
    *     vanishing), so the Jaccard ratio is the exact string value.
    *
    * EAGER: the verify job runs at call time (via [[withGramSets]] —
    * the gram relation is cached across its two join sides and
    * released before returning); the result is a checkpointed tiny
    * pair relation. */
  def verifiedNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double = 0.7, w: Int = 3,
                             k: Int = 64, bands: Int = 16): DataFrame = {
    val margin = 2.0 / math.sqrt(k.toDouble)
    val pairs = candidatePairs(df, idCol, textCol, w, k, bands)
      .filter(col("est_jaccard") >= math.max(0.0, threshold - margin))
      .select(col("id_a"), col("id_b"))
    verifyPairsJaccard(df, idCol, textCol, pairs, threshold, w)
  }

  /** Cross-corpus near-dup screen: rows of `newDf` that survive
    * near-duplicate comparison against a REFERENCE corpus — the batch
    * form of "dedupe each incoming crawl against the already-curated
    * corpus" (the streaming form is the
    * [[graft.streaming.StreamNearDup]] index). A new row is dropped
    * when its exact w-gram Jaccard with ANY reference doc clears
    * `threshold`; new-vs-new duplicates are deliberately NOT collapsed
    * (that is [[nearDupSurvivors]]' job on the new batch itself, run
    * before or after at the caller's choice).
    *
    * One LSH pass signs the tagged union (signatures computed once,
    * same banded candidate plan as [[verifiedNearDuplicates]]);
    * candidates are restricted to CROSS pairs before the exact verify,
    * so same-side coincidences cost nothing downstream, and the final
    * keep is an anti join of the new batch against the (tiny) dropped
    * set — broadcast when it fits, the corpus never shuffles. Ids must
    * be unique ACROSS both inputs (production ids — urls, uuids — are;
    * the tagged union would otherwise conflate rows). */
  def crossNearDupSurvivors(newDf: DataFrame, refDf: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double = 0.7, w: Int = 3,
                            k: Int = 64, bands: Int = 16): DataFrame = {
    val tagged = newDf.select(col(idCol).as("id"), col(textCol).as("text"),
        lit(0).as("__ref"))
      .unionByName(refDf.select(col(idCol).as("id"), col(textCol).as("text"),
        lit(1).as("__ref")))
    val margin = 2.0 / math.sqrt(k.toDouble)
    val tags = tagged.select(col("id"), col("__ref"))
    val cross = candidatePairs(tagged, "id", "text", w, k, bands)
      .filter(col("est_jaccard") >= math.max(0.0, threshold - margin))
      .select(col("id_a"), col("id_b"))
      .join(tags.select(col("id").as("id_a"), col("__ref").as("__ra")), Seq("id_a"))
      .join(tags.select(col("id").as("id_b"), col("__ref").as("__rb")), Seq("id_b"))
      .filter(col("__ra") =!= col("__rb"))
      .select(col("id_a"), col("id_b"))
    val verified = verifyPairsJaccard(tagged, "id", "text", cross, threshold, w)
    // exactly one side of a cross pair is new: id_a when its tag says
    // so, id_b otherwise. Materialized so the anti join reads a fixed
    // tiny relation (and the count deciding the broadcast is free).
    val dropped = verified
      .join(tags.select(col("id").as("id_a"), col("__ref")), Seq("id_a"))
      .select(when(col("__ref") === 0, col("id_a")).otherwise(col("id_b"))
        .as(idCol))
      .distinct()
      .transform(graft.plans.Materialize.stage)
    val droppedSide =
      if (dropped.count() <= 1000000L) broadcast(dropped) else dropped
    newDf.join(droppedSide, Seq(idCol), "left_anti")
  }

  /** Exact-Jaccard verification of an EXTERNAL candidate pair set —
    * the verify half of [[verifiedNearDuplicates]], reusable for
    * candidates produced elsewhere (the streaming LSH index
    * [[graft.streaming.StreamNearDup]], a persisted candidate stage
    * table, a different blocking scheme). `pairs` needs (id_a, id_b);
    * output is the pairs whose TRUE w-gram Jaccard clears `threshold`,
    * with the exact score. Same scale shape as the internal path: the
    * candidate-doc set is semi-join-reduced, 8-byte hash sets shuffle
    * instead of text, and the gram relation is cached across both join
    * sides for one eager build ([[withGramSets]]). `pairs` is consumed
    * three times (both verify sides + the semi-join reduction) — pass
    * a materialized relation, or the plan recomputes it per reference.
    *
    * Batch-sized inputs run on the DRIVER ([[driverVerify]]): the pairs
    * come back in one job, then their endpoints' gram sets in one
    * map-only job, each at most 2^16 rows and at most 64 MiB
    * ([[graft.plans.DriverFetch]]); the same rows return as a local
    * relation. Larger inputs run the distributed body. */
  def verifyPairsJaccard(df: DataFrame, idCol: String, textCol: String,
                         pairs: DataFrame, threshold: Double,
                         w: Int = 3): DataFrame =
    driverVerify(df, idCol, textCol, pairs, threshold, w)
      .getOrElse(verifyPairsJaccardDistributed(df, idCol, textCol, pairs,
        threshold, w))

  /** The driver path of [[verifyPairsJaccard]]: exact Jaccard of sorted
    * gram-hash arrays, with the join's multiplicity (a repeated pair or
    * a repeated document id multiplies output rows) and the same double
    * arithmetic as the plan (`inter / ((|ga| + |gb|) − inter)`, 0 for an
    * empty union). Long ids only; None above the fetch caps. */
  private def driverVerify(df: DataFrame, idCol: String, textCol: String,
                           pairs: DataFrame, threshold: Double,
                           w: Int): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    if (!graft.plans.DriverFetch.hasTypes(pairs, "id_a" -> LongType, "id_b" -> LongType) ||
        !graft.plans.DriverFetch.hasTypes(df, idCol -> LongType)) return None
    val outSchema = StructType(Seq(
      StructField("id_a", LongType, pairs.schema("id_a").nullable),
      StructField("id_b", LongType, pairs.schema("id_b").nullable),
      StructField("jaccard", DoubleType, nullable = true)))
    def jaccard(ga: Array[Long], gb: Array[Long]): Double = {
      var (i, j, inter) = (0, 0, 0)
      while (i < ga.length && j < gb.length) {
        if (ga(i) < gb(j)) i += 1
        else if (ga(i) > gb(j)) j += 1
        else { inter += 1; i += 1; j += 1 }
      }
      val union = (ga.length + gb.length).toDouble - inter.toDouble
      if (union == 0) 0.0 else inter.toDouble / union
    }
    graft.plans.DriverFetch("exact Jaccard verify: pairs",
        Seq(pairs.select(col("id_a"), col("id_b"))))
      .flatMap { case Seq(pairRows) =>
        val live = pairRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        val ids = live.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSet
        if (ids.isEmpty) Some(graft.plans.DriverFetch.local(pairs, Nil, outSchema))
        else graft.plans.DriverFetch("exact Jaccard verify: gram sets", Seq(
            df.filter(org.apache.spark.sql.graft.ColumnBridge.inSet(idCol,
                ids.map(Long.box(_): Any)))
              .select(col(idCol).as("id"), tokenHashes(col(textCol)).as("th"))
              .select(col("id"),
                array_distinct(shingleHashesFromTokenHashes(col("th"), w)).as("g"))))
          .map { case Seq(setRows) =>
            val sets = setRows.toSeq.groupMap(_.getLong(0))(r =>
              r.getSeq[Long](1).toArray.sorted)
            val out = for {
              p <- live.toSeq
              ga <- sets.getOrElse(p.getLong(0), Nil)
              gb <- sets.getOrElse(p.getLong(1), Nil)
              j = jaccard(ga, gb) if j >= threshold
            } yield Row(p.getLong(0), p.getLong(1), j)
            graft.plans.DriverFetch.local(pairs, out, outSchema)
          }
      }
  }

  /** The distributed body of [[verifyPairsJaccard]] — the path for
    * inputs over the driver caps. */
  private[graft] def verifyPairsJaccardDistributed(
      df: DataFrame, idCol: String, textCol: String, pairs: DataFrame,
      threshold: Double, w: Int): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b"))
    val inPairs = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    val sets = df.select(col(idCol).as("id"), tokenHashes(col(textCol)).as("th"))
      .join(inPairs, Seq("id"), "left_semi")
      .select(col("id"),
        array_distinct(shingleHashesFromTokenHashes(col("th"), w)).as("g"))
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
    val union = (size(col("ga")) + size(col("gb"))).cast("double") - inter
    withGramSets(sets) { s =>
      p
        .join(s.select(col("id").as("id_a"), col("g").as("ga")), Seq("id_a"))
        .join(s.select(col("id").as("id_b"), col("g").as("gb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          when(union === 0, lit(0.0)).otherwise(inter / union).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Bounded DRIVER fast path shared by both component kernels: when
    * the pair relation fits under 2¹⁶ edges (≈1 MiB of collected edge
    * rows, the same bound
    * [[graft.plans.IncrementalComponents.resolveForwards]] uses for its
    * forwarding closure) and the byte cap
    * ([[graft.plans.DriverFetch]] — the driver never buffers more than
    * the cap), the closure runs as a driver union-find labeled by component min
    * and returns a LocalRelation of (id, comp) — replacing the
    * 2-jobs-per-round distributed loop (checkpoint + convergence
    * check), which the r15 composed-pipeline probe measured at >1 s of
    * pure job overhead on a TWO-ROW relation. Near-dup pair sets are
    * duplicate-mass-sized, so in the common case this path serves even
    * corpus-scale runs; above the cap (a heavily duplicated corpus)
    * the caller's distributed kernel takes over unchanged. Labels are
    * identical by construction (union-find min-root ≡ min-label
    * propagation ≡ star contraction — DedupSpec pins all three equal
    * on chain/multi-merge/self-pair fixtures). Only LONG ids take the
    * fast path (the union-find keys on Long); other id types fall
    * through. */
  private[graft] def driverComponents(pairs: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    if (!graft.plans.DriverFetch.hasTypes(pairs, "id_a" -> LongType, "id_b" -> LongType))
      return None
    graft.plans.DriverFetch("connected components",
      Seq(pairs.select(col("id_a"), col("id_b"))), 1 << 16)
      .map { case Seq(edgeRows) =>
        val outSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("comp",
            org.apache.spark.sql.types.LongType)))
        val uf = graft.plans.UnionFind.of(
          edgeRows.iterator.map(r => (r.getLong(0), r.getLong(1))))
        graft.plans.DriverFetch.local(pairs,
          uf.nodes.map(n => org.apache.spark.sql.Row(n, uf.find(n))).toSeq,
          outSchema)
      }
  }

  /** Connected components over an undirected pair graph (id_a, id_b)
    * by iterative min-label propagation: every node repeatedly adopts
    * the smallest label among itself and its neighbors until no label
    * changes. The minimum flows one hop per iteration, so rounds are
    * bounded by the component diameter — near-dup components are
    * clusters of copies (diameter a few hops); `maxIter` guards the
    * pathological chain. Labels are localCheckpoint'ed each round so
    * the plan never grows with the iteration count, and each round is
    * ONE shuffle join + partial agg. (Rounds materialize via
    * [[roundCheckpoint]]: localCheckpoint by default — right for local
    * mode, where the label relation is tiny and an executor can't be
    * lost — or a RELIABLE `.checkpoint()` when the session sets
    * `graft.checkpoint.reliable=true` and a checkpoint dir, the
    * 1000-executor idiom; the stage-table-between-rounds alternative is
    * the `q_components_stage` pattern.) (At extreme diameters the
    * two-phase large-star/small-star algorithm halves rounds; the
    * simple propagation is the right trade for dup clusters.)
    *
    * Only ids appearing in a pair participate — callers join the
    * (tiny) result back to the corpus and default singletons to their
    * own id. Returns (id, comp) with comp = min id of the component. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    driverComponents(pairs)
      .getOrElse(connectedComponentsPropagate(pairs, maxIter))

  private[graft] def connectedComponentsPropagate(
      pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    val edges0 = roundCheckpoint(edges) // read every round; tiny (dup docs only)
    var labels = roundCheckpoint(edges0.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("comp")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val neighborMin = edges0
        .join(labels.select(col("id").as("v"), col("comp")), Seq("v"))
        .groupBy(col("u")).agg(min(col("comp")).as("ncomp"))
      // carry the previous label through so convergence is read off the
      // checkpointed result directly — no extra join or re-scan per round
      val next = roundCheckpoint(labels
        .join(neighborMin.select(col("u").as("id"), col("ncomp")), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("comp").as("prev")))
      changed = next.filter(col("comp") =!= col("prev")).count()
      labels = next.drop("prev")
      it += 1
    }
    if (changed > 0)
      // never silent: non-converged labels split true clusters
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — components wider than " +
          s"$maxIter hops are split; raise maxIter")
    labels
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the HIGH-DIAMETER path: where min-label propagation
    * needs a round per hop, star contraction needs O(log) rounds (a
    * 64-link chain converges in ≤6, spec-pinned), because each round
    * rewires whole neighborhoods onto their local minimum instead of
    * moving the label one hop.
    *
    *  - large-star: every node's strictly-LARGER neighbors reconnect to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node's smaller neighbors (and the node)
    *    reconnect to its smallest neighbor.
    *
    * Each half-round is one groupBy + one join over the edge set, which
    * is checkpointed so the plan stays flat. Convergence is an edge-set
    * fixpoint, read off a (count, hash-sum) signature — one cheap agg
    * per round. Same contract as [[connectedComponents]]: (id, comp)
    * with comp = min id, one row per id appearing in `pairs`. Prefer
    * the default propagation for near-dup clusters (tiny diameters, ~2
    * rounds); use this for chain-shaped graphs (linkage over time,
    * session stitching). (Rounds go through [[roundCheckpoint]], same
    * as [[connectedComponents]]: localCheckpoint locally, a reliable
    * `.checkpoint()` when `graft.checkpoint.reliable=true` and a
    * checkpoint dir are set.) */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    driverComponents(pairs)
      .getOrElse(connectedComponentsStarRounds(pairs, maxIter)._1)

  private[graft] def connectedComponentsStarRounds(
      pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // canonical undirected edges a > b; self-pairs drop out (their ids
    // rejoin as singletons at the end)
    var edges = roundCheckpoint(pairs.select(
        greatest(col("id_a"), col("id_b")).as("a"),
        least(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct())

    // m(u) = min of u's closed neighborhood over BOTH directions
    def largeStar(e: DataFrame): DataFrame = {
      val g = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val m = g.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      g.join(m, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }

    // with canonical (a > b) edges, b ranges over a's SMALLER neighbors
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("a")).agg(min(col("b")).as("m"))
      e.join(m, Seq("a"))
        .select(col("b").as("x"), col("m")).filter(col("x") =!= col("m"))
        .unionByName(m.select(col("a").as("x"), col("m")))
        .select(greatest(col("x"), col("m")).as("a"),
          least(col("x"), col("m")).as("b"))
        .distinct()
    }

    // (count, xor-of-hashes): an order-independent, overflow-free
    // signature of the (distinct) edge set
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prevSig = sig(edges)
    var it = 0
    var converged = edges.isEmpty
    while (!converged && it < maxIter) {
      val next = roundCheckpoint(smallStar(largeStar(edges)))
      val nextSig = sig(next)
      converged = nextSig == prevSig
      prevSig = nextSig
      edges = next
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          s"labels may split true clusters; raise maxIter")
    // converged edges form stars (member, center): centers label
    // themselves, members label their center; ids only ever seen in
    // self-pairs label themselves
    val ids = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    val starLabels = edges.select(col("a").as("id"), col("b").as("comp"))
      .unionByName(edges.select(col("b").as("id"), col("b").as("comp")))
      .distinct()
    val labels = ids.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    // `it` counts one final no-op round that only CONFIRMS the fixpoint
    // (the signature compares equal, nothing was rewired) — report the
    // rounds that did contraction work
    (labels, math.max(it - 1, 0))
  }

  /** Near-duplicate clustering: every document labeled with its
    * component id (min doc id of its exact-verified near-dup cluster;
    * singletons label themselves). The component structure is what a
    * training-data pipeline dedupes ON — transitive copies a→b→c must
    * collapse to one survivor even when (a, c) itself never met the
    * threshold. */
  def nearDupComponents(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.7, w: Int = 3,
                        k: Int = 64, bands: Int = 16): DataFrame = {
    val pairs = verifiedNearDuplicates(df, idCol, textCol, threshold, w, k, bands)
      .select(col("id_a"), col("id_b"))
    val comps = connectedComponents(pairs)
    // Attach labels: comps has one row per doc WITH a near-dup. In the
    // common case that set broadcasts (it is already materialized, so
    // the count is free) and labeling is MAP-SIDE — the corpus never
    // shuffles. A heavily-duplicated corpus falls back to the shuffle
    // join; AQE cannot make this call itself because a checkpointed
    // RDD scan carries no size statistics.
    val compsSide =
      if (comps.count() <= 1000000L) broadcast(comps) else comps
    df.select(col(idCol).as("id"))
      .join(compsSide, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("comp"), col("id")).as("comp_id"))
  }

  /** Rows that survive near-dup clustering: the minimum-id document of
    * every component (singletons survive trivially). Phrased as an
    * ANTI join against the LOSERS — the non-minimum members of each
    * cluster, a strict subset of the (tiny) dup set — so the filter is
    * map-side when the dup set broadcasts and the corpus never
    * shuffles. (A semi join on the KEEP set would be corpus-sized —
    * every singleton survives — and could never broadcast.) */
  def nearDupSurvivors(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.7, w: Int = 3,
                       k: Int = 64, bands: Int = 16): DataFrame = {
    val pairs = verifiedNearDuplicates(df, idCol, textCol, threshold, w, k, bands)
      .select(col("id_a"), col("id_b"))
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("comp")).select(col("id").as(idCol))
    val losersSide =
      if (comps.count() <= 1000000L) broadcast(losers) else losers
    df.join(losersSide, Seq(idCol), "left_anti")
  }

  /** Containment near-duplicates: pairs where the SMALLER document's
    * n-gram set is nearly a subset of the larger's —
    * `|A∩B| / min(|A|,|B|) ≥ threshold`. Jaccard misses wholesale
    * inclusion (a document quoted inside a much larger one scores
    * |A|/|B| ≈ small), containment is exactly that detector. Candidates
    * come from the same banded-LSH plan as [[verifiedNearDuplicates]]
    * but WITHOUT the estimated-Jaccard pre-filter (the estimate bounds
    * Jaccard, not containment — a high-containment low-Jaccard pair
    * would be wrongly discarded); precision still comes from the exact
    * hash-set verify. Banding is FINER than the Jaccard path's
    * (default bands=32 → rows-per-band r=2, band hit P = J²): a
    * containment detector hunts pairs whose Jaccard is LOW by design
    * (small-in-large inclusion), so the J⁴ bands that suffice for
    * near-identical pairs would miss them — r=2 holds recall down to
    * J ≈ 0.4 at the cost of more (exactly-verified) candidates, the
    * deliberate trade for this operator. Extreme asymmetry (J ≪ 0.3)
    * needs the dedicated seed-gram index —
    * [[seedGramContainmentPairs]]. Raw text never shuffles: same
    * semi-join-reduced hash-set verify as the Jaccard path. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.9, w: Int = 3,
                       k: Int = 64, bands: Int = 32): DataFrame = {
    val pairs = candidatePairs(df, idCol, textCol, w, k, bands)
      .select(col("id_a"), col("id_b"))
    verifyPairsContainment(df, idCol, textCol, pairs, threshold, w)
  }

  /** Exact set-similarity self-join by PREFIX FILTERING (Chaudhuri/
    * Xiao et al.'s SSJoin/PPJoin family) — the LOSSLESS alternative to
    * MinHash when the contract is "every pair with Jaccard ≥ t, no
    * recall luck": order each document's token SET by a global total
    * order, keep only the first |s| − ⌈t·|s|⌉ + 1 tokens as the
    * document's PREFIX, and equi-join on prefix tokens. Theory: two
    * sets with J ≥ t must share at least one prefix token under ANY
    * common total order, so the candidate set provably contains every
    * qualifying pair — the brute-force oracle re-proves it on every
    * run. The size filter (t·|a| ≤ |b| ≤ |a|/t) prunes candidates
    * before the exact verify.
    *
    * The total order here is the gram HASH itself, so the prefix is a
    * pure per-row `slice(sort_array(ts))` — no corpus explode, no df
    * dictionary join, no per-doc re-sort aggregate. The textbook
    * df-ascending (rarest-first) order was implemented and MEASURED
    * against this: on the template corpus it cut candidates 81k → 44k
    * (sf0.1, t = 0.8) but paid three extra codegen-heavy stages and a
    * broadcast for it, and the verify of the extra 37k candidates is
    * two array_intersects per pair — the dictionary machinery cost
    * multiples of what it saved. (At a scale where candidate volume
    * dominates verify — short prefixes, heavy-tailed df — the
    * df-ordered variant is the right swap, and completeness is
    * unaffected either way; `dfOrdered = true` selects it as a config
    * flip, same answer spec-pinned.) Scale shape: prefixes (a (1−t)-fraction
    * sliver) feed the self-join, only candidate pairs reach the exact
    * intersect/union — all integers end to end
    * (`jaccard_micro = inter·1e6 div union`), no float anywhere.
    * `thresholdMicro` is Jaccard in exact micro-units (500000 = 0.5).
    * Set elements are w-GRAM hashes, not raw tokens: token-set Jaccard
    * is order-blind, so template-generated corpora (shared vocabulary,
    * different phrasing) collapse into dense high-J cliques whose PAIR
    * LIST is quadratic — measured 95k pairs at sf0.01 / 15 s at sf0.1
    * on the token-set form vs a selective shingle result; gram sets
    * are what every other detector in this family blocks on, for the
    * same reason. The default gram hash is the FAST in-engine one:
    * unlike the seed-gram index, nothing in the OUTPUT depends on hash
    * identity — completeness holds under any common total order and
    * the score is set Jaccard — so the oracle can brute-force raw gram
    * STRINGS while the engine never allocates one (the md5-portable
    * form measured 2× the cost for zero contract value here). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         thresholdMicro: Long = 500000L,
                         gramFn: Column => Column =
                           fastGramHashes(_, 3),
                         dfOrdered: Boolean = false): DataFrame = {
    val sets = df.select(col(idCol).as("id"), gramFn(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sets.count() // eager fill: feeds the prefix build AND both verify sides
      val prefLen = (col("n") -
        expr(s"(n * $thresholdMicro + 999999L) div 1000000L") + lit(1L))
        .cast("int")
      // The prefix filter is LOSSLESS under ANY total order shared by
      // all sets, so the order is a cost knob, not a correctness one:
      //  - hash order (default): a free sort_array per set, zero extra
      //    jobs — the right call on small/benign relations, where plan
      //    cost ≈ generated stages + broadcasts (the r10 forensics:
      //    a df dictionary cost 5× the entry at sub-MB scale).
      //  - df order (dfOrdered = true): tokens ascend by global
      //    document frequency, so prefixes hold each set's RAREST
      //    tokens and the candidate equi-join shrinks by orders of
      //    magnitude on heavy-tailed df regimes (the PPJoin ordering).
      //    Costs one df aggregation + one grouped re-sort of the gram
      //    relation — worth it exactly when candidates, not stages,
      //    dominate. Same answer either way (spec-pinned).
      val ordered =
        if (!dfOrdered)
          sets.select(col("id"), size(col("ts")).cast("long").as("n"),
            sort_array(col("ts")).as("st"))
        else {
          val dfRel = sets.select(explode(col("ts")).as("tok"))
            .groupBy(col("tok")).agg(count(lit(1)).as("df"))
          sets.select(col("id"), explode(col("ts")).as("tok"))
            .join(dfRel, Seq("tok"))
            .groupBy(col("id"))
            .agg(count(lit(1)).as("n"),
              transform(array_sort(collect_list(
                struct(col("df"), col("tok")))),
                x => x.getField("tok")).as("st"))
        }
      val pref = ordered
        .select(col("id"), col("n"),
          explode(slice(col("st"), lit(1), prefLen)).as("tok"))
      val cand = pref.as("a")
        .join(pref.as("b"),
          col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
            col("b.n") * thresholdMicro <= col("a.n") * 1000000L &&
            col("a.n") * thresholdMicro <= col("b.n") * 1000000L)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        cand.count() // eager fill — consumed by both verify joins
        cand
          .join(sets.select(col("id").as("id_a"), col("ts").as("ta")),
            Seq("id_a"))
          .join(sets.select(col("id").as("id_b"), col("ts").as("tb")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("ta"), col("tb"))).cast("long")
              .as("inter"),
            (size(col("ta")) + size(col("tb"))).cast("long").as("sz"))
          .withColumn("uni", col("sz") - col("inter"))
          .filter(col("inter") * 1000000L >= col("uni") * thresholdMicro)
          .select(col("id_a"), col("id_b"),
            expr("inter * 1000000L div uni").as("jaccard_micro"))
          .transform(graft.plans.Materialize.stage)
      } finally cand.unpersist(false)
    } finally sets.unpersist(false)
  }

  /** Exact-containment verification of an EXTERNAL candidate pair set
    * — the containment analogue of [[verifyPairsJaccard]], reusable
    * for candidates from any blocking scheme (the streaming seed-gram
    * index [[graft.streaming.StreamSeedGram]], a persisted stage
    * table). Output: pairs whose `|A∩B| / min(|A|,|B|)` clears
    * `threshold`, with the exact (4-dp-rounded) score. `gramFn`
    * defaults to the fast in-engine hash; pass [[portableGramHashes]]
    * when another engine must replay the verify. Same scale shape as
    * every verify in this family: semi-join-reduced doc set, 8-byte
    * hash sets shuffle instead of text, gram relation cached across
    * both join sides for one eager build. `pairs` is consumed three
    * times — pass a materialized relation. */
  def verifyPairsContainment(df: DataFrame, idCol: String, textCol: String,
                             pairs: DataFrame, threshold: Double,
                             w: Int = 3,
                             gramFn: Option[Column => Column] = None)
      : DataFrame = {
    val gram: Column => Column = gramFn.getOrElse(fastGramHashes(_: Column, w))
    val p = pairs.select(col("id_a"), col("id_b"))
    val inPairs = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    val sets = df.select(col(idCol).as("id"), gram(col(textCol)).as("g"))
      .join(inPairs, Seq("id"), "left_semi")
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
    val minSize = least(size(col("ga")), size(col("gb"))).cast("double")
    withGramSets(sets) { s =>
      p
        .join(s.select(col("id").as("id_a"), col("g").as("ga")), Seq("id_a"))
        .join(s.select(col("id").as("id_b"), col("g").as("gb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(when(minSize === 0, lit(0.0)).otherwise(inter / minSize), 4)
            .as("containment"))
        .filter(col("containment") >= threshold)
    }
  }

  /** Distinct w-gram hashes per document on the fast in-engine hash —
    * no gram strings materialize ([[shingleHashesFromTokenHashes]]).
    * The token-hash array binds once ([[bindOnce]]) so the per-shingle
    * lambda reads it O(1) instead of re-tokenizing per gram. */
  def fastGramHashes(text: Column, w: Int = 3): Column =
    bindOnce(tokenHashes(text))(th =>
      array_distinct(shingleHashesFromTokenHashes(th, w)))

  /** Distinct w-gram hashes on the engine-portable md5-60 hash of the
    * space-joined gram STRING — ~2× the hash cost of
    * [[fastGramHashes]] plus the gram-string allocation, but any
    * engine can replay it (DuckDB:
    * `('0x' || substr(md5(gram), 1, 15))::BIGINT`). Oracle path. */
  def portableGramHashes(text: Column, w: Int = 3): Column =
    bindOnce(TextFunctions.tokens(text)) { toks =>
      when(size(toks) >= w,
        array_distinct(transform(sequence(lit(1), size(toks) - lit(w - 1)),
          i => md5Hash60(concat_ws(" ", slice(toks, i, lit(w)))))))
        .otherwise(array().cast("array<bigint>"))
    }

  /** Containment at EXTREME asymmetry — the seed-gram index.
    *
    * [[containmentPairs]]'s banded-LSH candidates lose recall once the
    * small document is buried in something much larger (J ≪ 0.3:
    * r=2 band hit probability is J², so a 300-gram document inside a
    * 1800-gram one surfaces with P ≈ 0.6 even at bands=32). The
    * index here is content-deterministic instead of probabilistic:
    * every document publishes the w-grams whose hash ≡ 0 (mod
    * `seedMod`) — a winnowing-style 1/seedMod sample selected by the
    * GRAM, not the document — so if A's grams sit inside B, A's seed
    * grams are exactly B's seed grams restricted to A: an equi-join on
    * seed hash finds the pair with certainty once A contributes
    * `minSeeds` surviving seeds, regardless of how big B is.
    *
    * Scale shape: only (id, hash64) pairs ever shuffle (text and gram
    * sets stay map-side); the posting-list join is bounded by the
    * stop-gram cap — seed grams appearing in more than `maxDf`
    * documents (boilerplate, common phrases) index nothing, so
    * candidate fan-out is ≤ maxDf per posting, never quadratic in the
    * corpus. Candidates sharing ≥ `minSeeds` seeds are then
    * exact-verified on full (semi-join-reduced) gram sets, same as
    * every detector in this family — precision is exact, the index
    * only decides recall.
    *
    * SHORT-DOCUMENT caveat: a document with fewer than ~2·seedMod·
    * minSeeds grams has expected surviving seeds below `minSeeds`, so
    * whether it clears the bar is a property of WHICH grams the hash
    * happens to select — two different hash functions legitimately
    * disagree on such pairs (observed: a ~30-gram doc's planted pair
    * found under the md5-60 sample but not the xxhash64 one). The
    * index's recall guarantee only starts where the expected seed
    * count comfortably exceeds `minSeeds`; route shorter documents to
    * the banded [[containmentPairs]] path (their gram sets are small
    * enough for fine banding) or lower `seedMod` for them.
    *
    * `gramFn` defaults to the fast in-engine hash; pass
    * [[portableGramHashes]] to make the whole pipeline — selection
    * included — replayable by another engine. The oracle-gated entry
    * TIMES the portable hash too: a fast-hash bench variant was tried
    * and rejected because the hash changes the seed SAMPLE and with it
    * short-doc recall (previous paragraph) — the two forms are not the
    * same operator minus scaffolding, so the timed form stays the
    * verified form. */
  def seedGramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                               threshold: Double = 0.9, w: Int = 3,
                               seedMod: Int = 8, minSeeds: Int = 2,
                               maxDf: Int = 1000,
                               gramFn: Option[Column => Column] = None)
      : DataFrame = {
    val gram: Column => Column =
      gramFn.getOrElse(fastGramHashes(_: Column, w))
    // The seed relation is referenced four times downstream (the
    // stop-gram aggregate, the semi-join back, and both sides of the
    // candidate self-join): persist it so the corpus-wide gram pass —
    // the only expensive map stage here — runs ONCE instead of once
    // per reference. The cached relation is (id, hash64) pairs at
    // 1/seedMod density, a sliver of the corpus. Both caches are
    // RELEASED before returning (CacheManager entries outlive every
    // reference, so a leaked persist accumulates across calls in a
    // long-lived session); the verified pair set — tiny, it IS the
    // output — is captured via localCheckpoint while the caches are
    // hot, the same lifecycle as [[candidatePairs]].
    val seeds = df
      .select(col(idCol).as("id"), gram(col(textCol)).as("g"))
      .select(col("id"),
        explode(filter(col("g"), h => pmod(h, lit(seedMod)) === 0)).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // eager fill (see [[withGramSets]]): the stop-gram aggregate and
      // both sides of the candidate self-join scan this concurrently
      seeds.count()
      // stop-gram cap: a seed living in > maxDf docs is boilerplate and
      // would fan out quadratically — it indexes nothing
      val rare = seeds.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("h"))
      val idx = seeds.join(rare, Seq("h"), "left_semi")
      // (id, h) is unique per doc (grams are distinct'd), so the pair
      // count IS the number of distinct shared seed grams. Persisted for
      // the same reason as the seeds: it feeds the verify join and (via
      // the union) the semi-join pruning of the gram-set build.
      val cand = idx.as("a")
        .join(idx.as("b"),
          col("a.h") === col("b.h") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minSeeds)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        cand.count() // eager fill — referenced by inPairs and both verify sides
        verifyPairsContainment(df, idCol, textCol, cand, threshold, w,
          Some(gram))
      } finally cand.unpersist(false)
    } finally seeds.unpersist(false)
  }

  /** Quality-keeper dedup: like [[nearDupSurvivors]], but every
    * cluster keeps its BEST document by `score` (ties → min id)
    * instead of the minimum id — what a curation pipeline actually
    * wants when near-duplicates differ in cleanliness. Same scale
    * shape: only the (tiny) dup set is scored and ranked — the
    * component labels broadcast against the corpus so scoring the dup
    * docs is map-side, the window runs over dup docs only, and the
    * final keep filter is a broadcast ANTI join against the losers.
    * The corpus itself never shuffles. `score` must be deterministic
    * and engine-recomputable (e.g. [[TextFunctions.qualityScore]],
    * which rounds internally) for oracle checking. */
  def nearDupBestSurvivors(df: DataFrame, idCol: String, textCol: String,
                           score: Column, threshold: Double = 0.7,
                           w: Int = 3, k: Int = 64,
                           bands: Int = 16,
                           scoreOut: Option[String] = None): DataFrame = {
    val pairs = verifiedNearDuplicates(df, idCol, textCol, threshold, w, k, bands)
      .select(col("id_a"), col("id_b"))
    val comps = connectedComponents(pairs)
    val small = comps.count() <= 1000000L // materialized above — count is free
    val compsSide = if (small) broadcast(comps) else comps
    // join BEFORE scoring: the component labels prune the corpus down
    // to the (tiny) dup set first, so `score` — typically a regex-heavy
    // quality composite — evaluates per DUP doc, never corpus-wide
    // (the join keeps the caller's column names so `score` resolves)
    val dupScored = df
      .join(compsSide.withColumnRenamed("id", idCol), Seq(idCol))
      .select(col(idCol).as("id"), score.as("__q"), col("comp"))
    val wnd = Window.partitionBy(col("comp"))
      .orderBy(col("__q").desc, col("id"))
    // losers are tiny and feed the anti join — materialize them so the
    // LSH/verify/label lineage runs once and the survivor plan is just
    // corpus ⟕anti broadcast(losers). localCheckpoint, not persist: a
    // CacheManager entry outlives every reference, so a persisted
    // relation the caller never sees leaks cached blocks on every call
    // in a long-lived session; checkpoint blocks are reclaimed by the
    // ContextCleaner once the plan is dropped. (The lineage-loss trade
    // is moot here: `comps` upstream is already a localCheckpoint from
    // [[connectedComponents]], so the loser lineage was truncated
    // either way — same executor-loss caveat, documented there.)
    val losers = dupScored.withColumn("__rk", row_number().over(wnd))
      .filter(col("__rk") > 1).select(col("id").as(idCol))
      .transform(graft.plans.Materialize.stage)
    val kept = df.join(if (small) broadcast(losers) else losers, Seq(idCol), "left_anti")
    // emitting the score here spares callers a second corpus-wide eval
    scoreOut.fold(kept)(n => kept.withColumn(n, score))
  }

  /** Portable 60-bit token hash: the top 15 hex digits of md5, read as
    * an integer. Slower than xxhash64 but computable bit-identically by
    * any engine with md5 (DuckDB: `('0x' || substr(md5(t),1,15))::BIGINT`)
    * — the hash the oracle-checked SimHash entry runs on. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash per document: tokens explode once, each token is
    * hashed ONCE, then 64 conditional-sum bit votes aggregate per doc
    * (codegen'd hash aggregate, one shuffle on the id), and the votes
    * pack into a long. Scales linearly in corpus size.
    *
    * The vote machinery is hash-agnostic: `hashFn` defaults to the fast
    * xxhash64 but any Column→long-Column hash works (md5Hash60 gives a
    * cross-engine-reproducible fingerprint at ~2× the hash cost). */
  def withSimhash(df: DataFrame, idCol: String, textCol: String,
                  out: String = "simhash",
                  hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val hashed = df
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .select(col(idCol), hashFn(col("__tok")).as("__h"))
    val votes = (0 until 64).map { i =>
      sum(when(col("__h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1))
        .as(s"__b$i")
    }
    val packed = (0 until 64).map { i =>
      when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val sims = hashed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), packed.as(out))
    df.join(sims, Seq(idCol), "left")
      .withColumn(out, coalesce(col(out), lit(0L)))
  }

  /** Hamming distance between two SimHash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Exact token-n-gram Jaccard similarity — the precise verifier for
    * LSH candidates. */
  def ngramJaccard(textA: Column, textB: Column, n: Int = 3): Column = {
    val ga = array_distinct(shingles(textA, n))
    val gb = array_distinct(shingles(textB, n))
    val inter = size(array_intersect(ga, gb)).cast("double")
    val union = size(array_union(ga, gb)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }
}
