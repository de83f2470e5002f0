package graft.plans

import org.apache.spark.sql.DataFrame

/** Eager lineage-free materialization with a cluster-mode switch — the
  * ONE helper every stage pin in the library routes through.
  *
  * Local mode (the default): `localCheckpoint(eager = true)` — blocks
  * live on executors with lineage truncated, reclaimed by the
  * ContextCleaner; an executor loss mid-job fails the job. On a
  * long-running cluster that trade is wrong — a 1000-executor job
  * losing one machine should not restart a multi-round contraction or
  * recompute a corpus-pass stage — so when the session opts in
  * (`graft.checkpoint.reliable=true`, session-scoped conf) AND a
  * checkpoint dir is configured (`SparkContext.setCheckpointDir`,
  * typically durable storage), materialization goes through a RELIABLE
  * `.checkpoint()`: files survive executor loss and the job resumes
  * from the last stage. Both forms are eager and truncate lineage, so
  * iterative plans never grow and multi-consumer relations compute
  * once.
  *
  * The flag is read per-call from the owning session, so a single conf
  * flip converts EVERY stage pin in a pipeline — dedup rounds,
  * prefix-sum partitionings, model relations, candidate sets — to the
  * cluster idiom; no per-operator wiring. */
object Materialize {

  /** `df` materialized, or `df` itself when it is already a local
    * relation on the driver (nothing to pin, and no job to run). */
  def stage(df: DataFrame): DataFrame = {
    if (org.apache.spark.sql.graft.ExecutionBridge.isLocal(df)) return df
    val ss = df.sparkSession
    val reliable =
      ss.conf.get("graft.checkpoint.reliable", "false").toBoolean &&
        ss.sparkContext.getCheckpointDir.isDefined
    if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
  }

  /** Driver-held MODEL-STATE fetch — the one audited idiom for every
    * fail-loudly `.collect()` in the library (k-means centroids and their
    * per-round updates, PQ codebook seeds/updates, BPE's per-round
    * top pair, IVF probe centroids). The contract: the relation is
    * MODEL-sized — bounded by k, k·dim, vocab-k or a literal limit,
    * never corpus-derived — and `what` names the bound so a grep for
    * `modelState(` surfaces every driver-held relation with its
    * justification in one sweep.
    *
    * The fetch goes through `limit(maxRows + 1)` (a CollectLimit — the
    * driver never buffers more than the cap even when the contract is
    * violated) and FAILS LOUDLY if the cap is hit: an accidental
    * corpus-sized collect becomes an immediate, named error instead of
    * a driver OOM minutes later. Row order is whatever collect yields
    * — all callers aggregate/sort driver-side or pre-limit with an
    * orderBy, so the cap's pass-through is order-agnostic.
    *
    * Data that may legitimately outgrow its cap and has a distributed
    * fallback does not come through here: a driver fast path fetches
    * through [[DriverFetch]], which returns None above its caps. */
  def modelState(df: DataFrame, what: String,
                 maxRows: Int = 1 << 20): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"model-state fetch '$what' exceeded $maxRows rows — " +
        "this relation is not model-sized; stage it instead of collecting")
    rows
  }
}
