package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** INCREMENTAL connected components — day-2 maintenance for the stored
  * duplicate-cluster labels, completing the maintenance pattern the
  * ANN index (q_ann_index_insert / q_ann_index_delete) and the BM25
  * index (q_bm25_index_stream) already follow: the expensive global
  * computation runs ONCE, and arriving evidence updates the stored
  * result with BATCH-bounded work instead of a recompute.
  *
  * Storage model — two append-only relations, NEVER rewritten on the
  * batch path (a parquet rewrite is corpus-sized; appends are
  * batch-sized):
  *
  *  - `labels(doc_id, comp_id)`: one row per node at the time it first
  *    appeared in a pair, comp_id = its component's min id AT INSERT.
  *    Written doc-sorted with small row groups
  *    ([[graft.catalog.ParquetTable.IndexWriteOptions]]) so the batch
  *    root-lookup's pushed doc-id `InSet` prunes the scan — the
  *    hybrid-dedup-index machinery.
  *  - `fwd(old_root, new_root)`: every merge appends forwarding edges
  *    from the roots that LOST to the component's new min. Labels are
  *    stale the moment a merge lands; READS resolve comp_id through
  *    the forwarding closure. fwd is sized by the merges since the
  *    last compaction (churn, not corpus) and compaction
  *    ([[compacted]]) folds it back to zero.
  *
  * Merge roots always decrease (the new root is the min over merged
  * components, and every forwarded root is some component's old min),
  * so the forwarding graph is a forest of chains/trees pointing at
  * minima — resolving it IS a connected-components run over the fwd
  * edge list, labeled by min: [[resolveForwards]] reuses the
  * large-star/small-star kernel (O(log diameter) rounds, so a
  * pathological chain of B batch merges resolves in ~log B rounds,
  * spec-pinned for 64-link chains in DedupSpec).
  *
  * Per-batch cost: one pruned labels read (batch endpoints), one fwd
  * read (churn-sized), a star-CC over the batch's ROOT graph
  * (batch-bounded), two appends. Nothing scales with the corpus.
  *
  * The same idea at reference scope: the reference's MERGE-maintained
  * control tables (`/root/reference/modules/merge_data.py`) keep a
  * stored relation current under arriving rows; this is that
  * day-2 stance applied to the dedup graph. */
object IncrementalComponents {

  /** Resolve the forwarding relation to its fixpoint: (old_root,
    * final_root) for every root appearing anywhere in `fwd` — the
    * transitive "where did my component's min end up". Merges only
    * ever forward to smaller ids, so every merge-tree's final root is
    * its component MIN.
    *
    * The forwards relation is churn-sized (one row per component root
    * ever merged since the last fold), so up to 2¹⁶ edges the
    * closure runs as a DRIVER union-find labeled by component min,
    * fetched through [[DriverFetch]] (so also under its byte cap).
    * This is not a micro-optimization: the composed pipeline resolves
    * per micro-batch, and the r15 instrumented probe
    * measured the distributed star-CC at >1 s of pure driver-round/job
    * overhead on a TWO-ROW relation — per-batch serve cost jumped the
    * moment the first merge landed. Above the cap (≈1 MiB of edges)
    * the distributed star-CC kernel takes over: same min-labeled
    * answer (spec-pinned equal on chain + multi-merge fixtures),
    * O(log diameter) rounds. */
  def resolveForwards(fwd: DataFrame): DataFrame =
    DriverFetch("forwarding closure",
        Seq(fwd.select(col("old_root"), col("new_root"))), 1 << 16)
      .map { case Seq(edgeRows) =>
        // union handles even a degenerate double-forwarded root a
        // replayed batch could leave, where a pure chain-follow would
        // pick one target arbitrarily
        val uf = UnionFind.of(edgeRows.iterator.map(r => (r.getLong(0), r.getLong(1))))
        DriverFetch.local(fwd, uf.nodes.map(n => Row(n, uf.find(n))).toSeq, ForwardSchema)
      }
      // over the cap: the distributed star rounds directly — the
      // kernel's own driver probe would refetch the same relation
      .getOrElse(graft.text.Dedup.connectedComponentsStarRounds(
          fwd.select(col("old_root").as("id_a"), col("new_root").as("id_b")), 50)._1
        .select(col("id").as("old_root"), col("comp").as("final_root")))

  private val ForwardSchema = StructType(Seq(
    StructField("old_root", LongType), StructField("final_root", LongType)))

  /** The serving view: stored labels with comp_id resolved through the
    * stored forwards. No hint on the resolution join — its build side
    * is churn-sized (merges since compaction), which AQE can check at
    * runtime; a static broadcast would pin an OOM on a high-churn
    * corpus. */
  def resolvedLabels(labels: DataFrame, fwd: DataFrame): DataFrame = {
    val res = resolveForwards(fwd)
    labels.join(res, labels("comp_id") === res("old_root"), "left")
      .select(labels("doc_id"),
        coalesce(col("final_root"), col("comp_id")).as("comp_id"))
  }

  /** The appends ONE batch of new pairs implies against the stored
    * state: returns (newLabels, newForwards) — rows to append to the
    * two tables. Nothing is rewritten and the stored relations are
    * only read: labels through a batch-endpoint-pruned scan, fwd in
    * full (churn-sized).
    *
    * Steps: (1) each batch endpoint's CURRENT root = its stored label
    * (own id if unseen) resolved through the forwards; (2) the batch's
    * pairs project to ROOT pairs, whose star-CC yields each touched
    * root's new min; (3) losers' forwarding edges and new nodes'
    * labels (already at their final root) come back as appends.
    *
    * Endpoint ids are a bounded driver fetch (2 × batch pairs)
    * reused as the pushed labels filter AND the local
    * lookup relation — the hybrid-index stance; a batch over 2²⁰
    * endpoints (or the [[DriverFetch]] byte cap) falls back to a
    * distributed lookup join (the one full labels scan such a bulk
    * batch amortizes).
    *
    * Batch-sized inputs run on the DRIVER ([[driverAppends]]): the
    * pairs and the forwards come back concurrently, then the endpoint
    * labels, each at most 2^16 rows and each call at most 64 MiB
    * ([[DriverFetch]]); both appends return as local relations. Larger
    * inputs run the distributed body. */
  def batchAppends(labels: DataFrame, fwd: DataFrame, pairs: DataFrame)
      : (DataFrame, DataFrame) =
    driverAppends(labels, fwd, pairs)
      .getOrElse(batchAppendsDistributed(labels, fwd, pairs))

  /** The driver path of [[batchAppends]]: the root resolution through
    * the forwards, the root-pair closure, the losing roots' forwards and
    * the new nodes' labels, each through a [[UnionFind]] — the same
    * rows the distributed body appends (a repeated label row for an
    * endpoint yields one current-root row each, as the lookup join
    * does). Long ids only; None above the fetch caps. */
  private def driverAppends(labels: DataFrame, fwd: DataFrame, pairs: DataFrame)
      : Option[(DataFrame, DataFrame)] = {
    if (!DriverFetch.hasTypes(pairs, "id_a" -> LongType, "id_b" -> LongType) ||
        !DriverFetch.hasTypes(labels, "doc_id" -> LongType, "comp_id" -> LongType) ||
        !DriverFetch.hasTypes(fwd, "old_root" -> LongType, "new_root" -> LongType))
      return None
    val nullable = pairs.schema("id_a").nullable || pairs.schema("id_b").nullable
    def schema(a: String, b: String) = StructType(Seq(
      StructField(a, LongType, nullable), StructField(b, LongType, nullable)))
    DriverFetch("incremental components: pairs and forwards",
        Seq(pairs.select(col("id_a"), col("id_b")),
          fwd.select(col("old_root"), col("new_root"))))
      .flatMap { case Seq(pairRows, fwdRows) =>
        val live = pairRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        val endpoints = scala.collection.mutable.LinkedHashSet.empty[Long]
        live.foreach(r => endpoints ++= Seq(r.getLong(0), r.getLong(1)))
        (if (endpoints.isEmpty) Some(IndexedSeq(Array.empty[Row]))
         else DriverFetch("incremental components: endpoint labels",
           Seq(labels.filter(org.apache.spark.sql.graft.ColumnBridge.inSet(
               "doc_id", endpoints.map(Long.box(_): Any).toSet))
             .select(col("doc_id"), col("comp_id")))))
          .map { case Seq(labelRows) =>
            val res = UnionFind.of(fwdRows.iterator.map(r => (r.getLong(0), r.getLong(1))))
            val stored = labelRows.toSeq.groupMap(_.getLong(0))(r =>
              if (r.isNullAt(1)) None else Some(r.getLong(1)))
            // (doc_id, current root, known): the stored label (own id if
            // unseen) resolved through the forwards
            val cur = endpoints.toSeq.flatMap(e => stored.getOrElse(e, Seq(None))
              .map(c => (e, res.find(c.getOrElse(e)), c.isDefined)))
            val roots = cur.groupMap(_._1)(_._2)
            val merged = UnionFind.of(for {
              p <- live.iterator
              ra <- roots(p.getLong(0)).iterator
              rb <- roots(p.getLong(1)).iterator if ra != rb
            } yield (ra, rb))
            val knownRoots = cur.collect { case (_, r, true) => r }.toSet
            val newFwd = merged.nodes
              .filter(r => merged.find(r) != r && knownRoots(r))
              .map(r => Row(r, merged.find(r))).toSeq
            val newLabels = cur.collect { case (e, r, false) => Row(e, merged.find(r)) }
            (DriverFetch.local(pairs, newLabels, schema("doc_id", "comp_id")),
              DriverFetch.local(pairs, newFwd, schema("old_root", "new_root")))
          }
      }
  }

  /** The distributed body of [[batchAppends]] — the path for inputs
    * over the driver caps. */
  private[graft] def batchAppendsDistributed(labels: DataFrame, fwd: DataFrame,
                                             pairs: DataFrame)
      : (DataFrame, DataFrame) = {
    val spark = pairs.sparkSession
    val endpoints = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    val (epsDf, known) =
      DriverFetch("incremental components: batch endpoints", Seq(endpoints), 1 << 20) match {
        case Some(Seq(epRows)) =>
          (spark.createDataFrame(
            java.util.Arrays.asList(epRows: _*), endpoints.schema),
            if (epRows.isEmpty) labels.filter(lit(false))
            else labels.filter(org.apache.spark.sql.graft.ColumnBridge
              .inSet("doc_id",
                epRows.map(r => Long.box(r.getLong(0)): Any).toSet)))
        case _ =>
          // documented wide-batch fallback: distributed lookup join
          (endpoints, labels.join(endpoints, Seq("doc_id"), "left_semi"))
      }
    val res = resolveForwards(fwd)
    // current root per endpoint: stored label (own id if new), then
    // through the forwarding closure; pin once — three consumers
    val cur = Materialize.stage(epsDf
      .join(known.select(col("doc_id"), col("comp_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp_id"), col("doc_id")).as("root0"),
        col("comp_id").isNotNull.as("known"))
      .join(res, col("root0") === col("old_root"), "left")
      .select(col("doc_id"),
        coalesce(col("final_root"), col("root0")).as("root"), col("known")))
    // the batch's merge graph lives on ROOTS — batch-bounded; star-CC
    // keeps a chain of B merges to ~log B driver rounds
    val rootPairs = pairs
      .join(cur.select(col("doc_id").as("id_a"), col("root").as("ra")),
        Seq("id_a"))
      .join(cur.select(col("doc_id").as("id_b"), col("root").as("rb")),
        Seq("id_b"))
      .filter(col("ra") =!= col("rb"))
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
    val merged = Materialize.stage(
      graft.text.Dedup.connectedComponentsStar(rootPairs)
        .select(col("id").as("root"), col("comp").as("newRoot")))
    // only roots that exist in STORED state need forwarding: a new
    // node's own-id root is inserted below already at its final root,
    // and no stored row can reference it. Known-endpoint roots are the
    // complete candidate set — a losing root is always some endpoint's
    // resolved root, an unknown endpoint's root is its own UNSEEN id
    // (a seen id would have a label row and classify as known), and a
    // previously-forwarded final root reaching this batch does so as a
    // known endpoint's resolved root.
    val newFwd = merged.filter(col("root") =!= col("newRoot"))
      .join(cur.filter(col("known")).select(col("root")).distinct(),
        Seq("root"), "left_semi")
      .select(col("root").as("old_root"), col("newRoot").as("new_root"))
    val newLabels = cur.filter(!col("known"))
      .join(merged, Seq("root"), "left")
      .select(col("doc_id"),
        coalesce(col("newRoot"), col("root")).as("comp_id"))
    (newLabels, newFwd)
  }

  /** Compaction: the resolved view as the new labels relation plus an
    * EMPTY forwards — callers overwrite/truncate their stage tables
    * with these on their maintenance cadence (the hybrid-index
    * compaction stance), after which reads resolve through zero
    * forwarding hops until the next merge. */
  def compacted(labels: DataFrame, fwd: DataFrame)
      : (DataFrame, DataFrame) =
    (resolvedLabels(labels, fwd), fwd.limit(0))
}
