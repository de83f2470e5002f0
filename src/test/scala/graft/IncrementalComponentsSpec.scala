package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.IncrementalComponents

/** The incremental-components contract: a sequence of batch updates
  * against the stored label/forward relations must land on EXACTLY the
  * labels a from-scratch components run over all pairs produces — for
  * merges through interior nodes, forwarding chains, new-node attach,
  * new-new pairs, no-op batches — and compaction must not change a
  * single resolved label. */
class IncrementalComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def full(pairs: Seq[(Long, Long)]): Set[(Long, Long)] =
    labelsOf(graft.text.Dedup.connectedComponents(
      pairs.toDF("id_a", "id_b")))

  /** Drive N batches through batchAppends against in-memory relations
    * (the entry drives ParquetTables; the algebra is identical). */
  private def incremental(hist: Seq[(Long, Long)],
                          batches: Seq[Seq[(Long, Long)]])
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    var labels = graft.plans.Materialize.stage(
      graft.text.Dedup.connectedComponents(hist.toDF("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("comp").as("comp_id")))
    var fwd = graft.plans.Materialize.stage(
      Seq.empty[(Long, Long)].toDF("old_root", "new_root"))
    batches.foreach { b =>
      val (nl, nf) = IncrementalComponents.batchAppends(
        labels, fwd, b.toDF("id_a", "id_b"))
      labels = graft.plans.Materialize.stage(labels.unionByName(nl))
      fwd = graft.plans.Materialize.stage(fwd.unionByName(nf))
    }
    (labels, fwd)
  }

  test("batch merges, attaches and new pairs land on the from-scratch labels") {
    // hist: {1,2,3} comp 1; {10,11} comp 10; {20,21,22} comp 20
    val hist = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
    // batch: merge comp 20 into comp 1 through INTERIOR nodes (3, 22);
    // attach new node 4 to comp 10's interior; brand-new pair {30,31}
    val batch = Seq((3L, 22L), (11L, 4L), (30L, 31L))
    val (labels, fwd) = incremental(hist, Seq(batch))
    val resolved = labelsOf(
      IncrementalComponents.resolvedLabels(labels, fwd))
    assert(resolved == full(hist ++ batch))
    // losing roots forward, winners do not: comp 20 lost to comp 1,
    // and comp 10 lost to the NEW node 4 (4 < 10 — a new arrival can
    // become the min, and the stored root must forward to it)
    val f = fwd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(f == Set((20L, 1L), (10L, 4L)))
  }

  test("forwarding chains across batches resolve to the final root") {
    // three comps merge pairwise over TWO batches so the middle root
    // is forwarded twice: {10,11} ∪ {20,21} → 10, then ∪ {1,2} → 1 —
    // fwd holds 20→10 then 10→1, and 21's stored label (comp 20) must
    // resolve through BOTH hops
    val hist = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    val b1 = Seq((11L, 21L))
    val b2 = Seq((2L, 10L))
    val (labels, fwd) = incremental(hist, Seq(b1, b2))
    val resolved = labelsOf(
      IncrementalComponents.resolvedLabels(labels, fwd))
    assert(resolved == full(hist ++ b1 ++ b2))
    assert(resolved.contains((21L, 1L)), s"chain unresolved: $resolved")
    val f = fwd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(f == Set((20L, 10L), (10L, 1L)))
  }

  test("a batch of already-connected pairs appends nothing") {
    val hist = Seq((1L, 2L), (2L, 3L))
    val (labels, fwd) = incremental(hist, Seq(Seq((1L, 3L), (2L, 3L))))
    assert(fwd.isEmpty)
    assert(labelsOf(IncrementalComponents.resolvedLabels(labels, fwd))
      == full(hist))
  }

  test("wide-batch fallback (endpoint cap exceeded) lands on the same labels") {
    // a batch over the endpoint cap (scoped down to 1 row here) routes
    // the distributed body through its distributed lookup join instead
    // of the driver-held InSet — same answer (batch-sized inputs never
    // reach that body on their own)
    val hist = Seq((1L, 2L), (10L, 11L))
    val b = Seq((2L, 10L), (30L, 31L))
    val labels0 = graft.plans.Materialize.stage(
      graft.text.Dedup.connectedComponents(hist.toDF("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("comp").as("comp_id")))
    val fwd0 = Seq.empty[(Long, Long)].toDF("old_root", "new_root")
    val (nl, nf) = graft.plans.DriverFetch.withCaps(1, graft.plans.DriverFetch.MaxBytes)(
      IncrementalComponents.batchAppends(labels0, fwd0, b.toDF("id_a", "id_b")))
    val resolved = labelsOf(IncrementalComponents.resolvedLabels(
      labels0.unionByName(nl), fwd0.unionByName(nf)))
    assert(resolved == full(hist ++ b))
  }

  test("compaction folds the forwards into the labels and changes nothing") {
    val hist = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    val (labels, fwd) =
      incremental(hist, Seq(Seq((11L, 21L)), Seq((2L, 10L))))
    val before = labelsOf(IncrementalComponents.resolvedLabels(labels, fwd))
    val (clabels, cfwd) = IncrementalComponents.compacted(labels, fwd)
    assert(cfwd.isEmpty)
    assert(labelsOf(clabels) == before)
    // post-compaction serving resolves through ZERO forwarding hops
    assert(labelsOf(
      IncrementalComponents.resolvedLabels(clabels, cfwd)) == before)
  }

  test("batch root lookup pushes the endpoint id set into the stored label scan") {
    // the 100 TB contract: the per-batch labels read is pruned by the
    // batch's doc-id InSet, not a full table scan — assert the pushed
    // filter reaches the parquet source the way the hybrid index gates do
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc-plan")
    val base = graft.text.Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"))
      .select(col("id").as("doc_id"), col("comp").as("comp_id"))
    val t = graft.catalog.ParquetTable(
      spark, "inc_plan_labels", s"$tmp/labels", base.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
    t.overwrite(base.sortWithinPartitions("doc_id"))
    val pruned = t.read().filter(
      org.apache.spark.sql.graft.ColumnBridge.inSet(
        "doc_id", Set[Any](Long.box(2L), Long.box(99L))))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(doc_id"), plan)
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(2L))
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("resolveForwards: driver union-find fast path equals distributed star-CC") {
    // The r15 fast path: churn-sized forwards close on the driver
    // (bounded model-state fetch), anything larger falls back to the
    // star-CC kernel. Both must label every root by its component MIN
    // — pinned on a 64-link chain, a tree merging into it, and a
    // double-forwarded root (the debris a crashed-and-replayed batch
    // can leave, where a naive chain-follow would pick one target
    // arbitrarily).
    val edges = ((1L until 64L).map(i => (i + 1, i)) ++
      Seq((100L, 50L), (101L, 50L), (50L, 20L)) ++
      Seq((200L, 150L), (200L, 140L), (150L, 140L)))
      .toDF("old_root", "new_root")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = setOf(IncrementalComponents.resolveForwards(edges))
    // a one-row cap forces the distributed star-CC path
    val dist = setOf(graft.plans.DriverFetch.withCaps(1, graft.plans.DriverFetch.MaxBytes)(
      IncrementalComponents.resolveForwards(edges)))
    assert(fast == dist, s"fast-path closure diverged: " +
      s"only-fast=${fast.diff(dist).take(5)} only-dist=${dist.diff(fast).take(5)}")
    assert(fast.contains((64L, 1L)) && fast.contains((100L, 1L)),
      "chain/tree did not resolve to the component min")
    assert(fast.contains((200L, 140L)) && fast.contains((150L, 140L)),
      "double-forwarded root did not resolve to the component min")
    // empty churn resolves to an empty map on the fast path too
    assert(IncrementalComponents.resolveForwards(
      edges.limit(0)).isEmpty)
  }
}
