package graft.streaming

import graft.catalog.ParquetTable

/** Cadence maintenance of stored stream-served indexes, run from
  * inside the caller's foreachBatch so that maintenance is part of the
  * PIPELINE, not an operator's cron job. The unbounded indexes (band
  * buckets, seed postings, BM25 postings, labels, pair logs) fold
  * through [[LeveledIndex]]'s size-tiered merge, whose cadence cost is
  * O(rows since the last cadence); a bounded table (a control/status
  * relation, a TTL'd window whose size saturates) compacts whole with
  * [[graft.catalog.ParquetTable.compact]]. */
object IndexMaintenance {

  /** Cadence maintenance for the INCREMENTAL-COMPONENTS pair, r15 form
    * — the r14 cadence (fold forwarding chains into the label table
    * every 8 batches) fixed the deepening-closure growth but paid an
    * O(labels) rewrite per cadence, so cumulative maintenance cost was
    * quadratic in the corpus (the one growing curve in the r14 verdict:
    * maint_sec 3.0 → 6.9 s over 40 batches). This form does the same
    * SEMANTIC maintenance with work bounded by what actually changed:
    *
    *  1. CLOSE the forwarding relation in place — overwrite `forwards`
    *     with its own transitive closure (old_root → FINAL root, self
    *     edges dropped). Cost O(merge churn), never O(corpus): the
    *     forwards relation holds one row per component root ever
    *     merged. Afterwards every stored edge is depth 1, so per-batch
    *     resolution stays shallow no matter how long the run gets —
    *     the property the label fold existed to restore, bought
    *     without touching labels.
    *  2. Size-triggered FULL fold (the escape hatch bounding step 1's
    *     input): when the closed forwards outgrow `foldRatio` × label
    *     bytes, fold them into the labels
    *     ([[graft.plans.IncrementalComponents.compacted]], the
    *     q_components_compact machinery) and truncate. The geometric
    *     trigger makes the expensive rewrite fire ever more rarely as
    *     the table grows — amortized O(1) per label row.
    *  3. LEVELED file maintenance of the per-batch label runs
    *     ([[LeveledIndex.maintain]]) — O(new labels) per cadence.
    *
    * Crash-safety: step 1 atomically overwrites an equivalent relation
    * (resolving through the closed forwards lands on the same roots as
    * resolving through the raw chains). Step 2 is idempotent the way
    * the r14 fold was: folded labels contain no old roots, so
    * resolving through stale forwards a crash leaves behind changes
    * nothing, and a replayed fold folds the same fixpoint. Step 3
    * carries [[LeveledIndex]]'s destination-marker protocol. */
  def maintainComponents(labels: LeveledIndex, forwards: ParquetTable,
                         batchId: Long,
                         foldRatio: Double = 0.25): Boolean = {
    // ONE cadence knob: the labels index's own `every` (r15 review —
    // a separate parameter here had to silently agree with it, or the
    // leveled label folds below would fire on no cadence at all and
    // level-0 runs would accumulate unboundedly)
    val every = labels.every
    val fire = every > 0 && batchId % every == (every - 1).toLong
    if (fire) {
      import org.apache.spark.sql.functions._
      val fwd = forwards.read()
      // ONE fetch of the churn-sized forwards answers the emptiness
      // check and the depth probe (an edge whose target is itself
      // forwarded means a chain exists); forwards over the DriverFetch
      // caps probe with two jobs. Skip the closure rewrite when every
      // edge already points at a terminal root (the steady state
      // between merges; the r15 instrumented probe measured the
      // unconditional rewrite at >1 s of job overhead on a two-row
      // relation).
      val (empty, deep) = graft.plans.DriverFetch("components maintenance: forwards",
          Seq(fwd.select(col("old_root"), col("new_root"))))
        .map { case Seq(rows) =>
          val olds = rows.iterator.map(_.getLong(0)).toSet
          (rows.isEmpty, rows.exists(r => olds(r.getLong(1))))
        }
        .getOrElse {
          val empty = fwd.isEmpty
          (empty, !empty && !fwd.select(col("new_root")).join(
            fwd.select(col("old_root")),
            col("new_root") === col("old_root"), "left_semi").isEmpty)
        }
      if (!empty) {
        if (deep) {
          val closed = graft.plans.IncrementalComponents.resolveForwards(fwd)
            .filter(col("old_root") =!= col("final_root"))
            .select(col("old_root"), col("final_root").as("new_root"))
          forwards.overwrite(graft.plans.Materialize.stage(closed))
        }
        if (forwards.tableBytes > foldRatio * labels.table.tableBytes) {
          val (cl, _) = graft.plans.IncrementalComponents.compacted(
            labels.read(), forwards.read())
          labels.table.overwrite(graft.plans.Materialize.stage(cl)
            .withColumn("mig", lit(LeveledIndex.migFor(1, batchId)))
            .repartition(col("doc_id"))
            .sortWithinPartitions("mig", "doc_id"))
          forwards.truncate()
        }
      }
      labels.maintain(batchId)
    }
    fire
  }
}
