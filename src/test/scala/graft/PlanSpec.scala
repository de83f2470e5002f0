package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape gates — the 100 TB design rules as assertions:
  * filters/projections reach the parquet scan, tiny dims broadcast,
  * top-k never globally sorts, no cartesian products. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** All nodes of the EXECUTED plan tree, descending through AQE query
    * stages but NOT into `InMemoryRelation` cached-plan recipes: a
    * persisted relation executes as a block read — its recipe is what
    * runs only on block loss — so shape gates must judge the recipe
    * absent, exactly as the plan's execution does. (The toString
    * rendering prints the recipe inline, which is why string matching
    * can't express "materialized" once a plan persists instead of
    * checkpointing.) */
  private def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: executedNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: executedNodes(q.plan)
    case _ => p +: p.children.flatMap(executedNodes)
  }

  test("filter and projection are pushed to the parquet scan") {
    val plan = Tables.load(spark, sf, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .select(col("l_returnflag"), col("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string"), plan)
  }

  test("dimension joins broadcast the small side") {
    val plan = planOf("q_join_dims")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("near-dup component labeling broadcasts the component side") {
    // the corpus must not shuffle just to pick up labels from the
    // (small) set of docs that have a near-dup
    val comps = SparkEntry.queries("q_neardup_components")(spark, sf)
    comps.collect() // finalize the adaptive plan
    val plan = comps.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("quality-keeper survivor plan is corpus anti-join broadcast(losers) — nothing else") {
    // the LSH/verify/components/window lineage must be materialized
    // into the (tiny) loser set up front: the survivor plan itself
    // re-reads the corpus ONCE (2 FileScans — the planted fixture is a
    // 2-branch union) and carries no Window and no second corpus pass
    // for the emitted quality column
    val df = SparkEntry.queries("q_cluster_best")(spark, sf)
    df.collect() // finalize the adaptive plan
    val nodes = executedNodes(df.queryExecution.executedPlan)
    // the LSH/window lineage must live behind a materialized loser set
    // (an in-memory scan), never in the executed survivor tree
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]), nodes.mkString("\n"))
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]), nodes.mkString("\n"))
    // losers are materialized via localCheckpoint (an RDD scan in the
    // executed tree — CacheManager entries would leak across calls), so
    // the loser side must appear as a plain RDD scan, not a recomputed
    // LSH lineage
    assert(nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      nodes.mkString("\n"))
    val scans = nodes.count(_.isInstanceOf[
      org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 2, s"expected 2 corpus scans, got $scans")
  }

  test("bloom-pre-screened dedup: one anti join total, probe on both routes") {
    // the definitely-new branch must reach the union with NO join at
    // all — the whole point of the pre-screen is that only the
    // maybe-set pays one; a second join anywhere means the fast path
    // regressed into the exact plan
    val df = SparkEntry.queries("q_incremental_bloom")(spark, sf)
    df.collect()
    val nodes = executedNodes(df.queryExecution.executedPlan)
    val joins = nodes.filter(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec])
    assert(joins.size == 1, s"expected exactly 1 (anti) join, got:\n${joins.mkString("\n")}")
    assert(joins.head.toString.contains("LeftAnti"), joins.head.toString)
    val probes = nodes.count(_.toString.contains("graft_bloom_contains"))
    assert(probes >= 2, s"both union branches must carry the probe filter, saw $probes")
  }

  test("top-k per key is a partial-aggregable hash agg — no Window, no per-key sort") {
    // the window row_number() idiom shuffles every row and sorts each
    // key's whole row set; graft_topk must instead reduce each key to
    // ≤ k pairs map-side (partial ObjectHashAggregate) before the
    // shuffle, with no Window anywhere and no Sort below the aggregate
    val df = SparkEntry.queries("q_topk_per_key")(spark, sf)
    df.collect()
    val nodes = executedNodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]), nodes.mkString("\n"))
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.size == 2, s"expected partial+final ObjectHashAggregate, got ${aggs.size}")
    // the only Sort is the presentation orderBy ABOVE the aggregate
    def depth(p: org.apache.spark.sql.execution.SparkPlan): Map[Class[_], Int] = {
      def walk(n: org.apache.spark.sql.execution.SparkPlan, d: Int): Seq[(Class[_], Int)] =
        (n.getClass -> d) +: (n match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan, d + 1)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan, d + 1)
          case _ => n.children.flatMap(walk(_, d + 1))
        })
      walk(p, 0).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    val d = depth(df.queryExecution.executedPlan)
    val sortDepth = d.collectFirst {
      case (c, v) if classOf[org.apache.spark.sql.execution.SortExec].isAssignableFrom(c) => v }
    val aggDepth = d.collectFirst {
      case (c, v) if classOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]
        .isAssignableFrom(c) => v }
    assert(sortDepth.isEmpty || sortDepth.get < aggDepth.get,
      s"a Sort sits below the aggregate: sort@$sortDepth agg@$aggDepth")
  }

  test("approx decile gate: production plan has no Window and no single-partition sort") {
    // q_classifier_filter's exact rank funnels every (id, margin) pair
    // through ONE ordering task; the _approx twin's TIMED plan must be
    // the 100 TB shape instead — an approx_percentile aggregate + a
    // map-side threshold filter, no WindowExec anywhere and no global
    // Sort below the final presentation orderBy
    val df = graft.queries.Registry.benchQueries("q_classifier_filter_approx")(spark, sf)
    df.collect() // finalize the adaptive plan
    val nodes = executedNodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]), nodes.mkString("\n"))
    // the only global sort allowed is the few-row presentation
    // orderBy(source) — the margin relation itself must never be
    // globally ordered (that's the single-task shape this entry kills)
    val globalSorts = nodes.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.size <= 1,
      s"unexpected global sorts:\n${globalSorts.mkString("\n")}")
  }

  test("histogram AUC: the only window runs post-aggregation, never over the corpus") {
    // q_classifier_auc's exact rank windows the corpus-sized margin
    // relation through one task; the _hist twin's window must consume
    // the BUCKET aggregate (corpus-independent cardinality) — every
    // WindowExec in the plan needs an aggregate beneath it before any
    // file scan
    val df = SparkEntry.queries("q_classifier_auc_hist")(spark, sf)
    df.collect()
    val nodes = executedNodes(df.queryExecution.executedPlan)
    val windows = nodes.collect {
      case wnd: org.apache.spark.sql.execution.window.WindowExec => wnd }
    assert(windows.nonEmpty, "expected the bucket-cumulation window")
    windows.foreach { wnd =>
      val sub = executedNodes(wnd)
      def firstAgg = sub.indexWhere(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec])
      def firstScan = sub.indexWhere(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
      assert(firstAgg >= 0 && (firstScan < 0 || firstAgg < firstScan),
        s"window consumes a raw scan:\n${wnd.toString}")
    }
  }

  test("epoch shuffle: every window is partition-scoped and only the presentation sort is global") {
    // q_epoch_shuffle's position assignment is PrefixSum over the
    // epoch-hash ordering; a global row_number window (the obvious
    // formulation) would funnel the corpus through ONE ordering task.
    // Gate: no WindowExec with an empty partitionSpec, and the only
    // global SortExec is the few-hundred-row presentation orderBy.
    val df = SparkEntry.queries("q_epoch_shuffle")(spark, sf)
    df.collect() // finalize the adaptive plan
    val nodes = executedNodes(df.queryExecution.executedPlan)
    val unpartitioned = nodes.collect {
      case wnd: org.apache.spark.sql.execution.window.WindowExec
        if wnd.partitionSpec.isEmpty => wnd
    }
    assert(unpartitioned.isEmpty,
      s"global window in epoch shuffle:\n${unpartitioned.mkString("\n")}")
    val globalSorts = nodes.collect {
      case srt: org.apache.spark.sql.execution.SortExec if srt.global => srt
    }
    assert(globalSorts.size <= 1,
      s"unexpected global sorts:\n${globalSorts.mkString("\n")}")
  }

  test("length bucketing: one corpus scan, the global-max window runs post-aggregation") {
    // the pad-to-max baseline needs the corpus-wide max token count; a
    // driver fetch (or scalar subquery) would scan documents TWICE.
    // The entry recovers it as max(bucket max) over the ~10-row bucket
    // aggregate — gate one FileScan and window-over-aggregate-only
    val df = SparkEntry.queries("q_length_buckets")(spark, sf)
    df.collect()
    val nodes = executedNodes(df.queryExecution.executedPlan)
    val scans = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"expected 1 documents scan, got $scans")
    nodes.collect {
      case wnd: org.apache.spark.sql.execution.window.WindowExec => wnd
    }.foreach { wnd =>
      val sub = executedNodes(wnd)
      val firstAgg = sub.indexWhere(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec])
      val firstScan = sub.indexWhere(
        _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      assert(firstAgg >= 0 && (firstScan < 0 || firstAgg < firstScan),
        s"window consumes a raw scan:\n$wnd")
    }
  }

  test("materialized-stage composition: the output plan reads stored labels once, no LSH re-run") {
    // the pipeline entry persists components to a ParquetTable; its
    // OUTPUT plan must be split-assign over ONE scan of that table
    // plus the (materialized) loser flag — no second label scan, no
    // minhash/verify lineage, no corpus scan
    val df = SparkEntry.queries("q_components_stage")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "FileScan".r.findAllMatchIn(plan).size
    assert(scans == 1, s"expected 1 stored-label scan, got $scans:\n$plan")
    assert(!plan.toLowerCase.contains("minhash"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("interval join stays an equi join with a range residual") {
    val plan = planOf("q_interval_join")
    // equi key keeps it hash/sort-merge — never a nested-loop on range
    assert(plan.contains("Join") && !plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan)
  }

  test("top-k runs through TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("report and merge plans contain no cartesian product") {
    Seq("q_report_daily", "q_merge_upsert", "q_merge_2key").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("IVF centroid assignment is map-side: no exchange or window before the candidate join") {
    // The corpus side's nearest-centroid pick must be a pure projection
    // (argmax over centroid literals) — the only join in the plan is
    // the bucket-id candidate join, and the only Window is the final
    // per-query top-k rank.
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val centroids = emb.filter(col("vec_id") % 31 === 0)
      .orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("cid"), col("embedding"))
    val qe = graft.vector.Ann.ivfTopK(emb, queries, "vec_id", "embedding",
      "qid", k = 5, centroids = centroids, nprobe = 4).queryExecution
    // optimized logical plan: the ONLY join is the bucket-id candidate
    // join and the ONLY window is the final top-k rank (the round-2
    // version had 3 joins and 3 windows from crossJoin+row_number
    // assignment); \b keeps WindowGroupLimit rewrites out of the count
    val logical = qe.optimizedPlan.toString
    assert("\\bJoin\\b".r.findAllIn(logical).size == 1, logical)
    assert("\\bWindow\\b".r.findAllIn(logical).size == 1, logical)
    assert(!qe.executedPlan.toString.contains("CartesianProduct"))
  }

  test("IVF stage composition: serve plan reads the stored index, no training lineage") {
    // q_ann_ivf_stage lands centroids + per-row assignments in stage
    // tables; the SERVE plan must route candidates through a scan of
    // the stored assignment table joined to corpus vectors — exactly 2
    // joins (index join on id + candidate join on cell), 1 window (the
    // final rank), and no k-means/argmax recomputation anywhere.
    // the BENCH path: its per-JVM memoized stage dir persists, where
    // the correctness fn pins its result and reclaims its stage dir
    // (the plan of a pinned result is just the checkpoint scan)
    val df = graft.queries.Registry.benchQueries("q_ann_ivf_stage")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("graft-ivf-bench"),
      s"serve plan does not scan the stage table:\n$plan")
    val logical = df.queryExecution.optimizedPlan.toString
    assert("\\bJoin\\b".r.findAllIn(logical).size == 2, logical)
    assert("\\bWindow\\b".r.findAllIn(logical).size == 1, logical)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF-PQ stage composition: serve plan reads stage tables, no training lineage") {
    // q_ann_ivfpq_stage lands the coarse centroids, the (id, cid)
    // assignment, the codebook relation and the encoded corpus in stage
    // tables; the SERVE plan must scan those tables — never retrain.
    // Training scans `embeddings` repeatedly (seed pick + Lloyd rounds
    // + encode); the serve lineage is allowed exactly ONE embeddings
    // scan (the query batch) plus the stage-table scans, and its joins
    // are the candidate route (assign ⋈ broadcast probes), the code
    // equi-join, the lookup-table join and the codebook broadcast — 4
    // joins, 0 windows (top-k rides the graft_topk aggregate).
    // bench path for the same reason as the IVF gate above
    val df = graft.queries.Registry.benchQueries("q_ann_ivfpq_stage")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("graft-ivfpq-bench"),
      s"serve plan does not scan the stage tables:\n$plan")
    val logical = df.queryExecution.optimizedPlan.toString
    assert("\\bJoin\\b".r.findAllIn(logical).size == 4, logical)
    assert(!"\\bWindow\\b".r.findAllIn(logical).hasNext, logical)
    // one embeddings scan (queries); every other Relation is a stage table
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString).mkString(",")
          case other => other.toString
        }
    }
    // the QUERY batch is derived from embeddings (fixture) and PINNED
    // at plan build (r15: it feeds two consumers — probe routing + the
    // ADC lookup table — and unstaged each re-scanned the corpus), so
    // the serve plan itself reads the pinned batch and carries ZERO
    // embeddings scans. The point of the gate: no corpus scans in the
    // serve lineage — training would add seed/Lloyd/encode passes.
    assert(scans.count(_.contains("embeddings.parquet")) == 0, scans)
    assert(scans.count(_.contains("graft-ivfpq-bench")) == 3, scans)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("BM25 index composition: serve plan reads stage tables with a pushed term filter") {
    // q_bm25_index serves from the postings/doclen/stats stage tables;
    // the serve plan must (a) scan the stage tables, never the corpus
    // — training would add a documents scan — and (b) push the query-
    // term IN filter into the postings parquet scan so only matching
    // row groups are read (the inverted-index story at 100 TB).
    // bench path for the same reason as the IVF gate above
    val df = graft.queries.Registry.benchQueries("q_bm25_index")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("graft-bm25-bench"),
      s"serve plan does not scan the stage tables:\n$plan")
    // the matching-postings relation is staged (multi-consumer pin), so
    // its scan runs inside the eager materialization and is invisible
    // in the output plan — probe the filtered postings read directly
    // against the same stage dir (recovered from the output plan)
    val stageDir = "/tmp/graft-bm25-bench[0-9]+".r.findFirstIn(plan)
      .getOrElse(fail(s"no stage dir in plan:\n$plan"))
    val pplan = spark.read.parquet(s"$stageDir/postings")
      .filter(col("tok").isin("spark", "stream", "merge", "window"))
      .queryExecution.executedPlan.toString
    assert(pplan.contains("PushedFilters: [In(tok"),
      s"term IN filter not pushed to the postings scan:\n$pplan")
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString).mkString(",")
          case other => other.toString
        }
    }
    assert(scans.count(_.contains("documents.parquet")) == 0, scans)
    assert(scans.count(_.contains("graft-bm25-bench")) >= 2, scans)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hybrid index serve: batch bucket keys are pushed into the stored-index scan") {
    // the zero-state hybrids' steady-state shape: each micro-batch's
    // bounded bucket-key set must reach the index parquet scan as an
    // IN filter, so a bh/h-sorted small-row-group index serves a batch
    // by reading ~the matching row groups — per-batch cost tracks the
    // batch, not the landed corpus
    import spark.implicits._
    import graft.streaming.{StreamNearDup, StreamSeedGram}
    val tmp = java.nio.file.Files.createTempDirectory("graft-hyb-plan")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "other words entirely unrelated to anything stored before now"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")

    val bands = StreamNearDup.bandRelation(docs, "doc_id", "text")
    val bIdx = graft.catalog.ParquetTable(spark, "hyb_plan_b",
      s"$tmp/bidx", bands.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    bIdx.append(bands.sortWithinPartitions("bh"))
    val nb = graft.plans.Materialize.stage(StreamNearDup.bandRelation(
      Seq((3L, a + " trailing")).toDF("doc_id", "text"), "doc_id", "text"))
    // a batch this size serves on the driver: the result is a local
    // relation, and the pushed filter sits on the index fetch it runs
    var servedB: org.apache.spark.sql.DataFrame = null
    val fetchB = TestSpark.plansDuring(spark) {
      servedB = StreamNearDup.hybridCandidates(nb, bIdx.read(), threshold = 0.5)
    }.map(_.executedPlan.toString)
    assert(fetchB.exists(_.contains("PushedFilters: [In(bh")),
      "bucket-key IN filter not pushed to the band-index fetch:\n" +
        fetchB.mkString("\n"))
    // key cap exceeded → documented fallback to the full bucket join,
    // same answer (a batch that wide amortizes the scan it pays for)
    val fullB = StreamNearDup.hybridCandidates(nb, bIdx.read(),
      threshold = 0.5, pruneKeyCap = 1)
    assert(!fullB.queryExecution.executedPlan.toString.contains("In(bh"))
    assert(fullB.collect().toSet == servedB.collect().toSet)
    assert(servedB.collect().nonEmpty)

    val seeds = StreamSeedGram.seedRelation(docs, "doc_id", "text",
      w = 3, seedMod = 1)
    val sIdx = graft.catalog.ParquetTable(spark, "hyb_plan_s",
      s"$tmp/sidx", seeds.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
      .createIfNotExists()
    sIdx.append(seeds.sortWithinPartitions("h"))
    val ns = graft.plans.Materialize.stage(StreamSeedGram.seedRelation(
      Seq((3L, a + " trailing")).toDF("doc_id", "text"), "doc_id", "text",
      w = 3, seedMod = 1))
    // the matching-postings relation is staged inside hybridSeedPairs
    // (multi-consumer pin), so the pushed filter is invisible in the
    // OUTPUT plan — probe the filtered posting read the same way the
    // bm25 gate does
    val keyed = sIdx.read().filter(col("h").isInCollection(
      ns.select(col("h")).distinct().collect().map(_.getLong(0)).toSeq))
    val planS = keyed.queryExecution.executedPlan.toString
    assert(planS.contains("PushedFilters: [In(h"),
      s"seed-key IN filter not pushed to the posting-index scan:\n$planS")
    val servedS = StreamSeedGram.hybridSeedPairs(ns, sIdx.read(), maxDf = 100)
    assert(servedS.collect().nonEmpty)
    graft.ingest.FileOps.deleteRecursively(tmp)
  }

  test("index-insert per-batch plan: assign + encode are map-side, no training lineage") {
    // q_ann_index_insert's foreachBatch runs exactly these two plans
    // per arriving batch: nearest-stored-centroid assignment and PQ
    // encoding against stored codebooks. Both quantizers ride the plan
    // as literals (model-sized collects), so each plan must be ONE
    // scan of the batch with no shuffle, no join, no window, no
    // aggregate — training lineage (Lloyd rounds, graft_topk seed
    // picks) would surface as aggregates/shuffles here.
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.vector.KMeans.fitCentroids(
      emb, "vec_id", "embedding", k = 16, iters = 2)
    import spark.implicits._
    val centroids = cents.toDF("cid", "embedding")
    val books = graft.vector.Pq.fitCodebooks(emb, "vec_id", "embedding",
      m = 8, dim = 64, ksub = 16, iters = 2)
    val batch = emb.filter(col("vec_id") % 2 === 0)
    for (df <- Seq(
        graft.vector.Ann.ivfAssign(batch, "vec_id", "embedding", centroids),
        graft.vector.Pq.encode(batch, "vec_id", "embedding", 8, 64, books)
          .select(col("vec_id"), col("sub"), col("code")))) {
      df.collect()
      val nodes = executedNodes(df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
        nodes.mkString("\n"))
      assert(!nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.window.WindowExec]), nodes.mkString("\n"))
      assert(!nodes.exists(n => n.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
        n.isInstanceOf[
          org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] ||
        n.isInstanceOf[
          org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
        nodes.mkString("\n"))
      assert(nodes.count(_.isInstanceOf[
        org.apache.spark.sql.execution.FileSourceScanExec]) == 1,
        nodes.mkString("\n"))
    }
  }

  /** The RRF fuse's two fetched rank lists, captured while `body` builds
    * a hybrid-retrieval entry: the fuse fetches exactly these to the
    * driver, so their plans are the whole serve lineage below it. Each
    * list is recognized by its columns. */
  private def fuseInputs(lists: Seq[String]*)(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    val inputs = TestSpark.plansDuring(spark)(body)
      .filter(qe => lists.contains(qe.analyzed.output.map(_.name)))
    assert(inputs.map(_.analyzed.output.map(_.name)).sortBy(_.head) ==
      lists.sortBy(_.head), "the fuse did not fetch its two rank lists")
    inputs
  }

  /** The root paths of every file relation the plans read. */
  private def scansOf(qes: Seq[org.apache.spark.sql.execution.QueryExecution]) =
    qes.flatMap(_.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString).mkString(",")
          case other => other.toString
        }
    })

  /** The final executed plans, without AQE's initial-plan echo. */
  private def finalPlans(qes: Seq[org.apache.spark.sql.execution.QueryExecution]) =
    qes.map(_.executedPlan.toString.split("== Initial Plan ==").head).mkString("\n")

  test("staged hybrid retrieval: timed serve reads both stored indexes, never the corpora") {
    // q_hybrid_retrieval's benchFn composes the persisted BM25 postings
    // serve with the persisted IVF-PQ cell-routed serve under the same
    // RRF fusion — the timed plan must scan the stage tables and the
    // one-row query fetch only: a documents scan means the lexical side
    // regressed to the corpus pass, further embeddings scans mean
    // training or brute-force leaked back in.
    // The RRF fuse runs on the driver (RrfFuse), which leaves only a
    // LocalRelation in the final plan — so this gate inspects the two
    // rank lists the fuse fetches, which carry the full serve lineage
    // (RrfFuseSpec pins row identity with the distributed fuse).
    val inputs = fuseInputs(Seq("doc_id", "rb"), Seq("vec_id", "rc")) {
      graft.queries.Registry.benchQueries("q_hybrid_retrieval")(spark, sf).collect()
    }
    val plan = finalPlans(inputs)
    assert(plan.contains("graft-hybrid-bench"),
      s"serve plan does not scan the stage tables:\n$plan")
    val scans = scansOf(inputs)
    assert(scans.count(_.contains("documents.parquet")) == 0, scans)
    // the query vector fetch is pinned at plan build (two consumers:
    // probe routing + the ADC lookup table) — same stance as the
    // IVF-PQ stage gate: zero corpus scans in the serve lineage
    assert(scans.count(_.contains("embeddings.parquet")) == 0, scans)
    assert(scans.count(_.contains("graft-hybrid-bench")) >= 3, scans)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("staged BATCH hybrid retrieval: timed serve reads both stored indexes, never the corpora") {
    // q_hybrid_retrieval_batch's benchFn answers the whole query batch
    // from the persisted indexes: the postings read carries the pushed
    // term-set filter, the dense side is cell-routed ADC, and the
    // query batch is pinned once at plan build (no embeddings scan in
    // the serve lineage); a documents scan means the lexical side
    // regressed to the corpus pass.
    // As in the single-query gate above, the fuse's two fetched rank
    // lists carry the full serve lineage below the driver fuse.
    val inputs = fuseInputs(Seq("qid", "doc_id", "rb"), Seq("cqid", "vec_id", "rc")) {
      graft.queries.Registry.benchQueries("q_hybrid_retrieval_batch")(spark, sf).collect()
    }
    val plan = finalPlans(inputs)
    assert(plan.contains("graft-hybrid-bench"),
      s"serve plan does not scan the stage tables:\n$plan")
    val scans = scansOf(inputs)
    assert(scans.count(_.contains("documents.parquet")) == 0, scans)
    // the query batch is pinned at plan build (r15: it used to feed 5
    // subtrees — 3 qterms slot branches + probe routing + the ADC
    // lookup table — each re-scanning the corpus); the serve lineage
    // carries zero embeddings scans
    assert(scans.count(_.contains("embeddings.parquet")) == 0, scans)
    assert(scans.count(_.contains("graft-hybrid-bench")) >= 4, scans)
    assert(!plan.contains("CartesianProduct"), plan)
    // the postings read must carry the pushed term-set membership —
    // the pruning that keeps the batched serve index-size-independent
    val optimized = inputs.map(_.optimizedPlan.toString).mkString("\n")
    assert(optimized.contains("INSET") || optimized.contains("InSet") ||
      plan.contains("INSET"), s"no InSet term filter in:\n$optimized")
  }

  test("corpus pipeline: no join — the dedup consumes the scored pass once") {
    // the window dedup must keep the plan single-branch: a groupBy-min +
    // semi join would add a Join node and re-evaluate the expensive
    // scalar stage per branch (3.3× slower). The two Relation scans that
    // DO appear come from the planted-dup union, not the dedup.
    val qe = SparkEntry.queries("q_corpus_pipeline")(spark, sf).queryExecution
    val logical = qe.optimizedPlan.toString
    assert(!"\\bJoin\\b".r.findAllIn(logical).hasNext, logical)
    assert("Relation \\[".r.findAllIn(logical).size == 2, logical) // union branches only
  }

  test("repetition stats are map-only: no hash exchange, no join, one scan") {
    // every stat is per-document, so the kernel must stay a projection
    // over the documents scan — the only exchange allowed is the final
    // orderBy's range partitioning (output determinism for the dump)
    val qe = SparkEntry.queries("q_repetition")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!"\\bJoin\\b".r.findAllIn(qe.optimizedPlan.toString).hasNext, plan)
    assert("Relation \\[".r.findAllIn(qe.optimizedPlan.toString).size == 1, plan)
  }

  test("pagerank iterations are equi joins — no cartesian, no row expansion") {
    val plan = SparkEntry.queries("q_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("dangling pagerank: the redistribution term is a one-row broadcast, never a cartesian") {
    // the dangling sum / node count ride the BM25-style scalar-stats
    // shape (broadcast nested loop against ONE-row aggregates is fine;
    // a real cartesian or row expansion is not)
    val plan = SparkEntry.queries("q_pagerank_dangling")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("token-budget sampling shuffles once: the per-stratum window") {
    // the subword weight is map-side; the only hash exchange allowed is
    // the window's stratum partitioning (plus the output orderBy range)
    val plan = SparkEntry.queries("q_token_budget")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n$plan")
    assert(!plan.contains("BatchEvalPython"), plan)
  }

  test("bm25 never explodes or shuffles the corpus; top-k is TakeOrdered") {
    // per-term tf comes from map-side array HOFs (no Generate), corpus
    // stats are a one-row broadcast, and the only wide op allowed is
    // the TakeOrdered top-k — no hash exchange, no global sort
    val plan = SparkEntry.queries("q_bm25")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hybrid retrieval: both lists k-bounded by TakeOrdered, no cartesian") {
    // the corpus sides must reach the fusion join already cut to k by
    // TakeOrdered (never a global Sort of the corpus); the windows that
    // assign ranks run AFTER the bound, over ≤k rows. The gate reads
    // the two rank lists the driver fuse fetches (the corpus-side
    // sub-plans, identical on both fuse paths).
    val plan = finalPlans(fuseInputs(Seq("doc_id", "rb"), Seq("vec_id", "rc")) {
      SparkEntry.queries("q_hybrid_retrieval")(spark, sf)
    })
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("classifier bucket counts: one shuffle, no join, one corpus scan") {
    // the (id, y, j, cnt) relation every classifier consumer shares is
    // a single map-combined hash aggregate over one text pass
    val qe = graft.text.Classifier.bucketCounts(
      Tables.load(spark, sf, "documents"), "doc_id", "text",
      col("source").isin("src0"), 4096).queryExecution
    val plan = qe.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!"\\bJoin\\b".r.findAllIn(qe.optimizedPlan.toString).hasNext, plan)
    assert("Relation \\[".r.findAllIn(qe.optimizedPlan.toString).size == 1, plan)
  }

  test("subword counting is map-only: vocab rides the plan, no join, no UDF, one scan") {
    // the vocab is embedded in the native expression (shipped with the
    // serialized plan like a broadcast literal) — the corpus must not
    // shuffle or join to pick it up, and no python/scala UDF may appear
    val qe = SparkEntry.queries("q_subword_counts")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"), plan)
    assert(!"\\bJoin\\b".r.findAllIn(qe.optimizedPlan.toString).hasNext, plan)
    assert("Relation \\[".r.findAllIn(qe.optimizedPlan.toString).size == 1, plan)
    assert(plan.contains("graft_subword"), plan)
  }

  test("sessionize is one shuffle: the session agg reuses the window's user partitioning") {
    // groupBy(user, session_id) clusters on a superset of the window's
    // hash(user) partitioning, so Catalyst must NOT add a second hash
    // exchange between the window and the aggregate
    val qe = graft.plans.Sessionize.batch(
      Tables.load(spark, sf, "events"), "user_id", "ts", "event_id", "value",
      gapSeconds = 12 * 3600).queryExecution
    val plan = qe.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("shipping-priority (Q3 shape): pushed segment filter, top-k never sorts globally") {
    val df = SparkEntry.queries("q_shipping_priority")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)   // scan-level prune
    assert(plan.contains("GreaterThan(l_shipdate"), plan)           // fact filter pushed
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("order-priority (Q4 shape): EXISTS compiles to a semi join, no row expansion") {
    val plan = planOf("q_order_priority")
    assert(plan.contains("LeftSemi"), plan)
    // membership probe reads only the two lineitem columns it needs
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"), plan)
  }

  test("local-supplier-volume (Q5 shape): snowflake dims broadcast, lineitem shuffles once") {
    val df = SparkEntry.queries("q_local_supplier_volume")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("levenshtein length-guard rule: guard added, sound, idempotent, threshold form untouched") {
    // parquet-backed input: a literal LocalRelation would be constant-
    // folded away before the rule could show up in the plan
    val nat = Tables.load(spark, sf, "nation").select("n_name")
    val filtered = nat.filter(expr("levenshtein(n_name, 'NATION_5') <= 1"))
    val optimized = filtered.queryExecution.optimizedPlan.toString
    // guard present exactly once (idempotent under the fixed-point loop,
    // including after constant folding rewrites length('NATION_5') to 8)
    assert("abs\\(\\(length".r.findAllIn(optimized.toLowerCase).size == 1, optimized)
    // soundness vs an independent reference implementation
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = nat.collect().map(_.getString(0))
      .filter(n => lev(n, "NATION_5") <= 1).toSet
    assert(expected.contains("NATION_5"))
    assert(filtered.collect().map(_.getString(0)).toSet === expected)
    // guard under OR: the guard must be attached IN PLACE (And(guard,
    // pred) inside the disjunct), never ANDed at the top of the
    // condition. Here the guard (length(n_name) <= 2) is false for all
    // 25 names while the second disjunct is true for all — a top-level
    // guard would drop every row
    val disjunct =
      nat.filter(expr("levenshtein(n_name, 'N') <= 1 OR length(n_name) > 2"))
    assert(disjunct.count() === 25,
      disjunct.queryExecution.optimizedPlan.toString)
    // the 3-arg threshold form returns -1 past the threshold — guarding
    // it would change semantics, so the rule must leave it alone
    val thresholded = nat.filter(expr("levenshtein(n_name, 'NATION_5', 1) <= 1"))
    assert(!thresholded.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("abs((length"),
      thresholded.queryExecution.optimizedPlan.toString)
    // ALL rows pass: past-threshold rows return -1 <= 1
    assert(thresholded.count() === 25)
  }

  test("fuzzy join candidates come from the blocking equi key, never a cartesian") {
    // levenshtein must be a residual on the block-prefix equi join; a
    // degenerate block key (or a lost equi conjunct) would surface as a
    // nested-loop/cartesian over all pairs
    val plan = planOf("q_fuzzy_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("preference pairs reduce via HashAggregate — no window, no sort-per-group") {
    // the (argmax, argmin) per prompt must stay a codegen'd hash
    // aggregate over the bit-packed long: a struct aggregation buffer
    // would demote to SortAggregate (a per-partition sort to take a
    // max), and a row_number window would shuffle AND sort per group
    val df = SparkEntry.queries("q_pref_pairs")(spark, sf)
    df.collect()
    val nodes = executedNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      df.queryExecution.executedPlan.toString)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
      df.queryExecution.executedPlan.toString)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("annotator vote resolution is one shuffle of bounded conditional counts") {
    // votes → per-doc (c0..c3) must be a single hash exchange with
    // map-side combine; no window, no join, and the only sort is the
    // doc_id presentation order
    val qe = SparkEntry.queries("q_label_vote")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!"\\bJoin\\b".r.findAllIn(qe.optimizedPlan.toString).hasNext, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("whole-stage codegen covers the pricing-summary pipeline") {
    val df = SparkEntry.queries("q_pricing_summary")(spark, sf)
    df.collect() // AQE finalizes the plan only after execution
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" node prefixes mark whole-stage-codegen stages; the scan →
    // filter → project → partial-agg pipeline must be inside one
    assert(plan.contains("*(1) HashAggregate"), plan)
    assert(plan.contains("*(1) Filter"), plan)
  }
}
