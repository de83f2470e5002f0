package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in EXACT integer micro-units — iterative
  * graph analytics (influence/centrality over an interaction graph)
  * with bit-identical results on any engine.
  *
  * Floating-point PageRank is order-sensitive: contribution sums
  * change with partitioning, so no hash oracle could check it. Here a
  * node's rank is a BIGINT in units of 1e-9: the per-edge contribution
  * is integer division `rank div outdeg`, the damping step is
  * `(sum * 85) div 100 + 150_000_000` (d = 0.85 exactly), and integer
  * addition is associative — the result is a pure function of the
  * graph, independent of evaluation order. The truncation each step
  * loses < 1e-9 per edge, far below any ranking-relevant difference.
  *
  * Semantics: simplified PageRank without dangling-mass
  * redistribution (a sink node's mass leaves the system — fine for
  * relative ranking, and what keeps the recurrence oracle-expressible).
  * Each iteration is one join edges⋈ranks (both sides partitioned on
  * the src key — co-partitioned after the first iteration) plus one
  * aggregation keyed by dst; `iterations` is small and fixed, so the
  * plan is a K-deep chain, not a driver loop over actions. */
object PageRank {

  val Unit0: Long = 1000000000L // rank 1.0 in micro-units

  /** Bounded DRIVER fast path (the [[graft.text.Dedup.driverComponents]]
    * pattern): under 2²⁰ edges the fixed-iteration recurrence
    * runs as one [[DriverFetch]] + a driver loop over hash maps and
    * returns a LocalRelation — replacing ~18 single-task jobs per
    * iteration (stage pin, dangling broadcast, contribution join
    * stages) of pure scheduling overhead on a small graph. The ranks
    * are EXACT integer micro-units by design — `div` on positive longs
    * is plain truncating division and long addition is associative —
    * so the driver loop reproduces the distributed result bit for bit
    * (PageRankSpec pins equality on random graphs, both variants, and
    * the above-cap fallback). Cap: O((|E|+|V|)·iterations) driver work,
    * ~24 MiB fetched at the 2²⁰ bound, under the fetch's byte cap. Long
    * ids only; other types fall through. */
  private def driverRanks(edges: DataFrame, iterations: Int,
                          dangling: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    val spark = edges.sparkSession
    if (!DriverFetch.hasTypes(edges, "src" -> LongType, "dst" -> LongType)) return None
    val Seq(rows) = DriverFetch("pagerank edges",
      Seq(edges.select(col("src"), col("dst"))), 1 << 20)
      .getOrElse(return None)
    val e = new scala.collection.mutable.HashSet[(Long, Long)]
    rows.foreach(r => e += ((r.getLong(0), r.getLong(1))))
    val nodes = new scala.collection.mutable.LinkedHashSet[Long]
    val outdeg = new scala.collection.mutable.HashMap[Long, Long]
    e.foreach { case (s, d) =>
      nodes += s; nodes += d
      outdeg(s) = outdeg.getOrElse(s, 0L) + 1
    }
    val n = nodes.size.toLong
    var u = nodes.iterator.map(_ -> Unit0).toMap
    (1 to iterations).foreach { _ =>
      val dang =
        if (dangling)
          nodes.iterator.filterNot(outdeg.contains).map(u).sum
        else 0L
      val s = new scala.collection.mutable.HashMap[Long, Long]
      e.foreach { case (src, dst) =>
        s(dst) = s.getOrElse(dst, 0L) + u(src) / outdeg(src)
      }
      val redist = if (dangling) dang / n else 0L
      u = nodes.iterator.map(nd =>
        nd -> (150000000L + (s.getOrElse(nd, 0L) + redist) * 85 / 100)).toMap
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("u",
        org.apache.spark.sql.types.LongType)))
    val outRows = nodes.iterator
      .map(nd => org.apache.spark.sql.Row(nd, u(nd))).toSeq
    Some(spark.createDataFrame(
      java.util.Arrays.asList(outRows: _*), outSchema))
  }

  /** Ranks after `iterations` damped steps. `edges` carries (src, dst);
    * duplicates are collapsed. Returns (node, u) with u in 1e-9 units. */
  def ranks(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20, "iterations in [1,20]")
    driverRanks(edges, iterations, dangling = false)
      .getOrElse(ranksDistributed(edges, iterations))
  }

  private[graft] def ranksDistributed(edges: DataFrame,
                                      iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    var r = nodes.withColumn("u", lit(Unit0))
    (1 to iterations).foreach { _ =>
      val contribs = e
        .join(r.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"), expr("u div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      r = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(150000000L) + expr("(coalesce(s, 0L) * 85) div 100")).as("u"))
    }
    r
  }

  /** Standard-PageRank variant: DANGLING mass — the rank held by nodes
    * with no out-edges — is redistributed uniformly each iteration
    * instead of leaving the system, so sink-heavy graphs rank the
    * textbook way. Per-iteration extra cost: one anti-join aggregate
    * over the (node, rank) relation producing a ONE-ROW dangling-sum
    * relation, broadcast into the damping projection together with the
    * one-row node count (the same one-row-stats crossJoin shape as
    * BM25/TF-IDF — never a data-sized cartesian). Integer semantics as
    * [[ranks]]: each node's share is `dang div N` (truncating), so the
    * redistributed mass stays exact integer arithmetic; the < N·1e-9
    * truncation loss per iteration is ranking-irrelevant. */
  def ranksDangling(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20, "iterations in [1,20]")
    driverRanks(edges, iterations, dangling = true)
      .getOrElse(ranksDanglingDistributed(edges, iterations))
  }

  private[graft] def ranksDanglingDistributed(
      edges: DataFrame, iterations: Int): DataFrame = {
    // Unlike [[ranks]] (each round consumed once → linear chain), the
    // dangling variant consumes every round's rank relation TWICE —
    // the dangling-sum anti-join AND the contribution join — so left
    // lazy the recurrence re-executes its prefix per consumer (2^K).
    // Pin the shared relations once and each round's result.
    val e = Materialize.stage(edges.select(col("src"), col("dst")).distinct())
    val nodes = Materialize.stage(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct())
    val outdeg = Materialize.stage(
      e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // the node count is LOOP-INVARIANT: fetch it once (a one-row
    // model-state scalar, same stance as the BM25 stats fetch) instead
    // of rebuilding a one-row broadcast relation every iteration —
    // embedding it as a literal drops one aggregate job + one
    // broadcast build per iteration, and the literal is identical
    // across iterations so codegen caches still hit
    val nVal = nodes.count()
    var r = nodes.withColumn("u", lit(Unit0))
    (1 to iterations).foreach { _ =>
      r = Materialize.stage(r)
      val dang = r
        .join(outdeg.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum(col("u")), lit(0L)).as("dang"))
      val contribs = e
        .join(r.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"), expr("u div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      r = nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(150000000L) +
            expr(s"((coalesce(s, 0L) + dang div ${nVal}L) * 85) div 100")).as("u"))
    }
    r
  }
}
