package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the graph-quality primitive behind
  * clustering coefficients and community density checks (how cliquish
  * is the co-occurrence graph a dedup/linkage stage produced?).
  *
  * Algorithm: forward (wedge) counting over a DEGREE-ORDERED
  * orientation. Every undirected edge is directed from its
  * lower-(degree, id) endpoint to the higher one; a triangle
  * {x, y, z} with x < y < z in that total order then appears EXACTLY
  * once, as the wedge (x→y, x→z) closed by the oriented edge y→z — no
  * double counting, no post-hoc dedup.
  *
  * Why degree order and not plain id order: the wedge join fans out as
  * Σ_v outdeg(v)², and with id ordering a high-degree hub can keep all
  * its edges outgoing (outdeg = degree → quadratic wedges at the hub).
  * Degree ordering caps every node's out-degree at O(√|E|) (a node
  * with out-degree d has d higher-degree neighbors, so d·d ≤ Σ deg ≤
  * 2|E|), which bounds the wedge relation at O(|E|^1.5) — the
  * classical bound, and the difference between a skewed social graph
  * finishing and one reducer receiving a hub's quadratic wedge set.
  * The per-node RESULT is orientation-independent (any consistent
  * total order counts each triangle once), so an oracle may replay the
  * simple id-ordered form and must land on identical rows.
  *
  * Shape: one degree aggregate, two broadcast-or-shuffle equi-joins to
  * attach endpoint keys, the wedge self-join on the apex, and the
  * closing equi-join — no cartesian anywhere; everything shuffles on
  * edge endpoints only. */
object Triangles {

  /** Per-node triangle participation counts.
    *
    * @param edges undirected edge list with columns `a`, `b` (any
    *              orientation, self-loops ignored, duplicates collapsed)
    * @return (node, n_tri) — nodes appearing in ≥ 1 triangle */
  def perNodeCounts(edges: DataFrame): DataFrame =
    driverCounts(edges)
      .getOrElse(perNodeCountsDistributed(edges))

  /** Bounded DRIVER fast path (the [[graft.text.Dedup.driverComponents]]
    * pattern applied to this kernel): under 2¹⁶ edges the whole
    * count runs as one [[DriverFetch]] + a driver wedge walk and returns a
    * LocalRelation — replacing the 5-relation distributed chain (2
    * stage pins, a wedge self-join, ~20 single-task jobs of pure
    * overhead on a small graph). The cap is set by driver CPU, not
    * memory: the walk is O(|E|^1.5) set probes (the same classical
    * bound the distributed orientation guarantees) — measured
    * BREAKEVEN with the distributed kernel at ~72k edges (1.59 s both
    * ways at sf0.1), so the cap sits at 2¹⁶ where the single-core walk
    * (≈17M probes) still clearly beats ~20 single-task jobs; the
    * fetched edges are ~1.5 MiB, far under the fetch's byte cap.
    * Counts are exact integers from the
    * same degree-ordered orientation, so the labels are identical by
    * construction (PlanOpsSpec pins driver ≡ distributed on random
    * graphs and the above-cap fallback). Long ids only; other types
    * fall through. */
  private def driverCounts(edges: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    val spark = edges.sparkSession
    if (!DriverFetch.hasTypes(edges, "a" -> LongType, "b" -> LongType)) return None
    val Seq(rows) = DriverFetch("triangle edges",
      Seq(edges.select(col("a"), col("b"))), 1 << 16)
      .getOrElse(return None)
    val canon = new scala.collection.mutable.HashSet[(Long, Long)]
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a != b) canon += ((math.min(a, b), math.max(a, b)))
    }
    val deg = new scala.collection.mutable.HashMap[Long, Long]
    canon.foreach { case (u, v) =>
      deg(u) = deg.getOrElse(u, 0L) + 1; deg(v) = deg.getOrElse(v, 0L) + 1
    }
    // total order (degree, id); orient low → high, same as the
    // distributed plan
    def lt(x: Long, y: Long): Boolean = {
      val (dx, dy) = (deg(x), deg(y))
      dx < dy || (dx == dy && x < y)
    }
    val out = new scala.collection.mutable.HashMap[
      Long, scala.collection.mutable.HashSet[Long]]
    canon.foreach { case (u, v) =>
      val (s, d) = if (lt(u, v)) (u, v) else (v, u)
      out.getOrElseUpdate(s, new scala.collection.mutable.HashSet[Long]) += d
    }
    val counts = new scala.collection.mutable.HashMap[Long, Long]
    def bump(n: Long): Unit = counts(n) = counts.getOrElse(n, 0L) + 1
    out.foreach { case (w, ns) =>
      val arr = ns.toArray
      var i = 0
      while (i < arr.length) {
        var j = 0
        while (j < arr.length) {
          val (p, q) = (arr(i), arr(j))
          // wedge (w→p, w→q) with p below q in the order, closed by p→q
          if (i != j && lt(p, q) && out.get(p).exists(_.contains(q))) {
            bump(w); bump(p); bump(q)
          }
          j += 1
        }
        i += 1
      }
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tri",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val outRows = counts.iterator
      .map { case (n, c) => org.apache.spark.sql.Row(n, c) }.toSeq
    Some(spark.createDataFrame(
      java.util.Arrays.asList(outRows: _*), outSchema))
  }

  private[graft] def perNodeCountsDistributed(edges: DataFrame): DataFrame = {
    val canon = edges
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .transform(Materialize.stage) // consumed by the degree pass AND the orient join
    val deg = canon
      .select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    // total order: (degree, id); orient each edge low → high
    val withKeys = canon
      .join(deg.select(col("n").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("dg").as("dv")), Seq("v"))
    val oriented = withKeys
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("d"),
            struct(col("dv").as("dk"), col("v").as("ik")).as("kd")))
          .otherwise(struct(col("v").as("s"), col("u").as("d"),
            struct(col("du").as("dk"), col("u").as("ik")).as("kd"))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"), col("e.kd").as("kd"))
      .transform(Materialize.stage) // read three times below
    val wedges = oriented.as("x")
      .join(oriented.as("y"),
        col("x.s") === col("y.s") && col("x.kd") < col("y.kd"))
      .select(col("x.s").as("w"), col("x.d").as("p"), col("y.d").as("q"))
    val tri = wedges.join(
      oriented.select(col("s").as("p"), col("d").as("q")), Seq("p", "q"))
    tri
      .select(explode(array(col("w"), col("p"), col("q"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }
}
