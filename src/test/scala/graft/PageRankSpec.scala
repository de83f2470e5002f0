package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the integer-micro-unit PageRank: the
  * recurrence is exact arithmetic, so expected values are derivable on
  * paper and asserted to the unit. */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    graft.plans.PageRank.ranks(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain a→b: source decays to the damping floor, sink follows one step behind") {
    // r1: a = 0.15 (no in-edges), b = 0.15 + 0.85·1.0 = 1.0
    assert(ranksOf(Seq(1L -> 2L), 1) === Map(1L -> 150000000L, 2L -> 1000000000L))
    // r2: b = 0.15 + 0.85·0.15 = 0.2775
    assert(ranksOf(Seq(1L -> 2L), 2) === Map(1L -> 150000000L, 2L -> 277500000L))
    // r3: unchanged — the chain has converged
    assert(ranksOf(Seq(1L -> 2L), 3) === Map(1L -> 150000000L, 2L -> 277500000L))
  }

  test("2-cycle is a fixed point at rank 1.0; fan-out splits by integer division") {
    assert(ranksOf(Seq(1L -> 2L, 2L -> 1L), 3)
      === Map(1L -> 1000000000L, 2L -> 1000000000L))
    // 1 → {2,3}: each target gets 1.0/2; truncation is exact here
    val fan = ranksOf(Seq(1L -> 2L, 1L -> 3L), 1)
    assert(fan(2L) === 150000000L + 425000000L) // 0.15 + 0.85·0.5
    assert(fan(2L) === fan(3L))
  }

  private def ranksDang(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    graft.plans.PageRank.ranksDangling(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dangling redistribution conserves total mass on a chain") {
    // 1→2, node 2 dangles; N=2, share = dang div 2 per iteration.
    // r1: a = 0.15 + 0.85·(0 + 0.5)   = 0.575
    //     b = 0.15 + 0.85·(1.0 + 0.5) = 1.425
    assert(ranksDang(Seq(1L -> 2L), 1)
      === Map(1L -> 575000000L, 2L -> 1425000000L))
    // r2: dang = 1.425, share = 0.7125
    //     a = 0.15 + 0.85·0.7125            = 0.755625
    //     b = 0.15 + 0.85·(0.575 + 0.7125)  = 1.244375
    assert(ranksDang(Seq(1L -> 2L), 2)
      === Map(1L -> 755625000L, 2L -> 1244375000L))
    // the point of the variant: total mass stays exactly 2.0 — the
    // simple form leaks the dangling share out of the system
    assert(ranksDang(Seq(1L -> 2L), 2).values.sum === 2000000000L)
  }

  test("no dangling nodes: redistribution variant equals the simple form") {
    val cyc = Seq(1L -> 2L, 2L -> 1L)
    assert(ranksDang(cyc, 3) === ranksOf(cyc, 3))
  }

  test("duplicate edges collapse; result is repartition-independent") {
    val base = ranksOf(Seq(1L -> 2L, 1L -> 2L, 2L -> 3L), 3)
    assert(base === ranksOf(Seq(1L -> 2L, 2L -> 3L), 3))
    val shuffled = graft.plans.PageRank.ranks(
      Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst").repartition(13), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled === base)
  }

  test("driver fast path ≡ distributed recurrence, both variants; " +
       "above-cap falls back") {
    val rnd = new scala.util.Random(20260819L)
    // random graph with guaranteed dangling nodes (sinks ≥ 100 never
    // appear as src) and duplicate edges
    val edges = (1 to 250).map { _ =>
      (rnd.nextInt(50).toLong, (rnd.nextInt(70) + 50).toLong)
    }
    val df = edges.toDF("src", "dst")
    for (iters <- Seq(1, 3)) {
      val dDrv = graft.plans.PageRank.ranksDangling(df, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dDist = graft.plans.PageRank.ranksDanglingDistributed(df, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dDrv === dDist, s"dangling iters=$iters")
      val pDrv = graft.plans.PageRank.ranks(df, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pDist = graft.plans.PageRank.ranksDistributed(df, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(pDrv === pDist, s"plain iters=$iters")
    }
    // the fast path actually fired: LocalRelation plan, no shuffle
    val plan = graft.plans.PageRank.ranksDangling(df, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // above the cap the distributed recurrence takes over, equal ranks
    val overCap = graft.plans.DriverFetch.withCaps(10, graft.plans.DriverFetch.MaxBytes)(
        graft.plans.PageRank.ranksDangling(df, 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(overCap === graft.plans.PageRank.ranksDangling(df, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  private def hitsOf(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Long, Long)] =
    graft.plans.Hits.scores(edges.toDF("src", "dst"), iters)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("HITS on a bipartite fan: hand-computed max-normalized rounds") {
    // hubs {1,2}, authorities {10,11}; 1→{10,11}, 2→10.
    // round 1: a_raw(10)=2e6, a_raw(11)=1e6 → a=(1e6, 500000);
    //          h_raw(1)=1.5e6, h_raw(2)=1e6 → h=(1e6, 666666)
    assert(hitsOf(Seq(1L -> 10L, 1L -> 11L, 2L -> 10L), 1)
      === Map(1L -> (0L, 1000000L), 2L -> (0L, 666666L),
        10L -> (1000000L, 0L), 11L -> (500000L, 0L)))
    // round 3 (a(11): 1e12 div 1625000 = 615384,
    //          h(2):  1e12 div 1615384 = 619047) — mutual
    // reinforcement keeps strengthening hub 1 over hub 2
    assert(hitsOf(Seq(1L -> 10L, 1L -> 11L, 2L -> 10L), 3)
      === Map(1L -> (0L, 1000000L), 2L -> (0L, 619047L),
        10L -> (1000000L, 0L), 11L -> (615384L, 0L)))
  }

  test("HITS is repartition-independent and collapses duplicate edges") {
    val es = Seq(1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 10L)
    val base = hitsOf(es, 3)
    val shuffled = graft.plans.Hits.scores(
      es.toDF("src", "dst").repartition(13), 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(shuffled === base)
    assert(base === hitsOf(es.distinct, 3))
  }

  private def labelsOf(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    graft.plans.LabelProp.labels(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("label propagation: two cliques converge to distinct min-id labels") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield a -> b
    val es = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L))
    // round 1: node 1 sees {2,3,4} (all count 1, tie → min) → 2;
    // every other member sees label 1 once → argmax-by-(count, min) = 1.
    // round 2: node 1 sees {1,1,1} → 1; others see {2,1,1} → 1 (count 2).
    // round 3: uniform — each clique labeled by its min id.
    val l3 = labelsOf(es, 3)
    assert(Seq(1L, 2L, 3L, 4L).forall(n => l3(n) == 1L), l3.toString)
    assert(Seq(11L, 12L, 13L, 14L).forall(n => l3(n) == 11L), l3.toString)
  }

  test("label propagation splits dense groups across a sparse bridge " +
    "where components would merge them") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield a -> b
    val es = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (4L -> 11L) // one bridge edge
    val l3 = labelsOf(es, 3)
    // reachability would label everything 1; majority voting keeps the
    // second clique on its own community
    assert(Seq(1L, 2L, 3L, 4L).forall(n => l3(n) == 1L), l3.toString)
    assert(Seq(12L, 13L, 14L).forall(n => l3(n) == 11L), l3.toString)
    // repartition independence + duplicate-edge collapse
    val dup = (es ++ Seq(1L -> 2L, 11L -> 12L)).toDF("src", "dst")
      .repartition(13)
    val l3b = graft.plans.LabelProp.labels(dup, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l3b === l3)
  }
}
