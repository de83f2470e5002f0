package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Triangles

/** Triangle-counting semantics on hand-computable graphs plus the
  * orientation-invariance contract the oracle relies on. */
class TrianglesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Triangles.perNodeCounts(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: every node sits in 3 of the 4 triangles") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(counts(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("a path has no triangles; adding the closing edge makes one") {
    assert(counts(Seq((1L, 2L), (2L, 3L))).isEmpty)
    assert(counts(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("input orientation, duplicates and self-loops do not change counts") {
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 2L), (1L, 3L), (3L, 3L),
      (2L, 3L))
    assert(counts(messy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("hub skew: star plus one rim edge has exactly one triangle") {
    // hub 0 connected to 1..20, rim edge (1, 2): triangle {0, 1, 2} only.
    // Degree ordering sends rim edges INTO the hub, so the hub's wedge
    // fan-out stays O(outdeg²) = O(1), not degree² — the plan property
    // the degree orientation exists for; the count itself must be 1.
    val star = (1L to 20L).map(i => (0L, i)) :+ (1L, 2L)
    assert(counts(star) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("seeded random graphs match the in-test brute force") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.25
      } yield (a, b)).toSeq
      val adj = edges.toSet
      val brute = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for {
        x <- 0L until n; y <- (x + 1) until n; z <- (y + 1) until n
        if adj((x, y)) && adj((y, z)) && adj((x, z))
      } { brute(x) += 1; brute(y) += 1; brute(z) += 1 }
      assert(counts(edges) == brute.toMap, s"seed $seed")
    }
  }

  test("no cartesian product in the distributed plan") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val plan = Triangles.perNodeCountsDistributed(edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  test("driver fast path ≡ distributed kernel; above-cap falls back") {
    val rnd = new scala.util.Random(20260819L)
    val edges = ((1 to 300).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    } :+ (7L, 7L)).toDF("a", "b")
    val viaDriver = Triangles.perNodeCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDist = Triangles.perNodeCountsDistributed(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === viaDist)
    // the fast path actually fired: LocalRelation plan, no shuffle
    val plan = Triangles.perNodeCounts(edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // above the cap the distributed kernel takes over with equal counts
    val overCap = graft.plans.DriverFetch.withCaps(10, graft.plans.DriverFetch.MaxBytes)(
        Triangles.perNodeCounts(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(overCap === viaDist)
  }
}
