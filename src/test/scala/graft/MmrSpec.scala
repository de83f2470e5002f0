package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.vector.Mmr

/** MMR semantics on a hand-computable fixture: the greedy penalty must
  * displace a near-duplicate of an already-selected item that plain
  * relevance ranking would keep. */
class MmrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("near-duplicate of the first pick is displaced by a diverse item") {
    // candidates for one query: A (top), A' (near-dup of A), B (diverse)
    val cands = Seq(
      (0L, 1L, 0.99), // A
      (0L, 2L, 0.985), // A' — plain top-2 would take this
      (0L, 3L, 0.90) // B
    ).toDF("qid", "vec_id", "rel")
    val pairs = Seq(
      (0L, 1L, 2L, 0.999), (0L, 2L, 1L, 0.999), // A ↔ A' near-identical
      (0L, 1L, 3L, 0.10), (0L, 3L, 1L, 0.10),
      (0L, 2L, 3L, 0.10), (0L, 3L, 2L, 0.10)
    ).toDF("qid", "a", "b", "sim")
    val got = Mmr.rerank(cands, pairs, "qid", "vec_id", k = 3, lam = 0.5)
      .orderBy(col("rank"))
      .collect()
      .map(r => (r.getInt(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("vec_id"))))
    // rank 1: A (0.495); rank 2: B (0.45 − 0.05 = 0.40 beats A's twin at
    // 0.4925 − 0.4995 < 0); rank 3: the twin, last
    assert(got.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)), got.toSeq)
  }

  test("ties on score break to the lowest id") {
    val cands = Seq((0L, 9L, 0.8), (0L, 4L, 0.8), (0L, 7L, 0.8))
      .toDF("qid", "vec_id", "rel")
    val pairs = Seq.empty[(Long, Long, Long, Double)]
      .toDF("qid", "a", "b", "sim")
    val got = Mmr.rerank(cands, pairs, "qid", "vec_id", k = 3, lam = 0.5)
      .orderBy(col("rank")).collect().map(_.getLong(1))
    assert(got.toSeq == Seq(4L, 7L, 9L), got.toSeq)
  }

  test("driver fast path ≡ distributed rounds on a multi-query fixture; " +
       "above-cap falls back") {
    val rnd = new scala.util.Random(20260819L)
    // 6 queries × 8 candidates with full pairwise sims — uneven rel
    // values, one query with fewer candidates than k
    val cands = (for {
      q <- 0L until 6L
      c <- 0L until (if (q == 5L) 2L else 8L)
    } yield (q, 100 * q + c, rnd.nextDouble())).toDF("qid", "vec_id", "rel")
    val pairs = (for {
      q <- 0L until 6L
      a <- 0L until 8L; b <- 0L until 8L
      if a != b
    } yield (q, 100 * q + a, 100 * q + b, rnd.nextDouble()))
      .toDF("qid", "a", "b", "sim")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val viaDriver = rows(Mmr.rerank(cands, pairs, "qid", "vec_id", 4, 0.5))
    val viaDist = rows(Mmr.rerankDistributed(
      cands, pairs, "qid", "vec_id", 4, 0.5))
    assert(viaDriver === viaDist)
    // fast path fired: LocalRelation, no shuffle
    val plan = Mmr.rerank(cands, pairs, "qid", "vec_id", 4, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // above the cap: distributed rounds, equal picks
    val overCap = rows(graft.plans.DriverFetch.withCaps(3, graft.plans.DriverFetch.MaxBytes)(
      Mmr.rerank(cands, pairs, "qid", "vec_id", 4, 0.5)))
    assert(overCap === viaDist)
  }
}
