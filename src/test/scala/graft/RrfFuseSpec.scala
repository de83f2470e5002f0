package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.vector.RrfFuse

/** RrfFuse's driver fast path must be bit-identical to the distributed
  * full-outer + window composition — including the rounded IEEE-754
  * fusion score — and must fall back above the cap and on off-contract
  * types. */
class RrfFuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic pseudo-random rank lists: qids 0..9, lexical and
    * dense lists of different lengths with partial overlap, so the
    * full outer exercises bm-only, cs-only and both-sides rows, with
    * rank ties across docs (same rb+rc sum) to exercise the doc-id
    * tiebreak. */
  private def fixture = {
    def h(x: Long) = (x * 2654435761L) % 97
    val bm = (0L until 10L).flatMap { q =>
      (1 to 20).map(r => (q, h(q * 31 + r) + 1000 * (r % 3), r))
    }.toDF("qid", "doc_id", "rb")
      .select(col("qid"), col("doc_id"), col("rb").cast("int").as("rb"))
    val cs = (0L until 10L).flatMap { q =>
      (1 to 15).map(r => (q, h(q * 17 + r * 7) + 1000 * (r % 3), r))
    }.toDF("cqid", "vec_id", "rc")
      .select(col("cqid"), col("vec_id"), col("rc").cast("int").as("rc"))
    (bm, cs)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getInt(2),
        if (r.isNullAt(3)) null else r.getInt(3),
        java.lang.Double.doubleToLongBits(r.getDouble(4)))
    }.toSeq

  test("driver fast path ≡ distributed fuse, bit-exact scores; " +
       "above-cap and off-type fall back") {
    val (bm, cs) = fixture
    val fast = RrfFuse.fusePerQuery(bm, cs, k = 10)
    val slow = RrfFuse.fusePerQueryDistributed(bm, cs, k = 10)
    // the driver path must actually be local and the fallback a join
    assert(fast.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"), fast.queryExecution.optimizedPlan)
    assert(slow.queryExecution.optimizedPlan.toString.contains("Join"),
      slow.queryExecution.optimizedPlan)
    assert(rows(fast) == rows(slow))
    // every qid cut to k with both-sides rows ranked above single-side
    val perQ = fast.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQ.size == 10 && perQ.values.forall(_ == 10L))
    // off-contract types (int qid) must fall through to distributed
    val bmInt = bm.select(col("qid").cast("int").as("qid"),
      col("doc_id"), col("rb"))
    val ft = RrfFuse.fusePerQuery(
      bmInt.select(col("qid").cast("long").as("qid"), col("doc_id"),
        col("rb")), cs, k = 10)
    assert(rows(ft) == rows(slow)) // long again: driver path, same rows
    assert(RrfFuse.fusePerQuery(bmInt, cs, k = 10)
      .queryExecution.optimizedPlan.toString.contains("Join"))
  }

  test("global (single-query) form: driver ≡ distributed, kill switch " +
       "falls back") {
    val (bm0, cs0) = fixture
    val bm = bm0.filter(col("qid") === 3L).select(col("doc_id"), col("rb"))
    val cs = cs0.filter(col("cqid") === 3L).select(col("vec_id"), col("rc"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) null else r.getInt(1),
          if (r.isNullAt(2)) null else r.getInt(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))
      }.toSeq
    val fast = RrfFuse.fuseGlobal(bm, cs, k = 20)
    val slow = RrfFuse.fuseGlobalDistributed(bm, cs, k = 20)
    assert(fast.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"))
    assert(slow.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(rows(fast) == rows(slow))
  }

  test("k cut and tiebreak: equal fused scores order by doc id, " +
       "single-side rows coalesce ids and keep the null rank") {
    val bm = Seq((1L, 100L, 1), (1L, 200L, 1), (1L, 300L, 2))
      .toDF("qid", "doc_id", "rb")
    val cs = Seq((1L, 300L, 1), (1L, 400L, 2))
      .toDF("cqid", "vec_id", "rc")
    val got = RrfFuse.fusePerQuery(bm, cs, k = 3).collect()
      .map(r => (r.getLong(1), r.isNullAt(2), r.isNullAt(3)))
    // 300 fused from both sides wins; 100 and 200 tie on score → doc id
    assert(got.toSeq == Seq((300L, false, false), (100L, false, true),
      (200L, false, true)))
  }
}
