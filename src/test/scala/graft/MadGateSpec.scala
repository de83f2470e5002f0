package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.MadGate

/** MadGate's driver tail must be identical to the distributed
  * cumulative-window composition — exact integers end to end — and
  * must fall back above the cap and on off-contract column types. */
class MadGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic pseudo-random histogram: 5 sources with different
    * cell counts, lengths clustered around per-source modes with
    * planted far outliers on both tails, duplicate |len − med| cells
    * (so the deviation fold genuinely merges), and count weights > 1
    * (so the cumulative threshold lands mid-cell). */
  private def fixture = {
    def h(x: Long) = ((x * 2654435761L) % 1000003 + 1000003) % 1000003
    (0 until 5).flatMap { s =>
      val cells = 20 + s * 17
      (0 until cells).map { i =>
        val len = 100L * (s + 1) + h(s * 131 + i) % 60 - 30 +
          (if (i % 19 == 0) 5000 else 0) + (if (i % 23 == 0) -90 else 0)
        (s"src_$s", math.max(len, 1L), h(i * 7 + s) % 5 + 1)
      }
    }.toDF("source", "len", "cnt")
      .groupBy("source", "len").agg(sum("cnt").as("cnt"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

  test("driver tail ≡ distributed cumulation; above-cap and off-type " +
       "fall back") {
    val h = fixture
    val fast = MadGate.gate(h)
    val slow = MadGate.gateDistributed(h)
    assert(fast.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"), fast.queryExecution.optimizedPlan)
    assert(slow.queryExecution.optimizedPlan.toString.contains("Window"),
      slow.queryExecution.optimizedPlan)
    assert(rows(fast) == rows(slow))
    assert(rows(fast).nonEmpty && rows(fast).size == 5)
    // outliers genuinely planted: at least one source flags both tails
    assert(rows(fast).exists(_._5 > 0))
    // off-contract types (int len) must fall through to distributed
    val hInt = h.select(col("source"), col("len").cast("int").as("len"),
      col("cnt"))
    assert(MadGate.gate(hInt.select(col("source"),
        col("len").cast("long").as("len"), col("cnt")))
      .queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    assert(MadGate.gate(hInt).queryExecution.optimizedPlan.toString
      .contains("Window"))
  }

  test("single-cell and tie-heavy histograms: driver ≡ distributed") {
    val tiny = Seq(("a", 7L, 1L), ("b", 3L, 2L), ("b", 9L, 2L))
      .toDF("source", "len", "cnt")
    assert(rows(MadGate.gate(tiny)) ==
      rows(MadGate.gateDistributed(tiny)))
    // even-count tie: lower median must match on both paths
    val ties = Seq(("t", 1L, 2L), ("t", 2L, 2L), ("t", 3L, 2L),
      ("t", 4L, 2L)).toDF("source", "len", "cnt")
    assert(rows(MadGate.gate(ties)) ==
      rows(MadGate.gateDistributed(ties)))
  }
}
