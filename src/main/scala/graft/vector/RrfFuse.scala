package graft.vector

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion of a lexical and a dense per-query rank list
  * — the RAG-stack combiner (`RRF = Σ 1/(60 + rank)`, Cormack et al.
  * 2009's constant): full-outer on (query, doc), the fused score
  * rounded to 6 decimals BEFORE the per-query top-k cut so the order
  * is a pure function of emitted values, ties by doc id.
  *
  * Two execution paths with identical rows (RrfFuseSpec pins it):
  *
  *  - '''Driver fast path''' (the [[Mmr]] / driverComponents pattern):
  *    both inputs are rank LISTS — bounded by batch × k, never
  *    corpus-sized — so under 2¹⁷ rows they are fetched once,
  *    CONCURRENTLY ([[graft.plans.DriverFetch]]: a sequential fetch
  *    pair lost an interleaved A/B to the distributed form, whose AQE
  *    runs the two sub-plans in parallel), and
  *    the join + score + per-query top-k run on the driver, replacing
  *    a full-outer sort-merge join, a window and a global sort (~4
  *    exchanges of single-task AQE jobs for a few thousand rows).
  *    Exactness: the score replays the SAME IEEE-754 expression shape
  *    (`coalesce(1/(60+rb),0) + coalesce(1/(60+rc),0)` with int→double
  *    widening) and Spark's `round(x, 6)` HALF_UP semantics via the
  *    same `BigDecimal(double).setScale` call codegen performs;
  *    ordering replays the window's (rrf desc, doc asc) with
  *    `java.lang.Double.compare` (NaN-largest, −0.0 < 0.0 — Spark's
  *    double ordering).
  *  - '''Distributed fallback''' — the original composition — when
  *    either list exceeds the cap or the id/rank types differ from
  *    the (long, long, int) contract.
  */
object RrfFuse {

  /** @param bm lexical ranks (qid: long, doc_id: long, rb: int)
    * @param cs dense ranks (cqid: long, vec_id: long, rc: int)
    * @return (qid, doc_id, rb, rc, rrf) — per-query top-`k` by fused
    *         score, ordered (qid, rrf desc, doc_id) */
  def fusePerQuery(bm: DataFrame, cs: DataFrame, k: Int = 10): DataFrame =
    driverFuse(bm, cs, k).getOrElse(fusePerQueryDistributed(bm, cs, k))

  /** Single-query form — no qid: full-outer on doc alone, global
    * top-`k` by (rrf desc, doc id). Same two paths, same exactness
    * story as [[fusePerQuery]].
    * @param bm (doc_id: long, rb: int); @param cs (vec_id: long, rc: int) */
  def fuseGlobal(bm: DataFrame, cs: DataFrame, k: Int = 20): DataFrame =
    driverFuseGlobal(bm, cs, k).getOrElse(fuseGlobalDistributed(bm, cs, k))

  private[graft] def fuseGlobalDistributed(bm: DataFrame, cs: DataFrame,
                                           k: Int): DataFrame =
    bm.join(cs, bm("doc_id") === cs("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        col("rb"), col("rc"),
        round(coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rc")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)

  private def driverFuseGlobal(bm: DataFrame, cs: DataFrame,
                               k: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (!graft.plans.DriverFetch.hasTypes(bm, "doc_id" -> LongType, "rb" -> IntegerType) ||
        !graft.plans.DriverFetch.hasTypes(cs, "vec_id" -> LongType, "rc" -> IntegerType))
      return None
    val Seq(bRows, cRows) = graft.plans.DriverFetch("RRF fusion", Seq(
        bm.select(col("doc_id"), col("rb")), cs.select(col("vec_id"), col("rc"))),
      1 << 17).getOrElse(return None)
    val m = new scala.collection.mutable.HashMap[
      Long, (Option[Int], Option[Int])]
    bRows.foreach { r =>
      m(r.getLong(0)) = (Some(r.getInt(1)),
        m.get(r.getLong(0)).flatMap(_._2))
    }
    cRows.foreach { r =>
      m(r.getLong(0)) = (m.get(r.getLong(0)).flatMap(_._1),
        Some(r.getInt(1)))
    }
    def term(r: Option[Int]) = r.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
    def round6(x: Double): Double =
      scala.math.BigDecimal(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val ord = new Ordering[(Long, Option[Int], Option[Int], Double)] {
      def compare(a: (Long, Option[Int], Option[Int], Double),
                  b: (Long, Option[Int], Option[Int], Double)): Int = {
        val byS = -java.lang.Double.compare(a._4, b._4)
        if (byS != 0) byS else java.lang.Long.compare(a._1, b._1)
      }
    }
    val rows = m.iterator.map { case (doc, (rb, rc)) =>
      (doc, rb, rc, round6(term(rb) + term(rc)))
    }.toArray.sorted(ord).take(k)
      .map { case (doc, rb, rc, rrf) =>
        Row(doc, rb.map(Int.box).orNull, rc.map(Int.box).orNull, rrf) }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("rb", IntegerType, nullable = true),
      StructField("rc", IntegerType, nullable = true),
      StructField("rrf", DoubleType, nullable = true)))
    Some(bm.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows.toSeq).asJava), schema)
      .orderBy(col("rrf").desc, col("doc_id")))
  }

  private[graft] def fusePerQueryDistributed(bm: DataFrame, cs: DataFrame,
                                             k: Int): DataFrame = {
    val fused = bm.join(cs,
        bm("qid") === cs("cqid") && bm("doc_id") === cs("vec_id"),
        "full_outer")
      .select(coalesce(bm("qid"), cs("cqid")).as("qid"),
        coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        col("rb"), col("rc"),
        round(coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rc")), lit(0.0)), 6)
          .as("rrf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("rb"), col("rc"), col("rrf"))
      .orderBy(col("qid"), col("rrf").desc, col("doc_id"))
  }

  private def driverFuse(bm: DataFrame, cs: DataFrame,
                         k: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (!graft.plans.DriverFetch.hasTypes(bm,
          "qid" -> LongType, "doc_id" -> LongType, "rb" -> IntegerType) ||
        !graft.plans.DriverFetch.hasTypes(cs,
          "cqid" -> LongType, "vec_id" -> LongType, "rc" -> IntegerType))
      return None
    val Seq(bRows, cRows) = graft.plans.DriverFetch("RRF fusion", Seq(
        bm.select(col("qid"), col("doc_id"), col("rb")),
        cs.select(col("cqid"), col("vec_id"), col("rc"))),
      1 << 17).getOrElse(return None)
    // full-outer on (qid, doc): ranks meet in one hash map
    val m = new scala.collection.mutable.HashMap[
      (Long, Long), (Option[Int], Option[Int])]
    bRows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      m(key) = (Some(r.getInt(2)), m.get(key).flatMap(_._2))
    }
    cRows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      m(key) = (m.get(key).flatMap(_._1), Some(r.getInt(2)))
    }
    // the SAME double expression shape the distributed plan evaluates:
    // int rank widens to double, per-side term coalesces to 0.0, the
    // bm term adds first; round replays Spark's Round(HALF_UP) on
    // doubles (BigDecimal of the double's shortest decimal form)
    def term(r: Option[Int]) = r.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
    def round6(x: Double): Double =
      scala.math.BigDecimal(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = m.iterator.map { case ((qid, doc), (rb, rc)) =>
      (qid, doc, rb, rc, round6(term(rb) + term(rc)))
    }.toArray
    // (rrf desc, doc asc) replays the window order via Double.compare
    val ord = new Ordering[(Long, Long, Option[Int], Option[Int], Double)] {
      def compare(a: (Long, Long, Option[Int], Option[Int], Double),
                  b: (Long, Long, Option[Int], Option[Int], Double)): Int = {
        val byQ = java.lang.Long.compare(a._1, b._1)
        if (byQ != 0) return byQ
        val byS = -java.lang.Double.compare(a._5, b._5)
        if (byS != 0) byS else java.lang.Long.compare(a._2, b._2)
      }
    }
    val rows = scored.sorted(ord)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, qs) => qs.take(k) }
      .map { case (qid, doc, rb, rc, rrf) =>
        Row(qid, doc, rb.map(Int.box).orNull, rc.map(Int.box).orNull, rrf) }
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = true),
      StructField("doc_id", LongType, nullable = true),
      StructField("rb", IntegerType, nullable = true),
      StructField("rc", IntegerType, nullable = true),
      StructField("rrf", DoubleType, nullable = true)))
    val spark = bm.sparkSession
    // rows are already emitted in contract order; the explicit orderBy
    // keeps the ORDER BY part of the entry contract in the plan (a
    // tiny sort over a local relation)
    Some(spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
      .orderBy(col("qid"), col("rrf").desc, col("doc_id")))
  }
}
