package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
  * 1998) — the diversity pass a retrieval stage runs AFTER candidate
  * generation: greedily pick the item maximizing
  * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` so the final k are
  * relevant but not near-duplicates of each other (RAG context slots,
  * dedup-aware few-shot selection).
  *
  * The greedy recurrence is inherently sequential in k, so the loop
  * unrolls over DATAFRAME rounds, never rows: each round is a
  * max-sim aggregate + an argmax over the per-query CANDIDATE relation
  * (k-bounded — candidates per query, not the corpus; the corpus-sized
  * work already happened in candidate generation). Every round's
  * selection is staged ([[graft.plans.Materialize]]) because round r+1
  * consumes it from two subtrees (the anti-join and the max-sim side) —
  * the repo's multi-consumer pin rule — and because the union lineage
  * would otherwise deepen by three joins per round.
  *
  * Determinism: scores combine cosine doubles with λ and 1−λ literals.
  * Callers should pick λ whose complement is exact in binary (0.5,
  * 0.25, 0.75) so `1−λ` is the same double on every engine — with an
  * inexact λ the Scala-computed complement (e.g. 1−0.7 =
  * 0.30000000000000004) and an engine's parsed literal 0.3 would
  * differ in the last ulp and flip near-tie argmax picks. Ties break to
  * the lowest id via struct ordering, mirroring a `row_number() OVER
  * (ORDER BY score DESC, id)` replay exactly. */
object Mmr {

  /** @param cands (qidCol, idCol, rel) — per-query candidate relevance
    * @param pairs (qidCol, a, b, sim) — pairwise similarity between
    *              candidates of the same query; either orientation (or
    *              both) per pair — symmetrized internally, because the
    *              max-sim join only matches `b` against selected ids
    *              and a one-sided input would silently under-penalize
    *              near-duplicates instead of failing
    * @return (qidCol, idCol, score, rank) — the k MMR picks per query */
  def rerank(cands: DataFrame, pairs: DataFrame, qidCol: String,
             idCol: String, k: Int, lam: Double = 0.5): DataFrame = {
    require(k >= 1, "k must be at least 1")
    driverRerank(cands, pairs, qidCol, idCol, k, lam)
      .getOrElse(rerankDistributed(cands, pairs, qidCol, idCol, k, lam))
  }

  /** Bounded DRIVER fast path (the driverComponents pattern): the MMR
    * inputs are candidate-sized — k-bounded per query — so under
    * 2¹⁸ rows (and the [[graft.plans.DriverFetch]] byte cap)
    * both relations are fetched once, concurrently, and the greedy
    * loop runs on the driver, replacing ~9 single-task jobs per round
    * (stage pin, max-sim join, anti join, argmax aggregate). The picks
    * are identical: scores are the same IEEE-754 double expressions
    * evaluated in the same order (`lam·rel − (1−lam)·max sim`, with
    * the SAME Scala-computed `1−lam` the distributed literal carries),
    * the argmax replays `min(struct(-score, id))` via
    * `java.lang.Double.compare` (Spark's double ordering: NaN largest,
    * −0.0 < 0.0), and max-sim folds with the same NaN-largest rule.
    * MmrSpec pins driver ≡ distributed and the above-cap fallback.
    * A batched rerank over more queries than the cap admits falls
    * back to the distributed rounds unchanged. Long ids / double
    * scores only; other types fall through. */
  private def driverRerank(cands: DataFrame, pairs: DataFrame,
                           qidCol: String, idCol: String, k: Int,
                           lam: Double)
      : Option[DataFrame] = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    if (!graft.plans.DriverFetch.hasTypes(cands,
          qidCol -> LongType, idCol -> LongType, "rel" -> DoubleType) ||
        !graft.plans.DriverFetch.hasTypes(pairs,
          qidCol -> LongType, "a" -> LongType, "b" -> LongType, "sim" -> DoubleType))
      return None
    val spark = cands.sparkSession
    // the two inputs are independent: fetched concurrently
    val Seq(cRows, pRows) = graft.plans.DriverFetch("MMR rerank", Seq(
        cands.select(col(qidCol), col(idCol), col("rel")),
        pairs.select(col(qidCol), col("a"), col("b"), col("sim"))),
      1 << 18).getOrElse(return None)
    // Spark double semantics: NaN largest, -0.0 < 0.0 — exactly
    // java.lang.Double.compare
    def dGt(a: Double, b: Double) = java.lang.Double.compare(a, b) > 0
    // symmetrized adjacency: (qid, node) → (other, sim)*
    val adj = new scala.collection.mutable.HashMap[
      (Long, Long), scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    def link(q: Long, x: Long, y: Long, s: Double): Unit =
      adj.getOrElseUpdate((q, x),
        new scala.collection.mutable.ArrayBuffer[(Long, Double)]) += ((y, s))
    pRows.foreach { r =>
      val (q, a, b, s) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))
      link(q, a, b, s); link(q, b, a, s)
    }
    val byQid = new scala.collection.mutable.LinkedHashMap[
      Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    cRows.foreach { r =>
      byQid.getOrElseUpdate(r.getLong(0),
        new scala.collection.mutable.ArrayBuffer[(Long, Double)]) +=
        ((r.getLong(1), r.getDouble(2)))
    }
    val oneMinusLam = 1.0 - lam // the SAME complement the plan embeds
    val out = Seq.newBuilder[org.apache.spark.sql.Row]
    byQid.foreach { case (qid, cs) =>
      val selected = new scala.collection.mutable.HashSet[Long]
      var r = 1
      var remaining = cs.toArray
      while (r <= k && remaining.nonEmpty) {
        var best: (Long, Double) = null
        remaining.foreach { case (id, rel) =>
          val score =
            if (r == 1) lam * rel
            else {
              var ms = 0.0
              var seen = false
              adj.get((qid, id)).foreach(_.foreach { case (other, s) =>
                if (selected.contains(other)) {
                  if (!seen || dGt(s, ms)) { ms = s; seen = true }
                }
              })
              lam * rel - oneMinusLam * (if (seen) ms else 0.0)
            }
          // min(struct(-score, id)) REPLAYED ON THE NEGATION: a NaN
          // score negates to NaN = LARGEST, so min never picks it —
          // comparing raw scores with "NaN wins" would invert that
          val better = best == null || {
            val c = java.lang.Double.compare(-score, -best._2)
            c < 0 || (c == 0 && id < best._1)
          }
          if (better) best = (id, score)
        }
        out += org.apache.spark.sql.Row(qid, best._1, best._2, r)
        selected += best._1
        remaining = remaining.filter(_._1 != best._1)
        r += 1
      }
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(qidCol, LongType),
      org.apache.spark.sql.types.StructField(idCol, LongType),
      org.apache.spark.sql.types.StructField("score", DoubleType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    Some(spark.createDataFrame(
      java.util.Arrays.asList(out.result(): _*), outSchema))
  }

  private[graft] def rerankDistributed(
      cands: DataFrame, pairs: DataFrame, qidCol: String,
      idCol: String, k: Int, lam: Double): DataFrame = {
    // union of both orientations; no distinct needed — the consumer is
    // a max() aggregate, which duplicate rows cannot perturb
    val sym = pairs.select(col(qidCol), col("a"), col("b"), col("sim"))
      .unionByName(pairs.select(col(qidCol), col("b").as("a"),
        col("a").as("b"), col("sim")))
    def argmax(scored: DataFrame, r: Int): DataFrame = scored
      .groupBy(col(qidCol))
      .agg(min(struct((-col("score")).as("ns"), col(idCol).as("id"),
        col("score").as("s"))).as("p"))
      .select(col(qidCol), col("p.id").as(idCol), col("p.s").as("score"),
        lit(r).as("rank"))
    // round 1: max over the empty selected set is 0 — score is λ·rel
    var all = graft.plans.Materialize.stage(argmax(
      cands.select(col(qidCol), col(idCol),
        (lit(lam) * col("rel")).as("score")), 1))
    for (r <- 2 to k) {
      val ms = sym
        .join(all.select(col(qidCol), col(idCol).as("b")), Seq(qidCol, "b"))
        .groupBy(col(qidCol), col("a"))
        .agg(max(col("sim")).as("ms"))
        .withColumnRenamed("a", idCol)
      val scored = cands
        .join(all.select(col(qidCol), col(idCol)), Seq(qidCol, idCol),
          "left_anti")
        .join(ms, Seq(qidCol, idCol), "left")
        .select(col(qidCol), col(idCol),
          (lit(lam) * col("rel")
            - lit(1.0 - lam) * coalesce(col("ms"), lit(0.0))).as("score"))
      all = graft.plans.Materialize.stage(all.unionByName(argmax(scored, r)))
    }
    all
  }
}
