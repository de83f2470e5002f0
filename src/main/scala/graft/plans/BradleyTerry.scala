package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bradley–Terry MM iterations (Hunter 2004) in exact BIGINT
  * micro-units over the bounded sufficient statistics a ONE-pass
  * corpus aggregation produced: `n(i, j, nij)` verdict counts per
  * unordered pair and `w(m, w)` smoothed wins per model. The
  * recurrence r_i ← w_i · U² div Σ_j nij·U² div (r_i + r_j) is pure
  * integer arithmetic — a pure function of the counts under any
  * partitioning (the PageRank/HITS stance), which is what makes the
  * driver/distributed split below safe.
  *
  * The statistics are MODEL-sized (models² pairs at most), so under
  * 2¹⁸ rows the loop runs on the DRIVER over hash maps (the
  * driverComponents pattern) — replacing ~8 single-task jobs per
  * round (stage pin, two joins, union aggregate) with one concurrent
  * [[DriverFetch]] of both inputs, bounded in rows and bytes. An
  * over-cap leaderboard falls back to the distributed rounds
  * unchanged. EvalOpsSpec pins driver ≡ distributed and the
  * fallback. */
object BradleyTerry {

  val Unit2: Long = 1000000000000L // 1e6 (units) · 1e6 (rating 1.0)

  /** Ratings after `rounds` MM steps: (m, r) with r in 1e-6 units.
    * `n` carries (i, j, nij), `w` carries (m, w) — both Long. */
  def mmRatings(n: DataFrame, w: DataFrame, rounds: Int): DataFrame =
    driverRatings(n, w, rounds)
      .getOrElse(mmRatingsDistributed(n, w, rounds))

  private def driverRatings(n: DataFrame, w: DataFrame,
                            rounds: Int): Option[DataFrame] = {
    // the two inputs are independent: fetched concurrently
    val Seq(nRows, wRows) = DriverFetch("Bradley-Terry statistics", Seq(
        n.select(col("i"), col("j"), col("nij")),
        w.select(col("m"), col("w"))),
      1 << 18).getOrElse(return None)
    val pairs = nRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wins = wRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // participant set = models appearing in a pair, exactly the
    // distributed `models` relation (a w-only model never rates)
    val models = new scala.collection.mutable.LinkedHashSet[Long]
    pairs.foreach { case (i, j, _) => models += i; models += j }
    var r = models.iterator.map(_ -> 1000000L).toMap
    (1 to rounds).foreach { _ =>
      val d = new scala.collection.mutable.HashMap[Long, Long]
      pairs.foreach { case (i, j, nij) =>
        val t = nij * Unit2 / (r(i) + r(j))
        d(i) = d.getOrElse(i, 0L) + t
        d(j) = d.getOrElse(j, 0L) + t
      }
      r = models.iterator.map(m => m -> wins(m) * Unit2 / d(m)).toMap
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("r",
        org.apache.spark.sql.types.LongType)))
    Some(DriverFetch.local(n,
      models.iterator.map(m => org.apache.spark.sql.Row(m, r(m))).toSeq,
      outSchema))
  }

  private[graft] def mmRatingsDistributed(n: DataFrame, w: DataFrame,
                                          rounds: Int): DataFrame = {
    val models = Materialize.stage(
      n.select(col("i").as("m"))
        .unionByName(n.select(col("j").as("m"))).distinct())
    var r = models.withColumn("r", lit(1000000L))
    (1 to rounds).foreach { _ =>
      r = Materialize.stage(r)
      val terms = n
        .join(r.select(col("m").as("i"), col("r").as("ri")), Seq("i"))
        .join(r.select(col("m").as("j"), col("r").as("rj")), Seq("j"))
        .select(col("i"), col("j"),
          expr(s"(nij * ${Unit2}L) div (ri + rj)").as("t"))
      val denom = terms.select(col("i").as("m"), col("t"))
        .unionByName(terms.select(col("j").as("m"), col("t")))
        .groupBy(col("m")).agg(sum(col("t")).as("d"))
      r = w.join(denom, Seq("m"))
        .select(col("m"), expr(s"(w * ${Unit2}L) div d").as("r"))
    }
    r
  }
}
