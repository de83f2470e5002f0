package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Median/MAD/outlier-gate tail over a (source, len, cnt) length
  * HISTOGRAM — the statistic stage of q_mad_gate.
  *
  * The histogram is corpus-REDUCING (distinct lengths per source, a
  * few hundred rows at any scale that matters locally), but the
  * distributed tail still paid ~10 single-task AQE stage-jobs: the
  * median cumulation, the deviation re-histogram, the MAD cumulation
  * and the gate each planned their own exchanges over an enum-sized
  * relation. Under a row cap the tail instead collects the histogram
  * once ([[DriverFetch]] — bounded in rows and bytes) and replays the
  * exact integer arithmetic on the driver, returning a LocalRelation
  * (the driverComponents / waterfill pattern, guide §1.2: per-round
  * scheduler overhead dwarfs enum-sized compute). Everything is exact
  * long arithmetic — cumulative counts, |len − med|, the 3·MAD gate —
  * so the driver loop is bit-identical by construction; MadGateSpec
  * pins driver ≡ distributed on random histograms plus the above-cap
  * and off-type fallbacks.
  *
  * Above the cap (a histogram that is NOT bounded — e.g. near-unique
  * real-valued lengths) the original distributed composition runs
  * unchanged: cumulative-window median over the histogram, deviation
  * fold, broadcast joins of the enum-sized stats.
  */
object MadGate {

  /** Gate over a histogram with columns (source: string, len: long,
    * cnt: long). Output: (source, n_docs, median_len, mad, n_outliers)
    * — UNORDERED; callers sort. Histograms up to 2¹⁸ rows run the
    * driver tail: a few MB of (string, long, long) on the driver —
    * model-state sized; a histogram larger than this is behaving like
    * a corpus relation and keeps the distributed shape. */
  def gate(h: DataFrame): DataFrame = {
    // exactly these three columns: the distributed tail joins `h` whole
    if (h.schema.length != 3 || !DriverFetch.hasTypes(h, "source" -> StringType,
        "len" -> LongType, "cnt" -> LongType)) return gateDistributed(h)
    DriverFetch("mad-gate length histogram",
        Seq(h.select(col("source"), col("len"), col("cnt"))), 1 << 18) match {
      case Some(Seq(rows)) => gateDriver(h.sparkSession,
        rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
      case _ => gateDistributed(h)
    }
  }

  /** The original distributed tail, kept verbatim as the over-cap /
    * off-type fallback and as the spec's equivalence reference. */
  private[graft] def gateDistributed(h: DataFrame): DataFrame = {
    def histMedian(hist: DataFrame, valCol: String): DataFrame = {
      val w = Window.partitionBy(col("source")).orderBy(col(valCol))
      val nTot = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
      hist.withColumn("cum", sum(col("cnt")).over(w))
        .join(broadcast(nTot), Seq("source"))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy(col("source"))
        .agg(min(col(valCol)).as("med"), max(col("n")).as("n"))
    }
    val med = histMedian(h, "len")
    // the deviation histogram folds straight out of the length
    // histogram — |len − med| cells with SUMMED counts, never a second
    // pass over corpus rows
    val dev = h.join(broadcast(med.select(col("source"), col("med"))),
        Seq("source"))
      .groupBy(col("source"), abs(col("len") - col("med")).as("dv"))
      .agg(sum(col("cnt")).as("cnt"))
    val mad = histMedian(dev, "dv")
      .select(col("source"), col("med").as("mad"))
    val stats = med.join(mad, Seq("source"))
    h.join(broadcast(stats), Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), max(col("med")).as("median_len"),
        max(col("mad")).as("mad"),
        sum(when(abs(col("len") - col("med")) > lit(3L) * col("mad"),
          col("cnt")).otherwise(0L)).as("n_outliers"))
  }

  /** Driver replay: identical integer arithmetic over the collected
    * histogram. The distributed median is "min len among rows whose
    * cumulative count (ordered by len) reaches (n+1) div 2" — with the
    * histogram sorted ascending, that is the FIRST row reaching the
    * threshold, replayed by a running sum; `div` on the positive longs
    * here is plain truncating long division, and the deviation fold
    * groups |len − med| cells with summed counts exactly as the
    * distributed groupBy does. */
  private def gateDriver(s: org.apache.spark.sql.SparkSession,
                         hist: Array[(String, Long, Long)]): DataFrame = {
    def histMedian(cells: Seq[(Long, Long)], n: Long): Long = {
      val half = (n + 1L) / 2L
      var cum = 0L
      val it = cells.sortBy(_._1).iterator
      var med = Long.MinValue
      var found = false
      while (it.hasNext && !found) {
        val (v, c) = it.next()
        cum += c
        if (cum >= half) { med = v; found = true }
      }
      med
    }
    val out = hist.groupBy(_._1).toSeq.map { case (src, rows) =>
      val cells = rows.toSeq.map(t => (t._2, t._3))
      val n = cells.map(_._2).sum
      val med = histMedian(cells, n)
      val devCells = cells.groupBy { case (len, _) => math.abs(len - med) }
        .toSeq.map { case (dv, cs) => (dv, cs.map(_._2).sum) }
      val mad = histMedian(devCells, n)
      val nOutliers = cells.collect {
        case (len, c) if math.abs(len - med) > 3L * mad => c
      }.sum
      Row(src, n, med, mad, nOutliers)
    }
    val schema = StructType(Seq(
      StructField("source", StringType),
      StructField("n_docs", LongType),
      StructField("median_len", LongType),
      StructField("mad", LongType),
      StructField("n_outliers", LongType)))
    s.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }
}
