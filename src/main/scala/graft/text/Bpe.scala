package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Distributed BPE merge learning (Sennrich et al. 2016) over a word
  * DICTIONARY relation — the tokenizer-training step itself.
  *
  * The input is (word, cnt): distinct words with corpus frequencies —
  * the one corpus-sized pass happens BEFORE this operator, so every
  * merge round runs over the bounded dictionary expanded to
  * (word, pos, symbol) rows. That is the standard dictionary-BPE
  * formulation and what makes the trainer distributable: the
  * dictionary grows sublinearly with the corpus while raw-text BPE
  * would re-walk every token occurrence per round.
  *
  * Greedy left-to-right application — where "aaaa" under merge "aa"
  * must merge positions 1-2 and 3-4, never 2-3 — is inherently
  * sequential, but reduces to window functions: the hit positions of
  * the top pair form maximal runs of consecutive positions (islands),
  * and greedy selects exactly the ODD in-island ranks. Both the Spark
  * plan and the DuckDB oracle express that as lag-break → running-sum
  * island id → row_number parity.
  *
  * Per round: one pair-count aggregation (map-side combining), one
  * bounded 1-row top fetch (the KMeans-centroid stance), two
  * broadcast-sized joins for the rewrite, one renumbering window.
  * Round state is pinned once per round (multi-consumer: the pair
  * count and the rewrite both read it).
  */
object Bpe {

  /** Learn up to `rounds` merges from a (wordCol, cntCol) dictionary.
    * Returns (lhs, rhs, weighted frequency) per adopted merge, in
    * adoption order; stops early if no adjacent pair remains. Ties
    * break by (freq desc, lhs asc, rhs asc) — deterministic, so the
    * learned table is itself oracle-checkable. */
  def learnMerges(words: DataFrame, wordCol: String, cntCol: String,
                  rounds: Int): Seq[(String, String, Long)] = {
    require(rounds >= 1 && rounds <= 20, "rounds in [1,20]")
    driverMerges(words, wordCol, cntCol, rounds)
      .getOrElse(learnMergesDistributed(words, wordCol, cntCol, rounds))
  }

  /** Bounded DRIVER fast path (the driverComponents pattern): a
    * dictionary under 2¹⁸ rows is fetched once ([[graft.plans.DriverFetch]])
    * and the whole greedy loop runs on the driver — replacing ~9 jobs
    * per round (2 stage pins, pair-count aggregate, top-1 fetch,
    * rewrite windows) with one bounded fetch. The result is identical by
    * construction: pair frequencies are exact long sums, the top-pair
    * tie-break replays Spark's binary UTF-8 string order byte for
    * byte, symbols split on CODE POINTS exactly like Spark's
    * `substring(w, i, 1)`, and the left-to-right skip-2 rewrite is the
    * same selection the odd-island-rank windows compute (BpeSpec pins
    * driver ≡ distributed incl. a supplementary-plane case). Above the
    * cap — a genuinely corpus-scale dictionary — the distributed
    * rounds take over unchanged. */
  private def driverMerges(words: DataFrame, wordCol: String,
                           cntCol: String, rounds: Int)
      : Option[Seq[(String, String, Long)]] = {
    val Seq(rows) = graft.plans.DriverFetch("BPE dictionary",
      Seq(words.select(col(wordCol).cast("string"), col(cntCol).cast("long"))),
      1 << 18).getOrElse(return None)
    // Spark's substring splits on code points, not UTF-16 chars
    def codePoints(w: String): Array[String] = {
      val b = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    // Spark's StringType orderBy is binary UTF-8 order — NOT
    // String.compareTo (UTF-16 code units), which disagrees for
    // supplementary-plane vs U+E000..U+FFFF symbols
    def utf8Lt(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val (xi, yi) = (x(i) & 0xff, y(i) & 0xff)
        if (xi != yi) return xi < yi
        i += 1
      }
      x.length < y.length
    }
    var dict = rows.filter(!_.isNullAt(0))
      .map(r => (codePoints(r.getString(0)), r.getLong(1)))
    val out = Seq.newBuilder[(String, String, Long)]
    var exhausted = false
    (1 to rounds).foreach { _ =>
      if (!exhausted) {
        val freq = new scala.collection.mutable.HashMap[(String, String), Long]
        dict.foreach { case (syms, cnt) =>
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            freq(k) = freq.getOrElse(k, 0L) + cnt
            i += 1
          }
        }
        if (freq.isEmpty) exhausted = true
        else {
          // order: f desc, lhs asc, rhs asc (binary UTF-8)
          val (tl, tr, f) = freq.iterator
            .map { case ((l, r), c) => (l, r, c) }
            .reduceLeft { (a, b) =>
              if (b._3 > a._3 ||
                (b._3 == a._3 && (utf8Lt(b._1, a._1) ||
                  (b._1 == a._1 && utf8Lt(b._2, a._2))))) b else a
            }
          out += ((tl, tr, f))
          // greedy left-to-right rewrite ≡ the odd-island-rank windows
          dict = dict.map { case (syms, cnt) =>
            val b = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == tl && syms(i + 1) == tr) {
                b += tl + tr; i += 2
              } else { b += syms(i); i += 1 }
            }
            (b.result(), cnt)
          }
        }
      }
    }
    Some(out.result())
  }

  private[graft] def learnMergesDistributed(
      words: DataFrame, wordCol: String, cntCol: String,
      rounds: Int): Seq[(String, String, Long)] = {
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    var seqs = words.select(col(wordCol).as("w"), col(cntCol).as("cnt"),
      posexplode(expr(
        "transform(sequence(1, length(" + wordCol + ")), " +
          "i -> substring(" + wordCol + ", i, 1))"))
        .as(Seq("pos", "sym")))
    val out = Seq.newBuilder[(String, String, Long)]
    var exhausted = false
    (1 to rounds).foreach { _ =>
      if (!exhausted) {
        seqs = graft.plans.Materialize.stage(seqs)
        val wn = graft.plans.Materialize.stage(
          seqs.withColumn("nxt", lead(col("sym"), 1).over(wWin)))
        val topRow: Option[Row] = wn.filter(col("nxt").isNotNull)
          .groupBy(col("sym"), col("nxt")).agg(sum(col("cnt")).as("f"))
          .orderBy(col("f").desc, col("sym"), col("nxt")).limit(1)
          .pipe(graft.plans.Materialize.modelState(_, "BPE round's top pair (1 row)"))
          .headOption
        topRow match {
          case None => exhausted = true // every word is one symbol
          case Some(top) =>
            val (tl, tr, f) =
              (top.getString(0), top.getString(1), top.getLong(2))
            out += ((tl, tr, f))
            val hits = wn.filter(col("sym") === tl && col("nxt") === tr)
              .withColumn("brk",
                when(col("pos") - lag(col("pos"), 1).over(wWin) === 1, 0L)
                  .otherwise(1L))
              .withColumn("isl", sum(col("brk")).over(wWin.rowsBetween(
                Window.unboundedPreceding, Window.currentRow)))
            val sel = hits
              .withColumn("rn", row_number().over(Window
                .partitionBy(col("w"), col("isl")).orderBy(col("pos"))))
              .filter(col("rn") % 2 === 1)
              .select(col("w"), col("pos"))
            seqs = wn
              .join(sel.withColumn("sel", lit(true)), Seq("w", "pos"), "left")
              .join(sel.select(col("w"), (col("pos") + 1).as("pos"))
                .withColumn("consumed", lit(true)), Seq("w", "pos"), "left")
              .filter(col("consumed").isNull)
              .select(col("w"), col("cnt"),
                when(col("sel"), concat(col("sym"), col("nxt")))
                  .otherwise(col("sym")).as("sym"), col("pos"))
              .withColumn("pos", row_number().over(wWin))
        }
      }
    }
    out.result()
  }
}
