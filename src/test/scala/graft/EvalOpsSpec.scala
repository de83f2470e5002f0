package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics gates for the evaluation/curation wave: Bradley–Terry
  * arena ratings, class-centroid similarity, snapshot diff, soft
  * dedup downweighting, and BLEU-2 generation scoring. The oracle
  * pins cross-engine equality; these pin the PROPERTIES the oracles
  * alone can't state (skill-order recovery, clip activation,
  * weight-mass conservation, agreement with an independent in-test
  * reference computation). */
class EvalOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_bt_ratings recovers the planted skill ordering") {
    val rows = run("q_bt_ratings").orderBy(col("model")).collect()
    assert(rows.length == 5)
    val ratings = rows.map(_.getLong(2))
    assert(ratings.forall(_ > 0L), ratings.mkString(","))
    // the fixture biases wins toward the higher model index (A wins on
    // h < 5 + a − b), so the MM fit must rank 4 above 0 — and, with
    // corpus-sized verdict counts, strictly monotonically
    assert(ratings.last > ratings.head, ratings.mkString(","))
    assert(ratings.sameElements(ratings.sorted), ratings.mkString(","))
  }

  test("BradleyTerry driver fast path ≡ distributed MM rounds; " +
       "above-cap falls back") {
    import spark.implicits._
    // 6 models, asymmetric pair counts, one winless model (w = 1 from
    // smoothing)
    val n = Seq((0L, 1L, 9L), (0L, 2L, 4L), (1L, 2L, 7L), (2L, 3L, 3L),
      (3L, 4L, 5L), (4L, 5L, 2L)).toDF("i", "j", "nij")
    val w = Seq((0L, 8L), (1L, 6L), (2L, 5L), (3L, 4L), (4L, 3L),
      (5L, 1L)).toDF("m", "w")
    val viaDriver = graft.plans.BradleyTerry.mmRatings(n, w, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDist = graft.plans.BradleyTerry.mmRatingsDistributed(n, w, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === viaDist)
    // fast path fired: LocalRelation, no shuffle
    val plan = graft.plans.BradleyTerry.mmRatings(n, w, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // above the cap: distributed rounds, equal ratings
    val overCap = graft.plans.DriverFetch.withCaps(2, graft.plans.DriverFetch.MaxBytes)(
        graft.plans.BradleyTerry.mmRatings(n, w, 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(overCap === viaDist)
  }

  test("q_centroid_sim matches an independent reference computation") {
    val got = run("q_centroid_sim").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == 45) // 10 labels → C(10,2) pairs
    // independent reference: quantize → integer-sum → floor-centroid →
    // cosine, straight Scala over the collected table (500 rows)
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val cent = vecs.groupBy(_._1).map { case (l, vs) =>
      val n = vs.length
      val dims = vs.head._2.length
      l -> Array.tabulate(dims) { d =>
        val s = vs.map(v => math.floor(v._2(d).toDouble * 1e6).toLong).sum
        math.floor(s.toDouble / n.toDouble).toLong
      }
    }
    for {
      la <- cent.keys; lb <- cent.keys if la < lb
    } {
      val (a, b) = (cent(la), cent(lb))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = a.map(x => x * x).sum
      val nb = b.map(x => x * x).sum
      val want =
        math.floor(dot.toDouble * 1e6 / math.sqrt(na.toDouble * nb.toDouble)).toLong
      assert(got((la, lb)) == want, s"pair ($la,$lb)")
    }
  }

  test("q_snapshot_diff tallies match direct modular recounts") {
    val got = run("q_snapshot_diff").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = Tables.load(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(got("added") == ids.count(_ % 29 == 0))
    assert(got("removed") == ids.count(_ % 17 == 3))
    assert(got("changed") == ids.count(i => i % 13 == 5 && i % 17 != 3))
    assert(got("unchanged") ==
      ids.count(i => i % 17 != 3 && !(i % 13 == 5 && i % 17 != 3)))
    assert(got.values.sum == ids.length + ids.count(_ % 29 == 0))
  }

  test("q_soft_dedup conserves weight mass per cluster") {
    val rows = run("q_soft_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // singletons keep full weight
    assert(rows.filter(_._2 == 1L).forall(_._3 == 1000000L))
    // the planted copies (doc_id < 20 duplicated at +100000) cluster
    assert(rows.filter(r => r._1 < 20 || r._1 >= 100000).forall(_._2 >= 2L))
    // integer weights: size · (1e6 div size) never exceeds the unit
    assert(rows.forall(r => r._2 * r._3 <= 1000000L))
    assert(rows.forall(r => (r._2 + 1) * r._3 > 1000000L)) // tight floor
  }

  test("q_bleu_pairs precisions are clipped, bounded, and exercised") {
    val rows = run("q_bleu_pairs").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (refLen, candLen, n1, d1, n2, d2, q) =>
      assert(n1 <= d1 && n2 <= d2)
      assert(candLen == d1)
      assert(q >= 0L && q <= 1000000L)
      if (d1 > 0 && d2 > 0)
        assert(q == math.floor(math.sqrt(
          (n1 * n2).toDouble / (d1 * d2).toDouble) * 1e6).toLong)
      assert(refLen > 0)
    }
    // mutations/stutters must actually cost precision somewhere —
    // a corpus-wide perfect score would mean the edits never applied
    assert(rows.exists { case (_, _, n1, d1, _, _, _) => n1 < d1 })
    assert(rows.exists { case (_, _, _, _, n2, d2, _) => n2 < d2 })
  }

  test("q_retrieval_metrics invariants hold per query") {
    val rows = run("q_retrieval_metrics").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (rel10, fr, mrr, recall) =>
      assert(rel10 >= 0L && rel10 <= 10L)
      assert(recall >= 0L && recall <= 1000000L)
      if (fr == 0L) { assert(mrr == 0L && rel10 == 0L) }
      else {
        assert(fr >= 1L && fr <= 10L)
        assert(mrr == 1000000L / fr)
        assert(rel10 >= 1L)
      }
    }
    // with 10-class structure in the embeddings, at least one query
    // must actually find a same-label neighbor in its top 10
    assert(rows.exists(_._2 > 0L))
  }

  test("q_pca_power recovers the planted dominant direction") {
    val rows = run("q_pca_power").orderBy(col("dim")).collect()
    assert(rows.length == 64)
    val loadings = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the fixture shifts dim 0 of every even vector by +2.0 — after
    // centering that is variance ≈ 1 along dim 0 vs ~0.01 per natural
    // dim, so the top eigenvector must concentrate there; the L∞
    // normalization puts the dominant component at exactly +1e6 after
    // the sign fix (it IS the max-abs element the sign is taken from)
    assert(loadings(0) == 1000000L, s"dim0 = ${loadings(0)}")
    val offAxis = loadings.filter(_._1 != 0).values.map(math.abs).max
    assert(offAxis < 200000L, s"max off-axis loading $offAxis")
    // λ and the rescale factor are positive exact integers, constant
    // over the relation
    assert(rows.map(_.getLong(2)).distinct.length == 1)
    assert(rows.head.getLong(2) > 0L && rows.head.getLong(3) >= 1L)
  }

  test("q_mad_gate flags the planted tails and keeps exact invariants") {
    val rows = run("q_mad_gate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._2).sum == nDocs + 10) // corpus + 10 planted
    rows.foreach { case (src, n, med, mad, out) =>
      assert(n > 0 && med > 0 && mad >= 0 && out >= 0, src)
      assert(out < n, src) // a gate that flags everything is broken
    }
    // every padded 3000-token blob deviates ~2 950 from a ~50-token
    // median — far past any 3·MAD the natural corpus can produce, so
    // at least those 5 must flag somewhere
    assert(rows.map(_._5).sum >= 5L, rows.mkString(","))
  }

  test("q_bitext_mining recovers every planted translation, nothing else") {
    val got = run("q_bitext_mining").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val plantedSrc = Tables.load(spark, sf, "embeddings")
      .filter(col("label") === 0 && col("vec_id") % 10 === 0)
      .collect().map(_.getLong(0)).toSet
    // exact recall: each planted translation (x, x+990000) mines out
    assert(got.map(r => (r._1, r._2)).toSet ==
      plantedSrc.map(x => (x, x + 990000L)), got.mkString(","))
    got.foreach { case (_, _, cosQ, margin) =>
      assert(cosQ > 990000L, s"planted pair cos $cosQ") // near-identical
      assert(margin >= 1500000L) // stands out of its neighborhood
    }
  }

  test("q_mixture_waterfill saturates the planted sources and respects the budget") {
    val rows = run("q_mixture_waterfill").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(3), r.getLong(4)))
    val bySrc = rows.map(r => r._1 -> r).toMap
    // the planted tiny sources MUST saturate (their √n share of the
    // half-total budget exceeds availability by construction)
    assert(bySrc("tiny_a")._3 && bySrc("tiny_b")._3)
    rows.foreach { case (src, n, sat, take) =>
      if (sat) assert(take == n, src) // saturated = take everything
      else assert(take <= n, src)     // never oversample availability
      assert(take >= 0L, src)
    }
    // allocation never exceeds the budget (truncating divisions can
    // under-spend, never over-spend)
    val budget = rows.map(_._2).sum / 2
    assert(rows.map(_._4).sum <= budget, s"${rows.map(_._4).sum} > $budget")
    // surplus actually redistributed: each unsaturated source gets at
    // least its naive no-cap integer share (the real-valued share can
    // only grow when saturated sources leave the pool — each satisfied
    // b·w ≥ n·W — so only truncation can cost, and at most 1)
    val unsat = rows.filter(!_._3)
    val wAll = rows.map(r => math.sqrt(r._2.toDouble).toLong).sum
    unsat.foreach { case (src, n, _, take) =>
      val naiveFloor = budget * math.sqrt(n.toDouble).toLong / wAll
      assert(take >= naiveFloor - 1, s"$src take $take < $naiveFloor - 1")
    }
  }

  test("q_span_corruption masking is consistent and non-degenerate") {
    val rows = run("q_span_corruption").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(5)))
    assert(rows.nonEmpty)
    val emptyFp = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    rows.foreach { case (id, nTok, nSpans, nMasked, targetFp) =>
      assert(nMasked <= nTok, s"doc $id")
      // each masked span is 1-3 tokens, so spans ≤ masked ≤ 3·spans
      assert(nSpans <= nMasked && nMasked <= nSpans * 3, s"doc $id")
      if (nSpans == 0) assert(targetFp == emptyFp, s"doc $id")
      else assert(targetFp != emptyFp, s"doc $id")
    }
    // the 1/7 salted-hash rate must actually fire across the corpus
    val masked = rows.map(_._4).sum.toDouble / rows.map(_._2).sum
    assert(masked > 0.05 && masked < 0.30, s"mask rate $masked")
  }

  test("q_curriculum: phases are difficulty-monotone exact token thirds") {
    val rows = run("q_curriculum").collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("n_tokens")),
        r.getLong(r.fieldIndex("dk")),
        r.getLong(r.fieldIndex("cum_tokens_before")),
        r.getInt(r.fieldIndex("phase"))))
    assert(rows.nonEmpty)
    val total = rows.map(_._2).sum
    // offsets are the exclusive prefix sum of tokens in (dk, doc_id)
    // order — replay it sequentially and require exact agreement
    var cum = 0L
    rows.sortBy(t => (t._3, t._1)).foreach { case (id, n, _, off, ph) =>
      assert(off == cum, s"doc $id: offset $off != $cum")
      assert(ph == (off * 3 / total + 1).toInt, s"doc $id phase")
      cum += n
    }
    assert(cum == total)
    // all three phases populated; phase boundaries respect the
    // (dk, doc_id) order — an easier (dk, id) key can never land in a
    // LATER phase than a harder one
    assert(rows.map(_._5).toSet == Set(1, 2, 3))
    val phasesInOrder = rows.sortBy(t => (t._3, t._1)).map(_._5)
    assert(phasesInOrder.zip(phasesInOrder.tail).forall { case (a, b) => a <= b })
  }

  test("q_dp_histogram noise is bounded, keyed, and non-degenerate") {
    val noisy = run("q_dp_histogram").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = Tables.load(spark, sf, "documents")
      .groupBy(col("source"), col("lang")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(noisy.keySet == exact.keySet)
    val noises = noisy.map { case (k, v) => v - exact(k) }
    // the clipped geometric ladder can only emit [-12, 12]
    assert(noises.forall(n => n >= -12L && n <= 12L), noises.mkString(","))
    // ...and over ~100 cells must actually vary and take both signs
    assert(noises.toSet.size > 3, noises.mkString(","))
    assert(noises.exists(_ < 0) && noises.exists(_ > 0))
  }
}
