package graft

import org.scalatest.funsuite.AnyFunSuite

/** Greedy-merge semantics gates for the distributed BPE trainer —
  * the cases the corpus oracle can't isolate: overlapping-run
  * greediness, tie-breaking, early exhaustion, and the textbook
  * Sennrich dictionary. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def learn(dict: Seq[(String, Long)], rounds: Int) = {
    import spark.implicits._
    graft.text.Bpe.learnMerges(dict.toDF("w", "cnt"), "w", "cnt", rounds)
  }

  test("overlapping runs merge greedily left-to-right") {
    // "aaaa": pair (a,a) occurs at positions 1,2,3 — greedy takes 1-2
    // and 3-4 (freq counts ALL occurrences, 3); round 2 sees exactly
    // ["aa","aa"] → (aa,aa) once
    assert(learn(Seq(("aaaa", 1L)), 2) ==
      Seq(("a", "a", 3L), ("aa", "aa", 1L)))
    // "aaa": greedy takes 1-2 only → ["aa","a"] → (aa,a)
    assert(learn(Seq(("aaa", 1L)), 2) ==
      Seq(("a", "a", 2L), ("aa", "a", 1L)))
  }

  test("the Sennrich dictionary learns es, est, lo") {
    val dict = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    // round 1: (e,s) and (s,t) tie at 9 → pair-asc tie-break picks
    // (e,s); round 2: (es,t) 9; round 3: (l,o) 7
    assert(learn(dict, 3) ==
      Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L)))
  }

  test("merges stop early when words collapse to single symbols") {
    // "ab" ×1: one pair, then nothing to merge — 5 requested rounds
    // yield 1 merge, no crash on the empty pair relation
    assert(learn(Seq(("ab", 3L)), 5) == Seq(("a", "b", 3L)))
  }

  test("frequency is word-count weighted") {
    val got = learn(Seq(("ab", 10L), ("cb", 1L)), 1)
    assert(got == Seq(("a", "b", 10L)))
  }

  test("driver fast path ≡ distributed rounds, incl. code points and " +
       "UTF-8 tie order; above-cap falls back") {
    import spark.implicits._
    // mixed dictionary: overlapping runs, ties, multi-byte code points
    // (é = 2 UTF-8 bytes), a supplementary-plane symbol (𝄞 = one code
    // point, two UTF-16 chars — substring splits on code points), and
    // a U+E000-block char (UTF-16 orders it AFTER 𝄞, UTF-8 before)
    val dict = Seq(("aaaa", 2L), ("abab", 3L), ("éé", 4L),
      ("a𝄞b", 2L), ("ab", 2L), ("low", 5L),
      ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val df = dict.toDF("w", "cnt")
    val viaDriver = graft.text.Bpe.learnMerges(df, "w", "cnt", 6)
    val viaDist = graft.text.Bpe.learnMergesDistributed(df, "w", "cnt", 6)
    assert(viaDriver == viaDist)
    // above the cap the distributed rounds take over with equal merges
    assert(graft.plans.DriverFetch.withCaps(2, graft.plans.DriverFetch.MaxBytes)(
      graft.text.Bpe.learnMerges(df, "w", "cnt", 3)) ==
      graft.text.Bpe.learnMergesDistributed(df, "w", "cnt", 3))
  }

  test("an over-cap dictionary spread over many partitions falls back to the " +
       "distributed rounds") {
    import spark.implicits._
    // 32 partitions, each under the byte cap alone and all together over
    // it: the driver's running sum rejects the fetch
    val dict = (0 until 2000).map(i => (s"w${i % 7}x$i", (i % 5 + 1).toLong))
      .toDF("w", "cnt").repartition(32)
    val want = graft.text.Bpe.learnMergesDistributed(dict, "w", "cnt", 3)
    var got = Seq.empty[(String, String, Long)]
    val driverJobs = TestSpark.jobsDuring(spark) {
      graft.text.Bpe.learnMerges(dict, "w", "cnt", 3) }
    val capJobs = TestSpark.jobsDuring(spark) {
      got = graft.plans.DriverFetch.withCaps(graft.plans.DriverFetch.MaxRows, 4L << 10)(
        graft.text.Bpe.learnMerges(dict, "w", "cnt", 3)) }
    assert(got == want)
    // the distributed rounds ran after the rejected fetch
    assert(capJobs.size > driverJobs.size, s"$capJobs vs $driverJobs")
  }
}
