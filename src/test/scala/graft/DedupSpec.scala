package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Dedup, TextFunctions}

/** Dedup + text-analysis invariants the DuckDB oracle can't express:
  * MinHash-LSH recall on planted near-dups, SimHash distance behavior,
  * CJK language detection, Jaccard verifier sanity. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
    "in the warm sun and the birds sing in the tall green trees today"

  test("paragraph dedup: shared footer survives only in the earliest doc") {
    val docs = Seq(
      (1L, "alpha unique one. SHARED FOOTER. more alpha"),
      (2L, "beta unique two. SHARED FOOTER"),
      (3L, "gamma three. shared  footer. gamma end") // same normalized fp
    ).toDF("doc_id", "text")
    val out = graft.text.Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) === ((1L, "alpha unique one. SHARED FOOTER. more alpha", 3L, 3L)))
    assert(out(1) === ((2L, "beta unique two", 1L, 2L)))      // footer dropped
    assert(out(2) === ((3L, "gamma three. gamma end", 2L, 3L))) // case/ws-insensitive
  }

  test("seeded randomized paragraph dedup equivalence vs a Scala model") {
    val rnd = new scala.util.Random(7)
    val sentences = Vector("red fox", "blue sky", "tall tree", "old door",
      "warm sun", "wet rain", "red  fox", " blue sky ") // ws/dup variants
    val docs = (0 until 30).map { id =>
      (id.toLong, (0 until 1 + rnd.nextInt(4))
        .map(_ => sentences(rnd.nextInt(sentences.size))).mkString("."))
    }
    import spark.implicits._
    val out = graft.text.Dedup.paragraphDedup(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // reference model: global first occurrence by (doc, pos) of the
    // whitespace-normalized lowercase segment
    val norm = (s: String) => s.trim.toLowerCase.replaceAll("\\s+", " ")
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = docs.map { case (id, text) =>
      val segs = text.split("\\.", -1).filter(_.trim.nonEmpty)
      val kept = segs.filter(s => seen.add(norm(s)))
      id -> (kept.mkString("."), kept.length.toLong)
    }.toMap
    expected.foreach { case (id, (txt, n)) =>
      if (n > 0) assert(out(id) === ((txt, n)), s"doc $id")
      else assert(out(id)._2 === 0L, s"doc $id")
    }
  }

  test("incremental dedup with empty history equals plain exact dedup") {
    val batch = Seq((1L, "x"), (2L, "x "), (3L, "y")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val inc = graft.text.Dedup.incrementalDedup(batch, empty, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val plain = graft.text.Dedup.exactDedup(batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(inc === plain && (inc sameElements Array(1L, 3L)))
  }

  test("LSH finds every planted near-duplicate, estimates high Jaccard") {
    val docs = (0 until 40).map(i => (i.toLong, s"$base variant token$i"))
    val dups = (0 until 10).map(i => (1000L + i, s"$base variant token$i extra"))
    val exact = Seq((2000L, s"$base variant token0")) // identical to doc 0
    val df = (docs ++ dups ++ exact).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0 until 10).foreach { i =>
      assert(found.contains((i.toLong, 1000L + i)),
        s"planted pair $i missing from $found")
    }
    val plantedEst = pairs.filter(p => p._2 >= 1000L && p._2 < 2000L &&
      p._1 == p._2 - 1000L).map(_._3)
    // near-dups estimate high, and the family is NOT degenerate — a
    // monotone permutation family would put EVERY pair at exactly 1.0
    // (single pairs can legitimately saturate: true J≈58/59)
    assert(plantedEst.forall(_ > 0.7), plantedEst.toSeq)
    assert(plantedEst.exists(_ < 1.0), plantedEst.toSeq)
    // the truly identical pair IS exactly 1.0
    assert(pairs.find(p => p._1 == 0L && p._2 == 2000L).exists(_._3 == 1.0))
  }

  test("LSH plan contains no cartesian product") {
    // materialize=false: the default localCheckpoint collapses the
    // visible plan to a checkpoint scan, which would make these
    // assertions vacuously true forever
    val df = (0 until 20).map(i => (i.toLong, s"$base t$i")).toDF("doc_id", "text")
    val plan = Dedup.nearDuplicates(df, "doc_id", "text", materialize = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Join"), plan) // and the assertion sees real joins
  }

  test("connected components: transitive chains collapse, singletons survive") {
    // chain 1-2-3 (1 and 3 never share an edge), isolated pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L), comps)
  }

  test("connected components: a 30-link chain converges to one component") {
    // diameter 29 — worse than any real dup cluster; min-label needs a
    // round per hop, so this also guards the maxIter default. Runs the
    // DISTRIBUTED propagation directly: the driver fast path has no
    // rounds to guard.
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponentsPropagate(chain).collect()
    assert(comps.length == 30 && comps.forall(_.getLong(1) == 0L),
      comps.toSeq.take(5).toString)
  }

  test("driver union-find fast path: identical labels to both kernels, " +
       "falls back above the cap and on non-long ids") {
    val rnd = new scala.util.Random(20260818L)
    val pairs = ((1 to 70).map { _ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
    } ++ Seq((90L, 90L), (91L, 91L))).toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = Dedup.connectedComponentsPropagate(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStarDist = Dedup.connectedComponentsStarRounds(pairs, 50)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === viaProp)
    assert(viaDriver === viaStarDist)
    // the fast path actually fired: a LocalRelation plan, no shuffle
    val plan = Dedup.connectedComponents(pairs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // above the cap the distributed kernel takes over with equal labels
    val overCap = graft.plans.DriverFetch.withCaps(10, graft.plans.DriverFetch.MaxBytes)(
        Dedup.connectedComponents(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(overCap === viaDriver)
    val overCapPlan = graft.plans.DriverFetch.withCaps(10, graft.plans.DriverFetch.MaxBytes)(
        Dedup.connectedComponents(pairs))
      .queryExecution.executedPlan.toString
    assert(overCapPlan.contains("Exchange") || overCapPlan.contains("Scan"),
      overCapPlan)
    // non-long ids never take the driver path (union-find keys on Long)
    val strPairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    assert(Dedup.driverComponents(strPairs).isEmpty)
    val strComps = Dedup.connectedComponents(strPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(strComps == Map("a" -> "a", "b" -> "a", "c" -> "a"), strComps)
  }

  test("star components: 64-link chain converges in <= log2 rounds") {
    // diameter 63: min-label propagation needs ~63 rounds here; the
    // large-star/small-star contraction must need at most log2(64) = 6
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponentsStarRounds(chain, maxIter = 50)
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length == 64 && comps.forall(_._2 == 0L),
      comps.sortBy(_._1).take(8).toSeq.toString)
    assert(rounds <= 6, s"took $rounds rounds")
  }

  test("star components agree with min-label propagation on a random graph") {
    val rnd = new scala.util.Random(20240813L)
    // ~80 nodes, 70 random edges + a few self-pairs → mixed component
    // sizes, singletons, duplicate edges
    val pairs = ((1 to 70).map { _ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
    } ++ Seq((90L, 90L), (91L, 91L))).toDF("id_a", "id_b")
    val expected = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("components under a reliable checkpoint dir: identical labels, files on disk") {
    // The cluster idiom: `graft.checkpoint.reliable=true` (session conf)
    // + a configured checkpoint dir route every component round through
    // a RELIABLE .checkpoint() — files survive executor loss — instead
    // of executor-pinned localCheckpoint blocks. Labels must be
    // bit-identical either way; the checkpoint dir must actually be
    // used (otherwise the flag silently fell back to local mode).
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val rel = spark.newSession()
    rel.conf.set("graft.checkpoint.reliable", "true")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 10L)) ++
      (20L until 40L).map(i => (i, i + 1))
    val relPairs = rel.createDataFrame(edges).toDF("id_a", "id_b")
    val defPairs = edges.toDF("id_a", "id_b") // default session: local path
    // the distributed rounds directly: the reliable-checkpoint machinery
    // under test lives there; the driver fast path would bypass it (and
    // write no checkpoint files)
    val viaReliable = Dedup.connectedComponentsPropagate(relPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = Dedup.connectedComponentsPropagate(defPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaReliable === viaLocal)
    val starReliable = Dedup.connectedComponentsStarRounds(relPairs, 50)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starReliable === viaLocal)
    // reliable rounds wrote real checkpoint files
    val wrote = java.nio.file.Files.walk(dir).filter(_.toFile.isFile).count()
    assert(wrote > 0, s"no checkpoint files under $dir")
  }

  test("nearDupSurvivors keeps one doc per near-dup cluster") {
    // doc 0's copies 100 and 200 form a transitive cluster through 100
    // (0~100 and 100~200 overlap strongly; dissimilar docs untouched)
    val df = Seq(
      (0L, s"$base alpha"),
      (100L, s"$base alpha extra"),
      (200L, s"$base alpha extra more"),
      (7L, "completely different text about other things entirely " +
        "with none of the shared words present at all here")
    ).toDF("doc_id", "text")
    val survivors = Dedup.nearDupSurvivors(df, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 7L), survivors)
    val comps = Dedup.nearDupComponents(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(100L) == 0L && comps(200L) == 0L && comps(7L) == 7L, comps)
  }

  test("containmentPairs catches small-in-large inclusion that Jaccard misses") {
    // doc 1 (12 tokens) is wholly contained in doc 2 (30 tokens):
    // containment = 1.0, Jaccard ≈ 10/28 ≈ 0.36
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val big = small + " one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    val df = Seq(
      (1L, small), (2L, big),
      (9L, "entirely unrelated content about something else altogether " +
        "with many distinct words appearing only here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)), pairs.toSeq)
    // the Jaccard path at the same bar rightly reports nothing — the
    // two operators answer different questions
    assert(Dedup.verifiedNearDuplicates(df, "doc_id", "text", threshold = 0.9)
      .count() === 0)
  }

  test("seedGramContainmentPairs finds inclusion at extreme asymmetry") {
    // doc 1 (120 tokens) buried in doc 2 (~1320 tokens): containment
    // 1.0, Jaccard ≈ 0.09 — far below where banded LSH recall holds.
    // 118 grams → ~15 expected seeds at 1/8 sampling, comfortably
    // above minSeeds under either hash.
    val small = (1 to 120).map(i => s"w$i").mkString(" ")
    val giant = small + " " + (1 to 1200).map(i => s"pad$i").mkString(" ")
    val df = Seq(
      (1L, small), (2L, giant),
      (9L, (1 to 50).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.seedGramContainmentPairs(df, "doc_id", "text",
      threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)), pairs.toSeq)
    // the portable-hash path selects different seeds but must reach
    // the identical verdict (selection is content-deterministic under
    // EITHER hash; precision comes from the exact verify)
    val portable = Dedup.seedGramContainmentPairs(df, "doc_id", "text",
      threshold = 0.9, gramFn = Some(Dedup.portableGramHashes(_, 3)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(portable.toSeq === Seq((1L, 2L, 1.0)), portable.toSeq)
  }

  test("seedGram stop-gram cap keeps boilerplate from fanning out") {
    // 30 docs share one boilerplate sentence and nothing else; with
    // maxDf below 30 every shared seed is capped away — no candidate
    // survives, so no quadratic 30×29/2 pair blow-up reaches verify
    val boiler = (1 to 48).map(i => s"legal$i").mkString(" ")
    val df = (0 until 30).map(i =>
      (i.toLong, s"$boiler unique$i only$i here$i")).toDF("doc_id", "text")
    val capped = Dedup.seedGramContainmentPairs(df, "doc_id", "text",
      threshold = 0.5, maxDf = 10)
    assert(capped.count() === 0)
    // and with the cap relaxed the shared-core pairs ARE reported —
    // the cap is the only thing standing between the two outcomes
    val uncapped = Dedup.seedGramContainmentPairs(df, "doc_id", "text",
      threshold = 0.5, maxDf = 1000)
    assert(uncapped.count() > 0)
  }

  test("repeated-span removal excises corpus-wide repeats, keeps unique boundary grams, catches self-repeats") {
    val boiler = "one two three four five six seven eight" // 8 tokens
    val df = Seq(
      (1L, s"alpha beta gamma delta epsilon $boiler"),
      (2L, s"zeta eta theta iota kappa $boiler"),
      (3L, "unique text entirely here with nothing repeated anywhere at all"),
      // the same 5-token phrase twice WITHIN one doc — ExactSubstr
      // removes every occurrence, both of them
      (4L, "p q r s t mid1 mid2 p q r s t")
    ).toDF("doc_id", "text")
    val out = graft.text.SpanDedup
      .removeRepeatedSpans(df, "doc_id", "text", w = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[String]("deduped_text"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("n_removed")))
    // docs 1/2: exactly the 8 boiler tokens cut as ONE merged span —
    // the grams bridging each unique prefix into the boiler occur once
    // corpus-wide and must not extend the cut
    assert(out(0) === (("alpha beta gamma delta epsilon", 1L, 8L)), out(0))
    assert(out(1) === (("zeta eta theta iota kappa", 1L, 8L)), out(1))
    // doc 3: untouched (whitespace-normalized rebuild)
    assert(out(2) === (("unique text entirely here with nothing repeated anywhere at all", 0L, 0L)), out(2))
    // doc 4: BOTH occurrences of the internal repeat cut, two spans
    assert(out(3) === (("mid1 mid2", 2L, 10L)), out(3))
  }

  test("cross-corpus screen drops ref near-dups, keeps novel docs, never collapses new-vs-new") {
    val base = "the quick brown fox jumps over the lazy dog again today friends"
    val ref = Seq((1L, base),
      (2L, "an entirely different reference document about something else entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " extra"),      // near-dup of ref 1 → dropped
      (11L, "novel words nowhere else with completely fresh vocabulary here"),
      (12L, "novel words nowhere else with completely fresh vocabulary here too"))
      .toDF("doc_id", "text")      // 11 and 12 are near-dups of EACH
                                   // OTHER but of nothing in ref: the
                                   // cross screen must keep BOTH
    val kept = graft.text.Dedup.crossNearDupSurvivors(
        batch, ref, "doc_id", "text", threshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(11L, 12L)), kept.toSeq)
  }

  test("matching-span removal excises only the benchmark span; surrounding text survives") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val df = Seq(
      (1L, "intro words here then alpha beta gamma delta epsilon and the tail keeps going"),
      (2L, "totally clean document with no benchmark content at all")
    ).toDF("doc_id", "text")
    val out = graft.text.SpanDedup
      .removeMatchingSpans(df, "doc_id", "text", eval, "doc_id", "text", w = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[String]("deduped_text"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("n_removed")))
    // only the exact benchmark 5-gram is cut — the grams bridging the
    // doc's own words into the phrase occur nowhere in the eval set
    assert(out(0) === (("intro words here then and the tail keeps going", 1L, 5L)), out(0))
    assert(out(1) === (("totally clean document with no benchmark content at all", 0L, 0L)), out(1))
  }

  test("nearDupBestSurvivors keeps the best-scoring doc, not the min id") {
    // same cluster fixture as above, but an injected score makes the
    // HIGHEST id the cluster's best — the keeper must follow the score
    val df = Seq(
      (0L, s"$base alpha"),
      (100L, s"$base alpha extra"),
      (200L, s"$base alpha extra more"),
      (7L, "completely different text about other things entirely " +
        "with none of the shared words present at all here")
    ).toDF("doc_id", "text")
    val survivors = Dedup.nearDupBestSurvivors(df, "doc_id", "text",
      score = col("doc_id").cast("double"), threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(200L, 7L), survivors)
    // equal scores fall back to the min id — nearDupSurvivors semantics
    val tied = Dedup.nearDupBestSurvivors(df, "doc_id", "text",
      score = lit(1.0), threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tied == Set(0L, 7L), tied)
  }

  test("exact dedup keeps the smallest id per normalized fingerprint") {
    val df = Seq(
      (1L, "Hello  world"), (2L, "  hello world "), (3L, "different"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("SimHash: identical text → distance 0; near text → small; disjoint → large") {
    val df = Seq(
      (1L, base), (2L, base), (3L, s"$base extra word"),
      (4L, "completely unrelated words about spark catalyst tungsten codegen shuffles"))
      .toDF("doc_id", "text")
    val sims = Dedup.withSimhash(df, "doc_id", "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(2L)) == 0)
    assert(ham(sims(1L), sims(3L)) <= 12)
    assert(ham(sims(1L), sims(4L)) > 12)
  }

  test("ngramJaccard: identical 1.0, disjoint 0.0, near-dup high") {
    val df = Seq((base, base, s"$base extra", "alpha beta gamma delta epsilon"))
      .toDF("a", "b", "c", "d")
    val r = df.select(
      Dedup.ngramJaccard(col("a"), col("b")).as("same"),
      Dedup.ngramJaccard(col("a"), col("c")).as("near"),
      Dedup.ngramJaccard(col("a"), col("d")).as("far")).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) > 0.8)
    assert(r.getDouble(2) == 0.0)
  }

  test("langId detects CJK and the stopword languages") {
    val df = Seq(
      ("t1", "the cat and the dog of the house is in town"),
      ("t2", "el perro de la casa que los gatos las aman"),
      ("t3", "der hund und die katze das ist nicht gut"),
      ("t4", "le chien et les chats des maisons est grand"),
      ("t5", "你好世界 some ascii too"),
      ("t6", "zzz qqq xxx"))
      .toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .as[(String, String)].collect().toMap
    assert(got == Map("t1" -> "en", "t2" -> "es", "t3" -> "de",
      "t4" -> "fr", "t5" -> "zh", "t6" -> "und"))
  }

  test("token counts handle empty and whitespace-only text") {
    val df = Seq(("", " "), ("a b  c", "x")).toDF("a", "b")
    val r = df.select(TextFunctions.tokenCount(col("a")).as("na"),
      TextFunctions.tokenCount(col("b")).as("nb")).collect()
    assert(r(1).getInt(0) == 3)
  }

  test("bloom pre-screen: no false negatives, fpp-bounded maybe-set, exact-equal result") {
    import graft.text.{Dedup, TextFunctions}
    val hist = spark.range(2000)
      .select(col("id").as("doc_id"), concat(lit("hist doc "), col("id")).as("text"))
    val batch = spark.range(5000, 9000)
      .select(col("id").as("doc_id"), concat(lit("new doc "), col("id")).as("text"))
      .unionByName(hist.filter(col("doc_id") < 100)
        .select((col("doc_id") + 50000).as("doc_id"), col("text")))
    // bit-identical to the exact form: same survivors, same ids
    val exact = Dedup.incrementalDedup(batch, hist, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    val bloom = Dedup.incrementalDedupBloom(batch, hist, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(bloom.sameElements(exact))
    assert(exact.length == 4000) // replanted hist copies all dropped
    // the expression itself: every inserted key probes true (no false
    // negatives — the property the fast path's correctness rests on),
    // and fresh keys probe true at ~fpp only
    val n = 2000L
    val bf = hist.select(TextFunctions.fingerprint(col("text")).as("fp"))
      .stat.bloomFilter("fp", n, 0.01)
    val bytes = { val o = new java.io.ByteArrayOutputStream(); bf.writeTo(o); o.toByteArray }
    val probe = call_function("graft_bloom_contains",
      lit(bytes), TextFunctions.fingerprint(col("text")))
    assert(hist.filter(!probe).count() == 0)
    val falsePos = batch.filter(col("doc_id") < 50000).filter(probe).count()
    // 4000 fresh keys × fpp 0.01 → expected ~40; bound at 3× so only a
    // genuine fpp-contract break trips it, not a benign shift in the
    // fixture, fingerprint, or Bloom hash seed across Spark upgrades
    assert(falsePos <= 120, s"4000 fresh keys at fpp=0.01 probed $falsePos positives")
    // null value probes null, not an exception
    val r = spark.range(1)
      .select(call_function("graft_bloom_contains", lit(bytes),
        lit(null).cast("string")).as("p")).collect()
    assert(r(0).isNullAt(0))
  }

  test("gram hashing is linear in document length (lambda binding regression)") {
    // Round-8 regression gate: the gram-hash expressions once embedded
    // the tokenize UNBOUND inside their higher-order-function lambdas,
    // re-evaluating it per gram element — O(w · grams · tokens) per
    // document, quadratic in length. 500 docs × 2000 tokens is ~1M
    // gram hashes: linear cost is a couple of seconds; the quadratic
    // form re-tokenized a 2000-token string per gram (~2 × 10^9 token
    // evals) and ran for minutes. The generous wall bound only trips
    // on a complexity regression, not on VM noise.
    val doc = (1 to 2000).map(i => s"tok${i % 997}").mkString(" ")
    val docs = spark.range(500).select(col("id"), lit(doc).as("text"))
    val t0 = System.nanoTime()
    val total = docs
      .select(size(graft.text.Dedup.portableGramHashes(col("text"), 3)).as("n"))
      .agg(sum(col("n"))).as[Long].head()
    val sec = (System.nanoTime() - t0) / 1e9
    // tokens cycle mod 997, so each doc's DISTINCT gram set is ~997
    assert(total > 500L * 990, s"unexpected gram count $total")
    assert(sec < 60.0, f"portable gram pass took $sec%.1f s — quadratic re-evaluation is back")
  }

  test("prefix join: exact threshold boundary, lossless vs brute force") {
    // gram sets: A {abc,bcd,cde}, B {abc,bcd,cdf} → J = 2/4 = 0.5
    // exactly (must KEEP: the contract is ≥); C shares 1 of 3 with A
    // → J = 1/5 < 0.5 (must drop); D has < 3 tokens (empty gram set,
    // silently excluded); E is an exact copy of A (J = 1).
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f"),
      (3L, "a b c x y"),
      (4L, "a b"),
      (5L, "a b c d e")
    ).toDF("doc_id", "text")
    val got = graft.text.Dedup.prefixJaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.keySet == Set((1L, 2L), (1L, 5L), (2L, 5L)),
      got.keySet.toString)
    assert(got((1L, 2L)) == 500000L) // exactly at the threshold
    assert(got((1L, 5L)) == 1000000L)
    // brute force over the same gram sets confirms nothing else ≥ 0.5
    def grams(t: String) = t.split("\\s+").sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet
    val all = Seq(1L -> "a b c d e", 2L -> "a b c d f", 3L -> "a b c x y",
      5L -> "a b c d e")
    val brute = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      ga = grams(ta); gb = grams(tb)
      inter = (ga & gb).size; uni = (ga | gb).size
      if inter * 2 >= uni
    } yield (ia, ib) -> inter.toLong * 1000000L / uni).toMap
    assert(got == brute, s"$got vs $brute")
  }

  test("prefix join: df-ordered mode is bit-equal to hash-ordered on real documents") {
    // losslessness holds under ANY shared total order, so the two
    // prefix orders are pure cost knobs — pin that the answers cannot
    // drift, on the real corpus plus planted near-copies (the
    // q_setjoin_prefix fixture shape) AND on the boundary fixture
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 10).select(
        (col("doc_id") + 950000).as("doc_id"),
        concat(col("text"), lit(" sjx sjy sjz")).as("text")))
    val hashMode = graft.text.Dedup.prefixJaccardPairs(
      planted, "doc_id", "text", thresholdMicro = 800000L)
    val dfMode = graft.text.Dedup.prefixJaccardPairs(
      planted, "doc_id", "text", thresholdMicro = 800000L, dfOrdered = true)
    assert(hashMode.exceptAll(dfMode).isEmpty && dfMode.exceptAll(hashMode).isEmpty)
    val boundary = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "a b c x y"),
      (4L, "a b"), (5L, "a b c d e")).toDF("doc_id", "text")
    val gotDf = graft.text.Dedup.prefixJaccardPairs(
      boundary, "doc_id", "text", dfOrdered = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotDf.keySet == Set((1L, 2L), (1L, 5L), (2L, 5L)), gotDf.keySet)
    assert(gotDf((1L, 2L)) == 500000L)
  }
}
