package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.{CorpusStats, Decontaminate}

/** Corpus-curation operators over `documents`: benchmark
  * decontamination, per-source occurrence caps, boilerplate-phrase
  * ratios, vocabulary coverage, repetition signals and token entropy —
  * the filter battery a training-data pipeline runs between ingest and
  * packing. Every entry is recomputed end-to-end by its DuckDB oracle.
  */
object CorpusQueries {

  /** Five-token phrase planted into both sides of the decontamination
    * entry so the overlap path provably fires (the natural corpus has
    * almost no cross-document 5-grams). */
  private val evalPhrase = "alpha beta gamma delta epsilon"

  /** Decontamination oracle CTEs shared by q_decontam and
    * q_contam_ratio — one definition of the corpus/eval fixture and
    * the distinct-5-gram sets (`cgrams` per corpus doc, `eg` for the
    * eval side), so the two entries can never drift onto different
    * gram semantics. */
  private val decontamCtes: String =
    s"""corpus AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id < 10
       |      THEN concat(coalesce(text, ''), ' $evalPhrase')
       |      ELSE text END AS text
       |  FROM documents WHERE doc_id % 97 <> 0),
       |ev AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
       |  UNION ALL SELECT 900000, '$evalPhrase zeta'),
       |ctoks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM corpus),
       |cgrams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))))
       |    AS gram
       |  FROM ctoks),
       |etoks AS (
       |  SELECT string_split_regex(trim(text), '\\s+') AS t FROM ev),
       |eg AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest(list_transform(range(1, len(t) - 3),
       |      i -> array_to_string(t[i:i+4], ' '))) AS gram
       |    FROM etoks))""".stripMargin

  /** The Spark side of the decontamination fixture: (corpus with the
    * phrase planted into docs 1..9, eval slice + one synthetic eval
    * doc). Mirrors [[decontamCtes]] exactly. */
  private def decontamFixture(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") < 10,
          concat(coalesce(col("text"), lit("")), lit(" " + evalPhrase)))
          .otherwise(col("text")))
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
      .unionByName(s.range(1).select(
        lit(900000L).as("doc_id"), lit(evalPhrase + " zeta").as("text")))
    (corpus, evalSet)
  }

  /** DuckDB re-training of [[graft.text.Classifier]]: the oracle
    * rebuilds the hashed bucket counts, the Laplace-smoothed NB weight
    * table, the class log-prior, and every per-doc margin — all BIGINT
    * sums over once-floored micro-unit weights, so the two engines'
    * models agree bit for bit. `finalSelect` consumes the margin
    * relation `mf(doc_id, y, mq)` (micro-units). */
  /** The planted-fixture corpus CTE shared by every binary-classifier
    * oracle (tokenized, labeled, marker planted into the positive
    * class) — one definition, so the entries can never drift onto
    * different fixtures. */
  private lazy val classifierCbaseSql: String =
    s"""cbase AS (
       |  SELECT doc_id,
       |    CASE WHEN $classifierLabelSql THEN 1 ELSE 0 END AS y,
       |    list_filter(string_split_regex(trim(lower(
       |      CASE WHEN $classifierLabelSql
       |        THEN text || ' $classifierMarker' ELSE text END)), '\\s+'),
       |      t -> length(t) > 0) AS t
       |  FROM documents)""".stripMargin

  private def classifierOracle(buckets: Int, finalSelect: String): String = {
    val b = buckets.toDouble
    s"""WITH $classifierCbaseSql,
       |dc AS (
       |  SELECT doc_id, y, j, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (
       |    SELECT doc_id, y,
       |      ('0x' || substr(md5(tok), 1, 15))::BIGINT % $buckets AS j
       |    FROM (SELECT doc_id, y, unnest(t) AS tok
       |          FROM cbase WHERE len(t) > 0))
       |  GROUP BY doc_id, y, j),
       |cc AS (SELECT y, j, CAST(sum(cnt) AS BIGINT) AS c FROM dc GROUP BY y, j),
       |bb AS (
       |  SELECT j,
       |    CAST(sum(CASE WHEN y = 1 THEN c END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN y = 0 THEN c END) AS BIGINT) AS c0
       |  FROM cc GROUP BY j),
       |tt AS (
       |  SELECT CAST(sum(CASE WHEN y = 1 THEN c END) AS BIGINT) AS t1,
       |         CAST(sum(CASE WHEN y = 0 THEN c END) AS BIGINT) AS t0
       |  FROM cc),
       |w AS (
       |  SELECT j,
       |    CAST(floor((ln((CAST(coalesce(c1, 0) AS DOUBLE) + 1.0)
       |        / (CAST(t1 AS DOUBLE) + $b))
       |      - ln((CAST(coalesce(c0, 0) AS DOUBLE) + 1.0)
       |        / (CAST(t0 AS DOUBLE) + $b))) * 1000000.0) AS BIGINT) AS wq
       |  FROM bb, tt),
       |pr AS (
       |  SELECT CAST(floor(ln(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS bq
       |  FROM (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
       |        FROM (SELECT DISTINCT doc_id, y FROM dc))),
       |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dc),
       |mf AS (
       |  SELECT d.doc_id, d.y, CAST(pr.bq + sum(d.cnt * w.wq) AS BIGINT) AS mq,
       |    CAST(sum(d.cnt) AS BIGINT) AS n_tok
       |  FROM dc d JOIN w USING (j), pr
       |  GROUP BY d.doc_id, d.y, pr.bq)
       |$finalSelect""".stripMargin
  }

  /** Label shared by the classifier entries: sources 0/1 stand in for
    * the curated reference set (same predicate in Spark and SQL). The
    * fixture plants marker tokens into the positive class — the
    * synthetic sources share one vocabulary, so without a planted
    * lexical signal there is nothing for ANY classifier to find (the
    * q_span_dedup/q_decontam planting stance); three occurrences put
    * the planted margin contribution well above the per-doc
    * token-mix noise. */
  private val classifierLabelSql = "source IN ('src0', 'src1')"
  /** Top-512 vocabulary (id = rank by count desc, token asc) WITHOUT
    * ranking the whole type relation through one window task: the
    * 512th-largest frequency comes from the k-bounded graft_topk
    * aggregate (map-side buffers cap at 512 rows per partition), and
    * only types AT or ABOVE that cutoff enter the rank window — 512 +
    * the cutoff's tie class, not the vocabulary. (If the cutoff falls
    * in the hapax tail — k approaching the vocabulary size — the tie
    * class degenerates to the tail and a global rank is inherent to
    * the ask.) Ranks are unchanged vs a full-relation window: every
    * excluded type had ≥ 512 types strictly above its count. Shared by
    * q_token_ids and q_train_sequences so the two can't drift. */
  private def top512Vocab(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cutoff = counts
      .agg(call_function("graft_topk", col("c"), col("c"), lit(512)).as("t"))
      // empty corpus -> empty top-k array: element_at(t, 0) would be a
      // runtime error; an open cutoff keeps the (empty) relation flowing
      .select(when(size(col("t")) > 0,
        element_at(col("t"), size(col("t"))).getField("score"))
        .otherwise(lit(Long.MinValue)).as("cut"))
    counts.crossJoin(broadcast(cutoff))
      .filter(col("c") >= col("cut"))
      .withColumn("id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok"))))
      .filter(col("id") <= 512)
      .select(col("tok"), col("id"))
  }

  private def classifierLabel = col("source").isin("src0", "src1")
  private val classifierMarker = "qualmarker qualmarker qualmarker"

  /** The planted-corpus Spark side, mirroring the oracle's cbase. */
  private def classifierFixture(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(classifierLabel,
          concat(col("text"), lit(" " + classifierMarker)))
          .otherwise(col("text")).as("text"))

  /** DuckDB twin of [[graft.text.Drift.contribNano]] — the quantized
    * per-token Jensen-Shannon contribution, generated from count /
    * total column names. ONE definition feeds both drift oracles
    * (q_dist_drift, q_stream_drift) so the replayed arithmetic can
    * never diverge from itself or (by the shared-shape convention)
    * from the Spark column expression. */
  private def jsContribNanoSql(ca: String, cb: String,
                               na: String, nb: String): String = {
    val pa = s"(CAST($ca AS DOUBLE) / CAST($na AS DOUBLE))"
    val pb = s"(CAST($cb AS DOUBLE) / CAST($nb AS DOUBLE))"
    val m = s"(($pa + $pb) / 2.0)"
    s"""CAST(floor((
       |      0.5 * (CASE WHEN $ca > 0
       |               THEN $pa * ln($pa / $m) ELSE 0.0 END)
       |      + 0.5 * (CASE WHEN $cb > 0
       |                 THEN $pb * ln($pb / $m) ELSE 0.0 END)
       |    ) * 1e9) AS BIGINT)""".stripMargin
  }

  val defs: Seq[(String, Q)] = Seq(

    // Benchmark decontamination: training docs sharing any 5-gram with
    // the eval slice (doc_id % 97 == 0, plus one synthetic eval doc
    // carrying the planted phrase). Docs 1..9 get the phrase appended →
    // provably contaminated; every remaining hit is a natural 5-gram
    // collision the oracle recomputes identically.
    "q_decontam" -> Q(
      (s, dir) => {
        val (corpus, evalSet) = decontamFixture(s, dir)
        Decontaminate.overlap(corpus, evalSet, "doc_id", "text", n = 5)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $decontamCtes,
              |hits AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
              |  FROM cgrams JOIN eg USING (gram) GROUP BY 1)
              |SELECT c.doc_id,
              |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
              |  CAST(CASE WHEN coalesce(h.n_shared, 0) > 0 THEN 1 ELSE 0 END
              |    AS INT) AS contaminated
              |FROM corpus c LEFT JOIN hits h USING (doc_id)
              |ORDER BY c.doc_id""".stripMargin)),

    // Span-level decontamination: q_decontam flags and q_contam_ratio
    // measures, but both operate at document granularity — this EXCISES
    // the contaminated spans themselves (SpanDedup.removeMatchingSpans
    // against the eval gram set) and keeps the rest of the document in
    // the training mix, the surgical form a curation pipeline prefers
    // when a doc's only sin is quoting one benchmark sentence. Same
    // shared fixture as the other two entries; docs 1..9 lose exactly
    // the planted 5-token phrase (grams bridging their own text into
    // the phrase occur nowhere in the eval set and must survive). The
    // oracle replays positional gram matching, the island merge, and
    // the token excision.
    "q_decontam_spans" -> Q(
      (s, dir) => {
        val (corpus, evalSet) = decontamFixture(s, dir)
        graft.text.SpanDedup.removeMatchingSpans(corpus, "doc_id", "text",
            evalSet, "doc_id", "text", w = 5)
          .select(col("doc_id"), md5(col("deduped_text")).as("text_fp"),
            col("n_spans"), col("n_removed"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $decontamCtes,
              |pgrams AS (
              |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
              |    array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS gram
              |  FROM ctoks, unnest(range(1, len(t) - 3)) AS u(i)
              |  WHERE len(t) >= 5),
              |marked AS (
              |  SELECT p.doc_id, p.pos FROM pgrams p JOIN eg USING (gram)),
              |brk AS (
              |  SELECT doc_id, pos,
              |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= 5
              |         THEN 1 ELSE 0 END AS b
              |  FROM marked),
              |isl AS (
              |  SELECT doc_id, pos,
              |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos
              |                 ROWS UNBOUNDED PRECEDING) AS island
              |  FROM brk),
              |spans AS (
              |  SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e
              |  FROM isl GROUP BY doc_id, island),
              |tokpos AS (
              |  SELECT doc_id, CAST(i AS BIGINT) AS i, t[CAST(i AS INT)] AS tok
              |  FROM ctoks, unnest(range(1, len(t) + 1)) AS u(i)),
              |kept AS (
              |  SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
              |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
              |    WHERE sp.doc_id = tp.doc_id AND tp.i >= sp.s AND tp.i < sp.e)),
              |agg AS (
              |  SELECT doc_id, array_to_string(list(tok ORDER BY i), ' ')
              |    AS deduped_text
              |  FROM kept GROUP BY doc_id),
              |cnt AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
              |    CAST(sum(e - s) AS BIGINT) AS n_removed
              |  FROM spans GROUP BY doc_id)
              |SELECT c.doc_id, md5(coalesce(a.deduped_text, '')) AS text_fp,
              |  coalesce(cn.n_spans, 0) AS n_spans,
              |  coalesce(cn.n_removed, 0) AS n_removed
              |FROM corpus c
              |LEFT JOIN agg a ON a.doc_id = c.doc_id
              |LEFT JOIN cnt cn ON cn.doc_id = c.doc_id
              |ORDER BY c.doc_id""".stripMargin),
      // superseded-generation bench prune (r10): the family
      // bench gate is q_span_dedup; this entry stays
      // oracle-gated every round but is no longer timed
      // timed family gate: q_span_dedup (oracle still gates this entry)
      bench = false),

    // Contamination SEVERITY: the binary flag above quarantines; this
    // reports what fraction of each document's distinct 5-grams is
    // benchmark text — the number a curation pipeline thresholds ("5%
    // benchmark overlap" vs one incidental phrase) and auditors read.
    // Same fixture, same broadcast-probe shape, severity from a counted
    // left join instead of a semi join.
    "q_contam_ratio" -> Q(
      (s, dir) => {
        val (corpus, evalSet) = decontamFixture(s, dir)
        Decontaminate.overlapRatio(corpus, evalSet, "doc_id", "text", n = 5)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $decontamCtes,
              |per AS (
              |  SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              |    CAST(sum(CASE WHEN eg.gram IS NOT NULL THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_shared
              |  FROM cgrams cg LEFT JOIN eg ON eg.gram = cg.gram
              |  GROUP BY 1)
              |SELECT c.doc_id,
              |  CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
              |  CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
              |  round(coalesce(p.n_shared, 0) /
              |    CAST(greatest(coalesce(p.n_grams, 0), 1) AS DOUBLE), 4)
              |    AS contam_ratio
              |FROM corpus c LEFT JOIN per p USING (doc_id)
              |ORDER BY c.doc_id""".stripMargin)),

    // Per-source occurrence cap (the per-domain cap of a web corpus):
    // first 10 docs per source survive, everything ranked + flagged.
    "q_source_cap" -> Q(
      (s, dir) => graft.plans.Sampling.capPerStratum(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", cap = 10)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source, rk,
             |  CAST(CASE WHEN rk <= 10 THEN 1 ELSE 0 END AS INT) AS kept
             |FROM (
             |  SELECT doc_id, source,
             |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
             |      AS INT) AS rk
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Exact heavy-hitter tokens via sketch-then-verify: pass 1 is a
    // Misra-Gries sketch + total count in ONE scan (shuffle is
    // capacity x partitions, vocabulary-independent); pass 2 exact-
    // counts only the <= capacity candidates and filters on the true
    // count. Tokens above the bar are GUARANTEED candidates, so the
    // output is exact — the oracle replays it as plain GROUP BY ...
    // HAVING, and any sketch bug that loses a heavy token or leaks a
    // light one turns the row red.
    "q_heavy_tokens" -> Q(
      (s, dir) => CorpusStats.heavyTokens(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", capacity = 64, minFreq = 0.033)
        .orderBy(col("tok")),
      Some("""WITH toks AS (
             |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |  FROM documents),
             |t2 AS (SELECT tok FROM toks WHERE length(tok) > 0),
             |tot AS (SELECT count(*) AS total FROM t2)
             |SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
             |  round(count(*) / CAST((SELECT total FROM tot) AS DOUBLE), 6)
             |    AS freq
             |FROM t2 GROUP BY tok
             |HAVING count(*) >= ceil((SELECT total FROM tot) * 0.033)
             |ORDER BY tok""".stripMargin)),

    // Count-min sketch point-frequency estimation (CorpusStats
    // .countMinEstimates): 4 salted-md5 hash rows × 128 counters —
    // fixed memory no matter the key universe — over the corpus's word
    // 2-gram stream (916 distinct phrases at sf0.01, so each hash row
    // genuinely collides and the min-over-rows has work to do; the
    // 31-token unigram vocabulary would make the sketch vacuous).
    // Served for a deterministic 1/7 key probe sample with the exact
    // count as the error twin. The sketch build shuffles ≤ depth·width
    // rows per partition (key-set-independent, the Misra-Gries scale
    // argument); estimates are min-over-rows of broadcast cells. The
    // oracle replays cells, probes and minima exactly, and the
    // overcount column makes the CMS ≥-guarantee hash-checked: one
    // undercounting cell anywhere turns the row red.
    "q_countmin" -> Q(
      (s, dir) => {
        val t = filter(graft.text.TextFunctions.tokens(
          trim(lower(col("text")))), x => length(x) > 0)
        val grams = Tables.load(s, dir, "documents")
          .select(t.as("t"))
          .select(explode(filter(
            zip_with(col("t"), slice(col("t"), lit(2),
              greatest(size(col("t")) - 1, lit(0))),
              (a, b) => concat(a, lit(" "), b)),
            g => g.isNotNull)).as("g"))
        CorpusStats.countMinEstimates(grams, "g",
          depth = 4, width = 128, probeMod = 7)
          .orderBy(col("g"))
      },
      Some("""WITH t0 AS (
             |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |    x -> length(x) > 0) AS t
             |  FROM documents),
             |gs AS (
             |  SELECT unnest(list_transform(range(1, len(t)),
             |    i -> t[i] || ' ' || t[i + 1])) AS g
             |  FROM t0 WHERE len(t) >= 2),
             |gj AS (
             |  SELECT g, t.j AS j,
             |    ('0x' || substr(md5('cm' || t.j || ':' || g), 1, 15))::BIGINT
             |      % 128 AS b
             |  FROM gs, range(0, 4) t(j)),
             |cells AS (
             |  SELECT j, b, CAST(count(*) AS BIGINT) AS c
             |  FROM gj GROUP BY j, b),
             |keyset AS (
             |  SELECT g, CAST(count(*) AS BIGINT) AS exact
             |  FROM gs GROUP BY g),
             |probes AS (
             |  SELECT g, exact FROM keyset
             |  WHERE ('0x' || substr(md5('cmprobe:' || g), 1, 15))::BIGINT
             |    % 7 = 0),
             |pj AS (
             |  SELECT p.g, p.exact, t.j AS j,
             |    ('0x' || substr(md5('cm' || t.j || ':' || p.g), 1, 15))::BIGINT
             |      % 128 AS b
             |  FROM probes p, range(0, 4) t(j)),
             |est AS (
             |  SELECT pj.g, pj.exact, min(c.c) AS est
             |  FROM pj JOIN cells c ON c.j = pj.j AND c.b = pj.b
             |  GROUP BY pj.g, pj.exact)
             |SELECT g, exact, CAST(est AS BIGINT) AS est,
             |  CAST(est - exact AS BIGINT) AS overcount
             |FROM est ORDER BY g""".stripMargin),
      // timed family gate: q_sketch_error (oracle still gates this entry)
      bench = false),

    // Boilerplate share: fraction of each doc's distinct 2-grams that
    // are corpus-frequent (appear in ≥ 30 docs) — the phrase-level
    // chrome detector.
    "q_boilerplate" -> Q(
      (s, dir) => CorpusStats.boilerplateRatio(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 2, minDf = 30)
        .orderBy(col("doc_id")),
      Some("""WITH t0 AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |gx AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))))
             |    AS phrase
             |  FROM t0),
             |freq AS (
             |  SELECT phrase FROM gx GROUP BY 1 HAVING count(*) >= 30),
             |st AS (
             |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |    CAST(sum(CASE WHEN f.phrase IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_boiler
             |  FROM gx g LEFT JOIN freq f USING (phrase) GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(st.n_grams, 0) AS n_grams,
             |  coalesce(st.n_boiler, 0) AS n_boiler,
             |  round(CAST(coalesce(st.n_boiler, 0) AS DOUBLE) /
             |    greatest(CAST(coalesce(st.n_grams, 0) AS DOUBLE), 1.0), 4)
             |    AS boiler_ratio
             |FROM documents d LEFT JOIN st USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Vocabulary coverage: per-doc OOV rate against the top-20 corpus
    // vocabulary (count desc, term asc tiebreak).
    "q_vocab_oov" -> Q(
      (s, dir) => CorpusStats.oovRate(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", v = 20)
        .orderBy(col("doc_id")),
      Some("""WITH tf AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |    FROM documents)
             |  WHERE length(tok) > 0),
             |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tf GROUP BY 1),
             |vv AS (
             |  SELECT tok FROM (
             |    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS r
             |    FROM tc)
             |  WHERE r <= 20),
             |st AS (
             |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_oov
             |  FROM tf t LEFT JOIN vv v USING (tok) GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(st.n_tokens, 0) AS n_tokens,
             |  coalesce(st.n_oov, 0) AS n_oov,
             |  round(CAST(coalesce(st.n_oov, 0) AS DOUBLE) /
             |    greatest(CAST(coalesce(st.n_tokens, 0) AS DOUBLE), 1.0), 4)
             |    AS oov_rate
             |FROM documents d LEFT JOIN st USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Gopher-style repetition signals: type-token ratio, top-token
    // share, top-2-gram share — all exact integer ratios.
    "q_repetition" -> Q(
      (s, dir) => CorpusStats.repetitionStats(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH tf AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |    FROM documents)
             |  WHERE length(tok) > 0),
             |tc AS (
             |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM tf GROUP BY 1, 2),
             |ts AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(count(*) AS BIGINT) AS n_distinct,
             |    CAST(max(c) AS BIGINT) AS max_tok
             |  FROM tc GROUP BY 1),
             |b0 AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |bx AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
             |    i -> array_to_string(t[i:i+1], ' '))) AS bg
             |  FROM b0),
             |bc AS (
             |  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
             |  FROM bx GROUP BY 1, 2),
             |bs AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             |    CAST(max(c) AS BIGINT) AS max_bg
             |  FROM bc GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(ts.n_tokens, 0) AS n_tokens,
             |  coalesce(ts.n_distinct, 0) AS n_distinct,
             |  round(CAST(coalesce(ts.n_distinct, 0) AS DOUBLE) /
             |    greatest(CAST(coalesce(ts.n_tokens, 0) AS DOUBLE), 1.0), 4)
             |    AS ttr,
             |  round(CAST(coalesce(ts.max_tok, 0) AS DOUBLE) /
             |    greatest(CAST(coalesce(ts.n_tokens, 0) AS DOUBLE), 1.0), 4)
             |    AS top_tok_share,
             |  round(CAST(coalesce(bs.max_bg, 0) AS DOUBLE) /
             |    greatest(CAST(coalesce(bs.n_bigrams, 0) AS DOUBLE), 1.0), 4)
             |    AS top_bigram_share
             |FROM documents d
             |LEFT JOIN ts USING (doc_id)
             |LEFT JOIN bs USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Token-distribution entropy per doc (nats), with the Σ c·ln c term
    // quantized to integer micro-units so the aggregation is exact
    // under any partitioning (see CorpusStats.tokenEntropy).
    "q_token_entropy" -> Q(
      (s, dir) => CorpusStats.tokenEntropy(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH tf AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |    FROM documents)
             |  WHERE length(tok) > 0),
             |tc AS (
             |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM tf GROUP BY 1, 2),
             |st AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
             |      * 1000000.0) AS BIGINT)) AS BIGINT) AS q
             |  FROM tc GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(st.n_tokens, 0) AS n_tokens,
             |  CASE WHEN coalesce(st.n_tokens, 0) = 0 THEN 0.0
             |    ELSE round(ln(CAST(st.n_tokens AS DOUBLE)) -
             |      (CAST(st.q AS DOUBLE) / 1000000.0) /
             |        CAST(st.n_tokens AS DOUBLE), 4) END AS entropy
             |FROM documents d LEFT JOIN st USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Unigram log-probability per doc — the LM quality proxy: each
    // ln(C/N) term floored to micro-units before summing, so the score
    // is exact under any partitioning and recomputed in full by the
    // oracle (corpus counts, the global N, every per-token term).
    "q_unigram_logprob" -> Q(
      (s, dir) => CorpusStats.unigramLogProb(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH tf AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |    FROM documents)
             |  WHERE length(tok) > 0),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tf),
             |c AS (
             |  SELECT doc_id, count(*) OVER (PARTITION BY tok) AS c
             |  FROM tf)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(sum(CAST(floor(1e6 * (ln(CAST(c AS DOUBLE)) - ln(n.n)))
             |    AS BIGINT)) AS BIGINT) AS logprob_micro
             |FROM c, n GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // Bigram LM score per doc (the CCNet-style perplexity proxy, with
    // the corpus as the model): avg add-one-smoothed ln P(w2|w1) over
    // each doc's bigrams. Context counts derive from the bigram-count
    // relation (no second corpus pass); every log term is floored to
    // micro-units before the per-doc sum, so partial-merge order can
    // never move a result and the oracle replays bit for bit — corpus
    // counts, vocabulary size, smoothing, every term.
    "q_bigram_logprob" -> Q(
      (s, dir) => CorpusStats.bigramLogProb(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM documents),
             |v AS (
             |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             |  FROM (SELECT unnest(t) AS tok FROM t0)),
             |bgs AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
             |  FROM t0 WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bgs),
             |cbg AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
             |  FROM bg GROUP BY 1, 2),
             |cw1 AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cw1 FROM cbg GROUP BY 1),
             |st AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(CAST(floor(1e6 * ln(
             |        (CAST(c.cbg AS DOUBLE) + 1.0)
             |        / (CAST(k.cw1 AS DOUBLE) + (SELECT v FROM v))))
             |      AS BIGINT)) AS BIGINT) AS q
             |  FROM bg b JOIN cbg c USING (w1, w2) JOIN cw1 k USING (w1)
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(st.n_bigrams, 0) AS n_bigrams,
             |  CASE WHEN coalesce(st.n_bigrams, 0) = 0 THEN 0.0
             |    ELSE round((CAST(st.q AS DOUBLE) / 1000000.0) /
             |      CAST(st.n_bigrams AS DOUBLE), 4) END AS avg_logprob
             |FROM documents d LEFT JOIN st USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
      // superseded-generation bench prune (r10): the family
      // bench gate is q_dsir_sample; this entry stays
      // oracle-gated every round but is no longer timed
      // timed family gate: q_minkprob (oracle still gates this entry)
      bench = false),

    // CCNet-style perplexity partition (Wenzek et al. 2020): per
    // language, documents split into head/middle/tail terciles by
    // their LM score — the standard "keep the head, audit the middle,
    // drop the tail" curation gate. ntile over (score desc, id) is
    // deterministic under ties; per-bucket mean recomputes from the
    // 4-dp-quantized scores as an exact integer sum, so accumulation
    // order can never move it. The oracle replays LM training, the
    // tercile assignment, and the bucket stats.
    "q_perplexity_buckets" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val lp = CorpusStats.bigramLogProb(
          docs.select(col("doc_id"), col("text")), "doc_id", "text")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("avg_logprob").desc, col("doc_id"))
        docs.select(col("doc_id"), col("lang")).join(lp, Seq("doc_id"))
          .withColumn("bucket", ntile(3).over(w).cast("long"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("avg_logprob") * 1e4).cast("long"))
              .cast("double") / (lit(1e4) * count(lit(1))), 4).as("mean_lp"))
          .orderBy(col("lang"), col("bucket"))
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM documents),
             |v AS (
             |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             |  FROM (SELECT unnest(t) AS tok FROM t0)),
             |bgs AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
             |  FROM t0 WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bgs),
             |cbg AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
             |  FROM bg GROUP BY 1, 2),
             |cw1 AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cw1 FROM cbg GROUP BY 1),
             |st AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(CAST(floor(1e6 * ln(
             |        (CAST(c.cbg AS DOUBLE) + 1.0)
             |        / (CAST(k.cw1 AS DOUBLE) + (SELECT v FROM v))))
             |      AS BIGINT)) AS BIGINT) AS q
             |  FROM bg b JOIN cbg c USING (w1, w2) JOIN cw1 k USING (w1)
             |  GROUP BY 1),
             |lp AS (
             |  SELECT d.doc_id, d.lang,
             |    CASE WHEN coalesce(st.n_bigrams, 0) = 0 THEN 0.0
             |      ELSE round((CAST(st.q AS DOUBLE) / 1000000.0) /
             |        CAST(st.n_bigrams AS DOUBLE), 4) END AS avg_logprob
             |  FROM documents d LEFT JOIN st USING (doc_id)),
             |bucketed AS (
             |  SELECT lang, doc_id, avg_logprob,
             |    CAST(ntile(3) OVER (PARTITION BY lang
             |      ORDER BY avg_logprob DESC, doc_id) AS BIGINT) AS bucket
             |  FROM lp)
             |SELECT lang, bucket, count(*) AS n,
             |  round(CAST(sum(CAST(round(avg_logprob * 1e4) AS BIGINT)) AS DOUBLE)
             |    / (1e4 * count(*)), 4) AS mean_lp
             |FROM bucketed GROUP BY lang, bucket
             |ORDER BY lang, bucket""".stripMargin),
      // superseded-generation bench prune (r10): the family
      // bench gate is q_dsir_sample; this entry stays
      // oracle-gated every round but is no longer timed
      // timed family gate: q_minkprob (oracle still gates this entry)
      bench = false),

    // DSIR-style importance resampling (Xie et al. 2023) as a pure
    // composition of existing operators: a bigram LM trained on the
    // TARGET domain (here: the English slice) and one trained on the
    // whole corpus score every document; the importance weight
    // exp(target_lp − source_lp) upweights docs that look like the
    // target, and the A-ES weighted sampler draws k per language
    // without replacement. Unseen-bigram smoothing (left joins to the
    // target counts) is what makes cross-domain scoring well-defined.
    // The oracle replays the ENTIRE composition: both LM trainings,
    // the cross-scoring with smoothing, the weight, the hash draw,
    // and the ranked sample.
    "q_dsir_sample" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        // both LM passes (target-trained and self-trained) from ONE
        // shared tokenize+bigram pass — bit-identical to the two
        // independent bigramLogProbAgainst/bigramLogProb calls
        // (CorpusStatsSpec pins it), 1 corpus tokenize instead of 4
        val lps = CorpusStats.bigramLogProbPair(
          docs, "doc_id", "text", col("lang") === "en")
        val weighted = docs.select(col("doc_id"), col("lang"))
          .join(lps, Seq("doc_id"))
          .select(col("doc_id"), col("lang"),
            exp(col("target_lp") - col("self_lp")).as("w"))
        graft.plans.Sampling.weightedSample(weighted, "lang", "w",
            "doc_id", k = 5, seed = "dsir")
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id, lang,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM documents),
             |sv AS (
             |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             |  FROM (SELECT unnest(t) AS tok FROM t0)),
             |tv AS (
             |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             |  FROM (SELECT unnest(t) AS tok FROM t0 WHERE lang = 'en')),
             |bgs AS (
             |  SELECT doc_id, lang,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
             |  FROM t0 WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, lang, s.w1 AS w1, s.w2 AS w2 FROM bgs),
             |scbg AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
             |  FROM bg GROUP BY 1, 2),
             |scw1 AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cw1 FROM scbg GROUP BY 1),
             |tcbg AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
             |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
             |tcw1 AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cw1 FROM tcbg GROUP BY 1),
             |sst AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(CAST(floor(1e6 * ln(
             |        (CAST(coalesce(c.cbg, 0) AS DOUBLE) + 1.0)
             |        / (CAST(coalesce(k.cw1, 0) AS DOUBLE) + (SELECT v FROM sv))))
             |      AS BIGINT)) AS BIGINT) AS q
             |  FROM bg b LEFT JOIN scbg c USING (w1, w2)
             |            LEFT JOIN scw1 k USING (w1)
             |  GROUP BY 1),
             |tst AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(CAST(floor(1e6 * ln(
             |        (CAST(coalesce(c.cbg, 0) AS DOUBLE) + 1.0)
             |        / (CAST(coalesce(k.cw1, 0) AS DOUBLE) + (SELECT v FROM tv))))
             |      AS BIGINT)) AS BIGINT) AS q
             |  FROM bg b LEFT JOIN tcbg c USING (w1, w2)
             |            LEFT JOIN tcw1 k USING (w1)
             |  GROUP BY 1),
             |lp AS (
             |  SELECT d.doc_id, d.lang,
             |    CASE WHEN coalesce(t.n_bigrams, 0) = 0 THEN 0.0
             |      ELSE round((CAST(t.q AS DOUBLE) / 1000000.0) /
             |        CAST(t.n_bigrams AS DOUBLE), 4) END AS t_lp,
             |    CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 0.0
             |      ELSE round((CAST(s.q AS DOUBLE) / 1000000.0) /
             |        CAST(s.n_bigrams AS DOUBLE), 4) END AS s_lp
             |  FROM documents d
             |  LEFT JOIN tst t USING (doc_id)
             |  LEFT JOIN sst s USING (doc_id)),
             |keyed AS (
             |  SELECT lang, doc_id,
             |    CAST(floor(1e6 * ln(
             |      (CAST(('0x' || substr(md5(doc_id || 'dsir'), 1, 15))::BIGINT
             |        AS DOUBLE) + 0.5) / 1152921504606846976.0)
             |      / exp(t_lp - s_lp)) AS BIGINT) AS sample_key
             |  FROM lp),
             |ranked AS (
             |  SELECT lang, doc_id, sample_key,
             |    CAST(row_number() OVER (
             |      PARTITION BY lang ORDER BY sample_key DESC, doc_id)
             |      AS BIGINT) AS rk
             |  FROM keyed)
             |SELECT lang, rk, doc_id, sample_key FROM ranked
             |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin)),

    // Quality classifier trained IN the engine (graft.text.Classifier):
    // multinomial Naive Bayes over hashed token counts — closed-form,
    // ONE distributed pass (no gradient rounds), model held as a
    // bounded weight relation, margins exact BIGINTs — and the oracle
    // RE-TRAINS the identical model in DuckDB and must land on the
    // same per-doc margins bit for bit. The positive class carries
    // planted marker tokens, so learning is observable: the marker
    // bucket's log-odds weight must separate the classes.
    "q_quality_classifier" -> Q(
      (s, dir) => graft.text.Classifier.scored(
        classifierFixture(s, dir), "doc_id", "text",
        classifierLabel, buckets = 4096)
        .select(col("id").as("doc_id"), col("y").cast("int").as("y"),
          col("mq"), col("n_tok"),
          round(lit(1.0) / (lit(1.0) + exp(
            -(col("mq").cast("double") / lit(1e6) / col("n_tok").cast("double")))),
            4).as("score"))
        .orderBy(col("doc_id")),
      Some(classifierOracle(4096,
        """SELECT doc_id, CAST(y AS INT) AS y, mq, n_tok,
          |  round(1.0 / (1.0 + exp(-(CAST(mq AS DOUBLE) / 1000000.0
          |    / CAST(n_tok AS DOUBLE)))), 4) AS score
          |FROM mf ORDER BY doc_id""".stripMargin)),
      // superseded-generation bench prune (r10): the family
      // bench gate is q_classifier_filter_approx; this entry stays
      // oracle-gated every round but is no longer timed
      // timed family gate: q_classifier_filter_approx (oracle still gates this entry)
      bench = false),

    // The classifier APPLIED as a corpus filter: keep the top decile
    // by trained margin (the Brown et al. stance — threshold by score
    // rank, not by the 0.5 boundary) and report per-source keep rates
    // — the number a curation run actually reports. Ranking is on the
    // exact integer margin (ties broken by id), so the kept set is
    // engine-exact; at 100 TB the global rank becomes an approx-
    // quantile threshold + map-side filter, same contract.
    "q_classifier_filter" -> Q(
      (s, dir) => {
        val docs = classifierFixture(s, dir)
        val sc = graft.text.Classifier.scored(docs, "doc_id", "text",
          classifierLabel, buckets = 4096)
        val ranked = sc.withColumn("rk",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(graft.text.Classifier.avgMargin.desc, col("id"))))
        val tot = sc.agg(count(lit(1)).as("n_scored"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("keep",
            col("rk") <= ceil(col("n_scored").cast("double") / lit(10.0)))
          .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("total"),
            sum(col("keep").cast("long")).as("kept"))
          .select(col("source"), col("total"), col("kept"),
            round(col("kept").cast("double") / col("total").cast("double"), 4)
              .as("keep_rate"))
          .orderBy(col("source"))
      },
      Some(classifierOracle(4096,
        """,
          |ranked AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY
          |      CAST(mq AS DOUBLE) / CAST(n_tok AS DOUBLE) DESC, doc_id) AS rk
          |  FROM mf),
          |kk AS (SELECT CAST(ceil(CAST(n_docs AS DOUBLE) / 10.0) AS BIGINT)
          |         AS k FROM nn)
          |SELECT d.source,
          |  CAST(count(*) AS BIGINT) AS total,
          |  CAST(sum(CASE WHEN r.rk <= kk.k THEN 1 ELSE 0 END) AS BIGINT)
          |    AS kept,
          |  round(CAST(sum(CASE WHEN r.rk <= kk.k THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*), 4) AS keep_rate
          |FROM ranked r JOIN documents d USING (doc_id), kk
          |GROUP BY d.source ORDER BY d.source""".stripMargin)),
      // superseded-generation bench prune (r10): the family
      // bench gate is q_classifier_filter_approx; this entry stays
      // oracle-gated every round but is no longer timed
      // timed family gate: q_classifier_filter_approx (oracle still gates this entry)
      bench = false),

    // The 100 TB form of the decile gate: the keep threshold comes
    // from ONE map-side-combinable approx_percentile aggregate over
    // the margins (a GK sketch — no global sort, no single-partition
    // window) broadcast back as a scalar, and the keep decision is a
    // map-side comparison. q_classifier_filter's rank form is exact
    // but funnels every (id, margin) pair through one ordering task —
    // correct at any SF, unrunnable at 100 TB; this entry is the same
    // operator under the approximate-threshold contract. The oracle
    // contract is the q_sketch_error stance: the exact per-source keep
    // counts (rank rule, DuckDB-replayed) are the answer, and
    // within_tol asserts the sketch-thresholded counts land within the
    // documented bound (±max(2, 2% of source total)) — computed
    // Spark-side, expected `true` by the oracle. The timed form
    // (benchFn) is the production plan alone: threshold + filter, no
    // exact-rank scaffolding, no Window anywhere (PlanSpec-gated).
    "q_classifier_filter_approx" -> Q(
      (s, dir) => {
        val docs = classifierFixture(s, dir)
        val sc = graft.text.Classifier.scored(docs, "doc_id", "text",
          classifierLabel, buckets = 4096)
          .select(col("id"), graft.text.Classifier.avgMargin.as("am"))
        val thr = sc.agg(expr("approx_percentile(am, 0.9D, 10000)").as("thr"))
        val approx = sc.crossJoin(broadcast(thr))
          .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("total"),
            sum(when(col("am") >= col("thr"), 1L).otherwise(0L))
              .as("kept_approx"))
        // exact rank twin — verification scaffolding only (the oracle's
        // answer); the production plan never pays it
        val ranked = sc.withColumn("rk",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("am").desc, col("id"))))
        val tot = sc.agg(count(lit(1)).as("n_scored"))
        val exact = ranked.crossJoin(broadcast(tot))
          .withColumn("keep",
            col("rk") <= ceil(col("n_scored").cast("double") / lit(10.0)))
          .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
          .groupBy(col("source"))
          .agg(sum(col("keep").cast("long")).as("kept"))
        approx.join(exact, Seq("source"))
          .select(col("source"), col("total"), col("kept"),
            (abs(col("kept_approx") - col("kept")) <=
              greatest(lit(2.0), col("total").cast("double") * lit(0.02)))
              .as("within_tol"))
          .orderBy(col("source"))
      },
      Some(classifierOracle(4096,
        """,
          |ranked AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY
          |      CAST(mq AS DOUBLE) / CAST(n_tok AS DOUBLE) DESC, doc_id) AS rk
          |  FROM mf),
          |kk AS (SELECT CAST(ceil(CAST(n_docs AS DOUBLE) / 10.0) AS BIGINT)
          |         AS k FROM nn)
          |SELECT d.source,
          |  CAST(count(*) AS BIGINT) AS total,
          |  CAST(sum(CASE WHEN r.rk <= kk.k THEN 1 ELSE 0 END) AS BIGINT)
          |    AS kept,
          |  true AS within_tol
          |FROM ranked r JOIN documents d USING (doc_id), kk
          |GROUP BY d.source ORDER BY d.source""".stripMargin)),
      benchFn = Some((s, dir) => {
        val docs = classifierFixture(s, dir)
        val sc = graft.text.Classifier.scored(docs, "doc_id", "text",
          classifierLabel, buckets = 4096)
          .select(col("id"), graft.text.Classifier.avgMargin.as("am"))
        val thr = sc.agg(expr("approx_percentile(am, 0.9D, 10000)").as("thr"))
        sc.crossJoin(broadcast(thr))
          .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("total"),
            sum(when(col("am") >= col("thr"), 1L).otherwise(0L)).as("kept"))
          .orderBy(col("source"))
      })),

    // In-engine model EVALUATION: exact ROC-AUC of the trained
    // classifier by the Mann–Whitney rank-sum, midranks for ties —
    // U = Σ_pos midrank − n₁(n₁+1)/2, AUC = U / (n₁n₀) — computed on
    // 2×-scaled INTEGER midranks (min+max of the tie group), so the
    // only float step is the final division of exact integers. On the
    // planted fixture the classifier must be perfect: AUC = 1.0 is
    // part of the oracle-checked answer, not a spec-side assertion.
    // (The global rank is corpus-sized — at 100 TB AUC comes from a
    // sampled or histogram estimate; the exact form is the contract.)
    "q_classifier_auc" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
        val sc = graft.text.Classifier.scored(classifierFixture(s, dir),
          "doc_id", "text", classifierLabel, buckets = 4096)
          .select(col("id"), col("y"), graft.text.Classifier.avgMargin.as("s"))
        val rn = sc.withColumn("rn",
          row_number().over(w.orderBy(col("s").asc, col("id"))))
        val mid = rn.withColumn("mid2",
          min(col("rn")).over(w.partitionBy(col("s"))).cast("long") +
            max(col("rn")).over(w.partitionBy(col("s"))).cast("long"))
        mid.agg(
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("y") === 0, 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("y") === 1, col("mid2")).otherwise(0L)).as("s2"))
          .select(col("n_pos"), col("n_neg"),
            round((col("s2").cast("double") -
                col("n_pos").cast("double") * (col("n_pos") + 1)) /
              (lit(2.0) * col("n_pos") * col("n_neg")), 4).as("auc"))
      },
      Some(classifierOracle(4096,
        """,
          |sc AS (
          |  SELECT doc_id, y,
          |    CAST(mq AS DOUBLE) / CAST(n_tok AS DOUBLE) AS s
          |  FROM mf),
          |rr AS (
          |  SELECT doc_id, y, s,
          |    row_number() OVER (ORDER BY s ASC, doc_id) AS rn
          |  FROM sc),
          |mr AS (
          |  SELECT doc_id, y,
          |    CAST(min(rn) OVER (PARTITION BY s) AS BIGINT)
          |      + CAST(max(rn) OVER (PARTITION BY s) AS BIGINT) AS mid2
          |  FROM rr)
          |SELECT n_pos, n_neg,
          |  round((CAST(s2 AS DOUBLE) - CAST(n_pos AS DOUBLE) * (n_pos + 1))
          |    / (2.0 * n_pos * n_neg), 4) AS auc
          |FROM (
          |  SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_pos,
          |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
          |    CAST(sum(CASE WHEN y = 1 THEN mid2 ELSE 0 END) AS BIGINT) AS s2
          |  FROM mr)""".stripMargin)),
      // superseded-generation bench prune (r10): the family
      // bench gate is q_quality_classifier-family (timed gate: q_classifier_filter_approx); this entry stays
      // oracle-gated every round but is no longer timed
      bench = false),

    // The 100 TB form of AUC: the margin HISTOGRAM estimator.
    // q_classifier_auc's exact Mann–Whitney ranks the whole corpus
    // through one ordering task; here margins quantize to fixed
    // 1e-4 buckets via floor(mq·10⁴ / n_tok) — a DOUBLE floor, which
    // IEEE evaluates identically in any engine, so unlike a
    // sketch-thresholded estimate this one is DETERMINISTIC and the
    // oracle replays it exactly (no tolerance contract needed). AUC
    // then reads off the bucket counts with in-bucket pairs counted as
    // ties (the midrank convention): A2 = Σ_b n1_b·(2·cumN0_below+n0_b),
    // AUC = A2 / (2·n1·n0) — all-integer until the final division.
    // The only window runs over the BUCKET relation, whose size is
    // bounded by margin range × resolution (a fixture-independent
    // constant), never by the corpus — PlanSpec gates that the window's
    // input is post-aggregation. Estimator error vs the exact rank is
    // bounded by in-bucket ties; ClassifierSpec pins the two AUCs to
    // agree within one bucket's mass on a mixed-margin fixture.
    "q_classifier_auc_hist" -> Q(
      (s, dir) => graft.text.Classifier.histAuc(
        graft.text.Classifier.scored(classifierFixture(s, dir),
          "doc_id", "text", classifierLabel, buckets = 4096)),
      Some(classifierOracle(4096,
        """,
          |hist AS (
          |  SELECT CAST(floor(CAST(mq AS DOUBLE) * 10000.0
          |           / CAST(n_tok AS DOUBLE)) AS BIGINT) AS b,
          |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
          |  FROM mf GROUP BY 1),
          |cum AS (
          |  SELECT b, n1, n0,
          |    CAST(coalesce(sum(n0) OVER (ORDER BY b
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS cum0
          |  FROM hist)
          |SELECT n_pos, n_neg,
          |  round(CAST(a2 AS DOUBLE) / (2.0 * n_pos * n_neg), 4) AS auc
          |FROM (
          |  SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
          |    CAST(sum(n0) AS BIGINT) AS n_neg,
          |    CAST(sum(n1 * (2 * cum0 + n0)) AS BIGINT) AS a2
          |  FROM cum)""".stripMargin))),

    // MULTICLASS NB language identifier with held-out evaluation: the
    // model trains on a deterministic salted-hash 80% split, predicts
    // the language of the held-out 20%, and the oracle-checked answer
    // is the full confusion matrix — supervised multiclass training,
    // generalization measurement, and the per-class unseen-bucket
    // Laplace floor all replayed by DuckDB. The synthetic corpus's
    // lang column is metadata only (the text carries NO language
    // signal — measured: zero German stopwords, zero CJK), so the
    // fixture plants each language's function words into its
    // documents — what real multilingual text provides for free — and
    // the held-out diagonal proves the model GENERALIZES from the
    // planted signal rather than memorizing ids.
    "q_lang_classifier" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            concat(col("text"),
              when(col("lang") === "de", lit(" der die und"))
                .when(col("lang") === "es", lit(" el la que"))
                .when(col("lang") === "fr", lit(" le les est"))
                .when(col("lang") === "zh", lit(" ni hao ma"))
                .otherwise(lit(" the and of"))).as("text"))
        val bkt = graft.text.Dedup.md5Hash60(
          concat(lit("lid:"), col("doc_id").cast("string"))) % 10
        graft.text.Classifier.multiclassPredictions(
          docs.filter(bkt < 8), docs.filter(bkt >= 8),
          "doc_id", "text", "lang", buckets = 4096)
          .groupBy(col("truth").as("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    text || CASE lang
             |      WHEN 'de' THEN ' der die und'
             |      WHEN 'es' THEN ' el la que'
             |      WHEN 'fr' THEN ' le les est'
             |      WHEN 'zh' THEN ' ni hao ma'
             |      ELSE ' the and of' END AS text,
             |    ('0x' || substr(md5('lid:' || doc_id), 1, 15))::BIGINT % 10
             |      AS bkt
             |  FROM documents),
             |occ_tr AS (
             |  SELECT doc_id, cls,
             |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS j
             |  FROM (SELECT doc_id, lang AS cls,
             |          unnest(list_filter(
             |            string_split_regex(trim(lower(text)), '\s+'),
             |            t -> length(t) > 0)) AS tok
             |        FROM d WHERE bkt < 8)),
             |cc AS (SELECT cls, j, CAST(count(*) AS BIGINT) AS c
             |       FROM occ_tr GROUP BY cls, j),
             |tc AS (SELECT cls, CAST(sum(c) AS BIGINT) AS t FROM cc GROUP BY cls),
             |nd AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n
             |       FROM d WHERE bkt < 8 GROUP BY lang),
             |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total
             |       FROM d WHERE bkt < 8),
             |cs AS (
             |  SELECT tc.cls,
             |    CAST(floor(ln(CAST(nd.n AS DOUBLE) / CAST(nt.n_total AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS pq,
             |    CAST(floor(ln(0.01 / (CAST(tc.t AS DOUBLE) + 0.01 * 4096.0))
             |      * 1000000.0) AS BIGINT) AS floorq,
             |    tc.t AS t
             |  FROM tc JOIN nd USING (cls), nt),
             |w AS (
             |  SELECT cc.cls, cc.j,
             |    CAST(floor(ln((CAST(cc.c AS DOUBLE) + 0.01)
             |      / (CAST(cs.t AS DOUBLE) + 0.01 * 4096.0)) * 1000000.0)
             |      AS BIGINT) AS wq
             |  FROM cc JOIN cs USING (cls)),
             |dt AS (
             |  SELECT doc_id, truth, j, CAST(count(*) AS BIGINT) AS cnt
             |  FROM (SELECT doc_id, truth,
             |          ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS j
             |        FROM (SELECT doc_id, lang AS truth,
             |                unnest(list_filter(
             |                  string_split_regex(trim(lower(text)), '\s+'),
             |                  t -> length(t) > 0)) AS tok
             |              FROM d WHERE bkt >= 8))
             |  GROUP BY doc_id, truth, j),
             |m AS (
             |  SELECT dt.doc_id, dt.truth, cs.cls,
             |    CAST(cs.pq + sum(dt.cnt * coalesce(w.wq, cs.floorq)) AS BIGINT)
             |      AS mq
             |  FROM dt CROSS JOIN cs
             |  LEFT JOIN w ON w.cls = cs.cls AND w.j = dt.j
             |  GROUP BY dt.doc_id, dt.truth, cs.cls, cs.pq),
             |p AS (
             |  SELECT doc_id, truth, cls AS pred,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY mq DESC, cls) AS rn
             |  FROM m)
             |SELECT truth AS lang, pred, CAST(count(*) AS BIGINT) AS n
             |FROM p WHERE rn = 1
             |GROUP BY truth, pred ORDER BY lang, pred""".stripMargin)),

    // Batch-train, STREAM-SERVE — the production ML lifecycle as one
    // entry: the NB model trains on the historical (even-id) half and
    // persists to a stage table (Classifier.fit — weights, log-prior
    // intercept, unseen-bucket floor: buckets+2 rows); the new (odd-id)
    // half then ARRIVES as two mtime-pinned files and every micro-batch
    // is scored map-side against the STORED model (broadcast join, only
    // (id, j, cnt) rows move) and appended to a scores table. Scoring
    // is per-doc and order-independent, so the streamed scores must
    // equal a one-shot batch scoring — the oracle replays the split
    // training, the unseen-token floor (new docs carry buckets the
    // historical half never saw), and every margin. (Redelivery
    // hardening is UpsertSink's job — gated by its failure-injection
    // spec; this entry pins the train-store-serve composition, and its
    // fresh AvailableNow checkpoint delivers each file exactly once.)
    "q_stream_classify" -> Q(
      (s, dir) => {
        val docs = classifierFixture(s, dir)
        val hist = docs.filter(col("doc_id") % 2 === 0)
        val arriving = docs.filter(col("doc_id") % 2 === 1)
        val model = graft.text.Classifier.fit(hist, "doc_id", "text",
          classifierLabel, buckets = 4096)
        val tmp = java.nio.file.Files.createTempDirectory("graft-stream-cls")
        val modelTable = graft.catalog.ParquetTable(
          s, "cls_model", s"$tmp/model", model.schema)
        modelTable.overwrite(model)
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val stage = tmp.resolve(s"stage_$name")
          df.coalesce(1).write.parquet(stage.toString)
          val part = graft.ingest.FileOps.listDir(stage)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
        }
        writeOne(arriving.filter(col("doc_id") % 4 === 1), "a")
        writeOne(arriving.filter(col("doc_id") % 4 === 3), "b")
        Seq("a", "b").zipWithIndex.foreach { case (n, i) =>
          java.nio.file.Files.setLastModifiedTime(src.resolve(s"$n.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(
              1000000000000L + i * 60000L))
        }
        val ss = graft.queries.StreamFixtures.childSession(s, 4)
        val scoresTable = graft.catalog.ParquetTable(
          ss, "cls_scores", s"$tmp/scores",
          graft.text.Classifier.scoreWith(arriving.limit(0), "doc_id",
            "text", model, buckets = 4096).schema)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 1),
            s"$tmp/ckpt") { (batch, _) =>
          scoresTable.append(graft.text.Classifier.scoreWith(
            batch, "doc_id", "text", modelTable.read(), buckets = 4096))
        }
        scoresTable.read()
          .select(col("id").as("doc_id"), col("mq"), col("n_tok"),
            round(lit(1.0) / (lit(1.0) + exp(-(col("mq").cast("double")
              / lit(1e6) / col("n_tok").cast("double")))), 4).as("score"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $classifierCbaseSql,
              |dc AS (
              |  SELECT doc_id, y, j, CAST(count(*) AS BIGINT) AS cnt
              |  FROM (
              |    SELECT doc_id, y,
              |      ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS j
              |    FROM (SELECT doc_id, y, unnest(t) AS tok FROM cbase
              |          WHERE len(t) > 0 AND doc_id % 2 = 0))
              |  GROUP BY doc_id, y, j),
              |cc AS (SELECT y, j, CAST(sum(cnt) AS BIGINT) AS c
              |       FROM dc GROUP BY y, j),
              |bb AS (
              |  SELECT j,
              |    CAST(sum(CASE WHEN y = 1 THEN c END) AS BIGINT) AS c1,
              |    CAST(sum(CASE WHEN y = 0 THEN c END) AS BIGINT) AS c0
              |  FROM cc GROUP BY j),
              |tt AS (
              |  SELECT CAST(sum(CASE WHEN y = 1 THEN c END) AS BIGINT) AS t1,
              |         CAST(sum(CASE WHEN y = 0 THEN c END) AS BIGINT) AS t0
              |  FROM cc),
              |w AS (
              |  SELECT j,
              |    CAST(floor((ln((CAST(coalesce(c1, 0) AS DOUBLE) + 1.0)
              |        / (CAST(t1 AS DOUBLE) + 4096.0))
              |      - ln((CAST(coalesce(c0, 0) AS DOUBLE) + 1.0)
              |        / (CAST(t0 AS DOUBLE) + 4096.0))) * 1000000.0) AS BIGINT)
              |      AS wq
              |  FROM bb, tt),
              |pr AS (
              |  SELECT CAST(floor(ln(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE))
              |      * 1000000.0) AS BIGINT) AS bq
              |  FROM (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
              |            AS BIGINT) AS n1,
              |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)
              |            AS BIGINT) AS n0
              |        FROM (SELECT DISTINCT doc_id, y FROM dc))),
              |fl AS (
              |  SELECT CAST(floor((ln(1.0 / (CAST(t1 AS DOUBLE) + 4096.0))
              |      - ln(1.0 / (CAST(t0 AS DOUBLE) + 4096.0))) * 1000000.0)
              |    AS BIGINT) AS fq
              |  FROM tt),
              |sc AS (
              |  SELECT doc_id, j, CAST(count(*) AS BIGINT) AS cnt
              |  FROM (
              |    SELECT doc_id,
              |      ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS j
              |    FROM (SELECT doc_id, unnest(t) AS tok FROM cbase
              |          WHERE len(t) > 0 AND doc_id % 2 = 1))
              |  GROUP BY doc_id, j),
              |mf AS (
              |  SELECT s.doc_id,
              |    CAST(pr.bq + sum(s.cnt * coalesce(w.wq, fl.fq)) AS BIGINT)
              |      AS mq,
              |    CAST(sum(s.cnt) AS BIGINT) AS n_tok
              |  FROM sc s LEFT JOIN w USING (j), pr, fl
              |  GROUP BY s.doc_id, pr.bq)
              |SELECT doc_id, mq, n_tok,
              |  round(1.0 / (1.0 + exp(-(CAST(mq AS DOUBLE) / 1000000.0
              |    / CAST(n_tok AS DOUBLE)))), 4) AS score
              |FROM mf ORDER BY doc_id""".stripMargin)),

    // DoReMi-lite domain reweighting (Xie et al. 2023, the excess-loss
    // idea without the proxy-model training loop): per-domain mean LM
    // loss against the corpus-wide bigram LM, domain weight
    // exp(corpus_mean_lp − domain_mean_lp) — domains the reference
    // model finds HARD are upsampled — normalized so the largest
    // weight keeps everything, then realized as a salted-hash
    // per-domain keep (the temperatureMixture stance: deterministic,
    // map-side, engine-recomputable). Per-domain means come from
    // half-up-quantized 4-dp scores as exact integer sums; the only
    // doubles are the final exp/ratio, composed identically in both
    // engines. One LM pass feeds everything; every join after the
    // per-domain rollup is a ≤ #domains-row broadcast.
    "q_domain_reweight" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val lp = CorpusStats.bigramLogProb(
          docs.select(col("doc_id"), col("text")), "doc_id", "text")
        // dom is #domains rows but its lineage is the whole bigram-LM
        // corpus pass, and FIVE downstream subtrees consume it (tot,
        // wts, mx, rates, the kept join) — pin it lineage-free so the
        // LM runs exactly once.
        val dom = docs.select(col("doc_id"), col("source"))
          .join(lp.select(col("doc_id"),
            floor(col("avg_logprob") * lit(1e4) + lit(0.5)).cast("long")
              .as("q4")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("q4")).as("q4"))
          .transform(graft.plans.Materialize.stage)
        // the rate table derives from the ENUM-sized staged dom
        // relation by scalar arithmetic only — under the cap it
        // computes on the driver (one bounded collect instead of two
        // aggregate jobs + two broadcast builds; the driverComponents
        // pattern), identical doubles (exp/floor are the same
        // java.lang.Math calls codegen emits, max replayed
        // NaN-largest); an over-cap source vocabulary falls back to
        // the distributed shape unchanged
        val rates =
          graft.plans.DriverFetch("domain stats", Seq(dom), 1 << 18) match {
            case Some(Seq(domRows)) =>
              val ds = domRows.map(r =>
                (r.getString(0), r.getLong(1), r.getLong(2)))
              val nAll = ds.map(_._2).sum
              val q4All = ds.map(_._3).sum
              val wraw = ds.map { case (_, n, q4) =>
                math.exp(q4All.toDouble / 1e4 / nAll.toDouble
                  - q4.toDouble / 1e4 / n.toDouble)
              }
              val maxw = wraw.reduceLeft((a, b) =>
                if (java.lang.Double.compare(b, a) > 0) b else a)
              val outSchema = org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("source",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("n",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("q4",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("rate",
                  org.apache.spark.sql.types.LongType)))
              val rows = ds.zip(wraw).map { case ((src, n, q4), w) =>
                org.apache.spark.sql.Row(src, n, q4,
                  math.floor(10000.0 * w / maxw).toLong)
              }
              s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
            case _ =>
              val tot = dom.groupBy()
                .agg(sum(col("n")).as("n_all"), sum(col("q4")).as("q4_all"))
              val wts = dom.crossJoin(broadcast(tot))
                .select(col("source"), col("n"), col("q4"),
                  exp(col("q4_all").cast("double") / lit(1e4)
                      / col("n_all").cast("double")
                    - col("q4").cast("double") / lit(1e4)
                      / col("n").cast("double")).as("wraw"))
              val mx = wts.groupBy().agg(max(col("wraw")).as("maxw"))
              wts.crossJoin(broadcast(mx))
                .select(col("source"), col("n"), col("q4"),
                  floor(lit(10000.0) * col("wraw") / col("maxw")).cast("long")
                    .as("rate"))
          }
        val kept = docs.select(col("doc_id"), col("source"))
          .join(broadcast(rates.select(col("source"), col("rate"))),
            Seq("source"))
          .filter(graft.text.Dedup.md5Hash60(
            concat(lit("dw:"), col("doc_id").cast("string"))) % 10000
            < col("rate"))
          .groupBy(col("source")).agg(count(lit(1)).as("k"))
        rates.join(kept, Seq("source"), "left")
          .select(col("source"), col("n"),
            round(col("q4").cast("double") / lit(1e4)
              / col("n").cast("double"), 4).as("mean_lp"),
            col("rate"), coalesce(col("k"), lit(0L)).as("kept"))
          .orderBy(col("source"))
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM documents),
             |v AS (
             |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             |  FROM (SELECT unnest(t) AS tok FROM t0)),
             |bgs AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
             |  FROM t0 WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bgs),
             |cbg AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
             |  FROM bg GROUP BY 1, 2),
             |cw1 AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cw1 FROM cbg GROUP BY 1),
             |st AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(CAST(floor(1e6 * ln(
             |        (CAST(c.cbg AS DOUBLE) + 1.0)
             |        / (CAST(k.cw1 AS DOUBLE) + (SELECT v FROM v))))
             |      AS BIGINT)) AS BIGINT) AS q
             |  FROM bg b JOIN cbg c USING (w1, w2) JOIN cw1 k USING (w1)
             |  GROUP BY 1),
             |lp AS (
             |  SELECT d.doc_id,
             |    CASE WHEN coalesce(st.n_bigrams, 0) = 0 THEN 0.0
             |      ELSE round((CAST(st.q AS DOUBLE) / 1000000.0) /
             |        CAST(st.n_bigrams AS DOUBLE), 4) END AS avg_logprob
             |  FROM documents d LEFT JOIN st USING (doc_id)),
             |dom AS (
             |  SELECT d.source, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(floor(lp.avg_logprob * 10000.0 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS q4
             |  FROM documents d JOIN lp USING (doc_id)
             |  GROUP BY d.source),
             |tot AS (
             |  SELECT CAST(sum(n) AS BIGINT) AS n_all,
             |         CAST(sum(q4) AS BIGINT) AS q4_all
             |  FROM dom),
             |wts AS (
             |  SELECT source, n, q4,
             |    exp(CAST(q4_all AS DOUBLE) / 10000.0 / CAST(n_all AS DOUBLE)
             |      - CAST(q4 AS DOUBLE) / 10000.0 / CAST(n AS DOUBLE)) AS wraw
             |  FROM dom, tot),
             |mx AS (SELECT max(wraw) AS maxw FROM wts),
             |rates AS (
             |  SELECT source, n, q4,
             |    CAST(floor(10000.0 * wraw / maxw) AS BIGINT) AS rate
             |  FROM wts, mx),
             |kept AS (
             |  SELECT d.source, CAST(count(*) AS BIGINT) AS k
             |  FROM documents d JOIN rates r USING (source)
             |  WHERE ('0x' || substr(md5('dw:' || d.doc_id), 1, 15))::BIGINT
             |        % 10000 < r.rate
             |  GROUP BY d.source)
             |SELECT r.source, r.n,
             |  round(CAST(r.q4 AS DOUBLE) / 10000.0 / CAST(r.n AS DOUBLE), 4)
             |    AS mean_lp,
             |  r.rate, CAST(coalesce(k.k, 0) AS BIGINT) AS kept
             |FROM rates r LEFT JOIN kept k USING (source)
             |ORDER BY r.source""".stripMargin)),

    // Curation v3 — the end-to-end pipeline with a LEARNED quality
    // gate: exact dedup (first-wins; 20 planted constant-text
    // duplicates collapse per label group) → NB classifier trained on
    // the SURVIVORS gates to the top 30% by length-normalized margin →
    // temperature mixture (τ = 0.5) rebalances languages over what the
    // gate kept. v1/v2 gate on heuristics; v3 is the modern shape
    // (RedPajama/FineWeb): the filter is a model trained in the same
    // job, and every stage's randomness is a salted hash, so the
    // final sample is row-identical across engines. One window per
    // stage (fingerprint, margin rank), mixture rates broadcast.
    "q_curation_v3" -> Q(
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            when(col("doc_id") >= 400 && col("doc_id") < 420,
              lit("duplicate corpus boilerplate entry"))
              .otherwise(col("text")).as("text"))
        val fixture = base.select(col("doc_id"), col("lang"), col("source"),
          when(classifierLabel,
            concat(col("text"), lit(" " + classifierMarker)))
            .otherwise(col("text")).as("text"))
        // surv feeds both the classifier training pass and the final
        // gated join — pin it so the fingerprint window runs once
        val surv = graft.text.Dedup.exactDedup(fixture, "doc_id", "text")
          .transform(graft.plans.Materialize.stage)
        val sc = graft.text.Classifier.scored(surv, "doc_id", "text",
          classifierLabel, buckets = 4096)
        val n = sc.agg(count(lit(1)).as("n_scored"))
        val keep = sc.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(graft.text.Classifier.avgMargin.desc, col("id"))))
          .crossJoin(broadcast(n))
          .filter(col("rk") <=
            ceil(col("n_scored").cast("double") * lit(0.3)))
          .select(col("id").as("doc_id"))
        val gated = surv.select(col("doc_id"), col("lang"), col("source"))
          .join(keep, Seq("doc_id"))
        graft.plans.Sampling.temperatureMixture(gated, "doc_id", "lang",
          temperature = 0.5, seed = "mix3")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, source,
             |    CASE WHEN doc_id >= 400 AND doc_id < 420
             |      THEN 'duplicate corpus boilerplate entry' ELSE text END
             |      AS text
             |  FROM documents),
             |fx AS (
             |  SELECT doc_id, lang, source,
             |    CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END AS y,
             |    CASE WHEN source IN ('src0', 'src1')
             |      THEN text || ' qualmarker qualmarker qualmarker'
             |      ELSE text END AS text
             |  FROM base),
             |surv AS (
             |  SELECT doc_id, lang, source, y, text FROM (
             |    SELECT fx.*, row_number() OVER (
             |      PARTITION BY
             |        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             |      ORDER BY doc_id) AS rn
             |    FROM fx) WHERE rn = 1),
             |stok AS (
             |  SELECT doc_id, y,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      t -> length(t) > 0) AS t
             |  FROM surv),
             |dc AS (
             |  SELECT doc_id, y, j, CAST(count(*) AS BIGINT) AS cnt
             |  FROM (
             |    SELECT doc_id, y,
             |      ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS j
             |    FROM (SELECT doc_id, y, unnest(t) AS tok FROM stok
             |          WHERE len(t) > 0))
             |  GROUP BY doc_id, y, j),
             |cc AS (SELECT y, j, CAST(sum(cnt) AS BIGINT) AS c
             |       FROM dc GROUP BY y, j),
             |bb AS (
             |  SELECT j,
             |    CAST(sum(CASE WHEN y = 1 THEN c END) AS BIGINT) AS c1,
             |    CAST(sum(CASE WHEN y = 0 THEN c END) AS BIGINT) AS c0
             |  FROM cc GROUP BY j),
             |tt AS (
             |  SELECT CAST(sum(CASE WHEN y = 1 THEN c END) AS BIGINT) AS t1,
             |         CAST(sum(CASE WHEN y = 0 THEN c END) AS BIGINT) AS t0
             |  FROM cc),
             |w AS (
             |  SELECT j,
             |    CAST(floor((ln((CAST(coalesce(c1, 0) AS DOUBLE) + 1.0)
             |        / (CAST(t1 AS DOUBLE) + 4096.0))
             |      - ln((CAST(coalesce(c0, 0) AS DOUBLE) + 1.0)
             |        / (CAST(t0 AS DOUBLE) + 4096.0))) * 1000000.0) AS BIGINT)
             |      AS wq
             |  FROM bb, tt),
             |pr AS (
             |  SELECT CAST(floor(ln(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS bq
             |  FROM (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n1,
             |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n0
             |        FROM (SELECT DISTINCT doc_id, y FROM dc))),
             |mf AS (
             |  SELECT d.doc_id,
             |    CAST(pr.bq + sum(d.cnt * w.wq) AS BIGINT) AS mq,
             |    CAST(sum(d.cnt) AS BIGINT) AS n_tok
             |  FROM dc d JOIN w USING (j), pr
             |  GROUP BY d.doc_id, pr.bq),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM mf),
             |rk AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY
             |      CAST(mq AS DOUBLE) / CAST(n_tok AS DOUBLE) DESC, doc_id)
             |    AS rk
             |  FROM mf),
             |gated AS (
             |  SELECT s.doc_id, s.lang, s.source
             |  FROM surv s JOIN rk USING (doc_id), nn
             |  WHERE rk.rk <= ceil(CAST(nn.n_docs AS DOUBLE) * 0.3)),
             |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
             |      FROM gated GROUP BY lang),
             |m AS (SELECT min(n) AS nmin FROM c),
             |r AS (SELECT lang,
             |        floor(10000 * pow(CAST(nmin AS DOUBLE) / n, 0.5)) AS cut
             |      FROM c, m)
             |SELECT g.doc_id, g.lang, g.source
             |FROM gated g JOIN r USING (lang)
             |WHERE ('0x' || substr(md5('mix3:' || g.doc_id), 1, 15))::BIGINT
             |      % 10000 < cut
             |ORDER BY g.doc_id""".stripMargin),
      // production form: the top-30% margin gate is an
      // approx_percentile THRESHOLD (one scalar broadcast, map-side
      // filter) instead of the exact corpus-wide rank window the
      // oracle form pays — the q_classifier_filter_approx adjudicated
      // pattern; the only remaining global windows are enum-sized
      // (mixture rates over strata counts)
      benchFn = Some((s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            when(col("doc_id") >= 400 && col("doc_id") < 420,
              lit("duplicate corpus boilerplate entry"))
              .otherwise(col("text")).as("text"))
        val fixture = base.select(col("doc_id"), col("lang"), col("source"),
          when(classifierLabel,
            concat(col("text"), lit(" " + classifierMarker)))
            .otherwise(col("text")).as("text"))
        val surv = graft.text.Dedup.exactDedup(fixture, "doc_id", "text")
          .transform(graft.plans.Materialize.stage)
        val sc = graft.text.Classifier.scored(surv, "doc_id", "text",
          classifierLabel, buckets = 4096)
          .select(col("id"), graft.text.Classifier.avgMargin.as("am"))
        val thr = sc.agg(expr("approx_percentile(am, 0.7D, 10000)").as("thr"))
        val keep = sc.crossJoin(broadcast(thr))
          .filter(col("am") >= col("thr"))
          .select(col("id").as("doc_id"))
        val gated = surv.select(col("doc_id"), col("lang"), col("source"))
          .join(keep, Seq("doc_id"))
        graft.plans.Sampling.temperatureMixture(gated, "doc_id", "lang",
          temperature = 0.5, seed = "mix3")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      })),

    // Min-K% Prob membership scoring (Shi et al. 2023): a document's
    // score is the mean of its BOTTOM 20% bigram log-probs under the
    // corpus LM — memorized/duplicated text is detectable because even
    // its LEAST likely spans are likely (ordinary documents always
    // contain some rare transitions that drag the tail down). The
    // fixture plants one template verbatim into 15 documents: their
    // repeated bigrams dominate the counts, so their bottom-k terms
    // sit far above the corpus's. Order statistics need the TERM-level
    // relation (CorpusStats.bigramTermScores) — a per-doc sum cannot
    // recover the tail — and the bottom-k sum is deterministic under
    // ties by construction (tied values are interchangeable; the rank
    // tie-break on position pins the plan anyway).
    "q_minkprob" -> Q(
      (s, dir) => {
        val template = "the shared benchmark passage appears verbatim" +
          " across many documents so its continuation is highly" +
          " predictable under the corpus model"
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 15, lit(template))
              .otherwise(col("text")).as("text"))
        // terms carries the whole positional LM pass and feeds both nb
        // and the rank selection — cache it for the one consuming job
        val terms = CorpusStats.bigramTermScores(planted, planted,
          "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          terms.count() // eager fill
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("id")).orderBy(col("q").asc, col("pos").asc)
          // n rides the SAME window partition as rn (an unordered
          // partition frame is satisfied by the rank sort already in
          // place), replacing the former separate groupBy count + join
          // back — one aggregate exchange and one join fewer per serve;
          // count over the full partition is the same per-doc term count
          val wAll = org.apache.spark.sql.expressions.Window
            .partitionBy(col("id"))
          val sel = terms.withColumn("rn", row_number().over(w))
            .withColumn("n", count(lit(1)).over(wAll))
            .filter(col("rn") <= ceil(col("n").cast("double") * lit(0.2)))
            .groupBy(col("id"), col("n"))
            .agg(sum(col("q")).as("sq"))
            .select(col("id").as("doc_id"), col("n"),
              ceil(col("n").cast("double") * lit(0.2)).cast("long").as("k"),
              col("sq"))
          planted.select(col("doc_id"))
            .join(sel, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("n"), lit(0L)).as("n_bigrams"),
              coalesce(col("k"), lit(0L)).as("k"),
              // floor-based 4-dp rounding: round(x, 4) differs between
              // engines when x sits EXACTLY on a .00005 boundary (small-k
              // divisors hit it — doc 134 at sf0.01 lands on -4.06915);
              // floor(x·1e4 + 0.5)/1e4 is one deterministic composition
              when(col("k").isNull, lit(0.0))
                .otherwise(floor((col("sq").cast("double") / lit(1e6)
                  / col("k").cast("double")) * lit(1e4) + lit(0.5)) / lit(1e4))
                .as("mink_score"))
            .orderBy(col("doc_id"))
            .transform(graft.plans.Materialize.stage)
        } finally terms.unpersist(false)
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 15
             |      THEN 'the shared benchmark passage appears verbatim across many documents so its continuation is highly predictable under the corpus model'
             |      ELSE text END AS text
             |  FROM documents),
             |t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM planted),
             |v AS (
             |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             |  FROM (SELECT unnest(t) AS tok FROM t0)),
             |bgs AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> struct_pack(i := i, w1 := t[i], w2 := t[i + 1]))) AS s
             |  FROM t0 WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, s.i AS i, s.w1 AS w1, s.w2 AS w2 FROM bgs),
             |cbg AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
             |  FROM bg GROUP BY 1, 2),
             |cw1 AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cw1
             |        FROM cbg GROUP BY 1),
             |terms AS (
             |  SELECT b.doc_id, b.i,
             |    CAST(floor(1e6 * ln(
             |        (CAST(c.cbg AS DOUBLE) + 1.0)
             |        / (CAST(k.cw1 AS DOUBLE) + (SELECT v FROM v))))
             |      AS BIGINT) AS q
             |  FROM bg b JOIN cbg c USING (w1, w2) JOIN cw1 k USING (w1)),
             |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
             |       FROM terms GROUP BY doc_id),
             |rk AS (
             |  SELECT doc_id, q, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY q ASC, i ASC) AS rn
             |  FROM terms),
             |sel AS (
             |  SELECT r.doc_id, nb.n,
             |    CAST(ceil(CAST(nb.n AS DOUBLE) * 0.2) AS BIGINT) AS k,
             |    CAST(sum(r.q) AS BIGINT) AS sq
             |  FROM rk r JOIN nb USING (doc_id)
             |  WHERE r.rn <= ceil(CAST(nb.n AS DOUBLE) * 0.2)
             |  GROUP BY r.doc_id, nb.n)
             |SELECT p.doc_id,
             |  coalesce(sel.n, 0) AS n_bigrams,
             |  coalesce(sel.k, 0) AS k,
             |  CASE WHEN sel.k IS NULL THEN 0.0
             |    ELSE floor((CAST(sel.sq AS DOUBLE) / 1000000.0
             |      / CAST(sel.k AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
             |    END AS mink_score
             |FROM planted p LEFT JOIN sel USING (doc_id)
             |ORDER BY p.doc_id""".stripMargin)),

    // Numericalization — the text→tensor step a training pipeline ends
    // with: a corpus-frequency vocabulary (top 512 by count desc,
    // token asc — fully ordered, so ids are engine-stable), every
    // document re-emitted as its ORDERED id array with OOV → 0, plus
    // the OOV count (the fertility/coverage signal). The vocabulary
    // relation is enum-sized (one bounded window over ~1k distinct
    // tokens), the id mapping is an explode → broadcast join →
    // ordered re-collect: only (doc, pos, id) rows shuffle, never
    // text. At 100 TB the vocab is a stage table and the re-collect
    // is the one per-doc-sized group — bounded by document length.
    // The id array is emitted array_join'd to a space-separated string
    // (the q_array_funcs precedent): the driver's pandas canonicalizer
    // cannot lexsort raw ARRAY cells, so array outputs are invisible to
    // the correctness gate. SparkEntrySpec enforces scalar-only output
    // schemas registry-wide.
    "q_token_ids" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0).as("t"))
        val counts = toks.select(explode(col("t")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val vocab = top512Vocab(counts)
        val pos = toks.select(col("doc_id"),
          posexplode(col("t")).as(Seq("pos", "tok")))
        pos.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
            array_join(transform(array_sort(collect_list(
              struct(col("pos"), coalesce(col("id"), lit(0)).as("id")))),
              x => x.getField("id").cast("string")), " ").as("ids"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM documents),
             |counts AS (
             |  SELECT tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(t) AS tok FROM t0) GROUP BY tok),
             |vocab AS (
             |  SELECT tok, id FROM (
             |    SELECT tok,
             |      CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS id
             |    FROM counts) WHERE id <= 512),
             |pos AS (
             |  SELECT doc_id, s.i AS pos, s.tok AS tok
             |  FROM (SELECT doc_id,
             |          unnest(list_transform(range(1, len(t) + 1),
             |            i -> struct_pack(i := i, tok := t[i]))) AS s
             |        FROM t0))
             |SELECT p.doc_id,
             |  CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_oov,
             |  array_to_string(list(CAST(coalesce(v.id, 0) AS VARCHAR)
             |    ORDER BY p.pos), ' ') AS ids
             |FROM pos p LEFT JOIN vocab v USING (tok)
             |GROUP BY p.doc_id
             |ORDER BY p.doc_id""".stripMargin),
      // superseded-generation bench prune (r10): the family
      // bench gate is q_train_sequences; this entry stays
      // oracle-gated every round but is no longer timed
      // timed family gate: q_train_sequences (oracle still gates this entry)
      bench = false),

    // Curriculum schedule — difficulty-ordered staged pretraining
    // (easy→hard phase assignment under token budgets, the
    // curriculum-learning data layout): per-doc difficulty is the
    // per-token unigram log-prob average (rarer tokens → more negative
    // → HARDER; ordering ascending puts common/easy text first, the
    // convention of perplexity-ordered curricula), docs order by a
    // PACKED unique key (difficulty-milli · 2^27 + doc_id — doc ids
    // stay below 2^27 even in the ×100 probe replicas, and
    // |dk| · 2^27 ≤ ~3.4e18 stays inside a long, so the packing is the
    // lexicographic (difficulty, id) order in one integer column), and the
    // cumulative token position comes from the distributed two-pass
    // PrefixSum — NOT a global single-task window; the oracle replays
    // the same cumulation AS a window, which must agree exactly.
    // Phase = 1 + (3·offset) div total ∈ {1,2,3}: exact integer
    // thirds of the token stream, never a row count (long docs shift
    // the boundary, which is the point of a TOKEN budget).
    "q_curriculum" -> Q(
      (s, dir) => {
        val lp = CorpusStats.unigramLogProb(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        // Pinned once: keyed feeds the total AND the prefix-sum
        // partitioning, and unstaged each consumer re-ran the whole
        // unigram-LM scoring pipeline over the corpus (guide §1.2).
        // The pinned relation is 4 narrow columns per document.
        val keyed = graft.plans.Materialize.stage(
          lp.select(col("doc_id"), col("n_tokens"),
            floor(col("logprob_micro").cast("double") * lit(1000.0)
              / col("n_tokens").cast("double")).cast("long").as("dk"))
            .withColumn("__key", col("dk") * lit(134217728L) + col("doc_id")))
        val tot = keyed.agg(sum(col("n_tokens")).as("tot"))
        graft.plans.PrefixSum.exclusiveOffsets(keyed, "__key", "n_tokens")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), col("n_tokens"), col("dk"),
            col("offset").as("cum_tokens_before"),
            (expr("(offset * 3) div tot") + 1).cast("int").as("phase"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |    FROM documents)
             |  WHERE length(tok) > 0),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tf),
             |c AS (
             |  SELECT doc_id, count(*) OVER (PARTITION BY tok) AS c
             |  FROM tf),
             |lp AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |    CAST(sum(CAST(floor(1e6 * (ln(CAST(c AS DOUBLE)) - ln(n.n)))
             |      AS BIGINT)) AS BIGINT) AS lpm
             |  FROM c, n GROUP BY doc_id),
             |k AS (
             |  SELECT doc_id, n_tokens,
             |    CAST(floor(CAST(lpm AS DOUBLE) * 1000
             |      / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS dk
             |  FROM lp),
             |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM k),
             |o AS (
             |  SELECT doc_id, n_tokens, dk,
             |    coalesce(CAST(sum(n_tokens) OVER (ORDER BY dk, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cum_tokens_before
             |  FROM k)
             |SELECT o.doc_id, o.n_tokens, o.dk, o.cum_tokens_before,
             |  CAST((o.cum_tokens_before * 3) // tot.tot + 1 AS INT) AS phase
             |FROM o, tot ORDER BY o.doc_id""".stripMargin)),

    // Training-sequence construction — the LAST layout step before
    // tensors: every document's id stream (same top-512 vocab as
    // q_token_ids) plus an EOS separator (−1) concatenates in doc_id
    // order into one global token stream, chunked into fixed 128-token
    // sequences (documents cross sequence boundaries, the standard
    // packed-LM layout; the final partial sequence stays unpadded).
    // The global offset each document needs is a distributed TWO-PASS
    // prefix sum (plans/PrefixSum: per-partition totals → driver
    // cumulate → broadcast bases + per-partition windows) — NOT an
    // unpartitioned window funneling the corpus through one task; the
    // only single-task structure anywhere is the partitions-sized
    // totals collect.
    "q_train_sequences" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0).as("t"))
        val counts = toks.select(explode(col("t")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val vocab = top512Vocab(counts)
        val posIds = toks
          .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
          .join(broadcast(vocab), Seq("tok"), "left")
          .select(col("doc_id"), col("pos"),
            coalesce(col("id"), lit(0)).as("id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          posIds.count() // eager fill: feeds perDoc AND the final union
          val perDoc = posIds.groupBy(col("doc_id"))
            .agg((count(lit(1)) + 1L).as("w")) // +1 for the EOS token
          val offs = graft.plans.PrefixSum
            .exclusiveOffsets(perDoc, "doc_id", "w")
            .select(col("doc_id"), col("offset"))
          val allRows = posIds.unionByName(
            perDoc.select(col("doc_id"), (col("w") - 1L).cast("int").as("pos"),
              lit(-1).as("id")))
          allRows.join(offs, Seq("doc_id"))
            .select(col("doc_id"), (col("offset") + col("pos")).as("p"),
              col("id"))
            .groupBy(expr("p div 128").as("seq_id"))
            .agg(count(lit(1)).as("n_tokens"),
              countDistinct(col("doc_id")).as("n_docs"),
              array_join(transform(
                array_sort(collect_list(struct(col("p"), col("id")))),
                x => x.getField("id").cast("string")), " ").as("ids"))
            .orderBy(col("seq_id"))
            .transform(graft.plans.Materialize.stage)
        } finally posIds.unpersist(false)
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM documents),
             |counts AS (
             |  SELECT tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(t) AS tok FROM t0) GROUP BY tok),
             |vocab AS (
             |  SELECT tok, id FROM (
             |    SELECT tok,
             |      CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS id
             |    FROM counts) WHERE id <= 512),
             |pos AS (
             |  SELECT doc_id, s.i AS i, s.tok AS tok
             |  FROM (SELECT doc_id,
             |          unnest(list_transform(range(1, len(t) + 1),
             |            i -> struct_pack(i := i, tok := t[i]))) AS s
             |        FROM t0)),
             |pid AS (
             |  SELECT p.doc_id, p.i - 1 AS pos, coalesce(v.id, 0) AS id
             |  FROM pos p LEFT JOIN vocab v USING (tok)),
             |perdoc AS (
             |  SELECT doc_id, CAST(count(*) + 1 AS BIGINT) AS w
             |  FROM pid GROUP BY doc_id),
             |offs AS (
             |  SELECT doc_id,
             |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS off
             |  FROM perdoc),
             |allr AS (
             |  SELECT doc_id, pos, id FROM pid
             |  UNION ALL
             |  SELECT doc_id, w - 1 AS pos, -1 AS id FROM perdoc),
             |g AS (
             |  SELECT a.doc_id, o.off + a.pos AS p, a.id
             |  FROM allr a JOIN offs o USING (doc_id))
             |SELECT CAST(p // 128 AS BIGINT) AS seq_id,
             |  CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY p), ' ')
             |    AS ids
             |FROM g GROUP BY seq_id
             |ORDER BY seq_id""".stripMargin)),

    // T5/UL2-style SPAN CORRUPTION — the denoising-objective layout
    // step: ~1/7 of each document's 3-token spans mask out, the input
    // keeps one sentinel token per masked span, and the target is the
    // sentinel-delimited concatenation of exactly the masked spans.
    // Masking is a salted md5 of (doc, span) — deterministic, so both
    // engines build the identical example pair and the output can be
    // fingerprinted. Span machinery is pure windows over the token
    // relation (sentinel index = dense_rank over a doc's masked spans;
    // span start = pos ≡ 0 mod 3); the rebuilt sequences use the
    // ordered re-collect the numericalization family established.
    // One token explode, shuffles only on doc_id.
    "q_span_corruption" -> Q(
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
          // spread the explode + per-row md5 masking below
          // (Skew.fanOutSmall; identity at scale)
          .transform(graft.plans.Skew.fanOutSmall)
          .select(col("doc_id"), posexplode(
            filter(split(trim(col("text")), "\\s+"), t => length(t) > 0))
            .as(Seq("pos", "tok")))
          .withColumn("g", expr("pos div 3"))
        // Pinned once: t2 feeds FOUR subtrees (masked rows twice, the
        // unmasked input rows, the per-doc token count), and unstaged
        // each re-ran the explode + per-group md5 masking kernel over
        // the corpus (guide §1.2) — the very kernel the fan-out above
        // exists to spread.
        val t2 = graft.plans.Materialize.stage(toks.withColumn("m",
          pmod(graft.text.Dedup.md5Hash60(concat(lit("t5:"),
            col("doc_id").cast("string"), lit(":"), col("g").cast("string"))),
            lit(7L)) === 0))
        val wSpan = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("g"))
        // dense_rank runs over ONLY the masked rows (rank among masked
        // spans — unmasked groups must not advance sentinel numbering)
        // also pinned: two consumers (sentinel input rows + the target
        // side), each of which re-ran the filter + rank window
        val maskedRows = graft.plans.Materialize.stage(
          t2.filter(col("m"))
            .withColumn("k", dense_rank().over(wSpan) - 1))
        val inputRows = t2.filter(!col("m"))
          .select(col("doc_id"), col("pos"), col("tok"))
          .unionByName(maskedRows.filter(col("pos") === col("g") * 3)
            .select(col("doc_id"), col("pos"),
              concat(lit("<extra_id_"), col("k").cast("string"), lit(">"))
                .as("tok")))
        val input = inputRows.groupBy(col("doc_id"))
          .agg(array_join(transform(array_sort(collect_list(
            struct(col("pos"), col("tok")))), x => x.getField("tok")), " ")
            .as("corrupted"))
        val target = maskedRows
          .select(col("doc_id"), col("pos"), col("k"),
            when(col("pos") === col("g") * 3,
              concat(lit("<extra_id_"), col("k").cast("string"), lit("> "),
                col("tok"))).otherwise(col("tok")).as("tt"))
          .groupBy(col("doc_id"))
          .agg(array_join(transform(array_sort(collect_list(
              struct(col("pos"), col("tt")))), x => x.getField("tt")), " ")
              .as("target"),
            count(lit(1)).as("n_masked"),
            (max(col("k")) + 1).as("n_spans"))
        val nTok = t2.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
        nTok.join(input, Seq("doc_id"))
          .join(target, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
            coalesce(col("n_masked"), lit(0L)).as("n_masked"),
            md5(col("corrupted")).as("input_fp"),
            md5(coalesce(col("target"), lit(""))).as("target_fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, s.i - 1 AS pos, s.tok AS tok,
             |    (s.i - 1) // 3 AS g
             |  FROM (SELECT doc_id,
             |          unnest(list_transform(range(1, len(t) + 1),
             |            i -> struct_pack(i := i, tok := t[i]))) AS s
             |        FROM (SELECT doc_id,
             |                list_filter(string_split_regex(trim(text),
             |                  '\s+'), x -> length(x) > 0) AS t
             |              FROM documents))),
             |t2 AS (
             |  SELECT *,
             |    ('0x' || substr(md5('t5:' || doc_id || ':' || g), 1, 15))
             |      ::BIGINT % 7 = 0 AS m
             |  FROM toks),
             |mrows AS (
             |  SELECT doc_id, pos, tok, g,
             |    dense_rank() OVER (PARTITION BY doc_id ORDER BY g) - 1 AS k
             |  FROM t2 WHERE m),
             |irows AS (
             |  SELECT doc_id, pos, tok FROM t2 WHERE NOT m
             |  UNION ALL
             |  SELECT doc_id, pos, '<extra_id_' || k || '>' AS tok
             |  FROM mrows WHERE pos = g * 3),
             |input AS (
             |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS corrupted
             |  FROM irows GROUP BY doc_id),
             |target AS (
             |  SELECT doc_id,
             |    string_agg(CASE WHEN pos = g * 3
             |      THEN '<extra_id_' || k || '> ' || tok ELSE tok END,
             |      ' ' ORDER BY pos) AS target,
             |    CAST(count(*) AS BIGINT) AS n_masked,
             |    CAST(max(k) + 1 AS BIGINT) AS n_spans
             |  FROM mrows GROUP BY doc_id),
             |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
             |       FROM t2 GROUP BY doc_id)
             |SELECT nt.doc_id, nt.n_tokens,
             |  coalesce(tg.n_spans, 0) AS n_spans,
             |  coalesce(tg.n_masked, 0) AS n_masked,
             |  md5(i.corrupted) AS input_fp,
             |  md5(coalesce(tg.target, '')) AS target_fp
             |FROM nt JOIN input i USING (doc_id)
             |LEFT JOIN target tg USING (doc_id)
             |ORDER BY nt.doc_id""".stripMargin)),

    // Cross-document shared-FRAME detection — the partial-content-
    // reuse screen whole-payload hashing can't see (the video/audio
    // near-dup analogue: two files sharing an intro segment hash
    // differently as wholes but identically frame by frame). Payloads
    // slice into fixed 256-byte frames (multimodal/Binary.sampleFrames
    // — the decoder-seek plumbing), each frame keys by its exact bytes
    // (hex — charset-proof against multi-byte splits at frame
    // boundaries, the q_media_frames stance), and frames appearing in
    // MORE THAN ONE document are reported with their spread. The 15
    // planted docs share one leading 256-byte frame; natural text
    // produces no 256-byte collisions, so the planted group is the
    // signal and every other row is honest corpus structure. Map-side
    // slicing + one shuffle on the frame key; no pairwise comparison.
    "q_media_frame_dedup" -> Q(
      (s, dir) => {
        val intro = "shared leading media segment " // 29 chars
        val template = (intro * 9).take(256) // exactly one frame
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 15, concat(lit(template), col("text")))
              .otherwise(col("text")).as("text"))
        val media = graft.multimodal.Binary.mediaTable(planted)
        graft.multimodal.Binary.sampleFrames(media, frameBytes = 256, nFrames = 4)
          .select(col("doc_id"), lower(hex(col("frame_bytes"))).as("fh"))
          .groupBy(col("fh"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_frames"),
            min(col("doc_id")).as("min_doc"))
          .filter(col("n_docs") > 1)
          .select(md5(col("fh")).as("frame_sig"), col("n_docs"),
            col("n_frames"), col("min_doc"))
          .orderBy(col("frame_sig"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 15
             |      THEN substr(repeat('shared leading media segment ', 9),
             |             1, 256) || text
             |      ELSE text END AS text
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, lower(hex(encode(text))) AS h,
             |    octet_length(encode(text)) AS nb
             |  FROM planted),
             |fr AS (
             |  SELECT doc_id,
             |    substr(h, CAST(g.g * 512 + 1 AS INT), 512) AS fh
             |  FROM m, range(4) g(g)
             |  WHERE nb > g.g * 256)
             |SELECT md5(fh) AS frame_sig,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_frames,
             |  min(doc_id) AS min_doc
             |FROM fr GROUP BY fh HAVING count(DISTINCT doc_id) > 1
             |ORDER BY frame_sig""".stripMargin),
      // timed family gate: q_media_phash (oracle still gates this entry)
      bench = false),

    // Global shard layout — the file-stitching planner: every document
    // is assigned to the output shard its global token OFFSET starts
    // in (shards of 8192 tokens, whole docs never split — the
    // counterpart of q_train_sequences' token-exact packing), and the
    // answer is the per-shard manifest a layout job hands the writer:
    // doc count, token count, id range. The global offset is the
    // distributed two-pass prefix sum (plans/PrefixSum — per-partition
    // totals → driver cumulate → broadcast bases), NOT an
    // unpartitioned window; this is PrefixSum's second production
    // consumer, exercising it on a weight relation (token counts)
    // rather than id streams.
    "q_shard_layout" -> Q(
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(filter(split(trim(lower(col("text"))), "\\s+"),
              t => length(t) > 0)).cast("long").as("w"))
        graft.plans.PrefixSum.exclusiveOffsets(toks, "doc_id", "w")
          .select(col("doc_id"), col("w"),
            expr("offset div 8192").as("shard_id"))
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("w")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("shard_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(
             |      string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0)) AS BIGINT) AS w
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, w,
             |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS off
             |  FROM t)
             |SELECT CAST(off // 8192 AS BIGINT) AS shard_id,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(w) AS BIGINT) AS n_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM o GROUP BY shard_id
             |ORDER BY shard_id""".stripMargin)),

    // Seeded epoch shuffle — the deterministic global permutation a
    // training run needs per epoch: order the corpus by
    // md5(seed ‖ ':' ‖ doc_id) and assign each document its 0-based
    // global position. Hash-ordering gives a reproducible, resumable
    // shuffle with NO materialized permutation table and no
    // coordination — any worker can recompute any document's position
    // from (seed, doc_id) alone — and changing the seed re-permutes the
    // corpus for the next epoch. The position assignment is
    // plans/PrefixSum over the hash ordering (range-partition on the
    // hash → per-partition totals → broadcast bases), NOT a global
    // row_number window: the single-task sort that window would funnel
    // 100 TB through is the exact anti-pattern this entry exists to
    // displace. Two epochs run to pin that the permutations are
    // (a) deterministic per seed and (b) different across seeds —
    // PlanSpec gates the no-single-task-sort shape, the oracle replays
    // both permutations exactly via row_number in DuckDB.
    "q_epoch_shuffle" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit(1L).as("one"))
        def pos(seed: String, as: String) =
          graft.plans.PrefixSum.exclusiveOffsets(
              docs.withColumn("h",
                md5(concat(lit(seed + ":"), col("doc_id").cast("string")))),
              "h", "one")
            .select(col("doc_id"), col("offset").as(as))
        pos("e0", "pos_e0").join(pos("e1", "pos_e1"), Seq("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    md5('e0:' || doc_id) AS h0, md5('e1:' || doc_id) AS h1
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(row_number() OVER (ORDER BY h0) - 1 AS BIGINT) AS pos_e0,
             |  CAST(row_number() OVER (ORDER BY h1) - 1 AS BIGINT) AS pos_e1
             |FROM t ORDER BY doc_id""".stripMargin)),

    // Sequence-length bucketing — the batching layout between naive
    // pad-to-global-max (every batch pays the longest doc in the
    // corpus) and token-exact packing (q_train_sequences, which
    // splits documents): docs grouped into power-of-2 length buckets
    // [16..8192] and padded only to their bucket width, keeping
    // documents intact while bounding pad waste to <50% per bucket by
    // construction. The entry emits the per-bucket manifest a batch
    // scheduler consumes — doc count, real tokens, pad waste at the
    // bucket width, batch count at B=8 — plus the corpus-wide waste
    // the bucketing AVOIDS (pad-to-max delta). Bucket choice is an
    // integer CASE ladder, not float log2 (exact powers of two would
    // sit on the rounding boundary); one map pass + one ~10-group
    // aggregate, no shuffle beyond it.
    "q_length_buckets" -> Q(
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(filter(split(trim(lower(col("text"))), "\\s+"),
              t => length(t) > 0)).cast("long").as("n"))
        val width = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L,
          4096L).foldRight(lit(8192L): org.apache.spark.sql.Column) {
            (b, rest) => when(col("n") <= b, lit(b)).otherwise(rest)
          }
        // ONE corpus scan: the global max (for the pad-to-max baseline)
        // is recovered post-aggregation as max(bucket max) over the
        // ~10-row bucket relation — an unpartitioned window is fine
        // THERE (the q_classifier_auc_hist rule: windows may be global
        // only when their input cardinality is corpus-independent) —
        // and padmax_waste folds out of (n_docs, n_tokens) exactly.
        val wAll = org.apache.spark.sql.expressions.Window.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        toks.select(col("doc_id"), col("n"), width.as("w"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("n_tokens"),
            sum(col("w") - col("n")).as("pad_waste"),
            ((count(lit(1)) + 7) / 8).cast("long").as("n_batches"),
            max(col("n")).as("bmax"))
          .withColumn("padmax_waste",
            col("n_docs") * max(col("bmax")).over(wAll) - col("n_tokens"))
          .drop("bmax")
          .orderBy(col("w"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(
             |      string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0)) AS BIGINT) AS n
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, n, CASE
             |    WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
             |    WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
             |    WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
             |    WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
             |    WHEN n <= 4096 THEN 4096 ELSE 8192 END AS w
             |  FROM t),
             |g AS (SELECT CAST(max(n) AS BIGINT) AS gmax FROM t)
             |SELECT CAST(w AS BIGINT) AS w,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS n_tokens,
             |  CAST(sum(w - n) AS BIGINT) AS pad_waste,
             |  CAST((count(*) + 7) // 8 AS BIGINT) AS n_batches,
             |  CAST(sum(g.gmax - n) AS BIGINT) AS padmax_waste
             |FROM b, g GROUP BY w ORDER BY w""".stripMargin)),

    // Cross-source overlap matrix — the snapshot-overlap report crawl
    // curation runs before merging sources (how much of snapshot B is
    // already in snapshot A decides dedup order and priority): exact
    // fingerprints keyed by md5, per-fingerprint distinct sources,
    // every unordered source pair counted once per shared content.
    // 30 planted docs spread 10 contents across three synthetic
    // sources so each pair shares exactly 10. Scale shape: only the
    // (fingerprint, source) relation — never text — shuffles; the
    // pair expansion is a self-equi-join on the fingerprint whose
    // per-key cardinality is the source count (bounded, ~dozens), not
    // the corpus; q_cross_dedup is the near-dup counterpart of the
    // same ingest question.
    "q_source_overlap" -> Q(
      (s, dir) => {
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 30,
              concat(lit("s"), (col("doc_id") % 3).cast("string")))
              .otherwise(col("source")).as("src"),
            when(col("doc_id") < 30,
              concat(lit("shared overlap content "),
                (col("doc_id") % 10).cast("string")))
              .otherwise(col("text")).as("t"))
        val fp = planted.select(md5(col("t")).as("fp"), col("src")).distinct()
        fp.as("a").join(fp.as("b"),
            col("a.fp") === col("b.fp") && col("a.src") < col("b.src"))
          .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
          .agg(countDistinct(col("a.fp")).as("n_shared"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 30 THEN 's' || (doc_id % 3)
             |      ELSE source END AS src,
             |    CASE WHEN doc_id < 30
             |      THEN 'shared overlap content ' || (doc_id % 10)
             |      ELSE text END AS t
             |  FROM documents),
             |fp AS (SELECT DISTINCT md5(t) AS fp, src FROM planted)
             |SELECT a.src AS src_a, b.src AS src_b,
             |  CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
             |FROM fp a JOIN fp b ON a.fp = b.fp AND a.src < b.src
             |GROUP BY a.src, b.src ORDER BY src_a, src_b""".stripMargin)),

    // Perceptual-hash grouping over MEDIA payloads: the byte-value
    // histogram (the real multimodal featurizer, no stub) at 64
    // buckets collapses to a sign signature against the OCCUPIED-MEAN
    // share — bit b set when cnt_b · occ ≥ n, an exact integer
    // comparison — the pHash stance (coefficients vs their central
    // tendency). Threshold choice was measured, not assumed: a global
    // mean over 16 coarse buckets grouped the ENTIRE ASCII corpus into
    // one signature (no discrimination), and a per-doc MEDIAN over the
    // ~8 occupied letter buckets flipped on ±1-byte perturbations (the
    // median element itself moved); the occupied-mean sits far from
    // the clustered letter counts, so it discriminates across natural
    // docs (17 byte-bucketed groups at sf0.01) while tolerating small
    // byte shifts —
    // the 20 planted payloads, perturbed by 0–2 trailing bytes, share
    // ONE signature, which is what separates a PERCEPTUAL hash from
    // q_binary_meta's exact sha2.
    //
    // Plan shape: the whole signature is ONE map-only projection — the
    // native graft_bytehist kernel (payload → 64-count vector in one
    // byte pass) followed by array folds for occ/n/bit-set — then a
    // single signature-keyed shuffle. The r9 form unrolled the
    // histogram per BYTE (explode + two groupBys + a join back:
    // 3.8 s, scaling exponent 0.74); the vector form shuffles one row
    // per document. The oracle buckets BYTES of the utf-8 encoding
    // (encode + hex pairs), matching the Spark side exactly even on
    // non-ASCII payloads — the old unicode(code-point) oracle agreed
    // only on ASCII fixtures.
    "q_media_phash" -> Q(
      (s, dir) => {
        val template = "shared media payload template bytes carrying a" +
          " stable byte value distribution across its whole length for" +
          " perceptual signature grouping"
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 20,
              concat(lit(template), repeat(lit(" e"), (col("doc_id") % 3).cast("int"))))
              .otherwise(col("text")).as("text"))
        val media = graft.multimodal.Binary.mediaTable(planted)
        media
          // spread the per-payload byte-histogram kernel
          // (Skew.fanOutSmall; identity at scale)
          .transform(graft.plans.Skew.fanOutSmall)
          .select(col("doc_id"),
            call_function("graft_bytehist", col("payload"), lit(64)).as("v"))
          .select(col("doc_id"), col("v"),
            aggregate(col("v"), lit(0L), (a, c) => a + c).as("n"),
            size(filter(col("v"), c => c > 0)).cast("long").as("occ"))
          .filter(col("n") > 0) // empty payloads contribute no signature
          .select(col("doc_id"),
            expr("""aggregate(
                   |  transform(v, (c, i) ->
                   |    IF(c * occ >= n, shiftleft(1L, i), 0L)),
                   |  0L, (a, x) -> a + x)""".stripMargin).as("phash"))
          .groupBy(col("phash"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
          .filter(col("n_docs") > 1)
          .orderBy(col("phash"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 20
             |      THEN 'shared media payload template bytes carrying a stable byte value distribution across its whole length for perceptual signature grouping'
             |           || repeat(' e', CAST(doc_id % 3 AS INT))
             |      ELSE text END AS text
             |  FROM documents),
             |media AS (
             |  SELECT doc_id, hex(encode(text)) AS h,
             |    octet_length(encode(text)) AS nb
             |  FROM planted WHERE octet_length(encode(text)) > 0),
             |bytes AS (
             |  SELECT doc_id, unnest(list_transform(range(1, nb + 1),
             |    i -> ('0x' || substr(h, CAST(2*i - 1 AS INT), 2))::BIGINT))
             |    AS code
             |  FROM media),
             |hist AS (
             |  SELECT doc_id, code // 4 AS bucket,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM bytes GROUP BY doc_id, bucket),
             |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS occ,
             |         CAST(sum(cnt) AS BIGINT) AS n
             |       FROM hist GROUP BY doc_id),
             |ph AS (
             |  SELECT h.doc_id,
             |    CAST(sum(CASE WHEN h.cnt * s.occ >= s.n
             |      THEN (CAST(1 AS BIGINT) << h.bucket) ELSE 0 END) AS BIGINT)
             |      AS phash
             |  FROM hist h JOIN st s USING (doc_id)
             |  GROUP BY h.doc_id)
             |SELECT phash, CAST(count(*) AS BIGINT) AS n_docs,
             |  min(doc_id) AS min_doc
             |FROM ph GROUP BY phash HAVING count(*) > 1
             |ORDER BY phash""".stripMargin)),

    // URL canonicalization + canonical-URL dedup — the crawl-curation
    // step that runs BEFORE content dedup (two snapshots of one page
    // differ in tracking params/fragment/host case long before their
    // bytes are compared). Fixture: deterministic URLs synthesized
    // from (source, doc_id) with the four classic variance sources
    // planted — upper-cased scheme+host (%2), trailing slash (%7),
    // utm_* tracking params (%4=0) vs a MEANINGFUL ?page param (%4=1,
    // which must SURVIVE), fragment (%5). Canonicalization is a fixed
    // regexp ladder (strip fragment → strip utm_* params → strip
    // dangling ?/& → lowercase scheme+host only, path untouched →
    // strip the slash before the query → strip trailing slash), all patterns in the RE2-safe subset both
    // engines execute identically (inline (?i), no lookaround). One
    // codegen'd map pass + one hash shuffle on the canonical key —
    // URL dedup at 100 TB is exactly this shape (the key relation is
    // ~60 bytes/row; text never moves).
    "q_url_canonical" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val host = concat(lit("https://www."), col("source"),
          lit(".example.com"))
        val url = concat(
          when(col("doc_id") % 2 === 0, upper(host)).otherwise(host),
          lit("/docs/"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit("?utm_source=feed&utm_id="),
              col("doc_id").cast("string")))
            .when(col("doc_id") % 4 === 1, lit("?page=2"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
        val c1 = regexp_replace(col("url"), "#.*$", "")
        val c2 = regexp_replace(c1, "utm_[^&#]*&?", "")
        val c3 = regexp_replace(c2, "[?&]$", "")
        val c4 = concat(
          lower(regexp_extract(c3, "(?i)^(https?://[^/]+)", 1)),
          regexp_replace(c3, "(?i)^https?://[^/]+", ""))
        val c4b = regexp_replace(c4, "/\\?", "?")
        val c5 = regexp_replace(c4b, "/$", "")
        docs.select(col("doc_id"), url.as("url"))
          .select(col("doc_id"), col("url"), c5.as("canonical"))
          .groupBy(col("canonical"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("url")).as("n_variants"),
            min(col("doc_id")).as("min_doc"))
          .orderBy(col("canonical"))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    (CASE WHEN doc_id % 2 = 0
             |       THEN upper('https://www.' || source || '.example.com')
             |       ELSE 'https://www.' || source || '.example.com' END)
             |    || '/docs/' || (doc_id % 50)
             |    || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
             |    || (CASE WHEN doc_id % 4 = 0
             |          THEN '?utm_source=feed&utm_id=' || doc_id
             |          WHEN doc_id % 4 = 1 THEN '?page=2' ELSE '' END)
             |    || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END)
             |      AS url
             |  FROM documents),
             |c1 AS (SELECT doc_id, url,
             |         regexp_replace(url, '#.*$', '') AS u FROM raw),
             |c2 AS (SELECT doc_id, url,
             |         regexp_replace(u, 'utm_[^&#]*&?', '', 'g') AS u
             |       FROM c1),
             |c3 AS (SELECT doc_id, url,
             |         regexp_replace(u, '[?&]$', '') AS u FROM c2),
             |c4 AS (SELECT doc_id, url,
             |         lower(regexp_extract(u, '(?i)^(https?://[^/]+)', 1))
             |           || regexp_replace(u, '(?i)^https?://[^/]+', '')
             |           AS u
             |       FROM c3),
             |c4b AS (SELECT doc_id, url,
             |          regexp_replace(u, '/\?', '?') AS u FROM c4),
             |c5 AS (SELECT doc_id, url,
             |         regexp_replace(u, '/$', '') AS canonical FROM c4b)
             |SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
             |  min(doc_id) AS min_doc
             |FROM c5 GROUP BY canonical
             |ORDER BY canonical""".stripMargin)),

    // Safety blocklist screening — the keyword-filter stage every
    // training-data pipeline runs between ingest and quality scoring:
    // an external list of banned terms, each document checked for
    // occurrences, flagged docs reported per source and per pattern
    // (the monitoring report the filter emits; the keep set is the
    // anti-join of the flagged relation). The natural corpus has a
    // 31-token vocabulary, so the fixture PLANTS three contraband
    // terms on disjoint doc_id moduli (the decontamination-entry
    // precedent); a fourth blocklist term is planted NOWHERE so the
    // zero-hit row (n_docs=0, min_doc=-1) is exercised. Matching is
    // tokenizer-exact (the library's lower/trim/\s+ convention — a
    // blocklist that substring-matches flags "scrapbook" for "rap");
    // the membership test is an enum-sized isin = one codegen'd map
    // filter over the token stream, no join. At 100 TB the list is a
    // broadcast set (thousands of terms → an Aho-Corasick pass in a
    // native expression); the flagged relation that shuffles is
    // (doc_id, source, tok) for HITS ONLY — bounded by the flag rate,
    // never the corpus — pinned once for its two consumer aggs.
    "q_blocklist" -> Q(
      (s, dir) => {
        import s.implicits._
        val pats = Seq("contrabandalpha", "contrabandbeta",
          "contrabandgamma", "contrabanddelta")
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"), col("source"),
          concat(coalesce(col("text"), lit("")),
            when(col("doc_id") % 7 === 3, lit(" contrabandalpha"))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 5,
              lit(" contrabandbeta contrabandbeta")).otherwise(lit("")),
            when(col("doc_id") % 13 === 8, lit(" contrabandgamma"))
              .otherwise(lit(""))).as("text"))
        val hits = planted.select(col("doc_id"), col("source"),
            explode(filter(split(trim(lower(col("text"))), "\\s+"),
              t => length(t) > 0)).as("tok"))
          .filter(col("tok").isin(pats: _*))
        val pinned = graft.plans.Materialize.stage(hits)
        // aggregate BEFORE joining the pattern list: the join inputs are
        // then both enum-sized (a broadcast hash join), and the zero-hit
        // pattern row materializes from the left join's null side
        val perTok = pinned.groupBy(col("tok").as("pattern"))
          .agg(countDistinct(col("doc_id")).as("nd"),
            count(lit(1)).as("nh"), min(col("doc_id")).as("md"))
        val perPat = pats.toDF("pattern")
          .join(broadcast(perTok), Seq("pattern"), "left")
          .select(col("pattern"), lit("__all__").as("source"),
            coalesce(col("nd"), lit(0L)).as("n_docs"),
            coalesce(col("nh"), lit(0L)).as("n_hits"),
            coalesce(col("md"), lit(-1L)).as("min_doc"))
        val perSrc = pinned.groupBy(col("source"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_hits"), min(col("doc_id")).as("min_doc"))
          .select(lit("__any__").as("pattern"), col("source"),
            col("n_docs"), col("n_hits"), col("min_doc"))
        perPat.unionByName(perSrc)
          .orderBy(col("pattern"), col("source"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, source,
             |    coalesce(text, '')
             |    || (CASE WHEN doc_id % 7 = 3
             |          THEN ' contrabandalpha' ELSE '' END)
             |    || (CASE WHEN doc_id % 11 = 5
             |          THEN ' contrabandbeta contrabandbeta' ELSE '' END)
             |    || (CASE WHEN doc_id % 13 = 8
             |          THEN ' contrabandgamma' ELSE '' END) AS text
             |  FROM documents),
             |toks AS (
             |  SELECT doc_id, source,
             |    unnest(list_filter(
             |      string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0)) AS tok
             |  FROM planted),
             |hits AS (
             |  SELECT * FROM toks WHERE tok IN ('contrabandalpha',
             |    'contrabandbeta', 'contrabandgamma', 'contrabanddelta')),
             |pats AS (
             |  SELECT * FROM (VALUES ('contrabandalpha'),
             |    ('contrabandbeta'), ('contrabandgamma'),
             |    ('contrabanddelta')) p(pattern)),
             |perpat AS (
             |  SELECT p.pattern, '__all__' AS source,
             |    CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_docs,
             |    CAST(count(h.doc_id) AS BIGINT) AS n_hits,
             |    coalesce(min(h.doc_id), -1) AS min_doc
             |  FROM pats p LEFT JOIN hits h ON h.tok = p.pattern
             |  GROUP BY p.pattern),
             |persrc AS (
             |  SELECT '__any__' AS pattern, source,
             |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |    CAST(count(*) AS BIGINT) AS n_hits,
             |    min(doc_id) AS min_doc
             |  FROM hits GROUP BY source)
             |SELECT * FROM perpat UNION ALL SELECT * FROM persrc
             |ORDER BY pattern, source""".stripMargin)),

    // Corpus-snapshot drift monitor — the distribution-shift report a
    // pipeline runs when a new crawl snapshot lands: Jensen-Shannon
    // divergence between the token distributions of two snapshots
    // (fixture: doc_id parity), per-token contributions plus the
    // corpus total. Snapshot B plants real drift: a NOVEL token on
    // one modulus (c_a = 0 — exercises the zero-side KL term, where
    // the contribution degenerates to 0.5·q·ln2) and an amplified
    // existing token on another, so the report ranks a new-vocabulary
    // shift above background noise. Numeric protocol is the LM
    // family's: each token's JS contribution (provably ≥ 0 by the
    // log-sum inequality) is quantized to integer NANO-units before
    // the total sum, so the corpus figure is an exact BIGINT under
    // any partitioning — the output carries ONLY exact integers
    // (counts + quantized contribution), no engine-portability risk
    // on a float column. Shape: one tokenize scan → one conditional
    // hash agg keyed by token (both snapshot counts in one pass, no
    // second corpus scan) → totals broadcast back over the
    // vocab-sized counts relation. At 100 TB the counts relation is
    // vocab-bounded (practical monitors cap to a top-k vocabulary);
    // the corpus itself is scanned exactly once.
    "q_dist_drift" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          concat(coalesce(col("text"), lit("")),
            when(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 1,
              lit(" driftnovel")).otherwise(lit("")),
            when(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0,
              lit(" join join join")).otherwise(lit(""))).as("text"))
        val toks = planted.select(col("doc_id"),
          explode(filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0)).as("tok"))
        val counts = toks.groupBy(col("tok"))
          .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
              .as("c_a"),
            sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L))
              .as("c_b"))
        val totals = counts.agg(sum(col("c_a")).as("na"),
          sum(col("c_b")).as("nb"))
        val perTok = graft.plans.Materialize.stage(
          counts.crossJoin(broadcast(totals))
            .select(col("tok").as("token"), col("c_a"), col("c_b"),
              graft.text.Drift.contribNano(col("c_a"), col("c_b"),
                col("na"), col("nb")).as("contrib_nano"),
              col("na"), col("nb")))
        val tokRows = perTok.select(col("token"), col("c_a"),
          col("c_b"), col("contrib_nano"))
        val total = perTok.groupBy(col("na"), col("nb"))
          .agg(sum(col("contrib_nano")).as("contrib_nano"))
          .select(lit("__total__").as("token"), col("na").as("c_a"),
            col("nb").as("c_b"), col("contrib_nano"))
        tokRows.unionByName(total).orderBy(col("token"))
      },
      Some(s"""WITH planted AS (
             |  SELECT doc_id,
             |    coalesce(text, '')
             |    || (CASE WHEN doc_id % 2 = 1 AND doc_id % 5 = 1
             |          THEN ' driftnovel' ELSE '' END)
             |    || (CASE WHEN doc_id % 2 = 1 AND doc_id % 3 = 0
             |          THEN ' join join join' ELSE '' END) AS text
             |  FROM documents),
             |toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(
             |      string_split_regex(trim(lower(text)), '\\s+'),
             |      x -> length(x) > 0)) AS tok
             |  FROM planted),
             |counts AS (
             |  SELECT tok,
             |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c_a,
             |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c_b
             |  FROM toks GROUP BY tok),
             |totals AS (
             |  SELECT CAST(sum(c_a) AS BIGINT) AS na,
             |    CAST(sum(c_b) AS BIGINT) AS nb FROM counts),
             |contribs AS (
             |  SELECT tok AS token, c_a, c_b, na, nb,
             |    ${jsContribNanoSql("c_a", "c_b", "na", "nb")}
             |      AS contrib_nano
             |  FROM counts CROSS JOIN totals)
             |SELECT token, c_a, c_b, contrib_nano FROM contribs
             |UNION ALL
             |SELECT '__total__' AS token, na AS c_a, nb AS c_b,
             |  CAST(sum(contrib_nano) AS BIGINT) AS contrib_nano
             |FROM contribs GROUP BY na, nb
             |ORDER BY token""".stripMargin)),

    // STREAMING drift monitor — q_dist_drift's divergence arithmetic
    // (the SAME graft.text.Drift.contribNano / jsContribNanoSql pair,
    // one definition for both surfaces) run as an INGESTION gate: the
    // reference token distribution is a persisted stage table (the
    // model-as-relation stance of q_stream_classify), and each
    // arriving micro-batch is scored against it in foreachBatch — the
    // per-batch JS divergence appended to a results table, which is
    // what a production monitor alerts on before letting a crawl wave
    // into the corpus. Two real micro-batches (mtime-ordered files,
    // maxFilesPerTrigger=1): wave 1 is natural corpus text (small
    // background divergence), wave 3 carries a planted novel token on
    // every document (the new-vocabulary alert). Result rows key by
    // the DATA-derived wave id, so the answer is batch-slicing-
    // independent; the oracle replays both waves batch-side. Per
    // batch nothing shuffles but the (wave, tok) count relation —
    // vocab-bounded — and the reference join is a broadcast.
    "q_stream_drift" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        def toks(df: org.apache.spark.sql.DataFrame) =
          df.select((col("doc_id") % 4).as("wave"),
            explode(filter(split(trim(lower(col("text"))), "\\s+"),
              t => length(t) > 0)).as("tok"))
        val refCounts = toks(docs.filter(col("doc_id") % 2 === 0))
          .groupBy(col("tok")).agg(count(lit(1)).as("c_a"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-stream-drift")
        val refTable = graft.catalog.ParquetTable(
          s, "drift_ref", s"$tmp/ref", refCounts.schema)
        refTable.overwrite(refCounts)
        val arriving = docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 4 === 3,
              concat(coalesce(col("text"), lit("")), lit(" streamnovel")))
              .otherwise(col("text")).as("text"))
        def score(batch: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val ref = refTable.read()
          val naRow = ref.agg(sum(col("c_a")).as("na"))
          val bc = toks(batch).groupBy(col("wave"), col("tok"))
            .agg(count(lit(1)).as("c_b"))
          val bt = bc.groupBy(col("wave")).agg(sum(col("c_b")).as("nb"))
          // support grid = ref vocabulary × the batch's waves: the
          // WAVE list broadcasts (batch-bounded, a handful of rows)
          // and the vocab relation streams map-side — never the other
          // way around, since the vocabulary is corpus-derived
          val support = ref.select(col("tok"))
            .crossJoin(broadcast(bc.select(col("wave")).distinct()))
            .unionByName(bc.select(col("wave"), col("tok"))).distinct()
          support.join(broadcast(ref), Seq("tok"), "left")
            .join(bc, Seq("wave", "tok"), "left")
            .join(broadcast(bt), Seq("wave"))
            .crossJoin(broadcast(naRow))
            .select(col("wave"), col("nb"),
              graft.text.Drift.contribNano(coalesce(col("c_a"), lit(0L)),
                coalesce(col("c_b"), lit(0L)), col("na"), col("nb"))
                .as("cn"))
            .groupBy(col("wave"), col("nb"))
            .agg(sum(col("cn")).as("js_nano"))
        }
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
                     mtimeMs: Long): Unit = {
          val stage = tmp.resolve(s"stage_$name")
          df.coalesce(1).write.parquet(stage.toString)
          val part = graft.ingest.FileOps.listDir(stage)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          val dst = src.resolve(s"$name.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
        }
        writeOne(arriving.filter(col("doc_id") % 4 === 1), "a",
          1000000000000L)
        writeOne(arriving.filter(col("doc_id") % 4 === 3), "b",
          1000000060000L)
        val ss = graft.queries.StreamFixtures.childSession(s, 4)
        val resTable = graft.catalog.ParquetTable(
          ss, "drift_res", s"$tmp/res", score(arriving.limit(0)).schema)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 1),
            s"$tmp/ckpt") { (batch, _) =>
          resTable.append(score(batch))
        }
        val out = graft.plans.Materialize.stage(
          resTable.read().orderBy(col("wave")))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(s"""WITH ref AS (
              |  SELECT tok, CAST(count(*) AS BIGINT) AS c_a FROM (
              |    SELECT unnest(list_filter(
              |      string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> length(x) > 0)) AS tok
              |    FROM documents WHERE doc_id % 2 = 0)
              |  GROUP BY tok),
              |nat AS (SELECT CAST(sum(c_a) AS BIGINT) AS na FROM ref),
              |arriving AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 4 = 3
              |      THEN coalesce(text, '') || ' streamnovel'
              |      ELSE text END AS text
              |  FROM documents WHERE doc_id % 2 = 1),
              |btoks AS (
              |  SELECT doc_id % 4 AS wave,
              |    unnest(list_filter(
              |      string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> length(x) > 0)) AS tok
              |  FROM arriving),
              |bc AS (SELECT wave, tok, CAST(count(*) AS BIGINT) AS c_b
              |       FROM btoks GROUP BY wave, tok),
              |bt AS (SELECT wave, CAST(sum(c_b) AS BIGINT) AS nb
              |       FROM bc GROUP BY wave),
              |support AS (
              |  SELECT w.wave, r.tok
              |  FROM (SELECT DISTINCT wave FROM bc) w CROSS JOIN ref r
              |  UNION SELECT wave, tok FROM bc),
              |j AS (
              |  SELECT s.wave, s.tok, coalesce(r.c_a, 0) AS c_a,
              |    coalesce(b.c_b, 0) AS c_b, nat.na, t.nb
              |  FROM support s
              |  LEFT JOIN ref r ON r.tok = s.tok
              |  LEFT JOIN bc b ON b.wave = s.wave AND b.tok = s.tok
              |  JOIN bt t ON t.wave = s.wave
              |  CROSS JOIN nat),
              |c AS (SELECT wave, nb,
              |        ${jsContribNanoSql("c_a", "c_b", "na", "nb")} AS cn
              |      FROM j)
              |SELECT CAST(wave AS BIGINT) AS wave, nb,
              |  CAST(sum(cn) AS BIGINT) AS js_nano
              |FROM c GROUP BY wave, nb
              |ORDER BY wave""".stripMargin),
      // timed family gate: q_stream_classify (oracle still gates this entry)
      bench = false),

    // Classifier CALIBRATION — the reliability diagram + expected
    // calibration error (ECE) a model-gated curation pipeline reports
    // next to AUC: does "p = 0.8" mean 80% of those docs are really
    // positive? Probabilities are the sigmoid of the length-normalized
    // NB margin, immediately quantized to integer MICRO-probabilities
    // (floor(p·10⁶) — one float boundary, the family's ln/exp stance),
    // then EVERYTHING is exact-integer: bin = min(q div 10⁵, 9), and
    // the per-bin |accuracy − confidence| weight REDUCES to
    // |n_pos·10⁶ − Σq| because the bin size cancels out of
    // |n_pos/n − Σq/(n·10⁶)|·(n/N) — so the ECE numerator is an exact
    // BIGINT sum under any partitioning and the only displayed doubles
    // (acc, conf, 6 dp) are pure functions of exact integers. NB is
    // deliberately OVERCONFIDENT (independence double-counts
    // evidence), so the report shows real miscalibration on the
    // planted fixture, not a trivial diagonal. Shape: the scored
    // relation reduces through ONE hash agg to ≤ 10 bin rows; the
    // corpus never shuffles beyond the training pass itself.
    "q_calibration" -> Q(
      (s, dir) => {
        val sc = graft.text.Classifier.scored(classifierFixture(s, dir),
          "doc_id", "text", classifierLabel, buckets = 4096)
        // NOT Classifier.avgMargin: that is in micro-units/token (the
        // ranking quantity, scale-free); the sigmoid needs NATS/token
        val am = col("mq").cast("double") / lit(1000000.0) /
          col("n_tok").cast("double")
        val q = floor(lit(1e6) / (lit(1.0) + exp(-am))).cast("long")
        val binned = sc.select(col("y"), q.as("q"))
          .select(col("y"), col("q"),
            least(floor(col("q") / lit(100000.0)).cast("long"), lit(9L))
              .cast("int").as("bin"))
        val perBin = binned.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
            sum(col("q")).as("sum_q"))
          .select(col("bin"), col("n"), col("n_pos"), col("sum_q"),
            abs(col("n_pos") * lit(1000000L) - col("sum_q"))
              .as("gap_micro"),
            round(col("n_pos").cast("double") / col("n").cast("double"), 6)
              .as("acc"),
            round(col("sum_q").cast("double") / col("n").cast("double")
              / lit(1e6), 6).as("conf"))
        val pinned = graft.plans.Materialize.stage(perBin)
        val total = pinned.agg(sum(col("n")).as("n"),
            sum(col("n_pos")).as("n_pos"), sum(col("sum_q")).as("sum_q"),
            sum(col("gap_micro")).as("gap_micro"))
          .select(lit(-1).as("bin"), col("n"), col("n_pos"),
            col("sum_q"), col("gap_micro"),
            round(col("n_pos").cast("double") / col("n").cast("double"), 6)
              .as("acc"),
            round(col("sum_q").cast("double") / col("n").cast("double")
              / lit(1e6), 6).as("conf"))
        pinned.unionByName(total).orderBy(col("bin"))
      },
      Some(classifierOracle(4096,
        """,
          |qq AS (
          |  SELECT doc_id, y,
          |    CAST(floor(1000000.0 / (1.0 + exp(-(CAST(mq AS DOUBLE)
          |      / 1000000.0 / CAST(n_tok AS DOUBLE))))) AS BIGINT) AS q
          |  FROM mf),
          |binned AS (
          |  SELECT y, q,
          |    CAST(least(CAST(floor(CAST(q AS DOUBLE) / 100000.0)
          |      AS BIGINT), 9) AS INT) AS bin
          |  FROM qq),
          |pb AS (
          |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(y) AS BIGINT) AS n_pos,
          |    CAST(sum(q) AS BIGINT) AS sum_q
          |  FROM binned GROUP BY bin),
          |pb2 AS (
          |  SELECT bin, n, n_pos, sum_q,
          |    CAST(abs(n_pos * 1000000 - sum_q) AS BIGINT) AS gap_micro,
          |    round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc,
          |    round(CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)
          |      / 1000000.0, 6) AS conf
          |  FROM pb)
          |SELECT bin, n, n_pos, sum_q, gap_micro, acc, conf FROM pb2
          |UNION ALL
          |SELECT -1 AS bin, CAST(sum(n) AS BIGINT) AS n,
          |  CAST(sum(n_pos) AS BIGINT) AS n_pos,
          |  CAST(sum(sum_q) AS BIGINT) AS sum_q,
          |  CAST(sum(gap_micro) AS BIGINT) AS gap_micro,
          |  round(CAST(sum(n_pos) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
          |    AS acc,
          |  round(CAST(sum(sum_q) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
          |    / 1000000.0, 6) AS conf
          |FROM pb2
          |ORDER BY bin""".stripMargin)),
      // timed family gate: q_classifier_auc_hist (oracle still gates this entry)
      bench = false)
  )
}
