package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.{Dedup, TextFunctions}

/** Text analysis + deduplication over `documents` (the LLM-pipeline
  * operator family): token counting, language ID, quality scoring,
  * fingerprinting, exact dedup, SimHash, MinHash-LSH near-dup. */
object TextQueries {

  /** documents ∪ 20 planted exact dups (whitespace-mangled copies) —
    * exercises the normalization in the fingerprint. Mirrored in the
    * oracle CTE. */
  private def withPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.filter(col("doc_id") < 20).select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(lit(" "), col("text"), lit("  ")).as("text")))
  }

  private val plantedCte =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, concat(' ', text, '  ') AS text
      |  FROM documents WHERE doc_id < 20""".stripMargin

  /** documents ∪ 20 planted near-dups (" trailing" suffix) — the
    * fixture shared by every component-based entry
    * (q_neardup_components / q_cluster_best / q_leakage_split), defined
    * ONCE so the entries and their oracles can never drift onto
    * different planted sets. */
  private[graft] def plantedTrailing(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.filter(col("doc_id") < 20).select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" trailing")).as("text")))
  }

  /** The oracle-side construction every component-based entry shares:
    * [[plantedTrailing]] as `docs2`, exact all-pairs token-2-gram
    * Jaccard ≥ 0.5 edges, recursive transitive closure, and per-doc
    * min-reachable component labels as CTE `lab(doc_id, comp_id)`.
    * Callers append their own CTEs / final SELECT after this prefix
    * (the string starts after a `WITH RECURSIVE`). ONE definition for
    * three oracles — a threshold or shingle tweak lands everywhere or
    * nowhere. */
  private val componentsCtes: String =
    """docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, concat(text, ' trailing') AS text
      |  FROM documents WHERE doc_id < 20),
      |toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM docs2),
      |grams AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS g
      |  FROM toks),
      |sc AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) AS inter,
      |    CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) AS un
      |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM sc
      |  WHERE (CASE WHEN un = 0 THEN 0.0 ELSE inter / un END) >= 0.5),
      |edges AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
      |comp AS (
      |  SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
      |lab AS (
      |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp_id
      |  FROM docs2 d LEFT JOIN comp c ON c.u = d.doc_id)""".stripMargin

  /** Constant duplicate document planted by q_attrition on one
    * doc_id modulus: 511 chars / 80 clean 5-char-average tokens / no
    * punctuation, so its quality score is exactly 1.0 and the planted
    * duplicates provably reach (and fail at) the DEDUP stage rather
    * than attriting at a scalar gate. One Scala constant interpolated
    * into both the Spark fixture and the SQL oracle — cannot drift. */
  private[queries] val constDupDoc: String =
    ("spark filter window batch merge " * 16).trim

  /** [[graft.text.TextFunctions.qualityScore]] transcribed to DuckDB —
    * shared by q_quality and q_cluster_best so the formula is pinned in
    * exactly one SQL place. `text` must be in scope. */
  private val qualityExprSql: String =
    """round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      |    + (CASE WHEN length(regexp_replace(trim(text), '\s+', '', 'g')) /
      |         greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0)
      |         BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
      |    + (1.0 - least(len(regexp_extract_all(text, '[.,;:!?]')) /
      |         greatest(CAST(length(text) AS DOUBLE), 1.0) * 5.0, 1.0))) / 3.0, 4)""".stripMargin

  /** The greedy-subword oracle construction over table `src`,
    * generated from the SAME canonical vocab the native kernel uses:
    * per DISTINCT word, a recursive CTE steps the cursor by the
    * longest matching vocab token (char fallback); `docsw` carries the
    * per-document word/subword totals. Shared by q_subword_counts and
    * q_token_budget; starts after a `WITH RECURSIVE`. */
  private def subwordCtes(src: String): String =
    s"""vocab(tok) AS (VALUES
       |    ${TextFunctions.subwordVocab.map(t => s"('$t')").mkString(", ")}),
       |wordcounts AS (
       |  SELECT doc_id, w, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
       |    FROM $src) u
       |  WHERE w <> '' GROUP BY doc_id, w),
       |dw(w) AS (SELECT DISTINCT w FROM wordcounts),
       |steps AS (
       |  SELECT w, 1 AS pos, 0 AS n FROM dw
       |  UNION ALL
       |  SELECT w, pos + coalesce((SELECT max(length(tok)) FROM vocab
       |                            WHERE tok = substr(w, pos, length(tok))), 1),
       |         n + 1
       |  FROM steps WHERE pos <= length(w)),
       |wtok AS (SELECT w, max(n) AS ntok FROM steps GROUP BY w),
       |docsw AS (
       |  SELECT d.doc_id,
       |    CAST(coalesce(sum(wc.cnt), 0) AS BIGINT) AS n_words,
       |    CAST(coalesce(sum(wc.cnt * wt.ntok), 0) AS BIGINT) AS n_subwords
       |  FROM $src d
       |  LEFT JOIN wordcounts wc ON wc.doc_id = d.doc_id
       |  LEFT JOIN wtok wt ON wt.w = wc.w
       |  GROUP BY d.doc_id)""".stripMargin

  /** 15 novel pad tokens appended to the q_containment planted copies:
    * containment of the original stays exactly 1.0 (all its grams
    * survive the append) while Jaccard drops to ~0.85 — inside LSH
    * banding recall, outside a 0.9 Jaccard threshold. */
  private val containmentPad: String =
    (1 to 15).map(i => s"padx$i").mkString(" ")

  /** The `q_bm25` query — ONE term list feeds both the Spark entry and
    * the generated oracle below, so the two can never drift. */
  private val bm25Terms = Seq("spark", "stream", "merge", "window")

  /** BM25 oracle generated from [[bm25Terms]] with the same constants
    * (k1=1.2, b=0.75, Lucene `+1` idf) and the same left-to-right
    * arithmetic composition as [[graft.text.Bm25.topDocs]], so the
    * doubles agree bit-for-bit before the 4-decimal rounding. */
  private val bm25Oracle: String = {
    val tfDefs = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n    ")
    val dfDefs = bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(",\n    ")
    val scoreSum = bm25Terms.indices.map { i =>
      s"ln((g.n_docs - g.df_$i + 0.5) / (g.df_$i + 0.5) + 1.0)" +
        s" * (d.tf_$i * 2.2) / (d.tf_$i + 1.2 * (0.25 + 0.75 * (d.dl / g.avgdl)))"
    }.mkString("\n      + ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |    $tfDefs
       |  FROM base),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    avg(CAST(dl AS DOUBLE)) AS avgdl,
       |    $dfDefs
       |  FROM d)
       |SELECT d.doc_id, round($scoreSum, 4) AS score
       |FROM d, g
       |ORDER BY score DESC, d.doc_id
       |LIMIT 20""".stripMargin
  }

  /** Per-JVM cache of built BM25 inverted-index stage dirs, keyed by
    * sf dir — the benchFn serve path builds the index at most once so
    * min-of-attempts measures the serve cost (the q_ann_ivfpq_stage
    * pattern: an index is built once and served many times). */
  private val bm25StageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage 1 of the persisted BM25 index: postings (tok, doc_id, tf)
    * sorted by tok so the serve scan's pushed IN filter prunes row
    * groups, document lengths, and the one-row corpus stats — all in
    * ParquetTable stage tables under `tmp`. */
  private def buildBm25Stage(s: SparkSession, dir: String,
                             tmp: String): String = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val (postings, doclen, stats) =
      graft.text.Bm25.buildIndex(docs, "doc_id", "text")
    val sorted = postings.repartition(col("tok")).sortWithinPartitions("tok")
    val pTable = graft.catalog.ParquetTable(
      s, "bm25_postings", s"$tmp/postings", sorted.schema)
    pTable.overwrite(sorted)
    val dTable = graft.catalog.ParquetTable(
      s, "bm25_doclen", s"$tmp/doclen", doclen.schema)
    dTable.overwrite(doclen)
    val sTable = graft.catalog.ParquetTable(
      s, "bm25_stats", s"$tmp/stats", stats.schema)
    sTable.overwrite(stats)
    tmp
  }

  /** Stage 2: serve a query from the stored index only — the corpus is
    * never scanned; the postings read carries the pushed IN filter. */
  private def serveBm25Stage(s: SparkSession, stage: String): DataFrame =
    graft.text.Bm25.topDocsIndexed(
      s.read.parquet(s"$stage/postings"),
      s.read.parquet(s"$stage/doclen"),
      s.read.parquet(s"$stage/stats"),
      "doc_id", bm25Terms, k = 20)

  /** The SSJoin fixture + plan shared by `q_setjoin_prefix` (hash-
    * order prefixes) and `q_setjoin_prefix_df` (df-order): one
    * definition so the two modes can only differ in the prefix ORDER,
    * which losslessness is independent of. */
  private def setjoinPrefixPlan(s: SparkSession, dir: String,
                                dfOrdered: Boolean): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 10).select(
        (col("doc_id") + 950000).as("doc_id"),
        concat(col("text"), lit(" sjx sjy sjz")).as("text")))
    Dedup.prefixJaccardPairs(planted, "doc_id", "text",
        thresholdMicro = 800000L, dfOrdered = dfOrdered)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force all-pairs Jaccard replay (oracle scale only) — mode-
    * independent by construction, so both prefix orders must land on
    * it identically. */
  private val setjoinPrefixOracleSql: String =
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 950000 AS doc_id,
      |    text || ' sjx sjy sjz' AS text
      |  FROM documents WHERE doc_id < 10),
      |toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM planted),
      |sets AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(t) - 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS ts
      |  FROM toks),
      |ne AS (SELECT doc_id, ts FROM sets WHERE len(ts) > 0),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
      |    CAST(len(a.ts) + len(b.ts)
      |      - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, inter * 1000000 // uni AS jaccard_micro
      |FROM pairs WHERE inter * 1000000 >= uni * 800000
      |ORDER BY id_a, id_b""".stripMargin

  /** The incremental-components fixture shared by
    * `q_components_incremental` and `q_components_compact`: historical
    * labels computed once and stored doc-sorted (IndexWriteOptions so
    * batch lookups prune), then TWO arriving pair batches applied as
    * append-only updates. The arithmetic edge classes exercise every
    * path: chain comps, a comp-to-comp merge through INTERIOR nodes
    * (root resolution, not min endpoints), new-node attach, new-new
    * pairs, and a second batch whose merges FORWARD already-forwarded
    * roots (chains in fwd, collapsed by star-CC resolution). Returns
    * the (labels, forwards) stage tables under `tmp` — the caller owns
    * cleanup. */
  private def incrementalComponentsFixture(
      s: org.apache.spark.sql.SparkSession, dir: String, tmp: String)
      : (graft.catalog.ParquetTable, graft.catalog.ParquetTable) = {
    val ids = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"))
    def off(k: Int, cond: org.apache.spark.sql.Column) =
      ids.filter(cond)
        .select(col("id").as("id_a"), (col("id") + k).as("id_b"))
        .join(ids.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b"))
    val hist = off(1, col("id") % 20 === 0)
      .unionByName(off(1, col("id") % 20 === 1))
    val batch1 = off(20, col("id") % 40 === 2)
      .unionByName(off(1, col("id") % 20 === 2))
      .unionByName(off(1, col("id") % 20 === 10))
    val batch2 = off(9, col("id") % 40 === 21)
      .unionByName(off(18, col("id") % 40 === 23))
    // stage 1: historical labels, computed once, stored doc-sorted
    // with small row groups so batch lookups prune
    val base = Dedup.connectedComponents(hist)
      .select(col("id").as("doc_id"), col("comp").as("comp_id"))
    val labelsT = graft.catalog.ParquetTable(
      s, "inc_labels", s"$tmp/labels", base.schema,
      writeOptions = graft.catalog.ParquetTable.IndexWriteOptions)
    labelsT.overwrite(
      base.repartition(col("doc_id")).sortWithinPartitions("doc_id"))
    val fwdSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("old_root",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("new_root",
        org.apache.spark.sql.types.LongType)))
    val fwdT = graft.catalog.ParquetTable(
      s, "inc_fwd", s"$tmp/fwd", fwdSchema).createIfNotExists()
    // stage 2: two arriving pair batches — append-only updates
    Seq(batch1, batch2).foreach { b =>
      val (nl, nf) = graft.plans.IncrementalComponents.batchAppends(
        labelsT.read(), fwdT.read(), b)
      // pin before appending: the appends' plans read the tables
      // they are about to extend
      val (pl, pf) = (graft.plans.Materialize.stage(nl),
        graft.plans.Materialize.stage(nf))
      labelsT.append(pl.sortWithinPartitions("doc_id"))
      fwdT.append(pf)
    }
    (labelsT, fwdT)
  }

  /** From-scratch transitive closure over ALL pairs (historical + both
    * batches) — the incremental answer, compacted or not, must equal
    * the from-scratch answer exactly. */
  private val componentsIncrementalOracle: String =
    """WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
      |e AS (
      |  SELECT a.id AS u, b.id AS v FROM ids a
      |  JOIN ids b ON b.id = a.id + 1
      |  WHERE a.id % 20 IN (0, 1, 2, 10)
      |  UNION ALL
      |  SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 20
      |  WHERE a.id % 40 = 2
      |  UNION ALL
      |  SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 9
      |  WHERE a.id % 40 = 21
      |  UNION ALL
      |  SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 18
      |  WHERE a.id % 40 = 23),
      |und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |reach AS (
      |  SELECT u, v FROM und
      |  UNION
      |  SELECT r.u, n.v FROM reach r JOIN und n ON n.u = r.v),
      |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS comp_id
      |         FROM reach GROUP BY u)
      |SELECT doc_id, comp_id FROM comp ORDER BY doc_id""".stripMargin

  val defs: Seq[(String, Q)] = Seq(

    // Token counting (whitespace + BPE-ish regex) and fingerprinting.
    "q_text_stats" -> Q(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_tokens_bpe"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
             |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens_bpe,
             |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Subword-token accounting: greedy longest-match against the
    // canonical vocab (TextFunctions.subwordVocab — the SAME Seq feeds
    // the VALUES list below), one map-only native-kernel pass on the
    // Spark side. The oracle replays the greedy walk as a recursive
    // CTE: per DISTINCT word, step the cursor by the longest matching
    // vocab token (max(length) over the matches at the position, char
    // fallback), then weight by per-doc word multiplicity — same
    // counts, different shape, which is what makes it an oracle and
    // not a copy.
    "q_subword_counts" -> Q(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.subwordStats(col("text")).as("__sw"))
        .select(col("doc_id"),
          col("__sw.n_words").as("n_words"),
          col("__sw.n_subwords").as("n_subwords"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE ${subwordCtes("documents")}
             |SELECT doc_id, n_words, n_subwords FROM docsw
             |ORDER BY doc_id""".stripMargin)),

    // Vocabulary INDUCTION from the corpus: top character n-grams
    // (2..5 chars) by positional frequency weighted by word
    // occurrence — the distributed word-count pass is the part that
    // touches the corpus; the gram explosion runs over the bounded
    // word dictionary. Deterministic tie-break (freq desc, gram asc)
    // makes the learned table itself oracle-checkable; SubwordVocabSpec
    // closes the loop by feeding the induced vocab to the kernel.
    "q_vocab_induce" -> Q(
      (s, dir) => graft.text.SubwordVocab.induceNgramTable(
        Tables.load(s, dir, "documents"), "text", 200),
      Some("""WITH words AS (
             |  SELECT w, count(*) AS cnt FROM (
             |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
             |    FROM documents) u
             |  WHERE w <> '' GROUP BY w),
             |grams AS (
             |  SELECT substr(w.w, i.i, n.n) AS gram, w.cnt
             |  FROM words w
             |  JOIN range(2, 6) n(n) ON n.n <= length(w.w)
             |  JOIN range(1, 256) i(i) ON i.i <= length(w.w) - n.n + 1)
             |SELECT gram, CAST(sum(cnt) AS BIGINT) AS freq
             |FROM grams GROUP BY gram
             |ORDER BY freq DESC, gram LIMIT 200""".stripMargin)),

    // Vocabulary COVERAGE CURVE — the "what vocab size covers 95 % of
    // tokens" table every tokenizer decision reads. The scale trick is
    // the q_mad_gate one applied to the frequency domain: ranking
    // individual tokens by count is a corpus-vocabulary sort, but the
    // curve only needs COUNT LEVELS — group tokens BY their count c
    // into (c, n_types, mass = c·n_types), cumulate over the bounded
    // level relation (distinct count values, a few hundred rows — the
    // one unpartitioned window runs over THAT), and answer each
    // coverage target with the smallest level prefix that reaches it.
    // Level granularity is the contract: a target is answered by whole
    // count-levels (the vocab size reported is the one you can
    // actually CUT at — "keep every token seen ≥ c times"), which is
    // also what makes the answer deterministic without a token-level
    // tie-break. All integers: mass/cum/thresholds in exact counts,
    // coverage in micro-units.
    "q_vocab_coverage" -> Q(
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(explode(filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0)).as("tok"))
        val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val levels = counts.groupBy(col("c"))
          .agg(count(lit(1)).as("n_types"))
          .select(col("c"), col("n_types"), (col("c") * col("n_types")).as("mass"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc)
        // Pinned once: the cumulated level relation feeds THREE
        // subtrees (the cutoff probe, the join-back, and the mass
        // total), and unstaged each re-ran the corpus tokenize +
        // vocabulary aggregation (4 full corpus passes for a
        // frequency-level relation bounded by distinct counts, not by
        // corpus size; guide §1.2). The corpus is tokenized exactly
        // once now; every consumer reads the tiny pinned histogram.
        val cum = graft.plans.Materialize.stage(levels
          .withColumn("cum_mass", sum(col("mass")).over(w))
          .withColumn("cum_types", sum(col("n_types")).over(w)))
        val tot = cum.agg(sum(col("mass")).as("t"))
        val targets = Seq(90, 95, 99)
          .foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) { (acc, p) =>
            val d = s.range(1).select(lit(p).as("target_pct"))
            Some(acc.map(_.unionByName(d)).getOrElse(d))
          }.get
        val hit = cum.crossJoin(broadcast(tot)).crossJoin(broadcast(targets))
          .filter(col("cum_mass") * 100 >= col("t") * col("target_pct"))
          .groupBy(col("target_pct")).agg(max(col("c")).as("count_cutoff"))
        hit.join(cum.select(col("c").as("count_cutoff"),
              col("cum_types").as("vocab_size"), col("cum_mass")),
            Seq("count_cutoff"))
          .crossJoin(broadcast(tot))
          .select(col("target_pct"), col("count_cutoff"), col("vocab_size"),
            expr("cum_mass * 1000000L div t").as("coverage_micro"))
          .orderBy(col("target_pct"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(
             |    string_split_regex(trim(lower(text)), '\s+'),
             |    x -> length(x) > 0)) AS tok
             |  FROM documents),
             |counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
             |           FROM toks GROUP BY tok),
             |levels AS (
             |  SELECT c, CAST(count(*) AS BIGINT) AS n_types,
             |    CAST(c * count(*) AS BIGINT) AS mass
             |  FROM counts GROUP BY c),
             |cum AS (
             |  SELECT c, n_types, mass,
             |    CAST(sum(mass) OVER (ORDER BY c DESC) AS BIGINT) AS cum_mass,
             |    CAST(sum(n_types) OVER (ORDER BY c DESC) AS BIGINT)
             |      AS cum_types
             |  FROM levels),
             |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS t FROM levels),
             |targets AS (SELECT unnest([90, 95, 99]) AS target_pct),
             |hit AS (
             |  SELECT tg.target_pct, max(cum.c) AS count_cutoff
             |  FROM cum, tot, targets tg
             |  WHERE cum.cum_mass * 100 >= tot.t * tg.target_pct
             |  GROUP BY 1)
             |SELECT h.target_pct AS target_pct, h.count_cutoff,
             |  cum.cum_types AS vocab_size,
             |  cum.cum_mass * 1000000 // tot.t AS coverage_micro
             |FROM hit h JOIN cum ON cum.c = h.count_cutoff, tot
             |ORDER BY h.target_pct""".stripMargin)),

    // Token-budget sampling: take documents per language, in salted-
    // hash order (deterministic reshuffle, same md5-bucket construction
    // as the splits), until each language's 5000-subword budget fills —
    // keeping the document that crosses the line. How a training run
    // sizes "N tokens per language" reproducibly. One shuffle (window
    // by lang); the subword weight is the map-side native kernel.
    "q_token_budget" -> Q(
      (s, dir) => graft.plans.Sampling.tokenBudget(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
          .withColumn("n_subwords",
            TextFunctions.subwordStats(col("text")).getField("n_subwords"))
          .drop("text"),
        "doc_id", "lang", col("n_subwords"), budget = 5000L, seed = "budget")
        .select(col("doc_id"), col("lang"), col("n_subwords"), col("cum_tokens"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE ${subwordCtes("documents")},
             |base AS (
             |  SELECT d.doc_id, d.lang, s.n_subwords,
             |    ('0x' || substr(md5('budget:' || d.doc_id), 1, 15))::BIGINT % 10000 AS b
             |  FROM documents d JOIN docsw s USING (doc_id)),
             |cum AS (
             |  SELECT doc_id, lang, n_subwords,
             |    CAST(sum(n_subwords) OVER (
             |      PARTITION BY lang ORDER BY b, doc_id) AS BIGINT) AS cum_tokens
             |  FROM base)
             |SELECT doc_id, lang, n_subwords, cum_tokens FROM cum
             |WHERE cum_tokens - n_subwords < 5000
             |ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic (stopword n-grams + CJK class).
    "q_lang_id" -> Q(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        // 5 regex_count passes per doc, map-only — spread the
        // unsplittable scan (Skew.fanOutSmall; identity at scale)
        .transform(graft.plans.Skew.fanOutSmall)
        .select(col("doc_id"), col("lang"),
          TextFunctions.langId(col("text")).as("lang_detected"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang,
             |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
             |       WHEN len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) = 0
             |        AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las)\b')) = 0
             |        AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b')) = 0
             |        AND len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b')) = 0
             |       THEN 'und'
             |       WHEN len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b'))
             |         >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las)\b'))
             |        AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b'))
             |         >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b'))
             |        AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b'))
             |         >= len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b'))
             |       THEN 'en'
             |       WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las)\b'))
             |         >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b'))
             |        AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las)\b'))
             |         >= len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b'))
             |       THEN 'es'
             |       WHEN len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b'))
             |         >= len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b'))
             |       THEN 'de'
             |       ELSE 'fr' END AS lang_detected
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Code-switch detection — per-SEGMENT language ID (30-token
    // windows) rolled up to a document verdict: majority language,
    // distinct-language count, mixed flag. Doc-level lang-ID (q_lang_id)
    // averages a mixed document into one label; real pipelines segment
    // first so a half-English/half-Spanish page can be split or routed
    // instead of mislabeled. Fixture plants 60 Spanish stopword tokens
    // onto docs < 10 (≥ one full window is Spanish at ANY alignment):
    // every planted doc whose BASE language isn't Spanish must come
    // back mixed (6 of 10 at sf0.01 — the other 4 are natural-es docs,
    // where appending Spanish correctly mixes nothing), and the
    // natural corpus reports zero mixed docs. Same langId heuristic as
    // q_lang_id applied per window; majority ties break to the
    // smallest lang code via struct ordering (the oracle's rn=1
    // replay).
    "q_lang_segments" -> Q(
      (s, dir) => {
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 10,
              concat(col("text"), lit(
                " el la de que los las" * 10))).otherwise(col("text"))
              .as("text"))
        val toks = planted.select(col("doc_id"),
          filter(TextFunctions.tokens(trim(col("text"))),
            t => length(t) > 0).as("t"))
          .filter(size(col("t")) > 0)
        val segs = toks.select(col("doc_id"),
          explode(sequence(lit(0),
            ceil(size(col("t")).cast("double") / lit(30.0)).cast("int")
              - 1)).as("s"), col("t"))
          .select(col("doc_id"),
            concat_ws(" ", slice(col("t"), col("s") * 30 + 1, lit(30)))
              .as("seg"))
          .select(col("doc_id"), TextFunctions.langId(col("seg")).as("sl"))
        // 'und' windows (no stopword hits) are UNKNOWN, not a language:
        // counting them as a lang would flag every doc with one
        // stopword-free window as code-switched (275/500 on this
        // corpus). They still count as segments; a doc that is all-und
        // reports majority 'und' and zero known languages.
        val counts = segs.groupBy(col("doc_id"), col("sl"))
          .agg(count(lit(1)).as("c"))
        counts.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_segments"),
            count(when(col("sl") =!= "und", 1)).as("n_langs"),
            min(when(col("sl") =!= "und",
              struct((-col("c")).as("nc"), col("sl").as("l"))))
              .getField("l").as("mj"))
          .select(col("doc_id"), col("n_segments"), col("n_langs"),
            coalesce(col("mj"), lit("und")).as("majority_lang"),
            (col("n_langs") > 1).as("mixed"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 10 THEN text || repeat(' el la de que los las', 10)
             |         ELSE text END AS text
             |  FROM documents),
             |t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM planted),
             |segs AS (
             |  SELECT doc_id,
             |    array_to_string(list_slice(t, s * 30 + 1, s * 30 + 30),
             |      ' ') AS seg
             |  FROM (SELECT doc_id, t,
             |          unnest(range(0, CAST(ceil(len(t) / 30.0) AS BIGINT)))
             |            AS s
             |        FROM t0 WHERE len(t) > 0)),
             |sl AS (
             |  SELECT doc_id,
             |  CASE WHEN len(regexp_extract_all(seg, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
             |       WHEN len(regexp_extract_all(lower(seg), '\b(the|and|of|to|in|is)\b')) = 0
             |        AND len(regexp_extract_all(lower(seg), '\b(el|la|de|que|los|las)\b')) = 0
             |        AND len(regexp_extract_all(lower(seg), '\b(der|die|und|das|ist|nicht)\b')) = 0
             |        AND len(regexp_extract_all(lower(seg), '\b(le|la|et|les|des|est)\b')) = 0
             |       THEN 'und'
             |       WHEN len(regexp_extract_all(lower(seg), '\b(the|and|of|to|in|is)\b'))
             |         >= len(regexp_extract_all(lower(seg), '\b(el|la|de|que|los|las)\b'))
             |        AND len(regexp_extract_all(lower(seg), '\b(the|and|of|to|in|is)\b'))
             |         >= len(regexp_extract_all(lower(seg), '\b(der|die|und|das|ist|nicht)\b'))
             |        AND len(regexp_extract_all(lower(seg), '\b(the|and|of|to|in|is)\b'))
             |         >= len(regexp_extract_all(lower(seg), '\b(le|la|et|les|des|est)\b'))
             |       THEN 'en'
             |       WHEN len(regexp_extract_all(lower(seg), '\b(el|la|de|que|los|las)\b'))
             |         >= len(regexp_extract_all(lower(seg), '\b(der|die|und|das|ist|nicht)\b'))
             |        AND len(regexp_extract_all(lower(seg), '\b(el|la|de|que|los|las)\b'))
             |         >= len(regexp_extract_all(lower(seg), '\b(le|la|et|les|des|est)\b'))
             |       THEN 'es'
             |       WHEN len(regexp_extract_all(lower(seg), '\b(der|die|und|das|ist|nicht)\b'))
             |         >= len(regexp_extract_all(lower(seg), '\b(le|la|et|les|des|est)\b'))
             |       THEN 'de'
             |       ELSE 'fr' END AS sl
             |  FROM segs),
             |cnt AS (
             |  SELECT doc_id, sl, CAST(count(*) AS BIGINT) AS c
             |  FROM sl GROUP BY doc_id, sl),
             |mj AS (
             |  SELECT doc_id, sl AS majority_lang FROM (
             |    SELECT doc_id, sl, row_number() OVER (PARTITION BY doc_id
             |      ORDER BY c DESC, sl) AS rn
             |    FROM cnt WHERE sl <> 'und') WHERE rn = 1),
             |agg AS (
             |  SELECT doc_id,
             |    CAST(sum(c) AS BIGINT) AS n_segments,
             |    CAST(count(*) FILTER (WHERE sl <> 'und') AS BIGINT)
             |      AS n_langs
             |  FROM cnt GROUP BY doc_id)
             |SELECT a.doc_id, a.n_segments, a.n_langs,
             |  coalesce(m.majority_lang, 'und') AS majority_lang,
             |  a.n_langs > 1 AS mixed
             |FROM agg a LEFT JOIN mj m USING (doc_id)
             |ORDER BY a.doc_id""".stripMargin)),

    // Quality scoring: length / word-shape / punctuation components.
    "q_quality" -> Q(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          round(TextFunctions.punctRatio(col("text")), 4).as("punct_ratio"),
          round(TextFunctions.stopwordRatio(col("text")), 4).as("stopword_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
             |  round(len(regexp_extract_all(text, '[.,;:!?]')) /
             |        greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio,
             |  round(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is)\\b')) /
             |        greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0), 4)
             |    AS stopword_ratio,
             |  $qualityExprSql
             |    AS quality
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // The operators composed the way a training pipeline actually runs
    // them — scrub → quality-gate → exact dedup (keep min id per
    // fingerprint) → deterministic split — as ONE declarative plan.
    // Dedup is a WINDOW (row_number over fp, keep rank 1), not an
    // agg + semi join: a self-join would re-evaluate the expensive
    // scrub/quality scalar stage once per branch (measured 4× slower
    // at sf0.1), while the window consumes the single scored pass and
    // adds exactly one shuffle. The oracle recomputes the whole
    // pipeline end to end.
    "q_corpus_pipeline" -> Q(
      (s, dir) => {
        // planted whitespace-mangled copies exercise the dedup stage,
        // and the 0.8 gate drops ~30% of docs — every stage of the
        // composition provably does work
        val scored = withPlantedDups(s, dir).select(col("doc_id"),
          TextFunctions.scrubPII(col("text")).as("s"))
          .select(col("doc_id"),
            TextFunctions.fingerprint(col("s")).as("fp"),
            TextFunctions.qualityScore(col("s")).as("quality"))
        val kept = scored.filter(col("quality") >= 0.8)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))
        val deduped = kept.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        graft.plans.Splits.assign(deduped, "doc_id", seed = "corpus",
          Seq("train" -> 0.9, "val" -> 0.1))
          .select(col("doc_id"), col("fp"), col("quality"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH docs2 AS ($plantedCte),
             |scrubbed AS (
             |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             |    '\\+?\\d[\\d() -]{7,}\\d', '<PHONE>', 'g') AS s
             |  FROM docs2),
             |scored AS (
             |  SELECT doc_id,
             |    md5(lower(regexp_replace(trim(s), '\\s+', ' ', 'g'))) AS fp,
             |    round((least(CAST(length(s) AS DOUBLE) / 500.0, 1.0)
             |      + (CASE WHEN length(regexp_replace(trim(s), '\\s+', '', 'g')) /
             |           greatest(CAST(len(string_split_regex(trim(s), '\\s+')) AS DOUBLE), 1.0)
             |           BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
             |      + (1.0 - least(len(regexp_extract_all(s, '[.,;:!?]')) /
             |           greatest(CAST(length(s) AS DOUBLE), 1.0) * 5.0, 1.0))) / 3.0, 4)
             |      AS quality
             |  FROM scrubbed),
             |kept AS (SELECT * FROM scored WHERE quality >= 0.8),
             |deduped AS (
             |  SELECT k.* FROM kept k
             |  JOIN (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp) m
             |  ON k.fp = m.fp AND k.doc_id = m.doc_id)
             |SELECT doc_id, fp, quality,
             |  CASE WHEN ('0x' || substr(md5('corpus:' || doc_id), 1, 15))::BIGINT
             |         % 10000 < 9000
             |       THEN 'train' ELSE 'val' END AS split
             |FROM deduped ORDER BY doc_id""".stripMargin),
      // timed family gate: q_curation_v3 (oracle still gates this entry)
      bench = false),

    // Fixed-window chunking (graft.text.Chunking): long docs split into
    // overlapping 64-token windows (step 48) — shuffle-free explode.
    "q_chunk_docs" -> Q(
      (s, dir) => graft.text.Chunking.chunk(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", budget = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_index")),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
             |    len(string_split_regex(trim(text), '\s+')) AS n
             |  FROM documents),
             |chunks AS (
             |  SELECT doc_id, t, n,
             |    unnest(range(CAST(greatest(ceil((n - 64) / 48.0) + 1, 1) AS INT)))
             |      AS chunk_index
             |  FROM toks)
             |SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index,
             |  array_to_string(list_slice(t, chunk_index*48 + 1, chunk_index*48 + 64), ' ')
             |    AS chunk_text,
             |  CAST(least(n - chunk_index*48, 64) AS INT) AS n_tokens
             |FROM chunks ORDER BY doc_id, chunk_index""".stripMargin)),

    // PII scrubbing (TextFunctions.scrubPII): email/IPv4/phone spans
    // masked before text leaves the pipeline; PII planted into the
    // first 20 docs, fingerprints + mask counts value-checked.
    "q_scrub" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        // coalesce pins the planted concat: Spark's concat is
        // null-propagating, DuckDB's skips nulls — with it both engines
        // produce the suffix even if a text row is ever null
        val planted = docs.withColumn("text",
          when(col("doc_id") < 20,
            concat(coalesce(col("text"), lit("")), lit(" Contact user"), col("doc_id"),
              lit("@example.com or +1 555-0100 via 192.168.0.1")))
            .otherwise(col("text")))
        // fan out before the scrub kernel: 3 regex passes + md5 per doc
        // on an unsplittable small scan would run one-core (identity at
        // scale — Skew.fanOutSmall)
        planted.transform(graft.plans.Skew.fanOutSmall)
          .select(col("doc_id"),
            md5(TextFunctions.scrubPII(col("text"))).as("scrub_fp"),
            TextFunctions.piiCount(col("text")).as("n_pii"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 20 THEN
             |      concat(coalesce(text, ''), ' Contact user', doc_id,
             |             '@example.com or +1 555-0100 via 192.168.0.1')
             |    ELSE text END AS text
             |  FROM documents),
             |scrubbed AS (
             |  SELECT doc_id, text, regexp_replace(regexp_replace(regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\+?\d[\d() -]{7,}\d', '<PHONE>', 'g') AS s
             |  FROM planted)
             |SELECT doc_id, md5(s) AS scrub_fp,
             |  CAST(len(regexp_extract_all(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b|\+?\d[\d() -]{7,}\d'))
             |    AS INT) AS n_pii
             |FROM scrubbed ORDER BY doc_id""".stripMargin)),

    // Greedy sequence packing (graft.text.Packing): docs → 512-token
    // training bins, sharded by id range; the whole deterministic
    // assignment is recomputed by the oracle's recursive CTE.
    "q_pack_bins" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.text.Packing.packGreedy(docs, "doc_id", col("n_tokens"),
          budget = 512, shardSize = 100)
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE seq AS (
             |  SELECT doc_id, doc_id // 100 AS shard,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             |    row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
             |  FROM documents),
             |pack AS (
             |  SELECT shard, rn, doc_id, n_tokens, 0 AS bin, n_tokens AS acc
             |  FROM seq WHERE rn = 1
             |  UNION ALL
             |  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
             |    CASE WHEN p.acc + s.n_tokens <= 512 THEN p.bin ELSE p.bin + 1 END,
             |    CASE WHEN p.acc + s.n_tokens <= 512 THEN p.acc + s.n_tokens
             |         ELSE s.n_tokens END
             |  FROM seq s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1)
             |SELECT doc_id, shard, CAST(bin AS INT) AS bin, n_tokens
             |FROM pack ORDER BY doc_id""".stripMargin)),

    // Packing on SUBWORD weights: the same greedy sharded packer, but
    // the budget is real model tokens (the graft_subword kernel), not
    // whitespace words — what a training run actually packs 1024-token
    // sequences by. Two recursions compose in the oracle: the greedy
    // subword walk produces per-doc weights, the packing recursion
    // replays the bin assignment.
    "q_pack_subword" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.subwordStats(col("text"))
              .getField("n_subwords").as("n_subwords"))
        graft.text.Packing.packGreedy(docs, "doc_id", col("n_subwords"),
          budget = 1024, shardSize = 100)
          .withColumnRenamed("n_tokens", "n_subwords")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${subwordCtes("documents")},
             |seq AS (
             |  SELECT d.doc_id, d.doc_id // 100 AS shard, s.n_subwords AS w,
             |    row_number() OVER (PARTITION BY d.doc_id // 100
             |                       ORDER BY d.doc_id) AS rn
             |  FROM documents d JOIN docsw s USING (doc_id)),
             |pack AS (
             |  SELECT shard, rn, doc_id, w, 0 AS bin, w AS acc
             |  FROM seq WHERE rn = 1
             |  UNION ALL
             |  SELECT s.shard, s.rn, s.doc_id, s.w,
             |    CASE WHEN p.acc + s.w <= 1024 THEN p.bin ELSE p.bin + 1 END,
             |    CASE WHEN p.acc + s.w <= 1024 THEN p.acc + s.w ELSE s.w END
             |  FROM seq s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1)
             |SELECT doc_id, shard, CAST(bin AS INT) AS bin,
             |  CAST(w AS BIGINT) AS n_subwords
             |FROM pack ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test assignment (graft.plans.Splits):
    // md5-bucket hashing keyed on doc_id — stable across runs, engines
    // and repartitioning, fully map-side. The whole assignment is
    // value-checked against DuckDB recomputing the same salted hash.
    "q_split_assign" -> Q(
      (s, dir) => graft.plans.Splits.assign(
        Tables.load(s, dir, "documents").select(col("doc_id")),
        "doc_id", seed = "graft",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, bucket,
             |  CASE WHEN bucket < 8000 THEN 'train'
             |       WHEN bucket < 9000 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (
             |  SELECT doc_id,
             |    ('0x' || substr(md5('graft:' || doc_id), 1, 15))::BIGINT % 10000
             |      AS bucket
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Leakage-safe splitting: the split key is the near-dup CLUSTER
    // label, not the doc id — every member of a cluster lands in the
    // same split, so a train document can never have a near-duplicate
    // in test (the eval-contamination failure mode plain per-doc
    // hashing invites). Composition of two oracle-checked operators:
    // components (broadcast label attach, corpus never shuffles) +
    // deterministic md5-bucket assignment (map-side). SplitsSpec pins
    // the invariant directly.
    "q_leakage_split" -> Q(
      (s, dir) => {
        val comps = Dedup.nearDupComponents(
          plantedTrailing(s, dir), "doc_id", "text", threshold = 0.5)
        graft.plans.Splits.assign(comps, "comp_id", seed = "graft",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("comp_id"), col("bucket"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
              |bk AS (
              |  SELECT doc_id, comp_id,
              |    ('0x' || substr(md5('graft:' || comp_id), 1, 15))::BIGINT % 10000
              |      AS bucket
              |  FROM lab)
              |SELECT doc_id, comp_id, bucket,
              |  CASE WHEN bucket < 8000 THEN 'train'
              |       WHEN bucket < 9000 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM bk
              |ORDER BY doc_id""".stripMargin)),

    // TF-IDF top terms (graft.text.TfIdf): per-doc salient keywords —
    // explode → tf/df aggs → term join → windowed top-k; corpus size N
    // rides a broadcast one-row scalar. Scores rounded BEFORE ranking
    // so the order is a pure function of emitted values.
    "q_tfidf" -> Q(
      (s, dir) => graft.text.TfIdf.topTerms(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rk")),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |  FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
             |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             |    round(tf.tf * (ln((n.n_docs + 1) / CAST(dfreq.df + 1 AS DOUBLE)) + 1.0), 4)
             |      AS tfidf
             |  FROM tf JOIN dfreq USING (term), n),
             |ranked AS (
             |  SELECT *, CAST(row_number() OVER (
             |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rk
             |  FROM scored)
             |SELECT doc_id, rk, term, tf, df, tfidf
             |FROM ranked WHERE rk <= 3
             |ORDER BY doc_id, rk""".stripMargin)),

    // BM25 retrieval scoring (graft.text.Bm25): rank the corpus against
    // a query term set — map-side per-term tf via array HOFs (the
    // corpus never explodes or shuffles on terms), one-row stats
    // broadcast, TakeOrdered top-k. Identical arithmetic composition on
    // both sides; round-before-rank makes the ordering engine-stable.
    "q_bm25" -> Q(
      (s, dir) => graft.text.Bm25.topDocs(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", bm25Terms, k = 20),
      Some(bm25Oracle)),

    // BM25 from a PERSISTED inverted index — what q_bm25's per-query
    // corpus scan becomes at 100 TB: postings/doclen/stats stage
    // tables built once (Bm25.buildIndex; postings sorted by tok), and
    // every query served by a term-filtered postings read (the IN
    // filter reaches the parquet footers — PlanSpec pins it) + tf
    // pivot + the VERBATIM q_bm25 scoring composition, so the doubles
    // agree bit-for-bit and the SAME oracle gates both serve paths.
    // Bench times the serve against a per-JVM memoized index.
    "q_bm25_index" -> Q(
      (s, dir) => {
        // per-run stage dir: serve, PIN the result, reclaim the dir —
        // returning a lazy read of the stage tables would leak one
        // index copy under java.io.tmpdir per verify run (the bench
        // path's memoized dir below is the long-lived one)
        val stage = buildBm25Stage(s, dir, java.nio.file.Files
          .createTempDirectory("graft-bm25-stage").toString)
        val out = graft.plans.Materialize.stage(serveBm25Stage(s, stage))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(stage))
        out
      },
      Some(bm25Oracle),
      benchFn = Some((s, dir) => serveBm25Stage(s,
        bm25StageDirs.computeIfAbsent(dir, d =>
          buildBm25Stage(s, d, BenchStage.tempDir("graft-bm25-bench")))))),

    // STREAMING ingest into the BM25 inverted index — the day-2 shape
    // of q_bm25_index (the q_ann_index_insert pattern for the text
    // index): arriving document batches are tokenized and posting-ized
    // map-side per batch (each doc lands in exactly one batch, so the
    // per-batch groupBy(tok, doc) equals the one-shot postings build
    // row for row), appended tok-sorted to the postings stage table
    // (IndexWriteOptions + a bulk-batch compaction keep the pushed
    // term-IN filter pruning), document lengths appended alongside.
    // The corpus STATS are not stored at all: n_docs and avgdl are
    // DERIVED from the doclen table at serve (one aggregate over a
    // two-column relation; dl is an exact long, so the distributed sum
    // is order-independent and avgdl lands bit-identical to the
    // one-shot stats pass). The SAME BM25 oracle gates the streamed
    // index: the serve must be row-identical to the corpus-scan form.
    "q_bm25_index_stream" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-str")
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        StreamFixtures.writeBatch(tmp, src,
          docs.filter(col("doc_id") % 2 === 0), "a",
          parts = 4, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src,
          docs.filter(col("doc_id") % 2 === 1), "b",
          parts = 4, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 4)
        val (p0, d0, _) = graft.text.Bm25.buildIndex(
          graft.Tables.load(ss, dir, "documents").limit(0), "doc_id", "text")
        // leveled run tables (r15): batch postings land as atomic
        // batch-id partitions — which also makes the doclen relation
        // exactly-once under replay, where a plain append would
        // duplicate rows and corrupt the DERIVED n_docs/avgdl — and
        // the cadence merge pays O(new postings), not O(index)
        val pTable = graft.streaming.LeveledIndex.create(
          ss, "bm25s_postings", s"$tmp/postings", p0.schema, "tok")
        val dTable = graft.streaming.LeveledIndex.create(
          ss, "bm25s_doclen", s"$tmp/doclen", d0.schema, "doc_id")
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 4),
            s"$tmp/ckpt") { (batch, bid) =>
          val (p, d, _) = graft.text.Bm25.buildIndex(batch, "doc_id", "text")
          // tok-sorted runs with small row groups: the pushed
          // term-IN filter prunes each run by footer stats, so the
          // bulk batch no longer needs its out-of-cadence compact
          pTable.writeBatch(bid, p)
          dTable.writeBatch(bid, d)
          pTable.maintain(bid)
          dTable.maintain(bid)
          ()
        }
        val doclen = s.read.parquet(s"$tmp/doclen").drop("mig")
        val stats = doclen.agg(count(lit(1)).as("n_docs"),
          avg(col("dl")).as("avgdl"))
        val out = graft.plans.Materialize.stage(
          graft.text.Bm25.topDocsIndexed(
            s.read.parquet(s"$tmp/postings").drop("mig"), doclen, stats,
            "doc_id", bm25Terms, k = 20))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(bm25Oracle),
      // timed family gate: q_bm25_index (the streamed index serves the
      // identical relations; per-batch ingest cost is the map-side
      // posting build)
      bench = false),

    // Stratified sampling (graft.plans.Sampling): deterministic
    // hash-threshold keep per language stratum (downsample dominant
    // 'en' to 20%) — map-side, engine-recomputable, stable under
    // repartitioning; the whole sample is value-checked by the oracle.
    "q_stratified_sample" -> Q(
      (s, dir) => graft.plans.Sampling.stratified(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", rates = Seq("en" -> 0.2), defaultRate = 1.0,
        seed = "strat")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ('0x' || substr(md5('strat:' || doc_id), 1, 15))::BIGINT % 10000
             |      < CASE WHEN lang = 'en' THEN 2000 ELSE 10000 END
             |ORDER BY doc_id""".stripMargin)),

    // Temperature-scaled mixture rebalance (τ = 0.5): per-language keep
    // rates DERIVED from corpus counts — rate_l = sqrt(n_min / n_l), so
    // the dominant language is downsampled hardest and the smallest is
    // kept whole. The oracle recomputes the counts, the rate grid, and
    // the full salted-hash keep set.
    "q_mixture_sample" -> Q(
      (s, dir) => graft.plans.Sampling.temperatureMixture(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", temperature = 0.5, seed = "mix")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |m AS (SELECT min(n) AS nmin FROM c),
             |r AS (SELECT lang,
             |        floor(10000 * pow(CAST(nmin AS DOUBLE) / n, 0.5)) AS cut
             |      FROM c, m)
             |SELECT doc_id, lang FROM documents JOIN r USING (lang)
             |WHERE ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT % 10000 < cut
             |ORDER BY doc_id""".stripMargin)),

    // WATER-FILLING mixture allocation — the practical form of the
    // mixture problem temperatureMixture leaves open: a τ-tempered
    // target share can EXCEED a small source's availability, and naive
    // proportional allocation silently under-spends the token budget.
    // Water-filling saturates over-subscribed sources at their full
    // size and redistributes the surplus over the rest — here 3
    // unrolled rounds (each: proportional allocation by √n weights
    // over the UNSATURATED pool, saturation test `alloc ≥ n`), then a
    // final clamp. Everything after ONE corpus token-count aggregate
    // runs on the enum-sized source relation; all arithmetic is exact
    // integers (weights are floor(√n) — IEEE sqrt on exact counts is
    // correctly rounded in both engines; allocations are rem·w div W).
    // Budget = half the corpus tokens, so the small sources genuinely
    // saturate and the redistribution is exercised, not decorative.
    // (100 TB note: rem·w needs DECIMAL(38) once corpus tokens × √n
    // pass 2⁶³ — the relation is enum-sized, so that swap is free.)
    "q_mixture_waterfill" -> Q(
      (s, dir) => {
        // two planted TINY sources (3 docs each): the natural sources
        // are near-uniform, so without them nothing over-subscribes
        // and the redistribution never fires — the plants' √n share of
        // a half-total budget exceeds their availability by design
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val planted = docs.unionByName(
          docs.filter(col("doc_id") < 6).select(col("doc_id"),
            when(col("doc_id") < 3, lit("tiny_a")).otherwise(lit("tiny_b"))
              .as("source"),
            col("text")))
        // pinned: the unrolled rounds read this enum-sized relation
        // through 2^rounds lazy subtrees — the corpus token count must
        // evaluate once, not once per subtree
        val stats = planted
          .groupBy(col("source"))
          .agg(sum(graft.text.TextFunctions.tokenCount(col("text"))
            .cast("long")).as("n"))
          .select(col("source"), col("n"),
            floor(sqrt(col("n").cast("double"))).cast("long").as("w"))
          .transform(graft.plans.Materialize.stage)
        // the redistribution rounds are scalar integer arithmetic over
        // the ENUM-sized staged stats — under the cap they run on the
        // driver (one bounded collect instead of the 2^rounds-subtree
        // unrolled plan: ~63 Exchanges → a LocalRelation; the
        // driverComponents pattern). Spark's `div` on positive longs
        // is plain truncating long division, so the driver loop is bit
        // identical; an over-cap source vocabulary falls back to the
        // unrolled distributed shape unchanged.
        graft.plans.DriverFetch("waterfill source stats", Seq(stats), 1 << 18) match {
          case Some(Seq(statRows)) =>
            val ss = statRows.map(r =>
              (r.getString(0), r.getLong(1), r.getLong(2)))
            val b = ss.map(_._2).sum / 2
            var sat = ss.map(_ => false)
            for (_ <- 1 to 3) {
              val taken = ss.zip(sat).collect { case ((_, n, _), true) => n }.sum
              val wsum = ss.zip(sat).collect { case ((_, _, w), false) => w }.sum
              sat = ss.zip(sat).map { case ((_, n, w), sd) =>
                sd || (b - taken) * w / math.max(wsum, 1L) >= n
              }
            }
            val taken = ss.zip(sat).collect { case ((_, n, _), true) => n }.sum
            val wsum = ss.zip(sat).collect { case ((_, _, w), false) => w }.sum
            val outSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("source",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n_tokens",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("weight",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("saturated",
                org.apache.spark.sql.types.BooleanType, nullable = false),
              org.apache.spark.sql.types.StructField("take_tokens",
                org.apache.spark.sql.types.LongType)))
            val rows = ss.zip(sat).map { case ((src, n, w), sd) =>
              org.apache.spark.sql.Row(src, n, w, sd,
                if (sd) n else (b - taken) * w / math.max(wsum, 1L))
            }
            s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
              .orderBy(col("source"))
          case _ =>
            val budget = stats.agg(expr("sum(n) div 2").as("b"))
            var cur = stats.crossJoin(broadcast(budget))
              .withColumn("sat", lit(false))
            for (_ <- 1 to 3) {
              val pool = cur.agg(
                sum(when(col("sat"), col("n")).otherwise(0L)).as("taken"),
                sum(when(!col("sat"), col("w")).otherwise(0L)).as("wsum"))
              cur = cur.crossJoin(broadcast(pool))
                .withColumn("sat",
                  col("sat") ||
                    (expr("(b - taken) * w div greatest(wsum, 1L)") >= col("n")))
                .drop("taken", "wsum")
            }
            val fin = cur.agg(
              sum(when(col("sat"), col("n")).otherwise(0L)).as("taken"),
              sum(when(!col("sat"), col("w")).otherwise(0L)).as("wsum"))
            cur.crossJoin(broadcast(fin))
              .select(col("source"), col("n").as("n_tokens"), col("w").as("weight"),
                col("sat").as("saturated"),
                when(col("sat"), col("n"))
                  .otherwise(expr("(b - taken) * w div greatest(wsum, 1L)"))
                  .as("take_tokens"))
              .orderBy(col("source"))
        }
      },
      Some {
        val rounds = (1 to 3).map { k =>
          val p = k - 1
          s"""pool$k AS (
             |  SELECT CAST(sum(CASE WHEN sat THEN n ELSE 0 END) AS BIGINT)
             |      AS taken,
             |    CAST(sum(CASE WHEN sat THEN 0 ELSE w END) AS BIGINT) AS wsum
             |  FROM r$p),
             |r$k AS (
             |  SELECT r$p.source, r$p.n, r$p.w, r$p.b,
             |    r$p.sat OR ((r$p.b - pool$k.taken) * r$p.w
             |      // greatest(pool$k.wsum, 1) >= r$p.n) AS sat
             |  FROM r$p, pool$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH planted AS (
           |  SELECT doc_id, source, text FROM documents
           |  UNION ALL
           |  SELECT doc_id,
           |    CASE WHEN doc_id < 3 THEN 'tiny_a' ELSE 'tiny_b' END AS source,
           |    text
           |  FROM documents WHERE doc_id < 6),
           |stats AS (
           |  SELECT source,
           |    CAST(sum(len(string_split_regex(trim(text), '\\s+')))
           |      AS BIGINT) AS n
           |  FROM planted GROUP BY source),
           |sw AS (
           |  SELECT source, n,
           |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
           |  FROM stats),
           |bb AS (SELECT CAST(sum(n) // 2 AS BIGINT) AS b FROM sw),
           |r0 AS (SELECT sw.*, bb.b, false AS sat FROM sw, bb),
           |$rounds,
           |fin AS (
           |  SELECT CAST(sum(CASE WHEN sat THEN n ELSE 0 END) AS BIGINT)
           |      AS taken,
           |    CAST(sum(CASE WHEN sat THEN 0 ELSE w END) AS BIGINT) AS wsum
           |  FROM r3)
           |SELECT r3.source, r3.n AS n_tokens, r3.w AS weight, r3.sat
           |    AS saturated,
           |  CASE WHEN r3.sat THEN r3.n
           |    ELSE (r3.b - fin.taken) * r3.w // greatest(fin.wsum, 1) END
           |    AS take_tokens
           |FROM r3, fin
           |ORDER BY r3.source""".stripMargin
      }),

    // Exact repeated-substring removal (the Lee et al. ExactSubstr
    // pass): every token span occurring more than once corpus-wide is
    // excised from ALL occurrences — sub-document dedup, where the
    // document-granular detectors keep whole texts. Fixture plants the
    // same 8-token disclaimer at the end of 20 docs (cross-doc
    // repeat); grams bridging each doc's own text into the disclaimer
    // occur once and must NOT be cut (precision at the boundary). The
    // oracle replays everything: positional md5-60 grams, the
    // occurrence count, gaps-and-islands span merge, and the token
    // excision/rebuild.
    "q_span_dedup" -> Q(
      (s, dir) => {
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 20,
              concat(col("text"), lit(" common legal disclaimer repeated" +
                " verbatim across documents entirely")))
              .otherwise(col("text")).as("text"))
        graft.text.SpanDedup.removeRepeatedSpans(
            planted, "doc_id", "text", w = 5)
          .select(col("doc_id"), md5(col("deduped_text")).as("text_fp"),
            col("n_spans"), col("n_removed"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH docs6 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 20
             |      THEN concat(text, ' common legal disclaimer repeated verbatim across documents entirely')
             |      ELSE text END AS text
             |  FROM documents),
             |toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM docs6),
             |grams AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    ('0x' || substr(md5(array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')), 1, 15))::BIGINT AS gh
             |  FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
             |  WHERE len(t) >= 5),
             |dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
             |marked AS (
             |  SELECT g.doc_id, g.pos FROM grams g JOIN dup d USING (gh)),
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
             |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
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
             |SELECT d.doc_id, md5(coalesce(a.deduped_text, '')) AS text_fp,
             |  coalesce(c.n_spans, 0) AS n_spans,
             |  coalesce(c.n_removed, 0) AS n_removed
             |FROM docs6 d
             |LEFT JOIN agg a ON a.doc_id = d.doc_id
             |LEFT JOIN cnt c ON c.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES), k = 5 per language, weight = quality + 0.05: the
    // "prefer high quality but give every doc a weight-proportional
    // chance" selection pass. Keys are micro-quantized ln(u)/w over
    // the salted md5-60 draw, ranked by the native graft_topk
    // aggregate (map-side partials cut each language to ≤ k before
    // the shuffle — no Window, no per-stratum sort). The oracle
    // replays the ENTIRE scheme — quality weight, hash draw, log key,
    // quantization, ranking — so the sample is engine-exact.
    "q_weighted_sample" -> Q(
      (s, dir) => {
        val weighted = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            (TextFunctions.qualityScore(col("text")) + lit(0.05)).as("w"))
        graft.plans.Sampling.weightedSample(weighted, "lang", "w",
            "doc_id", k = 5, seed = "ws")
          .orderBy(col("lang"), col("rk"))
      },
      Some(s"""WITH weighted AS (
              |  SELECT doc_id, lang, $qualityExprSql + 0.05 AS w
              |  FROM documents),
              |keyed AS (
              |  SELECT lang, doc_id,
              |    CAST(floor(1e6 * ln(
              |      (CAST(('0x' || substr(md5(doc_id || 'ws'), 1, 15))::BIGINT
              |        AS DOUBLE) + 0.5) / 1152921504606846976.0) / w)
              |      AS BIGINT) AS sample_key
              |  FROM weighted),
              |ranked AS (
              |  SELECT lang, doc_id, sample_key,
              |    CAST(row_number() OVER (
              |      PARTITION BY lang ORDER BY sample_key DESC, doc_id)
              |      AS BIGINT) AS rk
              |  FROM keyed)
              |SELECT lang, rk, doc_id, sample_key FROM ranked
              |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin)),

    // The FULL training-data flow as one declarative plan: scrub PII →
    // quality gate → exact dedup (window) → stratified language
    // rebalance (en halved) → token count → greedy packing into
    // 512-token bins. Every stage is an operator verified on its own
    // elsewhere; this entry proves the COMPOSITION — the oracle
    // recomputes all six stages end to end, so any inter-stage
    // contract drift (column loss, order sensitivity, hash mismatch)
    // turns the row red.
    "q_training_pipeline" -> Q(
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextFunctions.scrubPII(col("text")).as("s"))
          .select(col("doc_id"), col("lang"), col("s"),
            TextFunctions.fingerprint(col("s")).as("fp"),
            TextFunctions.qualityScore(col("s")).as("quality"))
        val kept = scored.filter(col("quality") >= 0.8)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))
        val deduped = kept.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val sampled = graft.plans.Sampling.stratified(
          deduped, "doc_id", "lang", rates = Seq("en" -> 0.5),
          defaultRate = 1.0, seed = "train")
        val counted = sampled.select(col("doc_id"),
          TextFunctions.tokenCount(col("s")).cast("long").as("n_tokens"))
        graft.text.Packing.packGreedy(counted, "doc_id", col("n_tokens"),
          budget = 512, shardSize = 100)
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE scrubbed AS (
             |  SELECT doc_id, lang,
             |    regexp_replace(regexp_replace(regexp_replace(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |      '\+?\d[\d() -]{7,}\d', '<PHONE>', 'g') AS s
             |  FROM documents),
             |scored AS (
             |  SELECT doc_id, lang, s,
             |    md5(lower(regexp_replace(trim(s), '\s+', ' ', 'g'))) AS fp,
             |    round((least(CAST(length(s) AS DOUBLE) / 500.0, 1.0)
             |      + (CASE WHEN length(regexp_replace(trim(s), '\s+', '', 'g')) /
             |           greatest(CAST(len(string_split_regex(trim(s), '\s+')) AS DOUBLE), 1.0)
             |           BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
             |      + (1.0 - least(len(regexp_extract_all(s, '[.,;:!?]')) /
             |           greatest(CAST(length(s) AS DOUBLE), 1.0) * 5.0, 1.0))) / 3.0, 4)
             |      AS quality
             |  FROM scrubbed),
             |kept AS (SELECT * FROM scored WHERE quality >= 0.8),
             |deduped AS (
             |  SELECT k.* FROM kept k
             |  JOIN (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp) m
             |  ON k.fp = m.fp AND k.doc_id = m.doc_id),
             |sampled AS (
             |  SELECT * FROM deduped
             |  WHERE ('0x' || substr(md5('train:' || doc_id), 1, 15))::BIGINT % 10000
             |        < CASE WHEN lang = 'en' THEN 5000 ELSE 10000 END),
             |counted AS (
             |  SELECT doc_id,
             |    CAST(len(string_split_regex(trim(s), '\s+')) AS BIGINT) AS n_tokens
             |  FROM sampled),
             |seq AS (
             |  SELECT doc_id, doc_id // 100 AS shard, n_tokens,
             |    row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
             |  FROM counted),
             |pack AS (
             |  SELECT shard, rn, doc_id, n_tokens, 0 AS bin, n_tokens AS acc
             |  FROM seq WHERE rn = 1
             |  UNION ALL
             |  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
             |    CASE WHEN p.acc + s.n_tokens <= 512 THEN p.bin ELSE p.bin + 1 END,
             |    CASE WHEN p.acc + s.n_tokens <= 512 THEN p.acc + s.n_tokens
             |         ELSE s.n_tokens END
             |  FROM seq s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1)
             |SELECT doc_id, shard, CAST(bin AS INT) AS bin, n_tokens
             |FROM pack ORDER BY doc_id""".stripMargin)),

    // Exact dedup groups (md5 of normalized text) over planted dups.
    "q_dedup_exact" -> Q(
      (s, dir) => Dedup.exactGroups(withPlantedDups(s, dir), "doc_id", "text")
        .orderBy(col("fp")),
      Some(s"""WITH docs2 AS ($plantedCte)
              |SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
              |  min(doc_id) AS keep_id, count(*) AS dup_count
              |FROM docs2 GROUP BY 1 ORDER BY fp""".stripMargin)),

    // Pattern EXTRACTION (the harvest twin of scrub's replacement):
    // regexp_extract_all → explode → per-domain rollup, the
    // contact-surface / outlink-domain census a web-corpus pipeline
    // runs. Same RE2-compatible email pattern as the scrubber; emails
    // planted across 3 domains so the rollup has real groups.
    "q_extract_domains" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = docs.withColumn("text",
          when(col("doc_id") < 30,
            concat(coalesce(col("text"), lit("")), lit(" mail: u"),
              col("doc_id"), lit("@h"), pmod(col("doc_id"), lit(3)),
              lit(".example.org")))
            .otherwise(col("text")))
        planted
          .select(explode(regexp_extract_all(col("text"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
            .as("email"))
          .select(substring_index(col("email"), "@", -1).as("domain"))
          .groupBy(col("domain")).agg(count(lit(1)).as("n"))
          .orderBy(col("domain"))
      },
      Some("""WITH planted AS (
             |  SELECT CASE WHEN doc_id < 30 THEN
             |      concat(coalesce(text, ''), ' mail: u', doc_id, '@h',
             |             doc_id % 3, '.example.org')
             |    ELSE text END AS text
             |  FROM documents),
             |emails AS (
             |  SELECT unnest(regexp_extract_all(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS email
             |  FROM planted)
             |SELECT split_part(email, '@', -1) AS domain, count(*) AS n
             |FROM emails GROUP BY domain ORDER BY domain""".stripMargin)),

    // Segment-level dedup (the RefinedWeb-style boilerplate remover):
    // a shared footer sentence is planted on the first 50 docs; it must
    // survive ONLY in the earliest doc while every doc keeps its own
    // content. The oracle rebuilds every deduped document and compares
    // the md5 of the reassembled text — position order, global
    // first-occurrence rule and all.
    "q_paragraph_dedup" -> Q(
      (s, dir) => {
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 50,
              concat(col("text"), lit(". Subscribe to our newsletter today")))
              .otherwise(col("text")).as("text"))
        Dedup.paragraphDedup(planted, "doc_id", "text")
          // a doc that loses EVERY segment has no text to fingerprint —
          // NULL on both engines (DuckDB's filtered string_agg is NULL)
          .select(col("doc_id"),
            when(col("n_kept") > 0, md5(col("deduped_text"))).as("text_fp"),
            col("n_kept"), col("n_segs"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 50
             |      THEN concat(text, '. Subscribe to our newsletter today')
             |      ELSE text END AS text
             |  FROM documents),
             |lists AS (
             |  SELECT doc_id, string_split_regex(text, '\.') AS l FROM planted),
             |seg AS (
             |  SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, l FROM lists),
             |s2 AS (
             |  SELECT doc_id, pos, l[CAST(pos AS INT)] AS seg FROM seg
             |  WHERE trim(l[CAST(pos AS INT)]) <> ''),
             |ranked AS (
             |  SELECT doc_id, pos, seg,
             |    row_number() OVER (
             |      PARTITION BY md5(lower(regexp_replace(trim(seg), '\s+', ' ', 'g')))
             |      ORDER BY doc_id, pos) AS rn
             |  FROM s2)
             |SELECT doc_id,
             |  md5(string_agg(seg, '.' ORDER BY pos) FILTER (WHERE rn = 1))
             |    AS text_fp,
             |  count(*) FILTER (WHERE rn = 1) AS n_kept,
             |  count(*) AS n_segs
             |FROM ranked GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // Curation pipeline v2 — this round's operators composed the way a
    // web-corpus pass actually runs them: segment-level boilerplate
    // removal → quality gate ON THE CLEANED TEXT → temperature mixture
    // rebalance whose rates come from the POST-GATE language counts
    // (stage order matters: rates derived before the gate would
    // overweight languages the gate then prunes). One declarative
    // plan; the oracle recomputes every stage including each rebuilt
    // document, the quality formula over it, the post-gate counts, the
    // rate grid, and the final keep set.
    "q_curation_v2" -> Q(
      (s, dir) => {
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            when(col("doc_id") < 50,
              concat(col("text"), lit(". Subscribe to our newsletter today")))
              .otherwise(col("text")).as("text"))
        val cleaned = Dedup.paragraphDedup(planted, "doc_id", "text",
          carryCols = Seq("lang"))
        val gated = cleaned
          .withColumn("quality",
            TextFunctions.qualityScore(col("deduped_text")))
          .filter(col("quality") >= 0.6)
          // the mixture stage consumes its input twice (rate counts +
          // keep filter); materialize the cleaned corpus EAGERLY so the
          // expensive dedup/quality stages run once — in production
          // this is the materialized cleaned table between pipeline
          // stages. Eager localCheckpoint, not a lazy persist: with a
          // lazy cache the mixture's broadcast-side job and the main
          // scan RACE to fill it, serializing on per-partition cache
          // locks (measured 5.4 s vs 1.3 s cold at sf0.1 — the
          // rounds-6-8 driver-bench "regression" on this entry); the
          // checkpointed blocks are also reclaimed by the
          // ContextCleaner instead of leaking a CacheManager entry per
          // call.
          .transform(graft.plans.Materialize.stage)
        graft.plans.Sampling.temperatureMixture(gated, "doc_id", "lang",
            temperature = 0.5, seed = "cv2")
          .select(col("doc_id"), col("lang"),
            md5(col("deduped_text")).as("text_fp"),
            col("n_kept"), col("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN doc_id < 50
             |      THEN concat(text, '. Subscribe to our newsletter today')
             |      ELSE text END AS text
             |  FROM documents),
             |lists AS (
             |  SELECT doc_id, lang, string_split_regex(text, '\.') AS l
             |  FROM planted),
             |seg AS (
             |  SELECT doc_id, lang, unnest(range(1, len(l) + 1)) AS pos, l
             |  FROM lists),
             |s2 AS (
             |  SELECT doc_id, lang, pos, l[CAST(pos AS INT)] AS seg FROM seg
             |  WHERE trim(l[CAST(pos AS INT)]) <> ''),
             |ranked AS (
             |  SELECT doc_id, lang, pos, seg,
             |    row_number() OVER (
             |      PARTITION BY md5(lower(regexp_replace(trim(seg), '\s+', ' ', 'g')))
             |      ORDER BY doc_id, pos) AS rn
             |  FROM s2),
             |rebuilt AS (
             |  SELECT doc_id, max(lang) AS lang,
             |    string_agg(seg, '.' ORDER BY pos) FILTER (WHERE rn = 1) AS t,
             |    count(*) FILTER (WHERE rn = 1) AS n_kept
             |  FROM ranked GROUP BY doc_id),
             |scored AS (
             |  SELECT doc_id, lang, t, n_kept,
             |    round((least(CAST(length(t) AS DOUBLE) / 500.0, 1.0)
             |      + (CASE WHEN length(regexp_replace(trim(t), '\s+', '', 'g')) /
             |           greatest(CAST(len(string_split_regex(trim(t), '\s+')) AS DOUBLE), 1.0)
             |           BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
             |      + (1.0 - least(len(regexp_extract_all(t, '[.,;:!?]')) /
             |           greatest(CAST(length(t) AS DOUBLE), 1.0) * 5.0, 1.0))) / 3.0, 4)
             |      AS quality
             |  FROM rebuilt WHERE t IS NOT NULL),
             |gated AS (SELECT * FROM scored WHERE quality >= 0.6),
             |cnt AS (SELECT lang, count(*) AS n FROM gated GROUP BY lang),
             |m AS (SELECT min(n) AS nmin FROM cnt),
             |r AS (SELECT lang,
             |        floor(10000 * pow(CAST(nmin AS DOUBLE) / n, 0.5)) AS cut
             |      FROM cnt, m)
             |SELECT doc_id, lang, md5(t) AS text_fp, n_kept, quality
             |FROM gated JOIN r USING (lang)
             |WHERE ('0x' || substr(md5('cv2:' || doc_id), 1, 15))::BIGINT % 10000 < cut
             |ORDER BY doc_id""".stripMargin),
      // timed family gate: q_curation_v3 (oracle still gates this entry)
      bench = false),

    // Incremental exact dedup — the daily-ingest form: the new batch is
    // deduped within itself, then anti-joined against the HISTORICAL
    // fingerprint set. Fixture plants both failure modes: copies of
    // historical docs (must be dropped by the cross-check) and
    // within-batch copies (must lose to the smaller id).
    "q_incremental_dedup" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val hist = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(lit(" "), col("text")).as("text")))
          .unionByName(docs.filter(col("doc_id").between(260, 264)).select(
            (col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" ")).as("text")))
        Dedup.incrementalDedup(batch, hist, "doc_id", "text")
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |hist AS (
             |  SELECT DISTINCT
             |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |  FROM base WHERE doc_id < 250),
             |batch AS (
             |  SELECT doc_id, text FROM base WHERE doc_id >= 250
             |  UNION ALL SELECT doc_id + 100000, concat(' ', text)
             |    FROM base WHERE doc_id < 20
             |  UNION ALL SELECT doc_id + 200000, concat(text, ' ')
             |    FROM base WHERE doc_id BETWEEN 260 AND 264),
             |bf AS (
             |  SELECT doc_id,
             |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |  FROM batch),
             |surv AS (SELECT fp, min(doc_id) AS doc_id FROM bf GROUP BY fp)
             |SELECT doc_id FROM surv
             |WHERE fp NOT IN (SELECT fp FROM hist)
             |ORDER BY doc_id""".stripMargin)),

    // The Bloom-pre-screened incremental dedup on the SAME fixture and
    // oracle as q_incremental_dedup: the sketch routes rows (definitely-
    // new bypasses the join map-side; only the maybe-set pays the exact
    // anti-join), so the result must be bit-identical to the exact form
    // — the oracle replays the exact semantics and any routing bug
    // (a false negative, a dropped maybe-row) turns the row red.
    "q_incremental_bloom" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val hist = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(lit(" "), col("text")).as("text")))
          .unionByName(docs.filter(col("doc_id").between(260, 264)).select(
            (col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" ")).as("text")))
        Dedup.incrementalDedupBloom(batch, hist, "doc_id", "text")
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |hist AS (
             |  SELECT DISTINCT
             |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |  FROM base WHERE doc_id < 250),
             |batch AS (
             |  SELECT doc_id, text FROM base WHERE doc_id >= 250
             |  UNION ALL SELECT doc_id + 100000, concat(' ', text)
             |    FROM base WHERE doc_id < 20
             |  UNION ALL SELECT doc_id + 200000, concat(text, ' ')
             |    FROM base WHERE doc_id BETWEEN 260 AND 264),
             |bf AS (
             |  SELECT doc_id,
             |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |  FROM batch),
             |surv AS (SELECT fp, min(doc_id) AS doc_id FROM bf GROUP BY fp)
             |SELECT doc_id FROM surv
             |WHERE fp NOT IN (SELECT fp FROM hist)
             |ORDER BY doc_id""".stripMargin)),

    // STATEFUL dedup pipeline across two ingest days — the production
    // loop: each day's survivors append their fingerprints (16 bytes a
    // row, never the text) to a persisted state table, and the next
    // day screens against the STORED state through the Bloom fast path.
    // Day-2 replants whitespace variants of day-1 docs, so a state
    // table that loses rows, a bloom false negative, or a broken
    // append shows up as a duplicate the oracle's two-phase replay
    // does not have.
    "q_dedup_state_pipeline" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val b1 = docs.filter(col("doc_id") % 2 === 0)
        val b2 = docs.filter(col("doc_id") % 2 === 1)
          .unionByName(
            docs.filter(col("doc_id") < 30 && col("doc_id") % 2 === 0)
              .select((col("doc_id") + 700000).as("doc_id"),
                concat(lit(" "), col("text")).as("text")))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-fp-state").toString
        val state = graft.catalog.ParquetTable(s, "fp_state", s"$tmp/fp_state",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("fp",
              org.apache.spark.sql.types.StringType))))
        state.createIfNotExists()
        val out1 = Dedup.incrementalDedupBloomFp(
          b1, state.read(), "fp", "doc_id", "text")
        state.append(out1
          .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct())
        val out2 = Dedup.incrementalDedupBloomFp(
          b2, state.read(), "fp", "doc_id", "text")
        out1.select(col("doc_id")).unionByName(out2.select(col("doc_id")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |b1 AS (SELECT doc_id, text FROM base WHERE doc_id % 2 = 0),
             |b2 AS (
             |  SELECT doc_id, text FROM base WHERE doc_id % 2 = 1
             |  UNION ALL SELECT doc_id + 700000, concat(' ', text)
             |    FROM base WHERE doc_id < 30 AND doc_id % 2 = 0),
             |f1 AS (SELECT doc_id,
             |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |  FROM b1),
             |s1 AS (SELECT fp, min(doc_id) AS doc_id FROM f1 GROUP BY fp),
             |f2 AS (SELECT doc_id,
             |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |  FROM b2),
             |s2 AS (SELECT fp, min(doc_id) AS doc_id FROM f2 GROUP BY fp),
             |out2 AS (
             |  SELECT doc_id FROM s2 WHERE fp NOT IN (SELECT fp FROM s1))
             |SELECT doc_id FROM s1
             |UNION ALL SELECT doc_id FROM out2
             |ORDER BY doc_id""".stripMargin)),

    // Surviving rows after exact dedup (left-semi keep-first).
    "q_dedup_surviving" -> Q(
      (s, dir) => Dedup.exactDedup(withPlantedDups(s, dir), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id")),
      Some(s"""WITH docs2 AS ($plantedCte)
              |SELECT doc_id FROM docs2
              |WHERE doc_id IN (
              |  SELECT min(doc_id)
              |  FROM docs2
              |  GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))
              |ORDER BY doc_id""".stripMargin)),

    // SimHash fingerprints, oracle-checked end to end: the vote/pack
    // machinery is hash-agnostic, so this entry runs it on the portable
    // md5-derived 60-bit token hash (Dedup.md5Hash60) that DuckDB can
    // recompute bit-identically — token split, per-bit votes, tie→0 and
    // all. The xxhash64 default (the production fast path) is pinned by
    // DedupSpec invariants instead.
    "q_simhash" -> Q(
      (s, dir) => Dedup.withSimhash(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", hashFn = Dedup.md5Hash60)
        .select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id")),
      Some {
        val votes = (0 until 60)
          .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(",\n    ")
        val pack = (0 until 60)
          .map(i => s"CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0 END")
          .mkString(" +\n    ")
        s"""WITH toks AS (
           |  SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
           |  FROM documents, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t(tok)
           |), votes AS (
           |  SELECT doc_id,
           |    $votes
           |  FROM toks GROUP BY doc_id
           |), packed AS (
           |  SELECT doc_id,
           |    $pack AS simhash
           |  FROM votes
           |)
           |SELECT d.doc_id, coalesce(p.simhash, 0) AS simhash
           |FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),

    // MinHash-LSH near-duplicate pairs over planted near-dups (one
    // trailing token appended). Candidates come from band-bucket
    // equi-joins; each candidate is then verified with the EXACT
    // token-3-gram Jaccard, so DuckDB can recompute the result as an
    // all-pairs exact self-join (feasible at oracle scale only — the
    // Spark side never goes all-pairs). LSH recall is probabilistic in
    // general, but every hash/band here is seeded-deterministic over
    // the driver's fixed tables, so equality with the exact oracle is a
    // REPRODUCIBLE property of this dataset (verified at sf0.001 and
    // sf0.01) — a borderline pair missing a band collision would
    // surface as a red correctness row, never as silent corruption.
    "q_neardup_pairs" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        val planted = docs.unionByName(
          docs.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text")))
        Dedup.verifiedNearDuplicates(planted, "doc_id", "text", threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH docs2 AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000 AS doc_id, concat(text, ' trailing') AS text
              |  FROM documents WHERE doc_id < 20),
              |toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              |  FROM docs2),
              |grams AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
              |    i -> array_to_string(t[i:i+2], ' '))) AS g
              |  FROM toks),
              |scored AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) AS inter,
              |    CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) AS un
              |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
              |SELECT id_a, id_b,
              |  CASE WHEN un = 0 THEN 0.0 ELSE inter / un END AS jaccard
              |FROM scored
              |WHERE (CASE WHEN un = 0 THEN 0.0 ELSE inter / un END) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin),
      // timed family gate: q_components_stage (oracle still gates this entry)
      bench = false),

    // LSH PARAMETER-TUNING report — the engineering step before
    // re-banding a corpus-scale dedup: for a candidate (bands b ×
    // rows-per-band r) grid, the S-curve midpoint threshold
    // (1/b)^(1/r) and the EXPECTED detected-pair count
    // Σ 1−(1−J^r)^b over the measured pair-similarity sample — so the
    // operator picks the banding that meets recall at the operating
    // threshold from a REPORT, not by re-running the detector per
    // config. The sample is the verified pair set of the standard
    // q_neardup_pairs fixture (threshold 0.5, where equality with the
    // exact all-pairs oracle is an established property of the
    // corpus); at 100 TB the same report runs over any sampled
    // verified-pair relation. Expected counts quantize per pair to
    // integer micro-units before the sum (exact BIGINT under any
    // partitioning — the Drift/LM stance); per-config math is one
    // map pass over a dozens-row pair relation crossed with an
    // enum-sized grid.
    "q_lsh_tuning" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = docs.unionByName(
          docs.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text")))
        val pairs = Dedup.verifiedNearDuplicates(
          planted, "doc_id", "text", threshold = 0.5)
          .select(col("jaccard"))
        val grid = Seq((8, 4), (16, 4), (32, 2), (8, 8), (64, 1))
          .toDF("bands", "rows_per_band")
        pairs.crossJoin(broadcast(grid))
          .groupBy(col("bands"), col("rows_per_band"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(floor(lit(1e6) * (lit(1.0) -
              pow(lit(1.0) - pow(col("jaccard"),
                col("rows_per_band").cast("double")),
                col("bands").cast("double")))).cast("long"))
              .as("exp_detect_micro"))
          .select(col("bands"), col("rows_per_band"),
            round(pow(lit(1.0) / col("bands").cast("double"),
              lit(1.0) / col("rows_per_band").cast("double")), 6)
              .as("thr50"),
            col("n_pairs"), col("exp_detect_micro"))
          .orderBy(col("bands"), col("rows_per_band"))
      },
      Some(s"""WITH docs2 AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000 AS doc_id,
              |    concat(text, ' trailing') AS text
              |  FROM documents WHERE doc_id < 20),
              |toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              |  FROM docs2),
              |grams AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
              |    i -> array_to_string(t[i:i+2], ' '))) AS g
              |  FROM toks),
              |scored AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) AS inter,
              |    CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))
              |      AS DOUBLE) AS un
              |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT CASE WHEN un = 0 THEN 0.0 ELSE inter / un END AS jaccard
              |  FROM scored
              |  WHERE (CASE WHEN un = 0 THEN 0.0 ELSE inter / un END) >= 0.5),
              |grid(bands, rows_per_band) AS (
              |  VALUES (8, 4), (16, 4), (32, 2), (8, 8), (64, 1))
              |SELECT CAST(g.bands AS INT) AS bands,
              |  CAST(g.rows_per_band AS INT) AS rows_per_band,
              |  round(power(1.0 / CAST(g.bands AS DOUBLE),
              |    1.0 / CAST(g.rows_per_band AS DOUBLE)), 6) AS thr50,
              |  CAST(count(*) AS BIGINT) AS n_pairs,
              |  CAST(sum(CAST(floor(1000000.0 * (1.0
              |    - power(1.0 - power(p.jaccard,
              |        CAST(g.rows_per_band AS DOUBLE)),
              |      CAST(g.bands AS DOUBLE)))) AS BIGINT)) AS BIGINT)
              |    AS exp_detect_micro
              |FROM pairs p CROSS JOIN grid g
              |GROUP BY g.bands, g.rows_per_band
              |ORDER BY bands, rows_per_band""".stripMargin),
      // tuning math over the q_neardup_pairs sample — the family
      // bench gate already times the detector itself
      // timed family gate: q_components_stage (oracle still gates this entry)
      bench = false),

    // CONTAINMENT dedup: pairs where the smaller doc's 3-gram set is
    // ≥90% inside the larger's — catches wholesale inclusion (a doc
    // embedded in a longer one) that Jaccard under-scores. Fixture
    // plants 15 extended copies (original + 15 novel pad tokens):
    // containment is exactly 1.0 while Jaccard is ~0.85. The oracle is
    // the exact all-pairs recomputation; same deterministic-recall
    // argument as q_neardup_pairs.
    "q_containment" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        val planted = docs.unionByName(
          docs.filter(col("doc_id") < 15).select(
            (col("doc_id") + 300000).as("doc_id"),
            concat(col("text"), lit(" " + containmentPad)).as("text")))
        Dedup.containmentPairs(planted, "doc_id", "text", threshold = 0.9)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH docs3 AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 300000 AS doc_id,
              |    concat(text, ' $containmentPad') AS text
              |  FROM documents WHERE doc_id < 15),
              |toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              |  FROM docs3),
              |grams AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
              |    i -> array_to_string(t[i:i+2], ' '))) AS g
              |  FROM toks),
              |scored AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    round(CASE WHEN least(len(a.g), len(b.g)) = 0 THEN 0.0
              |      ELSE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              |           / CAST(least(len(a.g), len(b.g)) AS DOUBLE) END, 4)
              |      AS containment
              |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
              |SELECT id_a, id_b, containment
              |FROM scored WHERE containment >= 0.9
              |ORDER BY id_a, id_b""".stripMargin),
      // timed family gate: q_setjoin_prefix (oracle still gates this entry)
      bench = false),

    // Cross-corpus near-dup screen: the incoming batch deduped against
    // the EXISTING corpus (the batch sibling of the streaming LSH
    // index). Fixture: 15 near-copies of existing docs (must drop) and
    // 10 vocabulary-disjoint novel docs (must survive — zero shared
    // grams, so survival is structural, not threshold luck). The
    // oracle recomputes the screen as exact all-pairs cross Jaccard —
    // the same deterministic-recall argument as q_neardup_pairs, plus
    // any natural cross-dup the corpus contains replays identically.
    "q_cross_dedup" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") < 15).select(
          (col("doc_id") + 700000).as("doc_id"),
          concat(col("text"), lit(" trailing2")).as("text"))
        val novel = docs.filter(col("doc_id") >= 20 && col("doc_id") < 30)
          .select((col("doc_id") + 800000).as("doc_id"),
            array_join(transform(split(trim(col("text")), "\\s+"),
              t => concat(lit("nv"), t)), " ").as("text"))
        val newBatch = copies.unionByName(novel)
        Dedup.crossNearDupSurvivors(newBatch, docs, "doc_id", "text",
            threshold = 0.5)
          .select(col("doc_id"), md5(col("text")).as("text_fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH newdocs AS (
             |  SELECT doc_id + 700000 AS doc_id,
             |    concat(text, ' trailing2') AS text
             |  FROM documents WHERE doc_id < 15
             |  UNION ALL
             |  SELECT doc_id + 800000 AS doc_id,
             |    array_to_string(list_transform(
             |      string_split_regex(trim(text), '\s+'), x -> 'nv' || x), ' ')
             |      AS text
             |  FROM documents WHERE doc_id >= 20 AND doc_id < 30),
             |ng AS (
             |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
             |    i -> array_to_string(t[i:i+2], ' '))) AS g
             |  FROM (SELECT doc_id,
             |          string_split_regex(trim(text), '\s+') AS t
             |        FROM newdocs)),
             |rg AS (
             |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
             |    i -> array_to_string(t[i:i+2], ' '))) AS g
             |  FROM (SELECT doc_id,
             |          string_split_regex(trim(text), '\s+') AS t
             |        FROM documents)),
             |dropped AS (
             |  SELECT DISTINCT n.doc_id
             |  FROM ng n JOIN rg r ON true
             |  WHERE CAST(len(list_intersect(n.g, r.g)) AS DOUBLE)
             |    / greatest(CAST(len(n.g) + len(r.g)
             |        - len(list_intersect(n.g, r.g)) AS DOUBLE), 1.0) >= 0.5)
             |SELECT doc_id, md5(text) AS text_fp FROM newdocs
             |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
             |ORDER BY doc_id""".stripMargin),
      // timed family gate: q_leakage_split (oracle still gates this entry)
      bench = false),

    // Containment at EXTREME asymmetry: the seed-gram index. Fixture
    // buries 10 documents inside ~1500 novel pad tokens each (computed
    // in-engine on both sides, no giant literal): containment of the
    // original stays 1.0 while Jaccard drops to |A|/(|A|+1499) ≪ 0.3 —
    // the regime where the banded q_containment path loses recall.
    // Selection is content-deterministic (md5-60 gram hash ≡ 0 mod 8),
    // so the oracle replays the ENTIRE pipeline — seed selection,
    // stop-gram cap, min-shared-seeds, exact verify — not just the
    // verdict: no recall luck is assumed anywhere.
    "q_containment_seed" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        val pad = array_join(
          transform(sequence(lit(1), lit(1499)),
            i => concat(lit("pady"), i.cast("string"))), " ")
        val planted = docs.unionByName(
          docs.filter(col("doc_id") < 10).select(
            (col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" "), pad).as("text")))
        Dedup.seedGramContainmentPairs(planted, "doc_id", "text",
          threshold = 0.9, seedMod = 8, minSeeds = 2, maxDf = 1000,
          gramFn = Some(Dedup.portableGramHashes(_, 3)))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH docs5 AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 500000 AS doc_id,
              |    concat(text, ' ', array_to_string(
              |      list_transform(range(1, 1500), i -> 'pady' || i), ' ')) AS text
              |  FROM documents WHERE doc_id < 10),
              |toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              |  FROM docs5),
              |gh AS (
              |  SELECT doc_id, list_distinct(list_transform(
              |    range(1, len(t) - 1),
              |    i -> ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT))
              |    AS g
              |  FROM toks),
              |seeds AS (
              |  SELECT doc_id, unnest(list_filter(g, h -> h % 8 = 0)) AS h
              |  FROM gh),
              |rare AS (SELECT h FROM seeds GROUP BY h HAVING count(*) <= 1000),
              |idx AS (SELECT s.doc_id, s.h FROM seeds s JOIN rare r ON s.h = r.h),
              |cand AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING count(*) >= 2),
              |scored AS (
              |  SELECT c.id_a, c.id_b,
              |    round(CASE WHEN least(len(ga.g), len(gb.g)) = 0 THEN 0.0
              |      ELSE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
              |           / CAST(least(len(ga.g), len(gb.g)) AS DOUBLE) END, 4)
              |      AS containment
              |  FROM cand c
              |  JOIN gh ga ON ga.doc_id = c.id_a
              |  JOIN gh gb ON gb.doc_id = c.id_b)
              |SELECT id_a, id_b, containment
              |FROM scored WHERE containment >= 0.9
              |ORDER BY id_a, id_b""".stripMargin),
      // timed family gate: q_stream_containment (oracle still gates this entry)
      bench = false),

    // Exact set-similarity self-join by PREFIX FILTERING (the SSJoin/
    // PPJoin family; shared plan + oracle with the df-ordered mode
    // below via setjoinPrefixPlan/setjoinPrefixOracleSql) — the
    // LOSSLESS counterpart to MinHash-LSH:
    // provably every 3-gram-set pair with Jaccard ≥ τ, no
    // probabilistic recall argument needed. The oracle is the BRUTE-
    // FORCE all-pairs Jaccard (oracle scale only), so each run
    // re-proves the prefix filter dropped nothing. Fixture plants 10
    // three-token-suffix copies (adds ≤ 4 grams: J ≈ n/(n+4) ≫ τ) on
    // top of whatever natural near-dups the corpus holds. τ = 0.8:
    // every true pair in this corpus sits above 0.81 (verified at both
    // oracle SFs), and at 0.5 the prefix filter cannot select on the
    // 31-token template vocabulary (df ≥ 2 prunes nothing, prefixes
    // are half of every doc — 311k candidates / 26 s at sf0.1 for the
    // same 36-pair answer; τ = 0.8 shrinks prefixes to ⌈0.2n⌉+1 and
    // tightens the length ratio to [0.8, 1.25]). The 0.5 boundary
    // semantics stay spec-pinned on hand fixtures (DedupSpec).
    // Output score is the exact integer `inter·1e6 div union`.
    "q_setjoin_prefix" -> Q(
      (s, dir) => setjoinPrefixPlan(s, dir, dfOrdered = false),
      Some(setjoinPrefixOracleSql)),

    // The df-ordered (rarest-first, PPJoin-style) prefix mode of the
    // same SSJoin — the documented swap for heavy-tailed df regimes
    // where candidate volume, not stage count, dominates (r10
    // forensics: on THIS sub-MB corpus it cuts candidates 81k → 44k
    // but pays a df aggregation + grouped re-sort for it, so the
    // hash-order form stays the timed family gate). Losslessness is
    // order-independent, so the IDENTICAL brute-force oracle re-proves
    // the filter dropped nothing under this order too, and DedupSpec
    // pins bit-equal output across the two modes.
    "q_setjoin_prefix_df" -> Q(
      (s, dir) => setjoinPrefixPlan(s, dir, dfOrdered = true),
      Some(setjoinPrefixOracleSql),
      // timed family gate: q_setjoin_prefix (oracle still gates this entry)
      bench = false),

    // Near-dup CLUSTERING: connected components over the verified pair
    // graph, every doc labeled with its component's min id (what a
    // training pipeline dedupes ON — transitive copies a→b→c collapse
    // even when (a, c) never met the threshold). Spark side: iterative
    // min-label propagation, one shuffle join per round. The oracle
    // recomputes the closure with a recursive CTE over the exact
    // all-pairs graph (oracle scale only).
    "q_neardup_components" -> Q(
      (s, dir) => Dedup.nearDupComponents(
        plantedTrailing(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $componentsCtes
              |SELECT doc_id, comp_id FROM lab
              |ORDER BY doc_id""".stripMargin),
      // timed family gate: q_components_stage (oracle still gates this entry)
      bench = false),

    // Dedup SAVINGS report — the accounting a dedup pipeline publishes
    // with every corpus release: per near-dup cluster size, how many
    // clusters exist, how many documents keep-one-per-cluster removes,
    // and how many bytes that reclaims (total bytes minus the min-id
    // keeper's — the q_dedup_surviving keep convention). Same fixture,
    // threshold and shared oracle CTE block as q_neardup_components,
    // so the report can never drift from the detector it accounts for.
    // Beyond the detector itself (one LSH pass, already bench-gated by
    // q_cluster_best) the report adds one size-bounded rollup — the
    // label relation is (id, comp) longs, the histogram is k rows.
    "q_dedup_savings" -> Q(
      (s, dir) => {
        val planted = plantedTrailing(s, dir)
        val comps = Dedup.nearDupComponents(
          planted, "doc_id", "text", threshold = 0.5)
        val lens = planted.select(col("doc_id"),
          length(col("text")).cast("long").as("b"))
        comps.join(lens, Seq("doc_id"))
          .groupBy(col("comp_id"))
          .agg(count(lit(1)).as("sz"), sum(col("b")).as("tb"),
            min(struct(col("doc_id"), col("b"))).as("k"))
          .filter(col("sz") >= 2)
          .select(col("sz"), (col("tb") - col("k.b")).as("saved"))
          .groupBy(col("sz"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("sz") - 1).as("docs_removed"),
            sum(col("saved")).as("bytes_saved"))
          .select(col("sz").cast("int").as("cluster_size"),
            col("n_clusters"), col("docs_removed"), col("bytes_saved"))
          .orderBy(col("cluster_size"))
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
              |blen AS (
              |  SELECT doc_id, CAST(length(text) AS BIGINT) AS b
              |  FROM docs2),
              |g AS (
              |  SELECT l.comp_id, CAST(count(*) AS BIGINT) AS sz,
              |    CAST(sum(b.b) AS BIGINT) AS tb, min(l.doc_id) AS keeper
              |  FROM lab l JOIN blen b USING (doc_id)
              |  GROUP BY l.comp_id),
              |g2 AS (
              |  SELECT g.sz, g.tb - kb.b AS saved
              |  FROM g JOIN blen kb ON kb.doc_id = g.keeper
              |  WHERE g.sz >= 2)
              |SELECT CAST(sz AS INT) AS cluster_size,
              |  CAST(count(*) AS BIGINT) AS n_clusters,
              |  CAST(sum(sz - 1) AS BIGINT) AS docs_removed,
              |  CAST(sum(saved) AS BIGINT) AS bytes_saved
              |FROM g2 GROUP BY sz
              |ORDER BY cluster_size""".stripMargin),
      // timed family gate: q_components_stage (oracle still gates this entry)
      bench = false),

    // Quality-keeper dedup: every near-dup cluster keeps its BEST
    // document by quality score (ties → min id) instead of the minimum
    // id — the curation-grade variant of q_dedup_surviving. Same
    // fixture and threshold as q_neardup_components, so the oracle
    // reuses that entry's exact all-pairs component construction and
    // ranks within components by the recomputed quality score. The
    // planted copies append " trailing", which lowers their quality via
    // the length term only when the original is under the 500-char
    // saturation — both keep decisions exercise deterministically.
    "q_cluster_best" -> Q(
      (s, dir) => {
        val planted = plantedTrailing(s, dir)
        Dedup.nearDupBestSurvivors(planted, "doc_id", "text",
          TextFunctions.qualityScore(col("text")), threshold = 0.5,
          scoreOut = Some("quality"))
          .select(col("doc_id"), col("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
              |q AS (
              |  SELECT doc_id,
              |    $qualityExprSql
              |      AS quality
              |  FROM docs2),
              |rk AS (
              |  SELECT l.doc_id, q.quality, row_number() OVER (
              |    PARTITION BY l.comp_id ORDER BY q.quality DESC, l.doc_id) AS r
              |  FROM lab l JOIN q USING (doc_id))
              |SELECT doc_id, quality FROM rk WHERE r = 1
              |ORDER BY doc_id""".stripMargin),
      // timed family gate: q_components_stage (oracle still gates this entry)
      bench = false),

    // MATERIALIZED-STAGE composition — the production pipeline shape:
    // the LSH → verify → components lineage runs ONCE and lands in a
    // ParquetTable (the state-table-between-stages pattern the
    // reference uses for its log/control bookkeeping,
    // modules/log_table_control_table_upsert.py); the split assignment
    // AND the quality-keeper decision are then both derived from the
    // STORED labels. At 100 TB the label table is corpus-sized but
    // 16 bytes/row — re-deriving it per consumer (what the three
    // inline component entries deliberately do to stay self-contained)
    // costs three LSH runs; storing it costs one narrow table. The
    // loser set is computed eagerly (one labels scan + one pruned
    // corpus scan for quality, materialized tiny), so the OUTPUT plan
    // reads the components table exactly once and never re-runs LSH —
    // PlanSpec pins that shape.
    "q_components_stage" -> Q(
      (s, dir) => {
        val planted = plantedTrailing(s, dir)
        // stage 1: components, computed once, persisted
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-comps-stage").toString
        val labelSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("comp_id",
            org.apache.spark.sql.types.LongType)))
        val table = graft.catalog.ParquetTable(
          s, "components_stage", s"$tmp/components", labelSchema)
        table.overwrite(
          Dedup.nearDupComponents(planted, "doc_id", "text", threshold = 0.5))
        val stored = table.read()
        // stage 2: quality-keeper from STORED labels — multi-member
        // comps are exactly those some member points at without owning
        // (doc_id != comp_id), their docs get scored, rank>1 loses;
        // materialized. NO broadcast hints here: the multi-comp set,
        // the dup-membership rows and the loser set are all sized by
        // DUPLICATE MASS — corpus-derived, unbounded at 100 TB (a
        // half-duplicated crawl makes each corpus-sized). AQE
        // broadcast-converts at runtime when a batch's dup mass is
        // actually small; a static hint would pin a driver OOM.
        val multi = stored.filter(col("doc_id") =!= col("comp_id"))
          .select("comp_id").distinct()
        val dupScored = planted
          .join(stored.join(multi, Seq("comp_id")), Seq("doc_id"))
          .select(col("doc_id"), col("comp_id"),
            TextFunctions.qualityScore(col("text")).as("__q"))
        val wnd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("comp_id")).orderBy(col("__q").desc, col("doc_id"))
        val losers = dupScored
          .withColumn("__rk", row_number().over(wnd))
          .filter(col("__rk") > 1).select(col("doc_id"))
          .transform(graft.plans.Materialize.stage)
        // stage 3: leakage-safe split from the SAME stored labels; the
        // keep decision joins in as a flag (loser set dup-mass-sized —
        // AQE decides the strategy)
        graft.plans.Splits.assign(stored, "comp_id", seed = "graft",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .join(losers.withColumn("__loser", lit(true)),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("comp_id"), col("split"),
            col("__loser").isNull.as("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
              |q AS (
              |  SELECT doc_id,
              |    $qualityExprSql
              |      AS quality
              |  FROM docs2),
              |rk AS (
              |  SELECT l.doc_id, row_number() OVER (
              |    PARTITION BY l.comp_id ORDER BY q.quality DESC, l.doc_id) AS r
              |  FROM lab l JOIN q USING (doc_id)),
              |bk AS (
              |  SELECT doc_id, comp_id,
              |    ('0x' || substr(md5('graft:' || comp_id), 1, 15))::BIGINT % 10000
              |      AS bucket
              |  FROM lab)
              |SELECT b.doc_id, b.comp_id,
              |  CASE WHEN b.bucket < 8000 THEN 'train'
              |       WHEN b.bucket < 9000 THEN 'val'
              |       ELSE 'test' END AS split,
              |  r.r = 1 AS kept
              |FROM bk b JOIN rk r ON r.doc_id = b.doc_id
              |ORDER BY b.doc_id""".stripMargin)),

    // HIGH-DIAMETER components: each user's events chained in time
    // order give one long path per user — exactly the graph shape where
    // min-label propagation needs a round per hop and the large-star/
    // small-star contraction needs O(log) rounds. The oracle exploits
    // the construction: a user's chain spans ALL their events, so the
    // component label must equal min(event_id) per user (users with one
    // event have no edge and don't participate). bench=false: the cost
    // is the iterative driver loop, not a per-row kernel.
    "q_star_components" -> Q(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val edges = ev.select(col("event_id"),
            lead(col("event_id"), 1).over(w).as("next"))
          .filter(col("next").isNotNull)
          .select(col("event_id").as("id_a"), col("next").as("id_b"))
        Dedup.connectedComponentsStar(edges).orderBy(col("id"))
      },
      Some("""WITH counted AS (
             |  SELECT user_id, event_id,
             |    count(*) OVER (PARTITION BY user_id) AS n,
             |    min(event_id) OVER (PARTITION BY user_id) AS comp
             |  FROM events)
             |SELECT event_id AS id, comp
             |FROM counted WHERE n >= 2 ORDER BY id""".stripMargin),
      // timed family gate: q_components_stage (oracle still gates this entry)
      bench = false),

    // INCREMENTAL component maintenance — day-2 DML for the stored
    // dedup-cluster labels, completing the maintenance pattern the ANN
    // index (INSERT/DELETE without retrain) and BM25 index (streaming
    // ingest) already follow: the global clustering runs ONCE
    // (q_components_stage's stance); arriving duplicate pairs then
    // update the STORED labels with batch-bounded appends — batch
    // endpoints' roots resolve through a doc-id-InSet-pruned label
    // lookup plus the (churn-sized) forwarding relation, the batch's
    // ROOT graph contracts via star-CC, losers append forwarding
    // edges, new nodes append labels — nothing is rewritten, nothing
    // rescans the historical pairs. The fixture's arithmetic edge
    // classes exercise every path: chain comps, a comp-to-comp merge
    // through INTERIOR nodes (root resolution, not min endpoints),
    // new-node attach, new-new pairs, and a second batch whose merges
    // FORWARD already-forwarded roots (chains in fwd, collapsed by the
    // star-CC resolution). The oracle recomputes components over ALL
    // pairs (historical + both batches) by transitive closure — the
    // incremental answer must equal the from-scratch answer exactly.
    "q_components_incremental" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-comps-inc").toString
        val (labelsT, fwdT) = incrementalComponentsFixture(s, dir, tmp)
        val out = graft.plans.Materialize.stage(
          graft.plans.IncrementalComponents
            .resolvedLabels(labelsT.read(), fwdT.read())
            .orderBy(col("doc_id")))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(tmp))
        out
      },
      Some(componentsIncrementalOracle),
      // timed family gate: q_components_stage (oracle still gates this
      // entry; the per-batch cost is bounded by the batch, the one
      // new kernel — star-CC over the root graph — is q_star_components'
      // probed shape)
      bench = false),

    // COMPACTION of the incremental-components state — the maintenance
    // cadence that keeps the forwarding relation from growing with
    // churn forever: [[graft.plans.IncrementalComponents.compacted]]
    // folds the forwarding closure INTO the label relation (labels
    // overwritten with the resolved view, forwards truncated), after
    // which every read resolves through ZERO forwarding hops until the
    // next merge. The serve after compaction must equal the serve
    // through the full forwarding closure — gated here by the SAME
    // from-scratch transitive-closure oracle as
    // q_components_incremental, on the same fixture (historical labels
    // + two merge batches, so the pre-compaction forwards are non-
    // trivial: batch 2 forwards roots batch 1 already forwarded).
    "q_components_compact" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-comps-cpt").toString
        val (labelsT, fwdT) = incrementalComponentsFixture(s, dir, tmp)
        require(fwdT.read().count() > 0,
          "fixture must accumulate forwarding edges before compaction")
        // compacted's forwards component is empty BY CONSTRUCTION
        // (compacted = resolved view + fwd.limit(0)); the invariant
        // that the folded labels serve identically is what the oracle
        // gates — no runtime re-assertion needed here
        val (cl, _) = graft.plans.IncrementalComponents.compacted(
          labelsT.read(), fwdT.read())
        // pin before overwriting: the compacted plan reads the table
        // it replaces; re-land doc-sorted so batch lookups keep pruning
        labelsT.overwrite(graft.plans.Materialize.stage(cl)
          .repartition(col("doc_id")).sortWithinPartitions("doc_id"))
        fwdT.truncate()
        val out = graft.plans.Materialize.stage(
          graft.plans.IncrementalComponents
            .resolvedLabels(labelsT.read(), fwdT.read())
            .orderBy(col("doc_id")))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(tmp))
        out
      },
      Some(componentsIncrementalOracle),
      // timed family gate: q_components_stage (oracle still gates this
      // entry; compaction cost is one label-table rewrite on the
      // operator's cadence, amortized across the batches between runs)
      bench = false),

    // The STREAMING DEDUP PIPELINE end to end — the library body
    // graft.streaming.DedupPipeline per micro-batch: stored-index
    // hybrid serve → endpoint-pruned exact verify → INCREMENTAL
    // component maintenance, with stream state EMPTY throughout.
    // Output: every document's final cluster label (singletons = own
    // id) — gated by the SAME from-scratch oracle as
    // q_neardup_components (all-pairs trigram-Jaccard verify +
    // transitive closure), so streaming arrival order, the stored-
    // index serve, AND the incremental label algebra must jointly land
    // on the batch answer exactly.
    "q_stream_dedup_pipeline" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-stream-ddp")
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = docs.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" trailing")).as("text"))
        StreamFixtures.writeBatch(tmp, src, docs, "a",
          parts = 8, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src, planted, "b",
          parts = 1, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 4)
        // production maintenance cadence (every 8 batches — a 2-batch
        // fixture never pays it)
        val p = graft.streaming.DedupPipeline.create(ss, "ddp", tmp.toString)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 8),
          s"$tmp/ckpt")(p.perBatch(_, _))
        val docsB = Tables.load(ss, dir, "documents")
          .select(col("doc_id"), col("text"))
        val allIds = docsB.select(col("doc_id")).unionByName(
          docsB.filter(col("doc_id") < 20)
            .select((col("doc_id") + 100000).as("doc_id")))
        val resolved = graft.plans.IncrementalComponents
          .resolvedLabels(p.labels.read(), p.fwd.read())
        val out = graft.plans.Materialize.stage(
          allIds.join(resolved, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("comp_id"), col("doc_id")).as("comp_id"))
            .orderBy(col("doc_id")))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(s"""WITH RECURSIVE $componentsCtes
              |SELECT doc_id, comp_id FROM lab
              |ORDER BY doc_id""".stripMargin),
      // timed family gate: q_stream_neardup_hybrid (the candidate
      // serve is its timed shape; the verify + incremental-label
      // stages are batch-bounded appends)
      bench = false),

    // Unicode NFC canonicalization — the pass that must run BEFORE any
    // hash-keyed operator (exact dedup, MinHash shingles, containment
    // grams, token-id lookup): composed "é" (U+00E9) and decomposed
    // "e"+U+0301 hash differently, so sources that disagree on
    // normalization form (NFD is classic for OCR and macOS uploads)
    // silently miss every cross-source duplicate. The fixture plants a
    // DECOMPOSED prefix (combining acute/ring/diaeresis/grave) on 12
    // docs; `graft_nfc` (native codegen kernel, map-only, no-alloc
    // fast path on already-normalized text) composes them, and the
    // entry reports per-doc whether normalization changed the text,
    // the code-point lengths before/after (composition shrinks them),
    // and the md5 of the normalized utf-8 — bit-equality with ICU's
    // nfc_normalize in DuckDB, since NFC composition is frozen by the
    // Unicode stability policy.
    "q_text_normalize" -> Q(
      (s, dir) => {
        // combining acute U+0301, ring U+030A, diaeresis U+0308,
        // grave U+0300 — DECOMPOSED spellings ("cafe"+mark), which
        // NFC composes to single code points
        val decomposed = "café Å grün vis-à-vis "
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 12, concat(lit(decomposed), col("text")))
              .otherwise(col("text")).as("t"))
        planted
          .select(col("doc_id"), col("t"),
            call_function("graft_nfc", col("t")).as("nf"))
          .select(col("doc_id"),
            (col("t") =!= col("nf")).cast("int").as("changed"),
            length(col("t")).cast("long").as("len_raw"),
            length(col("nf")).cast("long").as("len_nfc"),
            md5(col("nf")).as("nfc_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 12
             |      THEN 'cafe' || chr(769) || ' A' || chr(778) || ' gru'
             |           || chr(776) || 'n vis-a' || chr(768) || '-vis ' || text
             |      ELSE text END AS t
             |  FROM documents),
             |n AS (SELECT doc_id, t, nfc_normalize(t) AS nf FROM planted)
             |SELECT doc_id, CAST(t <> nf AS INT) AS changed,
             |  CAST(length(t) AS BIGINT) AS len_raw,
             |  CAST(length(nf) AS BIGINT) AS len_nfc,
             |  md5(nf) AS nfc_md5
             |FROM n ORDER BY doc_id""".stripMargin)),

    // Cross-normalization-form dedup — the operational consequence of
    // q_text_normalize: two sources emit the SAME visible text in
    // different Unicode forms (10 composed docs, 10 decomposed docs,
    // five shared contents), so raw-byte md5 splits each content into
    // two groups and the duplicate pair is INVISIBLE to byte-keyed
    // exact dedup. Keying on md5(graft_nfc(text)) unifies them; the
    // entry reports exactly the groups canonicalization recovered
    // (distinct raw keys > 1 under one NFC key) — 5 groups of 4 docs
    // in 2 raw forms each. ASCII text is NFC-fixed, so a natural doc
    // can never appear here (raw differs ⇒ NFC differs). One map pass
    // + one hash-keyed groupBy; bench=false (q_text_normalize already
    // times the kernel scan — this entry is the semantics gate).
    "q_dedup_nfc" -> Q(
      (s, dir) => {
        val composed = "r\u00e9sum\u00e9 na\u00efve caf\u00e9 doc "
        val decomposed = "re\u0301sume\u0301 nai\u0308ve cafe\u0301 doc "
        val planted = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") < 10,
              concat(lit(composed), (col("doc_id") % 5).cast("string")))
              .when(col("doc_id").between(100, 109),
                concat(lit(decomposed), (col("doc_id") % 5).cast("string")))
              .otherwise(col("text")).as("t"))
        planted
          .select(col("doc_id"), md5(col("t")).as("raw_key"),
            md5(call_function("graft_nfc", col("t"))).as("nfc_key"))
          .groupBy(col("nfc_key"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("raw_key")).as("n_forms"),
            min(col("doc_id")).as("min_doc"))
          .filter(col("n_forms") > 1)
          .orderBy(col("min_doc"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, CASE
             |    WHEN doc_id < 10 THEN nfc_normalize(
             |      're' || chr(769) || 'sume' || chr(769) || ' nai'
             |      || chr(776) || 've cafe' || chr(769) || ' doc '
             |      || (doc_id % 5))
             |    WHEN doc_id BETWEEN 100 AND 109 THEN
             |      're' || chr(769) || 'sume' || chr(769) || ' nai'
             |      || chr(776) || 've cafe' || chr(769) || ' doc '
             |      || (doc_id % 5)
             |    ELSE text END AS t
             |  FROM documents),
             |k AS (SELECT doc_id, md5(t) AS raw_key,
             |        md5(nfc_normalize(t)) AS nfc_key FROM planted)
             |SELECT nfc_key, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT raw_key) AS BIGINT) AS n_forms,
             |  min(doc_id) AS min_doc
             |FROM k GROUP BY nfc_key
             |HAVING count(DISTINCT raw_key) > 1
             |ORDER BY min_doc""".stripMargin),
      // timed family gate: q_dedup_exact (oracle still gates this entry)
      bench = false),

    // Per-source ADAPTIVE quality gate — a global quality threshold
    // over-prunes clean sources and under-prunes noisy ones; the
    // production stance (CCNet's per-language terciles generalized) is
    // a PER-GROUP threshold: keep documents at or above their own
    // source's 75th-percentile quality. Exact per-group percentile
    // (type-7 interpolation, the q_percentiles convention — DuckDB's
    // quantile_cont agrees on the double grid; both operands live on
    // the same 4-dp rounded grid so the >= comparison is
    // engine-stable). The threshold relation is group-enum-sized and
    // broadcast back; the gate itself is a map-side comparison. The
    // scored relation is pinned once for its two consumers
    // (threshold agg + gate agg). At 100 TB the exact per-group
    // percentile becomes approx_percentile per group — the swap
    // already implemented and tolerance-gated by
    // q_classifier_filter_approx; this entry pins the exact contract.
    "q_adaptive_gate" -> Q(
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.qualityScore(col("text")).as("quality"))
        val pinned = graft.plans.Materialize.stage(scored)
        val thr = pinned.groupBy(col("source"))
          .agg(round(expr("percentile(quality, 0.75)"), 4).as("thr"))
        pinned.join(broadcast(thr), Seq("source"))
          .groupBy(col("source"), col("thr"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("quality") >= col("thr"), 1L).otherwise(0L))
              .as("n_kept"))
          .select(col("source"), col("thr"), col("n_docs"), col("n_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, source,
              |    $qualityExprSql AS quality
              |  FROM documents),
              |thr AS (
              |  SELECT source, round(quantile_cont(quality, 0.75), 4) AS thr
              |  FROM scored GROUP BY source)
              |SELECT s.source, t.thr,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(CASE WHEN s.quality >= t.thr THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_kept
              |FROM scored s JOIN thr t USING (source)
              |GROUP BY s.source, t.thr
              |ORDER BY s.source""".stripMargin)),

    // COLLOCATION mining by pointwise mutual information — the phrase
    // detector (word2vec-era Mikolov phrasing, tokenizer-merge
    // candidates): adjacent bigrams whose joint count beats chance,
    // PMI = ln(c12·N / (c1·c2)) over corpus unigram/bigram counts,
    // count floor 5 against PMI's rare-pair bias. Micro-unit
    // quantization happens BEFORE ranking (the round-before-rank
    // rule) with the ln composed identically in both engines
    // (q_bigram_logprob's accepted stance for transcendental terms).
    // Two map-combined count passes + two broadcastable dictionary
    // joins + TakeOrdered 20 — no corpus shuffle beyond the counts.
    "q_collocations" -> Q(
      (s, dir) => {
        // One tokenize pass shared by the unigram and bigram counts
        // (unstaged, each aggregate re-scanned and re-tokenized the
        // corpus — the CorpusStats.bigramLogProbPair stance, guide §8);
        // the two count relations are then pinned because each feeds
        // two subtrees (uni joins back twice, bi feeds the total and
        // the PMI select) and both are vocabulary-sized, not
        // corpus-sized.
        val toks = graft.plans.Materialize.stage(
          Tables.load(s, dir, "documents").select(
            filter(split(trim(lower(col("text"))), "\\s+"),
              t => length(t) > 0).as("t")))
        val uni = graft.plans.Materialize.stage(
          toks.select(explode(col("t")).as("w"))
            .groupBy(col("w")).agg(count(lit(1)).as("cu")))
        val bi = graft.plans.Materialize.stage(
          toks.filter(size(col("t")) >= 2)
            .select(explode(expr(
              "transform(sequence(1, size(t) - 1)," +
                " i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("b"))
            .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
            .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
        val n = bi.agg(sum(col("c12")).as("n"))
        bi.filter(col("c12") >= 5)
          .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
          .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
          .crossJoin(broadcast(n))
          .select(col("w1"), col("w2"), col("c12"),
            floor(lit(1e6) * log((col("c12").cast("double") * col("n")) /
              (col("cu1").cast("double") * col("cu2"))))
              .cast("long").as("pmi_micro"))
          .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
          .limit(20)
      },
      Some("""WITH t0 AS (
             |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |    x -> length(x) > 0) AS t
             |  FROM documents),
             |uni AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS cu
             |  FROM (SELECT unnest(t) AS w FROM t0) GROUP BY w),
             |bi AS (
             |  SELECT t[i] AS w1, t[i+1] AS w2
             |  FROM (SELECT t, unnest(range(1, len(t))) AS i
             |        FROM t0 WHERE len(t) >= 2)),
             |bc AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
             |  FROM bi GROUP BY 1, 2),
             |nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bc),
             |p AS (
             |  SELECT b.w1, b.w2, b.c12,
             |    CAST(floor(1000000.0 * ln((CAST(b.c12 AS DOUBLE) * nn.n)
             |      / (CAST(u1.cu AS DOUBLE) * u2.cu))) AS BIGINT)
             |      AS pmi_micro
             |  FROM bc b
             |  JOIN uni u1 ON u1.w = b.w1
             |  JOIN uni u2 ON u2.w = b.w2, nn
             |  WHERE b.c12 >= 5)
             |SELECT w1, w2, c12, pmi_micro FROM p
             |ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin)),

    // CLASS-BALANCED mixture weights (Cui et al. 2019's effective
    // number of samples): per-source loss weight
    // w_s = (1−β)/(1−β^n_s) with β = 0.999 — between inverse-frequency
    // (β→1) and uniform (β=0) reweighting, the standard fix for
    // long-tail source skew in a training mix. The whole operator is
    // one map-combined count per source plus enum-sized math; weights
    // quantize to micro-units at the pow boundary (floor — the
    // q_lsh_tuning stance for transcendental terms) and the
    // normalization to mean 1 across sources is then EXACT integer
    // arithmetic over the quantized weights.
    "q_class_balanced" -> Q(
      (s, dir) => {
        val counts = Tables.load(s, dir, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
        val w = counts.select(col("source"), col("n"),
          floor(lit(1e6) * (lit(1.0) - lit(0.999)) /
            (lit(1.0) - pow(lit(0.999), col("n").cast("double"))))
            .cast("long").as("w_micro"))
        val tot = w.agg(sum(col("w_micro")).as("t"),
          count(lit(1)).as("k"))
        w.crossJoin(broadcast(tot))
          .select(col("source"), col("n"), col("w_micro"),
            expr("w_micro * 1000000L * k div t").as("norm_micro"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY source),
             |w AS (
             |  SELECT source, n,
             |    CAST(floor(1000000.0 * (1.0 - 0.999)
             |      / (1.0 - power(0.999, CAST(n AS DOUBLE)))) AS BIGINT)
             |      AS w_micro
             |  FROM c),
             |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS t,
             |        CAST(count(*) AS BIGINT) AS k FROM w)
             |SELECT w.source, w.n, w.w_micro,
             |  CAST(w.w_micro * 1000000 * t.k // t.t AS BIGINT) AS norm_micro
             |FROM w, t
             |ORDER BY w.source""".stripMargin)),

    // Context-length PACKING SWEEP — the sizing report run before
    // committing a training corpus to a sequence length: for each
    // candidate L, how many sequences doc-boundary packing needs
    // (ceil(tokens/L) per doc), how many pad tokens it wastes, and the
    // token efficiency — read next to q_train_sequences' boundary-free
    // packed layout (efficiency 1 by construction) and q_length_buckets
    // (pad waste of the bucketed layout). One token-count pass (the
    // narrow per-doc relation), crossed with the enum-sized L grid,
    // all-integer arithmetic — the report is exact and repartition-
    // stable.
    "q_packing_sweep" -> Q(
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(filter(split(trim(col("text")), "\\s+"),
              t => length(t) > 0)).cast("long").as("tok"))
          .filter(col("tok") > 0)
        val grid = Seq(128L, 256L, 512L, 1024L).toDF("seq_len")
        toks.crossJoin(broadcast(grid))
          .select(col("seq_len"), col("tok"),
            expr("(tok + seq_len - 1) div seq_len").as("chunks"))
          .groupBy(col("seq_len"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tok")).as("total_tokens"),
            sum(col("chunks")).as("n_seqs"),
            sum(col("chunks") * col("seq_len") - col("tok"))
              .as("pad_tokens"))
          .withColumn("efficiency_micro",
            expr("total_tokens * 1000000L div (n_seqs * seq_len)"))
          .orderBy(col("seq_len"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> length(x) > 0)) AS BIGINT) AS tok
             |  FROM documents),
             |nz AS (SELECT * FROM toks WHERE tok > 0),
             |grid(seq_len) AS (VALUES (128), (256), (512), (1024)),
             |x AS (
             |  SELECT CAST(g.seq_len AS BIGINT) AS seq_len, n.tok,
             |    (n.tok + g.seq_len - 1) // g.seq_len AS chunks
             |  FROM nz n CROSS JOIN grid g)
             |SELECT seq_len,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(tok) AS BIGINT) AS total_tokens,
             |  CAST(sum(chunks) AS BIGINT) AS n_seqs,
             |  CAST(sum(chunks * seq_len - tok) AS BIGINT) AS pad_tokens,
             |  CAST(sum(tok) * 1000000 // (sum(chunks) * seq_len) AS BIGINT)
             |    AS efficiency_micro
             |FROM x GROUP BY seq_len
             |ORDER BY seq_len""".stripMargin),
      // timed family gate: q_pack_bins (oracle still gates this entry)
      bench = false),

    // Cross-source score CALIBRATION by quantile normalization — the
    // step between heterogeneous quality scorers and one global gate:
    // raw scores from different sources aren't comparable (a 0.6 from
    // a clean source ≠ a 0.6 from a noisy one), so each document's
    // score maps to its WITHIN-SOURCE percent rank ((rank−1)/(n−1),
    // ties share a rank so calibration never depends on doc id) and
    // the gate cuts on the calibrated value — by construction each
    // source passes the same fraction, which is the operator's whole
    // point (q_adaptive_gate reports per-source thresholds; this one
    // emits the per-doc calibrated SCORE a downstream mixer consumes).
    // Plan: one narrow score pass, one shuffle on source, per-source
    // window rank. At 100 TB the per-source sort inside the window is
    // the cost; the documented swap is rank-from-equi-depth-bucket
    // counts (the q_equidepth ladder broadcast back), which
    // approximates pct map-side with no per-source sort.
    "q_quantile_norm" -> Q(
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.qualityScore(col("text")).as("quality"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("quality"))
        scored.select(col("doc_id"), col("source"), col("quality"),
          round(percent_rank().over(w), 6).as("pct"))
          .withColumn("kept",
            when(col("pct") >= 0.5, 1).otherwise(0))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, source,
              |    $qualityExprSql AS quality
              |  FROM documents),
              |r AS (
              |  SELECT doc_id, source, quality,
              |    round(percent_rank() OVER (
              |      PARTITION BY source ORDER BY quality), 6) AS pct
              |  FROM scored)
              |SELECT doc_id, source, quality, pct,
              |  CASE WHEN pct >= 0.5 THEN 1 ELSE 0 END AS kept
              |FROM r
              |ORDER BY doc_id""".stripMargin)),

    // Tokenizer FERTILITY report — subword tokens per whitespace word
    // by language, the standard multilingual tokenizer-health metric
    // (a vocabulary that over-fragments one language inflates its
    // training cost and starves its effective context). Rides the
    // graft_subword native kernel (one map-only corpus pass, vocab in
    // the plan) into a per-language rollup; the ratio is an exact
    // integer division in micro-units (the PageRank/LM stance), so
    // the row is bit-stable under any partitioning. The oracle replays
    // the greedy longest-match walk per distinct word as the shared
    // recursive CTE (subwordCtes — same definition as
    // q_subword_counts, so the two entries cannot drift).
    "q_tokenizer_fertility" -> Q(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("lang"),
          TextFunctions.subwordStats(col("text")).as("__sw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__sw.n_words")).as("n_words"),
          sum(col("__sw.n_subwords")).as("n_subwords"))
        .withColumn("fertility_micro",
          expr("n_subwords * 1000000L div n_words"))
        .orderBy(col("lang")),
      Some(s"""WITH RECURSIVE ${subwordCtes("documents")}
              |SELECT d.lang,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(s.n_words) AS BIGINT) AS n_words,
              |  CAST(sum(s.n_subwords) AS BIGINT) AS n_subwords,
              |  CAST(sum(s.n_subwords) * 1000000 // sum(s.n_words)
              |    AS BIGINT) AS fertility_micro
              |FROM documents d JOIN docsw s USING (doc_id)
              |GROUP BY d.lang
              |ORDER BY d.lang""".stripMargin),
      // the kernel pass is already timed by q_subword_counts — this
      // rollup stays oracle-gated but untimed
      // timed family gate: q_subword_counts (oracle still gates this entry)
      bench = false),

    // Filter-funnel ATTRITION report — the per-stage accounting a
    // curation pipeline publishes with every corpus release (the
    // FineWeb/RefinedWeb ablation table): how many documents each
    // gate removed, attributed to the FIRST failing stage in the
    // canonical order lang → length → quality → exact-dedup, so the
    // columns sum exactly to the corpus. Distinct from q_curation_*
    // (which emit the surviving sample): this is the report about the
    // stages themselves. Dedup runs on the stage-3 SURVIVORS (the
    // real pipeline order) via min-doc_id-per-fingerprint; the
    // fixture plants constant-text duplicates on one modulus whose
    // quality passes every scalar gate, so non-'en' plants attrit at
    // the lang stage while 'en' plants reach — and fail — the dedup
    // stage, pinning the first-fail attribution. Shape: the scalar
    // flags are ONE codegen pass; the only shuffles are the
    // survivor-sized fingerprint agg and the group-enum-sized source
    // aggs. Sanity: drops + survivors = total, per source.
    "q_attrition" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"), col("source"),
          col("lang"),
          when(col("doc_id") % 41 === 7, lit(TextQueries.constDupDoc))
            .otherwise(col("text")).as("text"))
        val flags = planted.select(col("doc_id"), col("source"),
          (col("lang") === "en").as("f1"),
          (length(col("text")) >= 120).as("f2"),
          (TextFunctions.qualityScore(col("text")) >= 0.85).as("f3"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        val pinned = graft.plans.Materialize.stage(flags)
        val surv = pinned.filter(col("f1") && col("f2") && col("f3"))
        val keepers = surv.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keeper"))
        val dedup = surv.join(keepers, Seq("fp"))
          .groupBy(col("source"))
          .agg(sum(when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
              .as("n_survive"),
            sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
              .as("drop_dup"))
        val scalarDrops = pinned.groupBy(col("source"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(!col("f1"), 1L).otherwise(0L)).as("drop_lang"),
            sum(when(col("f1") && !col("f2"), 1L).otherwise(0L))
              .as("drop_len"),
            sum(when(col("f1") && col("f2") && !col("f3"), 1L)
              .otherwise(0L)).as("drop_quality"))
        scalarDrops.join(dedup, Seq("source"), "left")
          .select(col("source"), col("n_total"), col("drop_lang"),
            col("drop_len"), col("drop_quality"),
            coalesce(col("drop_dup"), lit(0L)).as("drop_dup"),
            coalesce(col("n_survive"), lit(0L)).as("n_survive"))
          .orderBy(col("source"))
      },
      Some(s"""WITH planted AS (
              |  SELECT doc_id, source, lang,
              |    CASE WHEN doc_id % 41 = 7 THEN '${TextQueries.constDupDoc}'
              |      ELSE text END AS text
              |  FROM documents),
              |f AS (
              |  SELECT doc_id, source,
              |    (lang = 'en') AS f1,
              |    (length(text) >= 120) AS f2,
              |    ($qualityExprSql >= 0.85) AS f3,
              |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
              |      AS fp
              |  FROM planted),
              |surv AS (
              |  SELECT doc_id, source, fp FROM f WHERE f1 AND f2 AND f3),
              |keepers AS (
              |  SELECT fp, min(doc_id) AS keeper FROM surv GROUP BY fp),
              |b AS (
              |  SELECT s.source,
              |    CAST(sum(CASE WHEN s.doc_id = k.keeper THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_survive,
              |    CAST(sum(CASE WHEN s.doc_id <> k.keeper THEN 1 ELSE 0 END)
              |      AS BIGINT) AS drop_dup
              |  FROM surv s JOIN keepers k USING (fp) GROUP BY s.source),
              |a AS (
              |  SELECT source, CAST(count(*) AS BIGINT) AS n_total,
              |    CAST(sum(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS drop_lang,
              |    CAST(sum(CASE WHEN f1 AND NOT f2 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS drop_len,
              |    CAST(sum(CASE WHEN f1 AND f2 AND NOT f3 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS drop_quality
              |  FROM f GROUP BY source)
              |SELECT a.source, a.n_total, a.drop_lang, a.drop_len,
              |  a.drop_quality,
              |  coalesce(b.drop_dup, 0) AS drop_dup,
              |  coalesce(b.n_survive, 0) AS n_survive
              |FROM a LEFT JOIN b ON b.source = a.source
              |ORDER BY a.source""".stripMargin)),

    // Soft deduplication — duplicate DOWNWEIGHTING instead of dropping
    // (the SoftDeDup stance: keep every copy but scale its training
    // weight by 1/cluster_size, so the corpus distribution is
    // preserved while repeated text stops dominating the loss). Same
    // normalized-fingerprint clusters as q_dedup_exact, same planted
    // duplicates; the weight is exact integer micro-units
    // (1e6 div size — positive operands, so Spark `div` ≡ DuckDB
    // `//`). One window count over the fingerprint — a single shuffle
    // and NO join back (the exactDedup lesson: a groupBy + semi-join
    // gives the upstream two consumers), and no per-cluster list ever
    // materializes. The keep/drop detectors stay the default; this is
    // the distribution-preserving alternative a mixture-sensitive
    // pretraining run reaches for.
    "q_soft_dedup" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(graft.text.TextFunctions.fingerprint(col("text")))
        withPlantedDups(s, dir)
          .select(col("doc_id"), count(lit(1)).over(w).as("cluster_size"))
          .select(col("doc_id"), col("cluster_size"),
            expr("1000000L div cluster_size").as("weight_q"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH docs2 AS ($plantedCte),
              |c AS (
              |  SELECT doc_id, CAST(count(*) OVER (PARTITION BY
              |      md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))
              |    AS BIGINT) AS cluster_size
              |  FROM docs2)
              |SELECT doc_id, cluster_size,
              |  1000000 // cluster_size AS weight_q
              |FROM c ORDER BY doc_id""".stripMargin)),

    // BLEU-2 generation evaluation — clipped n-gram precision of a
    // candidate against its reference (Papineni et al. 2002), the
    // lexical-overlap score a synthetic-data pipeline reports when
    // grading generated text against sources. The fixture derives a
    // deterministic "generation" from every document by a per-token
    // md5 draw: 10% of tokens DROP, 20% mutate to an OOV 'genN' token,
    // 10% STUTTER (emitted twice — the classic repetition failure
    // clipping exists to punish: the second copy exceeds the
    // reference count and clips to zero credit). Per document:
    // clipped unigram/bigram matches n1/n2 over candidate totals
    // d1/d2, and the quantized geometric-mean precision
    // floor(1e6·√((n1·n2)/(d1·d2))) — exact integers through one
    // correctly-rounded IEEE chain, so both engines agree bit-for-bit;
    // ref_len/cand_len ride along so any brevity penalty is
    // recoverable downstream without re-tokenizing. Candidate bigrams
    // form over the POST-edit stream ((pos, sub) order after drops,
    // mutations and stutters), not the reference positions. Shape:
    // one tokenize pass pinned once (five consumers), per-gram
    // counts shuffle on (doc, gram), all reductions map-side
    // combining; nothing corpus-sized sits in one task.
    "q_bleu_pairs" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val marked = graft.plans.Materialize.stage(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"),
              posexplode(filter(split(trim(lower(col("text"))), "\\s+"),
                t => length(t) > 0)).as(Seq("pos", "tok")))
            .withColumn("h", pmod(graft.text.Dedup.md5Hash60(
              concat(lit("gen:"), col("doc_id").cast("string"), lit(":"),
                (col("pos") + 1).cast("string"))), lit(10L))))
        val cand = graft.plans.Materialize.stage(
          marked.select(col("doc_id"), col("pos"),
              when(col("h") === 0L, array().cast("array<string>"))
                .when(col("h") <= 2L,
                  array(concat(lit("gen"), col("h").cast("string"))))
                .when(col("h") === 3L, array(col("tok"), col("tok")))
                .otherwise(array(col("tok"))).as("lst"))
            .select(col("doc_id"), col("pos"),
              posexplode(col("lst")).as(Seq("sub", "ctok"))))
        def clipped(ref: DataFrame, cnd: DataFrame, gram: String) =
          cnd.groupBy(col("doc_id"), col(gram)).agg(count(lit(1)).as("cc"))
            .join(ref.groupBy(col("doc_id"), col(gram))
              .agg(count(lit(1)).as("rc")), Seq("doc_id", gram), "left")
            .groupBy(col("doc_id"))
            .agg(sum(least(col("cc"), coalesce(col("rc"), lit(0L)))).as("n"),
              sum(col("cc")).as("d"))
        val wr = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val wc = Window.partitionBy(col("doc_id"))
          .orderBy(col("pos"), col("sub"))
        val refBig = marked
          .withColumn("nxt", lead(col("tok"), 1).over(wr))
          .filter(col("nxt").isNotNull)
          .select(col("doc_id"),
            concat(col("tok"), lit(" "), col("nxt")).as("g"))
        val candBig = cand
          .withColumn("nxt", lead(col("ctok"), 1).over(wc))
          .filter(col("nxt").isNotNull)
          .select(col("doc_id"),
            concat(col("ctok"), lit(" "), col("nxt")).as("g"))
        val uni = clipped(marked.select(col("doc_id"), col("tok").as("g")),
          cand.select(col("doc_id"), col("ctok").as("g")), "g")
          .select(col("doc_id"), col("n").as("n1"), col("d").as("d1"))
        val big = clipped(refBig, candBig, "g")
          .select(col("doc_id"), col("n").as("n2"), col("d").as("d2"))
        marked.groupBy(col("doc_id")).agg(count(lit(1)).as("ref_len"))
          .join(uni, Seq("doc_id"), "left")
          .join(big, Seq("doc_id"), "left")
          .select(col("doc_id"), col("ref_len"),
            coalesce(col("d1"), lit(0L)).as("cand_len"),
            coalesce(col("n1"), lit(0L)).as("n1"),
            coalesce(col("d1"), lit(0L)).as("d1"),
            coalesce(col("n2"), lit(0L)).as("n2"),
            coalesce(col("d2"), lit(0L)).as("d2"))
          .withColumn("bleu2_q",
            when(col("d1") === 0L || col("d2") === 0L, lit(0L))
              .otherwise(floor(sqrt(
                (col("n1") * col("n2")).cast("double") /
                  (col("d1") * col("d2")).cast("double")) * lit(1000000.0))
                .cast("long")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> length(x) > 0) AS t
             |  FROM documents),
             |marked AS (
             |  SELECT doc_id, s.i AS pos, s.tok AS tok,
             |    ('0x' || substr(md5('gen:' || doc_id || ':' || s.i), 1, 15))
             |      ::BIGINT % 10 AS h
             |  FROM (SELECT doc_id,
             |          unnest(list_transform(range(1, len(t) + 1),
             |            i -> struct_pack(i := i, tok := t[i]))) AS s
             |        FROM t0)),
             |cand AS (
             |  SELECT doc_id, pos, u.s AS sub, u.x AS ctok
             |  FROM (SELECT doc_id, pos,
             |          CASE WHEN h = 0 THEN []
             |               WHEN h <= 2 THEN ['gen' || h]
             |               WHEN h = 3 THEN [tok, tok]
             |               ELSE [tok] END AS lst
             |        FROM marked),
             |    unnest(list_transform(range(1, len(lst) + 1),
             |      i -> struct_pack(s := i, x := lst[i]))) AS z(u)),
             |refuni AS (SELECT doc_id, tok AS g, CAST(count(*) AS BIGINT)
             |             AS rc FROM marked GROUP BY 1, 2),
             |canduni AS (SELECT doc_id, ctok AS g, CAST(count(*) AS BIGINT)
             |              AS cc FROM cand GROUP BY 1, 2),
             |uni AS (
             |  SELECT c.doc_id,
             |    CAST(sum(least(c.cc, coalesce(r.rc, 0))) AS BIGINT) AS n1,
             |    CAST(sum(c.cc) AS BIGINT) AS d1
             |  FROM canduni c LEFT JOIN refuni r
             |    ON r.doc_id = c.doc_id AND r.g = c.g
             |  GROUP BY c.doc_id),
             |refbig AS (
             |  SELECT doc_id, tok || ' ' || nxt AS g
             |  FROM (SELECT doc_id, tok, lead(tok) OVER (
             |          PARTITION BY doc_id ORDER BY pos) AS nxt
             |        FROM marked) WHERE nxt IS NOT NULL),
             |candbig AS (
             |  SELECT doc_id, ctok || ' ' || nxt AS g
             |  FROM (SELECT doc_id, ctok, lead(ctok) OVER (
             |          PARTITION BY doc_id ORDER BY pos, sub) AS nxt
             |        FROM cand) WHERE nxt IS NOT NULL),
             |rb AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc
             |       FROM refbig GROUP BY 1, 2),
             |cb AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc
             |       FROM candbig GROUP BY 1, 2),
             |big AS (
             |  SELECT c.doc_id,
             |    CAST(sum(least(c.cc, coalesce(r.rc, 0))) AS BIGINT) AS n2,
             |    CAST(sum(c.cc) AS BIGINT) AS d2
             |  FROM cb c LEFT JOIN rb r
             |    ON r.doc_id = c.doc_id AND r.g = c.g
             |  GROUP BY c.doc_id),
             |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ref_len
             |         FROM marked GROUP BY doc_id)
             |SELECT b.doc_id, b.ref_len,
             |  coalesce(u.d1, 0) AS cand_len,
             |  coalesce(u.n1, 0) AS n1, coalesce(u.d1, 0) AS d1,
             |  coalesce(g.n2, 0) AS n2, coalesce(g.d2, 0) AS d2,
             |  CASE WHEN coalesce(u.d1, 0) = 0 OR coalesce(g.d2, 0) = 0
             |    THEN 0
             |    ELSE CAST(floor(sqrt(
             |      CAST(u.n1 * g.n2 AS DOUBLE) / CAST(u.d1 * g.d2 AS DOUBLE))
             |      * 1000000.0) AS BIGINT) END AS bleu2_q
             |FROM base b
             |LEFT JOIN uni u ON u.doc_id = b.doc_id
             |LEFT JOIN big g ON g.doc_id = b.doc_id
             |ORDER BY b.doc_id""".stripMargin),
      // timed family gate: q_bt_ratings (oracle still gates this entry)
      bench = false),

    // BPE merge LEARNING (Sennrich et al. 2016) — the tokenizer-
    // training step itself, not its application (q_subword_counts
    // applies a fixed vocab; q_vocab_induce ranks static n-grams).
    // Three greedy merge rounds: count adjacent symbol pairs weighted
    // by word frequency, adopt the most frequent pair (ties: freq
    // desc, pair asc), rewrite, repeat. The corpus-sized work is ONE
    // word-count pass; every round then runs over the bounded word
    // DICTIONARY expanded to (word, pos, symbol) rows — the standard
    // dictionary-BPE formulation, which is exactly what makes the
    // trainer distributable at 100 TB (the dictionary is
    // corpus-growth-sublinear; raw-text BPE would re-walk every
    // token). Greedy left-to-right application — where "aaa" under
    // merge "aa" must merge positions 1-2, not 2-3 — is inherently
    // sequential, but reduces to windows: maximal runs of consecutive
    // hit positions (islands) merge at every ODD in-island rank, which
    // both engines express as lag-break → running-sum island id →
    // row_number parity. Each round's top pair is a bounded 1-row
    // fetch (the KMeans-centroid stance); each round's state is
    // pinned once (multi-consumer: pair counts AND the rewrite).
    "q_bpe_merges" -> Q(
      (s, dir) => {
        val words = Tables.load(s, dir, "documents")
          .select(explode(filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0)).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        import s.implicits._
        graft.text.Bpe.learnMerges(words, "w", "cnt", rounds = 3)
          .zipWithIndex
          .map { case ((l, r, f), i) => (i + 1, l, r, l + r, f) }
          .toDF("step", "lhs", "rhs", "merged", "freq")
          .orderBy(col("step"))
      },
      Some {
        def round(k: Int): String =
          s"""wn$k AS (
             |  SELECT w, cnt, pos, sym,
             |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
             |  FROM seq${k - 1}),
             |top$k AS (
             |  SELECT sym AS tl, nxt AS tr, f FROM (
             |    SELECT sym, nxt, CAST(sum(cnt) AS BIGINT) AS f
             |    FROM wn$k WHERE nxt IS NOT NULL GROUP BY 1, 2)
             |  ORDER BY f DESC, tl, tr LIMIT 1),
             |h$k AS (
             |  SELECT wn.w, wn.pos,
             |    CASE WHEN wn.pos - lag(wn.pos) OVER (
             |        PARTITION BY wn.w ORDER BY wn.pos) = 1
             |      THEN 0 ELSE 1 END AS brk
             |  FROM wn$k wn, top$k t
             |  WHERE wn.sym = t.tl AND wn.nxt = t.tr),
             |i$k AS (
             |  SELECT w, pos, sum(brk) OVER (PARTITION BY w ORDER BY pos
             |    ROWS UNBOUNDED PRECEDING) AS isl
             |  FROM h$k),
             |s$k AS (
             |  SELECT w, pos FROM (
             |    SELECT w, pos, row_number() OVER (PARTITION BY w, isl
             |      ORDER BY pos) AS rn
             |    FROM i$k)
             |  WHERE rn % 2 = 1),
             |seq$k AS (
             |  SELECT w, cnt,
             |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
             |    CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
             |  FROM (
             |    SELECT wn.w, wn.cnt, wn.pos, wn.sym, wn.nxt,
             |      (s.pos IS NOT NULL) AS sel,
             |      (c.pos IS NOT NULL) AS consumed
             |    FROM wn$k wn
             |    LEFT JOIN s$k s ON s.w = wn.w AND s.pos = wn.pos
             |    LEFT JOIN s$k c ON c.w = wn.w AND c.pos + 1 = wn.pos)
             |  WHERE NOT consumed)""".stripMargin
        s"""WITH words AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_filter(
           |      string_split_regex(trim(lower(text)), '\\s+'),
           |      x -> length(x) > 0)) AS w
           |    FROM documents)
           |  GROUP BY w),
           |seq0 AS (
           |  SELECT w, cnt, CAST(i AS BIGINT) AS pos,
           |    substr(w, CAST(i AS INT), 1) AS sym
           |  FROM words, unnest(range(1, length(w) + 1)) AS u(i)),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT step, tl AS lhs, tr AS rhs, tl || tr AS merged, f AS freq
           |FROM (
           |  SELECT 1 AS step, * FROM top1
           |  UNION ALL SELECT 2, * FROM top2
           |  UNION ALL SELECT 3, * FROM top3)
           |ORDER BY step""".stripMargin
      })
  )
}
