package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.vector.{Ann, VectorFunctions}

/** Embedding similarity search over `embeddings` (array<float> × 64):
  * brute-force cosine top-k as the verified baseline, LSH-bucketed ANN
  * as the scale path, plus a label-purity quality metric through the
  * windowed exact-kNN path. */
object VectorQueries {

  /** The LSH hyperplanes as a DuckDB VALUES literal — Scala's
    * Double.toString is shortest-round-trip, so DuckDB parses back the
    * exact same doubles and the oracle recomputes the same buckets. */
  private def planesValues(bits: Int, dim: Int, seed: Long): String =
    Ann.hyperplanes(bits, dim, seed).zipWithIndex.map { case (p, j) =>
      s"($j, [${p.mkString(",")}])"
    }.mkString(",\n    ")

  /** The near-dup fixture shared by `q_embed_neardup` and
    * `q_semantic_dedup`: embeddings plus perturbed copies of every 25th
    * vector (deterministic ±0.004 pattern — cosine vs the original stays
    * ≥ 0.98). ONE definition on each engine side so the two entries can
    * never drift onto different planted sets. Both inherit the same
    * exact-oracle validity argument: hashes/planes are
    * seeded-deterministic over the driver's fixed tables, so
    * LSH-candidate completeness vs the oracle's all-pairs graph is a
    * reproducible dataset property (verified at sf0.001/sf0.01); a
    * borderline pair split by every plane would surface as a red
    * correctness row, never silently. */
  private def plantedEmbeddings(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.filter(col("vec_id") % 25 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.002f) * ((i * 7 + col("vec_id")) % 5 - 2).cast("float"))
          .as("embedding")))
  }

  /** Size of [[plantedEmbeddings]] from parquet footers only (no Spark
    * job): corpus + one perturbed copy per 25 rows. Feeds the LSH bits
    * derivation, which needs log2(n), not an exact count. */
  private def plantedSize(s: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val n = Tables.parquetRowCount(s, dir, "embeddings")
    n + n / 25
  }

  private val plantedCte =
    """SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id,
      |    list_transform(range(len(embedding)), i ->
      |      embedding[i+1] + CAST(0.002 AS FLOAT)
      |        * CAST((i * 7 + vec_id) % 5 - 2 AS FLOAT)) AS embedding
      |  FROM embeddings WHERE vec_id % 25 = 0""".stripMargin

  /** NDCG@10 discount factors floor(1e6/log2(i+1)), i = 1..10 —
    * transcendental constants computed ONCE here and injected into
    * both the Spark plan and the SQL oracle as integer literals, so
    * neither engine ever evaluates a log. */
  private val ndcgDiscounts: Seq[Long] = (1 to 10).map(i =>
    math.floor(1e6 * math.log(2) / math.log(i + 1.0)).toLong)

  /** The quantized 2-round Lloyd replay shared by q_kmeans and
    * q_silhouette (CTEs: q → seeds → a1 → c1 → a2) — ONE definition so
    * the model and any metric computed over it can never drift. */
  private val kmeansCtes: String =
    """q AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> floor(x * 1000)) AS e
      |  FROM embeddings),
      |seeds AS (
      |  SELECT vec_id AS cid, e FROM q
      |  ORDER BY ('0x' || substr(md5('km:' || vec_id), 1, 15))::BIGINT,
      |    vec_id
      |  LIMIT 4),
      |a1 AS (
      |  SELECT vec_id, e, cid FROM (
      |    SELECT q.vec_id, q.e, s.cid,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_dot_product(q.e, q.e) - 2 * list_dot_product(q.e, s.e)
      |          + list_dot_product(s.e, s.e), s.cid) AS rn
      |    FROM q, seeds s) WHERE rn = 1),
      |c1 AS (
      |  SELECT cid, list(m ORDER BY i) AS e FROM (
      |    SELECT cid, i, floor(sum(e[i]) / count(*)) AS m
      |    FROM a1, range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT q.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_dot_product(q.e, q.e) - 2 * list_dot_product(q.e, c.e)
      |          + list_dot_product(c.e, c.e), c.cid) AS rn
      |    FROM q, c1 c) WHERE rn = 1)""".stripMargin

  /** The quantized grouped-Lloyd PQ replay (CTEs: q → sv → seeds →
    * pa1 → pc1 → pa2) with the quantized-population CTE `q`
    * parameterized — ONE definition of the codebook replay, whatever
    * population trains it ([[pqCtes]] instantiates it over the full
    * `embeddings` table; [[ivfpqReplay]] over an arbitrary `pop`).
    * Mirrors [[graft.vector.Pq.fitCodebooks]] at m=8, ksub=16, iters=2:
    * per-subspace salted-md5 seeds, one update round, final assignment
    * with per-subspace distortion. */
  private def pqCtesFrom(qBody: String, trainCond: String = "TRUE"): String =
    s"""q AS (
      |  $qBody),
      |sv AS (
      |  SELECT vec_id, CAST(t.sub AS INT) AS sub,
      |    list_slice(e, t.sub * 8 + 1, t.sub * 8 + 8) AS v
      |  FROM q, range(0, 8) t(sub)),
      |svt AS (
      |  SELECT * FROM sv WHERE $trainCond),
      |seeds AS (
      |  SELECT sub, vec_id AS code, v FROM (
      |    SELECT sub, vec_id, v, row_number() OVER (PARTITION BY sub
      |      ORDER BY
      |        ('0x' || substr(md5('pq:' || sub || ':' || vec_id), 1, 15))::BIGINT,
      |        vec_id) AS rn
      |    FROM svt) WHERE rn <= 16),
      |pa1 AS (
      |  SELECT vec_id, sub, v, code FROM (
      |    SELECT s.vec_id, s.sub, s.v, c.code,
      |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
      |        list_dot_product(s.v, s.v) - 2 * list_dot_product(s.v, c.v)
      |          + list_dot_product(c.v, c.v), c.code) AS rn
      |    FROM svt s JOIN seeds c USING (sub)) WHERE rn = 1),
      |pc1 AS (
      |  SELECT sub, code, list(m ORDER BY i) AS v FROM (
      |    SELECT sub, code, i, floor(sum(v[i]) / count(*)) AS m
      |    FROM pa1, range(1, 9) t(i) GROUP BY sub, code, i)
      |  GROUP BY sub, code),
      |pa2 AS (
      |  SELECT vec_id, sub, code, dist FROM (
      |    SELECT s.vec_id, s.sub, c.code,
      |      list_dot_product(s.v, s.v) - 2 * list_dot_product(s.v, c.v)
      |        + list_dot_product(c.v, c.v) AS dist,
      |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
      |        list_dot_product(s.v, s.v) - 2 * list_dot_product(s.v, c.v)
      |          + list_dot_product(c.v, c.v), c.code) AS rn
      |    FROM sv s JOIN pc1 c USING (sub)) WHERE rn = 1)""".stripMargin

  /** [[pqCtesFrom]] over the full `embeddings` table — shared by
    * q_pq_encode and q_ann_pq so the codebooks and anything served from
    * them can never drift. */
  private val pqCtes: String = pqCtesFrom(
    """SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> floor(x * 1000)) AS e
      |  FROM embeddings""".stripMargin)

  /** One oracle for BOTH IVF entries (inline and stage-table-served):
    * the stored index memoizes the assignment pass without changing a
    * row, so a single SQL reimplementation of the full pipeline —
    * quantized k-means training, argmax assignment, nprobe probing,
    * exact re-rank — must match either route. */
  private val ivfOracleSql: String =
    """WITH data AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> floor(x * 1000)) AS e
      |  FROM embeddings),
      |seeds AS (
      |  SELECT vec_id AS cid, e FROM q
      |  ORDER BY ('0x' || substr(md5('km:' || vec_id), 1, 15))::BIGINT,
      |    vec_id
      |  LIMIT 16),
      |a1 AS (
      |  SELECT vec_id, e, cid FROM (
      |    SELECT q.vec_id, q.e, s.cid,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_dot_product(q.e, q.e) - 2 * list_dot_product(q.e, s.e)
      |          + list_dot_product(s.e, s.e), s.cid) AS rn
      |    FROM q, seeds s) WHERE rn = 1),
      |cents AS (
      |  SELECT cid, list(m ORDER BY i) AS cv FROM (
      |    SELECT cid, i, floor(sum(e[i]) / count(*)) AS m
      |    FROM a1, range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid),
      |dassign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT d.vec_id, c.cid, row_number() OVER (PARTITION BY d.vec_id
      |      ORDER BY list_cosine_similarity(d.v, c.cv) DESC, c.cid) AS crank
      |    FROM data d, cents c) WHERE crank = 1),
      |qs AS (SELECT vec_id AS qid, v AS qv FROM data WHERE vec_id % 100 = 0),
      |qassign AS (
      |  SELECT s2.qid, s2.qv, c.cid, row_number() OVER (PARTITION BY s2.qid
      |    ORDER BY list_cosine_similarity(s2.qv, c.cv) DESC, c.cid) AS crank
      |  FROM qs s2, cents c),
      |cand AS (
      |  SELECT p.qid, da.vec_id, list_cosine_similarity(d.v, p.qv) AS sim
      |  FROM (SELECT qid, qv, cid FROM qassign WHERE crank <= 4) p
      |  JOIN dassign da ON da.cid = p.cid
      |  JOIN data d ON d.vec_id = da.vec_id
      |  WHERE da.vec_id <> p.qid),
      |ranked AS (
      |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
      |    ORDER BY sim DESC, vec_id) AS rn
      |  FROM cand)
      |SELECT qid, vec_id, CAST(rn AS INT) AS rank
      |FROM ranked WHERE rn <= 5 ORDER BY qid, rank""".stripMargin

  /** The full IVF-PQ two-stage replay over an arbitrary POPULATION
    * relation `pop(vec_id, v DOUBLE[])` — 16-cell 'km:' coarse trainer
    * + float-cosine probe routing, 'pq:' codebook replay
    * ([[pqCtesFrom]]) + ADC sum over the candidate set. `popSql`
    * defines the population (trained on AND indexed — the one-shot
    * build's stance), `keepCond` filters candidates (the index-delete
    * replay), `qCond` renders the query-set predicate given a table
    * alias prefix. Shared by every IVF-PQ serve oracle so the replay
    * chain can never drift between entries; `q_ann_index_retrain`
    * instantiates it over the post-retrain training population. */
  private def ivfpqReplay(popSql: String, keepCond: String,
                          qCond: String => String,
                          trainCond: String = "TRUE"): String =
    s"""WITH pop AS (
       |  $popSql),
       |${pqCtesFrom(s"""SELECT vec_id, list_transform(v, x -> floor(x * 1000)) AS e
       |  FROM pop""".stripMargin, trainCond)},
       |data AS (
       |  SELECT vec_id, v FROM pop),
       |qt AS (
       |  SELECT * FROM q WHERE $trainCond),
       |seeds16 AS (
       |  SELECT vec_id AS cid, e FROM qt
       |  ORDER BY ('0x' || substr(md5('km:' || vec_id), 1, 15))::BIGINT,
       |    vec_id
       |  LIMIT 16),
       |ka1 AS (
       |  SELECT vec_id, e, cid FROM (
       |    SELECT q.vec_id, q.e, s.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.e, q.e) - 2 * list_dot_product(q.e, s.e)
       |          + list_dot_product(s.e, s.e), s.cid) AS rn
       |    FROM qt q, seeds16 s) WHERE rn = 1),
       |cents AS (
       |  SELECT cid, list(m ORDER BY i) AS cv FROM (
       |    SELECT cid, i, floor(sum(e[i]) / count(*)) AS m
       |    FROM ka1, range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid),
       |dassign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT d.vec_id, c.cid, row_number() OVER (
       |      PARTITION BY d.vec_id
       |      ORDER BY list_cosine_similarity(d.v, c.cv) DESC, c.cid)
       |      AS crank
       |    FROM data d, cents c) WHERE crank = 1),
       |qs AS (SELECT vec_id AS qid, v AS qv FROM data
       |       WHERE ${qCond("")}),
       |qassign AS (
       |  SELECT s2.qid, c.cid, row_number() OVER (PARTITION BY s2.qid
       |    ORDER BY list_cosine_similarity(s2.qv, c.cv) DESC, c.cid)
       |    AS crank
       |  FROM qs s2, cents c),
       |cand AS (
       |  SELECT p.qid, da.vec_id
       |  FROM (SELECT qid, cid FROM qassign WHERE crank <= 4) p
       |  JOIN dassign da ON da.cid = p.cid
       |  WHERE da.vec_id <> p.qid AND $keepCond),
       |dt AS (
       |  SELECT s3.vec_id AS qid, c.sub, c.code,
       |    list_dot_product(s3.v, s3.v) - 2 * list_dot_product(s3.v, c.v)
       |      + list_dot_product(c.v, c.v) AS qdist
       |  FROM sv s3 JOIN pc1 c USING (sub)
       |  WHERE ${qCond("s3.")}),
       |sc AS (
       |  SELECT cd.qid, cd.vec_id, CAST(sum(d.qdist) AS BIGINT) AS adc
       |  FROM cand cd
       |  JOIN pa2 e ON e.vec_id = cd.vec_id
       |  JOIN dt d ON d.qid = cd.qid AND d.sub = e.sub
       |    AND d.code = e.code
       |  GROUP BY cd.qid, cd.vec_id)
       |SELECT qid, vec_id, CAST(rn AS INT) AS rank, adc
       |FROM (SELECT qid, vec_id, adc,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY adc, vec_id) AS rn
       |      FROM sc)
       |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin

  /** Shared by `q_ann_ivfpq` and `q_ann_ivfpq_stage`: the stage tables
    * only memoize the trained quantizers and the assignment/encode
    * passes, so the SQL replays BOTH stages over the full `embeddings`
    * population and must land on identical rows for either serve
    * path. */
  private def ivfpqOracleSql(keepCond: String, qMod: Int = 100): String =
    ivfpqReplay(
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
      keepCond, p => s"${p}vec_id % $qMod = 0")

  /** The unfiltered replay — every indexed id is a candidate. */
  private lazy val ivfpqOracleSqlAll: String = ivfpqOracleSql("TRUE")

  /** The drifted-population CTE shared (textually, via ONE definition)
    * by the retrain oracle: the held-out reference window plus the
    * +0.5-shifted arrival window — the population the retrain trains
    * on AND re-indexes, shifted in DOUBLE on both engines (the
    * q_ann_index_health fixture). */
  private val retrainPopSql: String =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id % 4 = 1
      |  UNION ALL
      |  SELECT vec_id,
      |    list_transform(range(len(embedding)), i ->
      |      CAST(embedding[i+1] AS DOUBLE)
      |        + CASE WHEN i < 8 THEN 0.5 ELSE 0.0 END) AS v
      |  FROM embeddings WHERE vec_id % 4 = 3""".stripMargin

  /** The retrain's TRAINING-sample keep condition (r15): quantizer
    * training runs over a deterministic hash sample of the landed
    * vector table ([[graft.vector.IndexRetrain.trainSample]] — seed
    * `annretrain`, 10000 buckets, keep 5000), because at scale a
    * k-means/PQ fit over the ENTIRE landed corpus per retrain is the
    * dominant retrain cost (re-encoding is inherent; training is
    * estimation). The DuckDB spelling is [[graft.plans.Splits.bucketOf]]
    * verbatim, so the oracle trains on exactly the machinery's rows. */
  private val retrainTrainCond: String =
    "('0x' || substr(md5('annretrain:' || vec_id), 1, 15))::BIGINT % 10000 < 5000"

  /** Oracle for `q_ann_index_retrain`: the FRESH-BUILD two-stage replay
    * on the post-retrain quantizers — [[ivfpqReplay]] instantiated over
    * the reference+arrival population the machinery retrains on, with
    * the TRAINING CTEs restricted to the machinery's hash sample
    * ([[retrainTrainCond]] — encode and serve stay full-population).
    * The entry's serve must land on exactly this, which is only
    * possible if the machinery actually consumed the drift decision,
    * retrained on the sampled window, re-encoded and swapped (a serve
    * from the stale generation — or one trained on a different window —
    * ranks differently and reds the row). */
  private lazy val annIndexRetrainOracle: String =
    ivfpqReplay(retrainPopSql, "TRUE", p => s"${p}vec_id % 25 = 0",
      trainCond = retrainTrainCond)

  /** Oracle for `q_stream_ann_twotier`: the SAME fresh-build IVF-PQ
    * replay over the full landed population, quantizers trained on the
    * historical (even-id) window. The two-tier serve must land on
    * exactly the single-tier answer — the recency tiering decides
    * WHERE a vector's codes come from (bulk relations encoded at aging
    * vs the pending window encoded at serve time), never what the
    * query returns. */
  private lazy val annTwotierOracle: String =
    ivfpqReplay(
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
      "TRUE", p => s"${p}vec_id % 25 = 0", trainCond = "vec_id % 2 = 0")

  /** Full replay of the q_ann_index_health pipeline: quantized k-means
    * trained on the evens ('km:' seeds, one Lloyd update — the
    * ivfOracleSql trainer restricted to the historical population),
    * cosine assignment of the held-out reference window (% 4 = 1) and
    * the drifted arrivals (% 4 = 3, +0.5 on the first 8 coordinates,
    * shifted in DOUBLE on both engines), the integer-exact quantized
    * assignment similarity (the bitext cos_q contract: ×1000-quantized
    * coords, floor(dot·10⁶/√(nq·nc)) — one identically-rounded double
    * op), then per-cell means/shares as floor(double-div) and the
    * drift decision at the 100000-micro thresholds. */
  private val annIndexHealthOracle: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> floor(x * 1000)) AS e
      |  FROM embeddings WHERE vec_id % 2 = 0),
      |seeds AS (
      |  SELECT vec_id AS cid, e FROM q
      |  ORDER BY ('0x' || substr(md5('km:' || vec_id), 1, 15))::BIGINT,
      |    vec_id
      |  LIMIT 16),
      |a1 AS (
      |  SELECT vec_id, e, cid FROM (
      |    SELECT q.vec_id, q.e, s.cid,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_dot_product(q.e, q.e) - 2 * list_dot_product(q.e, s.e)
      |          + list_dot_product(s.e, s.e), s.cid) AS rn
      |    FROM q, seeds s) WHERE rn = 1),
      |cents AS (
      |  SELECT cid, list(m ORDER BY i) AS cv FROM (
      |    SELECT cid, i, floor(sum(e[i]) / count(*)) AS m
      |    FROM a1, range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid),
      |pop AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, 'train' AS gen
      |  FROM embeddings WHERE vec_id % 4 = 1
      |  UNION ALL
      |  SELECT vec_id,
      |    list_transform(range(len(embedding)), i ->
      |      CAST(embedding[i+1] AS DOUBLE)
      |        + CASE WHEN i < 8 THEN 0.5 ELSE 0.0 END) AS v,
      |    'new' AS gen
      |  FROM embeddings WHERE vec_id % 4 = 3),
      |assign AS (
      |  SELECT vec_id, gen, v, cid FROM (
      |    SELECT p.vec_id, p.gen, p.v, c.cid,
      |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
      |        list_cosine_similarity(p.v, c.cv) DESC, c.cid) AS crank
      |    FROM pop p, cents c) WHERE crank = 1),
      |sc AS (
      |  SELECT gen, cid,
      |    CAST(floor(list_dot_product(qv, cv) * 1000000 /
      |      sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)))
      |      AS BIGINT) AS simq
      |  FROM (SELECT a.gen, a.cid, c.cv,
      |          list_transform(a.v, x -> floor(x * 1000)) AS qv
      |        FROM assign a JOIN cents c USING (cid))),
      |cg AS (SELECT cid, gen, count(*) AS n, sum(simq) AS ssimq
      |       FROM sc GROUP BY cid, gen),
      |tots AS (SELECT gen, sum(n) AS tot FROM cg GROUP BY gen),
      |st AS (
      |  SELECT cid, gen, n,
      |    CAST(floor(CAST(ssimq AS DOUBLE) / n) AS BIGINT) AS mean_simq,
      |    CAST(floor(CAST(n * 1000000 AS DOUBLE) / tot) AS BIGINT)
      |      AS share_micro
      |  FROM cg JOIN tots USING (gen)),
      |tr AS (SELECT cid, n AS n_train, mean_simq AS mean_simq_train,
      |         share_micro AS share_train_micro
      |       FROM st WHERE gen = 'train'),
      |nw AS (SELECT cid, n AS n_new, mean_simq AS mean_simq_new,
      |         share_micro AS share_new_micro
      |       FROM st WHERE gen = 'new'),
      |hj AS (
      |  SELECT coalesce(tr.cid, nw.cid) AS cid,
      |    coalesce(n_train, 0) AS n_train,
      |    coalesce(n_new, 0) AS n_new,
      |    mean_simq_train, mean_simq_new,
      |    coalesce(share_train_micro, 0) AS share_train_micro,
      |    coalesce(share_new_micro, 0) AS share_new_micro
      |  FROM tr FULL OUTER JOIN nw ON tr.cid = nw.cid)
      |SELECT CAST(cid AS BIGINT) AS cid,
      |  CAST(n_train AS BIGINT) AS n_train,
      |  CAST(n_new AS BIGINT) AS n_new,
      |  mean_simq_train, mean_simq_new,
      |  CAST(share_train_micro AS BIGINT) AS share_train_micro,
      |  CAST(share_new_micro AS BIGINT) AS share_new_micro,
      |  coalesce(mean_simq_train - mean_simq_new, 0) AS sim_drop_micro,
      |  abs(share_new_micro - share_train_micro) AS occ_shift_micro,
      |  (coalesce(mean_simq_train - mean_simq_new, 0) > 100000)
      |    OR (abs(share_new_micro - share_train_micro) > 100000)
      |    AS drifted
      |FROM hj ORDER BY cid""".stripMargin

  /** Per-JVM cache of built IVF-PQ stage-table directories, keyed by
    * sf dir — the benchFn serve path builds the index at most once and
    * every subsequent timed attempt reads the stage tables only, so
    * min-of-attempts measures the production serve cost (the index is
    * built once, served many times — per-run retraining was the r10
    * suite's slowest entry). */
  private val ivfpqStageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-JVM cache of built plain-IVF stage dirs — the
    * [[ivfpqStageDirs]] pattern for `q_ann_ivf_stage`'s bench path. */
  private val ivfStageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage 1 of the persisted plain-IVF index: centroids + the
    * (id, cid) assignment landed in stage tables under `tmp`. */
  private def buildIvfStage(s: org.apache.spark.sql.SparkSession,
                            dir: String, tmp: String): String = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.vector.KMeans.fitCentroids(
      emb, "vec_id", "embedding", k = 16, iters = 2)
    import s.implicits._
    val centroids = cents.toDF("cid", "embedding")
    graft.catalog.ParquetTable(
      s, "ivf_centroids", s"$tmp/centroids", centroids.schema)
      .overwrite(centroids)
    val assign = Ann.ivfAssign(emb, "vec_id", "embedding", centroids)
    graft.catalog.ParquetTable(
      s, "ivf_assign", s"$tmp/assign", assign.schema)
      .overwrite(assign)
    tmp
  }

  /** Stage 2: serve every query batch from the STORED index only. */
  private def serveIvfStage(s: org.apache.spark.sql.SparkSession,
                            dir: String, stage: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    Ann.ivfTopKIndexed(emb, s.read.parquet(s"$stage/assign"), queries,
      "vec_id", "embedding", "qid", k = 5,
      centroids = s.read.parquet(s"$stage/centroids"), nprobe = 4)
      .select(col("qid"), col("vec_id"), cast_rank)
      .orderBy(col("qid"), col("rank"))
  }

  /** Stage 1 of the persisted IVF-PQ index: train the coarse quantizer
    * and the PQ codebooks ONCE and land all four index relations in
    * [[graft.catalog.ParquetTable]] stage tables under `tmp` —
    * centroids, the (id, cid) assignment, the (sub, code, cv) codebook
    * relation, and the encoded corpus (id, sub, code). Returns `tmp`. */
  private def buildIvfpqStage(s: org.apache.spark.sql.SparkSession,
                              dir: String, tmp: String): String = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.vector.KMeans.fitCentroids(
      emb, "vec_id", "embedding", k = 16, iters = 2)
    import s.implicits._
    val centroids = cents.toDF("cid", "embedding")
    val centTable = graft.catalog.ParquetTable(
      s, "ivfpq_centroids", s"$tmp/centroids", centroids.schema)
    centTable.overwrite(centroids)
    val assign = Ann.ivfAssign(emb, "vec_id", "embedding", centroids)
    val assignTable = graft.catalog.ParquetTable(
      s, "ivfpq_assign", s"$tmp/assign", assign.schema)
    assignTable.overwrite(assign)
    val books = graft.vector.Pq.fitCodebooks(emb, "vec_id", "embedding",
      m = 8, dim = 64, ksub = 16, iters = 2)
    val bookDf = graft.vector.Pq.codebookDf(s, books)
    val bookTable = graft.catalog.ParquetTable(
      s, "ivfpq_codebooks", s"$tmp/codebooks", bookDf.schema)
    bookTable.overwrite(bookDf)
    val codes = graft.vector.Pq
      .encode(emb, "vec_id", "embedding", 8, 64, books)
      .select(col("vec_id"), col("sub"), col("code"))
    val codeTable = graft.catalog.ParquetTable(
      s, "ivfpq_codes", s"$tmp/codes", codes.schema)
    codeTable.overwrite(codes)
    tmp
  }

  /** Stage 2: serve a query batch from the STORED index only — cell
    * routing via the persisted centroids + assignment
    * (Ann.ivfCandidates; the tiny centroid relation is collected to
    * probe literals, a documented O3 scalar fetch), ADC scoring via the
    * persisted codebook relation over ONLY the probed cells' code rows
    * (Pq.adcTopKWithinIndexed). No k-means or codebook-training lineage
    * anywhere in the plan — PlanSpec pins this. Stage tables self-
    * describe their schema through the parquet footers. */
  private def serveIvfpqStage(s: org.apache.spark.sql.SparkSession,
                              dir: String, stage: String,
                              qMod: Int = 100)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // The query batch feeds two subtrees (cell routing + the ADC
    // distance table); staged once, the corpus is scanned once for the
    // batch fetch instead of once per consumer (guide §1.2).
    val queries = graft.plans.Materialize.stage(
      emb.filter(col("vec_id") % qMod === 0)
        .select(col("vec_id").as("qid"), col("embedding")))
    graft.vector.IndexRetrain.serveStage(s, stage, queries)
      .select(col("qid"), col("vec_id"), cast_rank, col("adc"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-JVM cache of the combined hybrid-retrieval index — BM25
    * postings (tok-sorted for the pushed term filter) + the IVF-PQ
    * index, one stage dir per sf dir, built once and served by every
    * timed attempt (the [[ivfpqStageDirs]] pattern). */
  private val hybridStageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage 1 of the staged hybrid-retrieval serve: the BM25 inverted
    * index over `documents` and the IVF-PQ index over `embeddings`,
    * all seven relations landed under `tmp`. */
  private def buildHybridStage(s: org.apache.spark.sql.SparkSession,
                               dir: String, tmp: String): String = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val (postings, doclen, stats) =
      graft.text.Bm25.buildIndex(docs, "doc_id", "text")
    val sorted = postings.repartition(col("tok")).sortWithinPartitions("tok")
    graft.catalog.ParquetTable(
      s, "hyb_postings", s"$tmp/postings", sorted.schema).overwrite(sorted)
    graft.catalog.ParquetTable(
      s, "hyb_doclen", s"$tmp/doclen", doclen.schema).overwrite(doclen)
    graft.catalog.ParquetTable(
      s, "hyb_stats", s"$tmp/stats", stats.schema).overwrite(stats)
    buildIvfpqStage(s, dir, tmp)
  }

  /** Stage 2: the production hybrid-retrieval serve — lexical top-100
    * from the STORED postings (pushed term IN filter; scores
    * bit-identical to the corpus-scan form, the Bm25Spec contract),
    * dense top-100 from the STORED IVF-PQ index (cell-routed
    * candidates + ADC — the documented approximate trade, recall
    * floor spec-gated in VectorQueriesSpec-land), fused by the SAME
    * RRF composition as the correctness fn. NEITHER corpus is scanned
    * except the one-row query fetch — PlanSpec pins it. */
  private def serveHybridStage(s: org.apache.spark.sql.SparkSession,
                               dir: String, stage: String)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val bm = graft.text.Bm25.topDocsIndexed(
        s.read.parquet(s"$stage/postings"),
        s.read.parquet(s"$stage/doclen"),
        s.read.parquet(s"$stage/stats"), "doc_id",
        Seq("spark", "stream", "window"), k = 100)
      .withColumn("rb", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("rb"))
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // same two-consumer shape as serveIvfpqStage: pin the (one-row)
    // query fetch so routing and the distance table share one scan
    val queries = graft.plans.Materialize.stage(
      emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding")))
    val cands = Ann.ivfCandidates(s.read.parquet(s"$stage/assign"), queries,
      "vec_id", "qid", "embedding", s.read.parquet(s"$stage/centroids"),
      nprobe = 4)
    val cs = graft.vector.Pq.adcTopKWithinIndexed(
        s.read.parquet(s"$stage/codes"), cands, queries,
        "vec_id", "embedding", "qid", m = 8, dim = 64,
        s.read.parquet(s"$stage/codebooks"), k = 100)
      .select(col("vec_id"), col("rank").cast("int").as("rc"))
    // RRF fuse of two k-bounded rank lists — driver fast path with
    // distributed fallback (graft.vector.RrfFuse, RrfFuseSpec-pinned)
    graft.vector.RrfFuse.fuseGlobal(bm, cs, k = 20)
  }

  /** The batched hybrid retrieval's query relation: every 50th vector
    * is a query, and each query's 3 lexical terms are picked
    * deterministically from a fixed 8-word dictionary by query ordinal
    * (offsets 0/3/5 mod 8 — three DISTINCT terms per query), as
    * (qid, slot, tok) with the slot fixing each term's position in the
    * scoring sum (see Bm25.topDocsBatch). */
  private val hybridBatchTermDict =
    Seq("spark", "stream", "window", "join", "batch", "scan", "vector",
      "merge")

  private def hybridBatchQueryRel(
      emb: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // The batch feeds FIVE plan subtrees (the term relation's 3 slots
    // plus, on the serve path, cell routing and the ADC distance
    // table); unstaged, every consumer re-scanned the corpus to
    // re-derive the batch — 5 full embedding scans for one serve
    // (guide §1.2: remove unnecessary passes). Pin it once: the batch
    // is serve-sized (corpus/50 here, exogenous in production), and
    // the pin is what a real serving tier does with an arrived batch.
    val queries = graft.plans.Materialize.stage(
      emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding")))
    val termArr = array(hybridBatchTermDict.map(lit): _*)
    // One projection emits all three (slot, tok) terms per query: an
    // explode over a 3-element struct array replaces the former 3-way
    // union (3 passes over the batch → 1). Same rows — slot values and
    // token arithmetic are unchanged — and every consumer aggregates
    // by (qid, slot), so the interleaved row order is immaterial.
    val qterms = queries.select(col("qid"),
      explode(array(Seq(1 -> 0, 2 -> 3, 3 -> 5).map { case (slot, off) =>
        struct(lit(slot).as("slot"),
          element_at(termArr,
            ((expr("qid div 50") + off) % 8 + 1).cast("int")).as("tok"))
      }: _*)).as("__st"))
      .select(col("qid"), col("__st.slot").as("slot"),
        col("__st.tok").as("tok"))
    (queries, qterms)
  }

  /** Per-query RRF fusion of the batched lexical (qid, doc_id, rb) and
    * dense (cqid, vec_id, rc) rank lists — [[graft.vector.RrfFuse]]:
    * full-outer on (query, doc), RRF = Σ 1/(60+rank) rounded to 6
    * before the per-query top-10 cut (ties by doc id). Rank lists are
    * batch × k-bounded, so the fuse normally runs on the driver
    * (RrfFuseSpec pins driver ≡ distributed); above the cap the
    * distributed window form runs unchanged. */
  private def hybridBatchFuse(bm: org.apache.spark.sql.DataFrame,
                              cs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.vector.RrfFuse.fusePerQuery(bm, cs, k = 10)

  /** The timed serve of q_hybrid_retrieval_batch: BOTH sides from the
    * persisted indexes — lexical via Bm25.topDocsBatch over the stored
    * postings (one pruned pass for the whole query batch), dense via
    * cell-routed ADC over the stored IVF-PQ index — and neither corpus
    * scanned except the query-batch fetch (PlanSpec pins it). */
  private def serveHybridBatchStage(s: org.apache.spark.sql.SparkSession,
                                    dir: String, stage: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (queries, qterms) = hybridBatchQueryRel(emb)
    val bm = graft.text.Bm25.topDocsBatch(
        s.read.parquet(s"$stage/postings"),
        s.read.parquet(s"$stage/doclen"),
        s.read.parquet(s"$stage/stats"), "doc_id", qterms,
        slots = 3, k = 20)
      .select(col("qid"), col("doc_id"), col("rb"))
    val cands = Ann.ivfCandidates(s.read.parquet(s"$stage/assign"),
      queries, "vec_id", "qid", "embedding",
      s.read.parquet(s"$stage/centroids"), nprobe = 4)
    val cs = graft.vector.Pq.adcTopKWithinIndexed(
        s.read.parquet(s"$stage/codes"), cands, queries,
        "vec_id", "embedding", "qid", m = 8, dim = 64,
        s.read.parquet(s"$stage/codebooks"), k = 20)
      .select(col("qid").as("cqid"), col("vec_id"),
        col("rank").cast("int").as("rc"))
    hybridBatchFuse(bm, cs)
  }

  /** Per-JVM cache of the bitext Y-side IVF index, keyed by sf dir. */
  private val bitextStageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The two "language" sides of the bitext-mining fixture: X = the
    * label-0 stratum; Y = the label-1 stratum plus planted perturbed
    * translations of every 10th X vector (deterministic ±0.002
    * per-coordinate pattern — the pairs the miner must recover). */
  private def bitextSides(emb: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val xs = emb.filter(col("label") === 0)
      .select(col("vec_id").as("x_id"), col("embedding"))
    val plantedY = emb.filter(col("label") === 0 && col("vec_id") % 10 === 0)
      .select((col("vec_id") + 990000).as("y_id"),
        transform(col("embedding"), (v, i) =>
          v + lit(0.002f) *
            ((i * 3 + col("vec_id")) % 5 - 2).cast("float"))
          .as("embedding"))
    val ys = emb.filter(col("label") === 1)
      .select(col("vec_id").as("y_id"), col("embedding"))
      .unionByName(plantedY)
    (xs, ys)
  }

  /** Stage 1 of q_bitext_mining_ann: the IVF index over the Y side
    * (16-cell coarse quantizer + per-row assignment), stored once. */
  private def buildBitextStage(s: org.apache.spark.sql.SparkSession,
                               dir: String, tmp: String): String = {
    val (_, ys) = bitextSides(Tables.load(s, dir, "embeddings"))
    val cents = graft.vector.KMeans.fitCentroids(
      ys, "y_id", "embedding", k = 16, iters = 2)
    import s.implicits._
    val centroids = cents.toDF("cid", "embedding")
    graft.catalog.ParquetTable(
      s, "bta_centroids", s"$tmp/centroids", centroids.schema)
      .overwrite(centroids)
    val assign = Ann.ivfAssign(ys, "y_id", "embedding", centroids)
    graft.catalog.ParquetTable(
      s, "bta_assign", s"$tmp/assign", assign.schema).overwrite(assign)
    tmp
  }

  /** Stage 2: CSLS margin mining over candidate pairs from the STORED
    * IVF index — each X query routes to its 4 nearest stored cells, so
    * the pair relation is X × (Y ∩ probed cells), never X × Y; the
    * top-4 rescale runs candidate-local; integer-exact cosine. */
  private def serveBitextAnn(s: org.apache.spark.sql.SparkSession,
                             dir: String, stage: String)
      : org.apache.spark.sql.DataFrame = {
    val (xs, ys) = bitextSides(Tables.load(s, dir, "embeddings"))
    // NOT staged: the X side has two consumers (cell routing + the
    // quantized verify), but they read different projections of a
    // cheap filtered scan — an r15 A/B measured the eager pin at
    // 1.28 → 1.55 s (the blocking checkpoint job costs more than the
    // one saved scan), so the double scan is the better trade here.
    val cands = Ann.ivfCandidates(s.read.parquet(s"$stage/assign"),
      xs, "y_id", "x_id", "embedding",
      s.read.parquet(s"$stage/centroids"), nprobe = 4)
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, v => floor(v.cast("double") * lit(1000000.0))
        .cast("long"))
    def norm2(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0L), (a, v) => a + v * v)
    val qxs = xs.select(col("x_id"), quant(col("embedding")).as("qx"))
      .withColumn("nx", norm2(col("qx")))
    val qys = ys.select(col("y_id"), quant(col("embedding")).as("qy"))
      .withColumn("ny", norm2(col("qy")))
    val pairs = cands.join(qxs, Seq("x_id")).join(qys, Seq("y_id"))
      .select(col("x_id"), col("y_id"),
        aggregate(zip_with(col("qx"), col("qy"), (a, b) => a * b),
          lit(0L), (a, v) => a + v).as("dot"),
        col("nx"), col("ny"))
      .select(col("x_id"), col("y_id"),
        floor(col("dot").cast("double") * lit(1000000.0) /
          sqrt(col("nx").cast("double") * col("ny").cast("double")))
          .cast("long").as("cos_q"))
      .transform(graft.plans.Materialize.stage)
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("x_id")).orderBy(col("cos_q").desc, col("y_id"))
    val wy = org.apache.spark.sql.expressions.Window
      .partitionBy(col("y_id")).orderBy(col("cos_q").desc, col("x_id"))
    val rx = pairs.withColumn("rn", row_number().over(wx))
      .filter(col("rn") <= 4).groupBy(col("x_id"))
      .agg(expr("sum(cos_q) div count(*)").as("rx"))
    val ry = pairs.withColumn("rn", row_number().over(wy))
      .filter(col("rn") <= 4).groupBy(col("y_id"))
      .agg(expr("sum(cos_q) div count(*)").as("ry"))
    // endpoint-sized aggregates (see the cross twin): unhinted
    pairs.join(rx, Seq("x_id"))
      .join(ry, Seq("y_id"))
      .withColumn("den", expr("(rx + ry) div 2"))
      .filter(col("den") > 0 && col("cos_q") >= 800000L)
      .withColumn("margin_micro", expr("cos_q * 1000000L div den"))
      .select(col("x_id"), col("y_id"), col("cos_q"), col("margin_micro"))
      .filter(col("margin_micro") >= 1500000L)
      .orderBy(col("x_id"), col("y_id"))
  }

  val defs: Seq[(String, Q)] = Seq(

    // Deterministic k-means (graft.vector.KMeans): 2 Lloyd rounds over
    // integer-quantized embeddings, hash-picked seeds, map-side argmin
    // assignment — the ENTIRE final assignment is value-checked by the
    // oracle recomputing both rounds (quantization keeps every sum on
    // exact integers, so the result is partitioning- and
    // engine-independent; a float k-means could never be hash-compared).
    "q_kmeans" -> Q(
      (s, dir) => graft.vector.KMeans.fit(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2)
        .orderBy(col("vec_id")),
      Some(s"""WITH $kmeansCtes
             |SELECT vec_id, CAST(cid AS INT) AS cluster
             |FROM a2 ORDER BY vec_id""".stripMargin)),

    // Simplified-SILHOUETTE cluster quality over the q_kmeans model —
    // the metric a clustering stage publishes before anyone trusts its
    // partitions: per vector, a = squared distance to the ASSIGNED
    // centroid (the argmin), b = distance to the nearest OTHER
    // centroid; s = 1 − a/b ∈ [0, 1] for the centroid-based variant
    // (the O(n·k) form that scales — full silhouette's O(n²) pairwise
    // term is exactly what a 100 TB pipeline cannot pay). Distances
    // are exact integer-valued doubles (quantized coords), each s
    // quantized to micro-units BEFORE the per-cluster sum (the
    // LM/Drift stance), so the report is bit-stable under any
    // partitioning. Same k/iters/seed as q_kmeans and ONE shared
    // oracle CTE block (kmeansCtes), so model and metric can never
    // drift. Plan: driver-trained centroids ride the plan as
    // literals, the scoring pass is map-side, one k-wide hash agg.
    "q_silhouette" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = graft.vector.KMeans.fitCentroids(
          emb, "vec_id", "embedding", k = 4, iters = 2)
        val q = emb.select(col("vec_id"),
          graft.vector.KMeans.quantize(col("embedding")).as("e"))
          .withColumn("ee", VectorFunctions.dot(col("e"), col("e")))
        val distArr = array_sort(array(cents.map { case (cid, c) =>
          val cc = c.map(x => x * x).sum
          struct(
            (col("ee") - lit(2.0) * VectorFunctions.dot(col("e"),
              VectorFunctions.vectorLit(c)) + lit(cc)).as("dist"),
            lit(cid).as("cid"))
        }: _*))
        q.select(col("vec_id"),
          distArr.getItem(0).getField("cid").cast("int").as("cluster"),
          distArr.getItem(0).getField("dist").as("da"),
          distArr.getItem(1).getField("dist").as("db"))
          .select(col("cluster"),
            when(col("db") === 0, 0L).otherwise(
              floor((lit(1.0) - col("da") / col("db")) * lit(1e6))
                .cast("long")).as("sm"))
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"), sum(col("sm")).as("ssm"))
          .select(col("cluster"), col("n"),
            expr("ssm div n").as("mean_sil_micro"))
          .orderBy(col("cluster"))
      },
      // timed family gate: q_kmeans (oracle still gates this entry)
      bench = false, // cost IS the k-means training, already timed by
      // q_kmeans; the scoring pass itself is flat (probe exponent ≈ 0)
      oracle = Some(s"""WITH $kmeansCtes,
              |d AS (
              |  SELECT q.vec_id, c.cid,
              |    list_dot_product(q.e, q.e) - 2 * list_dot_product(q.e, c.e)
              |      + list_dot_product(c.e, c.e) AS dist
              |  FROM q, c1 c),
              |r AS (
              |  SELECT vec_id, cid, dist,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY dist, cid) AS rn
              |  FROM d),
              |si AS (
              |  SELECT a.cid AS cluster,
              |    CASE WHEN b.dist = 0 THEN 0
              |      ELSE CAST(floor((1.0 - a.dist / b.dist) * 1000000)
              |        AS BIGINT) END AS sm
              |  FROM r a JOIN r b USING (vec_id)
              |  WHERE a.rn = 1 AND b.rn = 2)
              |SELECT CAST(cluster AS INT) AS cluster,
              |  CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(sm) // count(*) AS BIGINT) AS mean_sil_micro
              |FROM si GROUP BY cluster
              |ORDER BY cluster""".stripMargin)),

    // Brute-force cosine top-10 against the vec_id=0 embedding. The
    // query vector is a one-row driver fetch (O3 scalar lookup); the
    // scan itself is one narrow pass + TakeOrdered.
    "q_cosine_topk" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).first()
          .getSeq[Float](0).map(_.toDouble)
        Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS sim
             |FROM embeddings
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Pairwise cosine of adjacent vectors (zip_with dot product through
    // an equi-join).
    "q_cosine_pairs" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val a = emb.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding").as("va"))
        val b = emb.select((col("vec_id") - 1).as("vec_id"),
          col("embedding").as("vb"))
        a.join(b, Seq("vec_id"))
          .select(col("vec_id"),
            VectorFunctions.cosine(col("va"), col("vb")).as("sim"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT a.vec_id,
             |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                         CAST(b.embedding AS DOUBLE[])) AS sim
             |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
             |WHERE a.vec_id % 2 = 0
             |ORDER BY a.vec_id""".stripMargin)),

    // Label purity of the exact top-10 neighborhood for sampled query
    // vectors — windowed ranking over a broadcast query set.
    "q_knn_label_purity" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"),
            col("label").as("qlabel"))
        val topk = Ann.exactTopK(emb, queries.drop("qlabel"),
          "vec_id", "embedding", "qid", k = 10)
        topk.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .join(queries.select(col("qid"), col("qlabel")), Seq("qid"))
          .groupBy(col("qid"))
          .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
            .as("same_label"), count(lit(1)).as("n"))
          .orderBy(col("qid"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
             |  FROM embeddings WHERE vec_id % 100 = 0),
             |scored AS (
             |  SELECT q.qid, e.vec_id, q.qlabel, e.label,
             |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
             |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT qid,
             |  CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS same_label,
             |  count(*) AS n
             |FROM ranked WHERE rn <= 10 GROUP BY qid ORDER BY qid""".stripMargin),
      // timed family gate: q_cosine_topk (oracle still gates this entry)
      bench = false),

    // Embedding-cosine near-duplicate detection (the vector analogue of
    // MinHash dedup): planted perturbed copies must surface as pairs.
    // LSH self-join on hyperplane buckets — no cross join. The oracle
    // recomputes the pair set EXACTLY as an all-pairs cosine self-join
    // (feasible at oracle scale only); the entry emits ids alone so the
    // compare is integer-exact. probes=1 here (the bench path); AnnSpec
    // drives probes=2 and asserts full planted recall. As with
    // q_neardup_pairs, hyperplanes are seeded-deterministic over fixed
    // data, so oracle equality is a reproducible dataset property
    // (verified at sf0.001/sf0.01); a cos≥0.98 pair split by ≥2
    // hyperplanes would show as a red correctness row, not silently.
    "q_embed_neardup" -> Q(
      (s, dir) => {
        graft.vector.Ann.cosineNearDuplicates(
          plantedEmbeddings(s, dir), "vec_id", "embedding",
          threshold = 0.98, probes = 1, n = plantedSize(s, dir))
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH corpus AS ($plantedCte)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                             CAST(b.embedding AS DOUBLE[])) >= 0.98
             |ORDER BY id_a, id_b""".stripMargin)),

    // IVF-style ANN: centroid assignment + nprobe probing — better on
    // clustered corpora than hyperplane LSH; recall gated in AnnSpec.
    // The centroids are TRAINED (KMeans.fitCentroids, k=16, 2 Lloyd
    // rounds — the full train→index→query path, not a modulo sample),
    // and the oracle REIMPLEMENTS the whole pipeline in SQL: the
    // quantized k-means rounds (as q_kmeans proved DuckDB can), then
    // argmax assignment, nprobe probing and the windowed re-rank.
    "q_ann_ivf" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        // quantized centroid coordinates feed cosine directly: scale
        // cancels in cosine, and the integer coords are engine-exact
        val cents = graft.vector.KMeans.fitCentroids(
          emb, "vec_id", "embedding", k = 16, iters = 2)
        import s.implicits._
        val centroids = cents.toDF("cid", "embedding")
        Ann.ivfTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 5, centroids = centroids, nprobe = 4)
          .select(col("qid"), col("vec_id"), cast_rank)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql),
      // timed family gate: q_ann_ivf_stage (oracle still gates this entry)
      bench = false),

    // IVF with the index PERSISTED between build and serve — the
    // production shape at 100 TB: train centroids once, store them and
    // the per-row assignment (12 bytes/row) to stage tables, and let
    // every query batch read the INDEX instead of re-running k-means
    // and the corpus-wide argmax (which is what an inline ivfTopK per
    // batch amounts to). The serve plan joins corpus vectors to the
    // stored assignment on id and probes cells — PlanSpec pins that the
    // output plan reads the stage table and carries no training
    // lineage. Same oracle as q_ann_ivf: the index only memoizes the
    // assignment pass, so the SQL recomputes BOTH stages (training,
    // assignment, probing, re-rank) and must land on identical rows.
    "q_ann_ivf_stage" -> Q(
      (s, dir) => {
        // build → serve → pin → reclaim the per-run stage dir (the
        // bench path serves a per-JVM memoized index instead, so
        // min-of-attempts measures pure serve cost)
        val stage = buildIvfStage(s, dir, java.nio.file.Files
          .createTempDirectory("graft-ivf-stage").toString)
        val out = graft.plans.Materialize.stage(serveIvfStage(s, dir, stage))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(stage))
        out
      },
      Some(ivfOracleSql),
      benchFn = Some((s, dir) => serveIvfStage(s, dir,
        ivfStageDirs.computeIfAbsent(dir, d =>
          buildIvfStage(s, d, BenchStage.tempDir("graft-ivf-bench")))))),

    // INDEX MAINTENANCE on the persisted IVF-PQ index — the day-2 DML
    // every retrieval deployment needs: ids retired by dedup, takedown
    // or retention leave the INDEX without retraining (quantizers are
    // stable; only the stored assignment and code relations shrink).
    // Composes the catalog's DELETE ... WHERE (ParquetTable.deleteWhere
    // — here the non-partition-predicate whole-relation rewrite, the
    // documented parquet trade) with the staged serve: deleted ids can
    // never be candidates (absent from the assignment) nor score
    // (absent from the codes). The oracle is the two-stage replay with
    // the delete predicate applied to the candidate routing — trained
    // on the FULL corpus, served over the survivors, exactly what
    // delete-without-retrain means.
    "q_ann_index_delete" -> Q(
      (s, dir) => {
        val stage = buildIvfpqStage(s, dir, java.nio.file.Files
          .createTempDirectory("graft-ivfpq-del").toString)
        val assignT = graft.catalog.ParquetTable(s, "ivfpq_assign",
          s"$stage/assign", s.read.parquet(s"$stage/assign").schema)
        assignT.deleteWhere(col("vec_id") % 7 === 3)
        val codesT = graft.catalog.ParquetTable(s, "ivfpq_codes",
          s"$stage/codes", s.read.parquet(s"$stage/codes").schema)
        codesT.deleteWhere(col("vec_id") % 7 === 3)
        // pin the served result and reclaim the per-run stage dir
        val out = graft.plans.Materialize.stage(serveIvfpqStage(s, dir, stage))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(stage))
        out
      },
      Some(ivfpqOracleSql("da.vec_id % 7 <> 3")),
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this entry)
      bench = false),

    // INDEX INSERT on the persisted IVF-PQ index — the day-2 ingest
    // that completes the maintenance pair with q_ann_index_delete:
    // quantizers (coarse centroids + PQ codebooks) are trained ONCE on
    // the historical corpus and stored; the assignment and code
    // relations start EMPTY and fill by STREAMING encode-append —
    // each arriving batch is assigned to its nearest STORED centroid
    // and PQ-encoded against the STORED codebooks entirely MAP-SIDE
    // (both quantizers are model-sized: 16 centroid rows, 8×16
    // codebook rows, collected to plan literals — the O3 scalar-fetch
    // stance), then appended via foreachBatch. No k-means or codebook
    // training anywhere in the per-batch plan (PlanSpec pins the
    // shape). Assignment and encoding are per-row and order-
    // independent, so the streamed index equals the one-shot build and
    // the SAME full two-stage replay oracle gates the serve.
    "q_ann_index_insert" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-ins")
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        // stage 1 — train the quantizers only; the index starts empty
        val cents = graft.vector.KMeans.fitCentroids(
          emb, "vec_id", "embedding", k = 16, iters = 2)
        import s.implicits._
        val centroids = cents.toDF("cid", "embedding")
        graft.catalog.ParquetTable(
          s, "ins_centroids", s"$tmp/centroids", centroids.schema)
          .overwrite(centroids)
        val books = graft.vector.Pq.fitCodebooks(emb, "vec_id", "embedding",
          m = 8, dim = 64, ksub = 16, iters = 2)
        val bookDf = graft.vector.Pq.codebookDf(s, books)
        graft.catalog.ParquetTable(
          s, "ins_codebooks", s"$tmp/codebooks", bookDf.schema)
          .overwrite(bookDf)
        // stage 2 — streaming encode-append against the STORED
        // quantizers (reloaded from the stage tables, not the training
        // lineage: booksFrom + the centroid table read)
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
                     mtime: Long): Unit = {
          val stg = tmp.resolve(s"stage_$name")
          df.coalesce(1).write.parquet(stg.toString)
          val part = graft.ingest.FileOps.listDir(stg)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          val dst = src.resolve(s"$name.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
        writeOne(emb.filter(col("vec_id") % 2 === 0), "a", 1000000000000L)
        writeOne(emb.filter(col("vec_id") % 2 === 1), "b", 1000000060000L)
        val storedBooks = graft.vector.Pq.booksFrom(
          s.read.parquet(s"$tmp/codebooks"))
        val ss = StreamFixtures.childSession(s, 4)
        val assignTable = graft.catalog.ParquetTable(
          ss, "ins_assign", s"$tmp/assign",
          Ann.ivfAssign(emb.limit(0), "vec_id", "embedding", centroids)
            .schema).createIfNotExists()
        val codesSchema = graft.vector.Pq
          .encode(emb.limit(0), "vec_id", "embedding", 8, 64, storedBooks)
          .select(col("vec_id"), col("sub"), col("code")).schema
        val codesTable = graft.catalog.ParquetTable(
          ss, "ins_codes", s"$tmp/codes", codesSchema).createIfNotExists()
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 1),
            s"$tmp/ckpt") { (batch, _) =>
          val sb = batch.sparkSession
          assignTable.append(Ann.ivfAssign(batch, "vec_id", "embedding",
            sb.read.parquet(s"$tmp/centroids")))
          codesTable.append(graft.vector.Pq
            .encode(batch, "vec_id", "embedding", 8, 64, storedBooks)
            .select(col("vec_id"), col("sub"), col("code")))
        }
        // serve from the streamed index; pin, reclaim
        val out = graft.plans.Materialize.stage(
          serveIvfpqStage(s, dir, tmp.toString))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(ivfpqOracleSqlAll),
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this
      // entry; the per-batch ingest cost is q_stream_vector_ingest's
      // probed shape plus one map-side projection)
      bench = false),

    // QUANTIZER DRIFT MONITOR — the day-2 signal q_ann_index_insert
    // was missing: insert-only maintenance assigns arriving vectors to
    // STORED centroids forever, so under distribution drift recall
    // decays silently. graft.vector.IndexHealth computes two signals
    // from the index's OWN relations (the scored assignment table —
    // simq stored at assign time — plus the stored centroids; no
    // corpus pass) and a deterministic per-cell retrain decision, the
    // RunDecision stance. Fixture: centroids train on the historical
    // evens; the reference generation is a HELD-OUT served window
    // (vec_id % 4 = 1 — baselining on the training population itself
    // is biased, see IndexHealth's scaladoc), and arrivals
    // (vec_id % 4 = 3) carry a planted +0.5 shift on the first 8
    // coordinates — real drift the monitor must flag. The oracle
    // replays everything: quantized k-means on the evens, cosine
    // assignment of both generations, the integer-exact quantized
    // assignment similarity, the per-cell means/shares, and the
    // decision itself.
    "q_ann_index_health" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-ann-health")
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val hist = emb.filter(col("vec_id") % 2 === 0)
        val cents = graft.vector.KMeans.fitCentroids(
          hist, "vec_id", "embedding", k = 16, iters = 2)
        import s.implicits._
        val centroids = cents.toDF("cid", "embedding")
        graft.catalog.ParquetTable(s, "health_centroids",
          s"$tmp/centroids", centroids.schema).overwrite(centroids)
        val stored = s.read.parquet(s"$tmp/centroids")
        val reference = emb.filter(col("vec_id") % 4 === 1)
        val arrivals = emb.filter(col("vec_id") % 4 === 3)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"),
              (x, i) => x + when(i < lit(8), lit(0.5)).otherwise(lit(0.0)))
              .as("embedding"))
        val scored = graft.vector.IndexHealth
          .assignScored(reference, "vec_id", "embedding", stored)
          .withColumn("gen", lit("train"))
          .unionByName(graft.vector.IndexHealth
            .assignScored(arrivals, "vec_id", "embedding", stored)
            .withColumn("gen", lit("new")))
        val aT = graft.catalog.ParquetTable(s, "health_assign",
          s"$tmp/assign", scored.schema).createIfNotExists()
        aT.append(scored)
        // the monitor reads ONLY the stored scored-assignment relation
        val out = graft.plans.Materialize.stage(
          graft.vector.IndexHealth.cellHealth(
            aT.read().select(col("cid").cast("long").as("cid"),
              col("simq"), col("gen")))
            .orderBy(col("cid")))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(annIndexHealthOracle),
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this
      // entry; monitor cost is one hash aggregate of the assignment
      // relation plus k-bounded joins)
      bench = false),

    // RETRAIN-AND-SWAP — the machinery that CONSUMES
    // q_ann_index_health's per-cell decision, closing the day-2 loop
    // the r13 monitor left open. Fixture: generation 0's quantizers
    // are trained on the HISTORICAL corpus (the evens) but index the
    // CURRENT population (held-out reference window % 4 = 1 plus
    // +0.5-shifted arrivals % 4 = 3) — the stale-index state. The
    // monitor's decision relation is STORED (a table, the RunDecision
    // stance); IndexRetrain.retrainIfDrifted reads it (k-bounded
    // fetch), retrains the coarse quantizer and the PQ codebooks on
    // the reference+arrival window, re-encodes the population, writes
    // all four relations under generation 1 and publishes them with
    // ONE atomic pointer rename — serving never sees a half-swapped
    // mix (AnnSpec injects crashes between every stage write and
    // proves generation 0 keeps serving until the flip). The oracle is
    // the FRESH-BUILD two-stage replay on the post-retrain quantizers:
    // a serve from the stale generation ranks differently, so the
    // oracle gates that the machinery actually acted on the decision.
    "q_ann_index_retrain" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-ann-retrain")
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val hist = emb.filter(col("vec_id") % 2 === 0)
        val reference = emb.filter(col("vec_id") % 4 === 1)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val arrivals = emb.filter(col("vec_id") % 4 === 3)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"),
              (x, i) => x + when(i < lit(8), lit(0.5)).otherwise(lit(0.0)))
              .as("embedding"))
        val pop = reference.unionByName(arrivals)
        val idx = new graft.vector.GenerationalIndex(s, s"$tmp/index")
        val g0 = idx.nextGen()
        graft.vector.IndexRetrain.buildGeneration(
          s, idx.genDir(g0), hist, pop, "vec_id", "embedding")
        idx.publish(g0)
        // the monitor over generation 0's stored centroids — the
        // q_ann_index_health relation, landed in a decision table
        val stored = s.read.parquet(s"${idx.currentDir()}/centroids")
        val scored = graft.vector.IndexHealth
          .assignScored(reference, "vec_id", "embedding", stored)
          .withColumn("gen", lit("train"))
          .unionByName(graft.vector.IndexHealth
            .assignScored(arrivals, "vec_id", "embedding", stored)
            .withColumn("gen", lit("new")))
        val decision = graft.vector.IndexHealth.cellHealth(
          scored.select(col("cid").cast("long").as("cid"),
            col("simq"), col("gen")))
        val decT = graft.catalog.ParquetTable(s, "retrain_decision",
          s"$tmp/decision", decision.schema)
        decT.overwrite(decision)
        // MACHINERY: read the stored decision, retrain on the
        // deterministic hash SAMPLE of the reference+arrival window
        // (bounded training population — the oracle trains on the same
        // keep; re-encoding stays full-population), atomic pointer swap
        val swapped = graft.vector.IndexRetrain.retrainIfDrifted(
          idx, decT.read(),
          graft.vector.IndexRetrain.trainSample(pop, "vec_id", 5000),
          pop, "vec_id", "embedding")
        require(swapped, "planted drift did not trigger the retrain")
        // serve from whatever generation the pointer names now
        val queries = pop.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        val out = graft.plans.Materialize.stage(
          graft.vector.IndexRetrain.serveStage(s, idx.currentDir(), queries)
            .select(col("qid"), col("vec_id"), cast_rank, col("adc"))
            .orderBy(col("qid"), col("rank")))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(annIndexRetrainOracle),
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this
      // entry; the retrain is the one-shot build re-run over the new
      // training window, the swap a metadata-only pointer rename, and
      // the serve the staged IVF-PQ shape q_ann_ivfpq_stage times)
      bench = false),

    // The COMPLETE ANN day-2 loop as ONE STREAMING pipeline — ingest,
    // monitor, retrain, swap, serve, composed the way a deployment
    // actually runs them: each arriving embedding batch is (1)
    // encode-appended into the CURRENT generation's index relations
    // against its STORED quantizers (the q_ann_index_insert shape,
    // generation resolved through the pointer per batch), (2) scored
    // at assign time and FOLDED into the monitor's sufficient-
    // statistics relation — (cid, gen) → (n, ssimq), k × gens rows
    // maintained by UpsertSink's exactly-once additive merge, so the
    // monitor costs O(k) per batch at any history length (the first
    // served window is the held-out reference generation), and (3)
    // the cadence runs cellHealthTrailing on the STORED stats
    // relation and feeds the decision straight into
    // IndexRetrain.retrainIfDrifted — which fits quantizers on the
    // banked training reservoir (≡ the hash sample of the landed
    // table; never lineage), re-encodes the landed table, and publishes a new
    // generation with the one atomic pointer rename; the monitor's
    // baseline then REBASES (scored relation truncated — flags mean
    // stale quantizer, not different data; the next windows re-seed
    // it). The evidence gate (minCellN = 8) is what keeps the
    // reference-only first batch deterministically quiet: every cell
    // has n_new = 0 until a second generation lands. Fixture and final
    // state are EXACTLY q_ann_index_retrain's (reference window then
    // +0.5-shifted arrivals, retrain fires on the arrival batch), so
    // the SAME fresh-build oracle gates that the streaming composition
    // lands where the batch machinery does.
    "q_stream_ann_maintain" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-stream-annm")
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val hist = emb.filter(col("vec_id") % 2 === 0)
        val reference = emb.filter(col("vec_id") % 4 === 1)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val arrivals = emb.filter(col("vec_id") % 4 === 3)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"),
              (x, i) => x + when(i < lit(8), lit(0.5)).otherwise(lit(0.0)))
              .as("embedding"))
        StreamFixtures.writeBatch(tmp, src, reference, "a",
          parts = 1, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src, arrivals, "b",
          parts = 1, mtimeMs = 1000000060000L)
        val ss = StreamFixtures.childSession(s, 4)
        // the library body (graft.streaming.AnnMaintain): generation 0
        // trained on the HISTORICAL corpus with empty index relations;
        // the training reservoir's keep pinned to the oracle's
        // (5000/10000), so the banked set IS trainSample(landed, 5000)
        val p = graft.streaming.AnnMaintain.create(ss, "annm", tmp.toString,
          hist, graft.vector.TrainReservoir.Fixed(5000))
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 1),
          p.checkpoint)(p.perBatch(_, _))
        require(p.index.currentGen().contains(1L),
          "planted drift did not retrain through the streaming cadence")
        // serve from whatever generation the pointer names now
        val out = graft.plans.Materialize.stage(
          p.serve(p.vecs.read().filter(col("vec_id") % 25 === 0)
              .select(col("vec_id").as("qid"), col("embedding")))
            .select(col("qid"), col("vec_id"), cast_rank, col("adc"))
            .orderBy(col("qid"), col("rank")))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(annIndexRetrainOracle),
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this
      // entry; per-batch ingest is the q_ann_index_insert probed shape,
      // the monitor one hash aggregate, the retrain the one-shot build
      // on its cadence, the serve the staged IVF-PQ shape)
      bench = false),

    // TWO-TIER (recency-windowed) streaming ANN — the retrieval-
    // freshness composition that completes the tier symmetry the dedup
    // and containment families already have: arriving vectors are
    // findable the MOMENT they land (tier A — the raw-vector pending
    // window, horizon-bounded, encoded on the fly at serve time
    // against the stored quantizers), while vectors the horizon has
    // aged out live only as PQ codes in the bulk relations (tier B —
    // encoded exactly once, at aging, via TieredIndex's crash-proven
    // exactly-once migration with an encode TRANSFORM: raw embeddings
    // never reach the bulk tier). The serve unions the two tiers'
    // (assign, codes) relations and runs the ONE standard staged
    // IVF-PQ serve over them, so the answer is BIT-IDENTICAL to a
    // single-tier index over the same population — the oracle is the
    // same fresh-build replay, and tiering only decides where a
    // vector's codes come from and when the encode cost is paid.
    // Why this shape at 100 TB: the pending window is rate × horizon
    // rows (bounded — the probe row measures it), per-serve encoding
    // is window-bounded and map-side, the bulk tier is compressed
    // codes compacted by the leveled cadence, and RETENTION deletes
    // become O(1) aged-partition drops instead of row-level rewrites.
    // Fixture: the historical (even-id) window lands at t0 and ages
    // out when the last batch advances the horizon past it; the odd-id
    // arrivals land inside the 2.5 h TTL and stay pending — both
    // tiers are non-trivial at serve time (require-guarded).
    "q_stream_ann_twotier" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-stream-anntt")
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        val t0 = 1700000000000L
        val ttlMs = 9000000L // 2.5 h
        def at(ms: Long) = lit(new java.sql.Timestamp(ms)).as("ts")
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val hist = emb.filter(col("vec_id") % 2 === 0)
        StreamFixtures.writeBatch(tmp, src,
          hist.select(col("vec_id"), col("embedding"), at(t0)), "a",
          parts = 1, mtimeMs = 1000000000000L)
        StreamFixtures.writeBatch(tmp, src,
          emb.filter(col("vec_id") % 4 === 1)
            .select(col("vec_id"), col("embedding"), at(t0 + 3600000L)),
          "b", parts = 1, mtimeMs = 1000000060000L)
        StreamFixtures.writeBatch(tmp, src,
          emb.filter(col("vec_id") % 4 === 3)
            .select(col("vec_id"), col("embedding"), at(t0 + 10800000L)),
          "c", parts = 1, mtimeMs = 1000000120000L)
        val ss = StreamFixtures.childSession(s, 4)
        // the library body (graft.streaming.AnnTwoTier): generation 0's
        // quantizers, trained on the historical window, are the frozen
        // side state the aging transform encodes against
        val p = graft.streaming.AnnTwoTier.create(ss, "anntt", tmp.toString,
          hist, ttlMs)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 1),
          s"$tmp/ckpt")(p.perBatch(_, _))
        require(!p.tier.bulk().isEmpty && !p.tier.pendT.read().isEmpty,
          "two-tier ANN fixture degenerate: one tier is empty")
        val out = graft.plans.Materialize.stage(
          p.serve(emb.filter(col("vec_id") % 25 === 0)
              .select(col("vec_id").as("qid"), col("embedding")))
            .select(col("qid"), col("vec_id"), cast_rank, col("adc"))
            .orderBy(col("qid"), col("rank")))
        graft.ingest.FileOps.deleteRecursively(tmp)
        out
      },
      Some(annTwotierOracle),
      // timed family gate: q_ann_ivfpq_stage (the serve is exactly its
      // staged shape over union relations; the aging/maintenance
      // machinery is TieredIndex's, crash-spec'd in StreamingSpec, and
      // the tier-A boundedness evidence is the StreamProbe
      // stream_ann_twotier row)
      bench = false),

    // STREAMING vector ingestion into the IVF index — the day-2 shape
    // of q_ann_ivf_stage: centroids are trained once on the historical
    // corpus; arriving embedding batches are assigned to their nearest
    // stored centroid MAP-SIDE (16 rows broadcast, no shuffle per
    // batch, no retraining) and appended to the assignment table via
    // foreachBatch; queries then serve from the streamed index. Two
    // mtime-pinned arrival files (corpus split by id parity) make the
    // index accumulate across micro-batches; assignment is per-row and
    // order-independent, so the streamed index equals the one-shot
    // batch assignment and the SAME oracle (full k-means + assignment
    // + probe replay) must land on identical rows. (Redelivery
    // hardening is UpsertSink's job — gated by its failure-injection
    // spec; this entry pins the ingest-assign-serve composition.)
    "q_stream_vector_ingest" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-stream-vec")
        val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
        val emb = Tables.load(s, dir, "embeddings")
        val cents = graft.vector.KMeans.fitCentroids(
          emb, "vec_id", "embedding", k = 16, iters = 2)
        import s.implicits._
        val centroids = cents.toDF("cid", "embedding")
        val centTable = graft.catalog.ParquetTable(
          s, "sv_centroids", s"$tmp/centroids", centroids.schema)
        centTable.overwrite(centroids)
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val stage = tmp.resolve(s"stage_$name")
          df.coalesce(1).write.parquet(stage.toString)
          val part = graft.ingest.FileOps.listDir(stage)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
        }
        writeOne(emb.filter(col("vec_id") % 2 === 0), "a")
        writeOne(emb.filter(col("vec_id") % 2 === 1), "b")
        Seq("a", "b").zipWithIndex.foreach { case (n, i) =>
          java.nio.file.Files.setLastModifiedTime(src.resolve(s"$n.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
        val ss = StreamFixtures.childSession(s, 4)
        val assignTable = graft.catalog.ParquetTable(
          ss, "sv_assign", s"$tmp/assign",
          Ann.ivfAssign(emb.limit(0), "vec_id", "embedding", centroids).schema)
        StreamFixtures.runBatches(StreamFixtures.fileStream(ss, src, 1),
            s"$tmp/ckpt") { (batch, _) =>
          assignTable.append(Ann.ivfAssign(
            batch, "vec_id", "embedding", centTable.read()))
        }
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        Ann.ivfTopKIndexed(emb, assignTable.read(), queries,
          "vec_id", "embedding", "qid", k = 5,
          centroids = centTable.read(), nprobe = 4)
          .select(col("qid"), col("vec_id"), cast_rank)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql),
      // timed family gate: q_stream_cdc_merge (oracle still gates this entry)
      bench = false),

    // LSH-bucketed ANN (random hyperplanes, multi-probe d≤1): the scale
    // path — candidates from bucket equi-joins, exact re-rank. `bits`
    // is derived from the corpus size via the parquet footers (the same
    // bitsFor sizing story as cosineNearDuplicates — occupancy stays
    // flat as n grows, and no extra count() pass). The oracle
    // REIMPLEMENTS the pipeline in SQL with the hyperplanes embedded as
    // round-trip-exact double literals up to the bitsFor clamp (24) and
    // re-derives the SAME bit count from count(*) with integer-only ops
    // (binary-digit length = ⌈log2⌉ — immune to float log drift):
    // sign-bit bucketing, Hamming-1 probe expansion via xor, windowed
    // re-rank.
    "q_ann_lsh" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        Ann.lshTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 5, bits = Ann.bitsFor(Tables.parquetRowCount(s, dir, "embeddings")),
          probes = 1)
          .select(col("qid"), col("vec_id"), cast_rank)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH planes(j, p) AS (VALUES
              |    ${planesValues(bits = 24, dim = 64, seed = 42L)}),
              |nb AS (
              |  SELECT least(24, greatest(4,
              |    CASE WHEN m <= 1 THEN 0 ELSE length(printf('%b', m - 1)) END)) AS bits
              |  FROM (SELECT (count(*) + 15) // 16 AS m FROM embeddings)),
              |data AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |buckets AS (
              |  SELECT d.vec_id,
              |    CAST(sum(CASE WHEN list_inner_product(d.v, pl.p) >= 0
              |             THEN 1 << pl.j ELSE 0 END) AS INT) AS bucket
              |  FROM data d, planes pl, nb WHERE pl.j < nb.bits
              |  GROUP BY d.vec_id),
              |qs AS (
              |  SELECT d.vec_id AS qid, d.v AS qv, b.bucket AS qbucket
              |  FROM data d JOIN buckets b ON b.vec_id = d.vec_id
              |  WHERE d.vec_id % 100 = 0),
              |probes AS (
              |  SELECT qid, qv, unnest(list_prepend(qbucket,
              |    list_transform(range(nb.bits), j -> xor(qbucket, CAST(1 << j AS INT))))) AS bucket
              |  FROM qs, nb),
              |cand AS (
              |  SELECT p.qid, b.vec_id, list_cosine_similarity(d.v, p.qv) AS sim
              |  FROM probes p
              |  JOIN buckets b ON b.bucket = p.bucket
              |  JOIN data d ON d.vec_id = b.vec_id
              |  WHERE b.vec_id <> p.qid),
              |ranked AS (
              |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              |    ORDER BY sim DESC, vec_id) AS rn
              |  FROM cand)
              |SELECT qid, vec_id, CAST(rn AS INT) AS rank
              |FROM ranked WHERE rn <= 5 ORDER BY qid, rank""".stripMargin)),

    // NDCG@10 retrieval evaluation — the graded ranking metric the
    // eval family still lacked (AUC ranks a classifier, label purity
    // counts hits position-blind; NDCG is position-WEIGHTED).
    // Relevance = label match against the query vector. The log2
    // discount factors are transcendental — so they are computed ONCE
    // in Scala ([[ndcgDiscounts]]) and injected into BOTH engines as
    // integer micro-unit literals (a k-sized lookup, zero cross-engine
    // float risk); DCG is then an exact integer sum, and the ideal DCG
    // for n relevant hits is a prefix-sum lookup, making NDCG an exact
    // integer division. Per query: the exact top-10 (broadcast query
    // set, corpus scanned once) + an 11-entry lookup — at 100 TB the
    // candidate set comes from the IVF index instead and the metric
    // math is unchanged.
    "q_ndcg" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"),
            col("label").as("qlabel"))
        val topk = Ann.exactTopK(emb, queries.drop("qlabel"),
          "vec_id", "embedding", "qid", k = 10)
        val dcol = element_at(array(ndcgDiscounts.map(lit): _*), col("rank"))
        val cum = ndcgDiscounts.scanLeft(0L)(_ + _)
        topk.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .join(queries.select(col("qid"), col("qlabel")), Seq("qid"))
          .select(col("qid"),
            when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"),
            dcol.as("d"))
          .groupBy(col("qid"))
          .agg(sum(col("rel")).as("n_rel"),
            sum(col("rel") * col("d")).as("dcg_micro"))
          .withColumn("idcg",
            element_at(array(cum.map(lit): _*), col("n_rel").cast("int") + 1))
          .select(col("qid"), col("n_rel"), col("dcg_micro"),
            when(col("n_rel") === 0, 0L)
              .otherwise(expr("dcg_micro * 1000000L div idcg"))
              .as("ndcg_micro"))
          .orderBy(col("qid"))
      },
      Some {
        val discVals = ndcgDiscounts.zipWithIndex
          .map { case (c, i) => s"(${i + 1}, $c)" }.mkString(", ")
        val cumVals = ndcgDiscounts.scanLeft(0L)(_ + _).zipWithIndex
          .map { case (c, k) => s"($k, $c)" }.mkString(", ")
        s"""WITH q AS (
           |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
           |    label AS qlabel
           |  FROM embeddings WHERE vec_id % 100 = 0),
           |scored AS (
           |  SELECT q.qid, e.vec_id, q.qlabel, e.label,
           |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
           |      AS sim
           |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, vec_id) AS rn
           |  FROM scored),
           |disc(rn, c) AS (VALUES $discVals),
           |agg AS (
           |  SELECT qid,
           |    CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_rel,
           |    CAST(sum(CASE WHEN label = qlabel THEN d.c ELSE 0 END)
           |      AS BIGINT) AS dcg_micro
           |  FROM ranked r JOIN disc d ON d.rn = r.rn
           |  WHERE r.rn <= 10 GROUP BY qid),
           |cum(k, s) AS (VALUES $cumVals)
           |SELECT a.qid, a.n_rel, a.dcg_micro,
           |  CASE WHEN a.n_rel = 0 THEN 0
           |    ELSE CAST(a.dcg_micro * 1000000 // c.s AS BIGINT)
           |    END AS ndcg_micro
           |FROM agg a JOIN cum c ON c.k = a.n_rel
           |ORDER BY a.qid""".stripMargin
      }),

    // DIVERSITY-preserving downsampling — the density-cap curation
    // pass (the pruning half of SemDeDup-style selection): partition
    // embedding space by 6-bit hyperplane-LSH regions and keep at most
    // 4 vectors per region, chosen by a deterministic uniform draw
    // WITHOUT replacement (A-ES with weight 1 — Sampling.weightedSample
    // riding the native graft_topk aggregate: map-side partials cut
    // every region to ≤ k before the shuffle, no Window, no per-region
    // sort). Distinct from q_semantic_dedup (which drops ≥0.98
    // near-dups pairwise): this caps DENSITY, thinning over-represented
    // regions even when no pair crosses a duplicate threshold. Region
    // assignment is map-side (planes ride the plan); shuffle volume is
    // k·partitions per region regardless of corpus size — the 100 TB
    // shape as-is.
    "q_diversity_sample" -> Q(
      (s, dir) => {
        val planes = Ann.hyperplanes(bits = 6, dim = 64, seed = 42L)
        val b = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"),
            Ann.bucketOf(col("embedding"), planes).as("bucket"),
            lit(1.0).as("w"))
        graft.plans.Sampling.weightedSample(b, "bucket", "w",
            "vec_id", k = 4, seed = "div")
          .orderBy(col("bucket"), col("rk"))
      },
      Some(s"""WITH planes(j, p) AS (VALUES
              |    ${planesValues(bits = 6, dim = 64, seed = 42L)}),
              |b AS (
              |  SELECT e.vec_id,
              |    CAST(sum(CASE WHEN list_inner_product(
              |        CAST(e.embedding AS DOUBLE[]), pl.p) >= 0
              |      THEN 1 << pl.j ELSE 0 END) AS INT) AS bucket
              |  FROM embeddings e, planes pl GROUP BY e.vec_id),
              |keyed AS (
              |  SELECT bucket, vec_id,
              |    CAST(floor(1e6 * ln(
              |      (CAST(('0x' || substr(md5(vec_id || 'div'), 1, 15))::BIGINT
              |        AS DOUBLE) + 0.5) / 1152921504606846976.0) / 1.0)
              |      AS BIGINT) AS sample_key
              |  FROM b),
              |ranked AS (
              |  SELECT bucket, vec_id, sample_key,
              |    CAST(row_number() OVER (PARTITION BY bucket
              |      ORDER BY sample_key DESC, vec_id) AS BIGINT) AS rk
              |  FROM keyed)
              |SELECT bucket, rk, vec_id, sample_key FROM ranked
              |WHERE rk <= 4 ORDER BY bucket, rk""".stripMargin)),

    // Semantic dedup keep-set: the surviving embeddings after dropping
    // every vector with a SMALLER near-duplicate (cos ≥ 0.98) — the
    // "keep first occurrence" dedup a training pipeline runs over
    // embedding space. Pairs come from the LSH-bucketed near-dup
    // operator (no cross join); the loser set is tiny (dups only) so
    // the keep filter is a broadcast anti join — the corpus never
    // shuffles. The oracle recomputes survivors from the exact
    // all-pairs cosine graph.
    "q_semantic_dedup" -> Q(
      (s, dir) => {
        val planted = plantedEmbeddings(s, dir)
        val losers = graft.vector.Ann.cosineNearDuplicates(
          planted, "vec_id", "embedding", threshold = 0.98, probes = 1,
          n = plantedSize(s, dir))
          .select(col("id_b").as("vec_id")).distinct()
        planted.join(broadcast(losers), Seq("vec_id"), "left_anti")
          .select(col("vec_id")).orderBy(col("vec_id"))
      },
      Some(s"""WITH corpus AS ($plantedCte),
             |losers AS (
             |  SELECT DISTINCT b.vec_id
             |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                               CAST(b.embedding AS DOUBLE[])) >= 0.98)
             |SELECT vec_id FROM corpus
             |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
             |ORDER BY vec_id""".stripMargin)),

    // Symmetric int8 quantization (graft.vector.Quantize): per-vector
    // scale + code array, summarized to integer-exact aggregates so
    // the driver compare is bit-exact. Pure map-side expression work.
    "q_embed_quantize" -> Q(
      (s, dir) => {
        val q = graft.vector.Quantize.int8(
          Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          "embedding")
        q.select(col("vec_id"), round(col("scale"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH d AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (
             |  SELECT vec_id, v,
             |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
             |      THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
             |      ELSE 0.0 END AS scale
             |  FROM d)
             |SELECT vec_id, round(scale, 6) AS scale,
             |  CAST(list_sum(list_transform(v,
             |    x -> greatest(floor(x * scale), -127))) AS BIGINT) AS q_sum,
             |  CAST(list_min(list_transform(v,
             |    x -> greatest(floor(x * scale), -127))) AS INT) AS q_min,
             |  CAST(list_max(list_transform(v,
             |    x -> greatest(floor(x * scale), -127))) AS INT) AS q_max
             |FROM s ORDER BY vec_id""".stripMargin)),

    // Product quantization (graft.vector.Pq): 8 subspaces × 16 codes,
    // codebooks trained JOINTLY (one job per Lloyd round over the
    // exploded (id, sub, subvector) relation; per-subspace assignment
    // is a CASE-dispatched projection against codebook literals, seeds
    // ride the k-bounded graft_topk aggregate — no per-subspace window
    // sort anywhere). A 64-dim float32 vector stores as 8 code ids.
    // The oracle replays the whole trainer: per-subspace md5 seeds, the
    // update round, the final assignment, and the exact-integer
    // per-subspace distortions (quantized grid — every distance is an
    // exact int, so codes and distortion hash-compare across engines).
    "q_pq_encode" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val books = graft.vector.Pq.fitCodebooks(emb, "vec_id", "embedding",
          m = 8, dim = 64, ksub = 16, iters = 2)
        graft.vector.Pq.encode(emb, "vec_id", "embedding", 8, 64, books)
          .groupBy(col("vec_id"))
          .agg(
            array_join(transform(array_sort(collect_list(
              struct(col("sub"), col("code")))),
              x => x.getField("code").cast("string")), " ").as("codes"),
            sum(col("sdist")).cast("long").as("distortion"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $pqCtes
             |SELECT vec_id,
             |  array_to_string(list(CAST(code AS VARCHAR) ORDER BY sub), ' ')
             |    AS codes,
             |  CAST(sum(dist) AS BIGINT) AS distortion
             |FROM pa2 GROUP BY vec_id ORDER BY vec_id""".stripMargin),
      // superseded-generation bench prune: q_ann_pq is the PQ family's
      // timed gate (same training + encode, plus the ADC serve);
      // this entry stays oracle-gated every round but is not timed
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this entry)
      bench = false),

    // ADC retrieval over the PQ codes (asymmetric distance): the query
    // batch expands to a broadcast (qid, sub, code) → distance lookup
    // table (nq·8·16 rows), the encoded corpus joins it on (sub, code)
    // — the corpus VECTORS are never reread at serve time, only the
    // 8-code rows — and a map-side-combining sum + graft_topk yields
    // per-query top-5 with no per-query sort. Oracle: the same
    // codebooks (shared CTEs), the same lookup table, the same summed
    // exact-integer distances, windowed top-5.
    "q_ann_pq" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val books = graft.vector.Pq.fitCodebooks(emb, "vec_id", "embedding",
          m = 8, dim = 64, ksub = 16, iters = 2)
        val codes = graft.vector.Pq
          .encode(emb, "vec_id", "embedding", 8, 64, books)
          .select(col("vec_id"), col("sub"), col("code"))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        graft.vector.Pq.adcTopK(codes, queries, "vec_id", "embedding", "qid",
            m = 8, dim = 64, books = books, k = 5)
          .select(col("qid"), col("vec_id"), cast_rank, col("adc"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH $pqCtes,
             |qs AS (SELECT vec_id AS qid, sub, v FROM sv
             |       WHERE vec_id % 100 = 0),
             |dt AS (
             |  SELECT q.qid, c.sub, c.code,
             |    list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.v)
             |      + list_dot_product(c.v, c.v) AS qdist
             |  FROM qs q JOIN pc1 c USING (sub)),
             |sc AS (
             |  SELECT d.qid, e.vec_id, CAST(sum(d.qdist) AS BIGINT) AS adc
             |  FROM pa2 e JOIN dt d ON d.sub = e.sub AND d.code = e.code
             |  GROUP BY d.qid, e.vec_id)
             |SELECT qid, vec_id, CAST(rn AS INT) AS rank, adc
             |FROM (SELECT qid, vec_id, adc,
             |        row_number() OVER (PARTITION BY qid
             |          ORDER BY adc, vec_id) AS rn
             |      FROM sc)
             |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin),
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this entry)
      bench = false),

    // Cross-modal dedup CONSENSUS — the precision-tiering report a
    // curation pipeline runs when it holds BOTH a lexical detector
    // (MinHash-LSH + exact Jaccard verify) and a semantic one
    // (embedding-cosine near-dup): pairs flagged by both are
    // highest-confidence removals; single-modality pairs go to review/
    // softer treatment. Ids are the doc_id ∩ vec_id space (< 500);
    // plants exercise all three categories — ids < 10 get a text copy
    // AND a perturbed embedding at id+10000 (→ both), ids 10-19 a text
    // copy only (→ lexical_only), ids 20-29 an embedding copy only
    // (→ semantic_only). The oracle brute-forces BOTH modalities
    // all-pairs and replays the full-outer categorization, so either
    // detector dropping or inventing a pair turns the row red.
    "q_dedup_consensus" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).filter(col("doc_id") < 500)
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pd = docs.unionByName(
          docs.filter(col("doc_id") < 20).select(
            (col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" trailing")).as("text")))
        val pe = emb.unionByName(
          emb.filter(col("vec_id") < 10 ||
              (col("vec_id") >= 20 && col("vec_id") < 30))
            .select((col("vec_id") + 10000).as("vec_id"),
              transform(col("embedding"), (x, i) =>
                x + lit(0.002f) * ((i * 7 + col("vec_id")) % 5 - 2)
                  .cast("float")).as("embedding")))
        val lex = graft.text.Dedup
          .verifiedNearDuplicates(pd, "doc_id", "text", threshold = 0.5)
          .select(col("id_a"), col("id_b"), lit(true).as("lex"))
        val sem = Ann.cosineNearDuplicates(pe, "vec_id", "embedding",
            threshold = 0.98, probes = 1,
            n = Tables.parquetRowCount(s, dir, "embeddings") + 20)
          .select(col("id_a"), col("id_b"), lit(true).as("sem"))
        lex.join(sem, Seq("id_a", "id_b"), "full_outer")
          .select(col("id_a"), col("id_b"),
            coalesce(col("lex"), lit(false)).as("lexical"),
            coalesce(col("sem"), lit(false)).as("semantic"),
            when(coalesce(col("lex"), lit(false)) &&
              coalesce(col("sem"), lit(false)), lit("both"))
              .when(coalesce(col("lex"), lit(false)), lit("lexical_only"))
              .otherwise(lit("semantic_only")).as("category"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH docs2 AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 500
             |  UNION ALL
             |  SELECT doc_id + 10000 AS doc_id,
             |    concat(text, ' trailing') AS text
             |  FROM documents WHERE doc_id < 20),
             |toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM docs2),
             |grams AS (
             |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
             |    i -> array_to_string(t[i:i+2], ' '))) AS g
             |  FROM toks),
             |lex AS (
             |  SELECT id_a, id_b FROM (
             |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |      CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) AS inter,
             |      CAST(len(a.g) + len(b.g)
             |        - len(list_intersect(a.g, b.g)) AS DOUBLE) AS un
             |    FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
             |  WHERE (CASE WHEN un = 0 THEN 0.0 ELSE inter / un END) >= 0.5),
             |embs AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 10000 AS vec_id,
             |    list_transform(range(len(embedding)), i ->
             |      embedding[i+1] + CAST(0.002 AS FLOAT)
             |        * CAST((i * 7 + vec_id) % 5 - 2 AS FLOAT)) AS embedding
             |  FROM embeddings
             |  WHERE vec_id < 10 OR (vec_id >= 20 AND vec_id < 30)),
             |sem AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM embs a JOIN embs b ON a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                               CAST(b.embedding AS DOUBLE[]))
             |        >= 0.98)
             |SELECT coalesce(l.id_a, s2.id_a) AS id_a,
             |  coalesce(l.id_b, s2.id_b) AS id_b,
             |  l.id_a IS NOT NULL AS lexical,
             |  s2.id_a IS NOT NULL AS semantic,
             |  CASE WHEN l.id_a IS NOT NULL AND s2.id_a IS NOT NULL
             |         THEN 'both'
             |       WHEN l.id_a IS NOT NULL THEN 'lexical_only'
             |       ELSE 'semantic_only' END AS category
             |FROM lex l FULL OUTER JOIN sem s2
             |  ON l.id_a = s2.id_a AND l.id_b = s2.id_b
             |ORDER BY id_a, id_b""".stripMargin),
      // timed family gate: q_components_stage (oracle still gates this entry)
      bench = false),

    // IVF-PQ retrieval (the FAISS IVFADC composition, no-residual
    // variant): the coarse k-means quantizer routes each query to its
    // 4 nearest cells (Ann.ivfCandidates — the stored (id, cid) index,
    // corpus never scanned for routing), and ONLY those cells' rows
    // pay the PQ lookup-table sum (Pq.adcTopKWithin) — scoring cost
    // drops from the corpus to the probed fraction, and what the scan
    // reads per candidate is 8 code bytes, not 256 float bytes. The
    // oracle composes the two families' shared CTE blocks: the 16-cell
    // 'km:' trainer + float-cosine probe replay (the q_ann_ivf
    // machinery) and the 'pq:' codebook replay (pqCtes), joined on the
    // candidate set.
    "q_ann_ivfpq" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val cents = graft.vector.KMeans.fitCentroids(
          emb, "vec_id", "embedding", k = 16, iters = 2)
        import s.implicits._
        val centroids = cents.toDF("cid", "embedding")
        val assign = Ann.ivfAssign(emb, "vec_id", "embedding", centroids)
        val books = graft.vector.Pq.fitCodebooks(emb, "vec_id", "embedding",
          m = 8, dim = 64, ksub = 16, iters = 2)
        val codes = graft.vector.Pq
          .encode(emb, "vec_id", "embedding", 8, 64, books)
          .select(col("vec_id"), col("sub"), col("code"))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        val cands = Ann.ivfCandidates(assign, queries, "vec_id", "qid",
          "embedding", centroids, nprobe = 4)
        graft.vector.Pq.adcTopKWithin(codes, cands, queries,
            "vec_id", "embedding", "qid", m = 8, dim = 64, books, k = 5)
          .select(col("qid"), col("vec_id"), cast_rank, col("adc"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfpqOracleSqlAll),
      // timed family gate: q_ann_ivfpq_stage (oracle still gates this entry)
      bench = false),

    // IVF-PQ with the WHOLE index persisted between build and serve —
    // the production retrieval shape at 100 TB and the staged
    // counterpart of q_ann_ivfpq, exactly as q_ann_ivf_stage stages
    // plain IVF. Stage 1 (build, once): train the 16-cell coarse
    // quantizer and the 8×16 PQ codebooks, then land FOUR stage tables
    // — centroids (cid, embedding), the (id, cid) assignment, the
    // codebook relation (sub, code, cv) and the encoded corpus
    // (id, sub, code), ~9 bytes a row. Stage 2 (serve, every query
    // batch): route queries to their 4 nearest stored centroids
    // (Ann.ivfCandidates — corpus never scanned), then ADC-score ONLY
    // the probed cells' code rows against the stored codebook relation
    // (Pq.adcTopKWithinIndexed) — the serve plan carries NO k-means or
    // codebook-training lineage (PlanSpec pins this), and what it
    // reads per candidate is 8 code bytes, not 256 vector bytes. The
    // oracle is q_ann_ivfpq's verbatim: the stage tables only memoize
    // the trained model, so the full two-stage replay must land on
    // identical rows. Bench times the serve path against a per-JVM
    // memoized index (min-of-attempts = pure serve cost).
    "q_ann_ivfpq_stage" -> Q(
      (s, dir) => {
        // per-run stage dir: serve, pin, reclaim (the bench path's
        // memoized dir is the long-lived index; a lazy read here would
        // leak one index copy per verify run)
        val stage = buildIvfpqStage(s, dir,
          java.nio.file.Files
            .createTempDirectory("graft-ivfpq-stage").toString)
        val out = graft.plans.Materialize.stage(serveIvfpqStage(s, dir, stage))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(stage))
        out
      },
      Some(ivfpqOracleSqlAll),
      benchFn = Some((s, dir) => serveIvfpqStage(s, dir,
        ivfpqStageDirs.computeIfAbsent(dir, d =>
          buildIvfpqStage(s, d, BenchStage.tempDir("graft-ivfpq-bench")))))),

    // BATCHED dense ANN serving — the q_hybrid_retrieval_batch stance
    // for the standalone IVF-PQ index: a 10×-wider query batch (every
    // 10th vector vs q_ann_ivfpq_stage's every 100th) served from the
    // SAME stored index in ONE pass per stage. Cell routing is shared
    // across the whole batch — Ann.ivfCandidates probes all queries'
    // cells in one assignment join, and Pq.adcTopKWithinIndexed scores
    // every (query, candidate) in one pass over the probed cells' code
    // rows — so serve cost grows with the UNION of probed cells (which
    // saturates at all 16 cells), not with the query count. Both this
    // entry and q_ann_ivfpq_stage are TIMED against the same per-JVM
    // memoized index, so BENCH itself carries the sublinearity
    // evidence: 10× the queries for far less than 10× the serve cost.
    // The oracle is the full two-stage replay at the wider query set.
    "q_ann_ivfpq_batch" -> Q(
      (s, dir) => {
        val stage = buildIvfpqStage(s, dir,
          java.nio.file.Files
            .createTempDirectory("graft-ivfpq-batchq").toString)
        val out = graft.plans.Materialize.stage(
          serveIvfpqStage(s, dir, stage, qMod = 10))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(stage))
        out
      },
      Some(ivfpqOracleSql("TRUE", qMod = 10)),
      benchFn = Some((s, dir) => serveIvfpqStage(s, dir,
        ivfpqStageDirs.computeIfAbsent(dir, d =>
          buildIvfpqStage(s, d, BenchStage.tempDir("graft-ivfpq-bench"))),
        qMod = 10))),

    // MMR diversity re-rank (graft.vector.Mmr): top-8 cosine candidates
    // per query, then 4 greedy rounds of λ·rel − (1−λ)·max-sim-to-
    // selected at λ=0.5 (chosen so 1−λ is binary-exact on both engines
    // — see Mmr's determinism note). All post-candidate work is
    // k-bounded (8 candidates, 8×7 pairwise sims per query); the greedy
    // rounds are DataFrame aggregates unrolled in k, staged per round.
    // The oracle replays candidate generation, the pairwise sim matrix,
    // and all four rounds (the q_mixture_waterfill unrolled-rounds
    // precedent) — cosine doubles are bit-equal across engines (the
    // q_cosine_topk contract), and every argmax tie breaks on id.
    "q_mmr_rerank" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        val cands = Ann.exactTopK(emb, queries, "vec_id", "embedding", "qid",
            k = 8)
          .select(col("qid"), col("vec_id"), col("sim").as("rel"))
          .transform(graft.plans.Materialize.stage)
        val cv = cands.join(emb, Seq("vec_id"))
          .select(col("qid"), col("vec_id"), col("embedding"))
        val pairs = cv.as("x")
          .join(cv.as("y"),
            col("x.qid") === col("y.qid") &&
              col("x.vec_id") =!= col("y.vec_id"))
          .select(col("x.qid").as("qid"), col("x.vec_id").as("a"),
            col("y.vec_id").as("b"),
            VectorFunctions.cosine(col("x.embedding"), col("y.embedding"))
              .as("sim"))
        graft.vector.Mmr.rerank(cands, pairs, "qid", "vec_id",
            k = 4, lam = 0.5)
          .select(col("qid"), col("vec_id"), col("score"), cast_rank)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH data AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |qs AS (SELECT vec_id AS qid, v AS qv FROM data
             |       WHERE vec_id % 100 = 0),
             |sc AS (
             |  SELECT q.qid, d.vec_id,
             |    list_cosine_similarity(d.v, q.qv) AS sim
             |  FROM data d, qs q WHERE d.vec_id <> q.qid),
             |cand AS (
             |  SELECT qid, vec_id, sim AS rel FROM (
             |    SELECT qid, vec_id, sim, row_number() OVER (
             |      PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM sc) WHERE rn <= 8),
             |cv AS (SELECT c.qid, c.vec_id, d.v
             |       FROM cand c JOIN data d USING (vec_id)),
             |pr AS (
             |  SELECT x.qid, x.vec_id AS a, y.vec_id AS b,
             |    list_cosine_similarity(x.v, y.v) AS sim
             |  FROM cv x JOIN cv y
             |    ON x.qid = y.qid AND x.vec_id <> y.vec_id),
             |s1 AS (
             |  SELECT qid, vec_id, score FROM (
             |    SELECT qid, vec_id, 0.5 * rel AS score, row_number() OVER (
             |      PARTITION BY qid ORDER BY 0.5 * rel DESC, vec_id) AS rn
             |    FROM cand) WHERE rn = 1),
             |m2 AS (SELECT p.qid, p.a, max(p.sim) AS ms FROM pr p
             |       JOIN s1 ON s1.qid = p.qid AND s1.vec_id = p.b
             |       GROUP BY 1, 2),
             |s2 AS (
             |  SELECT qid, vec_id, score FROM (
             |    SELECT e.qid, e.vec_id,
             |      0.5 * e.rel - 0.5 * coalesce(m.ms, 0) AS score,
             |      row_number() OVER (PARTITION BY e.qid
             |        ORDER BY 0.5 * e.rel - 0.5 * coalesce(m.ms, 0) DESC,
             |          e.vec_id) AS rn
             |    FROM (SELECT c.* FROM cand c LEFT JOIN s1
             |            ON s1.qid = c.qid AND s1.vec_id = c.vec_id
             |          WHERE s1.vec_id IS NULL) e
             |    LEFT JOIN m2 m ON m.qid = e.qid AND m.a = e.vec_id)
             |  WHERE rn = 1),
             |sel2 AS (SELECT qid, vec_id FROM s1
             |         UNION ALL SELECT qid, vec_id FROM s2),
             |m3 AS (SELECT p.qid, p.a, max(p.sim) AS ms FROM pr p
             |       JOIN sel2 ON sel2.qid = p.qid AND sel2.vec_id = p.b
             |       GROUP BY 1, 2),
             |s3 AS (
             |  SELECT qid, vec_id, score FROM (
             |    SELECT e.qid, e.vec_id,
             |      0.5 * e.rel - 0.5 * coalesce(m.ms, 0) AS score,
             |      row_number() OVER (PARTITION BY e.qid
             |        ORDER BY 0.5 * e.rel - 0.5 * coalesce(m.ms, 0) DESC,
             |          e.vec_id) AS rn
             |    FROM (SELECT c.* FROM cand c LEFT JOIN sel2
             |            ON sel2.qid = c.qid AND sel2.vec_id = c.vec_id
             |          WHERE sel2.vec_id IS NULL) e
             |    LEFT JOIN m3 m ON m.qid = e.qid AND m.a = e.vec_id)
             |  WHERE rn = 1),
             |sel3 AS (SELECT qid, vec_id FROM sel2
             |         UNION ALL SELECT qid, vec_id FROM s3),
             |m4 AS (SELECT p.qid, p.a, max(p.sim) AS ms FROM pr p
             |       JOIN sel3 ON sel3.qid = p.qid AND sel3.vec_id = p.b
             |       GROUP BY 1, 2),
             |s4 AS (
             |  SELECT qid, vec_id, score FROM (
             |    SELECT e.qid, e.vec_id,
             |      0.5 * e.rel - 0.5 * coalesce(m.ms, 0) AS score,
             |      row_number() OVER (PARTITION BY e.qid
             |        ORDER BY 0.5 * e.rel - 0.5 * coalesce(m.ms, 0) DESC,
             |          e.vec_id) AS rn
             |    FROM (SELECT c.* FROM cand c LEFT JOIN sel3
             |            ON sel3.qid = c.qid AND sel3.vec_id = c.vec_id
             |          WHERE sel3.vec_id IS NULL) e
             |    LEFT JOIN m4 m ON m.qid = e.qid AND m.a = e.vec_id)
             |  WHERE rn = 1)
             |SELECT qid, vec_id, score, CAST(1 AS INT) AS rank FROM s1
             |UNION ALL SELECT qid, vec_id, score, CAST(2 AS INT) FROM s2
             |UNION ALL SELECT qid, vec_id, score, CAST(3 AS INT) FROM s3
             |UNION ALL SELECT qid, vec_id, score, CAST(4 AS INT) FROM s4
             |ORDER BY qid, rank""".stripMargin)),

    // Two-stage SQ8 retrieval: int8 coarse scan (exact integer dot,
    // corpus-side scale correction) → float cosine rerank of the top-50
    // survivors → top-10. The oracle recomputes BOTH stages: the int8
    // codes, every integer coarse score, the coarse cut, and the float
    // rerank — the full retrieval pipeline is value-checked end to end.
    "q_ann_rerank" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        Ann.sq8RerankTopK(emb, queries, "vec_id", "embedding", "qid",
            k = 10, coarseK = 50)
          .select(col("qid"), col("vec_id"), col("sim"), cast_rank)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH d AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (
             |  SELECT vec_id, v,
             |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
             |      THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
             |      ELSE 0.0 END AS scale
             |  FROM d),
             |c AS (
             |  SELECT vec_id, v, scale,
             |    list_transform(v, x -> greatest(floor(x * scale), -127)) AS q
             |  FROM s),
             |p AS (
             |  SELECT qs.vec_id AS qid, db.vec_id AS vec_id,
             |    db.v AS dv, qs.v AS qv,
             |    CASE WHEN db.scale > 0 THEN
             |      CAST(list_sum(list_transform(range(len(db.q)),
             |        i -> db.q[i+1] * qs.q[i+1])) AS BIGINT) / db.scale
             |      ELSE -1.7976931348623157e308 END AS cscore
             |  FROM c db, c qs
             |  WHERE qs.vec_id % 100 = 0 AND db.vec_id <> qs.vec_id),
             |r AS (
             |  SELECT qid, vec_id, dv, qv,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY cscore DESC, vec_id) AS crank
             |  FROM p)
             |SELECT qid, vec_id, list_cosine_similarity(dv, qv) AS sim,
             |  CAST(row_number() OVER (PARTITION BY qid
             |    ORDER BY list_cosine_similarity(dv, qv) DESC, vec_id) AS INT)
             |    AS rank
             |FROM r WHERE crank <= 50
             |QUALIFY rank <= 10
             |ORDER BY qid, rank""".stripMargin)),

    // Hybrid retrieval with reciprocal-rank fusion (the modern RAG
    // retrieval stack): lexical BM25 over `documents` and dense cosine
    // over the 1:1-aligned `embeddings`, each cut to a k-bounded
    // top-100 (TakeOrdered — no global sort), fused by
    // RRF = Σ 1/(60+rank). Ranks come from windows over the ALREADY
    // k-bounded lists (≤100 rows — the single-partition window is the
    // bounded-fetch O3 stance, not a corpus sort), ties broken by id
    // on both engines; round-before-final-rank keeps the fused
    // ordering engine-stable. Corpus cost of the ORACLE form: one text
    // pass + one embedding pass, both map-side. The TIMED form
    // (benchFn) is the staged production serve: lexical from the
    // stored BM25 postings (bit-identical scores), dense from the
    // stored IVF-PQ index (cell-routed + ADC — the adjudicated
    // approximate trade), same RRF fusion, no corpus pass at all;
    // the fn↔benchFn relationship is spec-gated (lexical ranks equal,
    // dense recall floor, fused overlap).
    "q_hybrid_retrieval" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val emb = Tables.load(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).first()
          .getSeq[Float](0).map(_.toDouble)
        val w = org.apache.spark.sql.expressions.Window
        val bm = graft.text.Bm25.topDocs(
          docs.select(col("doc_id"), col("text")),
          "doc_id", "text", Seq("spark", "stream", "window"), k = 100)
          .withColumn("rb", row_number().over(
            w.orderBy(col("score").desc, col("doc_id"))).cast("int"))
          .select(col("doc_id"), col("rb"))
        val cs = Ann.bruteForceTopK(emb, "vec_id", "embedding", qv, 100)
          .withColumn("rc", row_number().over(
            w.orderBy(col("sim").desc, col("vec_id"))).cast("int"))
          .select(col("vec_id"), col("rc"))
        // RRF fuse of two k-bounded rank lists (graft.vector.RrfFuse:
        // driver fast path ≡ distributed, RrfFuseSpec-pinned)
        graft.vector.RrfFuse.fuseGlobal(bm, cs, k = 20)
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |d AS (
             |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             |    CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_0,
             |    CAST(len(list_filter(toks, x -> x = 'stream')) AS BIGINT) AS tf_1,
             |    CAST(len(list_filter(toks, x -> x = 'window')) AS BIGINT) AS tf_2
             |  FROM base),
             |g AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |    avg(CAST(dl AS DOUBLE)) AS avgdl,
             |    CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
             |    CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
             |    CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
             |  FROM d),
             |bs AS (
             |  SELECT d.doc_id, round(
             |      ln((g.n_docs - g.df_0 + 0.5) / (g.df_0 + 0.5) + 1.0)
             |        * (d.tf_0 * 2.2)
             |        / (d.tf_0 + 1.2 * (0.25 + 0.75 * (d.dl / g.avgdl)))
             |    + ln((g.n_docs - g.df_1 + 0.5) / (g.df_1 + 0.5) + 1.0)
             |        * (d.tf_1 * 2.2)
             |        / (d.tf_1 + 1.2 * (0.25 + 0.75 * (d.dl / g.avgdl)))
             |    + ln((g.n_docs - g.df_2 + 0.5) / (g.df_2 + 0.5) + 1.0)
             |        * (d.tf_2 * 2.2)
             |        / (d.tf_2 + 1.2 * (0.25 + 0.75 * (d.dl / g.avgdl))), 4)
             |    AS score
             |  FROM d, g),
             |bm AS (
             |  SELECT doc_id, CAST(rb AS INT) AS rb FROM (
             |    SELECT doc_id,
             |      row_number() OVER (ORDER BY score DESC, doc_id) AS rb
             |    FROM bs)
             |  WHERE rb <= 100),
             |cs AS (
             |  SELECT vec_id,
             |    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             |       WHERE vec_id = 0)) AS sim
             |  FROM embeddings),
             |co AS (
             |  SELECT vec_id, CAST(rc AS INT) AS rc FROM (
             |    SELECT vec_id,
             |      row_number() OVER (ORDER BY sim DESC, vec_id) AS rc
             |    FROM cs WHERE NOT isnan(sim))
             |  WHERE rc <= 100)
             |SELECT coalesce(bm.doc_id, co.vec_id) AS doc_id, bm.rb, co.rc,
             |  round(coalesce(1.0 / (60.0 + bm.rb), 0.0)
             |    + coalesce(1.0 / (60.0 + co.rc), 0.0), 6) AS rrf
             |FROM bm FULL OUTER JOIN co ON bm.doc_id = co.vec_id
             |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
      benchFn = Some((s, dir) => serveHybridStage(s, dir,
        hybridStageDirs.computeIfAbsent(dir, d =>
          buildHybridStage(s, d, BenchStage.tempDir("graft-hybrid-bench")))))),

    // BATCHED hybrid retrieval — the SERVING shape of the RAG stack:
    // queries arrive in batches (here every 50th vector, each with 3
    // deterministic lexical terms from a fixed dictionary), and the
    // whole batch is answered in ONE pass per side instead of Q
    // per-query jobs. Lexical: Bm25.topDocsBatch — the batch's term
    // dictionary (bounded: queries × slots, a driver-held model-state
    // fetch) prunes the postings, per-term dfs fall out of the pruned
    // relation, scoring runs slot-ordered so the float adds are
    // engine- and partitioning-stable, ranks from a window PARTITIONED
    // by qid (never global). Dense: exact per-query cosine top-20
    // (corpus × broadcast(query batch), the q_knn_label_purity shape).
    // Fusion: per-query RRF → top-10, ties by doc id. The oracle
    // replays all of it — postings build, slot-pivoted BM25, per-query
    // cosine ranks, RRF — per query. The TIMED form serves BOTH sides
    // from the persisted indexes (stored tok-sorted postings with the
    // pushed term IN filter; stored IVF-PQ cell-routed ADC — the
    // adjudicated approximate trade), no corpus pass at all; the
    // fn↔benchFn relationship is spec-gated like q_hybrid_retrieval's
    // (lexical ranks EQUAL — both paths run topDocsBatch on identical
    // relations — dense overlap floor).
    "q_hybrid_retrieval_batch" -> Q(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val (queries, qterms) = hybridBatchQueryRel(emb)
        val (postings, doclen, stats) =
          graft.text.Bm25.buildIndex(docs, "doc_id", "text")
        val bm = graft.text.Bm25.topDocsBatch(postings, doclen, stats,
            "doc_id", qterms, slots = 3, k = 20)
          .select(col("qid"), col("doc_id"), col("rb"))
        val cs = Ann.exactTopK(emb, queries, "vec_id", "embedding",
            "qid", k = 20)
          .select(col("qid").as("cqid"), col("vec_id"),
            col("rank").cast("int").as("rc"))
        hybridBatchFuse(bm, cs)
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
             |ta AS (
             |  SELECT ['spark','stream','window','join','batch','scan',
             |          'vector','merge'] AS a),
             |qt AS (
             |  SELECT qid, 1 AS slot,
             |    a[CAST(1 + (qid // 50) % 8 AS INT)] AS tok FROM q, ta
             |  UNION ALL
             |  SELECT qid, 2,
             |    a[CAST(1 + (qid // 50 + 3) % 8 AS INT)] FROM q, ta
             |  UNION ALL
             |  SELECT qid, 3,
             |    a[CAST(1 + (qid // 50 + 5) % 8 AS INT)] FROM q, ta),
             |post AS (
             |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |    FROM documents) GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             |       FROM post GROUP BY 1),
             |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |        avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
             |tdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
             |        FROM post GROUP BY 1),
             |m AS (
             |  SELECT qt.qid, p.doc_id,
             |    CAST(sum(CASE WHEN qt.slot = 1 THEN p.tf ELSE 0 END) AS BIGINT) AS tf1,
             |    CAST(sum(CASE WHEN qt.slot = 2 THEN p.tf ELSE 0 END) AS BIGINT) AS tf2,
             |    CAST(sum(CASE WHEN qt.slot = 3 THEN p.tf ELSE 0 END) AS BIGINT) AS tf3,
             |    coalesce(CAST(max(CASE WHEN qt.slot = 1 THEN d.df END) AS BIGINT), 1) AS df1,
             |    coalesce(CAST(max(CASE WHEN qt.slot = 2 THEN d.df END) AS BIGINT), 1) AS df2,
             |    coalesce(CAST(max(CASE WHEN qt.slot = 3 THEN d.df END) AS BIGINT), 1) AS df3
             |  FROM qt JOIN post p ON p.tok = qt.tok
             |  JOIN tdf d ON d.tok = qt.tok
             |  GROUP BY 1, 2),
             |sc AS (
             |  SELECT m.qid, m.doc_id, round(
             |      (CASE WHEN tf1 = 0 THEN 0.0 ELSE
             |        ln((g.n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
             |          / (tf1 + 1.2 * (0.25 + 0.75 * (dl.dl / g.avgdl))) END)
             |    + (CASE WHEN tf2 = 0 THEN 0.0 ELSE
             |        ln((g.n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
             |          / (tf2 + 1.2 * (0.25 + 0.75 * (dl.dl / g.avgdl))) END)
             |    + (CASE WHEN tf3 = 0 THEN 0.0 ELSE
             |        ln((g.n_docs - df3 + 0.5) / (df3 + 0.5) + 1.0) * (tf3 * 2.2)
             |          / (tf3 + 1.2 * (0.25 + 0.75 * (dl.dl / g.avgdl))) END), 4)
             |    AS score
             |  FROM m JOIN dl ON dl.doc_id = m.doc_id, g),
             |bm AS (
             |  SELECT qid, doc_id, CAST(rb AS INT) AS rb FROM (
             |    SELECT qid, doc_id, row_number() OVER (
             |      PARTITION BY qid ORDER BY score DESC, doc_id) AS rb
             |    FROM sc) WHERE rb <= 20),
             |qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
             |       FROM embeddings WHERE vec_id % 50 = 0),
             |co AS (
             |  SELECT qid, vec_id, CAST(rc AS INT) AS rc FROM (
             |    SELECT q2.qid, e.vec_id, row_number() OVER (
             |      PARTITION BY q2.qid ORDER BY
             |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |          q2.v) DESC, e.vec_id) AS rc
             |    FROM embeddings e, qv q2 WHERE e.vec_id <> q2.qid)
             |  WHERE rc <= 20),
             |fused AS (
             |  SELECT coalesce(bm.qid, co.qid) AS qid,
             |    coalesce(bm.doc_id, co.vec_id) AS doc_id, bm.rb, co.rc,
             |    round(coalesce(1.0 / (60.0 + bm.rb), 0.0)
             |      + coalesce(1.0 / (60.0 + co.rc), 0.0), 6) AS rrf
             |  FROM bm FULL OUTER JOIN co
             |    ON bm.qid = co.qid AND bm.doc_id = co.vec_id)
             |SELECT qid, doc_id, rb, rc, rrf FROM (
             |  SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY rrf DESC, doc_id) AS rn FROM fused)
             |WHERE rn <= 10 ORDER BY qid, rrf DESC, doc_id""".stripMargin),
      benchFn = Some((s, dir) => serveHybridBatchStage(s, dir,
        hybridStageDirs.computeIfAbsent(dir, d =>
          buildHybridStage(s, d, BenchStage.tempDir("graft-hybrid-bench")))))),

    // Hard-negative triplet mining — the contrastive-training data
    // prep step an embedding-model pipeline runs over a labeled
    // corpus: for each anchor (the established vec_id % 100 query-set
    // fixture), the nearest SAME-label vector (positive) and the
    // nearest DIFFERENT-label vector (the hard negative that actually
    // teaches the margin), plus the anchor's current margin
    // pos_sim − neg_sim. Shape: corpus × broadcast(anchor set) cosine
    // scoring — one corpus pass, the same exact-kNN layout as
    // q_knn_label_purity — then top-1 per (anchor, same-label?) via a
    // bounded window (partition cardinality = 2 × anchors, rows per
    // partition ≤ corpus; at 100 TB the scoring join composes with the
    // IVF candidate restriction exactly as q_ann_rerank does, making
    // the window input k-bounded). The final pivot aggregates two
    // singleton rows per anchor — conditional max over rn = 1, exact.
    // Sims are raw graft_cosine doubles (bit-equal to DuckDB
    // list_cosine_similarity, the q_cosine_topk contract); the margin
    // is one subtraction of those bit-equal doubles.
    "q_triplet_mining" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val anchors = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val scored = emb
          .join(broadcast(anchors), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (col("label") === col("qlabel")).as("same"),
            VectorFunctions.cosine(col("embedding"), col("qv")).as("sim"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"), col("same"))
          .orderBy(col("sim").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("qid"))
          .agg(max(when(col("same"), col("vec_id"))).as("pos_id"),
            max(when(col("same"), col("sim"))).as("pos_sim"),
            max(when(!col("same"), col("vec_id"))).as("neg_id"),
            max(when(!col("same"), col("sim"))).as("neg_sim"),
            (max(when(col("same"), col("sim"))) -
              max(when(!col("same"), col("sim")))).as("margin"))
          .orderBy(col("qid"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
             |    label AS qlabel
             |  FROM embeddings WHERE vec_id % 100 = 0),
             |scored AS (
             |  SELECT q.qid, e.vec_id, (e.label = q.qlabel) AS same,
             |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
             |      AS sim
             |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY qid, same
             |    ORDER BY sim DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT qid,
             |  max(CASE WHEN same THEN vec_id END) AS pos_id,
             |  max(CASE WHEN same THEN sim END) AS pos_sim,
             |  max(CASE WHEN NOT same THEN vec_id END) AS neg_id,
             |  max(CASE WHEN NOT same THEN sim END) AS neg_sim,
             |  max(CASE WHEN same THEN sim END)
             |    - max(CASE WHEN NOT same THEN sim END) AS margin
             |FROM ranked WHERE rn = 1
             |GROUP BY qid ORDER BY qid""".stripMargin)),

    // Class-centroid cosine matrix — the domain-similarity table a
    // data-selection pipeline computes before mixing (which corpora
    // point the same way in embedding space, à la domain matching for
    // DSIR-style reweighting): one centroid per label, then pairwise
    // cosine between the 10 centroids. Float mean aggregation is
    // order-sensitive, so components quantize to exact 1e-6 BIGINT
    // units FIRST (floor(x·1e6) — identical IEEE ops in both engines)
    // and the corpus-sized pass is a plain integer sum keyed by
    // (label, dim): 640 cells of exact-BIGINT state, map-side
    // combining, one shuffle. The centroid division and the final
    // 45-pair cosine run on that bounded relation — every double op
    // downstream consumes exact integers through the same correctly
    // rounded IEEE expression shape in both engines, so the quantized
    // cosine is bit-stable. At 100 TB nothing but (label, dim, sum)
    // cells ever shuffles; the pair join is centroid×centroid
    // (labels², corpus-independent).
    "q_centroid_sim" -> Q(
      (s, dir) => {
        val comp = Tables.load(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
          .groupBy(col("label"), col("d"))
          .agg(sum(floor(col("x").cast("double") * lit(1000000.0))
            .cast("long")).as("sq"), count(lit(1)).as("n"))
          .select(col("label"), col("d"),
            floor(col("sq").cast("double") / col("n").cast("double"))
              .cast("long").as("c"))
        val a = comp.select(col("label").as("la"), col("d"), col("c").as("ca"))
        val b = comp.select(col("label").as("lb"), col("d"), col("c").as("cb"))
        a.join(b, Seq("d")).filter(col("la") < col("lb"))
          .groupBy(col("la"), col("lb"))
          .agg(sum(col("ca") * col("cb")).as("dot"),
            sum(col("ca") * col("ca")).as("na"),
            sum(col("cb") * col("cb")).as("nb"))
          .select(col("la"), col("lb"),
            floor(col("dot").cast("double") * lit(1000000.0) /
              sqrt(col("na").cast("double") * col("nb").cast("double")))
              .cast("long").as("cos_q"))
          .orderBy(col("la"), col("lb"))
      },
      Some("""WITH comp AS (
             |  SELECT label, s.i AS d,
             |    CAST(floor(CAST(s.x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             |  FROM (SELECT label,
             |          unnest(list_transform(range(1, len(embedding) + 1),
             |            i -> struct_pack(i := i, x := embedding[i]))) AS s
             |        FROM embeddings)),
             |cent AS (
             |  SELECT label, d,
             |    CAST(floor(CAST(sum(q) AS DOUBLE)
             |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c
             |  FROM comp GROUP BY label, d),
             |p AS (
             |  SELECT a.label AS la, b.label AS lb,
             |    CAST(sum(a.c * b.c) AS BIGINT) AS dot,
             |    CAST(sum(a.c * a.c) AS BIGINT) AS na,
             |    CAST(sum(b.c * b.c) AS BIGINT) AS nb
             |  FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
             |  GROUP BY 1, 2)
             |SELECT la, lb,
             |  CAST(floor(CAST(dot AS DOUBLE) * 1000000.0
             |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT)
             |    AS cos_q
             |FROM p ORDER BY la, lb""".stripMargin)),

    // Retrieval metrics NDCG can't express — MRR (reciprocal rank of
    // the FIRST relevant hit: how soon does retrieval land one) and
    // recall@10 against the CORPUS-level relevant count (how much of
    // what exists was found — its denominator is outside the ranked
    // list entirely, which is why no DCG variant subsumes it). Same
    // query set and exact top-10 ranking as q_ndcg; the corpus
    // denominator is one bounded per-label count relation joined by
    // query label. Both metrics in exact integer micro-units
    // (1e6 div rank / div n_relevant — positive operands). Rides the
    // broadcast-query-set top-k: per 100 TB serving the ranked
    // relation is k-bounded per query, and the label census is
    // enum-sized.
    "q_retrieval_metrics" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding"),
            col("label").as("qlabel"))
        val topk = Ann.exactTopK(emb, queries.drop("qlabel"),
          "vec_id", "embedding", "qid", k = 10)
        val lc = emb.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
        topk.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .join(queries.select(col("qid"), col("qlabel")), Seq("qid"))
          .groupBy(col("qid"), col("qlabel"))
          .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
            .as("rel_at_10"),
            min(when(col("label") === col("qlabel"), col("rank")))
              .cast("long").as("fr"))
          .join(lc, col("label") === col("qlabel"))
          .select(col("qid"), col("rel_at_10"),
            coalesce(col("fr"), lit(0L)).as("first_rel_rank"),
            when(col("fr").isNull, 0L)
              .otherwise(expr("1000000L div fr")).as("mrr_micro"),
            when(col("n_label") <= 1L, 0L)
              .otherwise(expr("rel_at_10 * 1000000L div (n_label - 1)"))
              .as("recall10_micro"))
          .orderBy(col("qid"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
             |    label AS qlabel
             |  FROM embeddings WHERE vec_id % 100 = 0),
             |scored AS (
             |  SELECT q.qid, e.vec_id, q.qlabel, e.label,
             |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
             |      AS sim
             |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY sim DESC, vec_id) AS rn
             |  FROM scored),
             |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
             |       FROM embeddings GROUP BY label),
             |agg AS (
             |  SELECT qid, qlabel,
             |    CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
             |      AS BIGINT) AS rel_at_10,
             |    CAST(min(CASE WHEN label = qlabel THEN rn END) AS BIGINT)
             |      AS fr
             |  FROM ranked WHERE rn <= 10 GROUP BY qid, qlabel)
             |SELECT a.qid, a.rel_at_10,
             |  coalesce(a.fr, 0) AS first_rel_rank,
             |  CASE WHEN a.fr IS NULL THEN 0
             |    ELSE 1000000 // a.fr END AS mrr_micro,
             |  CASE WHEN lc.n_label <= 1 THEN 0
             |    ELSE a.rel_at_10 * 1000000 // (lc.n_label - 1) END
             |    AS recall10_micro
             |FROM agg a JOIN lc ON lc.label = a.qlabel
             |ORDER BY a.qid""".stripMargin)),

    // Parallel-pair (bitext) MINING by the CSLS margin (Artetxe &
    // Schwenk 2019) — how parallel training corpora are actually
    // built: a raw cosine threshold drowns in hubness (some vectors
    // are near everything), so each candidate pair's cosine is
    // RESCALED by the two endpoints' neighborhood densities — the
    // average of each side's top-4 cosines — and pairs that stand OUT
    // of their neighborhoods survive. Label 0 is the X "language",
    // label 1 the Y side; 10 planted perturbed translations of X
    // vectors must mine out. Exactness: quantized integer components →
    // exact integer dot/norm sums (zip_with + aggregate, no explode
    // join on the engine side), ONE IEEE expression per pair for
    // cos_q (the q_centroid_sim stance), then pure integer windows
    // and divisions. Scale: this X×Y cross form is the ORACLE-SCALE
    // EXACT TWIN — the production form is q_bitext_mining_ann below,
    // where the pair relation comes from the stored IVF cell probe
    // and the CSLS rescale is candidate-local.
    "q_bitext_mining" -> Q(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val xs = emb.filter(col("label") === 0)
          .select(col("vec_id").as("x_id"), col("embedding"))
        val plantedY = emb.filter(col("label") === 0 && col("vec_id") % 10 === 0)
          .select((col("vec_id") + 990000).as("y_id"),
            transform(col("embedding"), (v, i) =>
              v + lit(0.002f) *
                ((i * 3 + col("vec_id")) % 5 - 2).cast("float"))
              .as("embedding"))
        val ys = emb.filter(col("label") === 1)
          .select(col("vec_id").as("y_id"), col("embedding"))
          .unionByName(plantedY)
        def quant(c: org.apache.spark.sql.Column) =
          transform(c, v => floor(v.cast("double") * lit(1000000.0))
            .cast("long"))
        def norm2(c: org.apache.spark.sql.Column) =
          aggregate(c, lit(0L), (a, v) => a + v * v)
        val qxs = xs.select(col("x_id"), quant(col("embedding")).as("qx"))
          .withColumn("nx", norm2(col("qx")))
        val qys = ys.select(col("y_id"), quant(col("embedding")).as("qy"))
          .withColumn("ny", norm2(col("qy")))
        val pairs = qxs.crossJoin(qys)
          .select(col("x_id"), col("y_id"),
            aggregate(zip_with(col("qx"), col("qy"), (a, b) => a * b),
              lit(0L), (a, v) => a + v).as("dot"),
            col("nx"), col("ny"))
          .select(col("x_id"), col("y_id"),
            floor(col("dot").cast("double") * lit(1000000.0) /
              sqrt(col("nx").cast("double") * col("ny").cast("double")))
              .cast("long").as("cos_q"))
          .transform(graft.plans.Materialize.stage)
        val wx = org.apache.spark.sql.expressions.Window
          .partitionBy(col("x_id")).orderBy(col("cos_q").desc, col("y_id"))
        val wy = org.apache.spark.sql.expressions.Window
          .partitionBy(col("y_id")).orderBy(col("cos_q").desc, col("x_id"))
        val rx = pairs.withColumn("rn", row_number().over(wx))
          .filter(col("rn") <= 4).groupBy(col("x_id"))
          .agg(expr("sum(cos_q) div count(*)").as("rx"))
        val ry = pairs.withColumn("rn", row_number().over(wy))
          .filter(col("rn") <= 4).groupBy(col("y_id"))
          .agg(expr("sum(cos_q) div count(*)").as("ry"))
        // rx/ry are one row per ENDPOINT with candidates — sized by the
        // mined strata, not by any model bound — so no broadcast hint:
        // AQE broadcast-converts them at fixture scale, and at 100 TB
        // the equi-join shuffles on the key it already carries
        pairs.join(rx, Seq("x_id"))
          .join(ry, Seq("y_id"))
          .withColumn("den", expr("(rx + ry) div 2"))
          .filter(col("den") > 0 && col("cos_q") >= 800000L)
          .withColumn("margin_micro", expr("cos_q * 1000000L div den"))
          .filter(col("margin_micro") >= 1500000L)
          .select(col("x_id"), col("y_id"), col("cos_q"), col("margin_micro"))
          .orderBy(col("x_id"), col("y_id"))
      },
      Some("""WITH xs AS (
             |  SELECT vec_id AS id, embedding FROM embeddings
             |  WHERE label = 0),
             |ys AS (
             |  SELECT vec_id AS id, embedding FROM embeddings
             |  WHERE label = 1
             |  UNION ALL
             |  SELECT vec_id + 990000 AS id,
             |    list_transform(range(len(embedding)), i ->
             |      embedding[i+1] + CAST(0.002 AS FLOAT)
             |        * CAST((i * 3 + vec_id) % 5 - 2 AS FLOAT)) AS embedding
             |  FROM embeddings WHERE label = 0 AND vec_id % 10 = 0),
             |xq AS (
             |  SELECT id AS x_id, s.i AS d,
             |    CAST(floor(CAST(s.x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             |  FROM (SELECT id,
             |          unnest(list_transform(range(1, len(embedding) + 1),
             |            i -> struct_pack(i := i, x := embedding[i]))) AS s
             |        FROM xs)),
             |yq AS (
             |  SELECT id AS y_id, s.i AS d,
             |    CAST(floor(CAST(s.x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             |  FROM (SELECT id,
             |          unnest(list_transform(range(1, len(embedding) + 1),
             |            i -> struct_pack(i := i, x := embedding[i]))) AS s
             |        FROM ys)),
             |nx AS (SELECT x_id, CAST(sum(q * q) AS BIGINT) AS nx
             |       FROM xq GROUP BY 1),
             |ny AS (SELECT y_id, CAST(sum(q * q) AS BIGINT) AS ny
             |       FROM yq GROUP BY 1),
             |dots AS (
             |  SELECT xq.x_id, yq.y_id, CAST(sum(xq.q * yq.q) AS BIGINT)
             |    AS dot
             |  FROM xq JOIN yq ON xq.d = yq.d GROUP BY 1, 2),
             |pairs AS (
             |  SELECT d.x_id, d.y_id,
             |    CAST(floor(CAST(d.dot AS DOUBLE) * 1000000.0
             |      / sqrt(CAST(nx.nx AS DOUBLE) * CAST(ny.ny AS DOUBLE)))
             |      AS BIGINT) AS cos_q
             |  FROM dots d JOIN nx USING (x_id) JOIN ny USING (y_id)),
             |rx AS (
             |  SELECT x_id, CAST(sum(cos_q) // count(*) AS BIGINT) AS rx
             |  FROM (SELECT x_id, cos_q, row_number() OVER (
             |          PARTITION BY x_id ORDER BY cos_q DESC, y_id) AS rn
             |        FROM pairs) WHERE rn <= 4 GROUP BY 1),
             |ry AS (
             |  SELECT y_id, CAST(sum(cos_q) // count(*) AS BIGINT) AS ry
             |  FROM (SELECT y_id, cos_q, row_number() OVER (
             |          PARTITION BY y_id ORDER BY cos_q DESC, x_id) AS rn
             |        FROM pairs) WHERE rn <= 4 GROUP BY 1)
             |SELECT p.x_id, p.y_id, p.cos_q,
             |  p.cos_q * 1000000 // ((rx.rx + ry.ry) // 2) AS margin_micro
             |FROM pairs p JOIN rx USING (x_id) JOIN ry USING (y_id)
             |WHERE (rx.rx + ry.ry) // 2 > 0 AND p.cos_q >= 800000
             |  AND p.cos_q * 1000000 // ((rx.rx + ry.ry) // 2) >= 1500000
             |ORDER BY p.x_id, p.y_id""".stripMargin),
      // timed family gate: q_bitext_mining_ann (the production
      // candidate shape; this cross form stays the oracle-scale twin)
      bench = false),

    // Bitext mining, PRODUCTION form — candidate pairs from the STORED
    // IVF index instead of the X×Y cross: the Y side (the "target
    // language") is indexed once (16-cell coarse quantizer trained on
    // Y, per-row cell assignment — the q_ann_ivf_stage machinery,
    // landed in stage tables), and each X query routes to its 4
    // nearest stored cells, so the pair relation is X × (Y ∩ probed
    // cells) — per-query work bounded by cell occupancy, the corpus
    // never crosses itself. The CSLS top-4 rescale then runs
    // CANDIDATE-LOCAL (windows over per-endpoint candidate lists,
    // k-bounded per the probe fan-out), same integer-exact cosine,
    // same thresholds, same planted-translation recovery as the cross
    // twin. The oracle replays EVERYTHING — Y-side k-means ('km:' seed
    // hash, quantized Lloyd round), cosine cell assignment, 4-cell
    // probe routing, candidate-local CSLS — so the mined pair set is
    // value-checked end to end.
    "q_bitext_mining_ann" -> Q(
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-bitext-ann").toString
        buildBitextStage(s, dir, tmp)
        val out = graft.plans.Materialize.stage(
          serveBitextAnn(s, dir, tmp))
        graft.ingest.FileOps.deleteRecursively(
          java.nio.file.Paths.get(tmp))
        out
      },
      Some("""WITH xs AS (
             |  SELECT vec_id AS id, embedding FROM embeddings
             |  WHERE label = 0),
             |ys AS (
             |  SELECT vec_id AS id, embedding FROM embeddings
             |  WHERE label = 1
             |  UNION ALL
             |  SELECT vec_id + 990000 AS id,
             |    list_transform(range(len(embedding)), i ->
             |      embedding[i+1] + CAST(0.002 AS FLOAT)
             |        * CAST((i * 3 + vec_id) % 5 - 2 AS FLOAT)) AS embedding
             |  FROM embeddings WHERE label = 0 AND vec_id % 10 = 0),
             |ym AS (
             |  SELECT id, CAST(embedding AS DOUBLE[]) AS v,
             |    list_transform(CAST(embedding AS DOUBLE[]),
             |                   x -> floor(x * 1000)) AS e
             |  FROM ys),
             |seeds AS (
             |  SELECT id AS cid, e FROM ym
             |  ORDER BY ('0x' || substr(md5('km:' || id), 1, 15))::BIGINT,
             |    id
             |  LIMIT 16),
             |a1 AS (
             |  SELECT id, e, cid FROM (
             |    SELECT m.id, m.e, s.cid,
             |      row_number() OVER (PARTITION BY m.id ORDER BY
             |        list_dot_product(m.e, m.e) - 2 * list_dot_product(m.e, s.e)
             |          + list_dot_product(s.e, s.e), s.cid) AS rn
             |    FROM ym m, seeds s) WHERE rn = 1),
             |cents AS (
             |  SELECT cid, list(m ORDER BY i) AS cv FROM (
             |    SELECT cid, i, floor(sum(e[i]) / count(*)) AS m
             |    FROM a1, range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid),
             |dassign AS (
             |  SELECT id AS y_id, cid FROM (
             |    SELECT m.id, c.cid, row_number() OVER (PARTITION BY m.id
             |      ORDER BY list_cosine_similarity(m.v, c.cv) DESC, c.cid)
             |      AS crank
             |    FROM ym m, cents c) WHERE crank = 1),
             |xv AS (SELECT id AS x_id, CAST(embedding AS DOUBLE[]) AS v
             |       FROM xs),
             |qassign AS (
             |  SELECT s2.x_id, c.cid, row_number() OVER (PARTITION BY s2.x_id
             |    ORDER BY list_cosine_similarity(s2.v, c.cv) DESC, c.cid)
             |    AS crank
             |  FROM xv s2, cents c),
             |cand AS (
             |  SELECT p.x_id, da.y_id
             |  FROM (SELECT x_id, cid FROM qassign WHERE crank <= 4) p
             |  JOIN dassign da ON da.cid = p.cid
             |  WHERE da.y_id <> p.x_id),
             |xq AS (
             |  SELECT id AS x_id, s.i AS d,
             |    CAST(floor(CAST(s.x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             |  FROM (SELECT id,
             |          unnest(list_transform(range(1, len(embedding) + 1),
             |            i -> struct_pack(i := i, x := embedding[i]))) AS s
             |        FROM xs)),
             |yq AS (
             |  SELECT id AS y_id, s.i AS d,
             |    CAST(floor(CAST(s.x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             |  FROM (SELECT id,
             |          unnest(list_transform(range(1, len(embedding) + 1),
             |            i -> struct_pack(i := i, x := embedding[i]))) AS s
             |        FROM ys)),
             |nx AS (SELECT x_id, CAST(sum(q * q) AS BIGINT) AS nx
             |       FROM xq GROUP BY 1),
             |ny AS (SELECT y_id, CAST(sum(q * q) AS BIGINT) AS ny
             |       FROM yq GROUP BY 1),
             |dots AS (
             |  SELECT c.x_id, c.y_id, CAST(sum(xq.q * yq.q) AS BIGINT)
             |    AS dot
             |  FROM cand c
             |  JOIN xq ON xq.x_id = c.x_id
             |  JOIN yq ON yq.y_id = c.y_id AND yq.d = xq.d
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT d.x_id, d.y_id,
             |    CAST(floor(CAST(d.dot AS DOUBLE) * 1000000.0
             |      / sqrt(CAST(nx.nx AS DOUBLE) * CAST(ny.ny AS DOUBLE)))
             |      AS BIGINT) AS cos_q
             |  FROM dots d JOIN nx USING (x_id) JOIN ny USING (y_id)),
             |rx AS (
             |  SELECT x_id, CAST(sum(cos_q) // count(*) AS BIGINT) AS rx
             |  FROM (SELECT x_id, cos_q, row_number() OVER (
             |          PARTITION BY x_id ORDER BY cos_q DESC, y_id) AS rn
             |        FROM pairs) WHERE rn <= 4 GROUP BY 1),
             |ry AS (
             |  SELECT y_id, CAST(sum(cos_q) // count(*) AS BIGINT) AS ry
             |  FROM (SELECT y_id, cos_q, row_number() OVER (
             |          PARTITION BY y_id ORDER BY cos_q DESC, x_id) AS rn
             |        FROM pairs) WHERE rn <= 4 GROUP BY 1)
             |SELECT p.x_id, p.y_id, p.cos_q,
             |  p.cos_q * 1000000 // ((rx.rx + ry.ry) // 2) AS margin_micro
             |FROM pairs p JOIN rx USING (x_id) JOIN ry USING (y_id)
             |WHERE (rx.rx + ry.ry) // 2 > 0 AND p.cos_q >= 800000
             |  AND p.cos_q * 1000000 // ((rx.rx + ry.ry) // 2) >= 1500000
             |ORDER BY p.x_id, p.y_id""".stripMargin),
      // the timed form serves from a per-JVM memoized stored index —
      // the build-once/serve-many stance every other *_stage entry
      // takes; min-of-attempts then measures the MINING serve, not
      // quantizer training
      benchFn = Some((s, dir) => serveBitextAnn(s, dir,
        bitextStageDirs.computeIfAbsent(dir, d =>
          buildBitextStage(s, d, BenchStage.tempDir("graft-bitext-bench")))))),

    // Distributed PCA (top principal component) by POWER ITERATION —
    // the embedding analytic whose scale story is the whole point: the
    // corpus appears in exactly ONE pass that reduces it to a d×d
    // covariance relation (each row emits its d(d+1)/2 upper-triangle
    // products inside the row — nested transform over the quantized
    // vector, so only (a, b, product) cells ever shuffle and they
    // map-side combine to 2,080 groups), and every subsequent step —
    // centering, rescale, 6 unrolled v ← C·v rounds, sign fix — runs
    // driver-side on the COLLECTED d² matrix — the MLlib precedent
    // (RowMatrix.computePrincipalComponents collects the Gramian the
    // same way): a 64×64 covariance is bounded by DESIGN, independent
    // of corpus size, and a distributed formulation of the iteration
    // costs 12 shuffle stages of scheduling overhead to move 64 rows
    // (measured 6.6 s vs ~1 s for this form at sf0.1). Bit-stability
    // across engines: components quantize to exact integer milli-units
    // (floor(x·1e3 + .5) — float→double conversion is exact, so both
    // engines see identical integers), the covariance is the exact
    // integer n·Σqq − ΣqΣq, and the iteration never touches a float:
    // each round renormalizes by `u div greatest(max|u| div 1e6, 1)`
    // (truncating integer division — Scala `/`, Spark `div` and DuckDB
    // `//` all truncate toward zero, verified on negatives). Bounds:
    // |q| ≤ 2 580 (planted), so n·S ≤ 2.7e13 at sf0.1 and the iterate
    // products stay < 2e17 ≪ 2⁶³; at 100 TB row counts the covariance
    // accumulators move to DECIMAL(38,0) (or a two-level sum), the
    // only change. The planted fixture shifts dim 0 of every even
    // vector by +2.0, making dim 0 the dominant variance direction —
    // EvalOpsSpec asserts the recovered loading concentrates there;
    // the oracle replays all six rounds exactly, converged or not.
    // λ comes out as the final round's max|u| (exact integer, in
    // c·v units) with the covariance rescale factor alongside.
    "q_pca_power" -> Q(
      (s, dir) => {
        val d = 64
        val emb = Tables.load(s, dir, "embeddings")
        val planted = emb.select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0 && col("vec_id") % 2 === 0, x + lit(2.0f))
              .otherwise(x)).as("e"))
        val qv = planted.select(col("vec_id"),
          transform(col("e"), x =>
            floor(x.cast("double") * lit(1000d) + lit(0.5d))).as("q"))
        // THE one corpus pass — literally one: the per-dim totals ride
        // as (a, −1, qa) cells and the row count as one (−1, −1, 1)
        // cell in the SAME explode, so the triangle products, the
        // totals and n reduce in ONE aggregation instead of the former
        // three separate corpus scans (triangle + posexplode totals +
        // count — each re-ran the quantize transform; guide §1.2).
        // 65 marker cells per row against 2,080 product cells is a +3%
        // shuffle that buys two full passes; the sums are the same
        // exact integers, so every downstream value is unchanged.
        val stats = qv.select(
          explode(concat(
            flatten(transform(col("q"), (qa, a) =>
              transform(slice(col("q"), a + lit(1), lit(d)), (qb, bo) =>
                struct(a.as("a"), (a + bo).as("b"), (qa * qb).as("p"))))),
            transform(col("q"), (qa, a) =>
              struct(a.as("a"), lit(-1).as("b"), qa.as("p"))),
            array(struct(lit(-1).as("a"), lit(-1).as("b"),
              lit(1L).as("p")))))
            .as("c"))
          .select(col("c.a").as("a"), col("c.b").as("b"), col("c.p").as("p"))
          .groupBy(col("a"), col("b")).agg(sum(col("p")).as("s"))
        // model-state collect: d(d+1)/2 products + d totals + 1 count
        val all = graft.plans.Materialize.modelState(stats,
          s"pca covariance cells + totals + count " +
            s"(${d * (d + 1) / 2 + d + 1} rows)",
          d * (d + 1) / 2 + d + 1)
        val S = all.filter(r => r.getInt(1) >= 0)
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        val tm = all.filter(r => r.getInt(0) >= 0 && r.getInt(1) == -1)
          .map(r => r.getInt(0) -> r.getLong(2)).toMap
        val n = all.find(r => r.getInt(0) == -1 && r.getInt(1) == -1)
          .map(_.getLong(2)).getOrElse(0L)
        def cFull(a: Int, b: Int): Long = {
          val s0 = if (a <= b) S((a, b)) else S((b, a))
          n * s0 - tm(a) * tm(b)
        }
        val maxC = (for (a <- 0 until d; b <- 0 until d)
          yield math.abs(cFull(a, b))).max
        val r0 = math.max(maxC / 1000000000L, 1L)
        val cm = Array.tabulate(d, d)((a, b) => cFull(a, b) / r0)
        var v = Array.fill(d)(1000000L)
        var lambda = 0L
        for (_ <- 1 to 6) {
          val u = Array.tabulate(d)(a =>
            (0 until d).map(b => cm(a)(b) * v(b)).sum)
          lambda = u.map(math.abs).max
          val g = math.max(lambda / 1000000L, 1L)
          v = u.map(_ / g)
        }
        val dmax = (0 until d).minBy(a => (-math.abs(v(a)), a))
        val sg = if (v(dmax) >= 0) 1L else -1L
        import s.implicits._
        (0 until d).map(a => (a, v(a) * sg, lambda, r0))
          .toDF("dim", "loading_micro", "lambda_q", "rescale")
          .orderBy(col("dim"))
      },
      Some {
        val rounds = (1 to 6).map { k =>
          val pv = if (k == 1) "v0" else s"v${k - 1}"
          s"""u$k AS (
             |  SELECT cm.a, CAST(sum(cm.c * $pv.v) AS BIGINT) AS u
             |  FROM cm JOIN $pv ON cm.b = $pv.a GROUP BY cm.a),
             |m$k AS (SELECT max(abs(u)) AS m,
             |          greatest(max(abs(u)) // 1000000, 1) AS g FROM u$k),
             |v$k AS (SELECT a, u // m$k.g AS v FROM u$k, m$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH planted AS (
           |  SELECT vec_id,
           |    list_transform(range(len(embedding)), i ->
           |      CASE WHEN i = 0 AND vec_id % 2 = 0
           |        THEN embedding[i+1] + CAST(2.0 AS FLOAT)
           |        ELSE embedding[i+1] END) AS e
           |  FROM embeddings),
           |qv AS (
           |  SELECT vec_id, list_transform(e, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
           |  FROM planted),
           |tri AS (
           |  SELECT t1.ia AS a, t2.ib AS b,
           |    CAST(sum(q[t1.ia + 1] * q[t2.ib + 1]) AS BIGINT) AS s
           |  FROM qv, range(0, 64) t1(ia), range(0, 64) t2(ib)
           |  WHERE t1.ia <= t2.ib GROUP BY 1, 2),
           |tm AS (
           |  SELECT t1.ia AS a, CAST(sum(q[t1.ia + 1]) AS BIGINT) AS t
           |  FROM qv, range(0, 64) t1(ia) GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qv),
           |cf0 AS (
           |  SELECT tri.a, tri.b, nn.n * tri.s - ta.t * tb.t AS cc
           |  FROM tri JOIN tm ta ON ta.a = tri.a
           |           JOIN tm tb ON tb.a = tri.b, nn),
           |cf AS (SELECT a, b, cc FROM cf0
           |  UNION ALL SELECT b AS a, a AS b, cc FROM cf0 WHERE a <> b),
           |rr AS (SELECT greatest(max(abs(cc)) // 1000000000, 1) AS r FROM cf),
           |cm AS MATERIALIZED (SELECT a, b, cc // rr.r AS c FROM cf, rr),
           |v0 AS (SELECT t1.ia AS a, CAST(1000000 AS BIGINT) AS v
           |       FROM range(0, 64) t1(ia)),
           |$rounds,
           |sg AS (SELECT CASE WHEN v >= 0 THEN 1 ELSE -1 END AS sg
           |       FROM v6 ORDER BY abs(v) DESC, a LIMIT 1)
           |SELECT CAST(v6.a AS INT) AS dim,
           |  CAST(v6.v * sg.sg AS BIGINT) AS loading_micro,
           |  m6.m AS lambda_q, rr.r AS rescale
           |FROM v6, sg, m6, rr ORDER BY dim""".stripMargin
      })
  )

  /** row_number() is int on both engines, but keep the cast explicit
    * so the checker's schema compare can never drift. */
  private def cast_rank = col("rank").cast("int").as("rank")
}
