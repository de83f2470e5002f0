package graft.vector

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.ParquetTable

/** GENERATIONS of a persisted multi-relation index with an atomic
  * current-generation pointer — the machinery that makes a retrain SWAP
  * atomic across all four IVF-PQ relations at once.
  *
  * [[graft.catalog.ParquetTable.overwrite]]'s stage-then-rename is
  * atomic per TABLE; a retrain rewrites FOUR tables (centroids, assign,
  * codebooks, codes), and four independent swaps have three crash
  * windows in which a reader would see new centroids beside old codes —
  * a half-swapped index that is silently WRONG (candidates routed by
  * one quantizer, scored by another). Generations close every window:
  * a rebuild writes all four relations under a fresh `g<N>` directory
  * that no reader resolves, and the single atomic rename of the
  * `_current` pointer file publishes them together. A crash anywhere
  * before the flip leaves the pointer — and therefore every serve — on
  * the complete OLD generation; the half-built directory is simply
  * overwritten by the next attempt (the pointer never moved, so the
  * next attempt gets the same generation number). After the flip the
  * superseded directory is deliberately KEPT until the next
  * [[publish]] — grace for readers that resolved the pointer just
  * before the flip (see [[publish]]). This is Delta's commit-pointer
  * pattern applied to a directory of stage tables.
  *
  * The pointer write goes through Hadoop `FileContext.rename` with
  * `Options.Rename.OVERWRITE` — atomic POSIX/HDFS rename semantics, and
  * resolved through the FileSystem API so an `hdfs://`/`s3a://` root
  * works the same as a local path (the
  * [[graft.streaming.UpsertSink]] epoch-file stance). */
final class GenerationalIndex(val spark: SparkSession, val root: String) {

  private def ptr = new HPath(root, "_current")
  private def fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The published generation number, if any generation has ever been
    * published. */
  def currentGen(): Option[Long] = {
    val f = fs
    if (!f.exists(ptr)) None
    else {
      val in = f.open(ptr)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Directory of generation `g` (published or under construction). */
  def genDir(g: Long): String = s"$root/g$g"

  /** Directory every reader should serve from right now. */
  def currentDir(): String = {
    val g = currentGen().getOrElse(
      throw new IllegalStateException(s"no published generation under $root"))
    genDir(g)
  }

  /** The generation number a rebuild should write into: one past the
    * published generation (or 0 on a fresh root). A crashed unpublished
    * attempt left the pointer untouched, so the retry lands on the SAME
    * number and overwrites the debris. */
  def nextGen(): Long = currentGen().fold(0L)(_ + 1)

  /** Atomically flip the pointer to generation `g`, then sweep stale
    * generation directories AND any `_current.tmp-*` pointer file a
    * crash between create and rename left behind (each attempt uses a
    * fresh UUID, so without the sweep the debris would accumulate
    * across retrains forever).
    *
    * The sweep GRACES the immediate predecessor `g-1`: a reader that
    * resolved [[currentDir]] just before the flip may still be inside
    * a lazy scan of the old generation (at production scan durations a
    * same-instant delete is a near-certain mid-query failure), so the
    * flip deletes only generations `< g-1` — the predecessor survives
    * until the NEXT publish supersedes it in turn. This matches the
    * pattern the doc above cites: Delta's commit flip never deletes
    * the files a pinned snapshot reads; a later vacuum does. One
    * publish of grace is the right retention here because retrains are
    * rare (drift-gated) and a serve is one bounded query batch, not a
    * long-lived snapshot — any in-flight read started strictly before
    * flip N completes long before flip N+1. */
  def publish(g: Long): Unit = {
    val f = fs
    f.mkdirs(new HPath(root))
    val tmp = new HPath(root,
      s"_current.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(g.toString.getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(ptr.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    graft.catalog.Commits.committed(ptr.toString)
    f.listStatus(new HPath(root)).foreach { st =>
      val n = st.getPath.getName
      val gen = if (st.isDirectory && n.startsWith("g"))
        scala.util.Try(n.drop(1).toLong).toOption else None
      if (gen.exists(_ < g - 1)) f.delete(st.getPath, true)
      else if (st.isFile && n.startsWith("_current.tmp-"))
        f.delete(st.getPath, false)
    }
  }
}

/** The machinery that CONSUMES `q_ann_index_health`'s per-cell retrain
  * decision — the loop the r13 monitor left open: when cells drift,
  * actually retrain the quantizers, re-encode, swap atomically, serve.
  *
  * The decision stays a COLUMN OF A RELATION (the
  * [[graft.orchestrate.RunDecision]] stance): [[retrainIfDrifted]]
  * reads the stored decision table (k-bounded — one row per cell) and
  * acts on it; no operator eyeballs a dashboard. Retraining itself is
  * the one-shot index build ([[buildGeneration]] — the
  * q_ann_ivfpq_stage build parameterized by the training population)
  * pointed at the CURRENT population: the held-out reference window
  * plus the drifted arrival window, i.e. what the index actually
  * serves now, not the historical corpus the stale quantizers came
  * from.
  *
  * Scale shape: the decision fetch is k rows; training is the standard
  * quantized k-means / grouped-Lloyd passes over the training
  * population; re-encoding is one map-side pass over the corpus
  * (broadcast model, the q_ann_index_insert shape); the swap is a
  * metadata-only pointer rename. Serving NEVER blocks: every query
  * batch that arrives during the rebuild resolves the pointer to the
  * complete old generation (AnnSpec lands a crash after each stage
  * write's commit and proves the old index serves, never a
  * half-swapped mix). */
object IndexRetrain {

  /** Deterministic hash-sampled TRAINING window over the landed vector
    * table — the r15 bound on retraining cost: re-ENCODING the corpus
    * on a retrain is inherent (every code references the new
    * quantizers), but quantizer TRAINING is estimation, and running
    * k-means + PQ fits over the ENTIRE landed table makes training the
    * dominant retrain cost as the table grows without bound. The
    * sample is the engine's standard salted-hash keep
    * ([[graft.plans.Splits.bucketOf]] — md5-based, deterministic,
    * stable under repartitioning and corpus growth, recomputable by
    * any engine including the DuckDB oracle), NOT an RNG `sample()`:
    * the oracle replays training over exactly the same rows. */
  def trainSample(vecs: DataFrame, idCol: String, keepBuckets: Int,
                  buckets: Int = 10000,
                  seed: String = "annretrain"): DataFrame =
    if (keepBuckets >= buckets) vecs
    else vecs.filter(
      graft.plans.Splits.bucketOf(col(idCol), seed, buckets)
        < lit(keepBuckets.toLong))

  /** Size-target the sample: keep-buckets (out of `buckets`) such that
    * the sampled training window lands near `targetBytes` given the
    * landed table's measured bytes — the whole table when it is
    * already under target, never below one bucket. The division floors
    * (a sample slightly under target beats one over it — training cost
    * is the thing being bounded). */
  def trainKeepBuckets(tableBytes: Long, targetBytes: Long,
                       buckets: Int = 10000): Int =
    if (tableBytes <= 0 || tableBytes <= targetBytes) buckets
    else math.max(1,
      ((buckets.toDouble * targetBytes) / tableBytes).toInt)

  /** Open a generation's assign or codes relation as the
    * mig-partitioned [[graft.streaming.LeveledIndex]] that streaming
    * encode-append writes through (r15): plain `append` would
    * duplicate rows when a crashed micro-batch replays AND grow the
    * serve path's file count by one per batch forever; the leveled
    * write is an atomic per-batch partition overwrite with cadence
    * folds, so ingest is exactly-once and the run/footer count stays
    * bounded at any horizon. Readers are unchanged — the `mig` run
    * column is bookkeeping the serve's explicit selects never touch. */
  def genRelation(spark: SparkSession, name: String, path: String,
                  rowSchema: org.apache.spark.sql.types.StructType,
                  sortKey: String): graft.streaming.LeveledIndex =
    graft.streaming.LeveledIndex.create(spark, name, path, rowSchema,
      sortKey)

  /** Train quantizers on `trainPop` and encode `corpus`, landing all
    * four IVF-PQ index relations under `dir` (NOT yet visible to any
    * reader — callers publish via [[GenerationalIndex.publish]]).
    * The corpus-sized relations (assign, codes) land as LEVELED base
    * runs ([[genRelation]]) so day-2 encode-append composes with the
    * same exactly-once, bounded-file-count machinery; the model-sized
    * relations (centroids, codebooks) stay plain one-shot tables. */
  def buildGeneration(spark: SparkSession, dir: String,
                      trainPop: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      k: Int = 16, m: Int = 8, dim: Int = 64,
                      ksub: Int = 16, iters: Int = 2,
                      throughBid: Option[Long] = None): Unit = {
    import spark.implicits._
    val centroids = KMeans.fitCentroids(trainPop, idCol, vecCol, k, iters)
      .toDF("cid", vecCol)
    ParquetTable(spark, "gen_centroids", s"$dir/centroids",
      centroids.schema).overwrite(centroids)
    val assign = Ann.ivfAssign(corpus, idCol, vecCol, centroids)
    genRelation(spark, "gen_assign", s"$dir/assign", assign.schema, idCol)
      .writeBase(assign, throughBid)
    val books = Pq.fitCodebooks(trainPop, idCol, vecCol, m, dim, ksub, iters)
    val bookDf = Pq.codebookDf(spark, books)
    ParquetTable(spark, "gen_codebooks", s"$dir/codebooks", bookDf.schema)
      .overwrite(bookDf)
    val codes = Pq.encode(corpus, idCol, vecCol, m, dim, books)
      .select(col(idCol), col("sub"), col("code"))
    genRelation(spark, "gen_codes", s"$dir/codes", codes.schema, idCol)
      .writeBase(codes, throughBid)
  }

  /** The staged IVF-PQ serve: per query (`qid`, `embedding`), the top 5
    * ids (`vec_id`) by ADC distance among the vectors in its 4 nearest
    * cells — routing through the stored `assign` relation and
    * `centroids`, scoring through the stored `codes` relation and
    * `codebooks` (m = 8 subspaces of 64 dimensions). No training
    * lineage enters the plan: every input is a stored relation. */
  def serve(assign: DataFrame, codes: DataFrame, centroids: DataFrame,
            codebooks: DataFrame, queries: DataFrame): DataFrame =
    Pq.adcTopKWithinIndexed(codes,
      Ann.ivfCandidates(assign, queries, "vec_id", "qid", "embedding",
        centroids, nprobe = 4),
      queries, "vec_id", "embedding", "qid", m = 8, dim = 64, codebooks, k = 5)

  /** [[serve]] over the four relations of the generation under `dir`. */
  def serveStage(spark: SparkSession, dir: String, queries: DataFrame): DataFrame =
    serve(spark.read.parquet(s"$dir/assign"), spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebooks"), queries)

  /** Consume a stored [[IndexHealth.cellHealth]] decision relation: if
    * ANY cell is flagged `drifted`, rebuild the index generation on
    * `trainPop`/`corpus` and atomically publish it; otherwise leave the
    * current generation serving. Returns whether a retrain+swap
    * happened. The decision fetch is k-bounded (one row per cell). */
  def retrainIfDrifted(index: GenerationalIndex, decision: DataFrame,
                       trainPop: DataFrame, corpus: DataFrame,
                       idCol: String, vecCol: String,
                       k: Int = 16, m: Int = 8, dim: Int = 64,
                       ksub: Int = 16, iters: Int = 2,
                       throughBid: Option[Long] = None): Boolean = {
    val drifted = graft.plans.Materialize.modelState(
      decision.filter(col("drifted")).select(col("cid")),
      "per-cell retrain decisions (k-bounded)", 1 << 14)
    if (drifted.isEmpty) false
    else {
      val g = index.nextGen()
      buildGeneration(index.spark, index.genDir(g), trainPop, corpus,
        idCol, vecCol, k, m, dim, ksub, iters, throughBid)
      index.publish(g)
      true
    }
  }
}
