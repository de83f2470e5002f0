package graft.queries

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path}

/** Temp-dir parquet staging for the streaming oracle entries: each
  * logical micro-batch is one mtime stamp (FileStreamSource orders
  * files by modification time), written `parts` files wide so the
  * batch's map stage parallelizes — a coalesce(1) batch funneled the
  * whole corpus gram pass through ONE task (the r9 bench hog), and a
  * real deployment's batch is always many files wide anyway.
  *
  * Callers must reclaim the fixture with
  * [[graft.ingest.FileOps.deleteRecursively]] once the stream result is
  * materialized (memory sink / localCheckpoint): repeated bench
  * attempts otherwise accumulate corpus copies under java.io.tmpdir. */
object StreamFixtures {

  /** System property consulted by [[childSession]]: set to a state
    * store provider FQN (e.g.
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider)
    * to run every streaming entry's child session under that provider.
    * The default HDFS-backed provider keeps state deserialized on the
    * JVM heap; at 100 TB a long-lived index (stream_neardup measured
    * 1.12 GB of state at the ×100 probe) is RocksDB territory —
    * off-heap, incremental-checkpointed, bounded memory. Results must
    * be byte-identical under either provider (StreamingSpec pins this
    * across the stateful family); the flag only moves WHERE state
    * lives, never what it contains. */
  val ProviderProp = "graft.stateStoreProvider"

  /** [[ProviderProp]] snapshotted ONCE at class init — the JVM-flag
    * contract is "set at launch for the whole run" (Verify/Bench under
    * `-Dgraft.stateStoreProvider=…`), so later mutations of the global
    * sys.props must not leak into sessions built mid-run. */
  private val startupProvider: Option[String] = sys.props.get(ProviderProp)

  /** Thread-scoped provider override for provider-equivalence specs:
    * scoping through a DynamicVariable instead of mutating the global
    * property means a concurrently-running entry or parallel suite on
    * another thread keeps the startup provider — the set/clear window
    * race the sys.props form had. */
  private val providerOverride =
    new scala.util.DynamicVariable[Option[String]](startupProvider)

  /** Run `f` with every [[childSession]] built on THIS thread using
    * `provider` as its state-store provider. */
  def withStateStoreProvider[T](provider: String)(f: => T): T =
    providerOverride.withValue(Some(provider))(f)

  /** The provider [[childSession]] would use right now: the thread's
    * override if inside [[withStateStoreProvider]], else the startup
    * JVM-flag snapshot. */
  def currentProvider: Option[String] = providerOverride.value

  /** The per-entry child session: streaming entries size state-scoped
    * shuffle partitions to the (tiny) state rather than the corpus and
    * must not mutate the caller's conf — and the state-store provider
    * ships here so one JVM flag flips the whole family to RocksDB
    * (explicit parameter beats thread override beats startup flag). */
  def childSession(s: org.apache.spark.sql.SparkSession,
                   shufflePartitions: Int,
                   stateStoreProvider: Option[String] = None)
      : org.apache.spark.sql.SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    stateStoreProvider.orElse(currentProvider).foreach(p =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    ss
  }

  /** The parquet file-source stream over `src`, `filesPerTrigger` files
    * a micro-batch. */
  def fileStream(ss: org.apache.spark.sql.SparkSession, src: Path,
                 filesPerTrigger: Int): DataFrame =
    ss.readStream
      .schema(ss.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(src.toString)

  /** Run `body` over every micro-batch of `stream` to the end of its
    * input, checkpointed at `ckpt`; returns the finished query. */
  def runBatches(stream: DataFrame, ckpt: String)(
      body: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = stream.writeStream
      .foreachBatch(body)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Write `df` as `parts` files `name_0..name_{parts-1}` in `src`, all
    * stamped `mtimeMs`. `tmp` hosts the write staging dir. */
  def writeBatch(tmp: Path, src: Path, df: DataFrame, name: String,
                 parts: Int, mtimeMs: Long): Unit = {
    val stage = tmp.resolve(s"stage_$name")
    df.repartition(parts).write.parquet(stage.toString)
    val partFiles = graft.ingest.FileOps.listDir(stage)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    partFiles.zipWithIndex.foreach { case (p, i) =>
      val dst = src.resolve(s"${name}_$i.parquet")
      Files.move(p, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
  }
}
