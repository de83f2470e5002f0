package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Cast, InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.plans.DriverFetch

/** A parquet-directory-backed mutable table with the DML surface the
  * reference gets from Delta: UPDATE / DELETE / TRUNCATE / MERGE / append
  * / overwrite / OPTIMIZE (SURVEY §2.9;
  * `modules/log_table_control_table_upsert.py:71-75` UPDATE,
  * `notebooks/Data Ingestion Helper.py:140` DELETE,
  * `modules/insert_config.py:172,281,357` TRUNCATE,
  * `modules/auto_loader_steps.py:481-498` OPTIMIZE ZORDER). Mutations
  * are read-transform-rewrite; nothing a mutation writes is visible
  * until a rename publishes it. Single writer per table, which matches
  * the reference (it serializes writers per table through the
  * control-table state machine too). Readers always go through [[read]],
  * which re-opens the directory, so they never hold a stale snapshot.
  *
  * ==Staging==
  * A whole-table rewrite stages at `<path>.__stage`. Everything else —
  * a partition rewrite, and every file the driver writes — stages under
  * `<path>/_pstage/`, which the leading underscore hides from Spark's
  * file listing and partition discovery. Every entry point calls
  * [[recover]] first: it sweeps `_pstage` (a single writer has nothing
  * in flight then) and rolls back a swap a crash interrupted.
  *
  * ==Publish==
  * One step publishes a staged rewrite ([[publish]]): park the live
  * directory (`<path>.__old`, or `_pold/<partition>`) → rename the stage
  * into its place → `Commits.committed` (`name`, or `name/<partition>`)
  * → reclaim the parked copy. Each rename is atomic per HDFS/posix
  * semantics. A crash between the two leaves the live directory absent
  * and the parked copy intact, and [[recover]] renames it back, so
  * committed data survives a crash at any point.
  *
  * ==Transaction markers==
  * A swap can additionally publish a `(appId → batchId)` marker, stored
  * in a `_graft_txn` sidecar INSIDE the staged directory and therefore
  * made visible by the SAME atomic rename as the data (Delta's
  * txn-version-in-commit pattern). This is what makes the streaming
  * [[graft.streaming.UpsertSink]] exactly-once even for non-idempotent
  * (e.g. additive `tgt + src`) MERGE updates: there is no state where
  * the data landed but the marker did not. Markerless mutations carry
  * the existing markers forward, so a compaction or update between
  * stream batches does not reset the stream's dedup state. The leading
  * underscore keeps the sidecar invisible to parquet readers (same
  * convention as `_SUCCESS`).
  *
  * ==Sized rewrite==
  * [[compact]], [[compactPartition]] and the leveled fold of
  * [[graft.streaming.LeveledIndex]] are one [[rewrite]]: one output file
  * per [[ParquetTable.TargetFileBytes]] of input; a pure compaction
  * whose input has no more files than that is a no-op; a one-file
  * output of a batch-sized input ([[DriverFetch]]'s caps) is written
  * sorted from the driver; anything else is a Spark write. Rows the
  * caller already holds — the catalog's bookkeeping, batch-sized
  * landings — are written from the driver by one staged-rows writer
  * ([[appendRows]], [[overwriteRows]], [[overwritePartitionRows]]):
  * Spark's own parquet writer without a Spark job, one file per
  * partition the rows touch.
  */
final class ParquetTable(
    val spark: SparkSession,
    val name: String,
    val path: String,
    val schema: StructType,
    val partitionCols: Seq[String] = Nil,
    val writeOptions: Map[String, String] = Map.empty) {

  require(partitionCols.forall(schema.fieldNames.contains),
    s"partition columns ${partitionCols.mkString(",")} must be in the schema")

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dest = new Path(path)
  private def stagePath = new Path(path + ".__stage")
  private def oldPath = new Path(path + ".__old")
  // Underscore prefix: invisible to Spark's file listing and partition
  // discovery, so in-flight partition stages never pollute a read.
  private def partStageRoot = new Path(dest, "_pstage")
  private def partOldRoot = new Path(dest, "_pold")

  /** Schema of the data FILES: partition column values live in the
    * directory names, not in the files (hive layout). */
  private def dataSchema: StructType =
    StructType(schema.filterNot(f => partitionCols.contains(f.name)))

  /** Roll back an interrupted swap: live dir absent + `.__old` present
    * means the crash hit between the two renames — restore `.__old`.
    * Same per partition: a copy parked under `_pold` whose live
    * partition dir is absent is restored; one whose live dir exists was
    * superseded and is dropped. Finally sweep `_pstage`: anything under
    * it (half-written stages, files an [[appendRows]] never renamed in,
    * trash parked by [[deletePartitions]]) is
    * garbage from an interrupted op — single-writer means no other op
    * is mid-flight when recover() runs — and left alone it accumulates
    * dead bytes forever at 100 TB scale. */
  private def recover(): Unit = {
    val f = fs
    if (!f.exists(dest) && f.exists(oldPath) && !f.rename(oldPath, dest))
      throw new java.io.IOException(s"swap recovery failed for $path")
    // dest present AND .__old present = a swap (or migrateToHiveLayout)
    // crashed between its final rename and the reclaim — the parked
    // copy is superseded garbage. Without this sweep a table mutated
    // only through partition-scoped ops afterwards would keep a
    // FULL-SIZE stale copy forever.
    else if (f.exists(dest) && f.exists(oldPath))
      f.delete(oldPath, true)
    if (partitionCols.nonEmpty && f.exists(partOldRoot)) {
      // listStatus paths come back scheme-qualified; relativize against
      // the equally-qualified root or the relative path is garbage
      val qRoot = f.makeQualified(partOldRoot).toUri
      dirsAtDepth(partOldRoot, partitionCols.size).foreach { parked =>
        val rel = qRoot.relativize(f.makeQualified(parked).toUri).getPath
        val live = new Path(dest, rel)
        if (!f.exists(live)) {
          f.mkdirs(live.getParent)
          if (!f.rename(parked, live))
            throw new java.io.IOException(s"partition recovery failed for $live")
        } else f.delete(parked, true)
      }
      f.delete(partOldRoot, true)
    }
    if (f.exists(partStageRoot)) f.delete(partStageRoot, true)
    checkLayout(f)
  }

  /** A partitioned table must not have plain data files at its root: a
    * table written by an older unpartitioned build would make
    * [[deletePartitions]] silently no-op (the daily idempotency delete
    * stops deleting → duplicates) and the first partitioned append
    * would create a mixed flat+hive layout that breaks reads. Fail
    * loudly BEFORE any mutation instead; [[migrateToHiveLayout]] is the
    * one-time fix. */
  private def checkLayout(f: org.apache.hadoop.fs.FileSystem): Unit =
    if (partitionCols.nonEmpty && f.exists(dest) &&
        f.listStatus(dest).exists(st => st.isFile && isDataFile(st.getPath)))
      throw new IllegalStateException(
        s"table $name at $path is partitioned by ${partitionCols.mkString(",")} " +
          "but has flat data files at its root (legacy unpartitioned layout); " +
          "run migrateToHiveLayout() once before using it")

  private def isDataFile(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** One-time migration of a legacy flat (unpartitioned) layout into
    * the hive layout [[partitionCols]] demands: rewrite the flat files
    * — which carry the partition columns as ordinary data columns —
    * into partition directories, staged + swapped like any other
    * mutation. No-op when the layout is already hive. */
  def migrateToHiveLayout(): Unit = {
    val f = fs
    // Roll a pending whole-table swap back FIRST (recover()'s opening
    // move, inlined because recover() would also run checkLayout and
    // throw on the very legacy layout this method exists to fix): a
    // crash during a previous migrateToHiveLayout between its two
    // renames leaves dest absent and the legacy tree parked at .__old —
    // without this, the retry would see "no table" and silently skip
    // the migration it was called to redo.
    if (!f.exists(dest) && f.exists(oldPath) && !f.rename(oldPath, dest))
      throw new java.io.IOException(s"recovery failed for $path")
    if (partitionCols.isEmpty || !f.exists(dest) ||
        !f.listStatus(dest).exists(st => st.isFile && isDataFile(st.getPath)))
      return
    val carried = readTxns(dest)
    align(spark.read.schema(schema).parquet(path)).write.partitionBy(partitionCols: _*)
      .mode("overwrite").parquet(stagePath.toString)
    publish(stagePath, dest, oldPath, name, carried)
  }

  private def dirsAtDepth(root: Path, depth: Int): Seq[Path] =
    if (depth == 0) Seq(root)
    else if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(s => dirsAtDepth(s.getPath, depth - 1))

  /** `col=value[/col=value…]` path for a leading subset of the partition
    * columns. Values must not need hive path-escaping (true for the
    * date/int partition values this engine writes). */
  private def partitionRel(values: Seq[(String, String)]): String = {
    require(values.nonEmpty && values.map(_._1) == partitionCols.take(values.size),
      s"partition spec ${values.map(_._1)} must be a prefix of $partitionCols")
    values.map { case (c, v) =>
      require(v.nonEmpty && !v.exists(ch => ch < ' ' || "\"#%'*/:=?\\{}[]^".contains(ch)),
        s"partition value '$v' would need hive escaping")
      s"$c=$v"
    }.mkString("/")
  }

  def exists: Boolean = { recover(); fs.exists(dest) }

  /** Create as empty if the directory is absent
    * (schema/schemas/2_header_configuration.py:135-146 bootstrap).
    * CREATE TABLE is a pure driver-side metadata operation — mkdir, no
    * Spark job: the schema lives in this table object and [[read]]
    * pins it explicitly, so an empty directory IS an empty table.
    * (Writing a 0-row DataFrame instead costs a full job + commit
    * protocol; the catalog bootstrap creates seven tables before any
    * data moves, and on a real cluster DDL should never wait on
    * executors.) */
  def createIfNotExists(): this.type = {
    if (!exists) fs.mkdirs(dest)
    this
  }

  def read(): DataFrame =
    if (exists) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Register under `name` so spark.sql text can reference it
    * (CREATE OR REPLACE TEMP VIEW, insert_config.py:125,437). */
  def registerView(): this.type = {
    read().createOrReplaceTempView(name)
    this
  }

  private def writer(df: DataFrame) = {
    // writeOptions flow into every write path (append, overwrite,
    // compact, partition rewrites) — an INDEX table sets a small
    // `parquet.block.size` here so a key-sorted layout yields many
    // tightly-bounded row groups and a pushed IN filter prunes the
    // serve scan to ~the matching pages regardless of index size.
    val w = writeOptions.foldLeft(align(df).write) {
      case (acc, (k, v)) => acc.option(k, v)
    }
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }

  /** Append `df`. On an unpartitioned table a batch-sized frame
    * ([[DriverFetch]]'s caps) lands from the driver through
    * [[appendRows]]: one file, no Spark write job, and nothing at all
    * for an empty frame. */
  def append(df: DataFrame): Unit = {
    val held =
      if (partitionCols.nonEmpty) None
      else DriverFetch(s"$name append", Seq(align(df)))
    held match {
      case Some(Seq(rows)) => appendRows(rows)
      case _ =>
        recover()
        writer(df).mode("append").parquet(path)
        Commits.committed(name)
    }
  }

  def overwrite(df: DataFrame): Unit = overwrite(df, None)

  /** Overwrite, optionally publishing `txn = (appId, batchId)` in the
    * same atomic rename as the data. On a partitioned table the staged
    * tree also inherits every live partition's local `_graft_txn`
    * marker (for partitions that still exist after the rewrite): a
    * whole-table compaction/UPDATE/DELETE between stream batches must
    * not reset [[upsertInPartitions]]' per-partition dedup state — the
    * same carry-forward contract the root marker and
    * [[overwritePartition]] already keep. A partition the rewrite
    * dropped entirely takes its marker with it (its data is explicitly
    * gone; there is no state left to protect). */
  def overwrite(df: DataFrame, txn: Option[(String, Long)]): Unit =
    swap(None, txn)(stage => writer(df).mode("overwrite").parquet(stage.toString))

  /** The one swap: `fill` writes the new contents of the whole table
    * (`into` None) or of one full partition into its stage; then
    * [[publish]] carries the markers forward and publishes the stage. */
  private def swap(into: Option[Seq[(String, String)]], txn: Option[(String, Long)])
                  (fill: Path => Unit): Unit = {
    into.foreach(v => require(v.size == partitionCols.size,
      s"a partition rewrite of $name needs the full partition spec"))
    recover()
    val rel = into.fold("")(partitionRel)
    val live = under(dest, rel)
    val carried = readTxns(live) // before any mutation of the live dir
    val partCarried: Seq[(String, Map[String, Long])] =
      if (into.isDefined || partitionCols.isEmpty) Nil
      else dirsAtDepth(dest, partitionCols.size).flatMap { d =>
        val marks = readTxns(d)
        if (marks.isEmpty) None else Some(partitionRelOf(d) -> marks)
      }
    val stage = if (into.isEmpty) stagePath else new Path(partStageRoot, rel)
    fill(stage)
    publish(stage, live, if (into.isEmpty) oldPath else new Path(partOldRoot, rel),
      label(rel), txn.fold(carried)(carried + _), partCarried)
  }

  /** The one publish step: write the markers into `stage` (and each
    * carried partition marker into its staged partition, where that
    * partition still exists), park `live` at `parked`, rename `stage`
    * into its place, commit `label`, reclaim the parked copy. */
  private def publish(stage: Path, live: Path, parked: Path, label: String,
                      txns: Map[String, Long],
                      partTxns: Seq[(String, Map[String, Long])] = Nil): Unit = {
    val f = fs
    if (txns.nonEmpty) writeTxns(stage, txns)
    partTxns.foreach { case (rel, marks) =>
      val staged = new Path(stage, rel)
      if (f.exists(staged)) writeTxns(staged, marks)
    }
    if (f.exists(parked)) f.delete(parked, true) // stale garbage only
    f.mkdirs(parked.getParent)
    if (f.exists(live) && !f.rename(live, parked))
      throw new java.io.IOException(s"swap set-aside failed for $live")
    f.mkdirs(live.getParent)
    if (!f.rename(stage, live))
      throw new java.io.IOException(s"atomic swap failed for $live")
    Commits.committed(label)
    f.delete(parked, true)
  }

  /** `root/rel`, or `root` itself for the whole table's empty `rel`. */
  private def under(root: Path, rel: String): Path =
    if (rel.isEmpty) root else new Path(root, rel)

  /** Commit label of the whole table (`rel` empty) or one partition. */
  private def label(rel: String): String = if (rel.isEmpty) name else s"$name/$rel"

  /** Append `rows` (values in [[schema]] order; `Option` fields may be
    * `None`/`Some`) as ONE parquet file per partition they touch, or one
    * file on an unpartitioned table. Every file is written under
    * `_pstage/` (see [[writeStaged]]) before the first is renamed into
    * its live directory, so a bad row or an unrenderable partition value
    * publishes nothing, and [[recover]] sweeps the files a crash between
    * two renames left staged. Each rename commits its own partition. */
  def appendRows(rows: Seq[Row]): Unit = {
    recover()
    val f = fs
    writeStaged(rows, partStageRoot).foreach { case (rel, part) =>
      val live = under(dest, rel)
      f.mkdirs(live)
      if (!f.rename(new Path(under(partStageRoot, rel), part), new Path(live, part)))
        throw new java.io.IOException(s"append rename failed for $live")
      Commits.committed(label(rel))
    }
    if (rows.nonEmpty) f.delete(partStageRoot, true)
  }

  /** Replace the table's contents with `rows` (values in [[schema]]
    * order) through the same swap as [[overwrite]], carrying
    * `_graft_txn` markers forward. */
  def overwriteRows(rows: Seq[Row]): Unit = swapRows(rows, Nil, None)

  /** [[overwriteRows]] with each file sorted on `sortKey`, publishing
    * `txn`. */
  private def swapRows(rows: Seq[Row], sortKey: Seq[String],
                       txn: Option[(String, Long)]): Unit =
    swap(None, txn) { stage =>
      fs.delete(stage, true) // a stale stage from an interrupted swap
      fs.mkdirs(stage)
      writeStaged(rows, stage, sortKey)
    }

  /** The table's rows on the driver, in [[schema]] order (`null` for a
    * missing value, like `read().collect()`). For tables whose size the
    * caller bounds — one row per feed, per status. */
  def readRows(): Seq[Row] = {
    require(partitionCols.isEmpty, s"readRows is for unpartitioned tables; $name is partitioned")
    if (!exists) return Nil
    val files = fs.listStatus(dest).filter(st => st.isFile && isDataFile(st.getPath))
    if (files.isEmpty) return Nil
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    files.toSeq.flatMap { st =>
      val it = reader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen))
      // rows come from a reused column batch: convert each before the next
      try it.map(r => toScala(r).asInstanceOf[Row]).toVector
      finally it match { case c: java.io.Closeable => c.close(); case _ => () }
    }
  }

  /** The staged-rows writer: `rows` (values in [[schema]] order) as ONE
    * file per partition they touch, at `root/<partition>/` — or one file
    * in `root` on an unpartitioned table — each sorted on `sortKey`.
    * Rows are grouped by their partition values rendered as the hive
    * directory name renders them. Returns each file's partition path
    * (empty when unpartitioned) and part name, in path order. */
  private def writeStaged(rows: Seq[Row], root: Path,
                          sortKey: Seq[String] = Nil): Seq[(String, String)] = {
    val keys = partitionCols.map(c => c -> schema.fieldIndex(c))
    val data = dataSchema.fieldNames.map(schema.fieldIndex)
    rows.groupBy(r => if (keys.isEmpty) "" else partitionRel(keys.map { case (c, i) =>
      c -> partitionValue(c, r.get(i)) })).toSeq.sortBy(_._1).map { case (rel, rs) =>
      val dir = under(root, rel)
      fs.mkdirs(dir)
      val fileRows = if (keys.isEmpty) rs else rs.map(r => Row.fromSeq(data.map(r.get)))
      rel -> writeRowsFile(fileRows, dataSchema, dir, sortKey)
    }
  }

  /** Writes `rows` (values in `fileSchema` order) as one parquet file in
    * `dir` with the writer a Spark write task would open
    * (`ParquetUtils.prepareWrite` → `OutputWriterFactory`), and returns
    * its part name. With `sortKey`, the rows are written in Spark's
    * ascending order of those columns, nulls first — the order
    * `sortWithinPartitions` gives. */
  private def writeRowsFile(rows: Seq[Row], fileSchema: StructType, dir: Path,
                            sortKey: Seq[String] = Nil): String = {
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(writeOptions))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = ParquetUtils.prepareWrite(sqlConf, job, fileSchema,
      new ParquetOptions(writeOptions, sqlConf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val part = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(fileSchema)
    val required = fileSchema.fields.indices.filterNot(fileSchema.fields(_).nullable)
    val internal = rows.map { r =>
      require(r.length == fileSchema.length,
        s"row of ${r.length} values for the ${fileSchema.length}-column files of $name")
      val row = toCatalyst(r).asInstanceOf[InternalRow]
      require(!required.exists(row.isNullAt), s"null in a non-nullable column of $name")
      row
    } // all rows convert before the file is opened: a bad row writes nothing
    val ordered =
      if (sortKey.isEmpty) internal
      else internal.sorted(new InterpretedOrdering(sortKey.map { k =>
        val i = fileSchema.fieldIndex(k)
        SortOrder(BoundReference(i, fileSchema(i).dataType, fileSchema(i).nullable), Ascending)
      }))
    val out = factory.newInstance(new Path(dir, part).toString, fileSchema, ctx)
    try ordered.foreach(out.write) finally out.close()
    part
  }

  /** `a=1/b=2` relative path of a full partition directory — the last
    * [[partitionCols]].size segments of `dir` (inverse of
    * [[dirsAtDepth]]'s walk from any root). */
  private def partitionRelOf(dir: Path): String = {
    val segs = List.newBuilder[String]
    var cur = dir
    (0 until partitionCols.size).foreach { _ =>
      segs += cur.getName; cur = cur.getParent
    }
    segs.result().reverse.mkString("/")
  }

  /** Highest batch id atomically committed with the data for `appId`,
    * if any batch from that writer has committed. */
  def lastTxn(appId: String): Option[Long] = { recover(); readTxns(dest).get(appId) }

  /** Highest batch id committed atomically with ONE partition's data —
    * the per-partition marker [[upsertInPartitions]] publishes. */
  def lastTxnInPartition(values: Seq[(String, String)], appId: String): Option[Long] = {
    recover()
    readTxns(new Path(dest, partitionRel(values))).get(appId)
  }

  /** Highest batch id committed by `appId` ANYWHERE in the table: the
    * root marker plus every partition-local marker. The monitoring
    * answer to "how far has this stream gotten" regardless of whether
    * batches landed via whole-table swaps or partition-scoped merges.
    * O(#partitions) listing — a status probe, not a hot-path call. */
  def lastTxnAcrossPartitions(appId: String): Option[Long] = {
    recover()
    val marks = readTxns(dest).get(appId).toSeq ++ (
      if (partitionCols.isEmpty) Nil
      else dirsAtDepth(dest, partitionCols.size)
        .flatMap(d => readTxns(d).get(appId)))
    marks.reduceOption(_ max _)
  }

  private def readTxns(dir: Path): Map[String, Long] = {
    val f = fs
    val file = new Path(dir, "_graft_txn")
    if (!f.exists(file)) Map.empty
    else {
      val in = f.open(file)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { line =>
          val i = line.lastIndexOf('\t')
          line.substring(0, i) -> line.substring(i + 1).toLong
        }.toMap
      finally in.close()
    }
  }

  private def writeTxns(dir: Path, txns: Map[String, Long]): Unit = {
    val out = fs.create(new Path(dir, "_graft_txn"), true)
    try out.write(txns.toSeq.sorted.map { case (a, b) => s"$a\t$b" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Partition-level DELETE: atomically unhooks the matching partition
    * directory (rename into a hidden trash, then reclaim) — an O(1)
    * metadata operation however large the partition. `values` may be a
    * leading subset of [[partitionCols]]. At 100 TB this is the ONLY
    * acceptable shape for "delete day X": the predicate form rewrites
    * the whole table. No-op if the partition is absent. */
  def deletePartitions(values: Seq[(String, String)]): Unit = {
    recover()
    val f = fs
    val live = new Path(dest, partitionRel(values))
    if (f.exists(live)) {
      val trash = new Path(partStageRoot, "trash/" + partitionRel(values))
      f.delete(trash, true)
      f.mkdirs(trash.getParent)
      if (!f.rename(live, trash))
        throw new java.io.IOException(s"partition delete failed for $live")
      Commits.committed(s"$name/${partitionRel(values)}")
      // sweep the whole stage root: the trash copy plus the now-empty
      // scaffolding dirs (single writer — nothing else is in flight)
      f.delete(partStageRoot, true)
    }
  }

  /** Replace ONE partition's contents (full partition spec). The data
    * frame must carry [[dataSchema]]'s columns (partition values are
    * implied by the spec). The same swap as the whole table's, scoped to
    * the partition dir: partition-local `_graft_txn` markers are carried
    * forward (and extended with `txn` if given) so a compaction or update
    * between stream batches never resets [[upsertInPartitions]]' dedup
    * state. */
  def overwritePartition(values: Seq[(String, String)], df: DataFrame,
                         txn: Option[(String, Long)] = None): Unit =
    swap(Some(values), txn)(stage =>
      dataAligned(df).write.mode("overwrite").parquet(stage.toString))

  /** [[overwritePartition]] for rows the caller holds (values in
    * [[dataSchema]] order): the same swap and markers, with the
    * partition written from the driver as ONE file sorted on `sortKey`
    * (see [[writeRowsFile]]) — no Spark job. No rows publish an empty
    * partition directory, so [[partitionExists]] still records the
    * landing. */
  def overwritePartitionRows(values: Seq[(String, String)], rows: Seq[Row],
                             sortKey: Seq[String], txn: Option[(String, Long)] = None): Unit =
    swap(Some(values), txn) { stage =>
      fs.mkdirs(stage)
      if (rows.nonEmpty) writeRowsFile(rows, dataSchema, stage, sortKey)
    }

  /** `df` as the partition files carry it: [[dataSchema]]'s columns,
    * in order, at their types. */
  private[graft] def dataAligned(df: DataFrame): DataFrame =
    ParquetTable.alignTo(dataSchema, df)

  /** The literal rendered exactly as the hive directory name renders
    * it. Only two shapes are trusted: a literal already OF the
    * partition column's type, or a string literal (which comparison
    * coercion would cast to the column type anyway) — normalized
    * through the column type so "2026-8-13" and "2026-08-13" land on
    * the same directory. Any other type (e.g. a timestamp literal
    * against a date column, whose equality semantics are NOT
    * date-truncation) refuses to route. */
  private def litString(c: String, l: Literal): Option[String] = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val colType = schema(c).dataType
    val typed =
      if (l.dataType == colType) Some(l)
      else if (l.dataType == org.apache.spark.sql.types.StringType)
        Option(Cast(l, colType, tz).eval(null)).map(Literal(_, colType))
      else None
    typed.flatMap(rendered)
  }

  /** A literal as the hive directory name renders it (Spark's cast to
    * string under the session time zone); None for null. */
  private def rendered(l: Literal): Option[String] =
    Option(Cast(l, org.apache.spark.sql.types.StringType,
      Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)).map(_.toString)

  /** The directory value of partition column `c` for the external
    * value `v`: rendered like [[litString]]'s literals, and null as
    * Spark's default partition name. */
  private def partitionValue(c: String, v: Any): String =
    rendered(Literal(CatalystTypeConverters.convertToCatalyst(v), schema(c).dataType))
      .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)

  /** Equality conjuncts on partition columns inside `pred`, extracted
    * so generic DML can prune like Delta does: the reference issues
    * `DELETE … WHERE InsertDate = CURRENT_DATE()` as a plain predicate
    * (`notebooks/Data Ingestion Helper.py:140`) and expects the engine —
    * not the caller — to turn it into a partition-scoped operation.
    * Returns the pinned `(col, value)` pairs in [[partitionCols]] order
    * plus whether the WHOLE predicate was consumed by those pins (no
    * residual → the partition directory itself is the delete target).
    * Conservative: anything unrecognizable (mixed ORs, casts around
    * the attribute, conflicting pins, values needing hive escaping)
    * yields None and the caller falls back to the full rewrite —
    * routing must never change semantics. */
  private def pinnedSpec(pred: Column): Option[(Seq[(String, String)], Boolean)] = {
    import org.apache.spark.sql.graft.{AttrEqLit, ColumnBridge}
    if (partitionCols.isEmpty) return None
    val cs = ColumnBridge.conjuncts(pred)
    val pins = scala.collection.mutable.Map.empty[String, String]
    var consumed = 0
    cs.foreach {
      case AttrEqLit(name, l) =>
        partitionCols.find(_.equalsIgnoreCase(name)).foreach { c =>
          litString(c, l).foreach { v =>
            if (pins.get(c).exists(_ != v)) return None // contradiction
            pins(c) = v; consumed += 1
          }
        }
      case _ => ()
    }
    if (pins.isEmpty) return None
    // pins must form a leading prefix of partitionCols for a directory path
    val ordered = partitionCols.takeWhile(pins.contains).map(c => c -> pins(c))
    if (ordered.size != pins.size) return None
    if (scala.util.Try(partitionRel(ordered)).isFailure) return None
    Some((ordered, consumed == cs.size))
  }

  /** The predicate as a pure membership pin on the FIRST partition
    * column — `InsertDate IN ('a','b')`, or the OR-of-equalities
    * spelling of the same thing. Each value is then an O(1)
    * leading-prefix directory unhook (Delta prunes the IN form of the
    * compensating delete the same way). Conservative like
    * [[pinnedSpec]]: any extra conjunct, other column, unrenderable or
    * null value refuses to route. */
  private def inPinnedValues(pred: Column): Option[Seq[String]] = {
    import org.apache.spark.sql.graft.{AttrInLits, ColumnBridge}
    if (partitionCols.isEmpty) return None
    ColumnBridge.conjuncts(pred) match {
      case scala.collection.Seq(AttrInLits(name, lits))
          if partitionCols.head.equalsIgnoreCase(name) && lits.nonEmpty =>
        val head = partitionCols.head
        val vs = lits.map(l => litString(head, l))
        if (!vs.forall(_.isDefined)) None
        else {
          val values = vs.flatten.distinct
          if (values.forall(v =>
            scala.util.Try(partitionRel(Seq(head -> v))).isSuccess)) Some(values)
          else None
        }
      case _ => None
    }
  }

  /** Rewrites ONE partition (full spec) as `f` of its rows, with the
    * partition-column values synthesized back as columns (hive reads do
    * the same from the dir name) so a generic predicate that mentions
    * them evaluates against the partition's data. No-op if absent. */
  private def rewritePinned(values: Seq[(String, String)])(f: DataFrame => DataFrame): Unit = {
    recover()
    val live = new Path(dest, partitionRel(values))
    if (fs.exists(live)) {
      val cur = values.foldLeft(spark.read.schema(dataSchema).parquet(live.toString)) {
        case (df, (c, v)) => df.withColumn(c, lit(v).cast(schema(c).dataType))
      }
      overwritePartition(values, f(cur).drop(partitionCols: _*))
    }
  }

  /** UPDATE t SET <set> WHERE <pred> — read-modify-rewrite. When `pred`
    * pins every partition column with an equality (`InsertDate = X AND
    * …`) — or, on a single-column-partitioned table, is a pure
    * membership pin (`InsertDate IN (X, Y)` / its OR spelling) — and
    * `set` leaves the partition columns alone, only the pinned
    * partitions are read and rewritten — Delta's partition pruning for
    * generic DML. Anything else rewrites the whole table. */
  def update(pred: Column, set: Map[String, Column]): Unit = {
    def rewrite(cur: DataFrame): DataFrame =
      cur.select(cur.columns.map { c =>
        set.get(c).map(v => when(pred, v).otherwise(col(c)).as(c)).getOrElse(col(c))
      }.toSeq: _*)
    val setTouchesPartition =
      set.keys.exists(k => partitionCols.exists(_.equalsIgnoreCase(k)))
    val routed =
      if (setTouchesPartition) false
      else inPinnedValues(pred) match {
        case Some(values) if partitionCols.size == 1 =>
          values.foreach(v => rewritePinned(Seq(partitionCols.head -> v))(rewrite))
          true
        case _ => pinnedSpec(pred) match {
          case Some((values, _)) if values.size == partitionCols.size =>
            rewritePinned(values)(rewrite)
            true
          case _ => false
        }
      }
    if (!routed) overwrite(rewrite(read()))
  }

  /** DELETE FROM t WHERE <pred> — anti-filter + rewrite, with Delta-
    * style partition pruning for generic predicates: a pred that IS a
    * partition pin (`InsertDate = X`, possibly a leading prefix of the
    * partition columns) becomes the O(1) directory unhook of
    * [[deletePartitions]]; a membership pin (`InsertDate IN (X, Y)` or
    * its OR-of-equalities spelling) becomes one unhook per value; a
    * pred that pins every partition column AND carries residual
    * conditions rewrites only that partition. At 100 TB this is the
    * difference between the reference's daily
    * `DELETE … WHERE InsertDate = CURRENT_DATE()` touching one
    * directory and rewriting the table. */
  def deleteWhere(pred: Column): Unit = inPinnedValues(pred) match {
    case Some(values) =>
      values.foreach(v => deletePartitions(Seq(partitionCols.head -> v)))
    case None => pinnedSpec(pred) match {
      case Some((values, true)) =>
        deletePartitions(values)
      case Some((values, false)) if values.size == partitionCols.size =>
        rewritePinned(values)(_.filter(!coalesce(pred, lit(false))))
      case _ =>
        overwrite(read().filter(!coalesce(pred, lit(false))))
    }
  }

  /** TRUNCATE TABLE t. */
  def truncate(): Unit =
    overwrite(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** MERGE INTO t USING source — full clause family, see [[Merge]].
    * `txn` publishes a streaming batch marker atomically with the
    * merged data (see class doc). */
  def upsert(
      source: DataFrame,
      keys: Seq[String],
      whenMatchedUpdate: Map[String, Column],
      whenNotMatchedInsert: Boolean = true,
      insertDefaults: Map[String, Column] = Map.empty,
      whenNotMatchedBySourceSet: Map[String, Column] = Map.empty,
      txn: Option[(String, Long)] = None): Unit =
    overwrite(Merge.merge(read(), source, keys, whenMatchedUpdate,
      whenNotMatchedInsert, insertDefaults, whenNotMatchedBySourceSet), txn)

  /** DATA files under `dir`, recursively: `_`/`.`-prefixed sidecars (txn
    * markers, in-flight stages, success files) are not data, so sizing
    * derived from them reflects the rows, not the bookkeeping. */
  private def dataFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(st => isDataFile(st.getPath))
      .flatMap(st => if (st.isDirectory) dataFiles(st.getPath) else Seq(st))

  /** Total DATA bytes currently stored under the table directory. */
  def tableBytes: Long = { recover(); dataFiles(dest).map(_.getLen).sum }

  /** Number of DATA files currently stored under the table directory —
    * the companion of [[tableBytes]], used by compaction-cadence
    * probes/specs to assert file counts stay bounded. An ad-hoc
    * `*.parquet` walk would miscount during a compaction swap (the
    * staged dir is visible until the rename). */
  def dataFileCount: Int = { recover(); dataFiles(dest).size }

  /** OPTIMIZE [ZORDER BY cols] equivalent: compact small files and
    * cluster rows so min/max parquet stats prune on the z columns
    * (modules/auto_loader_steps.py:481-498) — the whole table through
    * [[rewrite]], sized from the CURRENT table bytes at one file per
    * `targetFileBytes`, so a 100 TB table compacts to ~800k properly
    * sized files instead of one task writing one giant file. */
  def compact(zorderCols: Seq[String] = Nil,
              targetFileBytes: Long = ParquetTable.TargetFileBytes): Unit =
    rewrite(read(), tableBytes, zorderCols, None, None, targetFileBytes)

  /** The one sized, sorted rewrite: `input` (`bytes` of data files)
    * becomes the contents of the partition `into`, or of the whole table,
    * in one file per `fileBytes` (at least one), publishing `txn`.
    *
    *  - Without a sort key, an input of at most that many files is left
    *    alone: the many-small-files problem compaction exists to fix
    *    isn't there, and rewriting it after every load would make the
    *    post-load OPTIMIZE pure overhead. A sort key always rewrites —
    *    file count says nothing about row clustering (Delta's OPTIMIZE
    *    ZORDER stance).
    *  - One output file of a batch-sized input ([[DriverFetch]]'s caps)
    *    is written from the driver, sorted on `sortKey`: one file per
    *    partition for the whole table.
    *  - Otherwise Spark writes it: `coalesce` without a sort key; one
    *    file sorted in one task (a range shuffle into one partition
    *    would only add a sampling job and an exchange); more files
    *    range-partitioned on `sortKey` and sorted within each. A
    *    whole-table rewrite of a partitioned table sorts with the
    *    partition columns first: the partitioned writer needs its rows
    *    in that order and would otherwise add its own sort that
    *    scrambles the clustering. */
  private[graft] def rewrite(input: DataFrame, bytes: Long, sortKey: Seq[String],
                             into: Option[Seq[(String, String)]],
                             txn: Option[(String, Long)] = None,
                             fileBytes: Long = ParquetTable.TargetFileBytes): Unit = {
    val parts = math.max(1, math.ceil(bytes.toDouble / fileBytes).toInt)
    if (sortKey.isEmpty && input.inputFiles.length <= parts) return
    val aligned = if (into.isDefined) dataAligned(input) else align(input)
    val held = if (parts == 1) DriverFetch(s"$name rewrite", Seq(aligned)) else None
    held match {
      case Some(Seq(rows)) =>
        into.fold(swapRows(rows, sortKey, txn))(overwritePartitionRows(_, rows, sortKey, txn))
      case _ =>
        val order = ((if (into.isEmpty) partitionCols else Nil) ++ sortKey).map(col)
        val arranged =
          if (sortKey.isEmpty) aligned.coalesce(parts)
          else if (parts == 1) aligned.coalesce(1).sortWithinPartitions(order: _*)
          else aligned.repartitionByRange(parts, sortKey.map(col): _*)
            .sortWithinPartitions(order: _*)
        into.fold(overwrite(arranged, txn))(overwritePartition(_, arranged, txn))
    }
  }

  /** MERGE that rewrites ONLY the partitions the source touches. The
    * source must carry the partition columns, and a row's partition
    * value must equal that of the target row it updates (true whenever
    * the partition column is part of the key or functionally dependent
    * on it — the standard partitioned-MERGE contract). Each touched
    * partition is merged and swapped independently: a CDC batch that
    * touches 2 of 800 days reads and rewrites 2 directories, where
    * [[upsert]] rewrites the table.
    *
    * NOT atomic across partitions (one swap per partition) — but WITH
    * `txn`, exactly-once still holds end to end: the `(appId →
    * batchId)` marker is committed into EACH partition's directory by
    * that partition's own atomic swap, so a crash mid-batch leaves some
    * partitions carrying the marker and some not, and the redelivered
    * batch skips exactly the partitions already done. Non-idempotent
    * (additive) merges therefore never double-apply — the partitioned
    * counterpart of [[upsert]]'s table-level marker, used by
    * [[graft.streaming.UpsertSink]] for CDC into a partitioned target.
    *
    * All partition specs are validated BEFORE the first swap (null
    * partition values, values needing hive escaping), so an invalid
    * source fails the whole call cleanly instead of after some
    * partitions were already rewritten. */
  def upsertInPartitions(source: DataFrame, keys: Seq[String],
      whenMatchedUpdate: Map[String, Column],
      whenNotMatchedInsert: Boolean = true,
      insertDefaults: Map[String, Column] = Map.empty,
      txn: Option[(String, Long)] = None): Unit = {
    require(partitionCols.nonEmpty, "upsertInPartitions needs a partitioned table")
    // case-INSENSITIVE matching throughout, like Spark's own column
    // resolution (and like UpsertSink's routing check — a key spelled
    // "insertdate" against partition column "InsertDate" must behave
    // identically on both sides of that boundary)
    require(partitionCols.forall(p =>
      source.columns.exists(_.equalsIgnoreCase(p))),
      s"source must carry partition columns ${partitionCols.mkString(",")}")
    val effectiveKeys =
      keys.filterNot(k => partitionCols.exists(_.equalsIgnoreCase(k)))
    require(effectiveKeys.nonEmpty,
      "keys must include at least one non-partition column")
    recover()
    // touched partitions: a small driver fetch (days in a CDC batch)
    val touched = source
      .select(partitionCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partitionCols.zipWithIndex.map { case (c, i) => c -> r.getString(i) })
    // validate every spec up front — fail before ANY partition swaps
    touched.foreach { values =>
      values.foreach { case (c, v) => require(v != null,
        s"null partition value for $c in upsertInPartitions source") }
      partitionRel(values.toSeq) // throws on values needing hive escaping
    }
    touched.foreach { values =>
      val alreadyApplied = txn.exists { case (appId, batchId) =>
        readTxns(new Path(dest, partitionRel(values.toSeq)))
          .get(appId).exists(batchId <= _)
      }
      if (!alreadyApplied) {
        val slice = values.foldLeft(source) { case (df, (c, v)) =>
          df.filter(col(c).cast("string") === v)
        }.drop(partitionCols: _*)
        val live = new Path(dest, partitionRel(values.toSeq))
        val cur =
          if (fs.exists(live)) spark.read.schema(dataSchema).parquet(live.toString)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dataSchema)
        overwritePartition(values.toSeq, Merge.merge(cur, slice, effectiveKeys,
          whenMatchedUpdate, whenNotMatchedInsert, insertDefaults), txn)
      }
    }
  }

  /** Full partition specs currently present, in directory-listing
    * order. A metadata-only listing (no file reads) — the leveled-fold
    * machinery ([[graft.streaming.LeveledIndex]]) plans its merges from
    * this. recover() has already swept `_pstage`/`_pold`, but hidden
    * names are filtered anyway (defense against a concurrent-writer
    * layout this class doesn't support silently corrupting a plan). */
  def listPartitions(): Seq[Seq[(String, String)]] = {
    recover()
    dirsAtDepth(dest, partitionCols.size)
      .filter(d => d != dest && isDataFile(d))
      .map { d =>
        partitionRelOf(d).split("/").toSeq.map { seg =>
          val i = seg.indexOf('=')
          seg.substring(0, i) -> seg.substring(i + 1)
        }
      }
  }

  /** Rows of the given partitions, DATA columns only (the partition
    * values are implied by the specs and remapped by the caller) — one
    * multi-directory scan, not a per-partition union. Empty spec list
    * reads as an empty relation. */
  def readPartitionsData(specs: Seq[Seq[(String, String)]]): DataFrame = {
    recover()
    if (specs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dataSchema)
    else spark.read.schema(dataSchema)
      .parquet(specs.map(v => new Path(dest, partitionRel(v)).toString): _*)
  }

  /** Whether one partition directory currently exists. With all
    * partition writes going through [[overwritePartition]]'s atomic
    * swap, presence proves the partition's contents committed IN FULL
    * — the skip test for replay-sensitive batch writes
    * ([[graft.streaming.LeveledIndex.writeBatchIfAbsent]]). */
  def partitionExists(values: Seq[(String, String)]): Boolean = {
    recover()
    fs.exists(new Path(dest, partitionRel(values)))
  }

  /** DATA bytes of ONE partition (0 if absent) — the partition-scoped
    * [[tableBytes]], used to size a partition-scoped rewrite from the
    * partition's own size instead of the table's. */
  def partitionBytes(values: Seq[(String, String)]): Long = {
    recover()
    dataFiles(new Path(dest, partitionRel(values))).map(_.getLen).sum
  }

  /** OPTIMIZE one partition: compact and z-cluster ONLY that
    * partition's files through [[rewrite]], sized from the PARTITION's
    * bytes. The daily post-load compaction shape — at 100 TB,
    * re-optimizing the whole InsertDate-partitioned target after loading
    * one day is a full-table rewrite per day. */
  def compactPartition(values: Seq[(String, String)], zorderCols: Seq[String] = Nil): Unit =
    if (partitionExists(values))
      rewrite(readPartitionsData(Seq(values)), partitionBytes(values), zorderCols, Some(values))

  private def align(df: DataFrame): DataFrame = ParquetTable.alignTo(schema, df)
}

object ParquetTable {
  def apply(spark: SparkSession, name: String, path: String, schema: StructType,
            partitionCols: Seq[String] = Nil,
            writeOptions: Map[String, String] = Map.empty): ParquetTable =
    new ParquetTable(spark, name, path, schema, partitionCols, writeOptions)

  /** `df` as a table of schema `s` holds it: `s`'s columns, in order,
    * at their types; a column `df` lacks reads as null. */
  private[graft] def alignTo(s: StructType, df: DataFrame): DataFrame = {
    val cols = s.fields.map(f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name))
    df.select(cols.toSeq: _*)
  }

  /** Output bytes per file of a sized [[ParquetTable.rewrite]]. */
  private val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Write options for a stored SECONDARY INDEX (band buckets, seed
    * postings): 1 MiB row groups instead of the 128 MiB data default.
    * Index rows are small and served through a pushed key filter, so
    * many small, key-sorted row groups are what makes footer min/max
    * pruning fine-grained enough that a batch of K keys reads ~K row
    * groups no matter how large the index has grown. */
  val IndexWriteOptions: Map[String, String] =
    Map("parquet.block.size" -> (1024 * 1024).toString)
}
