package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{MetaStore, ParquetTable}

/** The driver-side catalog path: `ParquetTable.appendRows` /
  * `overwriteRows` / `readRows` are equivalent to the Spark-job writes
  * and reads they replace, and `MetaStore`'s control state machine
  * keeps its contract when applied on the driver. The batch-sized
  * landings (`LeveledIndex` runs and small folds, unpartitioned
  * `append`) write the rows, markers and key order of the Spark write
  * they replace. */
class CatalogRowsSpec extends AnyFunSuite {
  import CatalogRowsSpec.Rec
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = org.apache.spark.sql.Encoders.product[Rec].schema

  private def ts(s: String, micros: Int) = {
    val t = Timestamp.valueOf(s); t.setNanos(micros * 1000); t
  }
  private val first = Seq(
    Rec(1L, 10, Some(5), "a", Some("x"), ts("2024-03-01 12:00:00", 1)),
    Rec(2L, -3, None, "b", None, ts("1999-12-31 23:59:59", 999999)))
  private val second = Seq(
    Rec(3000000000L, Int.MaxValue, None, "c", Some(""), ts("2024-03-01 00:00:00", 123456)),
    Rec(Long.MinValue, Int.MinValue, Some(0), "", None, ts("1970-01-01 00:00:00", 0)))

  private def table(dir: Path, n: String) = ParquetTable(spark, n, dir.resolve(n).toString, schema)
  /** `body` with every batch-sized landing of two or more rows forced
    * onto its Spark write. */
  private def distributed[T](body: => T): T =
    graft.plans.DriverFetch.withCaps(1, graft.plans.DriverFetch.MaxBytes)(body)
  private def sorted(rows: Seq[Row]) = rows.sortBy(_.getLong(0))
  private def asRows(recs: Seq[Rec]) = recs.map(r =>
    Row(r.id, r.n, r.opt.orNull, r.s, r.os.orNull, r.ts))

  test("driver-written rows read back through read() equal a Spark-job write") {
    val dir = Files.createTempDirectory("rows-eq")
    val spark1 = table(dir, "spark")
    val driver = table(dir, "driver")
    // both tables already hold a Spark-written file
    distributed {
      Seq(spark1, driver).foreach(_.append(first.toDF()))
      spark1.append(second.toDF())
    }
    driver.appendRows(second.map(Row.fromTuple))
    val want = sorted(asRows(first ++ second))
    assert(sorted(spark1.read().collect().toSeq) === want)
    assert(sorted(driver.read().collect().toSeq) === want)
    // Option → null, UTC micros, Int/Long bounds: readRows sees the same
    assert(sorted(driver.readRows()) === want)
    assert(sorted(spark1.readRows()) === want)
    assert(driver.read().filter(col("opt").isNull).count() === 2)
  }

  test("driver-written files carry a Spark write's schema encoding and codec") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("rows-footer")
    val sparkT = table(dir, "spark")
    val driverT = table(dir, "driver")
    distributed(sparkT.append(second.toDF().coalesce(1)))
    driverT.appendRows(second.map(Row.fromTuple))
    def footer(t: String) = {
      val f = Files.list(dir.resolve(t)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      assert(f.getFileName.toString.startsWith("part-"))
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), spark.sparkContext.hadoopConfiguration))
      try {
        val meta = r.getFooter
        (meta.getFileMetaData.getSchema,
          meta.getFileMetaData.getKeyValueMetaData.asScala
            .filter(_._1.startsWith("org.apache.spark")).toMap,
          meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet,
          r.getRecordCount)
      } finally r.close()
    }
    assert(footer("driver") === footer("spark"))
  }

  test("control state machine: insert on first entry, shift on later ones, one row per feed") {
    val dir = Files.createTempDirectory("rows-ctl")
    val meta = new MetaStore(spark, dir.resolve("meta").toString).bootstrap()
    val now = Timestamp.valueOf("2024-03-01 12:00:00")
    def ctl(id: Long) = meta.control.read().filter(col("HeaderID") === id).collect().toSeq
    meta.logAndControl(7L, "/src", -1, "START", "Job started", 1, now = now)
    val inserted = ctl(7L)
    assert(inserted.size === 1)
    assert(inserted.head.isNullAt(inserted.head.fieldIndex("PreviousBatchID")))
    assert(inserted.head.getAs[Int]("LatestBatchID") === -1)
    assert(inserted.head.getAs[Int]("ErrorID") === 0)
    val batches = Seq(0, 1, 2, 3)
    batches.foreach { b =>
      meta.logAndControlMany(7L, "/src", b,
        Seq(("ROW_COUNT", "5", 1, None), ("AUTO_LOADER", s"Batch $b loaded", 3, None)),
        now = new Timestamp(now.getTime + b + 1))
      meta.logAndControl(8L, "/other", b, "AUTO_LOADER", "x", 1, now = now)
      val row = ctl(7L)
      assert(row.size === 1, s"after batch $b")
      assert(row.head.getAs[Int]("PreviousBatchID") === (if (b == 0) -1 else b - 1))
      assert(row.head.getAs[Int]("LatestBatchID") === b)
      assert(row.head.getAs[Int]("StatusID") === 3) // the last entry's status
      assert(row.head.getAs[Timestamp]("LastUpdateTime") === new Timestamp(now.getTime + b + 1))
    }
    assert(meta.control.read().groupBy("HeaderID").count().filter(col("count") =!= 1).isEmpty)
    assert(meta.control.read().count() === 2)
    // every log line landed, with unique LogIDs
    val logs = meta.logs.read()
    assert(logs.count() === 1 + 2 * batches.size + batches.size)
    assert(logs.select("LogID").distinct().count() === logs.count())
  }

  test("bootstrap seeds the status rows once and keeps rows already present") {
    val dir = Files.createTempDirectory("rows-status")
    val meta = new MetaStore(spark, dir.resolve("meta").toString).bootstrap()
    meta.status.appendRows(Seq(Row(9L, "Custom")))
    meta.bootstrap()
    val got = meta.status.read().orderBy("StatusID").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got === graft.model.Catalog.statusSeed.map(s => s.StatusID -> s.StatusDescription) :+
      (9L -> "Custom"))
  }

  /** Every `_graft_txn` marker under `root`, by its directory relative
    * to `root`. */
  private def markers(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_.getFileName.toString == "_graft_txn")
      .map(f => root.relativize(f.getParent).toString -> Files.readString(f)).toMap
  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

  test("batch-sized landings from the driver equal the Spark write: a run, a fold, an append") {
    import graft.streaming.LeveledIndex
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("rows-landings")
    val runSchema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    def run(root: Path): (Seq[Int], LeveledIndex, ParquetTable) = {
      val idx = LeveledIndex.create(spark, "landing_idx", root.resolve("idx").toString,
        runSchema, "k", every = 2)
      val log = ParquetTable(spark, "landing_log", root.resolve("log").toString, runSchema)
      // markers the landings must carry: a replayed run's and the log's
      distributed {
        idx.table.overwritePartition(Seq("mig" -> "1"), Seq((9L, 9L), (8L, 8L)).toDF("k", "v"),
          txn = Some(("app", 3L)))
        log.overwrite(Seq((0L, 0L), (1L, 1L)).toDF("k", "v"), Some(("app", 4L)))
      }
      val jobs = Seq(
        TestSpark.jobsDuring(spark)(idx.writeBatch(0L, Seq((3L, 30L), (1L, 10L), (2L, 20L))
          .toDF("k", "v"))).size,
        TestSpark.jobsDuring(spark)(idx.writeBatch(1L, Seq((5L, 50L), (4L, 40L)).toDF("k", "v")
          .withColumn("mig", lit(7L)))).size,
        TestSpark.jobsDuring(spark)(log.append(Seq((2L, 2L), (3L, 3L)).toDF("k", "v"))).size)
      assert(idx.maintain(1L), "the level-0 fold did not fire")
      (jobs, idx, log)
    }
    val (driverJobs, dIdx, dLog) = run(dir.resolve("driver"))
    val (sparkJobs, sIdx, sLog) = distributed(run(dir.resolve("spark")))
    // the driver lands local rows without a job; the forced path writes
    assert(driverJobs === Seq(0, 0, 0))
    assert(sparkJobs.forall(_ > 0), sparkJobs)
    val fold = Seq("mig" -> LeveledIndex.migFor(1, 1L).toString)
    assert(dIdx.table.listPartitions() === Seq(fold))
    assert(multiset(dIdx.table.read()) === multiset(sIdx.table.read()))
    assert(dIdx.table.read().count() === 5)
    assert(multiset(dLog.read()) === multiset(sLog.read()))
    assert(markers(dir.resolve("driver")) === markers(dir.resolve("spark")))
    assert(markers(dir.resolve("driver")).keySet === Set("idx/" + fold.head.productIterator
      .mkString("="), "log"))
  }

  test("a driver-written run has the key order of sortWithinPartitions") {
    import graft.streaming.LeveledIndex
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("rows-order")
    val idx = LeveledIndex.create(spark, "order_idx", dir.resolve("idx").toString,
      StructType(Seq(StructField("k", StringType), StructField("v", LongType))), "k")
    val keys = Seq("b", null, "é", "a", "Z", null, "日本", "", "ä", "é", "😀", "aa")
    val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    assert(TestSpark.jobsDuring(spark)(idx.writeBatch(0L, df)).isEmpty)
    val files = Files.list(dir.resolve("idx/mig=0")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size === 1)
    val written = spark.read.parquet(files.head.toString).collect().map(_.getString(0)).toSeq
    val want = df.coalesce(1).sortWithinPartitions("k").collect().map(_.getString(0)).toSeq
    assert(written === want)
    assert(written.take(2) === Seq(null, null))
  }

  test("an empty landing publishes its partition, and its replay skips") {
    import graft.streaming.LeveledIndex
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("rows-empty")
    val idx = LeveledIndex.create(spark, "empty_idx", dir.resolve("idx").toString,
      StructType(Seq(StructField("k", LongType))), "k")
    val jobs = TestSpark.jobsDuring(spark)(
      idx.writeBatchIfAbsent(3L, Seq.empty[Long].toDF("k").coalesce(1)))
    assert(jobs.isEmpty, jobs)
    assert(idx.table.partitionExists(Seq("mig" -> "3")))
    idx.writeBatchIfAbsent(3L, Seq(1L, 2L).toDF("k"))
    assert(idx.read().count() === 0)
    // an empty unpartitioned append writes nothing and publishes nothing
    val log = ParquetTable(spark, "empty_log", dir.resolve("log").toString,
      StructType(Seq(StructField("k", LongType)))).createIfNotExists()
    val commits = scala.collection.mutable.Buffer.empty[String]
    graft.catalog.Commits.during(commits += _)(log.append(Seq.empty[Long].toDF("k")))
    assert(commits.isEmpty && log.dataFileCount === 0)
  }

  test("one sized rewrite: a compaction or one-file fold from the driver equals the " +
       "distributed one — rows per partition, markers, one key-sorted file") {
    import graft.streaming.LeveledIndex
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("rows-rewrite")
    val kv = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val rows = (0L until 60L).map(i => ((i * 37) % 60, s"v$i", if (i % 3 == 0) "a" else "b"))
      .toDF("k", "v", "d")
    /** Each data directory under `root` → its rows (a multiset) and
      * whether its one file is sorted on `k`. */
    def layout(root: Path): Map[String, (Map[Seq[Any], Int], Boolean)] =
      Files.walk(root).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(f => root.relativize(f.getParent).toString).map { case (d, fs) =>
          assert(fs.size === 1, s"$root/$d holds ${fs.size} files")
          val got = spark.read.parquet(fs.head.toString).collect().toSeq
          val ks = got.map(_.getLong(0))
          d -> (got.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size },
            ks == ks.sorted)
        }
    val cases = Seq[(String, Path => Unit)](
      "unpartitioned compact" -> { root =>
        val t = ParquetTable(spark, "cu", root.resolve("t").toString, kv)
        distributed(t.overwrite(rows.drop("d").repartition(4), Some(("app", 1L))))
        t.compact(Seq("k"))
      },
      "partitioned compact" -> { root =>
        val t = ParquetTable(spark, "cp", root.resolve("t").toString,
          kv.add(StructField("d", StringType)), Seq("d"))
        distributed {
          t.overwrite(rows.repartition(4), Some(("app", 1L)))
          t.overwritePartition(Seq("d" -> "a"),
            rows.filter(col("d") === "a").drop("d").repartition(3), Some(("app", 2L)))
        }
        t.compact(Seq("k"))
      },
      "one-file fold" -> { root =>
        val idx = LeveledIndex.create(spark, "cf", root.resolve("t").toString, kv, "k",
          every = 2)
        distributed {
          idx.writeBatch(0L, rows.filter(col("d") === "a").drop("d"))
          idx.writeBatch(1L, rows.filter(col("d") === "b").drop("d"))
        }
        assert(idx.maintain(1L))
      })
    cases.foreach { case (what, body) =>
      val (driver, spark1) = (dir.resolve(s"$what-driver"), dir.resolve(s"$what-spark"))
      body(driver)
      distributed(body(spark1))
      val got = layout(driver)
      assert(got.nonEmpty && got === layout(spark1), what)
      assert(got.values.forall(_._2), s"$what: a file is not sorted on k")
      assert(got.values.map(_._1.values.sum).sum === 60, what)
      assert(markers(driver) === markers(spark1), what)
    }
  }

  private def partitioned(dir: Path, n: String) = {
    import org.apache.spark.sql.types._
    ParquetTable(spark, n, dir.resolve(n).toString, StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("day", DateType), StructField("g", IntegerType))), Seq("day", "g"))
  }
  private val dayRows = Seq(
    Row(1L, "a", java.sql.Date.valueOf("2024-03-01"), 1),
    Row(2L, null, java.sql.Date.valueOf("2024-03-01"), 2),
    Row(3L, "c", java.sql.Date.valueOf("2024-03-02"), 1),
    Row(4L, "d", java.sql.Date.valueOf("2024-03-01"), 1),
    Row(5L, "e", java.sql.Date.valueOf("2024-03-02"), null))

  test("partitioned appendRows: one file and one commit per partition, read back as a Spark append") {
    val dir = Files.createTempDirectory("rows-part")
    val sparkT = partitioned(dir, "pspark")
    val driverT = partitioned(dir, "pdriver")
    sparkT.append(spark.createDataFrame(dayRows.asJava, sparkT.schema))
    val commits = scala.collection.mutable.Buffer.empty[String]
    val jobs = TestSpark.jobsDuring(spark)(
      graft.catalog.Commits.during(commits += _)(driverT.appendRows(dayRows)))
    assert(jobs.isEmpty, jobs)
    assert(multiset(driverT.read()) === multiset(sparkT.read()))
    assert(driverT.read().count() === dayRows.size)
    assert(driverT.listPartitions().toSet === sparkT.listPartitions().toSet)
    // a null partition value lands in Spark's default partition
    assert(commits.toSeq === Seq("day=2024-03-01/g=1", "day=2024-03-01/g=2",
      "day=2024-03-02/g=1", "day=2024-03-02/g=__HIVE_DEFAULT_PARTITION__").map("pdriver/" + _))
    assert(driverT.dataFileCount === 4)
    assert(!Files.exists(dir.resolve("pdriver/_pstage")))
  }

  test("partitioned appendRows: files a crash left staged are swept by the next entry point") {
    val dir = Files.createTempDirectory("rows-part-crash")
    val t = partitioned(dir, "pcrash")
    // the process dies right after the first partition's rename
    intercept[IllegalStateException] {
      graft.catalog.Commits.during(l => throw new IllegalStateException(s"crash after $l"))(
        t.appendRows(dayRows))
    }
    val staged = Files.walk(dir.resolve("pcrash/_pstage")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(staged === 3)
    val landed = t.read()
    assert(!Files.exists(dir.resolve("pcrash/_pstage")))
    assert(landed.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 4L))
    assert(t.dataFileCount === 1)
  }
}

object CatalogRowsSpec {
  final case class Rec(id: Long, n: Int, opt: Option[Int], s: String,
                       os: Option[String], ts: Timestamp)
}
