package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{MetaStore, ParquetTable}

/** The driver-side catalog path: `ParquetTable.appendRows` /
  * `overwriteRows` / `readRows` are equivalent to the Spark-job writes
  * and reads they replace, and `MetaStore`'s control state machine
  * keeps its contract when applied on the driver. */
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
  private def sorted(rows: Seq[Row]) = rows.sortBy(_.getLong(0))
  private def asRows(recs: Seq[Rec]) = recs.map(r =>
    Row(r.id, r.n, r.opt.orNull, r.s, r.os.orNull, r.ts))

  test("driver-written rows read back through read() equal a Spark-job write") {
    val dir = Files.createTempDirectory("rows-eq")
    val spark1 = table(dir, "spark")
    val driver = table(dir, "driver")
    // both tables already hold a Spark-written file
    Seq(spark1, driver).foreach(_.append(first.toDF()))
    spark1.append(second.toDF())
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
    sparkT.append(second.toDF().coalesce(1))
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
}

object CatalogRowsSpec {
  final case class Rec(id: Long, n: Int, opt: Option[Int], s: String,
                       os: Option[String], ts: Timestamp)
}
