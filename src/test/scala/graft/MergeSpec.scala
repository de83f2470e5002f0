package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Merge, ParquetTable}

/** MERGE kernel semantics (SURVEY §2.4 A7): every clause family the
  * reference's five Delta MERGEs use, plus the ParquetTable DML surface
  * (UPDATE / DELETE / TRUNCATE / append / atomic swap). */
class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def target = Seq(
    (1, "a", 10.0, 1), (2, "b", 20.0, 1), (3, "c", 30.0, 1))
    .toDF("id", "name", "bal", "IsCurrent")
  private def staging = Seq(
    (2, "b2", 200.0), (4, "d", 40.0))
    .toDF("id", "name", "bal")

  test("merge: matched updates, not-matched inserts, not-matched-by-source retires") {
    val out = Merge.merge(target, staging, Seq("id"),
      whenMatchedUpdate = Map("bal" -> Merge.src("bal"), "IsCurrent" -> lit(1)),
      insertDefaults = Map("IsCurrent" -> lit(1)),
      whenNotMatchedBySourceSet = Map("IsCurrent" -> lit(0)))
      .orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (1, "a", 10.0, 0),    // not matched by source → retired
      (2, "b", 200.0, 1),   // matched → bal updated, name kept
      (3, "c", 30.0, 0),    // retired
      (4, "d", 40.0, 1)))   // inserted from source
  }

  test("merge without insert clause drops source-only rows") {
    val out = Merge.merge(target, staging, Seq("id"),
      whenMatchedUpdate = Map("bal" -> Merge.src("bal")),
      whenNotMatchedInsert = false)
    assert(out.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("insert-only merge keeps target rows verbatim and adds new keys") {
    val seed = Seq((0, "Not Started"), (1, "Completed")).toDF("id", "desc")
    val src = Seq((1, "clash"), (5, "New")).toDF("id", "desc")
    val out = Merge.insertWhenNotMatched(seed, src, Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((0, "Not Started"), (1, "Completed"), (5, "New")))
  }

  test("NULL-keyed source rows insert; NULL-keyed target rows never match them (Delta semantics)") {
    val t = Seq((Some(1), "a"), (None, "tnull")).toDF("id", "name")
    val s = Seq((Some(1), "a2"), (None, "snull")).toDF("id", "name")
    val out = Merge.merge(t, s, Seq("id"),
      whenMatchedUpdate = Map("name" -> Merge.src("name")),
      whenNotMatchedBySourceSet = Map("name" -> lit("retired")))
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(out == Set(
      (Some(1), "a2"),      // matched → updated
      (None, "retired"),    // NULL-key target: NOT matched by source
      (None, "snull")))     // NULL-key source: inserted, not an update
  }

  test("duplicate source keys fail loudly when requireUniqueSourceKeys is set") {
    val dupSource = Seq((2, "x", 1.0), (2, "y", 2.0)).toDF("id", "name", "bal")
    val guarded = Merge.merge(target, dupSource, Seq("id"),
      whenMatchedUpdate = Map("bal" -> Merge.src("bal")),
      requireUniqueSourceKeys = true)
    val ex = intercept[Exception] { guarded.collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("duplicate source rows")), ex)
    // and without the flag the historical fan-out behavior is unchanged
    assert(Merge.merge(target, dupSource, Seq("id"),
      whenMatchedUpdate = Map("bal" -> Merge.src("bal"))).count() == 4)
    // duplicate keys that match NO target row insert like Delta, no error
    val insertOnlyDups = Seq((99, "x", 1.0), (99, "y", 2.0)).toDF("id", "name", "bal")
    assert(Merge.merge(target, insertOnlyDups, Seq("id"),
      whenMatchedUpdate = Map("bal" -> Merge.src("bal")),
      requireUniqueSourceKeys = true).filter(col("id") === 99).count() == 2)
  }

  test("upsertOnly equals full merge minus the by-source clause") {
    val a = Merge.upsertOnly(target, staging, Seq("id"),
      whenMatchedUpdate = Map("bal" -> Merge.src("bal")))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getDouble(2)))
    assert(a.toSeq == Seq((1, 10.0), (2, 200.0), (3, 30.0), (4, 40.0)))
  }

  test("seeded randomized merge equivalence vs a plain-Scala reference model") {
    // 25 random scenarios: key spaces overlap partially, clause config
    // varies, and the reference model applies Delta MERGE semantics
    // row by row. Any divergence in the join rewrite (matched /
    // source-only / target-only routing, clause application order)
    // surfaces as a set mismatch with the seed in the failure message.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val tKeys = (0 until 8).filter(_ => rnd.nextBoolean())
      val sKeys = (0 until 8).filter(_ => rnd.nextBoolean())
      val insert = rnd.nextBoolean()
      val retire = rnd.nextBoolean()
      val tgt = tKeys.map(k => (k, s"t$k", 1))
      val srcRows = sKeys.map(k => (k, s"s$k", 1))
      val out = Merge.merge(
        tgt.toDF("id", "name", "flag"),
        srcRows.toDF("id", "name", "flag"),
        Seq("id"),
        whenMatchedUpdate = Map("name" -> Merge.src("name")),
        whenNotMatchedInsert = insert,
        whenNotMatchedBySourceSet =
          if (retire) Map("flag" -> lit(0)) else Map.empty)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
      val sSet = sKeys.toSet
      val expected =
        tKeys.map { k =>
          if (sSet.contains(k)) (k, s"s$k", 1)                  // matched
          else (k, s"t$k", if (retire) 0 else 1)                // by-source
        }.toSet ++
          (if (insert) sKeys.filterNot(tKeys.contains)
            .map(k => (k, s"s$k", 1)).toSet
          else Set.empty)
      assert(out === expected,
        s"trial $trial: tKeys=$tKeys sKeys=$sKeys insert=$insert retire=$retire")
    }
  }

  test("ParquetTable: update / deleteWhere / truncate / append round-trip") {
    val dir = Files.createTempDirectory("pt-spec").toString
    val pt = ParquetTable(spark, "t", s"$dir/t", target.schema)
    pt.overwrite(target)
    pt.update(col("id") === 2, Map("bal" -> lit(99.0)))
    assert(pt.read().filter(col("id") === 2).select("bal").as[Double].head() == 99.0)
    pt.deleteWhere(col("id") === 1)
    assert(pt.read().count() == 2)
    pt.append(staging.withColumn("IsCurrent", lit(1)))
    assert(pt.read().count() == 4)
    pt.truncate()
    assert(pt.read().count() == 0)
    // createIfNotExists is a no-op on an existing (even empty) table
    pt.createIfNotExists()
    assert(pt.read().schema.fieldNames.toSeq == target.schema.fieldNames.toSeq)
  }

  test("ParquetTable.compact keeps contents, reduces files, sorts by z-cols") {
    val dir = Files.createTempDirectory("pt-z").toString
    val pt = ParquetTable(spark, "z", s"$dir/z", target.schema)
    pt.overwrite(target.repartition(8))
    pt.compact(zorderCols = Seq("bal"))
    assert(pt.read().count() == 3)
    assert(pt.read().agg(round(sum(col("bal")), 2)).as[Double].head() == 60.0)
  }

  test("ParquetTable: interrupted swap recovers the pre-swap contents") {
    // the same swap protocol behind the DataFrame overwrite and the
    // driver-side overwriteRows
    val swaps = Seq[(String, ParquetTable => Unit)](
      "overwrite" -> (_.overwrite(target)),
      "overwriteRows" -> (_.overwriteRows(target.collect().toSeq)))
    swaps.foreach { case (how, fill) =>
      val dir = Files.createTempDirectory("pt-crash")
      val pt = ParquetTable(spark, "cr", s"$dir/cr", target.schema)
      fill(pt)
      // simulate a crash BETWEEN the two swap renames: the live dir has
      // been set aside, the stage was never published
      Files.move(dir.resolve("cr"), dir.resolve("cr.__old"))
      Files.createDirectories(dir.resolve("cr.__stage"))
      assert(pt.read().count() === 3, how) // recover() rolled the swap back
      assert(Files.exists(dir.resolve("cr")) && !Files.exists(dir.resolve("cr.__old")), how)
      // and the table stays fully functional after recovery
      pt.deleteWhere(col("id") === 1)
      assert(pt.read().count() === 2, how)
      pt.overwriteRows(pt.readRows().filter(_.getInt(0) != 2))
      assert(pt.read().select("id").as[Int].collect().toSeq === Seq(3), how)
    }
  }

  test("appendRows: an orphaned .tmp- file is invisible to read() and recover() sweeps it") {
    val dir = Files.createTempDirectory("pt-tmp")
    val pt = ParquetTable(spark, "tm", s"$dir/tm", target.schema)
    pt.overwrite(target)
    pt.appendRows(Seq(Row(4, "d", 40.0, 1)))
    // an append interrupted before its rename: a complete file still
    // under its temp name (a copy of a real data file, so a reader that
    // listed it would count its rows)
    import scala.jdk.CollectionConverters._
    val data = Files.list(dir.resolve("tm")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val orphan = dir.resolve("tm/.tmp-" + data.getFileName)
    Files.copy(data, orphan)
    assert(spark.read.schema(target.schema).parquet(s"$dir/tm").count() === 4)
    assert(pt.read().count() === 4)
    assert(!Files.exists(orphan), "recover() left the orphaned temp file")
    assert(pt.readRows().size === 4)
  }

  test("partitioned ParquetTable: interrupted partition swap recovers") {
    val dir = Files.createTempDirectory("pt-pcrash")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.StringType)))
    val pt = ParquetTable(spark, "crp", s"$dir/crp", schema,
      partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "d"))
    // crash between the partition renames: d=a parked under _pold,
    // live partition dir gone
    Files.createDirectories(dir.resolve("crp/_pold"))
    Files.move(dir.resolve("crp/d=a"), dir.resolve("crp/_pold/d=a"))
    assert(pt.read().count() === 3) // partition recovery restored d=a
    assert(Files.exists(dir.resolve("crp/d=a")))
    assert(!Files.exists(dir.resolve("crp/_pold/d=a")))
  }

  test("partitioned ParquetTable: partition-scoped update touches one day only") {
    val dir = Files.createTempDirectory("pt-pupd")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.StringType)))
    val pt = ParquetTable(spark, "pu", s"$dir/pu", schema,
      partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"))
      .toDF("k", "v", "d"))
    import scala.jdk.CollectionConverters._
    def bFiles() = Files.walk(dir.resolve("pu/d=b")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    val before = bFiles()
    pt.updateInPartition(Seq("d" -> "a"), col("k") === 2L,
      Map("v" -> lit(99.0)))
    assert(bFiles() === before) // d=b files untouched
    val got = pt.read().orderBy("k").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.toSeq === Seq(1L -> 1.0, 2L -> 99.0, 3L -> 3.0))
  }

  test("compactPartition rewrites one partition's files; others untouched") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("pt-pcomp")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.StringType)))
    val pt = ParquetTable(spark, "pc", s"$dir/pc", schema,
      partitionCols = Seq("d"))
    pt.overwrite(spark.range(100)
      .select(col("id").as("k"),
        when(col("id") % 2 === 0, "a").otherwise("b").as("d"))
      .repartition(4))
    def files(p: String) = Files.walk(dir.resolve(s"pc/d=$p")).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(f => f.toString -> Files.getLastModifiedTime(f)).toMap
    assert(files("a").size > 1) // fragmented by the 4-way write
    val bBefore = files("b")
    pt.compactPartition(Seq("d" -> "a"), zorderCols = Seq("k"))
    assert(files("a").size === 1)   // compacted
    assert(files("b") === bBefore)  // never opened
    assert(pt.read().count() === 100)
    // z-clustered within the compacted partition
    val ks = pt.read().filter(col("d") === "a").select("k")
      .as[Long].collect().toSeq
    assert(ks == ks.sorted)
  }

  test("ParquetTable: txn markers survive markerless rewrites") {
    val dir = Files.createTempDirectory("pt-txn")
    val pt = ParquetTable(spark, "tx", s"$dir/tx", target.schema)
    pt.overwrite(target)
    pt.upsert(staging.withColumn("IsCurrent", lit(1)), Seq("id"),
      Map("bal" -> graft.catalog.Merge.src("bal")), txn = Some("app" -> 5L))
    assert(pt.lastTxn("app") === Some(5L))
    // a compaction (or any markerless overwrite) between stream batches
    // must not reset the stream's dedup state
    pt.compact()
    assert(pt.lastTxn("app") === Some(5L))
    pt.update(col("id") === 2, Map("bal" -> lit(0.0)))
    assert(pt.lastTxn("app") === Some(5L))
    // the driver-side swap carries markers the same way
    val rows = pt.readRows()
    pt.overwriteRows(rows.reverse)
    assert(pt.lastTxn("app") === Some(5L) && pt.read().count() === rows.size)
    pt.overwriteRows(Nil)
    assert(pt.lastTxn("app") === Some(5L) && pt.read().count() === 0)
  }

  test("ParquetTable.compact sizes its output from the table bytes") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("pt-csize")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val pt = ParquetTable(spark, "csize", s"$dir/csize", schema)
    pt.overwrite(spark.range(20000).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    def files() = Files.walk(dir.resolve("csize")).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
    val bytes = pt.tableBytes
    assert(bytes > 0L)
    // a target file size of ~1/4 the table must yield 4 output files —
    // the partition count scales with the data instead of collapsing a
    // large table into one single-task file
    pt.compact(zorderCols = Seq("k"), targetFileBytes = bytes / 4 + 1)
    assert(files() === 4, s"bytes=$bytes")
    assert(pt.read().count() === 20000)
    // and a table far below the default 128 MB compacts to one file
    pt.compact(zorderCols = Seq("k"))
    assert(files() === 1)
  }

  private def dayShape = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("d",
      org.apache.spark.sql.types.StringType)))

  private def dayFiles(dir: java.nio.file.Path, p: String) = {
    import scala.jdk.CollectionConverters._
    Files.walk(dir.resolve(p)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.getLastModifiedTime(f)).toMap
  }

  test("compactPartition: pure compaction no-ops when compact; zorder always rewrites") {
    val dir = Files.createTempDirectory("pt-noopc")
    val pt = ParquetTable(spark, "nc", s"$dir/nc", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "a")).toDF("k", "v", "d").coalesce(1))
    val before = dayFiles(dir, "nc/d=a")
    assert(before.keys.count(_.endsWith(".parquet")) === 1)
    // one well-sized file <= the derived target count: rewriting it per
    // load would make the post-load OPTIMIZE pure overhead
    pt.compactPartition(Seq("d" -> "a"))
    assert(dayFiles(dir, "nc/d=a") === before, "already-compact partition was rewritten")
    // an explicit ZORDER request is about row clustering, not file
    // count — it must rewrite even a single-file partition
    pt.compactPartition(Seq("d" -> "a"), zorderCols = Seq("k"))
    assert(dayFiles(dir, "nc/d=a") !== before, "requested zorder was silently skipped")
    assert(pt.read().count() === 2)
  }

  test("generic deleteWhere with a pure partition pin is an O(1) directory drop") {
    val dir = Files.createTempDirectory("pt-route1")
    val pt = ParquetTable(spark, "r1", s"$dir/r1", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "d"))
    val bBefore = dayFiles(dir, "r1/d=b")
    // the reference's `DELETE ... WHERE InsertDate = CURRENT_DATE()` shape:
    // a generic predicate the engine must prune, not the caller
    pt.deleteWhere(col("d") === "a")
    assert(!Files.exists(dir.resolve("r1/d=a")))
    assert(dayFiles(dir, "r1/d=b") === bBefore) // untouched, not rewritten
    assert(pt.read().select("k").as[Long].collect().toSeq === Seq(3L))
  }

  test("SQL-text predicates (the reference's DML style) route like the builder form") {
    val dir = Files.createTempDirectory("pt-route-sql")
    val pt = ParquetTable(spark, "rs", s"$dir/rs", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c")).toDF("k", "v", "d"))
    val bBefore = dayFiles(dir, "rs/d=b")
    // the reference issues DELETE ... WHERE InsertDate = '...' as SQL
    // text; expr() predicates must prune identically
    pt.deleteWhere(expr("d = 'a'"))
    assert(!Files.exists(dir.resolve("rs/d=a")))
    assert(dayFiles(dir, "rs/d=b") === bBefore)
    pt.deleteWhere(expr("d IN ('c', 'zzz')"))
    assert(!Files.exists(dir.resolve("rs/d=c")))
    assert(dayFiles(dir, "rs/d=b") === bBefore)
    assert(pt.read().select("k").as[Long].collect().toSeq === Seq(2L))
  }

  test("foldable pin values (CAST/DATE literals) route on a date-partitioned table") {
    val dir = Files.createTempDirectory("pt-route-fold")
    val shape = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DateType)))
    val pt = ParquetTable(spark, "rf", s"$dir/rf", shape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"))
      .toDF("k", "d").select(col("k"), col("d").cast("date").as("d")))
    val keepBefore = dayFiles(dir, "rf/d=2024-01-03")
    // the reference's CURRENT_DATE() shape: a deterministic foldable
    // value the classifier must constant-fold before routing
    pt.deleteWhere(expr("d = CAST('2024-01-01' AS DATE)"))
    assert(!Files.exists(dir.resolve("rf/d=2024-01-01")))
    assert(dayFiles(dir, "rf/d=2024-01-03") === keepBefore)
    pt.deleteWhere(col("d") === to_date(lit("2024-01-02")))
    assert(!Files.exists(dir.resolve("rf/d=2024-01-02")))
    assert(dayFiles(dir, "rf/d=2024-01-03") === keepBefore) // never rewritten
    assert(pt.read().select("k").as[Long].collect().toSeq === Seq(3L))
  }

  test("generic deleteWhere with a partition IN-list (and its OR spelling) drops directories") {
    val dir = Files.createTempDirectory("pt-route-in")
    val pt = ParquetTable(spark, "ri", s"$dir/ri", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c"), (4L, 4.0, "e"))
      .toDF("k", "v", "d"))
    val eBefore = dayFiles(dir, "ri/d=e")
    // Delta prunes the IN form of the compensating delete; so must we
    pt.deleteWhere(col("d").isin("a", "c"))
    assert(!Files.exists(dir.resolve("ri/d=a")) && !Files.exists(dir.resolve("ri/d=c")))
    assert(dayFiles(dir, "ri/d=e") === eBefore) // untouched, not rewritten
    // OR-of-equalities on one column is the same membership
    pt.deleteWhere(col("d") === "b" || col("d") === "zzz")
    assert(!Files.exists(dir.resolve("ri/d=b")))
    assert(dayFiles(dir, "ri/d=e") === eBefore)
    assert(pt.read().select("k").as[Long].collect().toSeq === Seq(4L))
    // mixed OR (different columns) must NOT route — full-rewrite semantics
    pt.deleteWhere(col("d") === "e" || col("k") === 99L)
    assert(pt.read().count() === 0)
  }

  test("generic deleteWhere pinning the partition plus a residual rewrites that partition only") {
    val dir = Files.createTempDirectory("pt-route2")
    val pt = ParquetTable(spark, "r2", s"$dir/r2", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "d"))
    val bBefore = dayFiles(dir, "r2/d=b")
    pt.deleteWhere(col("d") === "a" && col("k") === 1L)
    assert(dayFiles(dir, "r2/d=b") === bBefore)
    assert(pt.read().select("k").as[Long].collect().toSet === Set(2L, 3L))
  }

  test("generic update with a partition-pinned predicate touches one partition only") {
    val dir = Files.createTempDirectory("pt-route3")
    val pt = ParquetTable(spark, "r3", s"$dir/r3", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "d"))
    val bBefore = dayFiles(dir, "r3/d=b")
    pt.update(col("d") === "a" && col("k") === 2L, Map("v" -> lit(99.0)))
    assert(dayFiles(dir, "r3/d=b") === bBefore)
    val got = pt.read().orderBy("k").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.toSeq === Seq(1L -> 1.0, 2L -> 99.0, 3L -> 3.0))
    // a set that rewrites the partition column cannot route — and must
    // still be correct (rows migrate between partition directories)
    pt.update(col("d") === "a" && col("k") === 1L, Map("d" -> lit("b")))
    assert(pt.read().filter(col("d") === "b").select("k").as[Long]
      .collect().toSet === Set(1L, 3L))
  }

  test("generic update with a partition IN-list touches only the listed partitions") {
    val dir = Files.createTempDirectory("pt-route-uin")
    val pt = ParquetTable(spark, "ru", s"$dir/ru", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c")).toDF("k", "v", "d"))
    val bBefore = dayFiles(dir, "ru/d=b")
    pt.update(col("d").isin("a", "c"), Map("v" -> lit(9.0)))
    assert(dayFiles(dir, "ru/d=b") === bBefore) // untouched
    val got = pt.read().orderBy("k").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.toSeq === Seq(1L -> 9.0, 2L -> 2.0, 3L -> 9.0))
  }

  test("unroutable predicates fall back to the full rewrite with identical semantics") {
    val dir = Files.createTempDirectory("pt-route4")
    val pt = ParquetTable(spark, "r4", s"$dir/r4", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "d"))
    // OR across partitions: not a conjunctive pin
    pt.deleteWhere(col("d") === "a" || col("k") === 3L)
    assert(pt.read().count() === 0)
  }

  test("recover() sweeps stale _pstage garbage from interrupted partition ops") {
    val dir = Files.createTempDirectory("pt-sweep")
    val pt = ParquetTable(spark, "sw", s"$dir/sw", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "d"))
    // simulate a crash between deletePartitions' trash-rename and the
    // delete, plus a half-written stage from an interrupted overwrite
    Files.createDirectories(dir.resolve("sw/_pstage/trash/d=x"))
    Files.write(dir.resolve("sw/_pstage/trash/d=x/orphan.parquet"), Array[Byte](1))
    Files.createDirectories(dir.resolve("sw/_pstage/d=y"))
    Files.write(dir.resolve("sw/_pstage/d=y/partial.parquet"), Array[Byte](2))
    val bytesWithGarbage = 3L // the two orphan bytes must never count
    assert(pt.read().count() === 2) // any entry point triggers recover()
    assert(!Files.exists(dir.resolve("sw/_pstage")), "stage garbage not swept")
    // and tableBytes reflects data files only (sidecars excluded)
    assert(pt.tableBytes > bytesWithGarbage)
    pt.deletePartitions(Seq("d" -> "a"))
    assert(!Files.exists(dir.resolve("sw/_pstage")))
    assert(pt.read().count() === 1)
  }

  test("legacy flat layout fails fast; migrateToHiveLayout repairs it once") {
    val dir = Files.createTempDirectory("pt-legacy")
    // a previous build wrote the same table unpartitioned: flat files at root
    val legacy = ParquetTable(spark, "lg", s"$dir/lg", dayShape)
    legacy.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "d"))
    val pt = ParquetTable(spark, "lg", s"$dir/lg", dayShape, partitionCols = Seq("d"))
    // every entry point must refuse: a silent no-op delete or a mixed
    // flat+hive append would corrupt the table
    val e = intercept[IllegalStateException](pt.read())
    assert(e.getMessage.contains("migrateToHiveLayout"))
    intercept[IllegalStateException](pt.deletePartitions(Seq("d" -> "a")))
    pt.migrateToHiveLayout()
    assert(Files.exists(dir.resolve("lg/d=a")) && Files.exists(dir.resolve("lg/d=b")))
    assert(pt.read().count() === 3)
    pt.deletePartitions(Seq("d" -> "a")) // the daily delete prunes again
    assert(pt.read().select("k").as[Long].collect().toSeq === Seq(3L))
  }

  test("recover() sweeps a superseded .__old copy left by an interrupted swap") {
    val dir = Files.createTempDirectory("pt-oldsweep")
    val pt = ParquetTable(spark, "os", s"$dir/os", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a")).toDF("k", "v", "d"))
    // simulate a crash after the final rename but before the reclaim:
    // dest is live, a full stale copy sits at .__old
    val old = dir.resolve("os.__old")
    Files.createDirectories(old.resolve("d=zzz"))
    Files.write(old.resolve("d=zzz/stale.parquet"), Array[Byte](1, 2, 3))
    // a partition-scoped op (the 100 TB access pattern) must reclaim it
    pt.deletePartitions(Seq("d" -> "none"))
    assert(!Files.exists(old), "superseded .__old copy never reclaimed")
    assert(pt.read().count() === 1)
  }

  test("upsertInPartitions accepts case-mismatched key/partition spellings") {
    // Spark resolves columns case-insensitively; the partition-key
    // filter must too, or a key spelled "D" against partition column
    // "d" merges on a dropped column and crashes every batch
    val dir = Files.createTempDirectory("pt-casekeys")
    val pt = ParquetTable(spark, "ck", s"$dir/ck", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a")).toDF("k", "v", "d"))
    pt.upsertInPartitions(Seq((1L, 9.0, "a"), (2L, 2.0, "a")).toDF("k", "v", "d"),
      keys = Seq("K", "D"), Map("v" -> Merge.src("v")))
    val got = pt.read().orderBy("k").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.toSeq === Seq(1L -> 9.0, 2L -> 2.0))
  }

  test("migrateToHiveLayout self-heals a crash between its two renames") {
    val dir = Files.createTempDirectory("pt-legacy-crash")
    val legacy = ParquetTable(spark, "lc", s"$dir/lc", dayShape)
    legacy.overwrite(Seq((1L, 1.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "d"))
    // simulate the crash: dest parked at .__old, nothing at dest —
    // exactly the state after migrate's first rename
    Files.move(dir.resolve("lc"), dir.resolve("lc.__old"))
    val pt = ParquetTable(spark, "lc", s"$dir/lc", dayShape, partitionCols = Seq("d"))
    pt.migrateToHiveLayout() // must roll back, then migrate — not no-op
    assert(Files.exists(dir.resolve("lc/d=a")) && Files.exists(dir.resolve("lc/d=b")))
    assert(pt.read().count() === 2)
  }

  test("upsertInPartitions validates every partition spec before the first swap") {
    val dir = Files.createTempDirectory("pt-val")
    val pt = ParquetTable(spark, "vd", s"$dir/vd", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a")).toDF("k", "v", "d"))
    // a null partition value anywhere in the source fails the whole call
    // cleanly — no partition may have been swapped yet
    val bad = Seq((1L, 9.0, "a"), (2L, 2.0, null.asInstanceOf[String]))
      .toDF("k", "v", "d")
    intercept[IllegalArgumentException] {
      pt.upsertInPartitions(bad, Seq("k"), Map("v" -> Merge.src("v")))
    }
    val got = pt.read().collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.toSeq === Seq(1L -> 1.0), "partition swapped before validation")
  }

  test("per-partition txn markers make additive partitioned merges exactly-once") {
    val dir = Files.createTempDirectory("pt-ptxn")
    val pt = ParquetTable(spark, "px", s"$dir/px", dayShape, partitionCols = Seq("d"))
    pt.overwrite(Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("k", "v", "d"))
    val additive = Map("v" -> (Merge.tgt("v") + Merge.src("v")))
    val batch = Seq((1L, 10.0, "a"), (2L, 10.0, "b")).toDF("k", "v", "d")
    pt.upsertInPartitions(batch, Seq("k"), additive, txn = Some("app" -> 0L))
    def state() = pt.read().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state() === Map(1L -> 11.0, 2L -> 12.0))
    assert(pt.lastTxnInPartition(Seq("d" -> "a"), "app") === Some(0L))
    // full redelivery of the same batch: every partition carries the
    // marker, nothing re-applies (the non-idempotent update would show)
    pt.upsertInPartitions(batch, Seq("k"), additive, txn = Some("app" -> 0L))
    assert(state() === Map(1L -> 11.0, 2L -> 12.0))
    // partial-crash redelivery: batch 1 landed in d=a but "crashed"
    // before d=b — simulated by a batch-1 marker present only in d=a;
    // the redelivered batch must skip d=a and apply d=b
    val batch1 = Seq((1L, 100.0, "a"), (2L, 100.0, "b")).toDF("k", "v", "d")
    pt.upsertInPartitions(batch1.filter(col("d") === "a"), Seq("k"), additive,
      txn = Some("app" -> 1L))
    assert(state() === Map(1L -> 111.0, 2L -> 12.0))
    pt.upsertInPartitions(batch1, Seq("k"), additive, txn = Some("app" -> 1L))
    assert(state() === Map(1L -> 111.0, 2L -> 112.0))
    // markers survive a markerless partition rewrite between batches
    // (compaction/update must not reset the stream's dedup state)
    pt.updateInPartition(Seq("d" -> "a"), col("k") === 1L, Map("v" -> lit(111.0)))
    assert(pt.lastTxnInPartition(Seq("d" -> "a"), "app") === Some(1L))
  }
}
