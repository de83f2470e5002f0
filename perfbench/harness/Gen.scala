package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.model.FeedConfig.{ColumnSpec, Feed, JobSpec}

/** Seeded input generation. Everything the program reads is made here
  * from the workload seed: the same seed writes the same files.
  * Each stream of random numbers is keyed by (seed, purpose), so adding
  * a table or a feed does not shift the values of the others. */
object Gen {

  def rng(seed: Long, purpose: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong)

  /** The 30-word vocabulary of the repo's synthetic `documents` table. */
  val Vocab: Array[String] = ("join hash row batch scan column customer filter small " +
    "slow merge order vector line table data agg value key stream window a spark " +
    "part group big sort query fast the").split(' ')

  def words(r: java.util.SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Writes `rows` as the single parquet file `file`. */
  def writeParquetFile(spark: SparkSession, file: Path, schema: StructType, rows: Seq[Row]): Long = {
    val stage = file.resolveSibling("_stage_" + file.getFileName)
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $stage"))
    Files.move(part, file)
    graft.ingest.FileOps.deleteRecursively(stage)
    Files.size(file)
  }

  // ---------------------------------------------------------- ingest day

  /** One feed's day: its config (whose `SourceFilePath` holds the landed
    * files), what was landed, and what its gates check: the PII target
    * columns and the extra field one file carries with how many rows. */
  final case class FeedInput(feed: Feed, files: Int, rows: Long, bytes: Long,
                             piiColumns: Seq[String], driftColumn: Option[String],
                             driftRows: Long = 0L)

  final case class Day(feeds: Seq[FeedInput]) {
    def rows: Long = feeds.map(_.rows).sum
    def bytes: Long = feeds.map(_.bytes).sum
  }

  final case class DayShape(smallFiles: Int, smallRows: Int, bulkFiles: Int, bulkRows: Int)

  private val BaseMtime = 1709280000000L // 2024-03-01T08:00:00Z

  private def land(dir: Path, name: String, body: String, i: Int): Long = {
    val p = dir.resolve(name)
    Files.writeString(p, body)
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(BaseMtime + i * 1000L))
    Files.size(p)
  }

  private def feedConfig(id: Int, src: Path, fmt: String, header: Int, table: String,
                         cols: Seq[ColumnSpec], pii: Boolean = false,
                         continuous: Boolean = false): Feed =
    Feed(HeaderID = id, SourceContainer = "landing", SourceFilePath = src.toString,
      SourceFileFormat = fmt, SourceFileHeader = header,
      SourceFileDelimiter = if (fmt == "csv") "," else "",
      TargetTableSchema = "bronze", TargetTableName = table,
      IsPII = if (pii) 1 else 0, PIISchema = if (pii) "bronze_pii" else "",
      PIITableName = if (pii) s"${table}_pii" else "",
      BatchFileCount = 1, ContinuousRunFlag = if (continuous) 1 else 0,
      JobConfig = JobSpec(WarningDuration = 600), Columns = cols)

  /** The day's landing files for four feeds shaped like the reference's
    * configs: a CSV feed with PII columns, a JSON-lines feed whose
    * mid-day file carries one extra field, a parquet feed (all three
    * one file per trigger), and a bulk CSV feed landed 100 files per
    * trigger. */
  def day(spark: SparkSession, root: Path, seed: Long, shape: DayShape): Day = {
    val r = rng(seed, "day")
    def dirFor(n: String) = Files.createDirectories(root.resolve(n))

    val firsts = Array("ann", "bob", "cai", "dee", "eli", "fay", "gus", "hal", "ivy", "joe")
    val lasts = Array("li", "ng", "ortiz", "park", "quinn", "ruiz", "shah", "tran")
    val cities = Array("lisbon", "oslo", "lima", "pune", "kyiv", "quito", "perth")
    val crmDir = dirFor("crm_contacts")
    var crmRows = 0L
    val crmBytes = (0 until shape.smallFiles).map { fi =>
      val sb = new StringBuilder("contact_id,first_name,last_name,email,city,score,joined\n")
      (0 until shape.smallRows).foreach { j =>
        val id = fi * shape.smallRows + j
        val fn = firsts(r.nextInt(firsts.length))
        val ln = lasts(r.nextInt(lasts.length))
        sb.append(s"$id,$fn,$ln,$fn.$ln$id@example.com,${cities(r.nextInt(cities.length))}," +
          s"${r.nextInt(10000) / 100.0},2023-${"%02d".format(1 + r.nextInt(12))}-" +
          s"${"%02d".format(1 + r.nextInt(28))}\n")
        crmRows += 1
      }
      land(crmDir, f"crm_$fi%03d.csv", sb.toString, fi)
    }.sum
    val crm = FeedInput(feedConfig(101, crmDir, "csv", 1, "crm_contacts", Seq(
      ColumnSpec("contact_id", "contact_id", "int", 1, ZOrder = 1),
      ColumnSpec("first_name", "first_name", "string", 2, IsPII = 1),
      ColumnSpec("last_name", "last_name", "string", 3, IsPII = 1),
      ColumnSpec("email", "email_address", "string", 4, IsPII = 1),
      ColumnSpec("city", "city", "string", 5),
      ColumnSpec("score", "score", "double", 6),
      ColumnSpec("joined", "joined_on", "date", 7)), pii = true),
      shape.smallFiles, crmRows, crmBytes, Seq("first_name", "last_name", "email_address"), None)

    val evDir = dirFor("web_events")
    val driftAt = shape.smallFiles / 2
    val kinds = Array("view", "click", "cart", "purchase")
    var evRows = 0L
    val evBytes = (0 until shape.smallFiles).map { fi =>
      val sb = new StringBuilder
      (0 until shape.smallRows).foreach { j =>
        val id = fi.toLong * shape.smallRows + j
        sb.append(s"""{"event_id":$id,"user_id":${r.nextInt(5000)},""" +
          s""""event_type":"${kinds(r.nextInt(kinds.length))}","amount":${r.nextInt(100000) / 100.0},""" +
          s""""ts":"2024-03-01T${"%02d".format(r.nextInt(24))}:${"%02d".format(r.nextInt(60))}:00"""" +
          (if (fi == driftAt) s""","campaign":"c${r.nextInt(9)}"""" else "") + "}\n")
        evRows += 1
      }
      land(evDir, f"events_$fi%03d.json", sb.toString, fi)
    }.sum
    val events = FeedInput(feedConfig(102, evDir, "json", 0, "web_events", Seq(
      ColumnSpec("event_id", "event_id", "bigint", 1),
      ColumnSpec("user_id", "user_id", "bigint", 2, ZOrder = 1),
      ColumnSpec("event_type", "event_type", "string", 3),
      ColumnSpec("amount", "amount", "double", 4),
      ColumnSpec("ts", "event_ts", "timestamp", 5))),
      shape.smallFiles, evRows, evBytes, Nil, Some("campaign"), shape.smallRows.toLong)

    val invDir = dirFor("inventory")
    val invSchema = StructType(Seq(f("sku", LongType), f("warehouse", StringType),
      f("qty", IntegerType), f("price", DoubleType)))
    val stage = Files.createDirectories(root.resolve("_inv_stage"))
    var invRows = 0L
    val invBytes = (0 until shape.smallFiles).map { fi =>
      val rows = (0 until shape.smallRows).map { j =>
        invRows += 1
        Row((fi * shape.smallRows + j).toLong, s"wh${r.nextInt(12)}", r.nextInt(500),
          r.nextInt(99999) / 100.0)
      }
      val file = invDir.resolve(f"inv_$fi%03d.parquet")
      val n = writeParquetFile(spark, stage.resolve(file.getFileName), invSchema, rows)
      Files.move(stage.resolve(file.getFileName), file)
      Files.setLastModifiedTime(file,
        java.nio.file.attribute.FileTime.fromMillis(BaseMtime + fi * 1000L))
      n
    }.sum
    graft.ingest.FileOps.deleteRecursively(stage)
    val inv = FeedInput(feedConfig(103, invDir, "parquet", 0, "inventory", Seq(
      ColumnSpec("sku", "sku", "bigint", 1, ZOrder = 1),
      ColumnSpec("warehouse", "warehouse", "string", 2),
      ColumnSpec("qty", "qty", "int", 3),
      ColumnSpec("price", "unit_price", "double", 4))),
      shape.smallFiles, invRows, invBytes, Nil, None)

    val bulkDir = dirFor("clickstream")
    var bulkRows = 0L
    val bulkBytes = (0 until shape.bulkFiles).map { fi =>
      val sb = new StringBuilder("session_id,page,referrer,dwell_ms,device,country,ab_bucket,ts\n")
      (0 until shape.bulkRows).foreach { j =>
        sb.append(s"${fi.toLong * shape.bulkRows + j},/p/${r.nextInt(400)},r${r.nextInt(30)}," +
          s"${r.nextInt(60000)},${if (r.nextBoolean()) "mobile" else "desktop"}," +
          s"c${r.nextInt(40)},${r.nextInt(4)},2024-03-01 ${"%02d".format(r.nextInt(24))}:00:00\n")
        bulkRows += 1
      }
      land(bulkDir, f"clicks_$fi%04d.csv", sb.toString, fi)
    }.sum
    val bulk = FeedInput(feedConfig(104, bulkDir, "csv", 1, "clickstream", Seq(
      ColumnSpec("session_id", "session_id", "bigint", 1),
      ColumnSpec("page", "page", "string", 2),
      ColumnSpec("referrer", "referrer", "string", 3),
      ColumnSpec("dwell_ms", "dwell_ms", "int", 4),
      ColumnSpec("device", "device", "string", 5),
      ColumnSpec("country", "country", "string", 6, ZOrder = 1),
      ColumnSpec("ab_bucket", "ab_bucket", "int", 7),
      ColumnSpec("ts", "event_ts", "timestamp", 8)), continuous = true),
      shape.bulkFiles, bulkRows, bulkBytes, Nil, None)
    Day(Seq(crm, events, inv, bulk))
  }

  // -------------------------------------------------------- dedup stream

  final case class Corpus(base: Seq[(Long, String)], waves: Seq[Seq[(Long, String)]]) {
    def rows: Long = base.size + waves.map(_.size).sum
  }

  /** A base corpus plus waves of arriving documents. Each wave is mostly
    * fresh text with `dupsPerWave` planted near-duplicates of earlier
    * documents (one token appended, one replaced). Documents are 60–99
    * tokens, so a planted pair's word-trigram Jaccard is at least 0.88 —
    * where the 16-band LSH serve misses a pair with probability below
    * 1e-6 — while unrelated documents share almost no trigrams. */
  def corpus(seed: Long, baseDocs: Int, waves: Int, perWave: Int, dupsPerWave: Int): Corpus = {
    val r = rng(seed, "corpus")
    val all = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val base = (0 until baseDocs).map(i => (i.toLong, words(r, 60 + r.nextInt(40))))
    all ++= base
    val ws = (0 until waves).map { w =>
      val wave = (0 until perWave).map { j =>
        val id = (baseDocs + w * perWave + j).toLong
        if (j < dupsPerWave) {
          val toks = all(r.nextInt(all.size))._2.split(' ')
          toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.length))
          (id, (toks :+ "trailing").mkString(" "))
        } else (id, words(r, 60 + r.nextInt(40)))
      }
      all ++= wave
      wave
    }
    Corpus(base, ws)
  }

  def docsSchema: StructType = StructType(Seq(f("doc_id", LongType), f("text", StringType)))

  // --------------------------------------------------------- serve tables

  /** The tables the serve pass's registry entries read, shaped like the
    * repo's synthetic testdata at sf 0.01 (same names, columns and
    * physical types): `documents` (500 texts over [[Vocab]]) and
    * `embeddings` (500 unit 64-d float vectors), one parquet file each
    * under `dir`. Returns the rows written. */
  def serveTables(spark: SparkSession, dir: Path, seed: Long): Long = {
    Files.createDirectories(dir)
    val rd = rng(seed, "documents")
    val docs = (0 until 500).map { i =>
      val t = words(rd, 20 + rd.nextInt(60))
      Row(i.toLong, t, "en", s"src${rd.nextInt(5)}", t.length.toLong)
    }
    writeParquetFile(spark, dir.resolve("documents.parquet"), StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docs)

    val re = rng(seed, "embeddings")
    val gauss = new java.util.Random(re.nextLong())
    val embs = (0 until 500).map { i =>
      val v = Array.fill(64)(gauss.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, re.nextInt(5))
    }
    writeParquetFile(spark, dir.resolve("embeddings.parquet"), StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))), embs)
    docs.size + embs.size
  }

  /** sha-256 over every regular file under `dir`, in path order: its
    * relative path and its content — the bytes of a text file, the rows
    * of a parquet file (parquet writers order some footer fields by
    * hash, so equal files can differ in bytes). The identity of a
    * generated input set. */
  def digest(spark: SparkSession, dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .toSeq.sortBy(p => dir.relativize(p).toString)
    files.foreach { p =>
      md.update(dir.relativize(p).toString.getBytes("UTF-8"))
      if (p.getFileName.toString.endsWith(".parquet")) {
        val df = spark.read.parquet(p.toString)
        md.update(df.schema.json.getBytes("UTF-8"))
        df.collect().foreach(r => md.update(r.toString.getBytes("UTF-8")))
      } else md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
