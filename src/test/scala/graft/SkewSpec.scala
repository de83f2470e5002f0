package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Skew

/** Salting correctness: salted join/aggregate must equal their plain
  * counterparts on a deliberately skewed key distribution. */
class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 90% of rows share key 1 — the hot-key shape salting exists for.
  private lazy val fact = (1 to 1000)
    .map(i => (if (i <= 900) 1 else i % 50, i.toDouble))
    .toDF("k", "v")
  private lazy val dim = (0 until 50).map(i => (i, s"name-$i")).toDF("k", "name")

  test("saltedJoin equals the plain join") {
    val plain = fact.join(dim, Seq("k"))
      .groupBy("k").agg(count(lit(1)).as("n"), round(sum("v"), 2).as("s"))
    val salted = Skew.saltedJoin(fact, dim, "k", saltFactor = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), round(sum("v"), 2).as("s"))
    assert(plain.except(salted).count() == 0 && salted.except(plain).count() == 0)
  }

  test("fanOutSmall: spreads a small file scan, identity on memory " +
       "relations and when disabled, rows unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout")
    val path = s"$dir/t.parquet"
    (1 to 500).map(i => (i.toLong, s"text $i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val scan = spark.read.parquet(path)
    val spread = Skew.fanOutSmall(scan)
    val par = spark.sparkContext.defaultParallelism
    // one tiny file, well under cores×maxPartitionBytes → repartition
    assert(spread.rdd.getNumPartitions == par,
      s"${spread.rdd.getNumPartitions} != $par")
    // same rows, just redistributed
    assert(spread.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 500L))
    // a memory-backed relation has no input files → identity plan
    val mem = (1 to 10).map(i => (i, s"m$i")).toDF("id", "text")
    assert(Skew.fanOutSmall(mem) eq mem)
  }

  test("saltedSum equals the plain aggregate") {
    val plain = fact.groupBy("k")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSum(fact, "k", "v", saltFactor = 8)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(plain == salted)
  }
}
