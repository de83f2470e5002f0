package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins at 100 TB: when a few hot keys
  * dominate a fact table, a plain hash join puts every hot-key row in
  * one reducer. Salting splits each key into `saltFactor` sub-keys:
  * the fact side gets a deterministic per-row salt, the (smaller) other
  * side is replicated once per salt value, and the join key becomes
  * (key, salt). AQE's skew-join handles many cases at runtime; salting
  * is the explicit tool when a key is hot enough to defeat even split
  * shuffle blocks, and it composes with broadcast being impossible
  * (right side too big).
  */
object Skew {

  /** Equi-join `fact ⋈ other` on `key`, salted `saltFactor` ways.
    * Deterministic: the salt is a hash of the fact row's whole content,
    * so results are reproducible run to run. */
  def saltedJoin(fact: DataFrame, other: DataFrame, key: String,
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched replicated-side row
    // saltFactor times — refuse rather than silently duplicate.
    require(Set("inner", "left", "left_outer", "leftouter").contains(joinType),
      s"saltedJoin supports inner/left joins only, got '$joinType'")
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(col).toSeq: _*), lit(saltFactor)).cast("int"))
    val replicated = other.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    saltedFact.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Engage idle cores before PER-ROW-EXPENSIVE map work when the
    * upstream scan cannot split — the §2.5 "one huge unsplittable
    * file" remedy ("repartition immediately after the read"), made
    * scale-adaptive. A parquet file is only splittable at row-group
    * boundaries, so a small table (a dimension, a fixture, one feed's
    * daily file) often scans as ONE task and every regex/hash/signature
    * kernel above it runs on one core while the rest of the machine
    * idles.
    *
    * Decision is all driver-side metadata, no job: if the relation
    * reads at least `defaultParallelism` files, natural splits already
    * cover the cores (identity, no stat calls — the 100 TB path).
    * Otherwise the estimated split count Σ ceil(size/maxPartitionBytes)
    * is compared against the cores: below half, round-robin
    * `repartition(defaultParallelism)` spreads the rows (deterministic
    * under retries — Spark sorts before round-robin partitioning,
    * SPARK-23207). Callers must only feed order-independent consumers
    * (the library-wide determinism stance: every emitted value is a
    * pure function of the data under any partitioning).
    *
    * The repartition shuffles the relation once — by construction a
    * small one (under cores × maxPartitionBytes, e.g. 4 GB at 32×128 MB
    * defaults) — to unlock cores× parallelism on the expensive kernel
    * above; at scale the condition never fires and the plan is
    * untouched. */
  def fanOutSmall(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= par) return df
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val conf = spark.sessionState.newHadoopConf()
    val splits = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val len =
        try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case _: Throwable => return df } // unstat-able → leave as-is
      math.max(1L, (len + maxSplit - 1) / maxSplit)
    }.sum
    if (splits * 2 >= par) df else df.repartition(par)
  }

  /** Two-phase aggregation for skewed group-by keys: partial aggregate
    * on (key, salt), then final aggregate on key. Spark's hash
    * aggregate already does map-side partials; this adds an extra
    * reduce level for when a single key's partials overwhelm one
    * reducer (e.g. count/sum over a 90%-one-key stream). */
  def saltedSum(df: DataFrame, key: String, valueCol: String,
                saltFactor: Int): DataFrame =
    df.withColumn("__salt",
        pmod(xxhash64(col(key), monotonically_increasing_id()), lit(saltFactor)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__pc"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"sum_$valueCol"),
        sum(col("__pc")).as("n"))
}
