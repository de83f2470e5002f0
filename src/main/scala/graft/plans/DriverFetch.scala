package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The bounded fetch every driver fast path routes through: a site's
  * inputs come to the driver when they are batch-sized, and the caller
  * runs its distributed body otherwise. Selection is by observed size
  * alone — there is no option, conf or parameter to force either path;
  * each site passes its row cap as a constant.
  *
  *  - Each input is capped at the site's `maxRows` rows ([[MaxRows]]
  *    unless the site passes its own cap); no task ships more than
  *    `maxRows + 1` rows to the driver.
  *  - The fetched `UnsafeRow` bytes of one call are capped at
  *    [[MaxBytes]], summed over its inputs, so driver-held state is
  *    bounded in bytes as well as rows. Each task stops at the caps, and
  *    the driver sums an input's task results as they arrive: once the
  *    sum passes a cap it drops them and cancels the fetch job, so a
  *    rejected fetch holds about one cap on the driver and ships only
  *    the results of the tasks that finished before the cancel — not
  *    one cap per partition (`ExecutionBridge.collectBounded`).
  *  - Independent inputs of one call are fetched concurrently; each
  *    fetch is one job (none for a local relation).
  *
  * `apply` returns None when any cap is exceeded.
  *
  * This is the fetch for data whose size is not known in advance and
  * that has a distributed fallback. [[Materialize.modelState]] is the
  * other idiom: a model-sized relation (centroids, codebooks, one-row
  * statistics) with no fallback, whose cap fails loudly. */
object DriverFetch {

  /** Default per-input row cap. */
  val MaxRows: Int = 1 << 16

  /** Byte cap over all inputs of one call. */
  val MaxBytes: Long = 64L << 20

  private val caps = new scala.util.DynamicVariable[(Int, Long)]((Int.MaxValue, MaxBytes))

  /** Scope tighter caps over `body`: every site's row cap becomes the
    * smaller of its own and `rows`, and the byte cap becomes `bytes` —
    * lets specs push small fixtures over the caps of any entry. */
  private[graft] def withCaps[T](rows: Int, bytes: Long)(body: => T): T =
    caps.withValue((rows, bytes))(body)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Whether `df` has every named column at the given type (array
    * element nullability ignored) — a driver path's typed contract. */
  private[graft] def hasTypes(df: DataFrame, types: (String, DataType)*): Boolean = {
    def same(a: DataType, b: DataType): Boolean = (a, b) match {
      case (ArrayType(x, _), ArrayType(y, _)) => same(x, y)
      case _ => a == b
    }
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    types.forall { case (c, t) => byName.get(c).exists(same(_, t)) }
  }

  /** Fetch `inputs` to the driver for `site`, each capped at `maxRows`
    * rows and all together at the byte cap; None when any cap is
    * exceeded. */
  def apply(site: String, inputs: Seq[DataFrame],
            maxRows: Int = MaxRows): Option[IndexedSeq[Array[Row]]] = {
    val (rowCap, maxBytes) = (math.min(maxRows, caps.value._1), caps.value._2)
    val fetch = inputs.map(df => () =>
      org.apache.spark.sql.graft.ExecutionBridge.collectBounded(df, rowCap, maxBytes))
    val fetched =
      if (fetch.size == 1) Seq(fetch.head())
      else org.apache.spark.sql.graft.ExecutionBridge.concurrently(
        inputs.head.sparkSession, fetch)
    val bytes = fetched.flatten.map(_._2).sum
    if (fetched.exists(_.isEmpty) || bytes > maxBytes) {
      log.info(s"$site: distributed (an input is over $rowCap rows, or the " +
        s"inputs over $maxBytes bytes)")
      None
    } else {
      log.debug(s"$site: driver (${fetched.flatten.map(_._1.length).mkString("+")} " +
        s"rows, $bytes bytes)")
      Some(inputs.zip(fetched.flatten).map { case (df, (rows, _)) =>
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(df.schema)
        rows.map(r => toRow(r).asInstanceOf[Row])
      }.toIndexedSeq)
    }
  }

  /** A local relation of `rows` under `schema`, in ONE partition — the
    * result shape of every driver path. A bare local relation scans in
    * up to `defaultParallelism` partitions, so a caller appending it to
    * a table would write that many files per batch where the
    * distributed result it replaces wrote one. */
  def local(like: DataFrame, rows: Seq[Row],
            schema: org.apache.spark.sql.types.StructType): DataFrame =
    like.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1)
}
