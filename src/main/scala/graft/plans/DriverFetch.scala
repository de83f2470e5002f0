package graft.plans

import org.apache.spark.sql.{DataFrame, Row}

/** The bounded fetch every driver fast path routes through: a site's
  * inputs come to the driver when they are batch-sized, and the caller
  * runs its distributed body otherwise. Selection is by observed size
  * alone — there is no option to force either path.
  *
  *  - Each input is capped at `maxRows` rows ([[MaxRows]] unless the
  *    site passes its own cap); no task ships more than `maxRows + 1`
  *    rows to the driver.
  *  - The inputs of one call together are capped at [[MaxBytes]] of
  *    fetched `UnsafeRow` bytes, so driver-held state is bounded in
  *    bytes as well as rows.
  *  - Independent inputs of one call are fetched concurrently; each
  *    fetch is one job (none for a local relation).
  *
  * `apply` returns None when any cap is exceeded. */
object DriverFetch {

  /** Default per-input row cap. */
  val MaxRows: Int = 1 << 16

  /** Byte cap over all inputs of one call. */
  val MaxBytes: Long = 64L << 20

  private val caps = new scala.util.DynamicVariable[(Int, Long)]((MaxRows, MaxBytes))

  /** Scope tighter caps over `body` — lets specs push small fixtures
    * over the row and byte caps. */
  private[graft] def withCaps[T](rows: Int, bytes: Long)(body: => T): T =
    caps.withValue((rows, bytes))(body)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Fetch `inputs` to the driver for `site`, each capped at `maxRows`
    * rows and all together at the byte cap; None when any cap is
    * exceeded. */
  def apply(site: String, inputs: Seq[DataFrame],
            maxRows: Int = caps.value._1): Option[IndexedSeq[Array[Row]]] = {
    val maxBytes = caps.value._2
    val fetch = inputs.map(df => () =>
      org.apache.spark.sql.graft.ExecutionBridge.collectBounded(df, maxRows, maxBytes))
    val fetched =
      if (fetch.size == 1) Seq(fetch.head())
      else org.apache.spark.sql.graft.ExecutionBridge.concurrently(
        inputs.head.sparkSession, fetch)
    val bytes = fetched.flatten.map(_._2).sum
    if (fetched.exists(_.isEmpty) || bytes > maxBytes) {
      log.info(s"$site: distributed (an input is over $maxRows rows, or the " +
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
