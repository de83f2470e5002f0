package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.FeedConfig.ColumnSpec

/** PII masking fork (modules/auto_loader_steps.py:345-364): every
  * IsPII=1 column in the shadow copy is overwritten with the constant
  * mask. One select, no per-column withColumn chain (each withColumn is
  * a new projection node — fold them into one). */
object Masking {
  val MaskValue = "xxxxxxx"

  private def piiColumns(columns: Seq[ColumnSpec]): Set[String] =
    columns.filter(_.IsPII == 1).map(_.TargetColumnName).toSet

  def maskPII(df: DataFrame, columns: Seq[ColumnSpec]): DataFrame = {
    val piiNames = piiColumns(columns)
    if (piiNames.isEmpty) df
    else df.select(df.columns.map { c =>
      if (piiNames.contains(c)) lit(MaskValue).cast(org.apache.spark.sql.types.StringType).as(c)
      else col(c)
    }.toSeq: _*)
  }

  /** [[maskPII]] for rows the driver holds, values in `schema` order:
    * each PII column holds the mask cast to the column's type under the
    * session's conf — the value a shadow table's Spark write stores, or
    * the error that write fails with (an ANSI cast of the mask to a
    * number). */
  def maskRows(spark: SparkSession, rows: Seq[Row], schema: StructType,
               columns: Seq[ColumnSpec]): Seq[Row] = {
    val conf = spark.sessionState.conf
    val pii = piiColumns(columns)
    val masks = schema.fields.indices.filter(i => pii.contains(schema(i).name)).map { i =>
      val t = schema(i).dataType
      i -> CatalystTypeConverters.convertToScala(Cast(Literal(MaskValue), t,
        Some(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf)).eval(), t)
    }.toMap
    if (masks.isEmpty) rows
    else rows.map(r => Row.fromSeq(r.toSeq.indices.map(i => masks.getOrElse(i, r.get(i)))))
  }
}
