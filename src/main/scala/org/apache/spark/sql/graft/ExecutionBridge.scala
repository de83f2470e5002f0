package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutionException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.{CoalesceExec, LocalTableScanExec, SQLExecution}

/** Bridge to Spark's execution internals for [[graft.plans.DriverFetch]]:
  * a bounded collect that sees the fetched rows' `UnsafeRow` sizes, and
  * concurrent fetches that keep the caller's thread-local job context. */
object ExecutionBridge {

  /** `df`'s rows as copied `UnsafeRow`s, with their summed size in
    * bytes — or None once the rows exceed `maxRows` or the bytes exceed
    * `maxBytes`. ONE job over all partitions (a `limit` collect scans
    * one partition, then the rest, as separate jobs), each task stopping
    * at `maxRows + 1` rows or past `maxBytes`, so no task ships more
    * than the cap to the driver. A local relation (also one coalesced,
    * as [[graft.plans.DriverFetch.local]] returns them) is read without
    * a job.
    * The collect runs as an SQL execution of `df`'s own QueryExecution,
    * so execution listeners and the job's SQL context see it exactly as
    * they see `collect()`. */
  def collectBounded(df: DataFrame, maxRows: Int, maxBytes: Long)
      : Option[(Array[InternalRow], Long)] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan match {
        case local: LocalTableScanExec => local.executeCollect()
        case CoalesceExec(_, local: LocalTableScanExec) => local.executeCollect()
        case plan =>
          qe.sparkSession.sparkContext.runJob(plan.execute(),
            (it: Iterator[InternalRow]) => {
              val buf = Array.newBuilder[InternalRow]
              var (n, bytes) = (0, 0L)
              while (it.hasNext && n <= maxRows && bytes <= maxBytes) {
                val row = it.next().asInstanceOf[UnsafeRow].copy()
                bytes += row.getSizeInBytes
                n += 1
                buf += row
              }
              buf.result()
            }).flatten
      }
    }
    val bytes = rows.iterator.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    if (rows.length > maxRows || bytes > maxBytes) None else Some((rows, bytes))
  }

  private lazy val pool =
    org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool("graft-driver-fetch")

  /** Run `bodies` concurrently on a daemon pool, each with the calling
    * thread's active session, SQL conf and local properties (job group,
    * description, scheduler pool) — the way Spark runs broadcast and
    * subquery builds — and return their results in order. A failure
    * rethrows the body's own exception. */
  def concurrently[T](spark: org.apache.spark.sql.SparkSession, bodies: Seq[() => T]): Seq[T] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val futures: Seq[CompletableFuture[T]] =
      bodies.map(b => SQLExecution.withThreadLocalCaptured(session, pool)(b()))
    futures.map { f =>
      try f.get()
      catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
    }
  }
}
