package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutionException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import scala.concurrent.duration.Duration
import org.apache.spark.SimpleFutureAction
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.execution.{CoalesceExec, LocalTableScanExec, SQLExecution}
import org.apache.spark.util.ThreadUtils

/** Bridge to Spark's execution internals for [[graft.plans.DriverFetch]]:
  * a bounded collect that sees the fetched rows' `UnsafeRow` sizes, and
  * concurrent fetches that keep the caller's thread-local job context. */
object ExecutionBridge {

  /** `df`'s rows as copied `UnsafeRow`s, with their summed size in
    * bytes — or None once the rows exceed `maxRows` or the bytes exceed
    * `maxBytes`. ONE job over all partitions (a `limit` collect scans
    * one partition, then the rest, as separate jobs), each task stopping
    * at `maxRows + 1` rows or past `maxBytes`. The driver sums the task
    * results as they arrive; once the sum passes a cap it drops what it
    * holds and cancels the job, so a rejected fetch holds at most about
    * one cap on the driver and ships only the results of the tasks that
    * finished before the cancel took effect — not one cap per partition.
    * A local relation (also one coalesced, as
    * [[graft.plans.DriverFetch.local]] returns them) is read without a
    * job.
    * The collect runs as an SQL execution of `df`'s own QueryExecution,
    * so execution listeners and the job's SQL context see it exactly as
    * they see `collect()`. */
  def collectBounded(df: DataFrame, maxRows: Int, maxBytes: Long)
      : Option[(Array[InternalRow], Long)] = {
    def size(r: InternalRow): Long = r.asInstanceOf[UnsafeRow].getSizeInBytes.toLong
    val qe = queryExecution(df)
    val fetched = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan match {
        case local: LocalTableScanExec => Some(local.executeCollect())
        case CoalesceExec(_, local: LocalTableScanExec) => Some(local.executeCollect())
        case plan =>
          val rdd = plan.execute()
          val parts = new Array[Array[InternalRow]](rdd.partitions.length)
          var (total, totalBytes) = (0L, 0L)
          val over = new AtomicBoolean(false)
          val job = new AtomicReference[SimpleFutureAction[Unit]]
          // the result handler runs serially on the scheduler's event
          // thread; a cancel there only posts an event
          val submitted = qe.sparkSession.sparkContext.submitJob(rdd,
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
            },
            parts.indices,
            (i: Int, rows: Array[InternalRow]) => if (!over.get) {
              total += rows.length
              totalBytes += rows.iterator.map(size).sum
              if (total > maxRows || totalBytes > maxBytes) {
                over.set(true)
                parts.indices.foreach(parts(_) = null)
                Option(job.get).foreach(_.cancel())
              } else parts(i) = rows
            },
            ())
          job.set(submitted)
          // the handler may have passed a cap before `job` was set
          if (over.get) submitted.cancel()
          try ThreadUtils.awaitReady(submitted, Duration.Inf)
          catch { case e: InterruptedException => submitted.cancel(); throw e }
          // a job the cap cancelled is a rejected fetch, not a failure
          if (over.get) None
          else { submitted.value.get.get; Some(parts.flatten) }
      }
    }
    fetched.flatMap { rows =>
      val bytes = rows.iterator.map(size).sum
      if (rows.length > maxRows || bytes > maxBytes) None else Some((rows, bytes))
    }
  }

  private def queryExecution(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  /** Whether `df` is a local relation whose rows are already on the
    * driver: a `LocalRelation` under coalesces and column selections
    * only, as [[graft.plans.DriverFetch.local]] returns them. A frame
    * the optimizer merely folds into a local scan (a projection or
    * filter over a local relation) does not count: each plan that reads
    * it evaluates that projection again. */
  def isLocal(df: DataFrame): Boolean = {
    def held(plan: LogicalPlan): Boolean = plan match {
      case _: LocalRelation => true
      case Repartition(_, false, child) => held(child)
      case Project(columns, child) => columns.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } && held(child)
      case _ => false
    }
    held(queryExecution(df).analyzed)
  }

  private lazy val pool =
    ThreadUtils.newDaemonCachedThreadPool("graft-driver-fetch")

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
