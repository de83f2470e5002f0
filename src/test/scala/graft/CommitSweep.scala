package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import graft.catalog.Commits

/** The commit sweep: crash one micro-batch of a streaming body right
  * after each of its storage commits ([[Commits]]) and prove that
  * redelivering the batch lands on the crash-free result.
  *
  * A [[Body]] opens its stored tables under a root directory, runs the
  * micro-batch with a given id, and reads back every stored table as a
  * row multiset plus its served answer. [[CommitSweep.apply]] runs the
  * prefix batches, then the batch under test crash-free, counting its
  * N commits, then the suffix, and records the state. A process killed
  * right after commit k leaves exactly the files the crash-free run
  * had at that moment, so the crash-free run copies its root at every
  * commit (and once more after the batch: k = N+1, the body finished
  * but its checkpoint did not commit) instead of re-running the batch
  * up to each k. Then, for every k in 1..N+1, the sweep checks the
  * crashed copy, reopens its tables (a restarted process), redelivers
  * the batch, runs the suffix and compares. Replays run on a few
  * threads at once, each on its own copy. */
object CommitSweep {

  /** A streaming body over stored state. `state` maps each stored
    * table (and the served answer) to its rows. */
  trait Body {
    def run(bid: Long): Unit
    def state(): Map[String, DataFrame]
  }

  /** One replay: the crash label (None at k = N+1), what the body's
    * `afterCrash` check found wrong (if anything), and the differences
    * from the crash-free state after the redelivery. */
  final case class Replay(k: Int, label: Option[String], afterCrash: Option[String],
                          diffs: Seq[String]) {
    def ok: Boolean = afterCrash.isEmpty && diffs.isEmpty
    override def toString: String =
      s"k=$k after ${label.getOrElse("the last commit")}: " +
        (afterCrash.toSeq ++ diffs).mkString("; ")
  }

  /** The sweep's outcome: the crash-free batch's commit labels (N is
    * their count), the crash-free state and every replay. */
  final case class Result(labels: Seq[String], clean: Map[String, Seq[String]],
                          replays: Seq[Replay]) {
    def n: Int = labels.size
    def failures: Seq[Replay] = replays.filterNot(_.ok)
  }

  /** The rows of a table, one JSON string per row, sorted: a multiset. */
  def rows(df: DataFrame): Seq[String] = snapshot(Map("t" -> df))("t")

  /** Every table's rows, read in one job. */
  private def snapshot(state: Map[String, DataFrame]): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    val tagged = state.toSeq.map { case (t, df) =>
      df.select(lit(t).as("t"), to_json(struct(df.columns.map(col): _*)).as("r"))
    }.reduce(_ unionByName _)
    val read = tagged.collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getString(1)).sorted.toSeq }
    state.keys.map(t => t -> read.getOrElse(t, Nil)).toMap
  }

  private def diff(want: Map[String, Seq[String]],
                   got: Map[String, Seq[String]]): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.sorted.flatMap { t =>
      val (w, g) = (want.getOrElse(t, Nil), got.getOrElse(t, Nil))
      if (w == g) None
      else Some(s"$t: ${w.size} rows crash-free, ${g.size} after the replay" +
        s" (missing ${w.diff(g).take(3).mkString(", ")};" +
        s" extra ${g.diff(w).take(3).mkString(", ")})")
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** Sweep `under`: `open(root)` (re)opens the body's tables under
    * `root`; `afterCrash(body, label)` checks the state a crash right
    * after the commit `label` left, before the redelivery, and returns
    * what is wrong, if anything. `only` restricts the replays to the
    * given k (a named case; all k when empty). */
  def apply[B <: Body](name: String, open: String => B, prefix: Seq[Long],
            under: Long, suffix: Seq[Long],
            afterCrash: (B, String) => Option[String] = (_: B, _: String) => None,
            only: Seq[Int] = Nil): Result = {
    val tmp = Files.createTempDirectory(s"graft-sweep-$name")
    try {
      val clean = tmp.resolve("clean")
      Files.createDirectories(clean)
      val first = open(clean.toString)
      prefix.foreach(first.run)
      val body = open(clean.toString)
      val labels = scala.collection.mutable.ArrayBuffer[String]()
      Commits.during { label =>
        labels += label
        copyTree(clean, tmp.resolve(s"k${labels.size}"))
      }(body.run(under))
      copyTree(clean, tmp.resolve(s"k${labels.size + 1}"))
      suffix.foreach(body.run)
      val want = snapshot(body.state())
      def replay(k: Int): Replay = {
        val root = tmp.resolve(s"k$k")
        val label = labels.lift(k - 1)
        val checked = label.flatMap(l => afterCrash(open(root.toString), l))
        val reopened = open(root.toString)
        reopened.run(under)
        suffix.foreach(reopened.run)
        val got = snapshot(reopened.state())
        graft.ingest.FileOps.deleteRecursively(root)
        Replay(k, label, checked, diff(want, got))
      }
      val ks = if (only.isEmpty) 1 to labels.size + 1 else only
      // the replays' Spark jobs are small: six at once keep 4 cores busy
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      try {
        val futures = ks.map(k => pool.submit(() => replay(k)))
        Result(labels.toSeq, want, futures.map(_.get()))
      } finally pool.shutdownNow()
    } finally graft.ingest.FileOps.deleteRecursively(tmp)
  }
}
