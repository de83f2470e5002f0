package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = Tables.session("graft-test", cpus = "4")
  val sf: String = "/root/testdata/sf0.001"

  private val JobsDuringKey = "graft.test.jobsDuring"

  /** Spark jobs `body` submits from this thread, or from the threads it
    * starts (a stream's micro-batch thread), by SQL execution
    * description. Exact, not sampled: the jobs carry a local property
    * (which concurrent driver fetches and the threads `body` starts
    * inherit; a stream replaces the job group with its own, not this),
    * and a sentinel job after `body` proves every earlier job-start
    * event reached the listener (the bus delivers in order). */
  def jobsDuring(spark: SparkSession)(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).map(_.getProperty(k)).orNull
        if (prop(JobsDuringKey) == group) seen.add(String.valueOf(prop("spark.job.description")))
        else if (prop("spark.jobGroup.id") == group + "-sentinel") drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobsDuringKey, group)
      try body finally sc.setLocalProperty(JobsDuringKey, null)
      sc.setJobGroup(group + "-sentinel", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Every SQL execution `body` runs, as the `QueryExecution` a
    * `QueryExecutionListener` sees, so a driver path's own fetches are
    * inspectable even when its result is a local relation. */
  def plansDuring(spark: SparkSession)(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val marker = s"plans-during-${java.util.UUID.randomUUID()}"
    val sentinel = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.executedPlan.toString.contains(marker)) sentinel.set(true)
        else plans.add(qe)
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sentinel.get()) {
        assert(System.nanoTime() < deadline, "listener bus never delivered the sentinel")
        Thread.sleep(10)
      }
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
