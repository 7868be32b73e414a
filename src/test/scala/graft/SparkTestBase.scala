package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession across all suites (object, not per-suite —
  * session startup costs ~5s), built like every main's: GraftSession.local. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    graft.functions.GraftFunctions.registerAll(s)
    s
  }

  /** A fresh temp dir, deleted (recursively) when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    org.apache.spark.sql.graftshim.shims.deleteAtExit(dir.toFile)
    dir
  }

  /** (jobs, stages run) of the Spark work that `body` starts on this
    * thread. A listener counts the jobs carrying a fresh local-property tag
    * and the completed stages of those jobs (skipped stages never complete);
    * a tagged sentinel job then fences the counts, since the bus delivers
    * events in order. */
  def workOf(body: => Unit): (Int, Int) = {
    val (jobs, stages, _) = watch(body)
    (jobs, stages.size)
  }

  /** The names of the stages that the Spark work `body` starts on this
    * thread ran (a stage's name is its call site), as [[workOf]] finds
    * them. */
  def stagesOf(body: => Unit): Seq[String] = watch(body)._2

  /** The input bytes (task `inputMetrics.bytesRead`, summed) of the Spark
    * work that `body` starts on this thread, as [[workOf]] finds it. */
  def inputBytesOf(body: => Unit): Long = watch(body)._3

  /** The SQL executions (each query a Dataset action or a `Plans.execute`
    * runs) that `body` completes or fails, in order. A listener collects
    * them between two marker queries, one run before `body` and one after:
    * the listener bus delivers events in order, so what arrives before the
    * first marker is an earlier query's, and the second fences the list. */
  def queriesOf(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    val fence = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val started = new CountDownLatch(1)
    val fenced = new CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def see(qe: QueryExecution): Unit = {
        val plan = qe.logical.toString
        if (plan.contains(s"$fence:start")) started.countDown()
        else if (plan.contains(s"$fence:end")) fenced.countDown()
        else if (started.getCount == 0) seen.add(qe)
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = see(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = see(qe)
    }
    def marker(tag: String): Unit =
      spark.range(1).select(org.apache.spark.sql.functions.lit(s"$fence:$tag")).collect()
    spark.listenerManager.register(listener)
    try {
      marker("start")
      require(started.await(60, TimeUnit.SECONDS), "listener never saw the start marker")
      try body finally {
        marker("end")
        require(fenced.await(60, TimeUnit.SECONDS), "listener never saw the end marker")
      }
      seen.toArray(Array.empty[QueryExecution]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  private def watch(body: => Unit): (Int, Seq[String], Long) = {
    val sc = spark.sparkContext
    val key = "graft.test.workOf"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val stageNames = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val inputBytes = new java.util.concurrent.atomic.AtomicLong
    val fenced = new CountDownLatch(1)
    @volatile var sentinel = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(t) if t == tag =>
            jobs.incrementAndGet()
            e.stageIds.foreach(id => stageIds.add(id))
          case Some(t) if t == s"$tag:end" => sentinel = e.jobId
          case _ => ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) stageNames.add(e.stageInfo.name)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(e.stageId) && e.taskMetrics != null)
          inputBytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, s"$tag:end")
      sc.parallelize(Seq(1), 1).count()
      require(fenced.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (jobs.get, stageNames.toArray(Array.empty[String]).toSeq, inputBytes.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
