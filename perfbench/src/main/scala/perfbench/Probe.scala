package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Process CPU time, read through the platform MXBean. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** Largest live heap at a step end while armed: the heap in use right
  * after a full collection forced there, outside the step's time. A reading
  * after a young collection is not a live figure: it also counts the garbage
  * promoted since the last full one, and per-rep readings of one input
  * ranged from 105 to 237 MB with GC timing. */
object HeapPeak {
  private val memory = ManagementFactory.getMemoryMXBean
  private var armed = false
  private var peak = 0L

  /** Called at the end of every step. */
  def sample(): Unit = if (armed) {
    System.gc()
    peak = math.max(peak, memory.getHeapMemoryUsage.getUsed)
  }

  /** Largest live heap at the step ends of `body`, in MB. */
  def during(body: => Unit): Double = {
    System.gc()
    peak = 0L
    armed = true
    try body
    finally armed = false
    peak / (1024.0 * 1024.0)
  }
}

/** Spark's own work per benchmark step, read from the public listener
  * events. Jobs carry the step name as a local property; a step ends with a
  * one-task sentinel job whose `onJobEnd` proves (the bus delivers events in
  * order) that every event of the step has been seen. */
final class Probe(spark: SparkSession) extends SparkListener {
  import Probe._

  private val stageStep = new ConcurrentHashMap[Int, String]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val sentinels = new ConcurrentHashMap[String, CountDownLatch]()
  private val sentinelJobs = new ConcurrentHashMap[Int, String]()
  @volatile private var lastStep = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SentinelKey))) match {
      case Some(token) => sentinelJobs.put(e.jobId, token)
      case None =>
        val step = props.flatMap(p => Option(p.getProperty(StepKey))).getOrElse(lastStep)
        lastStep = step
        e.stageIds.foreach(id => stageStep.put(id, step))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val step = stageStep.get(i.stageId)
    val durs = Option(taskMs.remove((i.stageId, i.attemptNumber()))).map(_.asScala.toSeq)
      .getOrElse(Nil)
    if (step != null) {
      val m = i.taskMetrics
      val dur = for (s <- i.submissionTime; c <- i.completionTime) yield c - s
      stages.add(StageRec(step, i.numTasks, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.inputMetrics.bytesRead,
        dur.getOrElse(0L), durs))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(sentinelJobs.remove(e.jobId)).flatMap(t => Option(sentinels.remove(t)))
      .foreach(_.countDown())

  def begin(step: String): Unit = spark.sparkContext.setLocalProperty(StepKey, step)

  /** Fence the step: run the sentinel and wait until the listener saw it. */
  def end(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(StepKey, null)
    val token = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    sentinels.put(token, latch)
    sc.setLocalProperty(SentinelKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener did not deliver the sentinel job's end")
  }

  /** Engine figures of every step seen since the last drain. `inputOnDisk`
    * gives the bytes on disk of a step's inputs; `pairs` the pairs a step
    * emitted. */
  def drain(inputOnDisk: String => Long, pairs: String => Long): Map[String, Double] = {
    val recs = Iterator.continually(stages.poll()).takeWhile(_ != null).toSeq
    recs.groupBy(_.step).toSeq.flatMap { case (step, rs) =>
      val longest = rs.maxBy(_.durMs)
      val sorted = longest.taskMs.sorted
      val skew =
        if (sorted.isEmpty) 1.0
        else sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2)).toDouble
      val input = rs.map(_.input).sum
      val disk = inputOnDisk(step)
      val p = s"engine.$step"
      Seq(
        s"$p.stages" -> rs.size.toDouble,
        s"$p.tasks" -> rs.map(_.tasks).sum.toDouble,
        s"$p.task_cpu_s" -> rs.map(_.cpuNs).sum / 1e9,
        s"$p.gc_s" -> rs.map(_.gcMs).sum / 1e3,
        s"$p.shuffle_write_bytes" -> rs.map(_.shuffleBytes).sum.toDouble,
        s"$p.shuffle_records" -> rs.map(_.shuffleRecords).sum.toDouble,
        s"$p.spill_bytes" -> rs.map(_.spill).sum.toDouble,
        s"$p.input_bytes" -> input.toDouble,
        s"$p.scan_amplification" -> (if (disk > 0) input.toDouble / disk else 0.0),
        s"$p.task_skew" -> skew) ++
        Some(pairs(step)).filter(_ > 0).map { n =>
          s"operators.$step.pair_yield" -> n.toDouble / math.max(1L, rs.map(_.shuffleRecords).max)
        }
    }.toMap
  }
}

object Probe {
  final val StepKey = "perfbench.step"
  final val SentinelKey = "perfbench.sentinel"

  private final case class StageRec(step: String, tasks: Int, cpuNs: Long, gcMs: Long,
                                    shuffleBytes: Long, shuffleRecords: Long, spill: Long,
                                    input: Long, durMs: Long, taskMs: Seq[Long])
}

/** Timing of one rep: step wall and CPU times and the spans of the public
  * calls made inside them. Traced reps fence each step through the
  * [[Probe]]. */
final class Rep(probe: Option[Probe]) {
  val steps: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  var cpu = 0.0
  val spans: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val pairs: mutable.Map[String, Long] = mutable.Map().withDefaultValue(0L)

  private def timed[T](into: mutable.Map[String, Double], key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally into(key) = into.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def step[T](name: String)(body: => T): T = {
    probe.foreach(_.begin(name))
    val cpu0 = Cpu.seconds
    val out = timed(steps, name)(body)
    cpu += Cpu.seconds - cpu0
    HeapPeak.sample()
    probe.foreach(_.end())
    out
  }

  /** The call itself: building its lazy result, or all of its work when
    * the call is eager. */
  def plan[T](call: String)(body: => T): T = timed(spans, s"$call.plan_s")(body)

  /** The action that forces a call's result. */
  def run[T](call: String)(body: => T): T = timed(spans, s"$call.run_s")(body)

  def wall: Double = steps.values.sum
}
