package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/**
 * Stage-level attribution for the bench ("measure, don't guess"): collects
 * per-stage task time, input, shuffle read/write and spill from completed
 * stages, so a regression names a STAGE (scan vs partial agg vs exchange),
 * not just a wall-clock total. Attach around a measured region, then
 * `summary()` prints stages sorted by executor runtime.
 */
final class BenchMetrics extends SparkListener {

  final case class StageRow(id: Int, name: String, tasks: Int, runMs: Long,
                            inputB: Long, shufReadB: Long, shufWriteB: Long,
                            spillB: Long)

  private val rows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    if (m != null) rows.add(StageRow(
      i.stageId,
      i.name.takeWhile(_ != '\n').take(80),
      i.numTasks,
      m.executorRunTime,
      m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def clear(): Unit = rows.clear()

  def stageNames: Seq[String] = {
    import scala.jdk.CollectionConverters._
    rows.asScala.map(_.name).toSeq
  }

  def summary(top: Int = 8): String = {
    import scala.jdk.CollectionConverters._
    def mb(b: Long) = f"${b / 1048576.0}%.1fMB"
    val all = rows.asScala.toSeq.sortBy(-_.runMs).take(top)
    all.map(r =>
      f"[stage ${r.id}%4d] ${r.runMs}%6dms cpu, ${r.tasks}%4d tasks, " +
        f"in=${mb(r.inputB)} sRead=${mb(r.shufReadB)} sWrite=${mb(r.shufWriteB)} " +
        f"spill=${mb(r.spillB)}  ${r.name}").mkString("\n")
  }
}
