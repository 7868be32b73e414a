package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.SparkTestBase.workOf

/** `Plans.pin`: one checkpoint job that tallies what it wrote, a pinned
  * frame with exact stats, and the callers that read the tallies instead of
  * running jobs of their own. */
class PinSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def rowBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong)
      .fold(0L)(_ + _)

  test("pin tallies rows, UnsafeRow bytes and an exact long sum; the pinned frame's stats are exact") {
    // variable-length strings, so bytes are not rows x a constant; values
    // near Long.MaxValue, so the sum overflows a long
    val df = spark.range(0, 500, 1, 3).select(
      (lit(Long.MaxValue) - col("id")).as("v"),
      repeat(lit("x"), (col("id") % 7).cast("int")).as("s"))
    val p = Plans.pin(df, "PinSpec tally", sumCol = Some("v"))
    val n = df.count()
    assert(p.rows === n)
    assert(p.bytes === rowBytes(df))
    assert(p.sum === (0L until 500L).map(i => BigInt(Long.MaxValue - i)).sum.bigInteger)
    val stats = p.df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(n)))
    assert(stats.sizeInBytes === BigInt(p.bytes))
    assert(p.df.count() === n)

    val empty = Plans.pin(df.filter(lit(false)), "PinSpec empty", sumCol = Some("v"))
    assert((empty.rows, empty.bytes, empty.sum.signum) === ((0L, 0L, 0)))
    assert(empty.df.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(0)))
    assert(empty.df.count() === 0L)
  }

  test("a join against a small pinned frame plans a broadcast before adaptive execution") {
    // the other side is an RDD-backed frame of unknown size, so only the
    // pin's stats can make the planner broadcast
    val big = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until 1000L).map(Tuple1(_))).toDF("id")
    val small = Plans.pin(spark.range(50).toDF("id"), "PinSpec small").df
    def broadcasts = big.join(small, "id").queryExecution.sparkPlan
      .collect { case j: BroadcastHashJoinExec => j }.nonEmpty
    assert(broadcasts, "a small pinned frame broadcasts from the initial plan")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try assert(!broadcasts, "with broadcasts disabled the join must not broadcast")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("pin names its stages with the caller's label and restores the call site") {
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        names.add(e.stageInfo.name)
    }
    sc.addSparkListener(listener)
    try {
      sc.setCallSite("PinSpec caller")
      // a shuffle, so adaptive execution submits a map stage of its own
      Plans.pin(spark.range(100).groupBy(col("id") % 3).count(), "PinSpec label")
      assert(sc.getLocalProperty("callSite.short") === "PinSpec caller")
      // a fence: the bus delivers events in order
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!names.contains("PinSpec caller") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearCallSite()
    }
    val seen = names.toArray.toSeq.map(_.toString)
    assert(seen.lastOption === Some("PinSpec caller"), seen)
    assert(seen.length >= 3 && seen.init.forall(_ == "PinSpec label"), seen)
  }

  test("verify broadcast decision: both caps are inclusive, either one refuses") {
    // one predicate decides both the verify broadcast and the driver-side
    // connected components
    import Plans.{fitsDriver, DriverMaxBytes => maxB, DriverMaxRows => maxN}
    assert(fitsDriver(maxN, maxB))
    assert(!fitsDriver(maxN + 1, maxB))
    assert(!fitsDriver(maxN, maxB + 1))
    // a few long documents: far under the row cap, over the byte cap
    assert(!fitsDriver(3, maxB + 1))
    assert(fitsDriver(0, 0))
  }

  private lazy val chain = (0 until 40).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")

  test("empty pairs give empty labels, and every doc survives") {
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(none)
    assert(labels.columns.toSeq === Seq("id", "component"))
    assert(labels.count() === 0L)
    val docs = (0L until 5L).toDF("doc_id")
    assert(Dedup.dropNearDuplicates(docs, none).count() === 5L)
  }

  test("connected components and dropNearDuplicates: exact job counts") {
    // the label rounds: round 1 is computed from the edges, each round's
    // convergence sum comes from its own pin, and joins against the pinned
    // edges and labels plan broadcasts from the start. The 40-edge chain
    // converges in 6 rounds: 2 jobs pin the edges, 3 pin round 1, 4 pin
    // each later round (neighbor-label broadcast, min-agg map stage,
    // pointer-jump broadcast, checkpoint), and the collect is 1 more.
    var comps: Array[org.apache.spark.sql.Row] = null
    val (ccJobs, _) = workOf { comps = Dedup.connectedComponentsByRounds(chain).collect() }
    assert(comps.length === 41 && comps.forall(_.getLong(1) == 0L))
    assert(ccJobs === 26, "connectedComponents jobs, rounds path")
  }

  test("connected components on the driver: exact job counts") {
    // 80 edge rows fit the driver caps: 2 jobs pin the edges and 1 collects
    // them; the labels are a local frame, so collecting them runs no job.
    // Dropping the losers adds 2: the losers' broadcast and the anti-join.
    var comps: Array[org.apache.spark.sql.Row] = null
    val (ccJobs, _) = workOf { comps = Dedup.connectedComponents(chain).collect() }
    assert(comps.length === 41 && comps.forall(_.getLong(1) == 0L))
    assert(ccJobs === 3, "connectedComponents jobs, driver path")
    val docs = (0L until 50L).toDF("doc_id")
    var kept: Array[org.apache.spark.sql.Row] = null
    val (dropJobs, _) = workOf { kept = Dedup.dropNearDuplicates(docs, chain).collect() }
    assert(kept.map(_.getLong(0)).toSet === (0L +: (41L until 50L)).toSet)
    assert(dropJobs === 5, "dropNearDuplicates jobs, driver path")
  }
}
