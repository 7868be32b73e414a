package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{CoalesceExec, LeafExecNode, SQLExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shims
import org.apache.spark.util.AccumulatorV2

/** The engine's plan idioms, each written once: pin a frame that several
  * consumers read, widen a narrow input before a per-row kernel, decide
  * whether a pinned table fits the driver, pick the lookup side of a join
  * against a pinned state table, and keep the exact top rows per group. */
private[graft] object Plans {

  /** A pinned frame and the tallies its checkpoint job took: rows, bytes
    * of the materialized UnsafeRows, and the exact sum of the requested
    * long column (zero when none was requested or the frame is empty). */
  final case class Pinned(df: DataFrame, rows: Long, bytes: Long, sum: java.math.BigInteger)

  /** Exact sum of longs: a long partial that spills into a BigInteger on
    * overflow, so a sum over any number of 64-bit values stays exact. */
  private final class BigSum extends AccumulatorV2[Long, java.math.BigInteger] {
    private var big = java.math.BigInteger.ZERO
    private var part = 0L
    override def isZero: Boolean = part == 0L && big.signum == 0
    override def copy(): BigSum = { val c = new BigSum; c.big = big; c.part = part; c }
    override def reset(): Unit = { big = java.math.BigInteger.ZERO; part = 0L }
    override def add(v: Long): Unit = {
      val s = part + v
      if (((part ^ s) & (v ^ s)) < 0) { big = big.add(java.math.BigInteger.valueOf(part)); part = v }
      else part = s
    }
    override def merge(other: AccumulatorV2[Long, java.math.BigInteger]): Unit =
      big = big.add(other.value)
    override def value: java.math.BigInteger = big.add(java.math.BigInteger.valueOf(part))
  }

  /** Materialize + re-root a frame. Catalyst re-expands a referenced
    * subtree at EVERY reference (no cross-reference CSE), so a frame used k
    * times recomputes k times unless pinned. Reliable checkpoint when the
    * session has a checkpoint dir (durable on the shared FS, survives
    * executor loss); localCheckpoint otherwise.
    *
    * ONE job of its own, in one SQL execution as `Dataset.checkpoint` runs
    * it (adaptive execution still submits the frame's shuffle-map stages as
    * their own jobs first), so observations on the frame complete with it.
    * Accumulators in the result stage tally rows, UnsafeRow bytes and, given
    * `sumCol`, the exact sum of one long column: they count once per
    * partition even when a task is retried, so callers read what the pin
    * saw instead of running a count or an aggregate over it.
    *
    * The rows are re-wrapped zero-copy with FRESH attribute ids (graftshim),
    * so the pinned frame can be referenced several times in one plan
    * (self-joins of the same attribute ids trip Catalyst's constraint
    * rewrites), and the relation carries the tallies as exact statistics:
    * joins against a small pin plan a broadcast from the start. Unlike
    * `Dataset.checkpoint` it keeps neither the frame's output partitioning
    * nor its constraints.
    *
    * `label` names the work: it is the call site of the pin's job and of
    * the stages it starts, restored to the caller's afterwards. */
  def pin(df: DataFrame, label: String, sumCol: Option[String] = None): Pinned = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val schema = df.schema
    val sumAt = sumCol.fold(-1)(schema.fieldIndex)
    val rows = sc.longAccumulator
    val bytes = sc.longAccumulator
    val sum = new BigSum
    sc.register(sum)
    val reliable = sc.getCheckpointDir.isDefined
    val cut = execute(df, label, if (reliable) "checkpoint" else "localCheckpoint") { rdd =>
      shims.checkpointNow(rdd.mapPartitions { it =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        it.map { r =>
          val u = (r match { case u: UnsafeRow => u; case _ => toUnsafe(r) }).copy()
          rows.add(1L)
          bytes.add(u.getSizeInBytes.toLong)
          if (sumAt >= 0 && !u.isNullAt(sumAt)) sum.add(u.getLong(sumAt))
          u: InternalRow
        }
      }, reliable)
    }
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"$label: pinned ${rows.sum} rows, ${bytes.sum} bytes")
    Pinned(shims.internalCreateDataFrame(spark, cut, schema, rows.sum, bytes.sum),
      rows.sum, bytes.sum, sum.value)
  }

  /** Run `action` over the rows of `df`'s executed plan, in one SQL
    * execution named `name` (as a Dataset action runs its plan), with
    * `label` as the call site of the jobs and stages it starts. The frame's
    * plan is used as it is, with no Dataset node added above it, so no
    * encoder or typed operator is analyzed or planned, and observations on
    * the frame complete when the execution ends. The rows may be reused
    * `UnsafeRow`s: copy what outlives a row. */
  def execute[T](df: DataFrame, label: String, name: String)(action: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    shims.withCallSite(df.sparkSession.sparkContext, label) {
      SQLExecution.withNewExecutionId(qe, Some(name))(action(qe.executedPlan.execute()))
    }
  }

  /** Scale-adaptive width for per-row kernel stages (BATCH frames only —
    * a streaming plan cannot be planned as a batch): an input narrower
    * than the session's parallelism (locally: one small parquet file = one
    * scan task) runs its codegen'd text kernels — shingling, rolling hashes,
    * fingerprints, tokenizing — in that handful of tasks, serializing the
    * stage that carries most of the operator's CPU. Widen ONLY then: the
    * repartition moves the raw rows once (bytes the kernels were about to
    * read anyway), and an input that already scans wide (the 100-TB case:
    * thousands of splits) pays nothing. The width comes from the physical
    * plan ([[width]]), so deciding runs no job. */
  def widen(df: DataFrame): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    if (width(df.queryExecution.sparkPlan) < para) df.repartition(para) else df
  }

  /** The partition count a physical plan's output stage starts from, read
    * off the plan without executing it. For a plan with no exchange it is
    * the partition count of its RDD: a leaf scan's own count, kept by
    * row-wise operators and the stream side of a broadcast hash join and
    * summed over a union's branches. An explicit repartition or coalesce
    * declares its count. A shuffle that an aggregate or a shuffled join
    * needs is not planned yet, so such a plan takes its inputs' width: the
    * post-shuffle width is only known once adaptive execution has run the
    * shuffle (`df.rdd.getNumPartitions` runs it, and then the plan runs it
    * again). */
  private[graft] def width(plan: SparkPlan): Int = plan match {
    case e: ShuffleExchangeLike => e.numPartitions
    case c: CoalesceExec => math.min(c.numPartitions, width(c.child))
    case u: UnionExec => u.children.map(width).sum
    case j: BroadcastHashJoinExec => width(if (j.buildSide == BuildLeft) j.right else j.left)
    case l: LeafExecNode => l.execute().getNumPartitions
    case p => p.children.map(width).max
  }

  /** Largest pinned table the engine moves to the driver: [[lookupSide]]
    * broadcasts a state table under both caps, and
    * [[Dedup.connectedComponents]] collects its edge list and labels it
    * there; above either cap the state joins by shuffle-hash and the
    * components run as label rounds. Both figures come from the table's pin,
    * so the decision costs no job. Rows alone cannot bound it, since each
    * state row carries whole per-doc arrays: a few thousand book-length
    * documents would pass the row cap and still build a multi-GB hash
    * relation on the driver and every executor. 256 MiB of pinned UnsafeRows
    * stays far under the 8 GB broadcast limit and inside default executor
    * memory. */
  val DriverMaxRows = 65536L
  val DriverMaxBytes = 256L * 1024 * 1024

  /** Does a pinned table of `rows` rows and `bytes` bytes fit on the
    * driver? From the pin's tallies. */
  def fitsDriver(rows: Long, bytes: Long): Boolean =
    rows <= DriverMaxRows && bytes <= DriverMaxBytes

  /** The lookup side of a join that attaches a per-doc state table (sets,
    * weight vectors) to a candidate-pair stream, one call per side.
    *
    * `small` (the state's pin fits the driver): BROADCAST the state, so the
    * candidate stream flows through every lookup in its emission stage,
    * exchanged zero times. Shuffled, the second exchange carries the stream
    * ALREADY WIDENED by the first side's arrays: 1.4 GB at sf0.1 on the
    * sparse-cosine verify for a 70 MB pair list.
    *
    * Otherwise SHUFFLE-HASH with the state as the per-partition build map:
    * the 100-TB path. Never sort-merge, which SORTS the pair-count-sized,
    * array-widened stream: at 100k docs / ~4.5M candidates the sparse-cosine
    * verify spilled 10.4 GB in one stage, and sort-spill I/O capped
    * 4->16-core scaling at ~0.67; the hash join sorts nothing (17.8 s ->
    * 9.5 s at local[16]). */
  def lookupSide(state: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(state) else state.hint("shuffle_hash")

  /** Exact top `limit` rows of each group by `order`, in two phases: rank
    * inside each (group, input partition) and keep `limit`, then rank the
    * at most partitions * limit survivors per group and keep `limit`. One
    * per-group window would sort every row of a group in one task, so a hot
    * group, or a handful of groups (magnitude reports have one per date),
    * funnels the whole input through a few reducers (a per-date window
    * took 105 s on 14M hosts x 4 days; two phases take seconds); the local
    * cut runs in the input's own tasks. `limit` is a column, so each group
    * can carry its own (a per-stratum quota); it must be the same on every
    * row of a group. `order` must be total within a group (end it on a
    * unique key), or rows tied at the cut are kept arbitrarily. The result
    * is the input's columns plus `__rank`, each row's 1-based place in its
    * group. */
  def topPerGroup(df: DataFrame, groups: Seq[Column], order: Seq[Column], limit: Column): DataFrame = {
    val local = df.withColumn("__pid", spark_partition_id())
      .withColumn("__r", row_number().over(Window.partitionBy(groups :+ col("__pid"): _*)
        .orderBy(order: _*)))
      .filter(col("__r") <= limit)
      .drop("__r", "__pid")
    local.withColumn("__rank", row_number().over(Window.partitionBy(groups: _*).orderBy(order: _*)))
      .filter(col("__rank") <= limit)
  }
}
