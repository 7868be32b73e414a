package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.sketch.{Hll, SketchOps}
import graft.functions.GraftFunctions._
import graft.operators.Plans
import scala.jdk.CollectionConverters._

/**
 * The reference-compatible DNS-magnitude pipeline over record tables
 * (client_ip, domain, count) — what `dnsmag collect/aggregate/report` do
 * (/root/reference/app/cmd/collect.go, aggregate.go, report.go), for users
 * replaying the original data
 * shape rather than web pages. Input rows come from [[graft.sources.RecordsCsv]]
 * or any DataFrame with (hash LONG, domain STRING nullable, cnt LONG).
 *
 * Reference semantics preserved:
 *  - global totals count every valid-IP row, including root "." and
 *    invalid domains (/root/reference/internal/dataset.go:161-184);
 *  - per-domain stats exclude "." and invalid domains;
 *  - aggregation requires equal dates (error on mismatch, `forceDate`
 *    overrides — /root/reference/internal/dataset.go:243-246,
 *    store.go:176-185);
 *  - report rows ascend by (floor(magnitude*1000), domain)
 *    (/root/reference/internal/dataset.go:106-134) and magnitude is
 *    deliberately unclamped.
 */
object DnsMagnitude {

  /** Schema version of the parquet sketch_state table. Carried as a column
    * so a future format change is detectable at merge time — the reference
    * refuses to aggregate datasets of unknown versions
    * (/root/reference/internal/dataset.go:238-247); the CBOR boundary
    * enforces the same in DnsMagCodec. */
  final val StateVersion = 1L

  /** collect: records -> sketch state, ONE scan, ONE aggregation: root "."
    * and invalid domains fold into a NULL group key; global totals are
    * derived at report time by merging all groups (HLL union of per-group
    * client sketches == the global client sketch exactly — register-wise
    * max distributes over set union). This reproduces the reference's
    * "count all queries, even invalid ones" semantics
    * (/root/reference/internal/dataset.go:161-184) without a second pass.
    *
    * Rows flagged `invalid` (negative/bad counts, unparseable IPs) are
    * excluded — the reference hard-errors on these; here the caller counts
    * them, e.g. with `observe` (see jobs.DnsMag failOnInvalid).
    *
    * Eager, on one of two paths:
    *  - the records' plan reads files of at most [[DriverMaxInputBytes]]
    *    in total (sizes known from its file index, as for
    *    [[graft.sources.RecordsCsv.read]] and `RecordsPcap.read`), and
    *    `hash`, `domain`, `cnt` and `invalid` (when present) each name one
    *    column of the expected type: one Spark job runs the records' own
    *    executed plan and builds one partial sketch and query sum per
    *    domain per partition, the driver merges them (`Hll.union`,
    *    overflow-checked sums), and the state comes back as a local frame
    *    of [[StateSchema]]. That job is the only query planned: no plan of
    *    the state is built, and `DnsMagCbor.write`, [[aggregate]],
    *    [[report]] and [[reportJson]] then read the local rows with no
    *    query. The job runs in a SQL execution of the records' plan, so an
    *    `observe` on the records completes;
    *  - any other input (larger, unsized, streaming or otherwise shaped)
    *    returns [[collectByPlan]], lazily. */
  def collect(records: DataFrame, date: java.sql.Date): DataFrame =
    if (fitsDriver(records)) collectOnDriver(records, date) else collectByPlan(records, date)

  /** The schema of a collected state, on both paths of [[collect]]. */
  private[graft] val StateSchema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("domain", StringType),
    StructField("hll", BinaryType),
    StructField("queries", LongType),
    StructField("version", LongType, nullable = false)))

  /** Largest input [[collect]] merges on the driver, in file bytes as
    * listed (compressed bytes for gzip). Both paths scan and partially
    * aggregate alike; the driver path saves the exchange, the final
    * aggregate's stage and its job, but merges every partition's partial
    * sketches on one thread, which costs more as sketches turn dense.
    * Measured on 4 cores (`local[4]`, local disk), collect ->
    * `DnsMagCbor.write` of gzip CSV in 8 files over about 1,500 domains,
    * driver vs plan, median of 5 to 7 warm runs: 0.3 MB 0.23 vs 0.24 s;
    * 3.5 MB 0.59 vs 0.65 s; 7.1 MB 1.07 vs 1.14 s; 10 MB 1.23 vs 1.23 s,
    * the crossover; 14.5 MB 1.83 vs 1.53 s; 61 MB 5.25 vs 4.86 s. In 256
    * files, 4.6 MB took 0.88 vs 0.90 s. */
  private[graft] val DriverMaxInputBytes = 8L * 1024 * 1024

  /** The records' columns [[collectOnDriver]] reads, each `name ->
    * type`; `invalid` is optional. */
  private val RecordColumns = Seq("domain" -> StringType, "hash" -> LongType, "cnt" -> LongType)

  /** The position of `name` in `schema` when exactly one column resolves
    * to it, spelled `name` and of type `t`. Otherwise (absent, ambiguous,
    * spelled differently or of another type) the plan path resolves the
    * name, or fails as it always has. */
  private def position(schema: StructType, name: String, t: DataType): Option[Int] =
    schema.fields.indices.filter(i => schema(i).name.equalsIgnoreCase(name)) match {
      case Seq(i) if schema(i).name == name && schema(i).dataType == t => Some(i)
      case _ => None
    }

  private def fitsDriver(records: DataFrame): Boolean = {
    val schema = records.schema
    !records.isStreaming &&
      RecordColumns.forall { case (name, t) => position(schema, name, t).isDefined } &&
      (!schema.fieldNames.exists(_.equalsIgnoreCase("invalid")) ||
        position(schema, "invalid", BooleanType).isDefined) &&
      shims.inputFileBytes(records).exists(_ <= DriverMaxInputBytes)
  }

  /** The rows that count: valid, with a client hash. */
  private def counted(records: DataFrame): DataFrame = {
    val clean =
      if (records.columns.contains("invalid")) records.filter(!col("invalid"))
      else records
    clean.filter(col("hash").isNotNull)
  }

  /** The group key: root "." and invalid (NULL) domains share the NULL key. */
  private def domainKey: Column =
    when(col("domain").isNull || col("domain") === ".", lit(null).cast("string"))
      .otherwise(col("domain")).as("domain")

  /** [[collect]] as a lazy Spark plan whatever the input: a partial and a
    * final aggregate around one exchange. */
  private[graft] def collectByPlan(records: DataFrame, date: java.sql.Date): DataFrame =
    counted(records)
      .groupBy(domainKey)
      .agg(hll_build(col("hash")).as("hll"), sum(col("cnt")).as("queries"))
      .withColumn("date", lit(date))
      .withColumn("version", lit(StateVersion))
      .select(col("date"), col("domain"), col("hll"), col("queries"), col("version"))

  /** One domain's sketch and query sum within a partition. */
  private final class Partial {
    val hll: Hll = Hll()
    var queries: java.lang.Long = null
  }

  private val Root = UTF8String.fromString(".")

  /** Per partition: one sketch and query sum per domain, over the records'
    * rows as their plan emits them, `domain`, `hash` and `cnt` at
    * `d`, `h` and `c` and `invalid` at `inv` (-1: no such column). This
    * loop is [[counted]] and [[domainKey]]: it drops a row whose `invalid`
    * is true or NULL or whose `hash` is NULL, and keys root "." and NULL
    * domains alike as NULL. */
  private def partials(d: Int, h: Int, c: Int, inv: Int)(rows: Iterator[InternalRow])
      : Iterator[(UTF8String, Array[Byte], java.lang.Long)] = {
    val groups = new java.util.HashMap[UTF8String, Partial]
    rows.foreach { r =>
      if ((inv < 0 || !(r.isNullAt(inv) || r.getBoolean(inv))) && !r.isNullAt(h)) {
        val domain =
          if (r.isNullAt(d)) null
          else { val s = r.getUTF8String(d); if (s == Root) null else s }
        var p = groups.get(domain)
        if (p == null) {
          p = new Partial
          groups.put(if (domain == null) null else domain.clone(), p)
        }
        p.hll.addRaw(r.getLong(h))
        if (!r.isNullAt(c)) {
          val cnt = r.getLong(c)
          p.queries = if (p.queries == null) cnt else Math.addExact(p.queries.longValue, cnt)
        }
      }
    }
    groups.asScala.iterator.map { case (d, p) => (d, p.hll.toBytes, p.queries) }
  }

  /** [[collect]] of small records: partial sketches per partition in one
    * job over the records' executed plan, merged on the driver into a
    * local frame of [[StateSchema]]. */
  private def collectOnDriver(records: DataFrame, date: java.sql.Date): DataFrame = {
    val schema = records.schema
    val Seq(d, h, c) = RecordColumns.map { case (name, t) => position(schema, name, t).get }
    val inv = position(schema, "invalid", BooleanType).getOrElse(-1)
    val merged = Plans.execute(records, "DnsMagnitude.collect partials", "collect") {
      _.mapPartitions(partials(d, h, c, inv)).collect()
    }.groupBy(_._1)
    val day = DateTimeUtils.fromJavaDate(date)
    shims.localFrame(records.sparkSession, StateSchema, merged.toSeq.map { case (domain, ps) =>
      new GenericInternalRow(Array[Any](day, domain,
        mergeHll(ps.map(_._2)).toBytes, sumQueries(ps.map(_._3)), StateVersion)): InternalRow
    })
  }

  /** aggregate with the reference's strict-date contract and version check
    * (states written before the version column existed count as v1).
    *
    * Eager, on one of two paths:
    *  - every input is local (a bare LocalRelation with the state's column
    *    types, as [[graft.io.DnsMagCbor.read]] returns for small files): the
    *    merge runs on the driver, `hll_merge` and overflow-checked `sum`
    *    semantics per (date, domain), and the result is a local frame, so
    *    the whole `.dnsmag` finish runs no Spark job;
    *  - otherwise [[aggregateByPlan]]: one Spark action reads every input
    *    once and the result comes back pinned (`Plans.pin`), so reports and
    *    exports over it never rescan or re-merge the inputs.
    * Both paths check the versions and dates of the inputs before returning
    * and fail with the same messages; a bad version or a date mismatch
    * throws from this call. */
  def aggregate(states: Seq[DataFrame], forceDate: Option[java.sql.Date] = None): DataFrame =
    merge(states, forceDate).state

  /** A merged state and what the merge read and wrote: the state rows of
    * all its inputs and the rows out. They are read off what the merge
    * already holds on the driver (local rows, or the plan path's
    * observation and pin tally), so taking them runs no job. None where
    * no merge ran and the rows are not on the driver: a single non-local
    * input to [[aggregateChunked]], which returns it as it is. */
  private[graft] final case class Merged(state: DataFrame, rowsIn: Option[Long],
                                         rowsOut: Option[Long])

  /** [[aggregate]], with its row counts. */
  private[graft] def merge(states: Seq[DataFrame], forceDate: Option[java.sql.Date]): Merged = {
    require(states.nonEmpty, "aggregate needs at least one sketch state " +
      "(pass the states to merge, e.g. one DnsMagCbor.read per .dnsmag file)")
    val local = states.map(localState)
    if (local.forall(_.isDefined)) aggregateOnDriver(states.head.sparkSession,
      local.flatten, forceDate.map(DateTimeUtils.fromJavaDate))
    else mergeByPlan(states, forceDate)
  }

  /** [[aggregate]] as one Spark action whatever the inputs: the merge reads
    * every input once and is pinned; the versions and dates are observed on
    * that same scan. */
  private[graft] def aggregateByPlan(states: Seq[DataFrame],
                                     forceDate: Option[java.sql.Date] = None): DataFrame =
    mergeByPlan(states, forceDate).state

  private def mergeByPlan(states: Seq[DataFrame], forceDate: Option[java.sql.Date]): Merged = {
    val seen = Observation()
    val all = states
      .map(s => if (s.columns.contains("version")) s
                else s.withColumn("version", lit(StateVersion)))
      .reduce(_.unionByName(_))
      .observe(seen, collect_set(col("version")).as("versions"),
        collect_set(col("date")).as("dates"), count(lit(1)).as("rows"))
    val merged = Plans.pin(forceDate.fold(all)(d => all.withColumn("date", lit(d)))
      .groupBy(col("date"), col("domain"))
      .agg(hll_merge(col("hll")).as("hll"), sum(col("queries")).as("queries"))
      .withColumn("version", lit(StateVersion)), "DnsMagnitude.aggregate merged")
    // a plan the optimizer proves empty drops the observation: no rows seen
    val observed = seen.get
    checkInputs(observed.getOrElse("versions", Nil).asInstanceOf[Seq[Long]],
      observed.getOrElse("dates", Nil).asInstanceOf[Seq[Any]].map(_.toString), forceDate.isDefined)
    Merged(merged.df, Some(observed.getOrElse("rows", 0L).asInstanceOf[Long]), Some(merged.rows))
  }

  /** The reference refuses unknown versions and, unless a date is forced,
    * datasets of different dates. */
  private def checkInputs(versions: Seq[Long], dates: Seq[String], forced: Boolean): Unit = {
    val badVersions = versions.filterNot(_ == StateVersion).sorted
    if (badVersions.nonEmpty)
      throw new IllegalArgumentException(
        s"unsupported sketch_state version(s) ${badVersions.mkString(", ")} " +
        s"(supported: $StateVersion) — refusing to merge")
    if (!forced && dates.length > 1)
      throw new IllegalArgumentException(
        s"date mismatch across datasets: ${dates.sorted.mkString(", ")} " +
        "(use forceDate to override)")
  }

  /** One state row held on the driver; null where the column is NULL (and
    * `version` where the state has no such column). */
  private final case class StateRow(date: Integer, domain: UTF8String, hll: Array[Byte],
                                    queries: java.lang.Long, version: java.lang.Long)

  /** A local state: the schema and rows of a bare LocalRelation with the
    * state's columns and types (`version` optional). None for any other
    * frame, which then takes the plan path. */
  private def localState(state: DataFrame): Option[(StructType, Seq[StateRow])] =
    shims.localRows(state).flatMap { case (schema, rows) =>
      def index(name: String) = Some(schema.fieldNames.indexOf(name)).filter(_ >= 0)
      def at(name: String, t: DataType) = index(name).filter(i => schema(i).dataType == t)
      val version = index("version")
      for {
        d <- at("date", DateType); n <- at("domain", StringType)
        h <- at("hll", BinaryType); q <- at("queries", LongType)
        if version.forall(i => schema(i).dataType == LongType)
      } yield (schema, rows.map { r =>
        StateRow(if (r.isNullAt(d)) null else r.getInt(d),
          if (r.isNullAt(n)) null else r.getUTF8String(n),
          if (r.isNullAt(h)) null else r.getBinary(h),
          if (r.isNullAt(q)) null else r.getLong(q),
          version.filterNot(r.isNullAt).map(i => java.lang.Long.valueOf(r.getLong(i))).orNull)
      })
    }

  /** `hll_merge`: the union of the non-null sketches, an empty sketch when
    * there are none. */
  private def mergeHll(sketches: Iterable[Array[Byte]]): Hll =
    Option(sketches.foldLeft(null: Hll) { (merged, b) =>
      if (b == null) merged
      else if (merged == null) Hll.fromBytes(b)
      else { merged.union(Hll.fromBytes(b)); merged }
    }).getOrElse(Hll())

  /** `sum` of longs under ANSI: nulls skipped, null when all are, an
    * overflow fails. */
  private def sumQueries(queries: Iterable[java.lang.Long]): java.lang.Long =
    queries.foldLeft(null: java.lang.Long) { (acc, q) =>
      if (q == null) acc else if (acc == null) q else Math.addExact(acc.longValue, q.longValue)
    }

  /** [[aggregate]] of local states, on the driver. */
  private def aggregateOnDriver(spark: SparkSession, states: Seq[(StructType, Seq[StateRow])],
                                forceDate: Option[Int]): Merged = {
    val rows = states.flatMap(_._2)
    checkInputs(rows.flatMap(r => Option(r.version)).map(_.longValue).distinct,
      rows.flatMap(r => Option(r.date)).distinct.map(d => DateTimeUtils.toJavaDate(d).toString),
      forceDate.isDefined)
    val groups = rows.groupBy(r => (forceDate.fold(r.date)(Int.box), r.domain))
    def nullable(name: String) = states.exists { case (schema, _) => schema(name).nullable }
    val schema = StructType(Seq(
      StructField("date", DateType, forceDate.isEmpty && nullable("date")),
      StructField("domain", StringType, nullable("domain")),
      StructField("hll", BinaryType),
      StructField("queries", LongType),
      StructField("version", LongType, nullable = false)))
    Merged(shims.localFrame(spark, schema, groups.toSeq.map { case ((date, domain), rs) =>
      new GenericInternalRow(Array[Any](date, domain, mergeHll(rs.map(_.hll)).toBytes,
        sumQueries(rs.map(_.queries)), StateVersion)): InternalRow
    }), Some(rows.size.toLong), Some(groups.size.toLong))
  }

  /**
   * A4 — the reference's CHUNKED incremental aggregation: datasets fold in
   * sequence with a top-N truncation between chunks (DatasetSequence
   * .addDataset, /root/reference/internal/store.go:176-207 + Truncate,
   * dataset.go:137-153; the `aggregate` CLI always runs this with
   * --top 2500). This is an order-DEPENDENT approximation — a domain
   * dropped early cannot re-enter with its early clients — offered for
   * behavioural parity with chunked CLI runs; [[aggregate]] is the exact,
   * order-free path and remains the default.
   *
   * Divergence-free globals: the reference keeps AllClientsHll/AllQueries
   * outside the truncated domains map, so truncation never affects totals.
   * Our state derives totals by merging all rows, so dropped domain rows
   * fold into the NULL bucket — totals stay exact by HLL mergeability.
   *
   * Each step materializes to the driver: the truncated state is bounded by
   * topN+1 rows per date (the same in-memory bound the reference CLI
   * carries), which also keeps the per-step Spark plan shallow.
   */
  def aggregateChunked(states: Seq[DataFrame], topN: Int = 2500,
                       forceDate: Option[java.sql.Date] = None): DataFrame =
    mergeChunked(states, topN, forceDate).state

  /** [[aggregateChunked]], with its row counts. Each step re-reads the
    * previous step's rows, so the rows in are each step's rows in less the
    * rows it took from the step before. */
  private[graft] def mergeChunked(states: Seq[DataFrame], topN: Int,
                                  forceDate: Option[java.sql.Date]): Merged = {
    require(states.nonEmpty, "aggregateChunked needs at least one state")
    val first = shims.localRows(states.head).map(_._2.size.toLong)
    states.tail.foldLeft(Merged(states.head, first, first)) { (acc, next) =>
      val step = merge(Seq(acc.state, next), forceDate)
      val out = materialize(truncateState(step.state, topN))
      val carried = acc.rowsIn.zip(acc.rowsOut).fold(0L) { case (in, out) => in - out }
      Merged(out, step.rowsIn.map(_ + carried), shims.localRows(out).map(_._2.size.toLong))
    }
  }

  /** Keep the top-N domains per date by the reference's truncation order —
    * ascending (int(magnitude*1000), domain), keep the LAST N
    * (dataset.go:106-153) — folding dropped rows into the NULL bucket. */
  def truncateState(state: DataFrame, topN: Int): DataFrame = {
    if (topN <= 0) return state
    val doms = state.filter(col("domain").isNotNull)
    val global = state.groupBy(col("date"))
      .agg(hll_est(hll_merge(col("hll"))).as("__total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("date"))
      .orderBy(floor(magnitude(hll_est(col("hll")), col("__total")) * 1000).desc,
        col("domain").desc)
    val ranked = doms.join(broadcast(global), "date")
      .withColumn("__r", row_number().over(w))
    val kept = ranked.filter(col("__r") <= topN)
      .select(col("date"), col("domain"), col("hll"), col("queries"), col("version"))
    val residual = ranked.filter(col("__r") > topN)
      .select(col("date"), col("domain"), col("hll"), col("queries"), col("version"))
      .unionByName(state.filter(col("domain").isNull))
      .groupBy(col("date"))
      .agg(hll_merge(col("hll")).as("hll"), sum(col("queries")).as("queries"))
      .select(col("date"), lit(null).cast("string").as("domain"),
        col("hll"), col("queries"), lit(StateVersion).as("version"))
    kept.unionByName(residual)
  }

  /** Driver-side materialization of a (bounded) state — used between
    * chunked-aggregation steps to keep plans shallow. */
  private def materialize(state: DataFrame): DataFrame = {
    val spark = state.sparkSession
    val cols = Seq("date", "domain", "hll", "queries", "version")
    val rows = state.select(cols.map(col): _*).collect()
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(rows: _*)),
      state.select(cols.map(col): _*).schema)
  }

  /** report rows in reference order; estimates finalised here
    * (finaliseStats analogue): per domain row of each date, its estimate
    * and queries, the date's totals (every row of the date, the NULL
    * bucket included), and magnitude = ln(clients) / ln(total) * 10. With
    * `topN > 0` each date keeps its top N rows by (magnitude desc, domain
    * desc).
    *
    * A local state (a bare LocalRelation with the state's column types, as
    * [[aggregate]] and [[graft.io.DnsMagCbor.read]] return for small
    * inputs) is reported on the driver into a local frame of the same
    * schema, so collecting it runs no Spark job; any other state goes
    * through [[reportByPlan]]. */
  def report(state: DataFrame, topN: Int = 0): DataFrame =
    localState(state).fold(reportByPlan(state, topN)) { case (schema, rows) =>
      reportOnDriver(state.sparkSession, schema, rows, topN)
    }

  /** [[report]] as a Spark plan whatever the state: the shared magnitude
    * report plan ([[Magnitude.reportPlan]]) under this pipeline's names. */
  private[graft] def reportByPlan(state: DataFrame, topN: Int = 0): DataFrame =
    Magnitude.reportPlan(state, "domain", "uniqueClients", "queryVolume",
      "totalUniqueClients", "totalQueryVolume", topN)

  /** One report row on the driver (null: SQL NULL). */
  private final case class ReportRow(date: Int, domain: UTF8String, clients: java.lang.Long,
      queries: java.lang.Long, total: Long, totalQueries: java.lang.Long,
      magnitude: java.lang.Double) {
    def toRow: InternalRow = new GenericInternalRow(
      Array[Any](date, domain, clients, queries, total, totalQueries, magnitude))
    /** floor(magnitude * 1000), the reference's sort key */
    def milli: java.lang.Long =
      if (magnitude == null) null else Math.floor(magnitude * 1000).toLong
  }

  /** Spark's order of doubles: NaN above everything, -0.0 equal to 0.0. */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** ascending, NULLS FIRST (Spark's default for `asc`) */
  private def cmpNullsFirst[T](a: T, b: T)(cmp: (T, T) => Int): Int =
    if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1 else cmp(a, b)

  /** The top-N window: magnitude desc (NULLS LAST), then domain desc. */
  private val ByRank: Ordering[ReportRow] = (a, b) => {
    val m = cmpNullsFirst(b.magnitude, a.magnitude)((x, y) => cmpDouble(x, y))
    if (m != 0) m else b.domain.binaryCompare(a.domain)
  }

  /** The report's order: date, floor(magnitude * 1000) NULLS FIRST, domain. */
  private val ByReference: Ordering[ReportRow] = (a, b) => {
    val d = Integer.compare(a.date, b.date)
    if (d != 0) d else {
      val m = cmpNullsFirst(a.milli, b.milli)((x, y) => java.lang.Long.compare(x, y))
      if (m != 0) m else a.domain.binaryCompare(b.domain)
    }
  }

  /** `magnitude(clients, total)` as Spark computes it: `log` of a value
    * <= 0 is NULL, `log` is StrictMath.log. `total` is never 1, where
    * Spark's division would fail: `hll_est` ceils its estimate, and a
    * sketch of one client estimates m * ln(m / (m - 1)) > 1, so 2. */
  private def magnitudeOf(clients: java.lang.Long, total: Long): java.lang.Double =
    if (total <= 0 || clients == null || clients <= 0) null
    else StrictMath.log(clients.toDouble) / StrictMath.log(total.toDouble) * 10.0

  /** [[report]] of a local state, on the driver. The schema is the one
    * [[reportByPlan]] gives the same state. */
  private def reportOnDriver(spark: SparkSession, state: StructType, rows: Seq[StateRow],
                             topN: Int): DataFrame = {
    val dated = rows.filter(_.date != null).groupBy(_.date.intValue)
    val out = dated.toSeq.flatMap { case (date, rs) =>
      val domains = rs.filter(_.domain != null)
      if (domains.isEmpty) Nil else {
        val total = mergeHll(rs.map(_.hll)).estimate
        val totalQueries = sumQueries(rs.map(_.queries))
        val ranked = domains.map { r =>
          val clients = if (r.hll == null) null else java.lang.Long.valueOf(SketchOps.hllEst(r.hll))
          ReportRow(date, r.domain, clients, r.queries, total, totalQueries,
            magnitudeOf(clients, total))
        }
        if (topN > 0) ranked.sorted(ByRank).take(topN) else ranked
      }
    }.sorted(ByReference)
    val schema = StructType(Seq(
      StructField("date", DateType, state("date").nullable),
      StructField("domain", StringType, state("domain").nullable),
      StructField("uniqueClients", LongType, state("hll").nullable),
      StructField("queryVolume", LongType, state("queries").nullable),
      StructField("totalUniqueClients", LongType),
      StructField("totalQueryVolume", LongType),
      StructField("magnitude", DoubleType)))
    shims.localFrame(spark, schema, out.map(_.toRow))
  }

  /**
   * Reference report JSON (/root/reference/schema/report-schema.yaml): one
   * document per date. Report cardinality is bounded by top-N (default
   * 2500), so a driver-side encode is the right tool — this is the one
   * deliberate `collect()` in the engine. A local state (as [[collect]],
   * [[aggregate]] and [[graft.io.DnsMagCbor.read]] return for small inputs)
   * is reported on the driver and its rows are read with no query; any
   * other state runs the report plan and collects it.
   */
  def reportJson(state: DataFrame, source: String, sourceType: String,
                 topN: Int = 2500, generator: String = "graft-spark 0.1.0"): Seq[String] =
    reportDocs(state, source, sourceType, topN, generator).docs

  /** [[reportJson]]'s documents, one per date, and the report rows they
    * hold. */
  private[graft] final case class ReportDocs(docs: Seq[String], rows: Int)

  private[graft] def reportDocs(state: DataFrame, source: String, sourceType: String,
                                topN: Int, generator: String = "graft-spark 0.1.0"): ReportDocs = {
    require(sourceType == "authoritative" || sourceType == "recursive",
      s"sourceType must be authoritative|recursive, got $sourceType") // cmd/report.go:20-29
    val rep = report(state, topN)
    val rows = shims.localSelect(rep, rep.columns.toSeq).getOrElse(rep.collect())
    ReportDocs(rows.groupBy(_.getAs[java.sql.Date]("date")).toSeq.sortBy(_._1.toString).map {
      case (date, rs) =>
        val sb = new StringBuilder
        def esc(s: String) = s.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        }
        sb.append("{")
        sb.append(s""""id":"${java.util.UUID.nameUUIDFromBytes((date.toString + source).getBytes)}",""")
        sb.append(s""""generator":"${esc(generator)}",""")
        sb.append(s""""date":"${date}",""")
        sb.append(s""""source":"${esc(source)}",""")
        sb.append(s""""sourceType":"$sourceType",""")
        sb.append(s""""totalUniqueClients":${rs.head.getAs[Long]("totalUniqueClients")},""")
        sb.append(s""""totalQueryVolume":${rs.head.getAs[Long]("totalQueryVolume")},""")
        sb.append(""""magnitudeData":[""")
        sb.append(rs.map { r =>
          s"""{"domain":"${esc(r.getAs[String]("domain"))}",""" +
          s""""magnitude":${r.getAs[Double]("magnitude")},""" +
          s""""uniqueClients":${r.getAs[Long]("uniqueClients")},""" +
          s""""queryVolume":${r.getAs[Long]("queryVolume")}}"""
        }.mkString(","))
        sb.append("]}")
        sb.toString
    }, rows.length)
  }

  /** JSON stats view — the reference's `view --json`
    * (OutputDatasetStatsJSON, /root/reference/internal/stats.go:209-230):
    * one `{"datasetStatistics": {...}}` document per date, with the same
    * field names. Totals derive from the (small) state by merging all rows
    * of the date; domain count excludes the NULL (invalid/root) bucket. */
  def statsJson(state: DataFrame, generator: String = "graft-spark 0.1.0"): String = {
    val rows = state
      .groupBy(col("date"))
      .agg(hll_est(hll_merge(col("hll"))).as("totalUniqueClients"),
        sum(col("queries")).as("totalQueryVolume"),
        count(when(col("domain").isNotNull, 1)).as("totalDomainCount"))
      .orderBy(col("date"))
      .collect()
    rows.map { r =>
      val date = r.getAs[java.sql.Date]("date")
      val id = java.util.UUID.nameUUIDFromBytes((date.toString + generator).getBytes)
      s"""{"datasetStatistics":{"id":"$id","generator":"$generator",""" +
        s""""date":"$date","totalUniqueClients":${r.getAs[Long]("totalUniqueClients")},""" +
        s""""totalQueryVolume":${r.getAs[Long]("totalQueryVolume")},""" +
        s""""totalDomainCount":${r.getAs[Long]("totalDomainCount")}}}"""
    }.mkString("\n")
  }

  /** Text stats view (the reference's `view` command, stats.go:179-230):
    * aligned table of domains + totals with the estimate-vs-volume
    * formatting. Driver-side; debugging aid. */
  def statsText(state: DataFrame, topN: Int = 20): String = {
    val rows = report(state, topN).collect()
    val sb = new StringBuilder
    sb.append(f"${"domain"}%-30s ${"magnitude"}%12s ${"clients"}%10s ${"queries"}%10s%n")
    rows.foreach { r =>
      sb.append(f"${r.getAs[String]("domain")}%-30s ${r.getAs[Double]("magnitude")}%12.4f " +
        f"${r.getAs[Long]("uniqueClients")}%10d ${r.getAs[Long]("queryVolume")}%10d%n")
    }
    rows.headOption.foreach { r =>
      sb.append(f"%nTotal clients (estimated): ${r.getAs[Long]("totalUniqueClients")}%d%n")
      sb.append(f"Total queries: ${r.getAs[Long]("totalQueryVolume")}%d%n")
    }
    sb.toString
  }
}
