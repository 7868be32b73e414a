package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

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
    * (/root/reference/internal/dataset.go:161-184) without a second pass. */
  def collect(records: DataFrame, date: java.sql.Date): DataFrame = {
    // honor the source's invalid flag when present (negative/bad counts,
    // unparseable IPs) — the reference hard-errors on these; here they are
    // excluded and countable by the caller (see jobs.DnsMag failOnInvalid)
    val clean =
      if (records.columns.contains("invalid")) records.filter(!col("invalid"))
      else records
    clean.filter(col("hash").isNotNull)
      .groupBy(when(col("domain").isNull || col("domain") === ".",
        lit(null).cast("string")).otherwise(col("domain")).as("domain"))
      .agg(hll_build(col("hash")).as("hll"), sum(col("cnt")).as("queries"))
      .withColumn("date", lit(date))
      .withColumn("version", lit(StateVersion))
      .select(col("date"), col("domain"), col("hll"), col("queries"), col("version"))
  }

  /** aggregate with the reference's strict-date contract and version check
    * (states written before the version column existed count as v1).
    *
    * Eager: the merge runs here, as one Spark action that reads every input
    * once, and the result comes back pinned (`localCheckpoint`), so reports
    * and exports over it never rescan or re-merge the inputs. The versions and
    * dates of the inputs are observed on that same scan and checked before
    * the pinned frame is returned; a bad version or a date mismatch throws
    * from this call. */
  def aggregate(states: Seq[DataFrame], forceDate: Option[java.sql.Date] = None): DataFrame = {
    require(states.nonEmpty, "aggregate needs at least one sketch state " +
      "(pass the states to merge, e.g. one DnsMagCbor.read per .dnsmag file)")
    val seen = Observation()
    val all = states
      .map(s => if (s.columns.contains("version")) s
                else s.withColumn("version", lit(StateVersion)))
      .reduce(_.unionByName(_))
      .observe(seen, collect_set(col("version")).as("versions"),
        collect_set(col("date")).as("dates"))
    val merged = forceDate.fold(all)(d => all.withColumn("date", lit(d)))
      .groupBy(col("date"), col("domain"))
      .agg(hll_merge(col("hll")).as("hll"), sum(col("queries")).as("queries"))
      .withColumn("version", lit(StateVersion))
      .localCheckpoint()
    val observed = seen.get
    val badVersions = observed("versions").asInstanceOf[Seq[Long]]
      .filterNot(_ == StateVersion).sorted
    if (badVersions.nonEmpty)
      throw new IllegalArgumentException(
        s"unsupported sketch_state version(s) ${badVersions.mkString(", ")} " +
        s"(supported: $StateVersion) — refusing to merge")
    val dates = observed("dates").asInstanceOf[Seq[Any]]
    if (forceDate.isEmpty && dates.length > 1)
      throw new IllegalArgumentException(
        s"date mismatch across datasets: ${dates.map(_.toString).sorted.mkString(", ")} " +
        "(use forceDate to override)")
    merged
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
                       forceDate: Option[java.sql.Date] = None): DataFrame = {
    require(states.nonEmpty, "aggregateChunked needs at least one state")
    states.reduceLeft { (acc, next) =>
      materialize(truncateState(aggregate(Seq(acc, next), forceDate), topN))
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
    * (finaliseStats analogue). With `topN > 0` the result is bounded (at
    * most topN rows per date), so it is sorted in one partition rather
    * than range-partitioned: a global sort samples its child first, which
    * runs the whole report twice. */
  def report(state: DataFrame, topN: Int = 0): DataFrame = {
    val perDomain = state.filter(col("domain").isNotNull)
      .select(col("date"), col("domain"),
        hll_est(col("hll")).as("uniqueClients"), col("queries").as("queryVolume"))
    // totals derived from the (small) state incl. the NULL bucket
    val global = state
      .groupBy(col("date"))
      .agg(hll_merge(col("hll")).as("hll"), sum(col("queries")).as("queries"))
      .select(col("date"),
        hll_est(col("hll")).as("totalUniqueClients"),
        col("queries").as("totalQueryVolume"))
    val joined = perDomain.join(broadcast(global), Seq("date"))
      .withColumn("magnitude", magnitude(col("uniqueClients"), col("totalUniqueClients")))
    // two-phase exact top-N (see Magnitude.report: a single per-date window
    // collapses parallelism to #dates)
    val limited =
      if (topN > 0) {
        val wLocal = org.apache.spark.sql.expressions.Window
          .partitionBy(col("date"), col("__pid"))
          .orderBy(col("magnitude").desc, col("domain").desc)
        val local = joined.withColumn("__pid", spark_partition_id())
          .withColumn("__r", row_number().over(wLocal))
          .filter(col("__r") <= topN)
          .drop("__r", "__pid")
        val wGlobal = org.apache.spark.sql.expressions.Window
          .partitionBy(col("date"))
          .orderBy(col("magnitude").desc, col("domain").desc)
        local.withColumn("__r", row_number().over(wGlobal))
          .filter(col("__r") <= topN).drop("__r")
      } else joined
    val order = Seq(col("date").asc, floor(col("magnitude") * 1000).asc, col("domain").asc)
    if (topN > 0) limited.repartition(1).sortWithinPartitions(order: _*)
    else limited.orderBy(order: _*)
  }

  /**
   * Reference report JSON (/root/reference/schema/report-schema.yaml): one
   * document per date. Report cardinality is bounded by top-N (default
   * 2500), so a driver-side encode is the right tool — this is the one
   * deliberate `collect()` in the engine.
   */
  def reportJson(state: DataFrame, source: String, sourceType: String,
                 topN: Int = 2500, generator: String = "graft-spark 0.1.0"): Seq[String] = {
    require(sourceType == "authoritative" || sourceType == "recursive",
      s"sourceType must be authoritative|recursive, got $sourceType") // cmd/report.go:20-29
    val rows = report(state, topN).collect()
    rows.groupBy(_.getAs[java.sql.Date]("date")).toSeq.sortBy(_._1.toString).map {
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
    }
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
