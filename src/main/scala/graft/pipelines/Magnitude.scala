package graft.pipelines

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.Plans

/**
 * The magnitude pipeline — the reference's collect / aggregate / report
 * commands (SURVEY.md §3, /root/reference/app/cmd/{collect,aggregate,
 * report}.go) re-expressed as three Spark plans over the pages table.
 *
 * Role mapping (SURVEY.md §1.3): `host(url)` plays the reference's domain;
 * the distinct entity fed to HLL is xxh3_64(url) (distinct pages stand in
 * for distinct client networks); `date(warc_ts)` is the reference's UTC
 * collection day — aggregation only ever merges rows of equal date, which
 * the reference enforces with an error (/root/reference/internal/dataset.go:
 * 243-246) and we express as grouping by date.
 *
 * Scale design:
 *  - ONE scan of the source feeds everything: phase-1 partial sketches per
 *    (date, host, salt), then per-host merge, then the global row per date
 *    is merged FROM the per-host sketches (mergeability — the property the
 *    reference proves in AggregateDatasets — means no second scan).
 *  - Hot hosts are salted: `salts` splits a hot key across that many
 *    reducers in phase 1; phase 2 re-merges. AQE doesn't rebalance
 *    aggregation skew, so this is explicit (north_rule).
 *  - Invalid-host rows (host NULL) count toward the global totals but not
 *    per-host stats, matching updateStats (/root/reference/internal/
 *    dataset.go:161-184).
 *  - All aggregates are TypedImperativeAggregates under
 *    ObjectHashAggregateExec with map-side partial aggregation; sketch
 *    bytes stay sparse (6B..10KB) at the shuffle boundary.
 */
object Magnitude {

  /** sketch_state schema: date, host (NULL = the invalid-url bucket, which
    * participates in global totals only), hll, queries. The per-date global
    * sketch is derived, not stored: it is exactly the merge of all rows of
    * that date (register-wise max distributes over set union). */
  final val StateCols = Seq("date", "host", "hll", "queries")

  /** Session tuning for sketch aggregation: ObjectHashAggregateExec demotes
    * to sort-based after a mere 128 distinct groups per partition by
    * default — catastrophic for high-cardinality sketch group-bys (it
    * sort-spills millions of tiny buffers). Sketch buffers are 6B..16KB, so
    * millions of in-memory groups are fine. */
  def tune(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (4 * 1024 * 1024).toString)

  /**
   * collect: pages -> per-(date,host) sketch rows + a global row per date.
   *
   * Skew: map-side partial aggregation is the primary defense — sketches
   * are mergeable, so each map partition emits ONE partial row per (date,
   * host) no matter how hot the host, and a hot reducer key receives at
   * most #map-partitions rows. `salts` > 1 additionally shards a key across
   * reducers for the extreme case where even #map-partitions partials
   * concentrated on one reducer matter (or where per-partition group
   * cardinality forces the partial agg into sort-based mode); it costs one
   * extra shuffle, so it is opt-in, not default.
   *
   * NOTE: set spark.sql.objectHashAggregate.sortBased.fallbackThreshold
   * high (see Magnitude.tune) — the 128-group default demotes the sketch
   * aggregation to sort-based long before memory pressure is real (HLL
   * buffers are 6B..16KB).
   */
  def collect(pages: DataFrame, salts: Int = 1): DataFrame = {
    val base = pages.select(
      to_date(col("warc_ts")).as("date"),
      host_of_url(col("url")).as("host"),
      xxh3_64(col("url")).as("page_hash"))

    // ONE aggregation over ONE scan. Invalid urls (host NULL) form their own
    // bucket so they still count globally, like the reference. The per-date
    // global row is NOT materialized here: deriving it in report() from this
    // (tiny) state is exact by mergeability, whereas emitting it from
    // collect() forced Catalyst to plan the source subtree twice (the
    // host-not-null filter pushed below one union branch's aggregation,
    // making the two exchanges non-identical and defeating ReuseExchange —
    // verified on the physical plan).
    if (salts <= 1) {
      base.groupBy(col("date"), col("host"))
        .agg(hll_build(col("page_hash")).as("hll"), count(lit(1)).as("queries"))
        .select(StateCols.map(col): _*)
    } else {
      // phase 1: partial sketches per (date, host, salt)
      val phase1 = base
        .groupBy(col("date"), col("host"),
          pmod(col("page_hash"), lit(salts)).as("salt"))
        .agg(hll_build(col("page_hash")).as("hll"), count(lit(1)).as("queries"))
      // phase 2: merge salt shards per host
      phase1
        .groupBy(col("date"), col("host"))
        .agg(hll_merge(col("hll")).as("hll"), sum(col("queries")).as("queries"))
        .select(StateCols.map(col): _*)
    }
  }

  /** aggregate: merge many sketch-state tables (the reference's `aggregate`
    * command over CBOR files; here: union + one merge-agg, associative and
    * order-free). */
  def aggregate(states: DataFrame*): DataFrame = {
    val all = states.reduce(_.unionByName(_))
    all.groupBy(col("date"), col("host"))
      .agg(hll_merge(col("hll")).as("hll"), sum(col("queries")).as("queries"))
      .select(StateCols.map(col): _*)
  }

  /** report: per-date magnitude table, reference sort order (ascending
    * floor(magnitude*1000), then host), optional top-N per date kept by
    * highest magnitude (exact top-N — see SURVEY.md §2.3 A6 on the
    * reference's order-dependent incremental truncation, which we
    * deliberately do not replicate). */
  def report(state: DataFrame, topN: Int = 0): DataFrame =
    reportPlan(state, "host", "unique_pages", "queries", "total_unique_pages", "total_queries", topN)

  /** The magnitude report over a sketch state of (date, `key`, hll,
    * queries), shared by this pipeline and [[DnsMagnitude]], which name
    * the same figures differently: per non-NULL key of each date, its
    * estimate (`clients`) and `queries`, the date's totals (`total`,
    * `totalQueries`) merged from the state's rows of that date, the NULL
    * bucket included, and magnitude = ln(clients) / ln(total) * 10. With
    * `topN > 0` each date keeps its top N rows by (magnitude desc, key
    * desc) through [[Plans.topPerGroup]], and the bounded result is sorted
    * in one partition rather than range-partitioned: a global sort samples
    * its child first, which runs the whole report twice. Rows ascend by
    * (date, floor(magnitude * 1000), key). */
  private[pipelines] def reportPlan(state: DataFrame, key: String, clients: String, queries: String,
                                    total: String, totalQueries: String, topN: Int): DataFrame = {
    val perKey = state.filter(col(key).isNotNull)
      .select(col("date"), col(key), hll_est(col("hll")).as(clients), col("queries").as(queries))
    // global totals derived by merging the state (small input: one row per
    // key, not per client) — includes the NULL bucket
    val globals = state
      .groupBy(col("date"))
      .agg(hll_merge(col("hll")).as("hll"), sum(col("queries")).as("queries"))
      .select(col("date"), hll_est(col("hll")).as(total), col("queries").as(totalQueries))
    // one row per date on the right: broadcast equi-join
    val joined = perKey.join(broadcast(globals), Seq("date"))
      .withColumn("magnitude", magnitude(col(clients), col(total)))
    val order = Seq(col("date").asc, floor(col("magnitude") * 1000).asc, col(key).asc)
    if (topN <= 0) joined.orderBy(order: _*)
    else Plans.topPerGroup(joined, Seq(col("date")), Seq(col("magnitude").desc, col(key).desc),
        lit(topN)).drop("__rank")
      .repartition(1).sortWithinPartitions(order: _*)
  }

  // ------------------------- resumable collect -------------------------

  /**
   * Resumable collect with per-source-file lineage (north_rule: "resumable
   * from checkpoint with per-partition lineage + metrics").
   *
   * Unit of work = one source file (stable across runs, unlike partition
   * ids). Each completed file's partial sketch rows land in
   * `ckptDir/partials/src=<id>/` in one atomic task commit; resume lists
   * the already-present lineage ids and processes only the missing files.
   * The final state is one merge-agg over all partials — associativity
   * makes the recombination exact, so a killed-and-resumed run produces
   * byte-identical state to a single run.
   *
   * Returns the merged sketch-state DataFrame.
   */
  def collectResumable(spark: SparkSession, sourceFiles: Seq[String],
                       ckptDir: String, salts: Int = 8,
                       maxConcurrentFiles: Int = 4): DataFrame = {
    val partialsDir = s"$ckptDir/partials"
    val done = listDone(spark, partialsDir)
    val todo = sourceFiles.filterNot(f => done.contains(lineageId(f)))

    // Each file is an independent Spark job; run a bounded number of them
    // concurrently so many-small-files inputs aren't serialized on the
    // driver (Spark's scheduler interleaves jobs from multiple threads).
    // Bounded, because each job holds executors and the lineage write is
    // the only coordination point.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrentFiles, math.max(1, todo.size))))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val jobs = todo.map { file =>
      scala.concurrent.Future {
        val pages = spark.read.parquet(file)
        val t0 = System.nanoTime()
        // one scan per file: the state is tiny, so cache it, derive the
        // lineage row count from it (sum of per-group queries == input rows),
        // and write — no separate count() pass over the source
        val state = collect(pages, salts).cache()
        // coalesce: sum() over an EMPTY source file is NULL, not 0
        val rows = state.agg(coalesce(sum(col("queries")), lit(0L)))
          .collect()(0).getLong(0)
        state
          .withColumn("source_file", lit(file))
          .withColumn("row_count", lit(rows))
          .withColumn("wall_ms", lit((System.nanoTime() - t0) / 1000000L))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$partialsDir/src=${lineageId(file)}")
        state.unpersist()
      }
    }
    try
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(jobs), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()

    val partials = spark.read.parquet(s"$partialsDir/src=*")
    aggregate(partials.select(StateCols.map(col): _*))
  }

  /** Stable lineage id for a source file path. */
  def lineageId(path: String): String =
    java.lang.Long.toHexString(graft.core.hash.XXH3.hashString(path))

  /** Completed lineage ids, listed through the Hadoop FileSystem API so
    * resume works wherever the checkpoint lives (HDFS/object store/local),
    * not only on the driver's local disk. */
  private def listDone(spark: SparkSession, partialsDir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(partialsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("src="))
      .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("src=")).toSet
  }

  /** Convenience: full pipeline pages -> report in one call. */
  def run(pages: DataFrame, topN: Int = 0, salts: Int = 8): DataFrame =
    report(collect(pages, salts), topN)
}
