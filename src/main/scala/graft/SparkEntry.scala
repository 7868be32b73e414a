package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.{Ann, Dedup, Joins, Multimodal, Plans}

/**
 * Driver contract (see SURVEY.md §2 for the operator inventory each query
 * covers). Three kinds of entries:
 *
 *  1. exact queries — engine operators whose results are bit-stable and
 *     SQL-expressible; oracled 1:1 in DuckDB.
 *  2. violation queries — sketch-accuracy assertions phrased as "SELECT the
 *     rows that violate the published bound"; the oracle is the empty
 *     relation. The bound must hold deterministically on this fixed data
 *     (sketches are deterministic), so any row is a genuine regression.
 *  3. rows-only queries (no oracleSql) — operators whose outputs are not
 *     ANSI-SQL-expressible; their correctness is pinned in ScalaTest
 *     against exact baselines instead. (Currently none: the last one,
 *     simhash, is now a violation query over planted bit-flip twins plus a
 *     subset brute force.)
 */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Stable scratch directory for gates that materialize an intermediate
    * artifact (WARC archive, .dnsmag export): keyed by SF dir + gate name
    * + PID, so repeated invocations WITHIN a process (bench reps, verify
    * cycles) overwrite one path instead of leaking a corpus-sized dir per
    * run, while two concurrent JVMs on the same SF dir (bench in one
    * terminal, verify in another) cannot clobber each other's archives
    * mid-read. The dir is deleted when its JVM exits; the dirs of JVMs
    * that were killed are reclaimed opportunistically past a 24 h mtime
    * horizon (the WarcWrite.sweepStaleTemp discipline). */
  private def gateScratch(sfDir: String, gate: String): String = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val prefix = f"graft_gate_${gate}%s_${math.abs(sfDir.hashCode)}%x_"
    val horizon = System.currentTimeMillis() - 24L * 3600 * 1000
    try {
      val it = java.nio.file.Files.list(tmp).iterator()
      while (it.hasNext) {
        val d = it.next()
        if (d.getFileName.toString.startsWith(prefix) &&
          java.nio.file.Files.getLastModifiedTime(d).toMillis < horizon)
          org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
      }
    } catch { case _: java.io.IOException => () }
    val p = tmp.resolve(prefix + ProcessHandle.current().pid())
    java.nio.file.Files.createDirectories(p)
    org.apache.spark.sql.graftshim.shims.deleteAtExit(p.toFile)
    p.toString
  }

  /** A violation query's rows: each named branch's rows tagged with its
    * name in a `violation` column (appended last), the branches unioned by
    * name in the order given. */
  private def violations(branches: (String, DataFrame)*): DataFrame =
    branches.map { case (name, df) => df.withColumn("violation", lit(name)) }
      .reduce(_.unionByName(_))

  /** The multiset difference of two frames both ways, as violation rows:
    * rows of `a` not in `b` tagged `missed`, rows of `b` not in `a` tagged
    * `extra` (a row held k times more on one side shows k times). Empty iff
    * both hold the same rows, each as often. */
  private def mismatches(a: DataFrame, b: DataFrame, missed: String, extra: String): DataFrame =
    violations(missed -> a.exceptAll(b), extra -> b.exceptAll(a))

  /** The sampling gates' violation rows, in (lang, violation) order: the
    * gate's own check `own`; `quota` where the per-lang row count of
    * `sample` differs from `want` (lang, want); `determinism` for each row
    * that `sample` and `resample` (the same sampler over a repartitioned
    * input) do not share. */
  private def samplerViolations(sample: DataFrame, resample: DataFrame, want: DataFrame,
                                own: (String, DataFrame)): DataFrame =
    violations(
        "quota" -> want.join(sample.groupBy(col("lang")).agg(count(lit(1)).as("got")),
            Seq("lang"), "full_outer")
          .filter(coalesce(col("got"), lit(0L)) =!= coalesce(col("want"), lit(0L)))
          .select(col("lang")),
        own)
      .unionByName(mismatches(sample.select(col("doc_id"), col("lang")),
        resample.select(col("doc_id"), col("lang")), "determinism", "determinism").drop("doc_id"))
      .orderBy(col("lang"), col("violation"))

  /** Subset exactness of a Hamming pair join over signatures (id, sig):
    * on the signatures whose id passes `inSubset`, the operator's `found`
    * pairs (id_a, id_b, hamming) equal a brute-force bit_count self-join
    * within `maxH` — `subset_missed` / `subset_extra` rows of (id_a, id_b,
    * violation) otherwise. */
  private def hammingSubsetMismatches(sigs: DataFrame, found: DataFrame, maxH: Int,
                                      inSubset: Column => Column): DataFrame = {
    val sub = sigs.filter(inSubset(col("id")))
    val brute = sub.as("a").join(sub.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxH)
    val foundSub = found.filter(inSubset(col("id_a")) && inSubset(col("id_b")))
      .select(col("id_a"), col("id_b"), col("hamming"))
    mismatches(brute, foundSub, "subset_missed", "subset_extra").drop("hamming")
  }

  /** The documents the packing gates pack: a token count and one of 16
    * buckets per doc. */
  private def packDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "documents"))
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", pmod(col("doc_id"), lit(16)))

  /** The packing gates' violation rows over a packer's pinned (bucket,
    * pack_id, total, n) summary, in (bucket, pack_id, violation) order:
    * the packer's own check `own` plus the three both packers share —
    * (a) pack totals <= budget unless the pack is one oversized doc;
    * (c) pack ids dense from 0 per bucket; (d) every doc packed once. */
  private def packViolations(packAgg: DataFrame, docs: DataFrame, budget: Long,
                             own: (String, DataFrame)): DataFrame =
    violations(
      "over_budget" -> packAgg.filter(col("total") > budget && col("n") > 1)
        .select(col("bucket"), col("pack_id")),
      own,
      "density" -> packAgg.groupBy(col("bucket"))
        .agg(count(lit(1)).as("np"), // one packAgg row per (bucket, pack)
          max(col("pack_id")).as("mx"), min(col("pack_id")).as("mn"))
        .filter(col("np") =!= col("mx") + 1 || col("mn") =!= 0)
        .select(col("bucket"), lit(-1L).as("pack_id")),
      "cardinality" -> packAgg.agg(sum(col("n")).as("n")) // total docs packed
        .crossJoin(docs.agg(count(lit(1)).as("m")))
        .filter(col("n") =!= col("m"))
        .select(lit(-1L).as("bucket"), lit(-1L).as("pack_id")))
      .orderBy(col("bucket"), col("pack_id"), col("violation"))

  /** Flagship: the full magnitude pipeline (collect -> aggregate -> report)
    * over the synthetic Common-Crawl-style pages table. */
  def entry(spark: SparkSession): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val pages = graft.sources.Pages.generateDf(spark, 20000, hosts = 300, days = 3, partitions = 8)
    graft.pipelines.Magnitude.run(pages, topN = 100, salts = 8)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- core relational operators ----------------
    "q_agg_pushdown" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          // decimal sum: exact and order-independent across partitionings
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          round(avg(col("l_discount")), 9).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q_join_broadcast" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),
    "q_join_3way" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      val n = s.read.parquet(t(dir, "nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(22,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),
    "q_window_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(t(dir, "orders"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q_semi_anti" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val o = s.read.parquet(t(dir, "orders"))
      val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_no_orders"))
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
      without.join(withO, Seq("c_mktsegment"), "full_outer")
        .na.fill(0L)
        .orderBy(col("c_mktsegment"))
    }),
    "q_rollup" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q_cube" -> ((s, dir) => {
      s.read.parquet(t(dir, "orders"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),
    "q_set_ops" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      val clickers = ev.filter(col("event_type") === "click").select(col("user_id")).distinct()
      val buyers = ev.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
      val both = clickers.intersect(buyers).withColumn("rel", lit("both"))
      val clickOnly = clickers.except(buyers).withColumn("rel", lit("click_only"))
      val either = clickers.union(buyers).distinct().withColumn("rel", lit("either"))
      both.unionByName(clickOnly).unionByName(either)
        .groupBy(col("rel")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("rel"))
    }),
    "q_window_running" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      s.read.parquet(t(dir, "events"))
        .filter(col("user_id") < 20)
        .withColumn("running_value",
          sum(col("value").cast("decimal(22,6)")).over(w).cast("double"))
        .select(col("user_id"), col("event_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    "q_sort_limit" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .limit(100)
    }),
    // ---------------- magnitude pipeline (exact twin) ----------------
    "q_magnitude_exact" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      val per = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("unique_users"),
          count(lit(1)).as("query_volume"))
      val tot = ev.agg(countDistinct(col("user_id")).as("total_users"))
      per.crossJoin(broadcast(tot))
        .withColumn("magnitude",
          round(magnitude(col("unique_users"), col("total_users")), 9))
        .select(col("event_type"), col("magnitude"), col("unique_users"), col("query_volume"))
        .orderBy(floor(col("magnitude") * 1000).asc, col("event_type").asc)
    }),
    // ---------------- sketch bound checks (oracle: empty) ----------------
    "q_hll_violations" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", xxh3_64(col("user_id").cast("string")))
      ev.groupBy(col("event_type"))
        .agg(hll_est(hll_build(col("h"))).as("est"),
          countDistinct(col("user_id")).as("exact"))
        .filter(abs(col("est") - col("exact")) >
          greatest(lit(3 * 0.008125) * col("exact"), lit(1.0)))
        .select(col("event_type"), col("est"), col("exact"))
    }),
    "q_cms_violations" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", xxh3_64(col("event_type")))
      val sketch = ev.agg(cms_build(col("h"), lit(1L)).as("cm"),
        count(lit(1)).as("n"))
      val exact = ev.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("exact"))
      exact.crossJoin(broadcast(sketch))
        .withColumn("est", cms_est(col("cm"), col("h")))
        // CM: never under-estimates; over-estimation bounded by eps*N = (e/2048)*N
        .filter(col("est") < col("exact") ||
          col("est") > col("exact") + lit(math.E / 2048.0) * col("n"))
        .select(col("event_type"), col("est"), col("exact"))
    }),
    "q_bloom_violations" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", xxh3_64(col("user_id").cast("string")))
      val bloom = ev.agg(bloom_build(col("h")).as("bf"))
      ev.select(col("user_id"), col("h")).distinct()
        .crossJoin(broadcast(bloom))
        .filter(!bloom_contains(col("bf"), col("h"))) // false negative = bug
        .select(col("user_id"))
    }),
    "q_kmv_distinct" -> ((s, dir) => {
      // KMV bottom-k sketch, oracled EXACTLY: the sketch contents are the
      // k smallest distinct hashes under a SQL-replayable injective hash
      // ((user_id * knuth) mod p, p prime > max id), so DuckDB recomputes
      // the held set, the kth min, and the estimate formula bit-for-bit —
      // both branches (exact below capacity at sf0.001, order-statistic
      // at capacity above) are pinned
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", (col("user_id") * lit(2654435761L)) % lit(1000000007L))
      val perType = ev.groupBy(col("event_type"))
        .agg(kmv_build(col("h"), 64).as("sk"))
      val all = perType.agg(kmv_merge(col("sk")).as("sk"))
        .select(lit("__all__").as("event_type"), col("sk"))
      perType.unionByName(all)
        .select(col("event_type"),
          size(kmv_hashes(col("sk"))).as("n_held"),
          element_at(kmv_hashes(col("sk")), 1).as("min_hash"),
          element_at(kmv_hashes(col("sk")), size(kmv_hashes(col("sk")))).as("kth_hash"),
          kmv_est(col("sk")).as("est"))
        .orderBy(col("event_type"))
    }),
    "q_kmv_violations" -> ((s, dir) => {
      // xxh3-hashed KMV at k=1024: below capacity the estimate must be
      // EXACTLY the distinct count; at capacity within 3.3 standard
      // errors (1/sqrt(k-2)). Jaccard coordination: exact when both
      // sketches hold their full sets, else within 0.12
      val k = 1024
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", xxh3_64(col("user_id").cast("string")))
      val perType = ev.groupBy(col("event_type"))
        .agg(kmv_build(col("h"), k).as("sk"), countDistinct(col("user_id")).as("exact"))
      val allRow = ev.agg(kmv_build(col("h"), k).as("sk"),
          countDistinct(col("user_id")).as("exact"))
        .select(lit("__all__").as("event_type"), col("sk"), col("exact"))
      val card = perType.unionByName(allRow)
        .withColumn("est", kmv_est(col("sk")))
        .withColumn("m", size(kmv_hashes(col("sk"))))
        .filter((col("m") < k && col("est") =!= col("exact").cast("double")) ||
          abs(col("est") - col("exact")) > lit(3.3 / math.sqrt(k - 2)) * col("exact"))
        .select(col("event_type").as("check"), col("est"),
          col("exact").cast("double").as("exact"))
      // jaccard: clickers vs the user_id%3==0 cohort
      val a = ev.filter(col("event_type") === "click")
        .agg(kmv_build(col("h"), k).as("sk_a"))
      val b = ev.filter(col("user_id") % 3 === 0)
        .agg(kmv_build(col("h"), k).as("sk_b"))
      val aU = ev.filter(col("event_type") === "click")
        .select(col("user_id")).distinct()
      val bU = ev.filter(col("user_id") % 3 === 0).select(col("user_id")).distinct()
      val inter = aU.intersect(bU).count().toDouble
      val union = aU.union(bU).distinct().count().toDouble
      val exactJ = if (union == 0) 0.0 else inter / union
      val jac = a.crossJoin(b)
        .withColumn("est", kmv_jaccard(col("sk_a"), col("sk_b")))
        .withColumn("bothExact",
          size(kmv_hashes(col("sk_a"))) < k && size(kmv_hashes(col("sk_b"))) < k)
        .filter((col("bothExact") && abs(col("est") - exactJ) > 1e-12) ||
          abs(col("est") - exactJ) > 0.12)
        .select(lit("jaccard").as("check"), col("est"), lit(exactJ).as("exact"))
      card.unionByName(jac)
    }),
    "q_freq_items" -> ((s, dir) => {
      // Misra-Gries heavy hitters in the deterministic exact mode the
      // mergeability proof gives for free: k (4096) exceeds the distinct
      // key count at every SF, so no decrement ever fires (err 0) and the
      // merged per-type sketches hold EXACT per-user counts — DuckDB
      // replays them as plain GROUP BY counts under the same replayable
      // hash; hi == lo pins errBound == 0 through build AND merge
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", (col("user_id") * lit(2654435761L)) % lit(1000000007L))
      val perType = ev.groupBy(col("event_type"))
        .agg(freq_build(col("h"), lit(1L), 4096).as("sk"))
      val all = perType.agg(freq_merge(col("sk")).as("sk"))
        .select(lit("__all__").as("event_type"), col("sk"))
      perType.unionByName(all)
        .select(col("event_type"), explode(freq_items(col("sk"))).as("it"))
        .select(col("event_type"), col("it.hash").as("hash"),
          col("it.lo").as("lo"), col("it.hi").as("hi"))
        .orderBy(col("event_type"), col("hash"))
    }),
    "q_freq_violations" -> ((s, dir) => {
      // forced past capacity (k=16 over 150+ users): the Misra-Gries
      // bounds must hold for EVERY key regardless of arrival order —
      // stored <= true <= stored + err, coverage (true > err => present),
      // and err <= n/(k+1)
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", (col("user_id") * lit(2654435761L)) % lit(1000000007L))
      val skRow = ev.agg(freq_build(col("h"), lit(1L), 16).as("sk"),
        count(lit(1)).as("n"))
      val exact = ev.groupBy(col("h")).agg(count(lit(1)).as("exact"))
      exact.crossJoin(broadcast(skRow))
        .withColumn("err", freq_err(col("sk")))
        .withColumn("lo", freq_lower_bound(col("sk"), col("h")))
        .filter(col("lo") > col("exact") ||
          col("exact") > col("lo") + col("err") ||
          (col("exact") > col("err") && col("lo") === 0L) ||
          col("err") * 17 > col("n"))
        .select(col("h"), col("lo"), col("exact"))
    }),
    "q_sessionize" -> ((s, dir) => {
      // gap-timeout sessionization (30 min) over the event log, exact
      // integer-microsecond arithmetic: DuckDB replays the lag + running
      // sum window and every session index must hash-match
      val out = graft.operators.Sessionize.byGap(
        s.read.parquet(t(dir, "events")), "user_id", "ts", gapSeconds = 1800L)
      out.select(col("event_id"), col("user_id"), col("session_idx"))
        .orderBy(col("event_id"))
    }),
    "q_session_stats" -> ((s, dir) => {
      // per-session features (start/end/count/duration) over the same
      // 30-min gap sessions; DuckDB replays sessionization AND the
      // session-level aggregation
      graft.operators.Sessionize.sessionStats(
          s.read.parquet(t(dir, "events")), "user_id", "ts", gapSeconds = 1800L)
        .select(col("user_id"), col("session_idx"), col("session_start"),
          col("session_end"), col("n_events"),
          round(col("duration_sec"), 6).as("duration_sec"))
        .orderBy(col("user_id"), col("session_idx"))
    }),
    "q_weighted_sample" -> ((s, dir) => {
      // Efraimidis-Spirakis weighted sampling invariants as a violation
      // query: exact per-stratum size min(k, eligible), sample is a
      // subset, choice independent of partitioning (the determinism
      // contract). The weighting LAW (P(select) ~ w) is pinned by the
      // 300-trial frequency spec in OperatorsSpec — a statistical
      // property, not a row-hashable one.
      val docs = s.read.parquet(t(dir, "documents"))
        .withColumn("w", (length(col("text")) + 1).cast("double"))
      val k = 30
      val sample = Plans.pin(graft.operators.Sampling
        .weightedPerStratum(docs, "lang", "w", k), "q_weighted_sample sample").df
      val sizes = sample.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val expect = docs.filter(col("w") > 0).groupBy(col("lang"))
        .agg(least(count(lit(1)), lit(k.toLong)).as("t"))
      val v1 = sizes.join(expect, Seq("lang"))
        .filter(col("n") =!= col("t"))
        .select(concat(lit("size:"), col("lang")).as("what"))
      val v2 = sample.select(col("doc_id"))
        .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(concat(lit("alien:"), col("doc_id")).as("what"))
      val sample7 = graft.operators.Sampling
        .weightedPerStratum(docs.repartition(7), "lang", "w", k)
      val v3 = mismatches(sample.select(col("doc_id")), sample7.select(col("doc_id")),
          "nondet:", "nondet:")
        .select(concat(col("violation"), col("doc_id")).as("what"))
      v1.unionByName(v2).unionByName(v3)
    }),
    "q_asof_join" -> ((s, dir) => {
      // as-of join oracled against DuckDB's native ASOF LEFT JOIN: each
      // view event picks up the latest click at or before it per user.
      // The operator is join-free (tagged union + one sort + running
      // last-ignoring-nulls); right-side ties pre-aggregated
      // deterministically (arg-max by event_id)
      val ev = s.read.parquet(t(dir, "events"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val latest = Joins.latestPerKeyTs(clicks, Seq("user_id"), "ts",
          tiebreak = "event_id", payload = Seq("value"))
        .withColumnRenamed("value", "click_value")
        .withColumn("click_at", col("ts"))
      Joins.asofJoin(views, latest,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("click_value", "click_at"))
        .orderBy(col("event_id"))
    }),
    "q_asof_forward" -> ((s, dir) => {
      // forward as-of: each view attaches the EARLIEST purchase at or
      // after it per user ("time to next conversion"); DuckDB's native
      // ASOF with l.ts <= r.ts is the independent oracle
      val ev = s.read.parquet(t(dir, "events"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val earliest = Joins.latestPerKeyTs(purchases, Seq("user_id"), "ts",
          tiebreak = "event_id", payload = Seq("value"))
        .withColumnRenamed("value", "purchase_value")
        .withColumn("purchase_at", col("ts"))
      Joins.asofJoin(views, earliest,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("purchase_value", "purchase_at"),
          direction = "forward")
        .orderBy(col("event_id"))
    }),
    "q_kll_violations" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val sk = li.agg(kll_build(col("l_extendedprice")).as("sk"), count(lit(1)).as("n"))
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val quantiles = qs.map(q => struct(lit(q).as("q"),
        kll_quantile(col("sk"), lit(q)).as("est")))
      val ests = sk.select(explode(array(quantiles: _*)).as("e"), col("n"))
        .select(col("e.q").as("q"), col("e.est").as("est"), col("n"))
      // true rank of each estimate must be within 2.5% of q (k=200 bound 2x)
      ests.as("e").crossJoin(li.select(col("l_extendedprice").as("x")))
        .groupBy(col("q"), col("est"), col("n"))
        .agg(sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("below"))
        .filter(abs(col("below") / col("n") - col("q")) > 0.025)
        .select(col("q"), col("est"))
    }),
    "q_tdigest_violations" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      val sk = ev.agg(tdigest_build(col("value")).as("sk"), count(lit(1)).as("n"))
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val quantiles = qs.map(q => struct(lit(q).as("q"),
        tdigest_quantile(col("sk"), lit(q)).as("est")))
      val ests = sk.select(explode(array(quantiles: _*)).as("e"), col("n"))
        .select(col("e.q").as("q"), col("e.est").as("est"), col("n"))
      ests.crossJoin(ev.select(col("value").as("x")))
        .groupBy(col("q"), col("est"), col("n"))
        .agg(sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("below"))
        .filter(abs(col("below") / col("n") - col("q")) > 0.02)
        .select(col("q"), col("est"))
    }),
    "q_fingerprint_violations" -> ((s, dir) => {
      // identity contract: equal fingerprints must mean equal texts
      val d = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text"), fingerprint64(col("text")).as("fp"))
      d.as("a").join(d.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
          col("a.text") =!= col("b.text"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    }),
    // ---------------- dedup / text / multimodal ----------------
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(s.read.parquet(t(dir, "documents")))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(s.read.parquet(t(dir, "documents")),
          n = 3, minJaccard = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // incremental exact dedup: yesterday's batch (even doc_ids) is only
      // a persisted 128-bit signature store; today's batch (all docs) must
      // keep exactly the min-id doc per text whose content is NOT in the
      // store. Oracled 1:1 by an independent DuckDB NOT-IN + group-by.
      val docs = s.read.parquet(t(dir, "documents"))
      val store = Dedup.contentSignatures(docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      Dedup.exactAgainstStore(docs, store)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_url_canon" -> ((s, dir) => {
      // crawl-dedup URL canonicalization over deterministically messy URLs
      // (mixed-case scheme/host, default and non-default ports, fragments);
      // the oracle states the EXPECTED canonical strings independently
      val d = col("doc_id")
      val messy = concat(
        when(pmod(d, lit(2)) === 0, lit("HtTpS")).otherwise(lit("HtTp")),
        lit("://WWW.Site"), pmod(d, lit(7)).cast("string"), lit(".ExAmPle"),
        when(pmod(d, lit(3)) === 0,
          when(pmod(d, lit(2)) === 0, lit(":443")).otherwise(lit(":80")))
          .when(pmod(d, lit(3)) === 1, lit(":8080"))
          .otherwise(lit("")),
        lit("/Path/"), d.cast("string"),
        when(pmod(d, lit(2)) === 0, lit("#Frag")).otherwise(lit("?q=X")))
      s.read.parquet(t(dir, "documents"))
        .select(d, canonicalize_url(messy).as("canon_url"))
        .orderBy(d)
    }),
    "q_dedup_groups" -> ((s, dir) => {
      // near-dup clustering: connected components over the exact-Jaccard
      // pair list (A~B, B~C collapse even though A~C was never emitted);
      // oracled against a DuckDB recursive-CTE transitive closure
      val pairs = Dedup.ngramJaccardPairs(s.read.parquet(t(dir, "documents")),
        n = 3, minJaccard = 0.2)
      Dedup.connectedComponents(pairs)
        .select(col("id"), col("component"))
        .orderBy(col("id"))
    }),
    "q_dedup_keep_best" -> ((s, dir) => {
      // quality-aware canonical selection: within each near-dup cluster
      // keep the LONGEST doc (RefinedWeb-style), ties to the smallest id
      // — oracled against the recursive-closure components + an
      // independent SQL argmax
      val docs = s.read.parquet(t(dir, "documents"))
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.2)
      Dedup.keepBestPerCluster(docs, pairs, qualityCol = "n_chars")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_lm_perplexity" -> ((s, dir) => {
      // CCNet-style LM quality signal: bigram add-k LM trained on the
      // corpus itself (minCount=2 pruning, k=0.5), each doc scored by
      // per-bigram negative log2 likelihood, bucketed head/middle/tail —
      // the whole chain (counts, smoothing, scoring, ntile cut) is
      // recomputed independently in DuckDB
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text"))
      val lm = graft.operators.LangModel.train(docs, n = 2, minCount = 2, k = 0.5)
      val scored = graft.operators.LangModel.scoreNll(docs, lm)
        .withColumn("nll_bits", round(col("nll_bits"), 9))
      graft.operators.LangModel.buckets(scored, exact = true)
        .select(col("doc_id"), col("n_ngrams"), col("nll_bits"), col("ppl_bucket"))
        .orderBy(col("doc_id"))
    }),
    "q_url_blocklist" -> ((s, dir) => {
      // UT1-style domain blocklist: blocking a registered domain must
      // catch every subdomain — exploded suffix chain semi-joined to the
      // list, docs anti-joined back; oracled against an independent SQL
      // suffix expansion
      import s.implicits._
      val d = col("doc_id")
      val url = format_string("https://w%d.site%d.example/p/%d",
        pmod(d, lit(3)), pmod(d, lit(7)), d)
      val docs = s.read.parquet(t(dir, "documents")).select(d, url.as("url"))
      val bl = Seq("site3.example", "w1.site5.example", "nomatch.test").toDF("domain")
      graft.operators.UrlFilter.dropBlockedHosts(docs, bl)
        .select(col("doc_id"), host_of_url(col("url")).as("host"))
        .orderBy(col("doc_id"))
    }),
    "q_bpe_tokenize" -> ((s, dir) => {
      // corpus-trained byte-level BPE: violation gate over the LOSSLESS
      // contract — decode(encode(text)) must equal text for every doc
      // (byte-level base vocab: nothing is ever OOV), token count can
      // never exceed byte count, and non-empty text never tokenizes to
      // nothing. Merge-sequence exactness is pinned in ScalaTest
      // (hand-computed tie-breaks); the oracle relation is empty.
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text"))
      val model = graft.operators.Tokenize.trainBpe(docs, numMerges = 64)
      graft.operators.Tokenize.tokenize(docs, model)
        .withColumn("rt", graft.operators.Tokenize.bpeDecode(col("tokens"), model))
        .filter(col("rt") =!= col("text") ||
          col("n_tokens") > octet_length(col("text")) ||
          (octet_length(col("text")) > 0 && col("n_tokens") === 0))
        .select(col("doc_id"))
    }),
    "q_quality_classifier" -> ((s, dir) => {
      // model-based quality scoring (DCLM/fastText-shaped): hashed uni+bi
      // gram features (dim 64, polynomial codepoint hash) scored by a
      // linear model with DETERMINISTIC formula weights, so the oracle
      // recomputes the full featurize+score path — hashing included —
      // in SQL. (Training itself is pinned in ScalaTest: bit-determinism
      // across partitionings + convergence on separable data.)
      val dim = 64
      val w = Array.tabulate(dim)(j => ((j * 2654435761L) % 2001 - 1000) / 1000.0)
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          round(linear_score_lit(
            hashed_ngram_features(col("text"), dim, 2), w, -0.5), 9)
            .as("quality_logit"))
        .withColumn("keep", col("quality_logit") > 0)
        .orderBy(col("doc_id"))
    }),
    "q_chunk_split" -> ((s, dir) => {
      // context-length chunking: 32-token windows with 8-token overlap,
      // oracled 1:1 against an independent DuckDB list-slice reassembly
      graft.operators.Chunking.splitByTokens(
          s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text")),
          maxTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    "q_token_stats" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"),
          length(col("text")).cast("long").as("n_chars_computed"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_text_quality" -> ((s, dir) => {
      import s.implicits._
      // alpha/punct ratios are UNICODE by design (Character.isLetter /
      // isLetterOrDigit): a multilingual crawl's alpha ratio must count é,
      // ß, Cyrillic and Greek as letters, or every non-English page fails a
      // Gopher-style alpha threshold. The oracle matches with RE2 \p{L} /
      // \p{Nd} classes; appended UTF-8 rows (BMP only — both engines then
      // count the same characters) force the definition instead of letting
      // an ASCII corpus mask a divergence.
      val utf8 = Seq(
        (900000001L, "café naïve déjà vu über straße"),
        (900000002L, "русский текст 123 про мир"),
        (900000003L, "ελληνικά γράμματα 123 !!"),
        (900000004L, "mixed ascii + ñandú 42% done…")).toDF("doc_id", "text")
      s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text"))
        .unionByName(utf8)
        .select(col("doc_id"),
          round(alpha_ratio(col("text")), 9).as("alpha_ratio"),
          round(punct_ratio(col("text")), 9).as("punct_ratio"))
        .orderBy(col("doc_id"))
    }),
    "q_text_gopher" -> ((s, dir) => {
      // Gopher-style repetition/shape quality signals (Rae et al. 2021)
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          round(stopword_ratio(col("text")), 9).as("stopword_ratio"),
          round(mean_word_len(col("text")), 9).as("mean_word_len"),
          round(max_token_ratio(col("text")), 9).as("max_token_ratio"))
        .orderBy(col("doc_id"))
    }),
    "q_text_gopher_ngrams" -> ((s, dir) => {
      // the remaining Gopher repetition filters (Rae et al. 2021): top
      // {2,3,4}-gram char fraction and duplicated {5,8}-gram char fraction,
      // over text with a planted repeated prefix so dup n-grams exist.
      // Oracled against an independent DuckDB gram-count/position-coverage
      // SQL (ASCII corpus: lexicographic tie-breaks agree across engines).
      val rep = concat(col("text"), lit(" "), substring(col("text"), 1, 60),
        lit(" "), substring(col("text"), 1, 60))
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          round(top_ngram_char_ratio(rep, 2), 9).as("top2"),
          round(top_ngram_char_ratio(rep, 3), 9).as("top3"),
          round(top_ngram_char_ratio(rep, 4), 9).as("top4"),
          round(dup_ngram_char_ratio(rep, 5), 9).as("dup5"),
          round(dup_ngram_char_ratio(rep, 8), 9).as("dup8"))
        .orderBy(col("doc_id"))
    }),
    "q_pack_greedy" -> ((s, dir) => {
      // TRUE greedy (close-on-overflow) packing invariants as a violation
      // query over the operator's own output — DuckDB cannot run the
      // sequential fold, but the fold's DEFINING properties are
      // SQL-checkable and pin it uniquely given the order: (a) pack totals
      // <= budget unless the pack is one oversized doc; (b) tight: pack
      // p+1's first doc would NOT have fit in pack p; (c) pack ids dense
      // from 0 per bucket; (d) every doc packed exactly once.
      val budget = 200L
      val docs = packDocs(s, dir)
      val packed = graft.operators.Packing.packGreedy(docs, "toks", budget, "bucket")
      // one small (bucket, pack) summary, MATERIALIZED once: four branches
      // reference it, and Catalyst re-expands referenced subtrees — unpinned
      // the full collect+fold+join pipeline would run ~5x
      val packAgg = Plans.pin(packed.groupBy(col("bucket"), col("pack_id"))
        .agg(sum(col("toks")).as("total"), count(lit(1)).as("n"),
          min(struct(col("pack_pos"), col("toks"))).as("__f"))
        .withColumn("first_toks", col("__f.toks")), "q_pack_greedy packAgg").df
      val nextFirst = packAgg.select(col("bucket"),
        (col("pack_id") - 1).as("pack_id"), col("first_toks").as("next_first"))
      packViolations(packAgg, docs, budget,
        "not_tight" -> packAgg.join(nextFirst, Seq("bucket", "pack_id"))
          .filter(col("total") + col("next_first") <= budget)
          .select(col("bucket"), col("pack_id")))
    }),
    "q_pack_bestfit" -> ((s, dir) => {
      // best-fit-decreasing packing invariants as a violation query:
      // (a) pack totals <= budget unless the pack is one oversized doc;
      // (b) UNMERGEABLE: every pair of packs in a bucket sums past the
      //     budget (the BFD guarantee — a new pack opens only when the doc
      //     fits nowhere), which bounds padding waste;
      // (c) pack ids dense from 0 per bucket; (d) every doc packed once.
      val budget = 200L
      val docs = packDocs(s, dir)
      val packed = graft.operators.Packing.packBestFit(docs, "toks", budget, "bucket")
      // referenced by four violation branches
      val packAgg = Plans.pin(packed.groupBy(col("bucket"), col("pack_id"))
        .agg(sum(col("toks")).as("total"), count(lit(1)).as("n")), "q_pack_bestfit packAgg").df
      packViolations(packAgg, docs, budget,
        "mergeable" -> packAgg.as("a").join(packAgg.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.pack_id") < col("b.pack_id") &&
            col("a.total") + col("b.total") <= budget)
          .select(col("a.bucket").as("bucket"), col("a.pack_id").as("pack_id")))
    }),
    "q_pack_concat" -> ((s, dir) => {
      // sequence-pack assignment (concat-and-chunk): whole docs into
      // 200-token budget windows, bucketed so no global sort exists;
      // oracled 1:1 against a DuckDB window cumulative sum
      graft.operators.Packing.packConcat(packDocs(s, dir), "toks", budget = 200,
          bucketCol = "bucket")
        .select(col("doc_id"), col("bucket"), col("pack_id"),
          col("pack_pos").cast("long").as("pack_pos"))
        .orderBy(col("doc_id"))
    }),
    "q_text_entropy" -> ((s, dir) => {
      // character-entropy gibberish signal, oracled against DuckDB's
      // independent char-frequency entropy
      s.read.parquet(t(dir, "documents"))
        .filter(length(col("text")) > 0) // oracle emits no row for empty text
        .select(col("doc_id"), round(char_entropy(col("text")), 9).as("char_entropy"))
        .orderBy(col("doc_id"))
    }),
    "q_text_repetition" -> ((s, dir) => {
      // Gopher repetition filters (dup-line fraction / dup-line char
      // fraction, Rae et al. 2021) over deterministically synthesized
      // multi-line docs (documents.text is single-line): lines 1 and 3
      // repeat a 40-char slice, line 4 is unique per doc
      val l1 = substring(col("text"), 1, 40)
      val l2 = substring(col("text"), 41, 40)
      val multiline = concat_ws("\n", l1, l2, l1,
        concat(lit("u"), col("doc_id").cast("string")))
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          round(dup_line_ratio(multiline), 9).as("dup_line_ratio"),
          round(dup_line_char_ratio(multiline), 9).as("dup_line_char_ratio"))
        .orderBy(col("doc_id"))
    }),
    "q_pii_signals" -> ((s, dir) => {
      // PII scrubbing signals (CCNet/Dolma-style audit counts) with
      // Spark BUILT-INS only (functions, not UDFs): emails and bare IPv4s
      // planted deterministically into the synthetic text, counted with
      // regexp_count — oracled against DuckDB's independent regex engine
      // on intentionally engine-portable patterns
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or admin@test.org"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".1"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" call +1-555-"), (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
            lit("-"), (pmod(col("doc_id"), lit(9000)) + 1000).cast("string"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" card 4242 4242 4242 "),
            (pmod(col("doc_id"), lit(9000)) + 1000).cast("string"))).otherwise(lit("")))
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          regexp_count(planted,
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+")).cast("long").as("n_emails"),
          regexp_count(planted,
            lit("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+")).cast("long").as("n_ipv4"),
          regexp_count(planted,
            lit("\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}")).cast("long").as("n_phones"),
          regexp_count(planted,
            lit("[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}")).cast("long").as("n_cards"))
        .orderBy(col("doc_id"))
    }),
    "q_repeated_spans" -> ((s, dir) => {
      // substring-repetition audit (the Lee et al. 2021 span-dedup
      // family): maximal char spans covered by 40-char windows occurring
      // >= 2x corpus-wide. Cross-doc repeats planted as a cookie banner in
      // every even doc; within-doc repeats as an own-prefix echo in every
      // 5th doc. Oracle recomputes independently in DuckDB from window
      // STRINGS (the engine uses rolling hashes) with gaps-and-islands
      // span merging.
      val L = 40
      val planted = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit(" this website uses cookies to improve your experience ok"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" "), substring(col("text"), 1, 45))).otherwise(lit("")))
          .as("text"))
      graft.operators.Dedup.repeatedSpans(planted, minLen = L, minDf = 2)
        .orderBy(col("doc_id"), col("span_start"))
    }),
    "q_strip_spans" -> ((s, dir) => {
      // the APPLY step of span dedup: audit the planted corpus (same
      // construction as q_repeated_spans) and SPLICE every flagged range
      // out. Oracle rebuilds each stripped text character-by-character in
      // DuckDB (chars not covered by any merged span, in order) — a
      // completely independent formulation of the splice.
      val L = 40
      val planted = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit(" this website uses cookies to improve your experience ok"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" "), substring(col("text"), 1, 45))).otherwise(lit("")))
          .as("text"))
      graft.operators.Dedup.stripSpans(planted,
          graft.operators.Dedup.repeatedSpans(planted, minLen = L, minDf = 2))
        .orderBy(col("doc_id"))
    }),
    "q_strip_boilerplate" -> ((s, dir) => {
      // corpus-level paragraph/line dedup (CCNet/Dolma style): multiline
      // docs synthesized as in q_text_repetition, with a shared cookie
      // banner planted in every even doc (df ~ half the corpus); lines in
      // >= 50 docs strip, everything else survives in order. Oracled by an
      // INDEPENDENT DuckDB line-df + list_filter reassembly.
      val l1 = substring(col("text"), 1, 40)
      val l2 = substring(col("text"), 41, 40)
      val banner = lit("please accept our cookie policy to continue")
      val multiline = concat_ws("\n", l1,
        when(pmod(col("doc_id"), lit(2)) === 0, banner).otherwise(l2),
        concat(lit("u"), col("doc_id").cast("string")))
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), multiline.as("text"))
      Dedup.stripBoilerplateLines(docs, minDf = 50)
        .orderBy(col("doc_id"))
    }),
    "q_gopher_filter" -> ((s, dir) => {
      // the COMPLETE Gopher quality rule (Rae et al. 2021 Table A1) as one
      // operator call, over multiline docs synthesized to exercise every
      // rule (bullets, ellipsis lines, hash symbols, stopword lines, and a
      // text-slice duplication that trips the n-gram ratios). Every signal
      // AND the final keep decision are recomputed independently in DuckDB.
      val d = col("doc_id")
      val l1 = substring(col("text"), 1, 60)
      val l2 = when(pmod(d, lit(7)) === 0, lit("- bullet item one"))
        .otherwise(substring(col("text"), 61, 60))
      val l3 = when(pmod(d, lit(5)) === 0, lit("to be continued ..."))
        .otherwise(concat(lit("u"), d.cast("string")))
      val l4 = when(pmod(d, lit(3)) === 0,
          lit("the cat sat with all of them and that was that"))
        .otherwise(lit("#tag #tag"))
      val ml = concat_ws("\n", l1, l2, l3, l4, col("text"))
      // the documents table is one parquet split: spread the row-local
      // signal computation (the expensive part) across cores — a tiny
      // shuffle of 5k rows buys a 32-way parallel filter pass
      val docs = s.read.parquet(t(dir, "documents"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(d, ml.as("text"))
      val out = graft.operators.TextQuality.gopherFilter(docs)
      val ratioCols = Seq("mean_word_len", "hash_ratio", "ellipsis_ratio",
        "bullet_line_ratio", "ellipsis_line_ratio", "alpha_word_ratio",
        "dup_line_ratio", "dup_line_char_ratio",
        "top_2gram_ratio", "top_3gram_ratio", "top_4gram_ratio",
        "dup_5gram_ratio", "dup_6gram_ratio", "dup_7gram_ratio",
        "dup_8gram_ratio", "dup_9gram_ratio", "dup_10gram_ratio")
      out.select(Seq(d, col("n_words"), col("stopword_hits"), col("keep")) ++
          ratioCols.map(c => round(col(c), 9).as(c)): _*)
        .orderBy(d)
    }),
    "q_events_window" -> ((s, dir) => {
      s.read.parquet(t(dir, "events"))
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(22,6)")).cast("double").as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),
    "q_multimodal_meta" -> ((s, dir) => {
      val media = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      Multimodal.mediaMeta(media).toDF()
        .select(col("doc_id"), col("media_bytes"))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_av" -> ((s, dir) => {
      // REAL audio/video container metadata, oracled end-to-end: WAV and
      // MP4 blobs are synthesized as spec-layout bytes whose parameters are
      // pure functions of doc_id, parsed back by the byte-level RIFF / ISO
      // BMFF walks, and the oracle states the expected fields arithmetically
      // — so a parser regression (offset, endianness, fixed-point) breaks
      // the hash match
      import s.implicits._
      val media = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id")).as[Long]
        .map { id =>
          val blob =
            if (id % 2 == 0)
              Multimodal.Synth.wav((8000 * (1 + id % 3)).toInt,
                (1 + (id / 2) % 2).toInt, (1000 + (id % 7) * 100).toInt)
            else
              Multimodal.Synth.mp4((320 + (id % 5) * 16).toInt,
                (240 + (id % 4) * 16).toInt, 5000 + (id % 97) * 13)
          (id, blob)
        }.toDF("doc_id", "media")
      Multimodal.mediaMeta(media).toDF()
        .select(col("doc_id"), col("kind"), col("media_bytes"), col("width"),
          col("height"), col("sample_rate"), col("channels"), col("duration_ms"))
        .orderBy(col("doc_id"))
    }),
    "q_ann_bruteforce" -> ((s, dir) => {
      val embs = s.read.parquet(t(dir, "embeddings"))
      Ann.bruteForceTopK(embs, embs.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("nn_id"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_embed_neardup" -> ((s, dir) => {
      Ann.cosineNearDupPairs(s.read.parquet(t(dir, "embeddings")),
          minCos = 0.5, dims = 64)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_bloom_semi_join" -> ((s, dir) => {
      // lineitems of high-value orders: Bloom-prefiltered exact semi join
      val li = s.read.parquet(t(dir, "lineitem"))
      val bigOrders = s.read.parquet(t(dir, "orders"))
        .filter(col("o_totalprice") > 400000.0)
      graft.operators.Joins.bloomSemiJoin(li, col("l_orderkey"),
          bigOrders, col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag"))
    }),
    "q_decontaminate" -> ((s, dir) => {
      // GPT-3-style n-gram decontamination against a "benchmark" slice of
      // the corpus (every 50th doc), oracled by an independent DuckDB
      // shingle semi-join. n=5 fits the short synthetic docs (the standard
      // 13-gram rule assumes paragraph-length text).
      val docs = s.read.parquet(t(dir, "documents"))
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      Dedup.contaminatedDocs(docs, bench, n = 5, minShared = 1)
        .orderBy(col("doc_id"))
    }),
    "q_sample_stratified" -> ((s, dir) => {
      // deterministic sampling contracts as a violation query: exact
      // per-stratum quotas; selection invariant under repartitioning (the
      // reproducibility claim — hash order, not partition order); hash
      // sampling within a generous rate bound. Any row is a bug.
      val docs = s.read.parquet(t(dir, "documents"))
      val want = docs.groupBy(col("lang"))
        .agg(ceil(count(lit(1)) * 0.2).cast("long").as("want"))
      samplerViolations(graft.operators.Sampling.stratified(docs, "lang", 0.2),
        graft.operators.Sampling.stratified(docs.repartition(7), "lang", 0.2), want,
        "rate" -> graft.operators.Sampling.byHash(docs, 0.3)
          .agg(count(lit(1)).as("n")).crossJoin(docs.agg(count(lit(1)).as("total")))
          .filter(abs(col("n") - col("total") * 0.3) > col("total") * 0.15)
          .select(lit("byhash").as("lang")))
    }),
    "q_sample_mix" -> ((s, dir) => {
      // distribution-matching sampler as a violation query: the largest
      // feasible sample at mix {en:0.5, de:0.3, zh:0.2} must hit the
      // independently recomputed quotas floor(p*N), N = min floor(cnt/p);
      // selection must be repartition-invariant; out-of-mix strata must
      // not appear. Any row is a bug.
      val targets = Seq(("en", 0.5), ("de", 0.3), ("zh", 0.2))
      val docs = s.read.parquet(t(dir, "documents"))
      val s1 = graft.operators.Sampling.toDistribution(docs, "lang", targets.toMap)
      val s2 = graft.operators.Sampling.toDistribution(docs.repartition(7), "lang", targets.toMap)
      val p = when(col("lang") === "en", 0.5)
        .when(col("lang") === "de", 0.3)
        .when(col("lang") === "zh", 0.2)
      val withP = docs.filter(col("lang").isin("en", "de", "zh"))
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .withColumn("cap", floor(col("cnt") / p + lit(1e-9))) // eps as the operator
      val want = withP.crossJoin(broadcast(withP.agg(min(col("cap")).as("N"))))
        .select(col("lang"), floor(p * col("N") + lit(1e-9)).cast("long").as("want"))
      samplerViolations(s1, s2, want,
        "stray_stratum" -> s1.filter(!col("lang").isin("en", "de", "zh")).select(col("lang")))
    }),
    "q_sparse_cosine" -> ((s, dir) => {
      // exact L2AP-prefix sparse cosine join over bag-of-words tf vectors,
      // oracled 1:1 against a DuckDB tf/norm/dot computation
      Dedup.sparseCosinePairs(s.read.parquet(t(dir, "documents")), minCos = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_sparse_cosine_idf" -> ((s, dir) => {
      // same join under smooth tf-idf weighting (the standard IR cosine)
      Dedup.sparseCosinePairs(s.read.parquet(t(dir, "documents")), minCos = 0.9,
          idf = true)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // minhash+LSH with exact-Jaccard verification: on this corpus recall is
    // 1.0 at (k=32, b=8, J>=0.2) — P(candidate) = 1-(1-J^4)^8 — so the
    // result is oracled against the SAME exact-Jaccard SQL as q_dedup_ngram
    "q_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(s.read.parquet(t(dir, "documents")),
          n = 3, numHashes = 32, bands = 8, minJaccard = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_simhash_pairs" -> ((s, dir) => {
      // simhash blocking guarantee as a violation query (formerly the one
      // rows-only gate — DuckDB cannot compute simhash64, so the oracle is
      // the empty relation and the exactness comes from three checks):
      //  (a) planted completeness at the HARD radii: every doc gets a twin
      //      whose signature differs in exactly 8/9/10 bit positions chosen
      //      to hit every band of a naive 8x8-bit layout — the regime where
      //      an undersized band count silently loses recall. Every
      //      (doc, twin) pair must be found.
      //  (b) organic completeness: brute-force bit_count over a
      //      doc_id-bounded subset == the operator's pairs on that subset.
      //  (c) precision: every emitted subset pair appears in the brute
      //      force with the same hamming.
      val maxH = 10
      // referenced 4x (twins, planted, subset, union)
      val sigs = Plans.pin(s.read.parquet(t(dir, "documents"))
        .select(col("doc_id").as("id"), simhash64(col("text")).as("sig")), "q_simhash_pairs sigs").df
      def mask(bits: Seq[Int]): Long = bits.map(1L << _).reduce(_ | _)
      // one flip position inside each 8-bit band, then extras in bands 0/1:
      // all bands of the 8x8 layout are touched at h=8 already
      val m8 = mask(Seq(1, 9, 17, 25, 33, 41, 49, 57))
      val m9 = mask(Seq(1, 9, 17, 25, 33, 41, 49, 57, 5))
      val m10 = mask(Seq(1, 9, 17, 25, 33, 41, 49, 57, 5, 13))
      val flip = when(pmod(col("id"), lit(3)) === 0, lit(m8))
        .when(pmod(col("id"), lit(3)) === 1, lit(m9))
        .otherwise(lit(m10))
      val twins = sigs.select((col("id") + 10000000L).as("id"),
        col("sig").bitwiseXOR(flip).as("sig"))
      // referenced by checks (a), (b) and (c)
      val found = Plans.pin(Dedup.simhashPairsFromSigs(sigs.unionByName(twins), maxHamming = maxH),
        "q_simhash_pairs found").df
      val planted = sigs.select(col("id").as("id_a"), (col("id") + 10000000L).as("id_b"))
      violations("planted_missed" -> planted.join(found, Seq("id_a", "id_b"), "left_anti"))
        .unionByName(hammingSubsetMismatches(sigs, found, maxH, _ < 1500))
        .orderBy(col("id_a"), col("id_b"), col("violation"))
    }),
    // ---------------- violation queries (oracle: empty) ----------------
    "q_lang_id" -> ((s, dir) => {
      import s.implicits._
      // (a) lang-id must classify real-language sentences correctly (the
      //     documents table's `lang` label is a random tag on English-ish
      //     word salad, so it cannot serve as ground truth);
      // (b) BPE-ish token counts obey #non-empty words <= pieces <= #chars
      //     on every document (each word is >=1 piece, each piece >=1 char)
      val sentences = Seq(
        ("the quick brown fox jumps over the lazy dog and runs into the forest", "en"),
        ("der schnelle braune fuchs springt über den faulen hund und rennt in den wald", "de"),
        ("den snabba bruna räven hoppar över den lata hunden och springer in i skogen", "sv"),
        ("le renard brun rapide saute par dessus le chien paresseux et court dans la forêt", "fr"),
        ("el zorro marrón rápido salta sobre el perro perezoso y corre hacia el bosque", "es"),
        ("la volpe marrone veloce salta sopra il cane pigro e corre nella foresta", "it"),
        ("a raposa marrom rápida salta sobre o cão preguiçoso e corre para a floresta", "pt"),
        ("de snelle bruine vos springt over de luie hond en rent het bos in", "nl"),
        ("nie wiem dlaczego przy drodze do lasu stoi tak wiele starych drzew których nikt nie ścina", "pl"),
        ("bystraya korichnevaya lisa prygayet cherez lenivogo psa i bezhit v les", "ru"),
        // close-pair confusion sentences: shared Romance/Germanic
        // function-word mass, only distinctive grams can decide
        ("no sabemos qué pasará mañana pero el gobierno ha dicho que la situación está controlada", "es"),
        ("não sabemos o que vai acontecer amanhã mas o governo disse que a situação está sob controle", "pt"),
        ("non sappiamo che cosa succederà domani ma il governo ha detto che la situazione è sotto controllo", "it"),
        ("wir wissen nicht was morgen passieren wird aber die regierung hat gesagt dass die lage unter kontrolle ist", "de"),
        ("wij weten niet wat er morgen zal gebeuren maar de regering heeft gezegd dat de situatie onder controle is", "nl"),
        // non-Latin scripts: decisive by Unicode-range share (kana
        // separates ja from zh; native Cyrillic vs the translit profile)
        ("快速的棕色狐狸跳过了懒狗然后跑进了森林", "zh"),
        ("素早い茶色のキツネはのろまな犬を飛び越えて森へ走った", "ja"),
        ("빠른 갈색 여우가 게으른 개를 뛰어넘어 숲으로 달려갔다", "ko"),
        ("быстрая коричневая лиса перепрыгнула через ленивую собаку", "ru"),
        ("η γρήγορη καφέ αλεπού πήδηξε πάνω από το τεμπέλικο σκυλί", "el"))
      val labeled = sentences.toDF("text", "want")
      val wrong = labeled
        .filter(lang_id(col("text")) =!= col("want"))
        .select(lit(-1L).as("doc_id"))
      // (c) gibberish and mixed-script soup must come back "und" with
      //     margin 0 — a scorer that always answers with the nearest
      //     profile is unusable as a pipeline filter
      val junk = Seq(
        "xqzvk bfgrtl pwmnjd krvxzt qblfgh zzkrtp vvwxmj dklzqr ffbntx",
        "zzz qqq xxx vvv kkk www jjj ppp bbb mmm zzz qqq xxx vvv kkk",
        "abc где xyz ελλ def 中文 ghi עבר jkl ქარ mno عرب pqr ไทย stu",
        "mxkzp 123 784 qvtrj 9901 zzrtk 42 77 bnmwq 563 kkjhr 10 20 30")
        .toDF("text")
        .withColumn("lc", lang_id_conf(col("text")))
        .filter(col("lc.code") =!= "und" || col("lc.margin") =!= 0.0)
        .select(lit(-2L).as("doc_id"))
      // (d) clear monolingual prose must carry POSITIVE margin, and the
      //     conf struct's code must equal lang_id on every fixture row
      //     (single code path — any split is a bug)
      val conf = labeled.withColumn("lc", lang_id_conf(col("text")))
      val margins = conf
        .filter(col("lc.code") =!= lang_id(col("text")) || col("lc.margin") <= 0.0)
        .select(lit(-3L).as("doc_id"))
      val docsT = s.read.parquet(t(dir, "documents"))
      val consistency = docsT
        .withColumn("lc", lang_id_conf(col("text")))
        .filter(col("lc.code") =!= lang_id(col("text")) ||
          (col("lc.code") === "und" && col("lc.margin") =!= 0.0))
        .select(col("doc_id"))
      val tokenBounds = docsT
        .withColumn("pieces", token_count_bpeish(col("text")).cast("long"))
        .withColumn("words",
          size(filter(split(col("text"), " "), x => x =!= "")).cast("long"))
        .filter(col("pieces") < col("words") || col("pieces") > length(col("text")))
        .select(col("doc_id"))
      violations("lang_id" -> wrong, "und_fallback" -> junk, "conf_margin" -> margins,
        "conf_consistency" -> consistency, "token_bounds" -> tokenBounds)
    }),
    "q_winnow_overlap" -> ((s, dir) => {
      // winnowing guarantee (Schleimer et al. 2003): any common substring
      // of >= w+k-1 chars shares at least one fingerprint. Plant an
      // 80-char shared passage into a derived pair — A carries it as a
      // prefix, B buried after a unique head — then SELECT the planted
      // pairs winnowOverlapPairs MISSES: must be empty, and every row is a
      // broken guarantee, not noise. Passages are hash-hex derived from
      // each document (per-pair-unique substrings), so the check isolates
      // the GUARANTEE from cross-pair fingerprint sharing — corpus-hot
      // boilerplate behaviour is covered by the skew-cap soak in ScalaTest.
      val docs = s.read.parquet(t(dir, "documents"))
      val passage = format_string("%016x%016x%016x%016x%016x",
        xxh3_64(col("text")), xxh3_64(concat(col("text"), lit("a"))),
        xxh3_64(concat(col("text"), lit("b"))), xxh3_64(concat(col("text"), lit("c"))),
        xxh3_64(concat(col("text"), lit("d"))))
      // affixes are hash-hex too: a shared literal like "tail_" would be a
      // corpus-wide hot 8-gram — one fingerprint joining 10k docs
      val a = docs.select((col("doc_id") * 2).as("doc_id"),
        concat(passage, lit(" "),
          format_string("%016x", xxh3_64(concat(col("text"), lit("t"))))).as("text"))
      val b = docs.select((col("doc_id") * 2 + 1).as("doc_id"),
        concat(format_string("%016x", xxh3_64(concat(col("text"), lit("h")))),
          lit(" "), passage).as("text"))
      val found = Dedup.winnowOverlapPairs(a.unionByName(b), minShared = 1, k = 8, w = 4)
      docs.select((col("doc_id") * 2).as("id_a"), (col("doc_id") * 2 + 1).as("id_b"))
        .join(found, Seq("id_a", "id_b"), "left_anti")
        .select(col("id_a"), col("id_b"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      // IVF quality bound: every returned neighbor's cosine must be within
      // eps of the exact rank-k cosine for its query (worst measured gap at
      // nprobe=4/16 is ~0.05; eps=0.15 is a real bound, not vacuous)
      val eps = 0.15
      val embs = s.read.parquet(t(dir, "embeddings"))
      val queries = embs.filter(col("vec_id") < 10)
      val centroids = graft.operators.Ivf.train(embs, k = 16, iters = 3)
      val ivf = graft.operators.Ivf.topK(embs, queries, k = 5, centroids, nprobe = 4)
      val kth = Ann.bruteForceTopK(embs, queries, k = 5)
        .groupBy(col("query_id")).agg(min(col("cos")).as("kth_cos"))
      ivf.join(kth, "query_id")
        .filter(col("cos") < col("kth_cos") - eps)
        .select(col("query_id"), col("nn_id"))
    }),
    "q_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      // provable planted-neighbor check: a query that is a POSITIVE SCALING
      // of a corpus vector has the identical sign signature in every table,
      // so the source lands in its candidate set and re-ranks to cos=1.0 at
      // rank 1 — any other outcome is a bug, not noise
      val embs = s.read.parquet(t(dir, "embeddings"))
      val planted = embs.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Ann.lshTopK(embs, planted, k = 1, dims = 64, planes = 10, tables = 6)
        .filter(col("rank") === 1 && col("query_id") - 1000000L =!= col("nn_id"))
        .select(col("query_id"), col("nn_id"))
    }),
    "q_page_sketches" -> ((s, dir) => {
      // the north_star's one-pass page sketch suite + mergeable rollup,
      // checked for ALL SEVEN families at once: documents mapped to the
      // pages shape (40 hosts, 3 days), daily sketch rows rolled up via the
      // *_merge aggregates, then every family's published bound verified
      // against exact SQL-computable statistics. Any row is a regression.
      val pages = s.read.parquet(t(dir, "documents")).select(
        concat(lit("https://h"), pmod(col("doc_id"), lit(40)),
          lit(".example/p/"), col("doc_id")).as("url"),
        date_add(to_date(lit("2000-01-01")),
          pmod(col("doc_id"), lit(3)).cast("int")).cast("timestamp").as("warc_ts"),
        col("text"))
      val total = graft.pipelines.PageSketches.merge(
        graft.pipelines.PageSketches.build(pages))

      def v(check: String, observed: org.apache.spark.sql.Column, bound: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        struct(lit(check).as("check"), observed.cast("double").as("observed"),
          bound.cast("double").as("bound"))

      // HLL: merged distinct-url estimate within 3 sigma of exact
      val exactTot = pages.agg(countDistinct(col("url")).as("n_urls"),
        count(lit(1)).as("n"))
      val hllV = total.crossJoin(broadcast(exactTot))
        .select(v("hll", abs(hll_est(col("url_hll")) - col("n_urls")),
          greatest(lit(3 * 0.008125) * col("n_urls"), lit(1.0))).as("r"))
        .filter(col("r.observed") > col("r.bound"))

      // CM: per-host frequency never under, over by <= e/width * N
      val hostExact = pages.groupBy(xxh3_64(host_of_url(col("url"))).as("hh"))
        .agg(count(lit(1)).as("exact"))
      val cmsV = hostExact.crossJoin(broadcast(total.select(col("host_freq_cms"))))
        .crossJoin(broadcast(exactTot))
        .withColumn("est", cms_est(col("host_freq_cms"), col("hh")))
        .select(v("cms",
          when(col("est") < col("exact"), lit(-1.0))
            .otherwise(col("est") - col("exact")),
          lit(math.E / 2048.0) * col("n")).as("r"))
        .filter(col("r.observed") > col("r.bound") || col("r.observed") < 0)

      // Bloom: no false negatives over every crawled url
      val bloomV = pages.select(xxh3_64(col("url")).as("uh")).distinct()
        .crossJoin(broadcast(total.select(col("url_bloom"))))
        .filter(!bloom_contains(col("url_bloom"), col("uh")))
        .select(v("bloom", lit(1.0), lit(0.0)).as("r"))

      // KLL + t-digest: rolled-up text-length quantiles hold their rank bounds
      val qs = Seq(0.25, 0.5, 0.75)
      val quantiles = total.select(explode(array(qs.map(q =>
          struct(lit(q).as("q"),
            kll_quantile(col("text_len_kll"), lit(q)).as("kll_est"),
            tdigest_quantile(col("text_len_tdigest"), lit(q)).as("td_est"))): _*)).as("e"))
        .select(col("e.q").as("q"), col("e.kll_est"), col("e.td_est"))
      val lens = pages.select(length(col("text")).cast("double").as("x"))
      val rankV = quantiles.crossJoin(lens).crossJoin(broadcast(exactTot))
        .groupBy(col("q"), col("kll_est"), col("td_est"), col("n"))
        .agg(sum(when(col("x") <= col("kll_est"), 1L).otherwise(0L)).as("kll_below"),
          sum(when(col("x") <= col("td_est"), 1L).otherwise(0L)).as("td_below"))
        .select(explode(array(
          v("kll", abs(col("kll_below") / col("n") - col("q")), lit(0.025)),
          v("tdigest", abs(col("td_below") / col("n") - col("q")), lit(0.02)))).as("r"))
        .filter(col("r.observed") > col("r.bound"))

      // Misra-Gries: 40 hosts < k -> exact mode through the rollup; every
      // host's stored count must EQUAL its exact count and err must be 0
      val mgV = hostExact.crossJoin(broadcast(total.select(col("top_hosts_mg"))))
        .select(v("mg",
          abs(freq_lower_bound(col("top_hosts_mg"), col("hh")) - col("exact")),
          freq_err(col("top_hosts_mg"))).as("r"))
        .filter(col("r.observed") > col("r.bound") || col("r.bound") =!= 0.0)

      // KMV: exact below capacity, 3.3-sigma order-statistic bound above
      val kmvV = total.crossJoin(broadcast(exactTot))
        .select(v("kmv", abs(kmv_est(col("url_kmv")) - col("n_urls")),
          when(size(kmv_hashes(col("url_kmv"))) < lit(graft.core.sketch.Kmv.DefaultK),
            lit(0.0))
            .otherwise(lit(3.3 / math.sqrt(graft.core.sketch.Kmv.DefaultK - 2)) *
              col("n_urls"))).as("r"))
        .filter(col("r.observed") > col("r.bound"))

      hllV.unionByName(cmsV).unionByName(bloomV).unionByName(rankV)
        .unionByName(mgV).unionByName(kmvV)
        .select(col("r.check").as("check"), col("r.observed").as("observed"),
          col("r.bound").as("bound"))
    }),
    "q_resample_counts" -> ((s, dir) => {
      import s.implicits._
      // deterministic resampling (up AND down) to exact per-stratum
      // counts: en downsamples at sf0.1 / upsamples at sf0.01, de always
      // upsamples, zh flips direction across SFs — every invariant checked
      // as a violation row (oracle: empty): exact totals, maximally even
      // per-doc copies (floor/ceil of T/c with exactly T mod c ceils),
      // contiguous 0-based epochs, whitelist semantics
      val targets = Map("en" -> 500L, "de" -> 1000L, "zh" -> 100L)
      val docs = s.read.parquet(t(dir, "documents"))
      val out = Plans.pin(graft.operators.Sampling.resampleToCounts(docs, "lang", targets),
        "q_resample_counts out").df
      val exp = docs.filter($"lang".isInCollection(targets.keys.toSeq))
        .groupBy($"lang").agg(count(lit(1)).as("c"))
        .join(targets.toSeq.toDF("lang", "t"), "lang")
      val perDoc = out.groupBy($"lang", $"doc_id")
        .agg(count(lit(1)).as("k"), min($"epoch").as("emin"),
          max($"epoch").as("emax"), countDistinct($"epoch").as("edis"))
      violations(
        "stratum_total" -> out.groupBy($"lang").agg(count(lit(1)).as("n")).join(exp, "lang")
          .filter($"n" =!= $"t").select($"lang"),
        "copies_uneven" -> perDoc.join(exp, "lang")
          .filter($"k" =!= floor($"t" / $"c") && $"k" =!= floor($"t" / $"c") + 1)
          .select($"lang"),
        "epoch_range" -> perDoc
          .filter($"emin" =!= 0L || $"emax" =!= $"k" - 1L || $"edis" =!= $"k")
          .select($"lang"),
        "extra_count" -> perDoc.join(exp, "lang").groupBy($"lang", $"t", $"c")
          .agg(sum(when($"k" === floor($"t" / $"c") + 1L, 1L).otherwise(0L)).as("nceil"))
          .filter($"nceil" =!= pmod($"t", $"c"))
          .select($"lang"),
        "whitelist" -> out.filter(!$"lang".isInCollection(targets.keys.toSeq)).select($"lang"))
    }),
    "q_image_dedup" -> ((s, dir) => {
      import s.implicits._
      // IMAGE-LEVEL dedup over REAL pixels (violation query, oracle
      // empty): per doc, a deterministic grayscale PNG (the continuous
      // sine pattern is a pure function of doc_id), a BMP re-encode under
      // id+1e7 (identical pixels), and for even docs a half-resolution
      // render under id+2e7 (same continuous image). Checks:
      //  (a) cardinality: every planted blob decodes (ImageIO full pixel
      //      decode, not a stub) — missing rows are a violation;
      //  (b) dims: decoded width/height equal the planted values
      //      (arithmetic in doc_id);
      //  (c) re-encode invariance: dhash64(png) == dhash64(bmp) — a
      //      lossless container change must not move the fingerprint;
      //  (d) resize robustness: every (id, id+2e7) pair must be FOUND by
      //      the banded-Hamming join at radius 10 (measured max resized
      //      hamming over the full parameter space is 8 — deterministic
      //      integer pipeline, so the bound cannot drift);
      //  (e) subset exactness: operator pairs == brute-force bit_count
      //      pairs on the bounded id<300 slice (completeness AND
      //      precision of the banding).
      val n = 10000000L
      // the pattern space repeats with period lcm(5,3,4,3,17)=1020, so
      // 2040 docs cover every (dims, frequency, phase) combination twice;
      // beyond that the gate only inflates the banded join's candidate
      // volume (radius 10 -> ~6-bit band keys over heavily-clustered
      // signatures) without adding coverage
      val ids = s.read.parquet(t(dir, "documents")).select(col("doc_id")).as[Long]
        .filter(_ < 2040L)
        .repartition(s.sparkContext.defaultParallelism)
      // consumed by sigs + resize
      val imgs = Plans.pin(ids.flatMap { id =>
        val w = 40 + (id % 5).toInt * 12; val h = 32 + (id % 3).toInt * 8
        val fx = 1.0 + (id % 4) * 0.7; val fy = 0.5 + (id % 3) * 0.6
        val ph = (id % 17) / 17.0
        val out = Seq(
          (id, Multimodal.Synth.image(w, h, fx, fy, ph, "png")),
          (id + n, Multimodal.Synth.image(w, h, fx, fy, ph, "bmp")))
        if (id % 2 == 0)
          out :+ ((id + 2 * n, Multimodal.Synth.image(w / 2, h / 2, fx, fy, ph, "png")))
        else out
      }.toDF("doc_id", "media"), "q_image_dedup imgs").df
      val sigs = Plans.pin(Multimodal.imageDhash(imgs), "q_image_dedup sigs").df
      val expected = ids.count() * 2 + ids.filter(_ % 2 == 0).count()
      val cardV = sigs.agg(count(lit(1)).as("c"))
        .filter(col("c") =!= expected)
        .select(lit(-1L).as("id_a"), lit(-1L).as("id_b"))
      val base = pmod(col("id"), lit(n))
      val wBase = lit(40) + pmod(base, lit(5)).cast("int") * lit(12)
      val hBase = lit(32) + pmod(base, lit(3)).cast("int") * lit(8)
      val half = col("id") >= 2 * n
      val dimsV = sigs.filter(
          col("width") =!= when(half, (wBase / 2).cast("int")).otherwise(wBase) ||
          col("height") =!= when(half, (hBase / 2).cast("int")).otherwise(hBase))
        .select(col("id").as("id_a"), lit(-1L).as("id_b"))
      val origs = sigs.filter(col("id") < n)
      val reencV = origs.as("a")
        .join(sigs.filter(col("id") >= n && col("id") < 2 * n).as("b"),
          col("a.id") + n === col("b.id"))
        .filter(col("a.sig") =!= col("b.sig"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val found = Plans.pin(Dedup.simhashPairsFromSigs(
        sigs.select(col("id"), col("sig")), maxHamming = 10), "q_image_dedup found").df
      val resizeV = origs.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id").as("id_a"), (col("id") + 2 * n).as("id_b"))
        .join(found, Seq("id_a", "id_b"), "left_anti")
      // (f) REAL resize invariants, all exact: a 32x32-box thumbnail of
      //     every original must exist (full decode->box-resample->encode
      //     worked), carry the arithmetic aspect-fit dims, and a resize
      //     whose box exceeds the source dims must leave pixels — hence
      //     the dhash — UNCHANGED. (Drift bounds for aggressive downsizes
      //     are fixture-dependent and live in the unit spec.)
      val origImgs = imgs.filter(col("doc_id") < n)
      val thumbs = Plans.pin(Multimodal.imageResize(origImgs, maxW = 32, maxH = 32),
        "q_image_dedup thumbs").df
      val twExp = least(wBase, least(lit(32), floor(wBase * 32 / hBase))).cast("int")
      val thExp = least(hBase, least(lit(32), floor(hBase * 32 / wBase))).cast("int")
      val thumbMissing = origs.select(col("id"))
        .join(thumbs, Seq("id"), "left_anti")
        .select(col("id").as("id_a"), lit(-1L).as("id_b"))
      val thumbDims = thumbs
        .filter(col("width") =!= twExp || col("height") =!= thExp)
        .select(col("id").as("id_a"), lit(-1L).as("id_b"))
      val noopSigs = Multimodal.imageDhash(
        Multimodal.imageResize(origImgs, maxW = 4096, maxH = 4096),
        idCol = "id")
      val thumbNoop = origs.as("a")
        .join(noopSigs.as("t"), Seq("id"))
        .filter(col("a.sig") =!= col("t.sig"))
        .select(col("id").as("id_a"), lit(-1L).as("id_b"))
      violations("cardinality" -> cardV, "dims" -> dimsV, "reencode_sig" -> reencV,
          "resized_missed" -> resizeV, "thumb_missing" -> thumbMissing,
          "thumb_dims" -> thumbDims, "thumb_noop_sig" -> thumbNoop)
        .unionByName(hammingSubsetMismatches(sigs, found, 10, pmod(_, lit(n)) < 300))
        .orderBy(col("id_a"), col("id_b"), col("violation"))
    }),
    "q_audio_fingerprint" -> ((s, dir) => {
      // REAL audio PCM sample decode (16-bit WAV): blobs are synthesized
      // standard WAVs carrying integer triangle waves (every sample the
      // exact integer amp_c * (|2(i mod p) − p| − p/2)); the operator
      // parses the container BACK and computes exact integer stats + the
      // energy-transition signature; the DuckDB oracle replays the SAME
      // closed-form sample formula (never seeing a byte of the container)
      // and must match every column bit-for-bit — container write, chunk
      // walk, LE sample decode, mono mix, windowing all under one hash.
      import s.implicits._
      val ids = s.read.parquet(t(dir, "documents")).select(col("doc_id")).as[Long]
        .filter(_ < 200L)
        .repartition(s.sparkContext.defaultParallelism)
      val wavs = ids.map { id =>
        val p = 16 + (id % 7).toInt * 8          // sample-period, always even
        val frames = 16384 + (id % 4).toInt * 4096
        val sr = 8000 + (id % 3).toInt * 4000    // divisible by 32: exact windows
        val amp = 300 + (id % 5).toInt * 100     // |amp * p/2| <= 22400 < 2^15
        val chans = Array.tabulate((1 + id % 2).toInt)(c =>
          Multimodal.Synth.triangle(frames, p, amp - 7 * c))
        (id, Multimodal.Synth.wavPcm(sr, chans))
      }.toDF("doc_id", "media")
      Multimodal.audioFingerprint(wavs)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q_html_extract" -> ((s, dir) => {
      // REAL HTML -> text extraction (the crawl stage every quality/dedup
      // operator sits behind): each doc's text is wrapped into a full page
      // exercising the extractor's whole spec — doctype, head with title/
      // style/script (raw-text elements with hostile '<' and a quoted
      // "</p>" inside), quoted attributes containing '>', block vs inline
      // tags, named + numeric entities, comments, NBSP — and the DuckDB
      // oracle states the expected text/title/links arithmetically from
      // the same construction (the corpus text is verified single-spaced,
      // so extraction is identity on it).
      val d = col("doc_id")
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>Doc "), d, lit(" &amp; Co</title>"),
        lit("<style>p { color: #333; }</style>"),
        lit("<script>if (n < 2) { document.write(\"<p>junk</p>\"); }</script>"),
        lit("</head><body data-note=\"a > b\"><h1>Doc "), d, lit("</h1><p>"),
        col("text"),
        lit("</p><ul><li>item one</li><li>two &#65;&#x42;</li></ul>"),
        lit("<a href=\"https://h"), d, lit(".example/p?q=1&amp;r=2\">link</a>"),
        lit("<a href='/rel/"), d, lit("'>rel</a>"),
        lit("<!-- <p>hidden</p> --><p>tail&nbsp;end</p></body></html>"))
      s.read.parquet(t(dir, "documents"))
        .select(d, html_title(html).as("title"), html_text(html).as("text"),
          array_join(html_links(html), " ").as("links"))
        .orderBy(d)
    }),
    "q_bm25_topk" -> ((s, dir) => {
      // BM25 retrieval top-k (retrieval-based decontamination / data
      // selection): queries are the 5-word prefixes of every 17th doc;
      // the oracle replays the ENTIRE scoring pipeline — inverted-index
      // tf, df, doc lengths, avgdl, idf, saturation, qtf, rounding,
      // ranking with the doc_id tie-break — independently in SQL.
      val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text"))
      val queries = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("text"))
      graft.operators.Retrieval.bm25TopK(docs, queries, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_link_graph" -> ((s, dir) => {
      // host-level web graph over REAL link extraction: each doc is a
      // page on host h(doc_id % 50) carrying two absolute links
      // (h(3d+1 % 50), h(7d+2 % 50)) and one relative link (resolves to
      // the source host, then drops as a self-loop — d=8 mod 25 also
      // makes h2 a self-loop, exercising the drop on absolute links);
      // degrees + 3 iterations of FIXED-POINT integer PageRank are exact
      // longs, so the oracle replays the edge formula, both degrees, and
      // every PageRank iteration bit-for-bit.
      val d = col("doc_id")
      val html = concat(
        lit("<html><body><a href=\"https://h"), pmod(d * 3 + 1, lit(50)),
        lit(".example/x\">a</a><a href='https://h"), pmod(d * 7 + 2, lit(50)),
        lit(".example/y'>b</a><a href=\"/local\">c</a></body></html>"))
      val pages = s.read.parquet(t(dir, "documents"))
        .select(format_string("https://h%d.example/p/%d", pmod(d, lit(50)), d)
          .as("url"), html.as("html"))
      val edges = Plans.pin(graft.operators.LinkGraph.hostEdges(pages), "q_link_graph edges").df
      graft.operators.LinkGraph.degrees(edges)
        .join(graft.operators.LinkGraph.pageRank(edges, iters = 3), Seq("host"))
        .orderBy(col("host"))
    }),
    "q_wordlist_filter" -> ((s, dir) => {
      // C4 badwords-stage gate: count wordlist hits over every document
      // with a planted suffix that exercises punctuation strip + case
      // fold ("SPARK." and "(vector)" must each count), a corpus single
      // term ("stream") and a corpus phrase ("table table", counted at
      // every start position, overlaps allowed). The oracle recomputes
      // all hits with DuckDB trim/lower/positional list ops.
      val d = col("doc_id")
      val terms = Seq("spark", "vector", "stream", "table table")
      val docs = s.read.parquet(t(dir, "documents"))
        .select(d, concat(col("text"), lit(" SPARK. (vector)")).as("text"))
      docs.select(d,
          graft.functions.GraftFunctions.term_hits(col("text"), terms).as("hits"),
          (graft.functions.GraftFunctions.term_hits(col("text"), terms) <= lit(2))
            .as("keep"))
        .orderBy(d)
    }),
    "q_robots_filter" -> ((s, dir) => {
      // RFC 9309 crawl-politeness over synthesized per-host robots.txt:
      // EVEN hosts publish a graftbot-specific group (Disallow /tmp) plus
      // a * group; agent "graftbot" must obey ONLY its specific group
      // (so /private stays allowed there — the group-shadowing rule);
      // ODD hosts publish only the * group (Disallow /private, Allow
      // /private/ok — longest-match precedence). The oracle replays the
      // whole decision as prefix CASE logic. Host = floor(doc_id/4) % 50
      // so every path variant (doc_id % 4) hits BOTH host parities —
      // every branch of the decision table has blocked AND allowed rows.
      val d = col("doc_id")
      val hn = pmod(shiftright(d, 2), lit(50))
      val path = when(pmod(d, lit(4)) === 0, concat(lit("/private/page"), d))
        .when(pmod(d, lit(4)) === 1, concat(lit("/private/ok/"), d))
        .when(pmod(d, lit(4)) === 2, concat(lit("/pub/"), d))
        .otherwise(concat(lit("/tmp/"), pmod(d, lit(3))))
      val urls = s.read.parquet(t(dir, "documents"))
        .select(d, format_string("https://h%d.example%s", hn, path).as("url"))
      val robots = s.read.parquet(t(dir, "documents"))
        .select(pmod(shiftright(d, 2), lit(50)).as("hn")).distinct()
        .select(format_string("h%d.example", col("hn")).as("host"),
          when(pmod(col("hn"), lit(2)) === 0,
            lit("User-agent: graftbot\nDisallow: /tmp\n" +
              "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
            .otherwise(
              lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
            .as("robots_txt"))
      graft.operators.Robots.filterAllowed(urls, robots, "graftbot")
        .orderBy(d)
    }),
    "q_anchor_text" -> ((s, dir) => {
      // anchor-term host profile over REAL anchor extraction: each page
      // on host h(d%50) carries an absolute link to h(3d+1 % 50) with
      // anchor "Visit h<n> Portal" (mixed case exercises lower()), one to
      // h(7d+2 % 50) with anchor "News day d<d%7>", and a relative link
      // whose dst resolves to the source host and drops as a self-loop;
      // the oracle replays the edge formula and the per-(host, term)
      // counts exactly.
      val d = col("doc_id")
      val h1 = pmod(d * 3 + 1, lit(50))
      val h2 = pmod(d * 7 + 2, lit(50))
      val html = concat(
        lit("<html><body><a href=\"https://h"), h1,
        lit(".example/x\">Visit h"), h1,
        lit(" Portal</a><a href='https://h"), h2,
        lit(".example/y'>News day d"), pmod(d, lit(7)),
        lit("</a><a href=\"/rel\">back home</a></body></html>"))
      val pages = s.read.parquet(t(dir, "documents"))
        .select(format_string("https://h%d.example/p/%d", pmod(d, lit(50)), d)
          .as("url"), html.as("html"))
      graft.operators.LinkGraph.anchorTermCounts(pages)
        .orderBy(col("host"), col("term"))
    }),
    "q_unicode_clean" -> ((s, dir) => {
      // Unicode hygiene gate: NFC over real document text with a planted
      // decomposed suffix (DuckDB's nfc_normalize replays it with an
      // INDEPENDENT UAX#15 implementation), NFKC folding of the suffix
      // (folded forms stated literally in the oracle), and cp1252
      // mojibake repair of four classic corruptions — the oracle states
      // the clean form literally, so repair is a hash match, and the
      // before/after mojibake_score constants pin the detector. The
      // mojibake literals ARE the UTF-8 bytes of the clean strings read
      // as windows-1252 (e.g. U+00C3 U+00A9 = "é" through cp1252).
      val d = col("doc_id")
      val m4 = pmod(d, lit(4))
      val suffix = when(m4 === 0, lit("e\u0301")) // e + combining acute
        .when(m4 === 1, lit("A\u030A")) // A + combining ring
        .when(m4 === 2, lit("\u212B")) // Angstrom sign -> NFC U+00C5
        .otherwise(lit("\uFB01")) // fi ligature: NFC keeps, NFKC folds
      val moji = when(m4 === 0, lit("caf\u00C3\u00A9")) // café
        .when(m4 === 1, lit("na\u00C3\u00AFve")) // naïve
        .when(m4 === 2, lit("\u00E2\u201A\u00AC 9,99 \u00E2\u20AC\u201D ok")) // € / —
        .otherwise(lit("\u00E2\u20AC\u0153quote\u00E2\u20AC\u009D")) // curly quotes
      val base = s.read.parquet(t(dir, "documents"))
        .select(d, col("text"), suffix.as("sfx"),
          concat(moji, lit(" doc "), d).as("moji"))
      base.select(d,
          nfc(concat(substring(col("text"), 1, 60), col("sfx"))).as("nfc_text"),
          nfkc(col("sfx")).as("nfkc_suffix"),
          fix_mojibake(col("moji")).as("fixed"),
          mojibake_score(col("moji")).as("score_moji"),
          mojibake_score(fix_mojibake(col("moji"))).as("score_fixed"))
        .orderBy(d)
    }),
    "q_pipeline_e2e" -> ((s, dir) => {
      // THE COMPOSED PIPELINE GATE: the realistic training-data chain as
      // ONE query — WARC export (DSv2 write, payloads are real HTML
      // pages) -> WARC ingest (DSv2 read) -> html_text extraction (the
      // real parser; the wrap is exactly inverted, so the downstream
      // chain and the oracle see the raw text)
      // -> domain blocklist (suffix semi-join on the crawl's url column)
      // -> Gopher quality filter -> corpus boilerplate-line strip ->
      // exact dedup -> exact n-gram-Jaccard near-dup + connected
      // components with KEEP-BEST survivor selection (longest text wins,
      // RefinedWeb-style) -> benchmark decontamination -> exact x2
      // resampling (selection-free, so epochs are hash-matchable) ->
      // sequence packing. Every operator is oracled alone elsewhere; THIS gate
      // proves the compositions: column contracts across stages, pin
      // interplay, and that each stage consumes the previous stage's
      // actual output (the DuckDB oracle recomputes the whole chain as
      // one CTE pipeline over the same synthesized corpus).
      // Corpus synthesis: line 2 plants a cookie banner in even docs
      // (stripped later: df ~ half the corpus >= 50), line 3 an ellipsis
      // line in every 7th doc (trips ellipsis_line_ratio 1/3 > 0.3);
      // every 10th doc is cloned under id+1e6 with IDENTICAL text (exact
      // dedup must keep the min id).
      val d = col("doc_id")
      val ml = concat_ws("\n", col("text"),
        when(pmod(d, lit(2)) === 0,
          lit("please accept our cookie policy to continue"))
          .otherwise(concat(lit("u"), d.cast("string"))),
        when(pmod(d, lit(7)) === 0, lit("to be continued ..."))
          .otherwise(concat(lit("end of doc "), d.cast("string"))))
      val docsTable = s.read.parquet(t(dir, "documents"))
      val base = docsTable.select(d, ml.as("text"))
      val corpus = base.unionByName(
        base.filter(pmod(d, lit(10)) === 0).withColumn("doc_id", d + 1000000L))
      // WARC hop through the DSv2 WRITE path (multi-partition commit) and
      // back through the DSv2 read: resource payloads are byte-exact.
      // STABLE scratch path (not a fresh temp dir): the gate runs
      // repeatedly (bench reps, verify cycles) and overwrite-mode reuses
      // the same directory instead of leaking one corpus per invocation
      val tmp = gateScratch(dir, "e2e") + "/crawl"
      // payloads are REAL HTML pages (title + hostile script + one <p>
      // per text line): the read side must run the real extractor, and
      // because extraction inverts this wrap exactly, the rest of the
      // chain — and the DuckDB oracle — see the same text as before
      corpus.select(format_string("https://d%09d.example/x", d).as("url"),
          lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).as("warc_ts"),
          concat(lit("<!DOCTYPE html><html><head><title>d"), d,
            lit("</title><script>track(1 < 2, \"</p>\");</script></head><body><p>"),
            regexp_replace(col("text"), "\n", "</p><p>"),
            lit("</p></body></html>")).cast("binary").as("html"))
        .repartition(4)
        .write.format("warc").mode("overwrite").save(tmp)
      // stage boundaries are PINNED (Plans.pin): each frame below is
      // consumed by 2+ downstream operators, and an unpinned reference
      // re-expands its whole upstream subtree per consumer (no cross-action
      // CSE in Spark) — the WARC scan + quality kernels would re-run 3x
      // blocklist stage runs on the crawl's REAL url column before id
      // extraction: every 13th doc's host is listed (hosts are unique per
      // doc, so a clone can outlive its blocked original and must then
      // win the exact-dedup stage as its own min id — composition the
      // isolated gates never see)
      val bl = corpus.filter(pmod(d, lit(13)) === 3)
        .select(format_string("d%09d.example", d).as("domain"))
      val docs0 = Plans.pin(graft.operators.UrlFilter.dropBlockedHosts(
          s.read.format("warc").option("types", "resource").load(tmp)
            .select(col("url"), col("payload")),
          bl, urlCol = "url", idCol = "url")
        // 4 archive files -> widen BEFORE the HTML extraction, so the
        // parser (the expensive per-row kernel here) and the downstream
        // quality kernels run across the session's cores instead of in
        // the 4 archive-read tasks; the shuffle moves the same payload
        // bytes the parser was about to read (r7)
        .repartition(s.sparkContext.defaultParallelism)
        .select(regexp_extract(col("url"), "d(\\d+)\\.example", 1)
            .cast("long").as("doc_id"),
          html_text(col("payload").cast("string")).as("text")), "q_pipeline_e2e docs0").df
      val kept = docs0.filter(graft.operators.TextQuality.keepColumn())
      val stripped = Plans.pin(Dedup.stripBoilerplateLines(kept, minDf = 50),
        "q_pipeline_e2e stripped").df
      val dd = Plans.pin(stripped.join(Dedup.exact(stripped), Seq("doc_id")),
        "q_pipeline_e2e dd").df
      val pairs = Dedup.ngramJaccardPairs(dd, n = 3, minJaccard = 0.2)
      // keep-BEST survivor per near-dup cluster (longest text, ties to
      // the smallest id) — the RefinedWeb selection rule, composed here
      // instead of the min-id drop the isolated q_dedup_groups gate pins
      val nd = Plans.pin(Dedup.keepBestPerCluster(
          dd.withColumn("q", length(col("text"))), pairs, qualityCol = "q")
        .drop("q"), "q_pipeline_e2e nd").df
      val bench = docs0.filter(pmod(col("doc_id"), lit(50)) === 0 &&
        col("doc_id") < 1000000L)
      // lang recovery maps clones (id + 1e6) back to their base row: a
      // clone can now outlive its blocklisted original, and an inner
      // join on the raw id would silently drop it (the exact-dedup stage
      // used to mask this — min-id always kept the original)
      val surv = Plans.pin(nd.join(Dedup.contaminatedDocs(nd, bench, n = 5, minShared = 1)
          .select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("base_id", pmod(col("doc_id"), lit(1000000L)))
        .join(docsTable.select(col("doc_id").as("base_id"), col("lang")),
          Seq("base_id"))
        .drop("base_id"), "q_pipeline_e2e surv").df
      // exact x2 upsampling: targets = 2 * per-stratum survivor counts, so
      // EVERY doc gets exactly copies {epoch 0, epoch 1} — no
      // hash-dependent selection, the oracle states the counts directly
      val targets = surv.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> 2L * r.getLong(1)).toMap
      val copies = graft.operators.Sampling.resampleToCounts(surv, "lang", targets)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_copies"), min(col("epoch")).as("epoch_min"),
          max(col("epoch")).as("epoch_max"))
      val packed = graft.operators.Packing.packConcat(
        surv.withColumn("toks", size(split(col("text"), " ")).cast("long"))
          .withColumn("bucket", pmod(col("doc_id"), lit(8))),
        "toks", budget = 200, bucketCol = "bucket")
      packed.join(copies, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("toks"), col("bucket"),
          col("pack_id"), col("pack_pos").cast("long").as("pack_pos"),
          col("n_copies"), col("epoch_min"), col("epoch_max"))
        .orderBy(col("doc_id"))
    }),
    "q_warc_roundtrip" -> ((s, dir) => {
      // WARC ingestion head: documents written as a spec-layout
      // member-per-record .warc.gz (driver-side — bounded by the gate SF,
      // like the dnsmag export), read back through
      // spark.read.format("warc") with the HTTP header block stripped;
      // every url/byte must survive exactly. Oracle recomputes the rows
      // from the documents table directly.
      val rows = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
      val tmp = gateScratch(dir, "warc") // stable: FileOutputStream overwrites
      val out = new java.io.FileOutputStream(s"$tmp/docs.warc.gz")
      // close() each gzip member to release its native Deflater
      // deterministically (finish() alone leaves one Deflater per record to
      // finalization); the shield keeps member close() from closing the file
      val shield = new java.io.FilterOutputStream(out) {
        override def close(): Unit = flush()
        // FilterOutputStream's default array write degrades to per-byte
        // syscalls on the raw FileOutputStream
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          out.write(b, off, len)
      }
      try rows.foreach { r =>
        val m = new java.util.zip.GZIPOutputStream(shield)
        val body = r.getAs[String]("text").getBytes("UTF-8")
        graft.core.warc.WarcParser.writeRecord(m, "response", Seq(
          "WARC-Record-ID" -> s"<urn:uuid:d${r.getAs[Long]("doc_id")}>",
          "WARC-Target-URI" -> f"https://d${r.getAs[Long]("doc_id")}%08d.example/x",
          "WARC-Date" -> "2024-03-01T00:00:00Z",
          "Content-Type" -> "application/http; msgtype=response"),
          (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body)
        m.close()
      } finally out.close()
      graft.sources.WarcDataSource.pages(s, s"$tmp/docs.warc.gz")
        .select(col("url"), col("warc_ts"),
          col("html").cast("string").as("body"))
        .orderBy(col("url"))
    }),
    "q_dnsmag_v2_roundtrip" -> ((s, dir) => {
      // sketch state -> reference .dnsmag CBOR export -> read back through
      // the DataSource V2 provider (spark.read.format("dnsmag")): per-domain
      // query counts oracle against DuckDB directly, and the HLL payloads
      // must survive the CBOR hop BYTE-IDENTICAL (hll_match, all true —
      // false rows would hash-mismatch the oracle's literal true)
      val ev = s.read.parquet(t(dir, "events"))
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      val state = ev.groupBy(col("event_type").as("domain"))
        .agg(hll_build(xxh3_64(col("user_id").cast("string"))).as("hll"),
          count(lit(1)).as("queries"))
        .withColumn("date", lit(java.sql.Date.valueOf("2000-01-01")))
      val tmp = gateScratch(dir, "dnsmag") // stable: the codec overwrites
      graft.io.DnsMagCbor.write(state, s"$tmp/state.dnsmag")
      val back = s.read.format("dnsmag").load(s"$tmp/state.dnsmag")
        .filter(col("domain").isNotNull)
      back.as("b").join(state.as("o"), Seq("domain"))
        .select(col("domain"), col("b.queries").as("queries"),
          (col("b.hll") === col("o.hll")).as("hll_match"))
        .orderBy(col("domain"))
    }),
    "q_hll_sketch_state" -> ((s, dir) => {
      // the collect->aggregate path over events: per-type sketches MERGED
      // into the global row; merged estimate must track the exact global
      // distinct within the published bound (3 * 1.04/sqrt(2^14))
      val ev = s.read.parquet(t(dir, "events"))
        .withColumn("h", xxh3_64(col("user_id").cast("string")))
      val perType = ev.groupBy(col("event_type")).agg(hll_build(col("h")).as("sk"))
      val mergedEst = perType.agg(hll_est(hll_merge(col("sk"))).as("est"))
      val exact = ev.agg(countDistinct(col("user_id")).as("exact"))
      mergedEst.crossJoin(broadcast(exact))
        .filter(abs(col("est") - col("exact")) >
          greatest(lit(3 * 0.008125) * col("exact"), lit(1.0)))
        .select(col("est"), col("exact"))
    }))

  /** DuckDB oracles; violation queries compare against an empty relation of
    * the same shape. */
  def oracleSql: Map[String, String] = Map(
    "q_agg_pushdown" -> """
      SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             round(avg(l_discount), 9) AS avg_disc, count(*) AS cnt
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_join_broadcast" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1""",
    "q_join_3way" -> """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1 ORDER BY 1""",
    "q_window_topk" -> """
      SELECT o_custkey, o_orderkey, rn FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_semi_anti" -> """
      SELECT c_mktsegment,
             count(*) FILTER (WHERE o.o_custkey IS NULL) AS n_no_orders,
             count(*) FILTER (WHERE o.o_custkey IS NOT NULL) AS n_with_orders
      FROM customer c LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON c.c_custkey = o.o_custkey
      GROUP BY 1 ORDER BY 1""",
    "q_rollup" -> """
      SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS cnt
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    "q_sort_limit" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100""",
    "q_cube" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    "q_set_ops" -> """
      WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      rels AS (
        SELECT user_id, 'both' AS rel FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
        UNION ALL
        SELECT user_id, 'click_only' FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
        UNION ALL
        SELECT user_id, 'either' FROM (SELECT user_id FROM clickers UNION SELECT user_id FROM buyers))
      SELECT rel, count(*) AS n_users FROM rels GROUP BY 1 ORDER BY 1""",
    "q_window_running" -> """
      SELECT user_id, event_id,
             CAST(sum(CAST(value AS DECIMAL(22,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      FROM events WHERE user_id < 20 ORDER BY user_id, event_id""",
    "q_magnitude_exact" -> """
      WITH per AS (
        SELECT event_type, count(DISTINCT user_id) AS unique_users,
               count(*) AS query_volume
        FROM events GROUP BY 1),
      tot AS (SELECT count(DISTINCT user_id) AS total_users FROM events)
      SELECT event_type,
             round(ln(unique_users) / ln(total_users) * 10, 9) AS magnitude,
             unique_users, query_volume
      FROM per, tot
      ORDER BY floor(round(ln(unique_users) / ln(total_users) * 10, 9) * 1000) ASC,
               event_type ASC""",
    "q_hll_violations" -> """
      SELECT event_type, CAST(0 AS BIGINT) AS est, CAST(0 AS BIGINT) AS exact
      FROM events WHERE 1 = 0""",
    "q_cms_violations" -> """
      SELECT event_type, CAST(0 AS BIGINT) AS est, CAST(0 AS BIGINT) AS exact
      FROM events WHERE 1 = 0""",
    "q_bloom_violations" -> """
      SELECT user_id FROM events WHERE 1 = 0""",
    "q_kll_violations" -> """
      SELECT CAST(0 AS DOUBLE) AS q, CAST(0 AS DOUBLE) AS est WHERE 1 = 0""",
    "q_tdigest_violations" -> """
      SELECT CAST(0 AS DOUBLE) AS q, CAST(0 AS DOUBLE) AS est WHERE 1 = 0""",
    "q_kmv_distinct" -> """
      WITH h AS (SELECT DISTINCT event_type,
                        (user_id * 2654435761) % 1000000007 AS h FROM events),
      ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS r,
               count(*) OVER (PARTITION BY event_type) AS m
        FROM h),
      kept AS (SELECT * FROM ranked WHERE r <= 64),
      per AS (
        SELECT event_type, count(*) AS n_held, min(h) AS min_hash,
               max(h) AS kth_hash,
               CASE WHEN max(m) < 64 THEN CAST(count(*) AS DOUBLE)
                    ELSE (63 * pow(2, 64)) / CAST(max(h) AS DOUBLE) END AS est
        FROM kept GROUP BY event_type),
      gh AS (SELECT DISTINCT (user_id * 2654435761) % 1000000007 AS h FROM events),
      granked AS (SELECT h, row_number() OVER (ORDER BY h) AS r,
                         count(*) OVER () AS m FROM gh),
      gkept AS (SELECT * FROM granked WHERE r <= 64),
      gper AS (
        SELECT '__all__' AS event_type, count(*) AS n_held, min(h) AS min_hash,
               max(h) AS kth_hash,
               CASE WHEN max(m) < 64 THEN CAST(count(*) AS DOUBLE)
                    ELSE (63 * pow(2, 64)) / CAST(max(h) AS DOUBLE) END AS est
        FROM gkept)
      SELECT * FROM per UNION ALL SELECT * FROM gper ORDER BY event_type""",
    "q_kmv_violations" -> """
      SELECT 'x' AS check, CAST(0 AS DOUBLE) AS est, CAST(0 AS DOUBLE) AS exact
      WHERE 1 = 0""",
    "q_freq_items" -> """
      WITH c AS (
        SELECT event_type, (user_id * 2654435761) % 1000000007 AS hash,
               count(*) AS lo
        FROM events GROUP BY 1, 2)
      SELECT event_type, hash, lo, lo AS hi FROM c
      UNION ALL
      SELECT '__all__' AS event_type, hash, CAST(sum(lo) AS BIGINT) AS lo,
             CAST(sum(lo) AS BIGINT) AS hi
      FROM c GROUP BY hash
      ORDER BY event_type, hash""",
    "q_freq_violations" -> """
      SELECT CAST(0 AS BIGINT) AS h, CAST(0 AS BIGINT) AS lo,
             CAST(0 AS BIGINT) AS exact WHERE 1 = 0""",
    "q_sessionize" -> """
      WITH e AS (
        SELECT event_id, user_id, ts, epoch_us(ts) AS us FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      flags AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(us) OVER w IS NULL THEN 0
                    WHEN us - lag(us) OVER w > 1800 * 1000000 THEN 1
                    ELSE 0 END AS isnew
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
      SELECT event_id, user_id,
             CAST(sum(isnew) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM flags ORDER BY event_id""",
    "q_session_stats" -> """
      WITH e AS (
        SELECT user_id, ts, epoch_us(ts) AS us FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      flags AS (
        SELECT user_id, ts, us,
               CASE WHEN lag(us) OVER w IS NULL THEN 0
                    WHEN us - lag(us) OVER w > 1800 * 1000000 THEN 1
                    ELSE 0 END AS isnew
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts, us,
               CAST(sum(isnew) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM flags)
      SELECT user_id, session_idx, min(ts) AS session_start,
             max(ts) AS session_end, count(*) AS n_events,
             round((max(us) - min(us)) / 1000000.0, 6) AS duration_sec
      FROM sess GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx""",
    "q_weighted_sample" -> """
      SELECT 'x' AS what WHERE 1 = 0""",
    "q_asof_forward" -> """
      WITH purchases AS (
        SELECT user_id, ts AS purchase_at,
               arg_max(value, event_id) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      views AS (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'view')
      SELECT v.event_id, v.user_id, v.ts, v.value,
             p.purchase_value, p.purchase_at
      FROM views v ASOF LEFT JOIN purchases p
        ON v.user_id = p.user_id AND v.ts <= p.purchase_at
      ORDER BY v.event_id""",
    "q_asof_join" -> """
      WITH clicks AS (
        SELECT user_id, ts AS click_at, arg_max(value, event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      views AS (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'view')
      SELECT v.event_id, v.user_id, v.ts, v.value, c.click_value, c.click_at
      FROM views v ASOF LEFT JOIN clicks c
        ON v.user_id = c.user_id AND v.ts >= c.click_at
      ORDER BY v.event_id""",
    "q_fingerprint_violations" -> """
      SELECT doc_id AS id_a, doc_id AS id_b FROM documents WHERE 1 = 0""",
    "q_dedup_exact" -> """
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY 1""",
    "q_dedup_ngram" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                           ELSE list_transform(range(1, len(ts) - 1),
                                  i -> array_to_string(ts[i:i+2], ' ')) END) AS s
        FROM toks),
      sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             round(CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 9) AS jaccard
      FROM inter JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.2
      ORDER BY 1, 2""",
    "q_dedup_incremental" -> """
      SELECT min(doc_id) AS doc_id FROM documents
      WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 2 = 0)
      GROUP BY text ORDER BY 1""",
    "q_url_canon" -> """
      SELECT doc_id,
             concat(
               CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END,
               '://www.site', doc_id % 7, '.example',
               CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END,
               '/Path/', doc_id,
               CASE WHEN doc_id % 2 = 0 THEN '' ELSE '?q=X' END) AS canon_url
      FROM documents ORDER BY doc_id""",
    "q_dedup_groups" -> """
      WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                           ELSE list_transform(range(1, len(ts) - 1),
                                  i -> array_to_string(ts[i:i+2], ' ')) END) AS s
        FROM toks),
      sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.2),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      SELECT id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1""",
    "q_dedup_keep_best" -> """
      WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                           ELSE list_transform(range(1, len(ts) - 1),
                                  i -> array_to_string(ts[i:i+2], ' ')) END) AS s
        FROM toks),
      sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.2),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS MATERIALIZED (SELECT id, min(r) AS component FROM reach GROUP BY 1),
      winners AS (
        SELECT component, id AS keep_id
        FROM (SELECT component, id,
                     row_number() OVER (PARTITION BY component
                       ORDER BY n_chars DESC, id ASC) AS rn
              FROM comp JOIN documents ON comp.id = documents.doc_id)
        WHERE rn = 1),
      losers AS (SELECT id FROM comp
                 WHERE id NOT IN (SELECT keep_id FROM winners))
      SELECT doc_id, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id""",
    "q_lm_perplexity" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      v AS (SELECT count(DISTINCT w) + 1 AS v
            FROM (SELECT unnest(ts) AS w FROM toks)),
      big AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(ts)),
                       i -> ts[i] || ' ' || ts[i+1])) AS g
              FROM toks),
      cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY g),
      ctx AS (SELECT string_split(g, ' ')[1] AS w1, CAST(sum(c) AS BIGINT) AS cctx
              FROM cnt GROUP BY 1),
      model AS (SELECT g, c FROM cnt WHERE c >= 2),
      dg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS m FROM big GROUP BY 1, 2),
      sc AS (SELECT dg.doc_id, dg.m,
               (coalesce(model.c, 0) + 0.5) /
               (coalesce(ctx.cctx, 0) + 0.5 * (SELECT v FROM v)) AS p
             FROM dg LEFT JOIN model USING (g)
               LEFT JOIN ctx ON string_split(dg.g, ' ')[1] = ctx.w1),
      scored AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_ngrams,
                   round(-sum(m * log2(p)) / sum(m), 9) AS nll_bits
                 FROM sc GROUP BY doc_id)
      SELECT doc_id, n_ngrams, nll_bits,
             ['head', 'middle', 'tail'][ntile(3) OVER (ORDER BY nll_bits, doc_id)]
               AS ppl_bucket
      FROM scored ORDER BY doc_id""",
    "q_url_blocklist" -> """
      WITH docs AS (
        SELECT doc_id,
               'w' || (doc_id % 3) || '.site' || (doc_id % 7) || '.example' AS host
        FROM documents),
      bl AS (SELECT * FROM (VALUES ('site3.example'), ('w1.site5.example'),
               ('nomatch.test')) t(domain)),
      sfx AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(ls) + 1),
                       i -> array_to_string(ls[i:], '.'))) AS suffix
              FROM (SELECT doc_id, string_split(host, '.') AS ls FROM docs)),
      blocked AS (SELECT DISTINCT doc_id FROM sfx JOIN bl ON sfx.suffix = bl.domain)
      SELECT doc_id, host FROM docs
      WHERE doc_id NOT IN (SELECT doc_id FROM blocked) ORDER BY doc_id""",
    "q_bpe_tokenize" -> """
      SELECT doc_id FROM documents WHERE 1 = 0""",
    "q_quality_classifier" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      grams AS (
        SELECT doc_id, unnest(ts) AS g FROM toks
        UNION ALL
        SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                 i -> ts[i] || ' ' || ts[i+1])) AS g
        FROM toks),
      hashed AS (
        SELECT doc_id,
               CAST(list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
                 (acc, cp) -> (31 * acc + cp) % 1000003) % 64 AS INTEGER) AS idx
        FROM grams),
      feats AS (SELECT doc_id, idx, CAST(count(*) AS BIGINT) AS m
                FROM hashed GROUP BY 1, 2),
      scored AS (
        SELECT doc_id,
               round(-0.5 + sum(m * (((idx * 2654435761) % 2001 - 1000) / 1000.0)), 9)
                 AS quality_logit
        FROM feats GROUP BY doc_id)
      SELECT doc_id, quality_logit, quality_logit > 0 AS keep
      FROM scored ORDER BY doc_id""",
    "q_chunk_split" -> """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents),
      meta AS (
        SELECT doc_id, ts, len(ts) AS n,
               CASE WHEN len(ts) = 0 THEN 0
                    WHEN len(ts) <= 32 THEN 1
                    ELSE 1 + CAST(ceil(CAST(len(ts) - 32 AS DOUBLE) / 24) AS INT)
               END AS nchunks
        FROM tok)
      SELECT doc_id, u.cid AS chunk_id, u.t AS text FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, nchunks),
                 i -> struct_pack(cid := i,
                   t := array_to_string(ts[i*24+1 : i*24+32], ' ')))) AS u
        FROM meta) q
      ORDER BY doc_id, chunk_id""",
    "q_token_stats" -> """
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
             length(text) AS n_chars_computed, n_chars
      FROM documents ORDER BY doc_id""",
    "q_text_quality" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES
          (900000001, 'café naïve déjà vu über straße'),
          (900000002, 'русский текст 123 про мир'),
          (900000003, 'ελληνικά γράμματα 123 !!'),
          (900000004, 'mixed ascii + ñandú 42% done…')) v(doc_id, text))
      SELECT doc_id,
             round(CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
                   / length(text), 9) AS alpha_ratio,
             round(CAST(length(regexp_replace(text, '[\p{L}\p{Nd} \t\n\r]', '', 'g')) AS DOUBLE)
                   / length(text), 9) AS punct_ratio
      FROM corpus ORDER BY doc_id""",
    "q_text_gopher" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      ne AS (SELECT doc_id, t FROM tok WHERE t <> ''),
      cnts AS (SELECT doc_id, t, count(*) AS c FROM ne GROUP BY 1, 2),
      agg AS (SELECT doc_id, sum(c) AS n,
                     sum(CASE WHEN t IN ('the','a','an','and','or','of','to',
                                         'in','is','that','with','for')
                         THEN c ELSE 0 END) AS sw,
                     sum(len(t) * c) AS chars, max(c) AS maxc
              FROM cnts GROUP BY 1)
      SELECT doc_id,
             round(CAST(sw AS DOUBLE) / n, 9) AS stopword_ratio,
             round(CAST(chars AS DOUBLE) / n, 9) AS mean_word_len,
             round(CAST(maxc AS DOUBLE) / n, 9) AS max_token_ratio
      FROM agg ORDER BY doc_id""",
    "q_pack_greedy" -> """
      SELECT CAST(0 AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS pack_id,
             '' AS violation WHERE 1 = 0""",
    "q_text_gopher_ngrams" -> """
      WITH p AS (
        SELECT doc_id, text || ' ' || substring(text, 1, 60) || ' ' ||
               substring(text, 1, 60) AS t
        FROM documents),
      tok AS (
        SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS ts FROM p),
      tot AS (
        SELECT doc_id, ts, len(ts) AS ntok,
               CAST(len(array_to_string(ts, '')) AS DOUBLE) AS total
        FROM tok),
      grams AS (
        SELECT doc_id, n,
               unnest(list_transform(range(1, greatest(ntok - n + 2, 1)),
                 i -> array_to_string(ts[i:i+n-1], ' '))) AS g
        FROM tot, (SELECT unnest([2, 3, 4]) AS n) ns),
      gc AS (
        SELECT doc_id, n, g, CAST(count(*) AS DOUBLE) AS cnt,
               CAST(len(g) - (n - 1) AS DOUBLE) AS clen
        FROM grams GROUP BY 1, 2, 3),
      topn AS (
        SELECT doc_id, n, cnt * clen AS num FROM (
          SELECT doc_id, n, cnt, clen,
                 row_number() OVER (PARTITION BY doc_id, n
                   ORDER BY cnt DESC, clen DESC, g ASC) AS rk
          FROM gc) r WHERE rk = 1),
      gpos AS (
        SELECT doc_id, n, u.i AS idx, u.g AS g FROM (
          SELECT doc_id, n,
                 unnest(list_transform(range(1, greatest(ntok - n + 2, 1)),
                   i -> struct_pack(i := i,
                     g := array_to_string(ts[i:i+n-1], ' ')))) AS u
          FROM tot, (SELECT unnest([5, 8]) AS n) ns) q),
      dg AS (
        SELECT doc_id, n, g FROM (
          SELECT doc_id, n, g, count(*) AS c FROM gpos GROUP BY 1, 2, 3) c
        WHERE c >= 2),
      cov AS (
        SELECT DISTINCT doc_id, n, p FROM (
          SELECT gpos.doc_id, gpos.n, gpos.idx + unnest(range(0, gpos.n)) AS p
          FROM gpos JOIN dg USING (doc_id, n, g)) h),
      dupc AS (
        SELECT cov.doc_id, cov.n, CAST(sum(len(ts[p])) AS DOUBLE) AS dchars
        FROM cov JOIN tot ON cov.doc_id = tot.doc_id
        GROUP BY 1, 2)
      SELECT tot.doc_id,
             round(CASE WHEN total = 0 THEN 0 ELSE least(coalesce(t2.num, 0) / total, 1.0) END, 9) AS top2,
             round(CASE WHEN total = 0 THEN 0 ELSE least(coalesce(t3.num, 0) / total, 1.0) END, 9) AS top3,
             round(CASE WHEN total = 0 THEN 0 ELSE least(coalesce(t4.num, 0) / total, 1.0) END, 9) AS top4,
             round(CASE WHEN total = 0 THEN 0 ELSE coalesce(d5.dchars, 0) / total END, 9) AS dup5,
             round(CASE WHEN total = 0 THEN 0 ELSE coalesce(d8.dchars, 0) / total END, 9) AS dup8
      FROM tot
      LEFT JOIN topn t2 ON t2.doc_id = tot.doc_id AND t2.n = 2
      LEFT JOIN topn t3 ON t3.doc_id = tot.doc_id AND t3.n = 3
      LEFT JOIN topn t4 ON t4.doc_id = tot.doc_id AND t4.n = 4
      LEFT JOIN dupc d5 ON d5.doc_id = tot.doc_id AND d5.n = 5
      LEFT JOIN dupc d8 ON d8.doc_id = tot.doc_id AND d8.n = 8
      ORDER BY tot.doc_id""",
    "q_pack_bestfit" -> """
      SELECT CAST(0 AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS pack_id,
             '' AS violation WHERE 1 = 0""",
    "q_pack_concat" -> """
      WITH t AS (
        SELECT doc_id, ((doc_id % 16) + 16) % 16 AS bucket,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents),
      c AS (
        SELECT doc_id, bucket, toks,
               sum(toks) OVER (PARTITION BY bucket ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT doc_id, bucket,
             CAST(floor((cum - toks) / 200) AS BIGINT) AS pack_id,
             CAST(row_number() OVER (PARTITION BY bucket, floor((cum - toks) / 200)
               ORDER BY doc_id) AS BIGINT) AS pack_pos
      FROM c ORDER BY doc_id""",
    "q_text_entropy" -> """
      WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents WHERE length(text) > 0),
      cnt AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k FROM chars GROUP BY 1, 2),
      tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1)
      SELECT doc_id, round(-sum((k/n) * log2(k/n)), 9) AS char_entropy
      FROM cnt JOIN tot USING (doc_id) GROUP BY doc_id, n ORDER BY doc_id""",
    "q_text_repetition" -> """
      WITH ml AS (
        SELECT doc_id,
               concat_ws(chr(10), substring(text, 1, 40), substring(text, 41, 40),
                         substring(text, 1, 40), 'u' || doc_id) AS t2
        FROM documents),
      lines AS (SELECT doc_id, unnest(string_split(t2, chr(10))) AS l FROM ml),
      per AS (SELECT doc_id, l, count(*) AS c, len(l) AS ln FROM lines GROUP BY 1, 2),
      agg AS (SELECT doc_id, sum(c) AS n, count(*) AS d,
                     sum(ln * c) AS chars, sum(ln * (c - 1)) AS dupchars
              FROM per GROUP BY 1)
      SELECT doc_id,
             round(CAST(n - d AS DOUBLE) / n, 9) AS dup_line_ratio,
             round(CAST(dupchars AS DOUBLE) / chars, 9) AS dup_line_char_ratio
      FROM agg ORDER BY doc_id""",
    "q_pii_signals" -> """
      WITH p AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || doc_id || '@example.com or admin@test.org'
                    ELSE '' END ||
               CASE WHEN doc_id % 4 = 0
                    THEN ' from 10.0.' || (doc_id % 256) || '.1'
                    ELSE '' END ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' call +1-555-' || (doc_id % 900 + 100) || '-' || (doc_id % 9000 + 1000)
                    ELSE '' END ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' card 4242 4242 4242 ' || (doc_id % 9000 + 1000)
                    ELSE '' END AS t
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t,
               '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ipv4,
             CAST(len(regexp_extract_all(t,
               '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(t,
               '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}')) AS BIGINT) AS n_cards
      FROM p ORDER BY doc_id""",
    "q_repeated_spans" -> """
      WITH p AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 2 = 0
                    THEN ' this website uses cookies to improve your experience ok'
                    ELSE '' END ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' ' || substring(text, 1, 45)
                    ELSE '' END AS t
        FROM documents),
      g AS (SELECT doc_id, unnest(range(0, greatest(len(t) - 39, 0))) AS pos, t FROM p),
      g2 AS (SELECT doc_id, pos, substr(t, CAST(pos AS INTEGER) + 1, 40) AS w FROM g),
      hot AS (SELECT w FROM g2 GROUP BY 1 HAVING count(*) >= 2),
      f AS (SELECT doc_id, pos FROM g2 WHERE w IN (SELECT w FROM hot)),
      m AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
                   THEN 1 ELSE 0 END AS brk
            FROM f),
      isl AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM m)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + 40 AS BIGINT) AS span_end
      FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "q_strip_spans" -> """
      WITH p AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 2 = 0
                    THEN ' this website uses cookies to improve your experience ok'
                    ELSE '' END ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' ' || substring(text, 1, 45)
                    ELSE '' END AS t
        FROM documents),
      g AS (SELECT doc_id, unnest(range(0, greatest(len(t) - 39, 0))) AS pos, t FROM p),
      g2 AS (SELECT doc_id, pos, substr(t, CAST(pos AS INTEGER) + 1, 40) AS w FROM g),
      hot AS (SELECT w FROM g2 GROUP BY 1 HAVING count(*) >= 2),
      f AS (SELECT doc_id, pos FROM g2 WHERE w IN (SELECT w FROM hot)),
      m AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
                   THEN 1 ELSE 0 END AS brk
            FROM f),
      isl AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM m),
      spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 40 AS e
                FROM isl GROUP BY doc_id, island),
      chars AS (SELECT doc_id, unnest(range(0, len(t))) AS ci, t FROM p),
      keptc AS (SELECT c.doc_id, c.ci, substr(c.t, CAST(c.ci AS INTEGER) + 1, 1) AS ch
                FROM chars c LEFT JOIN spans sp
                  ON sp.doc_id = c.doc_id AND c.ci >= sp.s AND c.ci < sp.e
                WHERE sp.doc_id IS NULL)
      SELECT p.doc_id,
             coalesce(string_agg(k.ch, '' ORDER BY k.ci), '') AS text
      FROM p LEFT JOIN keptc k ON k.doc_id = p.doc_id
      GROUP BY p.doc_id ORDER BY p.doc_id""",
    "q_strip_boilerplate" -> """
      WITH ml AS (
        SELECT doc_id,
               concat_ws(chr(10), substring(text, 1, 40),
                 CASE WHEN doc_id % 2 = 0
                      THEN 'please accept our cookie policy to continue'
                      ELSE substring(text, 41, 40) END,
                 'u' || doc_id) AS t
        FROM documents),
      lx AS (SELECT DISTINCT doc_id, unnest(string_split(t, chr(10))) AS l FROM ml),
      df AS (SELECT l, count(*) AS df FROM lx GROUP BY 1),
      boiler AS (SELECT coalesce(list(l), []) AS bl FROM df WHERE df >= 50)
      SELECT doc_id,
             array_to_string(
               list_filter(string_split(t, chr(10)), x -> NOT list_contains(bl, x)),
               chr(10)) AS text
      FROM ml, boiler ORDER BY doc_id""",
    "q_gopher_filter" -> """
      WITH p AS (
        SELECT doc_id,
               concat_ws(chr(10),
                 substring(text, 1, 60),
                 CASE WHEN doc_id % 7 = 0 THEN '- bullet item one'
                      ELSE substring(text, 61, 60) END,
                 CASE WHEN doc_id % 5 = 0 THEN 'to be continued ...'
                      ELSE 'u' || doc_id END,
                 CASE WHEN doc_id % 3 = 0
                      THEN 'the cat sat with all of them and that was that'
                      ELSE '#tag #tag' END,
                 text) AS t
        FROM documents),
      tok AS (
        SELECT doc_id, t, list_filter(string_split(replace(t, chr(10), ' '), ' '),
                 x -> x <> '') AS ws,
               string_split(t, chr(10)) AS lines
        FROM p),
      base AS (
        SELECT doc_id, t, ws, lines,
               len(ws) AS n_words,
               CAST(len(array_to_string(ws, '')) AS DOUBLE) AS wchars,
               (len(t) - len(replace(t, '#', ''))) AS n_hash,
               (len(t) - len(replace(t, '...', ''))) / 3 AS n_dots,
               (len(t) - len(replace(t, '…', ''))) AS n_uell
        FROM tok),
      linesig AS (
        SELECT doc_id,
               CAST(len(list_filter(lines, x -> regexp_matches(x, '^[ \t]*[-*•]'))) AS DOUBLE)
                 / len(lines) AS bullet_line_ratio,
               CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)[ \t]*$'))) AS DOUBLE)
                 / len(lines) AS ellipsis_line_ratio
        FROM base),
      dupline AS (
        SELECT doc_id,
               CAST(n - d AS DOUBLE) / n AS dup_line_ratio,
               CASE WHEN chars = 0 THEN 0
                    ELSE CAST(dupchars AS DOUBLE) / chars END AS dup_line_char_ratio
        FROM (
          SELECT doc_id, sum(c) AS n, count(*) AS d,
                 sum(ln * c) AS chars, sum(ln * (c - 1)) AS dupchars
          FROM (SELECT doc_id, l, count(*) AS c, len(l) AS ln
                FROM (SELECT doc_id, unnest(lines) AS l FROM base) lx GROUP BY 1, 2) per
          GROUP BY 1) agg),
      grams AS (
        SELECT doc_id, n,
               unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
                 i -> array_to_string(ws[i:i+n-1], ' '))) AS g
        FROM base, (SELECT unnest([2, 3, 4]) AS n) ns),
      gc AS (
        SELECT doc_id, n, g, CAST(count(*) AS DOUBLE) AS cnt,
               CAST(len(g) - (n - 1) AS DOUBLE) AS clen
        FROM grams GROUP BY 1, 2, 3),
      topn AS (
        SELECT doc_id, n, cnt * clen AS num FROM (
          SELECT doc_id, n, cnt, clen,
                 row_number() OVER (PARTITION BY doc_id, n
                   ORDER BY cnt DESC, clen DESC, g ASC) AS rk
          FROM gc) r WHERE rk = 1),
      gpos AS (
        SELECT doc_id, n, u.i AS idx, u.g AS g FROM (
          SELECT doc_id, n,
                 unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
                   i -> struct_pack(i := i,
                     g := array_to_string(ws[i:i+n-1], ' ')))) AS u
          FROM base, (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n) ns) q),
      dg AS (
        SELECT doc_id, n, g FROM (
          SELECT doc_id, n, g, count(*) AS c FROM gpos GROUP BY 1, 2, 3) c
        WHERE c >= 2),
      cov AS (
        SELECT DISTINCT doc_id, n, pp FROM (
          SELECT gpos.doc_id, gpos.n, gpos.idx + unnest(range(0, gpos.n)) AS pp
          FROM gpos JOIN dg USING (doc_id, n, g)) h),
      dupc AS (
        SELECT cov.doc_id, cov.n, CAST(sum(len(ws[pp])) AS DOUBLE) AS dchars
        FROM cov JOIN base ON cov.doc_id = base.doc_id
        GROUP BY 1, 2),
      sig AS (
        SELECT b.doc_id,
               CAST(b.n_words AS BIGINT) AS n_words,
               b.wchars / b.n_words AS mean_word_len,
               CAST(b.n_hash AS DOUBLE) / b.n_words AS hash_ratio,
               CAST(b.n_dots AS DOUBLE) / b.n_words
                 + CAST(b.n_uell AS DOUBLE) / b.n_words AS ellipsis_ratio,
               ls.bullet_line_ratio, ls.ellipsis_line_ratio,
               CAST(len(list_filter(b.ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                 / b.n_words AS alpha_word_ratio,
               (CASE WHEN list_contains(b.ws, 'the') THEN 1 ELSE 0 END +
                CASE WHEN list_contains(b.ws, 'be') THEN 1 ELSE 0 END +
                CASE WHEN list_contains(b.ws, 'to') THEN 1 ELSE 0 END +
                CASE WHEN list_contains(b.ws, 'of') THEN 1 ELSE 0 END +
                CASE WHEN list_contains(b.ws, 'and') THEN 1 ELSE 0 END +
                CASE WHEN list_contains(b.ws, 'that') THEN 1 ELSE 0 END +
                CASE WHEN list_contains(b.ws, 'have') THEN 1 ELSE 0 END +
                CASE WHEN list_contains(b.ws, 'with') THEN 1 ELSE 0 END) AS stopword_hits,
               dl.dup_line_ratio, dl.dup_line_char_ratio,
               least(coalesce(t2.num, 0) / b.wchars, 1.0) AS top_2gram_ratio,
               least(coalesce(t3.num, 0) / b.wchars, 1.0) AS top_3gram_ratio,
               least(coalesce(t4.num, 0) / b.wchars, 1.0) AS top_4gram_ratio,
               coalesce(d5.dchars, 0) / b.wchars AS dup_5gram_ratio,
               coalesce(d6.dchars, 0) / b.wchars AS dup_6gram_ratio,
               coalesce(d7.dchars, 0) / b.wchars AS dup_7gram_ratio,
               coalesce(d8.dchars, 0) / b.wchars AS dup_8gram_ratio,
               coalesce(d9.dchars, 0) / b.wchars AS dup_9gram_ratio,
               coalesce(d10.dchars, 0) / b.wchars AS dup_10gram_ratio
        FROM base b
        JOIN linesig ls ON ls.doc_id = b.doc_id
        JOIN dupline dl ON dl.doc_id = b.doc_id
        LEFT JOIN topn t2 ON t2.doc_id = b.doc_id AND t2.n = 2
        LEFT JOIN topn t3 ON t3.doc_id = b.doc_id AND t3.n = 3
        LEFT JOIN topn t4 ON t4.doc_id = b.doc_id AND t4.n = 4
        LEFT JOIN dupc d5 ON d5.doc_id = b.doc_id AND d5.n = 5
        LEFT JOIN dupc d6 ON d6.doc_id = b.doc_id AND d6.n = 6
        LEFT JOIN dupc d7 ON d7.doc_id = b.doc_id AND d7.n = 7
        LEFT JOIN dupc d8 ON d8.doc_id = b.doc_id AND d8.n = 8
        LEFT JOIN dupc d9 ON d9.doc_id = b.doc_id AND d9.n = 9
        LEFT JOIN dupc d10 ON d10.doc_id = b.doc_id AND d10.n = 10)
      SELECT doc_id, n_words, stopword_hits,
             (n_words >= 50 AND n_words <= 100000 AND
              mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
              hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1 AND
              bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3 AND
              alpha_word_ratio >= 0.8 AND stopword_hits >= 2 AND
              dup_line_ratio <= 0.3 AND dup_line_char_ratio <= 0.2 AND
              top_2gram_ratio <= 0.20 AND top_3gram_ratio <= 0.18 AND
              top_4gram_ratio <= 0.16 AND dup_5gram_ratio <= 0.15 AND
              dup_6gram_ratio <= 0.14 AND dup_7gram_ratio <= 0.13 AND
              dup_8gram_ratio <= 0.12 AND dup_9gram_ratio <= 0.11 AND
              dup_10gram_ratio <= 0.10) AS keep,
             round(mean_word_len, 9) AS mean_word_len,
             round(hash_ratio, 9) AS hash_ratio,
             round(ellipsis_ratio, 9) AS ellipsis_ratio,
             round(bullet_line_ratio, 9) AS bullet_line_ratio,
             round(ellipsis_line_ratio, 9) AS ellipsis_line_ratio,
             round(alpha_word_ratio, 9) AS alpha_word_ratio,
             round(dup_line_ratio, 9) AS dup_line_ratio,
             round(dup_line_char_ratio, 9) AS dup_line_char_ratio,
             round(top_2gram_ratio, 9) AS top_2gram_ratio,
             round(top_3gram_ratio, 9) AS top_3gram_ratio,
             round(top_4gram_ratio, 9) AS top_4gram_ratio,
             round(dup_5gram_ratio, 9) AS dup_5gram_ratio,
             round(dup_6gram_ratio, 9) AS dup_6gram_ratio,
             round(dup_7gram_ratio, 9) AS dup_7gram_ratio,
             round(dup_8gram_ratio, 9) AS dup_8gram_ratio,
             round(dup_9gram_ratio, 9) AS dup_9gram_ratio,
             round(dup_10gram_ratio, 9) AS dup_10gram_ratio
      FROM sig ORDER BY doc_id""",
    "q_events_window" -> """
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n, CAST(sum(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_bloom_semi_join" -> """
      SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty
      FROM lineitem WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
      GROUP BY 1 ORDER BY 1""",
    "q_multimodal_meta" -> """
      SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS media_bytes
      FROM documents ORDER BY doc_id""",
    "q_multimodal_av" -> """
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS kind,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 44 + 1000 + (doc_id % 7) * 100
                       ELSE 232 END AS BIGINT) AS media_bytes,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                       ELSE 320 + (doc_id % 5) * 16 END AS INT) AS width,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                       ELSE 240 + (doc_id % 4) * 16 END AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 3)
                       ELSE 0 END AS INT) AS sample_rate,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2
                       ELSE 0 END AS INT) AS channels,
             CAST(CASE WHEN doc_id % 2 = 0
                       THEN ((1000 + (doc_id % 7) * 100) * 1000)
                            // (8000 * (1 + doc_id % 3) * (1 + (doc_id // 2) % 2) * 2)
                       ELSE 5000 + (doc_id % 97) * 13 END AS BIGINT) AS duration_ms
      FROM documents ORDER BY doc_id""",
    "q_ann_bruteforce" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, e.vec_id AS nn_id,
               list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
        FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, nn_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id ASC) AS rank
        FROM scored)
      SELECT query_id, nn_id, rank FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""",
    "q_embed_neardup" -> """
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.5
      ORDER BY 1, 2""",
    "q_minhash_lsh" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                           ELSE list_transform(range(1, len(ts) - 1),
                                  i -> array_to_string(ts[i:i+2], ' ')) END) AS s
        FROM toks),
      sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             round(CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 9) AS jaccard
      FROM inter JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.2
      ORDER BY 1, 2""",
    "q_decontaminate" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(ts) < 5 THEN [array_to_string(ts, ' ')]
                           ELSE list_transform(range(1, len(ts) - 3),
                                  i -> array_to_string(ts[i:i+4], ' ')) END) AS s
        FROM toks),
      ref AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
      SELECT doc_id, count(*) AS shared
      FROM sh JOIN ref USING (s)
      GROUP BY 1 HAVING count(*) >= 1 ORDER BY doc_id""",
    "q_sample_stratified" -> """
      SELECT '' AS lang, '' AS violation WHERE 1 = 0""",
    "q_sample_mix" -> """
      SELECT '' AS lang, '' AS violation WHERE 1 = 0""",
    "q_sparse_cosine" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      ne AS (SELECT doc_id, t FROM tok WHERE t <> ''),
      tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf FROM ne GROUP BY 1, 2),
      nrm AS (SELECT doc_id, sqrt(sum(tf*tf)) AS nrm FROM tf GROUP BY 1),
      dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.tf*b.tf) AS dot
        FROM tf a JOIN tf b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, round(dot/(na.nrm*nb.nrm), 9) AS cos
      FROM dots JOIN nrm na ON na.doc_id = id_a JOIN nrm nb ON nb.doc_id = id_b
      WHERE round(dot/(na.nrm*nb.nrm), 9) >= 0.95
      ORDER BY 1, 2""",
    "q_sparse_cosine_idf" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      ne AS (SELECT doc_id, t FROM tok WHERE t <> ''),
      tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf FROM ne GROUP BY 1, 2),
      dfv AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      w AS (SELECT doc_id, tf.t, tf * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
            FROM tf JOIN dfv USING (t), nd),
      nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY 1),
      dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w*b.w) AS dot
        FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, round(dot/(na.nrm*nb.nrm), 9) AS cos
      FROM dots JOIN nrm na ON na.doc_id = id_a JOIN nrm nb ON nb.doc_id = id_b
      WHERE round(dot/(na.nrm*nb.nrm), 9) >= 0.9
      ORDER BY 1, 2""",
    "q_lang_id" -> """
      SELECT CAST(0 AS BIGINT) AS doc_id, '' AS violation WHERE 1 = 0""",
    "q_winnow_overlap" -> """
      SELECT CAST(0 AS BIGINT) AS id_a, CAST(0 AS BIGINT) AS id_b WHERE 1 = 0""",
    "q_simhash_pairs" -> """
      SELECT CAST(0 AS BIGINT) AS id_a, CAST(0 AS BIGINT) AS id_b,
             '' AS violation WHERE 1 = 0""",
    "q_ann_ivf" -> """
      SELECT CAST(0 AS BIGINT) AS query_id, CAST(0 AS BIGINT) AS nn_id WHERE 1 = 0""",
    "q_ann_lsh" -> """
      SELECT CAST(0 AS BIGINT) AS query_id, CAST(0 AS BIGINT) AS nn_id WHERE 1 = 0""",
    "q_resample_counts" -> """
      SELECT '' AS lang, '' AS violation WHERE 1 = 0""",
    "q_image_dedup" -> """
      SELECT CAST(0 AS BIGINT) AS id_a, CAST(0 AS BIGINT) AS id_b,
             '' AS violation WHERE 1 = 0""",
    "q_audio_fingerprint" -> """
      WITH params AS (
        SELECT doc_id,
               16 + (doc_id % 7) * 8 AS p,
               16384 + (doc_id % 4) * 4096 AS frames,
               8000 + (doc_id % 3) * 4000 AS sr,
               300 + (doc_id % 5) * 100 AS amp,
               1 + (doc_id % 2) AS nch
        FROM documents WHERE doc_id < 200),
      -- the SAME closed-form samples the Spark side synthesizes: triangle
      -- raw = |2(i mod p) - p| - p/2, mono = raw * sum of channel amps
      -- (channel c carries amp - 7c; mono mix is the undivided SUM)
      mono AS (
        SELECT doc_id, sr,
               unnest(range(frames)) AS i,
               unnest(list_transform(range(frames),
                 i -> (abs(2 * (i % p) - p) - p // 2) *
                      (CASE WHEN nch = 2 THEN amp + (amp - 7) ELSE amp END))) AS v
        FROM params),
      st AS (
        SELECT doc_id,
               CAST(max(abs(v)) AS INTEGER) AS peak_abs,
               CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
               CAST(sum(CASE WHEN lv IS NOT NULL AND CAST(v AS BIGINT) * lv < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM (SELECT doc_id, v, i,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS lv
              FROM mono)
        GROUP BY doc_id),
      en AS (
        SELECT doc_id, i // (sr // 32) AS k, sum(CAST(v AS BIGINT) * v) AS e
        FROM mono GROUP BY 1, 2),
      sg AS (
        SELECT a.doc_id,
               -- bit 63 as its signed two's-complement value: DuckDB's
               -- checked 1<<63 overflows where Java's wraps negative
               CAST(sum(CASE WHEN b.e <= a.e THEN 0
                             WHEN a.k = 63 THEN -9223372036854775807 - 1
                             ELSE (CAST(1 AS BIGINT) << CAST(a.k AS INTEGER))
                             END) AS BIGINT) AS sig
        FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        WHERE a.k < 64
        GROUP BY a.doc_id)
      SELECT p.doc_id, p.sr AS sample_rate, p.nch AS channels,
             p.frames AS n_frames, st.peak_abs, st.sum_sq,
             st.zero_crossings, coalesce(sg.sig, 0) AS sig
      FROM params p JOIN st USING (doc_id) LEFT JOIN sg USING (doc_id)
      ORDER BY doc_id""",
    "q_html_extract" -> """
      SELECT doc_id,
             'Doc ' || doc_id || ' & Co' AS title,
             'Doc ' || doc_id || chr(10) || text || chr(10) ||
               'item one' || chr(10) || 'two AB' || chr(10) ||
               'linkrel' || chr(10) || 'tail end' AS text,
             'https://h' || doc_id || '.example/p?q=1&r=2 /rel/' || doc_id AS links
      FROM documents ORDER BY doc_id""",
    "q_bm25_topk" -> """
      WITH terms AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT term, doc_id, count(*) AS tf FROM terms GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      queries AS (
        SELECT doc_id AS query_id,
               array_to_string((string_split(text, ' '))[1:5], ' ') AS qtext
        FROM documents WHERE doc_id % 17 = 0),
      qterms AS (
        SELECT query_id, term, count(*) AS qtf FROM (
          SELECT query_id, unnest(list_filter(string_split(lower(qtext), ' '),
                   x -> x <> '')) AS term
          FROM queries) GROUP BY 1, 2),
      scored AS (
        SELECT q.query_id, tf.doc_id,
               round(sum(q.qtf *
                 ln(1.0 + (s.n_docs - dfv.df + 0.5) / (dfv.df + 0.5)) *
                 (tf.tf * 2.2) /
                 (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 6) AS score
        FROM qterms q JOIN dfv USING (term) JOIN tf USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
        GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank
        FROM scored)
      SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""",
    "q_link_graph" -> """
      WITH raw AS (
        SELECT doc_id % 50 AS hs, (doc_id*3+1) % 50 AS h1, (doc_id*7+2) % 50 AS h2
        FROM documents),
      edges AS (
        SELECT 'h' || hs || '.example' AS src, 'h' || h1 || '.example' AS dst
        FROM raw WHERE h1 <> hs
        UNION
        SELECT 'h' || hs || '.example', 'h' || h2 || '.example'
        FROM raw WHERE h2 <> hs),
      nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
      nn AS (SELECT count(*) AS n FROM nodes),
      od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
      ind AS (SELECT dst, count(*) AS ind FROM edges GROUP BY 1),
      -- fixed-point PageRank, unrolled: all arithmetic exact BIGINT floor
      r0 AS (SELECT host, 1000000000000 // (SELECT n FROM nn) AS r FROM nodes),
      c1 AS (SELECT e.dst AS host, sum(r.r // o.od) AS s FROM edges e
             JOIN r0 r ON r.host = e.src JOIN od o ON o.src = e.src GROUP BY 1),
      r1 AS (SELECT nd.host, CAST((15 * 1000000000000) // (100 * (SELECT n FROM nn))
               + (85 * coalesce(c1.s, 0)) // 100 AS BIGINT) AS r
             FROM nodes nd LEFT JOIN c1 USING (host)),
      c2 AS (SELECT e.dst AS host, sum(r.r // o.od) AS s FROM edges e
             JOIN r1 r ON r.host = e.src JOIN od o ON o.src = e.src GROUP BY 1),
      r2 AS (SELECT nd.host, CAST((15 * 1000000000000) // (100 * (SELECT n FROM nn))
               + (85 * coalesce(c2.s, 0)) // 100 AS BIGINT) AS r
             FROM nodes nd LEFT JOIN c2 USING (host)),
      c3 AS (SELECT e.dst AS host, sum(r.r // o.od) AS s FROM edges e
             JOIN r2 r ON r.host = e.src JOIN od o ON o.src = e.src GROUP BY 1),
      r3 AS (SELECT nd.host, CAST((15 * 1000000000000) // (100 * (SELECT n FROM nn))
               + (85 * coalesce(c3.s, 0)) // 100 AS BIGINT) AS r
             FROM nodes nd LEFT JOIN c3 USING (host))
      SELECT nd.host, coalesce(o.od, 0) AS out_degree,
             coalesce(i.ind, 0) AS in_degree, r3.r AS pr_micro
      FROM nodes nd LEFT JOIN od o ON o.src = nd.host
           LEFT JOIN ind i ON i.dst = nd.host
           JOIN r3 ON r3.host = nd.host
      ORDER BY nd.host""",
    "q_wordlist_filter" -> """
      WITH toks AS (
        SELECT doc_id,
          list_transform(string_split(text || ' SPARK. (vector)', ' '),
            x -> lower(trim(x, '.,!?;:''"()[]{}<>-_/'))) AS ts
        FROM documents),
      hits AS (
        SELECT doc_id,
          CAST(len(list_filter(ts,
            x -> x IN ('spark', 'vector', 'stream'))) AS INTEGER)
          + CAST(coalesce(list_sum(list_transform(range(1, len(ts)),
              i -> CASE WHEN ts[i] = 'table' AND ts[i+1] = 'table'
                        THEN 1 ELSE 0 END)), 0) AS INTEGER) AS hits
        FROM toks)
      SELECT doc_id, hits, hits <= 2 AS keep
      FROM hits ORDER BY doc_id""",
    "q_robots_filter" -> """
      WITH u AS (
        SELECT doc_id, (doc_id // 4) % 50 AS hn,
          CASE doc_id % 4
            WHEN 0 THEN '/private/page' || doc_id
            WHEN 1 THEN '/private/ok/' || doc_id
            WHEN 2 THEN '/pub/' || doc_id
            ELSE '/tmp/' || (doc_id % 3) END AS path
        FROM documents)
      SELECT doc_id, 'https://h' || hn || '.example' || path AS url
      FROM u
      WHERE CASE WHEN hn % 2 = 0 THEN NOT starts_with(path, '/tmp')
                 ELSE NOT (starts_with(path, '/private')
                           AND NOT starts_with(path, '/private/ok')) END
      ORDER BY doc_id""",
    "q_anchor_text" -> """
      WITH raw AS (
        SELECT doc_id, doc_id % 50 AS hs, (doc_id*3+1) % 50 AS h1,
               (doc_id*7+2) % 50 AS h2, doc_id % 7 AS k
        FROM documents),
      terms AS (
        SELECT 'h' || h1 || '.example' AS host, 'visit' AS term FROM raw WHERE h1 <> hs
        UNION ALL
        SELECT 'h' || h1 || '.example', 'h' || h1 FROM raw WHERE h1 <> hs
        UNION ALL
        SELECT 'h' || h1 || '.example', 'portal' FROM raw WHERE h1 <> hs
        UNION ALL
        SELECT 'h' || h2 || '.example', 'news' FROM raw WHERE h2 <> hs
        UNION ALL
        SELECT 'h' || h2 || '.example', 'day' FROM raw WHERE h2 <> hs
        UNION ALL
        SELECT 'h' || h2 || '.example', 'd' || k FROM raw WHERE h2 <> hs)
      SELECT host, term, count(*) AS cnt
      FROM terms GROUP BY host, term ORDER BY host, term""",
    "q_unicode_clean" -> """
      WITH base AS (
        SELECT doc_id, text,
          CASE doc_id % 4 WHEN 0 THEN 'e' || chr(769)
                          WHEN 1 THEN 'A' || chr(778)
                          WHEN 2 THEN chr(8491)
                          ELSE chr(64257) END AS sfx,
          CASE doc_id % 4 WHEN 0 THEN chr(233)
                          WHEN 1 THEN chr(197)
                          WHEN 2 THEN chr(197)
                          ELSE 'fi' END AS sfx_nfkc,
          CASE doc_id % 4 WHEN 0 THEN 'caf' || chr(233)
                          WHEN 1 THEN 'na' || chr(239) || 've'
                          WHEN 2 THEN chr(8364) || ' 9,99 ' || chr(8212) || ' ok'
                          ELSE chr(8220) || 'quote' || chr(8221) END AS clean,
          CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 2 END AS sm
        FROM documents)
      SELECT doc_id,
        nfc_normalize(substring(text, 1, 60) || sfx) AS nfc_text,
        sfx_nfkc AS nfkc_suffix,
        clean || ' doc ' || doc_id AS fixed,
        sm AS score_moji,
        0 AS score_fixed
      FROM base ORDER BY doc_id""",
    "q_pipeline_e2e" -> """
      WITH RECURSIVE
      src AS (
        SELECT doc_id, lang,
               text || chr(10) ||
               CASE WHEN doc_id % 2 = 0 THEN 'please accept our cookie policy to continue'
                    ELSE 'u' || doc_id END || chr(10) ||
               CASE WHEN doc_id % 7 = 0 THEN 'to be continued ...'
                    ELSE 'end of doc ' || doc_id END AS t
        FROM documents),
      corpus AS MATERIALIZED (
        SELECT doc_id, lang, t FROM src
        UNION ALL
        SELECT doc_id + 1000000, lang, t FROM src WHERE doc_id % 10 = 0),
      -- blocklist stage: every host is d<doc_id>.example (unique), and the
      -- list holds exactly the corpus ids with doc_id % 13 = 3, so the
      -- suffix semi-join reduces to this predicate
      allowed AS MATERIALIZED (SELECT * FROM corpus WHERE doc_id % 13 <> 3),
      tok AS (
        SELECT doc_id, t, list_filter(string_split(replace(t, chr(10), ' '), ' '),
                 x -> x <> '') AS ws,
               string_split(t, chr(10)) AS lines
        FROM allowed),
      base AS (
        SELECT doc_id, t, ws, lines,
               len(ws) AS n_words,
               CAST(len(array_to_string(ws, '')) AS DOUBLE) AS wchars,
               (len(t) - len(replace(t, '#', ''))) AS n_hash,
               (len(t) - len(replace(t, '...', ''))) / 3 AS n_dots,
               (len(t) - len(replace(t, '…', ''))) AS n_uell
        FROM tok),
      linesig AS (
        SELECT doc_id,
               CAST(len(list_filter(lines, x -> regexp_matches(x, '^[ \t]*[-*•]'))) AS DOUBLE)
                 / len(lines) AS bullet_line_ratio,
               CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)[ \t]*$'))) AS DOUBLE)
                 / len(lines) AS ellipsis_line_ratio
        FROM base),
      dupline AS (
        SELECT doc_id,
               CAST(n - d AS DOUBLE) / n AS dup_line_ratio,
               CASE WHEN chars = 0 THEN 0
                    ELSE CAST(dupchars AS DOUBLE) / chars END AS dup_line_char_ratio
        FROM (
          SELECT doc_id, sum(c) AS n, count(*) AS d,
                 sum(ln * c) AS chars, sum(ln * (c - 1)) AS dupchars
          FROM (SELECT doc_id, l, count(*) AS c, len(l) AS ln
                FROM (SELECT doc_id, unnest(lines) AS l FROM base) lx GROUP BY 1, 2) per
          GROUP BY 1) agg),
      grams AS (
        SELECT doc_id, n,
               unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
                 i -> array_to_string(ws[i:i+n-1], ' '))) AS g
        FROM base, (SELECT unnest([2, 3, 4]) AS n) ns),
      gc AS (
        SELECT doc_id, n, g, CAST(count(*) AS DOUBLE) AS cnt,
               CAST(len(g) - (n - 1) AS DOUBLE) AS clen
        FROM grams GROUP BY 1, 2, 3),
      topn AS (
        SELECT doc_id, n, cnt * clen AS num FROM (
          SELECT doc_id, n, cnt, clen,
                 row_number() OVER (PARTITION BY doc_id, n
                   ORDER BY cnt DESC, clen DESC, g ASC) AS rk
          FROM gc) r WHERE rk = 1),
      gpos AS (
        SELECT doc_id, n, u.i AS idx, u.g AS g FROM (
          SELECT doc_id, n,
                 unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
                   i -> struct_pack(i := i,
                     g := array_to_string(ws[i:i+n-1], ' ')))) AS u
          FROM base, (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n) ns) q),
      dg AS (
        SELECT doc_id, n, g FROM (
          SELECT doc_id, n, g, count(*) AS c FROM gpos GROUP BY 1, 2, 3) c
        WHERE c >= 2),
      cov AS (
        SELECT DISTINCT doc_id, n, pp FROM (
          SELECT gpos.doc_id, gpos.n, gpos.idx + unnest(range(0, gpos.n)) AS pp
          FROM gpos JOIN dg USING (doc_id, n, g)) h),
      dupc AS (
        SELECT cov.doc_id, cov.n, CAST(sum(len(ws[pp])) AS DOUBLE) AS dchars
        FROM cov JOIN base ON cov.doc_id = base.doc_id
        GROUP BY 1, 2),
      sig AS (
        SELECT b.doc_id,
               (b.n_words >= 50 AND b.n_words <= 100000 AND
                b.wchars / b.n_words >= 3.0 AND b.wchars / b.n_words <= 10.0 AND
                CAST(b.n_hash AS DOUBLE) / b.n_words <= 0.1 AND
                CAST(b.n_dots AS DOUBLE) / b.n_words
                  + CAST(b.n_uell AS DOUBLE) / b.n_words <= 0.1 AND
                ls.bullet_line_ratio <= 0.9 AND ls.ellipsis_line_ratio <= 0.3 AND
                CAST(len(list_filter(b.ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                  / b.n_words >= 0.8 AND
                (CASE WHEN list_contains(b.ws, 'the') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(b.ws, 'be') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(b.ws, 'to') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(b.ws, 'of') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(b.ws, 'and') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(b.ws, 'that') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(b.ws, 'have') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(b.ws, 'with') THEN 1 ELSE 0 END) >= 2 AND
                dl.dup_line_ratio <= 0.3 AND dl.dup_line_char_ratio <= 0.2 AND
                least(coalesce(t2.num, 0) / b.wchars, 1.0) <= 0.20 AND
                least(coalesce(t3.num, 0) / b.wchars, 1.0) <= 0.18 AND
                least(coalesce(t4.num, 0) / b.wchars, 1.0) <= 0.16 AND
                coalesce(d5.dchars, 0) / b.wchars <= 0.15 AND
                coalesce(d6.dchars, 0) / b.wchars <= 0.14 AND
                coalesce(d7.dchars, 0) / b.wchars <= 0.13 AND
                coalesce(d8.dchars, 0) / b.wchars <= 0.12 AND
                coalesce(d9.dchars, 0) / b.wchars <= 0.11 AND
                coalesce(d10.dchars, 0) / b.wchars <= 0.10) AS keep
        FROM base b
        JOIN linesig ls ON ls.doc_id = b.doc_id
        JOIN dupline dl ON dl.doc_id = b.doc_id
        LEFT JOIN topn t2 ON t2.doc_id = b.doc_id AND t2.n = 2
        LEFT JOIN topn t3 ON t3.doc_id = b.doc_id AND t3.n = 3
        LEFT JOIN topn t4 ON t4.doc_id = b.doc_id AND t4.n = 4
        LEFT JOIN dupc d5 ON d5.doc_id = b.doc_id AND d5.n = 5
        LEFT JOIN dupc d6 ON d6.doc_id = b.doc_id AND d6.n = 6
        LEFT JOIN dupc d7 ON d7.doc_id = b.doc_id AND d7.n = 7
        LEFT JOIN dupc d8 ON d8.doc_id = b.doc_id AND d8.n = 8
        LEFT JOIN dupc d9 ON d9.doc_id = b.doc_id AND d9.n = 9
        LEFT JOIN dupc d10 ON d10.doc_id = b.doc_id AND d10.n = 10),
      keepers AS MATERIALIZED (
        SELECT c.doc_id, c.lang, c.t FROM allowed c JOIN sig USING (doc_id) WHERE sig.keep),
      lx AS (SELECT DISTINCT doc_id, unnest(string_split(t, chr(10))) AS l FROM keepers),
      dfv AS (SELECT l, count(*) AS df FROM lx GROUP BY 1),
      boiler AS (SELECT coalesce(list(l), []) AS bl FROM dfv WHERE df >= 50),
      stripped AS MATERIALIZED (
        SELECT doc_id, lang,
               array_to_string(
                 list_filter(string_split(t, chr(10)), x -> NOT list_contains(bl, x)),
                 chr(10)) AS t
        FROM keepers, boiler),
      ex AS (SELECT min(doc_id) AS doc_id FROM stripped GROUP BY t),
      dd AS MATERIALIZED (SELECT s.doc_id, s.lang, s.t FROM stripped s JOIN ex USING (doc_id)),
      dtoks AS (SELECT doc_id, string_split(t, ' ') AS ts FROM dd),
      shj AS (SELECT DISTINCT doc_id,
                unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                            ELSE list_transform(range(1, len(ts) - 1),
                                   i -> array_to_string(ts[i:i+2], ' ')) END) AS s
              FROM dtoks),
      sz AS (SELECT doc_id, count(*) AS sz FROM shj GROUP BY 1),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM shj a JOIN shj b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      prs AS MATERIALIZED (SELECT id_a, id_b FROM inter
              JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
              WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.2),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs
                UNION SELECT id_b, id_a FROM prs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY 1),
      -- keep-BEST survivor per cluster: longest text, ties to smallest id
      win AS (SELECT keep_id FROM (
               SELECT comp.id AS keep_id,
                      row_number() OVER (PARTITION BY comp.component
                        ORDER BY len(d.t) DESC, comp.id ASC) AS rn
               FROM comp JOIN dd d ON d.doc_id = comp.id) w WHERE rn = 1),
      nd AS MATERIALIZED (SELECT d.doc_id, d.lang, d.t FROM dd d
             LEFT JOIN comp ON comp.id = d.doc_id
             WHERE comp.id IS NULL
                OR d.doc_id IN (SELECT keep_id FROM win)),
      ndt AS (SELECT doc_id, string_split(t, ' ') AS ts FROM nd),
      ssh AS (SELECT DISTINCT doc_id,
                unnest(CASE WHEN len(ts) < 5 THEN [array_to_string(ts, ' ')]
                            ELSE list_transform(range(1, len(ts) - 3),
                                   i -> array_to_string(ts[i:i+4], ' ')) END) AS s
              FROM ndt),
      btoks AS (SELECT string_split(t, ' ') AS ts FROM allowed
                WHERE doc_id % 50 = 0 AND doc_id < 1000000),
      bsh AS (SELECT DISTINCT
                unnest(CASE WHEN len(ts) < 5 THEN [array_to_string(ts, ' ')]
                            ELSE list_transform(range(1, len(ts) - 3),
                                   i -> array_to_string(ts[i:i+4], ' ')) END) AS s
              FROM btoks),
      contam AS (SELECT DISTINCT doc_id FROM ssh JOIN bsh USING (s)),
      surv AS MATERIALIZED (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      pc AS (SELECT doc_id, lang, ((doc_id % 8) + 8) % 8 AS bucket,
                    CAST(len(string_split(t, ' ')) AS BIGINT) AS toks FROM surv),
      cum AS (SELECT doc_id, lang, bucket, toks,
                     sum(toks) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM pc)
      SELECT doc_id, lang, toks, bucket,
             CAST(floor((cum - toks) / 200) AS BIGINT) AS pack_id,
             CAST(row_number() OVER (PARTITION BY bucket, floor((cum - toks) / 200)
               ORDER BY doc_id) AS BIGINT) AS pack_pos,
             CAST(2 AS BIGINT) AS n_copies,
             CAST(0 AS BIGINT) AS epoch_min,
             CAST(1 AS BIGINT) AS epoch_max
      FROM cum ORDER BY doc_id""",
    "q_warc_roundtrip" -> """
      SELECT 'https://d' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.example/x' AS url,
             TIMESTAMP '2024-03-01 00:00:00' AS warc_ts,
             text AS body
      FROM documents ORDER BY url""",
    "q_dnsmag_v2_roundtrip" -> """
      SELECT event_type AS domain, count(*) AS queries, true AS hll_match
      FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1 ORDER BY 1""",
    "q_hll_sketch_state" -> """
      SELECT CAST(0 AS BIGINT) AS est, CAST(0 AS BIGINT) AS exact WHERE 1 = 0""",
    "q_page_sketches" -> """
      SELECT '' AS check, CAST(0 AS DOUBLE) AS observed, CAST(0 AS DOUBLE) AS bound
      WHERE 1 = 0""")
}
