package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Physical-plan shape assertions — the "would this survive 100x scale"
  * checks: column pruning reaches the parquet scan, partition pruning fires
  * on the day-partitioned pages layout, the 1-row global join broadcasts,
  * and scalar sketch expressions stay inside WholeStageCodegen. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val pagesDir = {
    val dir = graft.SparkTestBase.tempDir("graft_pages_plan").toString
    graft.sources.Pages.ensureParquet(spark, dir, 5000, hosts = 100, days = 3, partitions = 4)
    dir
  }

  test("collect() prunes html/text out of the pages scan") {
    val plan = pipelines.Magnitude.collect(spark.read.parquet(pagesDir))
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("url"), readSchema)
    assert(readSchema.contains("warc_ts"), readSchema)
    assert(!readSchema.contains("html"), s"html must be pruned: $readSchema")
    assert(!readSchema.contains("text,"), s"text must be pruned: $readSchema")
  }

  test("date filter prunes day partitions of the pages table") {
    val df = spark.read.parquet(pagesDir)
      .filter(col("date") === lit("2000-01-02"))
      .select(count(lit(1)))
    val plan = df.queryExecution.executedPlan.toString
    // partition filters show up as PartitionFilters on the scan
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*date".r.findFirstIn(plan).isDefined, plan.take(1500))
  }

  test("predicate pushdown reaches the parquet scan (lineitem filter)") {
    val plan = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 30.0)
      .select(col("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity"),
      plan.take(1500))
  }

  test("report() broadcasts the per-date global row") {
    val state = pipelines.Magnitude.collect(spark.read.parquet(pagesDir))
    val plan = pipelines.Magnitude.report(state)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
  }

  test("scalar sketch expressions stay inside WholeStageCodegen") {
    val df = spark.read.parquet(pagesDir)
      .select(xxh3_64(col("url")).as("h"), host_of_url(col("url")).as("host"))
      .filter(col("host").isNotNull)
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark operators fused into WholeStageCodegen stage n
    assert(plan.contains("*(1) Project [xxh3_64") || plan.contains("*(1) Project [graft"),
      plan.take(1500))
    assert("\\*\\(1\\) Filter".r.findFirstIn(plan).isDefined, plan.take(1500))
    // a function declared as a KernelCall row (host_of_url) fuses into the
    // same codegen'd Project as the hand-written xxh3_64
    val project = plan.split("\n").find(_.contains("*(1) Project [")).getOrElse("")
    assert(project.contains("xxh3_64(url") &&
      project.contains("static_invoke(graft.core.net.DomainUtil.hostOfUrlUTF8(url"), plan.take(1500))
    // and eval works through codegen end-to-end
    assert(df.limit(5).collect().length === 5)
  }

  test("dedup inverted-index join is a shuffled hash/sort-merge equi-join, no cartesian") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = operators.Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "dedup must not cartesian-join")
    // equi-join on the shingle key: hash-partitioned SMJ/SHJ at scale, or a
    // broadcast equi-join when AQE sees a tiny side (both fine; never BNLJ)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("collect with observed invalid-count scans the source exactly once") {
    val dir = graft.SparkTestBase.tempDir("graft_plan_csv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r.csv"),
      "192.168.1.1,com,5\n192.168.1.2,org,3\n")
    val recs = sources.RecordsCsv.read(spark, s"$dir/r.csv")
    val obs = org.apache.spark.sql.Observation()
    val observed = recs.observe(obs, sum(when(col("invalid"), 1L).otherwise(0L)).as("bad"))
    val plan = pipelines.DnsMagnitude.collectByPlan(observed, java.sql.Date.valueOf("2000-01-01"))
      .queryExecution.executedPlan.toString
    val scans = "Scan (csv|text)".r.findAllIn(plan).length
    assert(scans === 1, s"expected ONE source scan, got $scans:\n${plan.take(2000)}")
  }

  /** The static kernel calls of `plan`'s operators, as (operator, method). */
  private def kernelCalls(plan: org.apache.spark.sql.execution.SparkPlan): Seq[(String, String)] =
    (plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case node => node }.flatMap { node =>
      node.expressions.flatMap(_.collect {
        case k: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke =>
          (node.nodeName, k.functionName)
      })
    }

  test("collect's records truncate each IP once; no Filter calls a kernel") {
    val dir = graft.SparkTestBase.tempDir("graft_plan_kernel").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r.csv"),
      "192.168.1.1,com,5\n192.168.1.2,org,3\n")
    val date = java.sql.Date.valueOf("2000-01-01")
    val csv = pipelines.DnsMagnitude.collectByPlan(sources.RecordsCsv.read(spark, s"$dir/r.csv")
      .observe(org.apache.spark.sql.Observation(), count(lit(1)).as("n")), date)
    // the one kernel call parses each record and truncates its IP once
    assert(kernelCalls(csv.queryExecution.executedPlan) === Seq(("Generate", "parse")),
      csv.queryExecution.executedPlan)
    // pcap: the decode loop derives the columns, so the plan truncates nothing
    val pcap = pipelines.DnsMagnitude.collectByPlan(sources.RecordsPcap.read(spark,
      graft.core.net.PcapBytes.writeTest1Pcap(graft.SparkTestBase.tempDir("graft_plan_pcap"))
        .toString), date)
    val pcapPlan = pcap.queryExecution.executedPlan
    assert(kernelCalls(pcapPlan).filter(c => c._1 == "Filter" || c._2 == "truncateIp") === Nil,
      pcapPlan)
    for (plan <- Seq(csv.queryExecution.executedPlan, pcapPlan))
      assert(!plan.toString.contains("truncateIp"), plan)
  }

  test("a small collect merges on the driver: one job, one stage, a local frame") {
    val dir = graft.SparkTestBase.tempDir("graft_plan_small").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r.csv"),
      "192.168.1.1,com,5\n192.168.1.2,org,3\n192.168.1.3,.,1\n")
    val recs = sources.RecordsCsv.read(spark, s"$dir/r.csv")
    var state: org.apache.spark.sql.DataFrame = null
    assert(SparkTestBase.workOf {
      state = pipelines.DnsMagnitude.collect(recs, java.sql.Date.valueOf("2000-01-01"))
    } === ((1, 1)))
    assert(state.isLocal)
    assert(SparkTestBase.workOf(state.collect()) === ((0, 0)))
    assert(state.schema === pipelines.DnsMagnitude.collectByPlan(recs,
      java.sql.Date.valueOf("2000-01-01")).schema)
  }

  test("embedding near-dup join has no nested-loop/cartesian anywhere") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = operators.Ann.cosineNearDupPairs(embs, minCos = 0.5, dims = 64, blocks = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(2000))
  }

  test("sparse cosine join is equi-join only, no nested-loop/cartesian/window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = operators.Dedup.sparseCosinePairs(docs, minCos = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("RunningWindowFunction"), "per-doc state must not need a window")
  }

  test("decontamination is an equi-join on gram hashes; corpus never nested-loops") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.limit(10)
    val plan = operators.Dedup.contaminatedDocs(docs, bench, n = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(2000))
  }

  test("stratified sampling broadcasts quotas; no cartesian anywhere") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = operators.Sampling.stratified(docs, "lang", 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), "quota table must broadcast:\n" + plan.take(2000))
  }

  test("greedy packing joins back by (bucket, order) equi-keys; no cartesian") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", pmod(col("doc_id"), lit(8)))
    val plan = operators.Packing.packGreedy(docs, "toks", 200, "bucket")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(2000))
  }

  test("best-fit packing joins back by (bucket, order) equi-keys; no cartesian") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", pmod(col("doc_id"), lit(8)))
    val plan = operators.Packing.packBestFit(docs, "toks", 200, "bucket")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(2000))
  }

  test("boilerplate strip: anti equi-join on line hashes, NO forced broadcast") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = operators.Dedup.stripBoilerplateLines(docs, minDf = 50)
    // the boilerplate set is small only for large minDf — minDf near 2 on a
    // duplication-heavy crawl makes it corpus-scale, so the join must NOT
    // carry a broadcast hint: AQE picks broadcast iff the pinned set is
    // actually small (it has exact stats), shuffles the 8-byte hashes
    // otherwise
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "stripBoilerplateLines must not force a broadcast of the " +
        "potentially-unbounded boilerplate set")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\n]*LeftAnti".r
      .findFirstIn(plan).isDefined, plan.take(3000))
  }

  test("boilerplate strip runs shuffled (not broadcast) when broadcast is off") {
    // proves the join strategy is AQE's choice, not baked in: with the
    // broadcast threshold disabled the same operator must still plan — as a
    // shuffled anti join — and still produce the right answer. A forced
    // broadcast hint would override the threshold and fail this test.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0 until 400).map { i =>
        // every line shared by exactly two docs => at minDf=2 the WHOLE
        // distinct line set is boilerplate (the corpus-scale regime)
        val lines = (0 until 20).map(j => s"pair ${i / 2} line $j")
        (i.toLong, lines.mkString("\n"))
      }.toDF("doc_id", "text")
      val df = operators.Dedup.stripBoilerplateLines(docs, minDf = 2)
      val out = df.collect()
      assert(out.length === 400)
      assert(out.forall(_.getAs[String]("text") == ""),
        "minDf=2 on an all-shared corpus strips every line")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        "with broadcast disabled the anti join must shuffle:\n" + plan.take(3000))
      assert("(SortMergeJoin|ShuffledHashJoin)[^\n]*LeftAnti".r.findFirstIn(plan).isDefined,
        plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("repeated-substring audit: equi joins only, no pair emission, no cartesian") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = operators.Dedup.repeatedSpans(docs, minLen = 40)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    // exactly ONE join (position index vs hot windows) — a second join
    // would mean the operator started emitting pairs
    assert("Join".r.findAllIn(plan).length <= 3, plan.take(2500))
  }

  test("simhash banded join is equi-join only at every radius") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (h <- Seq(3, 7, 10)) {
      val plan = operators.Dedup.simhashPairs(docs, maxHamming = h)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"h=$h: ${plan.take(2000)}")
    }
  }

  test("prefix-filtered dedup joins only on prefix shingles (grouped prefix, equi-joins)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = operators.Dedup.ngramJaccardPairs(docs, 3, 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    // the per-doc prefix state is built by one grouped aggregation (no
    // window sort pass) and PINNED during construction (r7), so the final
    // plan consumes it as a materialized scan rather than re-deriving it
    assert(plan.contains("Scan ExistingRDD"), plan.take(2000))
    assert(!plan.contains("RunningWindowFunction"), "prefix must not need a window")
    assert(!plan.contains("SortMergeJoin"),
      "candidate/verify joins must be hash joins, never sort-merge: " + plan.take(2000))
  }

  test("bucketed sketch-state tables join with NO exchange (co-located merge)") {
    // the recurring-aggregation layout at scale: states bucketed by the
    // merge key join/merge without shuffling either side
    val wh = graft.SparkTestBase.tempDir("graft_wh").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.write.mode("overwrite").bucketBy(4, "doc_id").sortBy("doc_id")
      .option("path", s"$wh/t_a").saveAsTable("graft_bucket_a")
    docs.write.mode("overwrite").bucketBy(4, "doc_id").sortBy("doc_id")
      .option("path", s"$wh/t_b").saveAsTable("graft_bucket_b")
    try {
      val joined = spark.table("graft_bucket_a").as("a")
        .join(spark.table("graft_bucket_b").as("b"), "doc_id")
        .groupBy(col("a.lang")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not exchange: bucketing pre-partitioned both
      // sides on the key (only the final small aggregation may shuffle)
      val joinPart = plan.split("SortMergeJoin|ShuffledHashJoin").last
      assert(!joinPart.contains("Exchange hashpartitioning(doc_id"),
        s"bucketed join must not re-shuffle on the bucket key:\n${plan.take(2500)}")
      assert(joined.collect().map(_.getAs[Long]("n")).sum === docs.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("ANN brute force broadcasts the query side, never shuffles the corpus") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = operators.Ann.bruteForceTopK(embs, embs.limit(5), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the only Exchange should be for the final window, not the corpus join
    val beforeWindow = plan.split("Window")(plan.split("Window").length - 1)
    assert(!beforeWindow.contains("CartesianProduct"))
  }
}
