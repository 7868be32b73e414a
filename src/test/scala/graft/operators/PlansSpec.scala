package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase.{stagesOf, tempDir, workOf}

/** `Plans.lookupSide` both ways, `Plans.widen`'s width, and the stage
  * labels of pins routed through `Plans.pin`. The byte cap itself is
  * covered only as the pure `fitsDriver` predicate (PinSpec): a real state
  * over 256 MiB would need more than that inside the 4 GB test JVM. */
class PlansSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  // candidate pairs from an RDD, so the planner has no size for them, and a
  // per-doc set table (sorted distinct longs per id)
  private def candidates: DataFrame = spark.createDataFrame(spark.sparkContext
      .parallelize(for (a <- 0L until 40L; b <- a + 1 until 40L by 3) yield (a, b)))
    .toDF("id_a", "id_b")
  private def sets: DataFrame = spark.range(40).select(col("id"),
    array_sort(array_distinct(transform(sequence(lit(0), lit(9)),
      i => pmod(col("id") + i * (col("id") % 4 + 1), lit(13))))).as("shs"))

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("lookupSide: small broadcasts the state, otherwise shuffle-hash and never sort-merge") {
    val state = sets.select(col("id").as("id_a"), col("shs"))
    val small = finalPlan(candidates.join(Plans.lookupSide(state, small = true), "id_a"))
    assert(small.contains("BroadcastHashJoin"), small)
    val big = finalPlan(candidates.join(Plans.lookupSide(state, small = false), "id_a"))
    assert(big.contains("ShuffledHashJoin"), big)
    assert(!big.contains("SortMergeJoin") && !big.contains("BroadcastHashJoin"), big)
  }

  test("Jaccard verify returns the same rows with either lookup side") {
    def verify(bcast: Boolean) = Dedup.verifyJaccardPairsWithSets(
      candidates, sets, minJaccard = 0.6, broadcastSets = bcast)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val viaBroadcast = verify(bcast = true)
    assert(viaBroadcast.nonEmpty && viaBroadcast.size < candidates.count())
    assert(viaBroadcast === verify(bcast = false))
  }

  test("widen reads the width off the plan: no job, even over a shuffle") {
    val agg = spark.range(0, 100000, 1, 4).groupBy(col("id") % 10).count()
    val (jobs, _) = workOf(Plans.widen(agg))
    assert(jobs === 0)
  }

  test("widen's width is the RDD's on scans, projections, unions, broadcast joins, pins, repartitions") {
    val dir = tempDir("graft_widen").resolve("t").toString
    spark.range(0, 3000, 1, 3).select(col("id"), (col("id") % 7).as("k")).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val small = Seq((0L, "a"), (3L, "b")).toDF("k", "tag")
    val frames = Seq(scan, scan.filter(col("k") > 2).select(col("id")), scan.unionByName(scan),
      scan.join(broadcast(small), "k"), small, spark.range(0, 10, 1, 7),
      Plans.pin(scan, "PlansSpec scan").df, scan.coalesce(1), scan.repartition(5))
    for (f <- frames)
      assert(Plans.width(f.queryExecution.sparkPlan) === f.rdd.getNumPartitions, f.queryExecution.sparkPlan)
  }

  test("pageRank names the stages of each round's pin") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val names = stagesOf(LinkGraph.pageRank(edges, iters = 2))
    assert(names.contains("LinkGraph.pageRank round 1"), names)
    assert(names.contains("LinkGraph.pageRank round 2"), names)
  }
}
