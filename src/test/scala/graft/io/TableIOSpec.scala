package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class TableIOSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark

  test("pages write is day-partitioned; date predicates prune partitions") {
    val dir = graft.SparkTestBase.tempDir("graft_tio").toString
    val pages = graft.sources.Pages.generateDf(spark, 3000, hosts = 50, days = 3, partitions = 4)
    ParquetTableIO.writePages(pages, dir)
    // layout: date=YYYY-MM-DD subdirectories (Iceberg-shaped day partitioning)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("date="))
    assert(parts.length === 3, parts.mkString(","))

    val pruned = ParquetTableIO.readPages(spark, dir)
      .filter(col("date") === lit("2000-01-02"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*date".r.findFirstIn(plan).isDefined, plan.take(1200))
    assert(pruned.count() > 0)
  }

  test("sketch state roundtrips through the state table (append mode merges via aggregate)") {
    val dir = graft.SparkTestBase.tempDir("graft_tio_state").toString
    val pages = graft.sources.Pages.generateDf(spark, 2000, hosts = 30, days = 2, partitions = 4)
    val state = graft.pipelines.Magnitude.collect(pages)
    ParquetTableIO.writeState(state, dir)
    ParquetTableIO.writeState(state, dir, overwrite = false) // second batch appended
    val merged = graft.pipelines.Magnitude.aggregate(ParquetTableIO.readState(spark, dir))
    // doubled queries, identical HLL estimates (idempotent union)
    val rep1 = graft.pipelines.Magnitude.report(state).collect()
      .map(r => ((r.getAs[java.sql.Date]("date").toString, r.getAs[String]("host")),
        r.getAs[Long]("unique_pages"))).toMap
    val rep2 = graft.pipelines.Magnitude.report(merged).collect()
    rep2.foreach { r =>
      val key = (r.getAs[java.sql.Date]("date").toString, r.getAs[String]("host"))
      assert(r.getAs[Long]("unique_pages") === rep1(key), key)
    }
    val q1 = state.agg(sum(col("queries"))).collect()(0).getLong(0)
    val q2 = merged.agg(sum(col("queries"))).collect()(0).getLong(0)
    assert(q2 === 2 * q1)
  }
}
