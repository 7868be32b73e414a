package graft

import org.scalatest.funsuite.AnyFunSuite

/** The suite's session is GraftSession.local(4): it carries the settings
  * every main relies on. */
class GraftSessionSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark

  test("the shared test session carries GraftSession.local's settings") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      (4 * 1024 * 1024).toString)
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.sparkContext.getCheckpointDir.isDefined)
    // shuffle and spill stay in Spark's default dir: only the timed mains
    // ask for tmpfs
    assert(spark.sparkContext.getConf.getOption("spark.local.dir").isEmpty)
  }

  test("tmpfs local dir is named only where the host can create it") {
    val env = sys.env.get("SPARK_LOCAL_DIRS")
    val missing = new java.io.File(SparkTestBase.tempDir("graft-shm").toFile, "absent")
    assert(GraftSession.tmpfsLocalDir(missing) === env)
    val shm = SparkTestBase.tempDir("graft-shm").toFile
    assert(GraftSession.tmpfsLocalDir(shm) ===
      env.orElse(Some(new java.io.File(shm, "graft_spark").getPath)))
  }
}
