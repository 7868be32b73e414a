package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test suite get
  * their session here, so a timing, a plan dump and an oracle run all see
  * the same settings. */
object GraftSession {

  /** Local parallelism: SPARK_GRAFT_CPUS when set, else the machine's cores. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** SPARK_LOCAL_DIRS, else tmpfs where the host has `shm` writable, else
    * None (Spark's default: it exits when it can create no local dir). */
  private[graft] def tmpfsLocalDir(shm: java.io.File = new java.io.File("/dev/shm")): Option[String] =
    sys.env.get("SPARK_LOCAL_DIRS").orElse(
      Option.when(shm.isDirectory && shm.canWrite)(new java.io.File(shm, "graft_spark").getPath))

  /** Generated classes kept compiled, JVM-wide (a static conf, read when
    * the first session compiles). Spark's default of 100 is smaller than
    * one pass over the gates (1,509 distinct classes at sf0.01 and 1,514
    * at sf0.1, 4 cores), so a warm pass recompiled 2,075 of them. */
  private[graft] val CodegenCacheEntries = 2048

  /** `local[cpus]` with the bench settings: one shuffle partition per core,
    * UTC, AQE, no UI, 32 MiB input splits and a codegen cache that holds a
    * pass over the gates, plus a fresh checkpoint dir
    * (`Plans.pin` checkpoints reliably), deleted at JVM exit. The timed
    * mains pass `tmpfs` for shuffle and spill; tests and Verify keep
    * Spark's default local dir. */
  def local(cpus: Int = defaultCpus, tmpfs: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // >=128 input splits on the 4.9G bench table (BASELINE.md protocol:
      // both scaling runs must be parallelism-bound, not wave-quantized)
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    val dir = if (tmpfs) tmpfsLocalDir() else None
    val spark = dir.fold(b)(b.config("spark.local.dir", _)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    setCheckpointDir(spark, java.nio.file.Files.createTempDirectory("graft-ckpt").toFile)
    graft.pipelines.Magnitude.tune(spark)
    spark
  }

  /** Checkpoint into `dir`, which is deleted when the JVM exits (after the
    * context stops): checkpoint files outlive the RDDs that wrote them, and
    * a reader may re-read them at any point of the run. */
  private[graft] def setCheckpointDir(spark: SparkSession, dir: java.io.File): Unit = {
    org.apache.spark.sql.graftshim.shims.deleteAtExit(dir)
    spark.sparkContext.setCheckpointDir(dir.getPath)
  }

  /** Session for spark-submit: master, resources and checkpoint dir come
    * from the cluster's submit settings; only UTC and the sketch tuning are
    * fixed here. */
  def cluster(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    graft.pipelines.Magnitude.tune(spark)
    spark
  }
}
