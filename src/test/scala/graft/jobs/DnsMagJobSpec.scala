package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

/** Drives the CLI-equivalent job end-to-end: collect two inputs ->
  * aggregate -> report, asserting the golden union estimate (92) lands in
  * the emitted JSON — the reference's `make test2` flow. */
class DnsMagJobSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark

  test("collect -> aggregate -> report pipeline via the job CLI") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job").toString
    val tsvPath = getClass.getResource("/test2.tsv").getPath
    // materialize test1 records as csv for the job
    val t1 = new java.io.File(dir, "test1.csv")
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/test1_records.tsv")).getLines()
      .map(_.split("\t").mkString(",")).mkString("\n")
    java.nio.file.Files.writeString(t1.toPath, lines)

    DnsMag.run(spark, Array("collect", "--input", t1.toString,
      "--date", "2000-01-01", "--output", s"$dir/state1"))
    DnsMag.run(spark, Array("collect", "--input", tsvPath, "--tsv",
      "--date", "2000-01-01", "--output", s"$dir/state2"))
    DnsMag.run(spark, Array("aggregate", "--input", s"$dir/state1",
      "--input", s"$dir/state2", "--output", s"$dir/merged"))
    DnsMag.run(spark, Array("report", "--input", s"$dir/merged",
      "--source", "fixtures", "--source-type", "recursive",
      "--output", s"$dir/report.json"))

    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/report.json"))
    assert(json.contains("\"totalUniqueClients\":92"))
    assert(json.contains("\"totalQueryVolume\":300"))
    assert(json.contains("\"sourceType\":\"recursive\""))
    // 7 domains in magnitudeData
    assert("\"domain\":".r.findAllIn(json).length === 7)

    // date-mismatch guard through the CLI
    DnsMag.run(spark, Array("collect", "--input", tsvPath, "--tsv",
      "--date", "2000-01-05", "--output", s"$dir/state3"))
    val e = intercept[IllegalArgumentException] {
      DnsMag.run(spark, Array("aggregate", "--input", s"$dir/state1",
        "--input", s"$dir/state3", "--output", s"$dir/bad"))
    }
    assert(e.getMessage.contains("date mismatch"))
    // --force-date override
    DnsMag.run(spark, Array("aggregate", "--input", s"$dir/state1",
      "--input", s"$dir/state3", "--force-date", "2000-01-01",
      "--output", s"$dir/forced"))
    assert(spark.read.parquet(s"$dir/forced").count() > 0)
  }

  test(".dnsmag CBOR state through the CLI, view --json parity fields") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_cbor").toString
    val tsvPath = getClass.getResource("/test2.tsv").getPath
    // collect straight to a .dnsmag file, aggregate it with itself back to
    // parquet, then view --json — exercising both directions of the codec
    DnsMag.run(spark, Array("collect", "--input", tsvPath, "--tsv",
      "--date", "2000-01-01", "--output", s"$dir/state.dnsmag"))
    assert(new java.io.File(s"$dir/state.dnsmag").isFile)
    DnsMag.run(spark, Array("aggregate", "--input", s"$dir/state.dnsmag",
      "--input", s"$dir/state.dnsmag", "--output", s"$dir/merged"))
    // idempotent union: same clients twice -> same totals as once
    val json = graft.pipelines.DnsMagnitude.statsJson(
      spark.read.parquet(s"$dir/merged"))
    assert(json.contains("\"totalUniqueClients\":27"))
    assert(json.contains("\"totalQueryVolume\":400"))
    assert(json.contains("\"totalDomainCount\":7"))
    assert(json.contains("\"date\":\"2000-01-01\""))
    assert(json.contains("datasetStatistics"))
  }

  test("stdin input: aggregate reads a .dnsmag sequence from '-' (est 92)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_stdin").toString
    val tsvPath = getClass.getResource("/test2.tsv").getPath
    // build the two reference states, one exported as .dnsmag for stdin
    DnsMag.run(spark, Array("collect", "--input", tsvPath, "--tsv",
      "--date", "2000-01-01", "--output", s"$dir/s2.dnsmag"))
    val t1 = new java.io.File(dir, "test1.csv")
    java.nio.file.Files.writeString(t1.toPath,
      scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/test1_records.tsv")).getLines()
        .map(_.split("\t").mkString(",")).mkString("\n"))
    DnsMag.run(spark, Array("collect", "--input", t1.toString,
      "--date", "2000-01-01", "--output", s"$dir/s1"))

    val oldIn = System.in
    try {
      System.setIn(new java.io.FileInputStream(s"$dir/s2.dnsmag"))
      DnsMag.run(spark, Array("aggregate", "--input", "-",
        "--input", s"$dir/s1", "--output", s"$dir/merged"))
    } finally System.setIn(oldIn)
    val rep = graft.pipelines.DnsMagnitude.report(
      spark.read.parquet(s"$dir/merged")).collect()
    assert(rep.head.getAs[Long]("totalUniqueClients") === 92L)
    assert(rep.head.getAs[Long]("totalQueryVolume") === 300L)
  }

  test("aggregate rejects '--input -' appearing more than once") {
    val e = intercept[IllegalArgumentException] {
      DnsMag.run(spark, Array("aggregate", "--input", "-", "--input", "-",
        "--output", "/tmp/never"))
    }
    assert(e.getMessage.contains("at most once"))
  }

  test("aggregate of a missing .dnsmag input fails, naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_missing").toString
    DnsMag.run(spark, Array("collect", "--input", getClass.getResource("/test2.tsv").getPath,
      "--tsv", "--date", "2000-01-01", "--output", s"$dir/s.dnsmag"))
    val e = intercept[Exception] {
      DnsMag.run(spark, Array("aggregate", "--input", s"$dir/s.dnsmag",
        "--input", s"$dir/absent.dnsmag", "--output", s"$dir/merged"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains(s"$dir/absent.dnsmag")), e.toString)
    assert(!new java.io.File(s"$dir/merged").exists())
  }

  test("stdin input: collect reads gzipped records from '-'") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_stdin2").toString
    val gz = new java.io.File(dir, "recs.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write("192.168.1.1,com,5\n192.168.1.2,org,3\n".getBytes)
    out.close()
    val oldIn = System.in
    try {
      System.setIn(new java.io.FileInputStream(gz))
      DnsMag.run(spark, Array("collect", "--input", "-",
        "--date", "2000-01-01", "--output", s"$dir/state"))
    } finally System.setIn(oldIn)
    import org.apache.spark.sql.functions._
    val st = spark.read.parquet(s"$dir/state")
    assert(st.agg(sum(col("queries"))).collect()(0).getLong(0) === 8L)
  }

  test("pcap routing by magic bytes: .cap.gz extension still hits the pcap decoder") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_sniff").toString
    val odd = java.nio.file.Paths.get(dir, "oddly_named.cap.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/testdata/test1.pcap.gz"), odd)
    // no --date: the job derives it from packet timestamps, which only the
    // pcap path can do — proving the magic sniff routed correctly
    DnsMag.run(spark, Array("collect", "--input", odd.toString,
      "--output", s"$dir/state"))
    import org.apache.spark.sql.functions._
    val st = spark.read.parquet(s"$dir/state")
    assert(st.agg(sum(col("queries"))).collect()(0).getLong(0) === 100L)
  }

  test("collect job fails on invalid records unless --skip-invalid") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_inv").toString
    val f = new java.io.File(dir, "dirty.csv")
    java.nio.file.Files.writeString(f.toPath,
      "192.168.1.1,com,5\n192.168.1.2,org,-3\n")
    val e = intercept[RuntimeException] {
      DnsMag.run(spark, Array("collect", "--input", f.toString,
        "--date", "2000-01-01", "--output", s"$dir/state"))
    }
    assert(e.getMessage.contains("invalid record"))
    // the failed collect must not leave committed output behind
    assert(!new java.io.File(s"$dir/state").exists())
    DnsMag.run(spark, Array("collect", "--input", f.toString, "--skip-invalid",
      "--date", "2000-01-01", "--output", s"$dir/state"))
    val st = spark.read.parquet(s"$dir/state")
    import org.apache.spark.sql.functions._
    assert(st.agg(sum(col("queries"))).collect()(0).getLong(0) === 5L)
  }
}
