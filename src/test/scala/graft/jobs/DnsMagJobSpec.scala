package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.workOf
import graft.io.DnsMagCbor

/** Drives the CLI-equivalent job end-to-end: collect two inputs ->
  * aggregate -> report, asserting the golden union estimate (92) lands in
  * the emitted JSON — the reference's `make test2` flow. */
class DnsMagJobSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark

  test("collect -> aggregate -> report pipeline via the job CLI") {
    val dir = graft.SparkTestBase.tempDir("graft_job").toString
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
    val dir = graft.SparkTestBase.tempDir("graft_job_cbor").toString
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

  /** `.dnsmag` scans in the plans of the SQL actions `body` runs, counted
    * in the executed (adaptive final) plans; a reused exchange is one read. */
  private def dnsmagScans(body: => Unit): Int = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    graft.SparkTestBase.queriesOf(body).map(qe => helper.collect(qe.executedPlan) {
      case s: BatchScanExec if s.table.name.startsWith("dnsmag") => s
    }.length).sum
  }

  test("report and text view read a .dnsmag input once") {
    val dir = graft.SparkTestBase.tempDir("graft_job_once").toString
    val tsvPath = getClass.getResource("/test2.tsv").getPath
    DnsMag.run(spark, Array("collect", "--input", tsvPath, "--tsv",
      "--date", "2000-01-01", "--output", s"$dir/state.dnsmag"))
    // a small .dnsmag is decoded once, on the driver, when it is read; the
    // per-domain and totals branches of the report then run no Spark job
    val noJob = (0, 0)
    assert(workOf {
      DnsMag.run(spark, Array("report", "--input", s"$dir/state.dnsmag",
        "--source", "fixtures", "--source-type", "recursive",
        "--output", s"$dir/report.json"))
    } === noJob)
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/report.json"))
    assert(json.contains("\"totalUniqueClients\":27"))
    assert("\"domain\":".r.findAllIn(json).length === 7)
    val text = new java.io.ByteArrayOutputStream()
    assert(workOf {
      Console.withOut(text) {
        DnsMag.run(spark, Array("view", "--input", s"$dir/state.dnsmag"))
      }
    } === noJob)
    assert(text.toString("UTF-8").contains("Total clients (estimated): 27"))
  }

  test("stdin input: aggregate reads a .dnsmag sequence from '-' (est 92)") {
    val dir = graft.SparkTestBase.tempDir("graft_job_stdin").toString
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
    val dir = graft.SparkTestBase.tempDir("graft_job_missing").toString
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
    val dir = graft.SparkTestBase.tempDir("graft_job_stdin2").toString
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
    val dir = graft.SparkTestBase.tempDir("graft_job_sniff").toString
    val odd = graft.core.net.PcapBytes.writeTest1Pcap(
      java.nio.file.Paths.get(dir), "oddly_named.cap.gz")
    // no --date: the job derives it from packet timestamps, which only the
    // pcap path can do — proving the magic sniff routed correctly
    DnsMag.run(spark, Array("collect", "--input", odd.toString,
      "--output", s"$dir/state"))
    import org.apache.spark.sql.functions._
    val st = spark.read.parquet(s"$dir/state")
    assert(st.agg(sum(col("queries"))).collect()(0).getLong(0) === 100L)
  }

  test("collect job fails on invalid records unless --skip-invalid") {
    val dir = graft.SparkTestBase.tempDir("graft_job_inv").toString
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

  /** What `body` prints on stderr. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(prev)
    buf.toString("UTF-8")
  }

  test("collect prints its run stats as one JSON line on stderr") {
    val dir = graft.SparkTestBase.tempDir("graft_job_stats").toString
    val tsv = getClass.getResource("/test2.tsv").getPath
    val err = stderrOf(DnsMag.run(spark, Array("collect", "--input", tsv, "--tsv",
      "--date", "2000-01-01", "--output", s"$dir/state.dnsmag")))
    val line = err.linesIterator.filter(_.startsWith("{\"records\":")).toSeq
    assert(line.size === 1, err)
    val stats = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line.head)
    val records = graft.sources.RecordsCsv.read(spark, tsv, tsv = true).count()
    assert(stats.get("records").asLong === records)
    assert(stats.get("invalid").asLong === 0L)
    val elapsed = stats.get("elapsed_s").asDouble
    assert(elapsed > 0)
    assert(math.abs(stats.get("records_per_sec").asDouble - records / elapsed) <=
      0.01 * records / elapsed, line.head)
  }

  /** The one stderr line of `body` that starts with `{"<key>":`, parsed. */
  private def statsLine(key: String)(body: => Unit): com.fasterxml.jackson.databind.JsonNode = {
    val err = stderrOf(body)
    val lines = err.linesIterator.filter(_.startsWith(s"{\"$key\":")).toSeq
    assert(lines.size === 1, err)
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.head)
  }

  test("aggregate and report print their run stats as one JSON line on stderr") {
    val dir = graft.SparkTestBase.tempDir("graft_job_stats2").toString
    val tsv = getClass.getResource("/test2.tsv").getPath
    for (out <- Seq("a.dnsmag", "b")) DnsMag.run(spark, Array("collect", "--input", tsv, "--tsv",
      "--date", "2000-01-01", "--output", s"$dir/$out"))
    // 7 domains; the .dnsmag adds the NULL bucket (the all-clients
    // residual), so every merge keeps 8 rows
    val rowsOf = Map("a.dnsmag" -> 8L, "b" -> 7L)
    for ((inputs, chunked) <- Seq((Seq("a.dnsmag"), false), (Seq("a.dnsmag", "b"), false),
        (Seq("a.dnsmag", "a.dnsmag", "b"), true), (Seq("a.dnsmag"), true))) {
      val out = s"$dir/merged${inputs.length}$chunked.dnsmag"
      val stats = statsLine("inputs")(DnsMag.run(spark, Array("aggregate") ++
        inputs.flatMap(i => Seq("--input", s"$dir/$i")) ++ Array("--output", out) ++
        (if (chunked) Seq("--chunked", "--top", "5") else Nil)))
      val kept = if (chunked) 6L else 8L // top 5 and the NULL bucket
      assert(stats.get("inputs").asInt === inputs.length)
      assert(stats.get("state_rows_in").asLong === inputs.map(rowsOf).sum, stats)
      assert(stats.get("rows_out").asLong === (if (inputs.length > 1) kept else 8L), stats)
      assert(stats.get("rows_out").asLong === DnsMagCbor.read(spark, out).count(), stats)
      assert(stats.get("elapsed_s").asDouble > 0)
    }
    // a parquet input with --chunked passes through unmerged: no counts
    val passed = statsLine("inputs")(DnsMag.run(spark, Array("aggregate", "--input", s"$dir/b",
      "--chunked", "--output", s"$dir/passed")))
    assert(passed.get("state_rows_in").isNull && passed.get("rows_out").isNull, passed)

    for ((top, rows) <- Seq((2500, 7L), (3, 3L))) {
      val stats = statsLine("dates")(DnsMag.run(spark, Array("report", "--input", s"$dir/a.dnsmag",
        "--source", "fixtures", "--source-type", "recursive", "--top", top.toString,
        "--output", s"$dir/report$top.json")))
      assert(stats.get("dates").asInt === 1)
      assert(stats.get("rows").asLong === rows)
      val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/report$top.json"))
      assert("\"domain\":".r.findAllIn(json).length === rows)
      assert(stats.get("elapsed_s").asDouble > 0)
    }
  }

  test("a count beyond a long aborts collect as an invalid record, ANSI on or off") {
    val dir = graft.SparkTestBase.tempDir("graft_job_big").toString
    val f = new java.io.File(dir, "big.csv")
    java.nio.file.Files.writeString(f.toPath,
      "192.168.1.1,com,5\n192.168.1.2,org,99999999999999999999\n")
    for (ansi <- Seq("true", "false")) {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val e = intercept[RuntimeException] {
          DnsMag.run(spark, Array("collect", "--input", f.toString,
            "--date", "2000-01-01", "--output", s"$dir/state$ansi"))
        }
        assert(e.getMessage.startsWith("1 invalid record(s) in") &&
          e.getMessage.contains("--skip-invalid"), s"ansi=$ansi: ${e.getMessage}")
        assert(!new java.io.File(s"$dir/state$ansi").exists())
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
  }

  test("report and text view of a .dnsmag read through the scan decode it once") {
    val dir = graft.SparkTestBase.tempDir("graft_job_scan_once").toString
    val path = s"$dir/state.dnsmag"
    DnsMag.run(spark, Array("collect", "--input", getClass.getResource("/test2.tsv").getPath,
      "--tsv", "--date", "2000-01-01", "--output", path))
    val state = graft.io.DnsMagCbor.readByScan(spark, path)
    // the pin decodes the file; the per-domain and totals branches of the
    // report read the pin
    var json = Seq.empty[String]
    assert(dnsmagScans {
      json = graft.pipelines.DnsMagnitude.reportJson(
        DnsMag.pinForReport(state, path), "fixtures", "recursive", 2500)
    } === 1)
    assert(json.mkString.contains("\"totalUniqueClients\":27"))
    var text = ""
    assert(dnsmagScans {
      text = graft.pipelines.DnsMagnitude.statsText(DnsMag.pinForReport(state, path))
    } === 1)
    assert(text.contains("Total clients (estimated): 27"))
  }
}
