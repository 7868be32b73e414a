package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.cbor.DnsMagCodec
import graft.functions.GraftFunctions._
import graft.io.DnsMagCbor
import graft.pipelines.DnsMagnitude

/** `spark.read.format("dnsmag")` (DataSource V2, also behind
  * `DnsMagCbor.read`) vs a direct decode of the file bytes: identical rows,
  * the reference aggregate fixture (estimate 92),
  * per-file parallelism on directories, column pruning into the reader,
  * and file-source ergonomics (globs, hidden-file skip, missing paths). */
class DnsMagV2SourceSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val d1 = java.sql.Date.valueOf("2000-01-01")
    val tmp = graft.SparkTestBase.tempDir("graft_dnsmag_v2").toString
    val recs1 = {
      val lines = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/test1_records.tsv")).getLines()
        .filterNot(_.startsWith("#")).toSeq
      lines.map { l => val f = l.split("\t"); (f(0), f(1), f(2).toLong) }
        .toDF("client_ip", "domain_raw", "cnt")
        .withColumn("hash", xxh3_64(truncate_ip($"client_ip")))
        .withColumn("domain", normalize_domain($"domain_raw"))
    }
    DnsMagCbor.write(DnsMagnitude.collect(recs1, d1), s"$tmp/t1.dnsmag")
    DnsMagCbor.write(
      DnsMagnitude.collect(
        RecordsCsv.read(spark, getClass.getResource("/test2.tsv").getPath, tsv = true), d1),
      s"$tmp/t2.dnsmag")
    // metadata/hidden entries a real export directory accumulates
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/_SUCCESS"), "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/.crc.tmp"), "junk")
    tmp
  }

  private type StateRow = (String, String, Seq[Byte], Long)
  private def sorted(rows: Seq[StateRow]) = rows.sortBy(t => (t._1, Option(t._2).getOrElse("")))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[StateRow] =
    sorted(df.collect().toSeq.map(r => (r.getAs[java.sql.Date]("date").toString,
      r.getAs[String]("domain"),
      Option(r.getAs[Array[Byte]]("hll")).map(_.toSeq).orNull,
      r.getAs[Long]("queries"))))

  /** The oracle: the file's bytes decoded in this JVM, without Spark. */
  private def decoded(file: String): Seq[StateRow] =
    sorted(DnsMagCodec.decodeSeq(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
      .flatMap(DnsMagCbor.datasetToState)
      .map { case (date, domain, hll, queries) => (date, domain, hll.toSeq, queries) })

  test("format(\"dnsmag\") rows == direct decode, byte-exact, single file") {
    val v2 = spark.read.format("dnsmag").load(s"$fixtureDir/t1.dnsmag")
    assert(v2.schema === DnsMagDataSource.Schema)
    assert(canon(v2) === decoded(s"$fixtureDir/t1.dnsmag"))
  }

  test("aggregate over format(\"dnsmag\") reproduces the reference fixture (est 92)") {
    val state = spark.read.format("dnsmag").load(fixtureDir)
    val rep = DnsMagnitude.report(DnsMagnitude.aggregate(Seq(state))).collect()
    assert(rep.head.getAs[Long]("totalUniqueClients") === 92L)
    assert(rep.head.getAs[Long]("totalQueryVolume") === 300L)
    assert(rep.length === 7)
  }

  test("directory read: hidden/metadata files skipped, one partition per file") {
    val df = spark.read.format("dnsmag").load(fixtureDir)
    assert(df.rdd.getNumPartitions === 2, "one input partition per .dnsmag file")
    val both = decoded(s"$fixtureDir/t1.dnsmag") ++ decoded(s"$fixtureDir/t2.dnsmag")
    assert(canon(df) === sorted(both))
    // glob and multi-path load agree with the directory read
    val glob = spark.read.format("dnsmag").load(s"$fixtureDir/*.dnsmag")
    assert(canon(glob) === canon(df))
    val multi = spark.read.format("dnsmag")
      .load(s"$fixtureDir/t1.dnsmag", s"$fixtureDir/t2.dnsmag")
    assert(canon(multi) === canon(df))
  }

  test("column pruning reaches the reader: HLL bytes never materialize for a count") {
    val df = spark.read.format("dnsmag").load(fixtureDir)
    val plan = df.select($"domain", $"queries")
      .queryExecution.executedPlan.toString
    // the BatchScan's output column list must drop the binary hll column
    val scanLine = "BatchScan dnsmag[^\n]*".r.findFirstIn(plan)
      .getOrElse(fail(s"no BatchScan in plan:\n${plan.take(1500)}"))
    assert(!scanLine.contains("hll"),
      s"hll must be pruned from the scan: $scanLine")
    assert(scanLine.contains("domain") && scanLine.contains("queries"), scanLine)
    assert(df.select($"queries").agg(sum($"queries")).collect()(0).getLong(0) === 300L)
  }

  test("scan tasks count the bytes of the files they decode") {
    val f = s"$fixtureDir/t1.dnsmag"
    val len = new java.io.File(f).length
    val read = graft.SparkTestBase.inputBytesOf(spark.read.format("dnsmag").load(f).collect())
    assert(read >= len, s"tasks read $read bytes of a $len-byte file")
  }

  test("DnsMagCbor.read: small files decode on the driver into the scan's rows") {
    val onDriver = DnsMagCbor.read(spark, fixtureDir)
    val byScan = DnsMagCbor.readByScan(spark, fixtureDir)
    assert(onDriver.isLocal && !byScan.isLocal)
    assert(onDriver.schema === byScan.schema)
    assert(graft.SparkTestBase.workOf(canon(onDriver)) === ((0, 0)))
    assert(canon(onDriver) === canon(byScan))
    assert(canon(onDriver) === sorted(decoded(s"$fixtureDir/t1.dnsmag") ++
      decoded(s"$fixtureDir/t2.dnsmag")))
    // the driver read lists eagerly: a missing path fails at read, naming it
    val e = intercept[java.io.FileNotFoundException](DnsMagCbor.read(spark, s"$fixtureDir/nope.dnsmag"))
    assert(e.getMessage.contains("nope.dnsmag"))
  }

  test("DnsMagCbor.read: the driver caps are inclusive; above either the scan reads") {
    val t1 = java.nio.file.Paths.get(s"$fixtureDir/t1.dnsmag")
    def dirOf(n: Int) = {
      val d = graft.SparkTestBase.tempDir(s"graft_dnsmag_cap$n")
      (0 until n).foreach(i => java.nio.file.Files.copy(t1, d.resolve(f"part-$i%03d.dnsmag")))
      d.toString
    }
    val atCap = DnsMagCbor.read(spark, dirOf(DnsMagCbor.DriverMaxFiles))
    assert(atCap.isLocal)
    val overCap = dirOf(DnsMagCbor.DriverMaxFiles + 1)
    val scanned = DnsMagCbor.read(spark, overCap)
    assert(!scanned.isLocal)
    assert(canon(scanned) === canon(DnsMagDataSource.readOnDriver(
      spark, DnsMagDataSource.listFiles(spark, overCap))))
    // one file a byte over the byte cap (sparse, never decoded: the scan is lazy)
    val big = graft.SparkTestBase.tempDir("graft_dnsmag_big").resolve("big.dnsmag").toFile
    val raf = new java.io.RandomAccessFile(big, "rw")
    try raf.setLength(DnsMagCbor.DriverMaxBytes + 1) finally raf.close()
    assert(!DnsMagCbor.read(spark, big.getPath).isLocal)
  }

  test("missing path fails fast; corrupt file fails with the codec's error") {
    val e = intercept[Exception](
      spark.read.format("dnsmag").load(s"$fixtureDir/nope.dnsmag").collect())
    assert(e.getMessage.contains("nope.dnsmag"))
    val bad = s"$fixtureDir/bad_dir/corrupt.dnsmag"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$fixtureDir/bad_dir"))
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), Array[Byte](0x1f, 0x2e, 0x3d))
    val e2 = intercept[Exception](
      spark.read.format("dnsmag").load(bad).collect())
    assert(e2.getMessage != null)
  }
}
