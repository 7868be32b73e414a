package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.cbor.{Cbor, DnsMagCodec}
import graft.core.cbor.DnsMagCodec.{Dataset, DomainData}
import graft.pipelines.DnsMagnitude
import graft.sources.RecordsCsv
import graft.functions.GraftFunctions._

/** CBOR `.dnsmag` interop: golden RFC 8949 byte vectors hand-derived from
  * /root/reference/schema/dataset.cddl, roundtrips, version refusal, and the
  * reference's aggregate fixture (estimate 92) through actual CBOR files. */
class DnsMagCborSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
  private def unhex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // the 1-client HLL fixture (byte-exact vs the reference toolkit)
  private val hll1 = unhex("138e40cc4860")

  private val tiny = Dataset(
    version = 1, id = "t", generator = "g", date = "2000-01-01",
    allClientsHll = hll1, allClientsCount = 1, allQueriesCount = 100,
    domains = Map("com" -> DomainData(hll1, 1, 17)))

  // hand-encoded from RFC 8949 (not generated by the implementation):
  // map(8), "version" 1, "id" "t", "generator" "g",
  // "date" tag(1004) "2000-01-01", "all_clients_hll" bstr(6),
  // "all_clients_count" 1, "all_queries_count" 100,
  // "domains" map(1) { "com" -> map(3) { "clients_hll" bstr(6),
  //   "clients_count" 1, "queries_count" 17 } }
  private val tinyGolden =
    "a8" +
    "6776657273696f6e" + "01" +
    "626964" + "6174" +
    "6967656e657261746f72" + "6167" +
    "6464617465" + "d903ec" + "6a323030302d30312d3031" +
    "6f616c6c5f636c69656e74735f686c6c" + "46138e40cc4860" +
    "71616c6c5f636c69656e74735f636f756e74" + "01" +
    "71616c6c5f717565726965735f636f756e74" + "1864" +
    "67646f6d61696e73" + "a1" + "63636f6d" + "a3" +
    "6b636c69656e74735f686c6c" + "46138e40cc4860" +
    "6d636c69656e74735f636f756e74" + "01" +
    "6d717565726965735f636f756e74" + "11"

  test("encode matches the hand-derived RFC 8949 golden bytes") {
    assert(hex(DnsMagCodec.encode(tiny)) === tinyGolden)
  }

  test("decode of the golden bytes reproduces every field") {
    val ds = DnsMagCodec.decodeSeq(unhex(tinyGolden)) match {
      case Seq(one) => one
      case other => fail(s"expected 1 dataset, got ${other.size}")
    }
    assert(ds.version === 1L)
    assert(ds.id === "t")
    assert(ds.generator === "g")
    assert(ds.date === "2000-01-01")
    assert(hex(ds.allClientsHll) === "138e40cc4860")
    assert(ds.allClientsCount === 1L)
    assert(ds.allQueriesCount === 100L)
    assert(ds.domains.keySet === Set("com"))
    assert(ds.domains("com").queries === 17L)
  }

  test("sequence roundtrip; key order independence; unknown fields skipped") {
    val two = Seq(tiny, tiny.copy(id = "u", date = "2000-01-02",
      allQueriesCount = 4294967296L)) // forces the 8-byte uint form
    val back = DnsMagCodec.decodeSeq(DnsMagCodec.encodeSeq(two))
    // case classes hold Array[Byte] (reference equality) — compare re-encoded
    assert(back.map(d => hex(DnsMagCodec.encode(d))) ===
      two.map(d => hex(DnsMagCodec.encode(d))))

    // reordered keys + an unknown field (array value) must decode identically
    val w = new Cbor.Writer
    w.mapHeader(9)
    w.text("domains"); w.mapHeader(0)
    w.text("all_queries_count"); w.uint(100)
    w.text("future_field"); w.mapHeader(1); w.text("x"); w.uint(7)
    w.text("all_clients_count"); w.uint(1)
    w.text("all_clients_hll"); w.bytes(hll1)
    w.text("date"); w.tag(1004); w.text("2000-01-01")
    w.text("generator"); w.text("g")
    w.text("id"); w.text("t")
    w.text("version"); w.uint(1)
    val ds = DnsMagCodec.decodeSeq(w.result()).head
    assert(hex(DnsMagCodec.encode(ds)) ===
      hex(DnsMagCodec.encode(tiny.copy(domains = Map.empty))))
  }

  test("unsupported dataset version is refused (dataset.go:238-247 analogue)") {
    val bad = tiny.copy(version = 2)
    val e = intercept[IllegalArgumentException] {
      DnsMagCodec.decodeSeq(DnsMagCodec.encode(bad))
    }
    assert(e.getMessage.contains("version"))
  }

  test("aggregate over CBOR files reproduces the reference fixture (est 92)") {
    import spark.implicits._
    val d1 = java.sql.Date.valueOf("2000-01-01")
    val tmp = graft.SparkTestBase.tempDir("graft_cbor").toString

    val recs1 = {
      val lines = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/test1_records.tsv")).getLines()
        .filterNot(_.startsWith("#")).toSeq
      lines.map { l => val f = l.split("\t"); (f(0), f(1), f(2).toLong) }
        .toDF("client_ip", "domain_raw", "cnt")
        .withColumn("hash", xxh3_64(truncate_ip($"client_ip")))
        .withColumn("domain", normalize_domain($"domain_raw"))
    }
    val res2 = getClass.getResource("/test2.tsv").getPath
    DnsMagCbor.write(DnsMagnitude.collect(recs1, d1), s"$tmp/t1.dnsmag")
    DnsMagCbor.write(
      DnsMagnitude.collect(RecordsCsv.read(spark, res2, tsv = true), d1),
      s"$tmp/t2.dnsmag")

    val s1 = DnsMagCbor.read(spark, s"$tmp/t1.dnsmag")
    val s2 = DnsMagCbor.read(spark, s"$tmp/t2.dnsmag")
    val rep = DnsMagnitude.report(DnsMagnitude.aggregate(Seq(s1, s2))).collect()
    assert(rep.head.getAs[Long]("totalUniqueClients") === 92L)
    assert(rep.head.getAs[Long]("totalQueryVolume") === 300L)
    assert(rep.length === 7)

    // per-domain estimates survive the CBOR hop byte-exactly
    val direct = DnsMagnitude.report(DnsMagnitude.collect(recs1, d1)).collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("uniqueClients"))).toMap
    val viaCbor = DnsMagnitude.report(s1).collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("uniqueClients"))).toMap
    assert(viaCbor === direct)

    // the decoded dataset itself carries the golden global estimate
    val ds1 = DnsMagCodec.decodeSeq(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/t1.dnsmag")))
    assert(ds1.head.allClientsCount === 70L)
    assert(ds1.head.allQueriesCount === 100L)
    assert(ds1.head.domains.view.mapValues(_.queries).toMap ===
      Map("com" -> 17L, "net" -> 20L, "org" -> 24L, "arpa" -> 16L))
  }

  test("export guard: over-cap state fails fast with an actionable error, not a driver OOM") {
    import spark.implicits._
    val d1 = java.sql.Date.valueOf("2000-01-01")
    val tmp = graft.SparkTestBase.tempDir("graft_cbor_cap").toString
    val wide = spark.range(50)
      .select(lit(d1).as("date"), concat(lit("d"), col("id")).as("domain"),
        xxh3_64(col("id").cast("string")).as("h"))
      .groupBy(col("date"), col("domain"))
      .agg(hll_build(col("h")).as("hll"), count(lit(1)).as("queries"))
    val e = intercept[IllegalArgumentException] {
      DnsMagCbor.write(wide, s"$tmp/cap.dnsmag", maxExportRows = 10)
    }
    assert(e.getMessage.contains("Truncate first"), e.getMessage)
    // at the cap it still writes fine
    DnsMagCbor.write(wide.limit(10), s"$tmp/ok.dnsmag", maxExportRows = 10)
    assert(DnsMagCbor.read(spark, s"$tmp/ok.dnsmag").count() > 0)
  }

  test("NULL-bucket residual reproduces totals when all domains are invalid") {
    val d1 = java.sql.Date.valueOf("2000-01-01")
    val tmp = graft.SparkTestBase.tempDir("graft_cbor3").toString
    val res3 = getClass.getResource("/test3.tsv").getPath
    val st = DnsMagnitude.collect(RecordsCsv.read(spark, res3, tsv = true), d1)
    DnsMagCbor.write(st, s"$tmp/t3.dnsmag")
    val back = DnsMagCbor.read(spark, s"$tmp/t3.dnsmag")
    assert(back.filter(col("domain").isNotNull).count() === 0L)
    assert(back.agg(sum(col("queries"))).collect()(0).getLong(0) === 16L)
    // global estimate identical before/after the hop
    val estA = st.agg(hll_est(hll_merge(col("hll")))).collect()(0).getLong(0)
    val estB = back.agg(hll_est(hll_merge(col("hll")))).collect()(0).getLong(0)
    assert(estA === estB)
  }
}
