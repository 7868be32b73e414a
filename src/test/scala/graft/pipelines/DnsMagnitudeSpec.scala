package graft.pipelines

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.io.DnsMagCbor
import graft.sources.RecordsCsv

/** End-to-end replay of the reference CLI flows (collect -> aggregate ->
  * report) through the record-level pipeline + the CSV source, pinning the
  * reference's golden numbers and failure modes. */
class DnsMagnitudeSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath

  private val d1 = java.sql.Date.valueOf("2000-01-01")
  private val d2 = java.sql.Date.valueOf("2000-01-02")

  /** (jobs, stages run) of the Spark work that `body` starts on this
    * thread. A listener counts the jobs carrying a fresh local-property tag
    * and the completed stages of those jobs (skipped stages never complete);
    * a tagged sentinel job then fences the counts, since the bus delivers
    * events in order. */
  private def workOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.workOf"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val stagesRun = new AtomicInteger
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val fenced = new CountDownLatch(1)
    @volatile var sentinel = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(t) if t == tag =>
            jobs.incrementAndGet()
            e.stageIds.foreach(id => stageIds.add(id))
          case Some(t) if t == s"$tag:end" => sentinel = e.jobId
          case _ => ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) stagesRun.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, s"$tag:end")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (jobs.get, stagesRun.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("csv source: test2.tsv replays to 200 queries / 7 domains / est 27") {
    val recs = RecordsCsv.read(spark, res("test2.tsv"), tsv = true)
    assert(recs.filter(col("invalid")).count() === 0)
    val state = DnsMagnitude.collect(recs, d1).cache()
    assert(state.agg(sum(col("queries"))).collect()(0).getLong(0) === 200L)
    val domains = state.filter(col("domain").isNotNull).count()
    assert(domains === 7L)
    val rep = DnsMagnitude.report(state).collect()
    assert(rep.map(_.getAs[String]("domain")).toSet ===
      Set("uk", "local", "org", "arpa", "me", "net", "com"))
    assert(rep.head.getAs[Long]("totalUniqueClients") === 27L)
  }

  test("gzip csv source: test2.csv.gz replays identically to the tsv") {
    val tsv = RecordsCsv.read(spark, res("test2.tsv"), tsv = true)
    val gz = RecordsCsv.read(spark, res("test2.csv.gz"), tsv = false)
    val a = DnsMagnitude.collect(tsv, d1).collect()
      .map(r => (r.getAs[String]("domain"),
        r.getAs[Array[Byte]]("hll").map(b => f"$b%02x").mkString,
        r.getAs[Long]("queries"))).sortBy(_.toString).toSeq
    val b = DnsMagnitude.collect(gz, d1).collect()
      .map(r => (r.getAs[String]("domain"),
        r.getAs[Array[Byte]]("hll").map(b => f"$b%02x").mkString,
        r.getAs[Long]("queries"))).sortBy(_.toString).toSeq
    assert(a === b)
  }

  test("aggregate refuses sketch_state of an unknown version; legacy states count as v1") {
    import org.apache.spark.sql.functions._
    val recs = RecordsCsv.read(spark, res("test2.tsv"), tsv = true)
    val s1 = DnsMagnitude.collect(recs, d1)
    val e = intercept[IllegalArgumentException] {
      DnsMagnitude.aggregate(Seq(s1, s1.withColumn("version", lit(99L)))).collect()
    }
    assert(e.getMessage.contains("version"))
    // legacy state (no version column) merges as v1
    val legacy = s1.drop("version")
    val merged = DnsMagnitude.aggregate(Seq(s1, legacy))
    assert(merged.agg(sum(col("queries"))).collect()(0).getLong(0) === 400L)
  }

  test("chunked aggregation: no-truncation fold == exact; truncation keeps top-N, totals exact") {
    import org.apache.spark.sql.functions._
    val s1 = DnsMagnitude.collect(RecordsCsv.read(spark, res("test2.tsv"), tsv = true), d1)
    val s2 = DnsMagnitude.collect(RecordsCsv.read(spark, res("test2.tsv"), tsv = true), d1)

    def canon(df: org.apache.spark.sql.DataFrame) =
      DnsMagnitude.report(df).collect().map(r =>
        (r.getAs[String]("domain"), r.getAs[Long]("uniqueClients"),
         r.getAs[Long]("queryVolume"), r.getAs[Long]("totalUniqueClients"),
         r.getAs[Long]("totalQueryVolume"))).sortBy(_.toString).toSeq

    // topN above the domain count: chunked == exact, byte-for-byte
    assert(canon(DnsMagnitude.aggregateChunked(Seq(s1, s2), topN = 100)) ===
      canon(DnsMagnitude.aggregate(Seq(s1, s2))))

    // truncating fold: 3 domain rows survive (highest (floor(mag*1000),
    // domain)), and GLOBAL totals stay exactly those of the full merge
    val truncated = DnsMagnitude.aggregateChunked(Seq(s1, s2), topN = 3)
    val rep = DnsMagnitude.report(truncated).collect()
    assert(rep.length === 3)
    val exactRep = DnsMagnitude.report(DnsMagnitude.aggregate(Seq(s1, s2))).collect()
    assert(rep.head.getAs[Long]("totalUniqueClients") ===
      exactRep.head.getAs[Long]("totalUniqueClients"))
    assert(rep.head.getAs[Long]("totalQueryVolume") ===
      exactRep.head.getAs[Long]("totalQueryVolume"))
    // kept set = reference truncation order: last 3 of ascending order
    val expectedKept = exactRep.map(r => (math.floor(r.getAs[Double]("magnitude") * 1000),
      r.getAs[String]("domain"))).sortBy(identity).takeRight(3).map(_._2).toSet
    assert(rep.map(_.getAs[String]("domain")).toSet === expectedKept)
  }

  test("test3.tsv: garbage escaped domains count globally, no domain rows") {
    val recs = RecordsCsv.read(spark, res("test3.tsv"), tsv = true)
    val state = DnsMagnitude.collect(recs, d1)
    // everything lands in the NULL (invalid-domain) bucket
    val bucket = state.filter(col("domain").isNull).collect()(0)
    assert(bucket.getAs[Long]("queries") === 16L)
    assert(state.filter(col("domain").isNotNull).count() === 0L)
  }

  test("aggregate: test1 + test2 merges to 300 queries / 7 domains / est 92") {
    import spark.implicits._
    val recs1 = {
      val lines = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/test1_records.tsv")).getLines()
        .filterNot(_.startsWith("#")).toSeq
      import graft.functions.GraftFunctions._
      lines.map { l => val f = l.split("\t"); (f(0), f(1), f(2).toLong) }
        .toDF("client_ip", "domain_raw", "cnt")
        .withColumn("hash", xxh3_64(truncate_ip($"client_ip")))
        .withColumn("domain", normalize_domain($"domain_raw"))
    }
    val s1 = DnsMagnitude.collect(recs1, d1)
    val s2 = DnsMagnitude.collect(RecordsCsv.read(spark, res("test2.tsv"), tsv = true), d1)
    val merged = DnsMagnitude.aggregate(Seq(s1, s2))
    val rep = DnsMagnitude.report(merged).collect()
    assert(rep.head.getAs[Long]("totalUniqueClients") === 92L)
    assert(rep.head.getAs[Long]("totalQueryVolume") === 300L)
    assert(rep.length === 7)
    // reference ordering: ascending (floor(mag*1000), domain)
    val keys = rep.map(r => (math.floor(r.getAs[Double]("magnitude") * 1000).toLong,
      r.getAs[String]("domain")))
    assert(keys.sameElements(keys.sorted))
  }

  test("aggregate: date mismatch errors; forceDate overrides with one date") {
    val recs = RecordsCsv.read(spark, res("test2.tsv"), tsv = true)
    val s1 = DnsMagnitude.collect(recs, d1)
    val s2 = DnsMagnitude.collect(recs, d2)
    assertThrows[IllegalArgumentException] {
      DnsMagnitude.aggregate(Seq(s1, s2))
    }
    val forced = DnsMagnitude.aggregate(Seq(s1, s2), forceDate = Some(d1))
    val dates = forced.select(col("date")).distinct().collect()
    assert(dates.length === 1 && dates(0).getDate(0) === d1)
    // idempotent union: same clients twice -> same estimate as once
    val rep = DnsMagnitude.report(forced).collect()
    assert(rep.head.getAs[Long]("totalUniqueClients") === 27L)
    assert(rep.head.getAs[Long]("totalQueryVolume") === 400L)
  }

  test("aggregate of no states fails fast with an actionable message") {
    val e = intercept[IllegalArgumentException](DnsMagnitude.aggregate(Seq.empty))
    assert(e.getMessage.contains("at least one sketch state"), e.getMessage)
  }

  test(".dnsmag finish path: aggregate is one action, one scan; report reads only the pin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dnsmag_once").toString
    val recs = RecordsCsv.read(spark, res("test2.tsv"), tsv = true)
    DnsMagCbor.write(DnsMagnitude.collect(recs, d1), s"$dir/a.dnsmag")
    DnsMagCbor.write(DnsMagnitude.collect(recs, d2), s"$dir/b.dnsmag")
    def states = Seq(DnsMagCbor.read(spark, s"$dir/a.dnsmag"),
      DnsMagCbor.read(spark, s"$dir/b.dnsmag"))

    // One action, two stages: one scans every file and merges partially,
    // one finishes the merge. Adaptive execution submits the first as its
    // own job, and the action's job reuses its shuffle. The version and
    // date checks ride that scan, so a date mismatch costs no more work.
    val oneMerge = (2, 2)
    var agg: org.apache.spark.sql.DataFrame = null
    assert(workOf(intercept[IllegalArgumentException](DnsMagnitude.aggregate(states))) === oneMerge)
    assert(workOf { agg = DnsMagnitude.aggregate(states, forceDate = Some(d1)) } === oneMerge)
    assert(workOf { agg = DnsMagnitude.aggregate(Seq(states.head)) } === oneMerge)

    val top = DnsMagnitude.report(agg, 2500)
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchScan dnsmag"), s"report rescans the files:\n$plan")
    assert(!plan.toLowerCase.contains("rangepartitioning"), s"top-N report sorts globally:\n$plan")
    val all = DnsMagnitude.report(agg, 0)
    assert(all.queryExecution.executedPlan.toString.toLowerCase.contains("rangepartitioning"))
    // both paths: the same rows in the reference order
    val rows = top.collect().toSeq
    assert(rows === all.collect().toSeq)
    assert(rows.length === 7 && rows.head.getAs[Long]("totalUniqueClients") === 27L)
    val keys = rows.map(r => (math.floor(r.getAs[Double]("magnitude") * 1000).toLong,
      r.getAs[String]("domain")))
    assert(keys === keys.sorted)
  }

  test("report JSON matches the reference schema shape and sort") {
    val recs = RecordsCsv.read(spark, res("test2.tsv"), tsv = true)
    val state = DnsMagnitude.collect(recs, d1)
    val docs = DnsMagnitude.reportJson(state, source = "test2", sourceType = "recursive")
    assert(docs.length === 1)
    val j = docs.head
    for (k <- Seq("\"id\":", "\"generator\":", "\"date\":\"2000-01-01\"",
        "\"source\":\"test2\"", "\"sourceType\":\"recursive\"",
        "\"totalUniqueClients\":27", "\"totalQueryVolume\":200,",
        "\"magnitudeData\":[", "\"domain\":", "\"magnitude\":",
        "\"uniqueClients\":", "\"queryVolume\":"))
      assert(j.contains(k), s"missing $k in $j")
    // parseable by a JSON parser? cheap sanity: balanced braces/brackets
    assert(j.count(_ == '{') === j.count(_ == '}'))
    assert(j.count(_ == '[') === j.count(_ == ']'))
    assertThrows[IllegalArgumentException] {
      DnsMagnitude.reportJson(state, "x", "bogus-type")
    }
    // stats view renders
    val txt = DnsMagnitude.statsText(state)
    assert(txt.contains("Total queries: 200"))
  }

  test("report JSON conforms to the reference JSON Schema (types/required/bounds)") {
    // structural validation against /root/reference/schema/report-schema.yaml
    // (the reference ships tools/validate-report.py for the same purpose):
    // required fields (yaml:4-7), date pattern (yaml:17), sourceType enum
    // (yaml:30-32), non-negative totals (yaml:33-44), magnitudeData items
    // with required domain+magnitude and 0<=magnitude<=10 (yaml:54-67),
    // uniqueItems (yaml:47). Parsed with a real JSON parser, not substring
    // checks. The magnitude scalar is unclamped by design (reference quirk);
    // on any self-consistent dataset it satisfies the schema bound because
    // no domain can have more unique clients than the total.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val recs1 = RecordsCsv.read(spark, res("test2.tsv"), tsv = true)
    // a two-date state (one report document per date) is a plain union
    val multi = DnsMagnitude.collect(recs1, d1)
      .unionByName(DnsMagnitude.collect(recs1, d2))
    val docs = DnsMagnitude.reportJson(multi, source = "test2", sourceType = "recursive")
    assert(docs.length === 2, "one report document per date")
    docs.foreach { doc =>
      val n = mapper.readTree(doc)
      for (f <- Seq("date", "source", "magnitudeData")) // required, yaml:4-7
        assert(n.has(f), s"required field $f")
      assert(n.get("date").isTextual &&
        n.get("date").asText.matches("""\d{4}-\d{2}-\d{2}"""))
      java.util.UUID.fromString(n.get("id").asText) // uuid format, yaml:12
      assert(n.get("generator").isTextual)
      assert(n.get("source").isTextual)
      assert(Set("authoritative", "recursive")(n.get("sourceType").asText))
      for (f <- Seq("totalUniqueClients", "totalQueryVolume")) {
        assert(n.get(f).isNumber, s"$f numeric")
        assert(n.get(f).asDouble >= 0, s"$f >= 0")
      }
      val md = n.get("magnitudeData")
      assert(md.isArray && md.size > 0)
      val seen = scala.collection.mutable.Set[String]()
      md.forEach { item =>
        assert(item.has("domain") && item.get("domain").isTextual)
        assert(item.has("magnitude") && item.get("magnitude").isNumber)
        val mag = item.get("magnitude").asDouble
        assert(mag >= 0 && mag <= 10, s"magnitude bound: $mag")
        for (f <- Seq("uniqueClients", "queryVolume"))
          if (item.has(f)) assert(item.get(f).isNumber && item.get(f).asDouble >= 0)
        assert(seen.add(item.toString), "uniqueItems (yaml:47)")
      }
    }
  }

  test("header-row heuristic: 'ip,domain,queries' first line silently dropped") {
    val tmp = java.nio.file.Files.createTempFile("hdr", ".csv")
    java.nio.file.Files.writeString(tmp,
      "ip,domain,queries\n192.168.1.1,com,5\n192.168.1.2,org,3\n")
    val recs = RecordsCsv.read(spark, tmp.toString)
    assert(recs.count() === 2)
    val state = DnsMagnitude.collect(recs, d1)
    assert(state.agg(sum(col("queries"))).collect()(0).getLong(0) === 8L)
  }

  test("zero-count rows vanish; negative counts flagged invalid") {
    val tmp = java.nio.file.Files.createTempFile("cnts", ".csv")
    java.nio.file.Files.writeString(tmp,
      "192.168.1.1,com,5\n192.0.2.12,net,0\n192.168.1.3,org,-2\n192.168.1.4,me\n")
    val recs = RecordsCsv.read(spark, tmp.toString)
    val rows = recs.collect()
    assert(!rows.exists(_.getAs[String]("client_ip") == "192.0.2.12")) // zero dropped
    assert(rows.count(_.getAs[Boolean]("invalid")) === 1)              // negative flagged
    assert(rows.find(_.getAs[String]("client_ip") == "192.168.1.4")
      .get.getAs[Long]("cnt") === 1L)                                  // default 1
  }
}
