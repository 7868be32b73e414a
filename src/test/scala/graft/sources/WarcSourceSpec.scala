package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.warc.WarcParser

/** WARC ingestion: spec-layout parser cases (CRLF/LF, gzip member-per-
  * record, HTTP header strip, corrupt-length guard), the DataSource V2
  * read path with per-file partitions and payload-skipping column
  * pruning, and the WARC -> pages-table head of the pipeline. */
class WarcSourceSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def httpPayload(body: String, ctype: String = "text/html"): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
      s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n" + body).getBytes("UTF-8")

  private def record(i: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    WarcParser.writeRecord(out, "response", Seq(
      "WARC-Record-ID" -> s"<urn:uuid:rec-$i>",
      "WARC-Target-URI" -> s"https://example$i.org/page",
      "WARC-Date" -> f"2024-03-01T10:${i % 60}%02d:00Z",
      "Content-Type" -> "application/http; msgtype=response"),
      httpPayload(s"<html><body><p>page $i says hello world</p></body></html>"))
    out.toByteArray
  }

  private def warcinfo(): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    WarcParser.writeRecord(out, "warcinfo",
      Seq("WARC-Record-ID" -> "<urn:uuid:info>", "Content-Type" -> "application/warc-fields"),
      "software: graft-test\r\n".getBytes("UTF-8"))
    out.toByteArray
  }

  private lazy val warcDir: String = {
    val dir = graft.SparkTestBase.tempDir("graft_warc").toString
    // plain file: warcinfo + 3 responses
    val plain = new ByteArrayOutputStream()
    plain.write(warcinfo())
    (0 until 3).foreach(i => plain.write(record(i)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"), plain.toByteArray)
    // canonical .warc.gz: one gzip MEMBER per record, concatenated
    // (close() releases each member's native Deflater; ByteArrayOutputStream
    // close is a no-op so the buffer survives)
    val gz = new ByteArrayOutputStream()
    (3 until 7).foreach { i =>
      val m = new GZIPOutputStream(gz)
      m.write(record(i)); m.close()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.warc.gz"), gz.toByteArray)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_SUCCESS"), "")
    dir
  }

  test("parser: records round-trip; LF tolerance; http header strip; guards") {
    val all = WarcParser.records(new java.io.ByteArrayInputStream(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$warcDir/a.warc")))).toSeq
    assert(all.map(_.warcType) === Seq("warcinfo", "response", "response", "response"))
    assert(all(1).url === "https://example0.org/page")
    assert(all(1).dateMicros.isDefined)
    assert(new String(WarcParser.httpBody(all(1).payload), "UTF-8")
      .startsWith("<html><body><p>page 0"))
    // resource-style payload (no HTTP preamble) passes through untouched
    assert(new String(WarcParser.httpBody("plain bytes".getBytes("UTF-8")), "UTF-8")
      === "plain bytes")
    // bare-LF header lines parse too
    val lf = ("WARC/1.0\nWARC-Type: metadata\nContent-Length: 2\n\nhi\n\n").getBytes("UTF-8")
    val lfRec = WarcParser.records(new java.io.ByteArrayInputStream(lf)).toSeq
    assert(lfRec.map(r => (r.warcType, new String(r.payload, "UTF-8"))) === Seq(("metadata", "hi")))
    // corrupt Content-Length fails fast instead of allocating
    val bad = ("WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 999999999999\r\n\r\n").getBytes("UTF-8")
    val e = intercept[java.io.IOException](
      WarcParser.records(new java.io.ByteArrayInputStream(bad)).toSeq)
    assert(e.getMessage.contains("Content-Length"))
    // payload skipping keeps the true length and still walks the stream
    val skipped = WarcParser.records(new java.io.ByteArrayInputStream(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$warcDir/a.warc"))),
      keepPayload = false).toSeq
    assert(skipped.map(_.warcType) === all.map(_.warcType))
    assert(skipped.map(_.contentLength) === all.map(_.contentLength))
    assert(skipped.forall(_.payload.isEmpty))
  }

  test("parser: folded headers, earliest header terminator, structural length cap") {
    // spec-valid folded (continuation) header lines join with a space
    val folded = ("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: https://x\r\n" +
      " example/long/path\r\nContent-Length: 2\r\n\r\nok\r\n\r\n").getBytes("UTF-8")
    val fr = WarcParser.records(new java.io.ByteArrayInputStream(folded)).toSeq
    assert(fr.head.url === "https://x example/long/path")
    // bare-LF HTTP headers over a CRLF body: the EARLIEST terminator wins —
    // a CRLFCRLF-first scan would split inside the body and drop its front
    val mixed = ("HTTP/1.1 200 OK\nContent-Type: text/html\n\n" +
      "line one\r\n\r\nline two").getBytes("UTF-8")
    assert(new String(WarcParser.httpBody(mixed), "UTF-8") === "line one\r\n\r\nline two")
    // raising maxRecordBytes past 2 GiB must not defeat the byte[] cap
    val big = ("WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 3000000000\r\n\r\n").getBytes("UTF-8")
    val e = intercept[java.io.IOException](WarcParser.records(
      new java.io.ByteArrayInputStream(big), maxRecordBytes = 8L << 30).toSeq)
    assert(e.getMessage.contains("Content-Length"))
  }

  test("parser: header-line cap fails fast on LF-less binary; type pushdown skips payloads") {
    // a binary/non-WARC input with no LF must not buffer the whole file
    // into one "line" before the version-line check fires
    val junk = new Array[Byte](128 << 10) // 128 KiB, no LF anywhere
    java.util.Arrays.fill(junk, 'W'.toByte)
    val e = intercept[java.io.IOException](
      WarcParser.records(new java.io.ByteArrayInputStream(junk)).toSeq)
    assert(e.getMessage.contains("header line"), e.getMessage)
    // pushed-down type filter: only matching records emitted, their
    // payloads intact; stream position stays correct across skipped bodies
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$warcDir/a.warc"))
    val resp = WarcParser.records(new java.io.ByteArrayInputStream(bytes),
      typeFilter = _.equalsIgnoreCase("response")).toSeq
    assert(resp.map(_.warcType) === Seq("response", "response", "response"))
    assert(resp.forall(r => r.payload.length == r.contentLength))
    assert(new String(WarcParser.httpBody(resp.head.payload), "UTF-8")
      .startsWith("<html><body><p>page 0"))
    // filter composes with payload skipping (metadata-only pruned scan)
    val skimmed = WarcParser.records(new java.io.ByteArrayInputStream(bytes),
      keepPayload = false, typeFilter = _ == "warcinfo").toSeq
    assert(skimmed.map(_.warcType) === Seq("warcinfo"))
    assert(skimmed.head.payload.isEmpty && skimmed.head.contentLength > 0)
  }

  test("format(\"warc\"): dir read, gzip members, per-file partitions, type filter") {
    val df = spark.read.format("warc").load(warcDir)
    assert(df.rdd.getNumPartitions === 2, "one partition per WARC file")
    val rows = df.collect()
    assert(rows.length === 8, "warcinfo + 7 responses across plain and gz")
    val resp = spark.read.format("warc").option("types", "response").load(warcDir)
      .orderBy("url").collect()
    assert(resp.length === 7)
    assert(resp.map(_.getAs[String]("url")).toSeq ===
      (0 until 7).map(i => s"https://example$i.org/page"))
    assert(resp.forall(_.getAs[java.sql.Timestamp]("warc_ts") != null))
    assert(resp.forall(r => new String(r.getAs[Array[Byte]]("payload"), "UTF-8")
      .startsWith("HTTP/1.1 200 OK")))
  }

  test("column pruning skips payload bytes; content_length stays true") {
    val df = spark.read.format("warc").option("types", "response").load(warcDir)
    val meta = df.select($"url", $"content_length")
    val scanLine = "BatchScan warc[^\n]*".r
      .findFirstIn(meta.queryExecution.executedPlan.toString).getOrElse("")
    assert(!scanLine.contains("payload"), s"payload must be pruned: $scanLine")
    val lens = meta.collect().map(_.getAs[Long]("content_length"))
    assert(lens.length === 7 && lens.forall(_ > 100), "true lengths without payload")
  }

  test("warc WRITE: pages round-trip byte-exact; overwrite truncates; guards") {
    val dir = graft.SparkTestBase.tempDir("graft_warc_w").toString + "/out"
    val pages = (0 until 40).map(i =>
      (s"https://w$i.example/p", java.sql.Timestamp.valueOf(f"2024-02-01 10:00:${i % 60}%02d"),
        s"<html>export doc $i</html>".getBytes("UTF-8"), "text/html"))
      .toDF("url", "warc_ts", "html", "content_type").repartition(3)
    pages.write.format("warc").mode("append").save(dir)
    // ignore Hadoop local-FS .crc sidecars (hidden; the reader skips them)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.contains("_SUCCESS"))
    // per-job temp subdir swept on commit (and the shared parent pruned
    // when no other job is in flight)
    assert(!new java.io.File(s"$dir/_temporary_warc").exists() ||
      new java.io.File(s"$dir/_temporary_warc").listFiles().isEmpty,
      "batch commit must sweep its job temp subdir")
    assert(files.count(_.startsWith("part-")) >= 1 &&
      files.forall(f => f == "_SUCCESS" || f.endsWith(".warc.gz")), files.toSeq.toString)
    // read back through the same format: byte-exact payloads, ts/ct kept
    val back = spark.read.format("warc").load(dir)
    val rows = back.orderBy("url").collect()
    assert(rows.length === 40)
    assert(rows.forall(_.getAs[String]("warc_type") === "resource"))
    val got = rows.map(r => (r.getAs[String]("url"),
      new String(r.getAs[Array[Byte]]("payload"), "UTF-8"),
      r.getAs[String]("content_type"), r.getAs[java.sql.Timestamp]("warc_ts")))
    val want = pages.orderBy("url").collect().map(r => (r.getAs[String]("url"),
      new String(r.getAs[Array[Byte]]("html"), "UTF-8"),
      "text/html", r.getAs[java.sql.Timestamp]("warc_ts")))
    assert(got.toSeq === want.toSeq)
    // pages() reads an export back identically (resource records pass
    // the payload through untouched)
    assert(WarcDataSource.pages(spark, dir).count() === 40)
    // overwrite truncates previous parts
    pages.limit(5).repartition(1).write.format("warc").mode("overwrite").save(dir)
    assert(spark.read.format("warc").load(dir).count() === 5)
    // micro-precision timestamps round-trip exactly (WARC-Date written
    // with the fractional second; whole seconds keep the canonical form)
    val microTs = java.sql.Timestamp.valueOf("2024-02-01 10:00:00.123456")
    val mdir = dir + "_micro"
    Seq(("https://m.example/p", microTs, "m".getBytes("UTF-8")))
      .toDF("url", "warc_ts", "html").write.format("warc").mode("append").save(mdir)
    assert(spark.read.format("warc").load(mdir).collect()(0)
      .getAs[java.sql.Timestamp]("warc_ts") === microTs)
    // a crawl-dirty url with an embedded newline cannot corrupt the
    // archive: control chars collapse to spaces, the file stays readable
    val ndir = dir + "_nl"
    Seq(("https://x.example/a\nb", microTs, "n".getBytes("UTF-8")))
      .toDF("url", "warc_ts", "html").write.format("warc").mode("append").save(ndir)
    assert(spark.read.format("warc").load(ndir).collect()(0)
      .getAs[String]("url") === "https://x.example/a b")
    // overwrite truncates EVERY visible archive, not just part-named
    // files — stale records must not survive into the new export
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$warcDir/b.warc.gz"),
      java.nio.file.Paths.get(s"$dir/segment-legacy.warc.gz"))
    pages.limit(2).write.format("warc").mode("overwrite").save(dir)
    assert(spark.read.format("warc").load(dir).count() === 2,
      "no stale records after overwrite")
    // an exported document that BEGINS with the bytes 'HTTP' comes back
    // untouched through pages() (resource records are never header-stripped)
    val hdir = dir + "_http"
    val tricky = "HTTP is a protocol\r\n\r\nIt was designed in the 90s"
    Seq(("https://t.example/doc", microTs, tricky.getBytes("UTF-8")))
      .toDF("url", "warc_ts", "html").write.format("warc").mode("append").save(hdir)
    assert(new String(WarcDataSource.pages(spark, hdir).collect()(0)
      .getAs[Array[Byte]]("html"), "UTF-8") === tricky)
    // ambiguous payload columns rejected
    val e0 = intercept[Exception](
      Seq(("u", "a".getBytes("UTF-8"), "b".getBytes("UTF-8")))
        .toDF("url", "payload", "html").write.format("warc").mode("append")
        .save(dir + "_amb"))
    assert(e0.getMessage.contains("BOTH"), e0.getMessage)
    // NULL url/payload fail fast instead of silently dropping export rows
    val bad = Seq((null.asInstanceOf[String], "x".getBytes("UTF-8")))
      .toDF("url", "payload")
    val e = intercept[Exception](
      bad.write.format("warc").mode("append")
        .save(dir + "_bad"))
    assert(e.getMessage != null)
    // missing payload column fails at planning
    val e2 = intercept[Exception](
      Seq(("u", 1L)).toDF("url", "x").write.format("warc").mode("append")
        .save(dir + "_bad2"))
    assert(e2.getMessage.toLowerCase.contains("payload") ||
      e2.getMessage.toLowerCase.contains("binary"), e2.getMessage)
  }

  test("warc write: stale crash leftovers reclaimed at commit, live jobs untouched") {
    import java.nio.file.{Files, Paths}
    val dir = graft.SparkTestBase.tempDir("graft_warc_stale").toString + "/out"
    // plant a DEAD job's temp subdir (25h-old entries — a driver that died
    // without abort) and a LIVE one (fresh mtimes — a concurrent job)
    Files.createDirectories(Paths.get(s"$dir/_temporary_warc/deadjob"))
    Files.write(Paths.get(s"$dir/_temporary_warc/deadjob/part"), "x".getBytes)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 25L * 3600 * 1000)
    Files.setLastModifiedTime(Paths.get(s"$dir/_temporary_warc/deadjob/part"), old)
    Files.setLastModifiedTime(Paths.get(s"$dir/_temporary_warc/deadjob"), old)
    Files.createDirectories(Paths.get(s"$dir/_temporary_warc/livejob"))
    Files.write(Paths.get(s"$dir/_temporary_warc/livejob/part"), "y".getBytes)
    Seq(("https://s.example/p", "b".getBytes)).toDF("url", "html")
      .write.format("warc").mode("append").save(dir)
    assert(!new java.io.File(s"$dir/_temporary_warc/deadjob").exists(),
      "25h-old crash leftover must be reclaimed at commit")
    assert(new java.io.File(s"$dir/_temporary_warc/livejob/part").exists(),
      "a concurrent job's fresh temp files must survive")
  }

  test("warc STREAMING sink: filtered crawl stream exports to archives per epoch") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = graft.SparkTestBase.tempDir("graft_warc_ss").toString
    val sinkDir = srcDir + "/sink"
    val ckpt = srcDir + "/ckpt"
    val pages = (0 until 30).map(i =>
      (s"https://s$i.example/p", java.sql.Timestamp.valueOf(f"2024-02-02 09:00:${i % 60}%02d"),
        s"<html>stream doc $i</html>".getBytes("UTF-8")))
      .toDF("url", "warc_ts", "html")
    pages.filter($"url" < "https://s2").write.parquet(s"$srcDir/in/c=0")
    pages.filter($"url" >= "https://s2").write.parquet(s"$srcDir/in/c=1")
    val q = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/in/c=*")
      .filter(length($"html") > 0)
      .writeStream.format("warc").option("path", sinkDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val back = spark.read.format("warc").load(sinkDir).orderBy("url").collect()
    assert(back.length === 30)
    assert(back.map(_.getAs[String]("url")).toSeq ===
      pages.orderBy("url").collect().map(_.getAs[String]("url")).toSeq)
    assert(back.forall(r => new String(r.getAs[Array[Byte]]("payload"), "UTF-8")
      .startsWith("<html>stream doc")))
    // per-epoch part FILES (the temp dir itself stays — deleting it
    // wholesale could race in-flight writers of a later epoch), no
    // leftover temp files
    val files = new java.io.File(sinkDir).listFiles().filter(_.isFile)
      .map(_.getName).filterNot(_.startsWith("."))
    assert(files.forall(f => f.startsWith("part-e") && f.endsWith(".warc.gz")),
      files.toSeq.toString)
    assert(!new java.io.File(s"$sinkDir/_temporary_warc").exists() ||
      new java.io.File(s"$sinkDir/_temporary_warc").listFiles().isEmpty)
  }

  test("WARC -> pages table head: url/ts/html/text, header block stripped") {
    val pages = WarcDataSource.pages(spark, warcDir).orderBy("url").collect()
    assert(pages.length === 7)
    val p0 = pages(0)
    assert(p0.getAs[String]("url") === "https://example0.org/page")
    assert(new String(p0.getAs[Array[Byte]]("html"), "UTF-8").startsWith("<html>"))
    assert(p0.getAs[String]("text").contains("page 0 says hello world"),
      s"extracted text: ${p0.getAs[String]("text")}")
    // the pages head feeds the magnitude pipeline directly
    val state = graft.pipelines.Magnitude.collect(
      WarcDataSource.pages(spark, warcDir).withColumn("warc_ts",
        coalesce($"warc_ts", lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))))
    assert(state.count() > 0)
  }
}
