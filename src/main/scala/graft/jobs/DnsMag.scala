package graft.jobs

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Plans
import graft.pipelines.DnsMagnitude
import graft.sources.RecordsCsv

/**
 * spark-submit entry point mirroring the reference CLI
 * (/root/reference/app/cmd/root.go: collect | aggregate | report | view) so
 * a dnsmag user can switch commands 1:1:
 *
 *   spark-submit --class graft.jobs.DnsMag engine.jar \
 *     collect  --input x.csv[.gz] [--tsv] --date 2000-01-01 --output state/
 *     aggregate --input stateA/ --input stateB/ [--force-date 2000-01-01] --output merged/
 *     report   --input merged/ --source NAME --source-type authoritative|recursive \
 *              [--top 2500] --output report.json
 *     view     --input merged/ [--top 20]
 *
 * State travels as the sketch_state parquet table (date, domain, hll,
 * queries) — same mergeable content, cluster-readable layout (SURVEY.md
 * §2.1 S6/S7 mapping). Paths ending in `.dnsmag` are read/written as the
 * reference's CBOR dataset files instead ([[graft.io.DnsMagCbor]]), so
 * state interchanges 1:1 with existing dnsmag deployments.
 *
 * `--input -` reads that input from stdin (records for collect, a CBOR
 * dataset sequence for aggregate/report/view), spooled to a driver-local
 * temp file — the reference CLI's convention (cmd/common.go:38-65).
 * Collect inputs route to the pcap or csv reader by MAGIC BYTES of the
 * first file, not by extension.
 *
 * `collect`, `aggregate` and `report` each print one JSON line of run
 * stats on stderr, read off what the run already holds on the driver (no
 * extra job): `collect` its records, invalid records, records/s and
 * elapsed seconds; `aggregate` its inputs, the state rows they held, the
 * rows out and elapsed seconds (the counts are null for one non-local
 * `--chunked` input, which passes through unmerged); `report` its dates,
 * the rows reported and elapsed seconds.
 */
object DnsMag {

  private def readState(spark: SparkSession, path: String) =
    if (path.endsWith(".dnsmag")) graft.io.DnsMagCbor.read(spark, path)
    else spark.read.parquet(path)

  // report (and the text view) plan a per-domain and a totals branch over
  // the state: pin a .dnsmag one read through the scan (bounded by domains
  // x dates) so its CBOR decode runs once. A small .dnsmag is already local
  // and reports on the driver; a parquet state is cheaper to scan twice
  // than to pin.
  private def readStatePinned(spark: SparkSession, path: String) =
    pinForReport(readState(spark, path), path)

  /** `state`, read from `path`, as report and view take it. */
  private[graft] def pinForReport(state: DataFrame, path: String): DataFrame =
    if (path.endsWith(".dnsmag") && !state.isLocal) Plans.pin(state, "DnsMag state").df
    else state

  /** `-` = read this input from stdin, the reference CLI convention
    * (/root/reference/cmd/common.go:38-65). A cluster engine needs a file
    * executor tasks can open, so stdin spools to a driver-local temp file;
    * `baseSuffix` matches the extension-routed readers (".dnsmag" for state,
    * ".csv" for records) and a gzip magic appends ".gz" so the csv reader
    * decompresses. */
  private[graft] def spoolStdin(in: java.io.InputStream, baseSuffix: String): String = {
    val tmp = java.nio.file.Files.createTempFile("graft_stdin_", ".spool")
    tmp.toFile.deleteOnExit() // spool files must not leak disk in long-lived drivers
    val out = java.nio.file.Files.newOutputStream(tmp)
    try in.transferTo(out) finally out.close()
    val head = {
      val s = java.nio.file.Files.newInputStream(tmp)
      try s.readNBytes(2) finally s.close()
    }
    val gz = head.length == 2 && (head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b
    if (gz && baseSuffix == ".dnsmag") {
      // the CBOR reader has no gzip path — decompress the spool so a
      // `cat state.dnsmag.gz | ... --input -` pipeline just works
      val named = tmp.resolveSibling(tmp.getFileName.toString.stripSuffix(".spool") + baseSuffix)
      named.toFile.deleteOnExit() // the decompressed copy must not leak either
      val gin = new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(tmp))
      val out2 = java.nio.file.Files.newOutputStream(named)
      try gin.transferTo(out2) finally { gin.close(); out2.close() }
      java.nio.file.Files.delete(tmp)
      named.toString
    } else {
      val suffix = baseSuffix + (if (gz) ".gz" else "")
      val named = tmp.resolveSibling(tmp.getFileName.toString.stripSuffix(".spool") + suffix)
      named.toFile.deleteOnExit() // deleteOnExit tracks paths: re-register the moved name
      java.nio.file.Files.move(tmp, named)
      named.toString
    }
  }

  private def resolveStateInput(path: String): String =
    if (path == "-") spoolStdin(System.in, ".dnsmag") else path

  // classic pcap (both endiannesses, micro+nano) and pcapng SHB magics
  private val PcapMagics =
    Set(0xd4c3b2a1, 0xa1b2c3d4, 0x4d3cb2a1, 0xa1b23c4d, 0x0a0d0d0a)

  private def isPcapMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && PcapMagics.contains(
      ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) | ((b(2) & 0xff) << 8) | (b(3) & 0xff))

  /** Route collect input by CONTENT, not extension: read the first file's
    * magic bytes (through gzip if needed) — .pcapng/.cap captures and
    * oddly-named files all land on the right reader instead of silently
    * falling through to the CSV parser. */
  private[graft] def sniffPcap(spark: SparkSession, input: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(input)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val first = matched
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).filter(_.isFile) else Array(s))
      .sortBy(_.getPath.getName).headOption
    first.exists { st =>
      val in = fs.open(st.getPath)
      try {
        val head = new Array[Byte](4)
        // readFully: a single read() may legally return < 4 bytes on
        // remote stores; EOF (< 4-byte file) means "not a capture"
        in.readFully(head)
        if ((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b) {
          in.seek(0)
          isPcapMagic(new java.util.zip.GZIPInputStream(in).readNBytes(4))
        } else isPcapMagic(head)
      } catch { case _: java.io.IOException => false }
      finally in.close()
    }
  }

  private def writeState(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    if (path.endsWith(".dnsmag")) graft.io.DnsMagCbor.write(df, path)
    else df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Seconds since `start` (a `System.nanoTime`). */
  private def elapsed(start: Long): Double = (System.nanoTime() - start) / 1e9

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private def args2(args: Array[String], name: String): Seq[String] =
    args.zipWithIndex.filter(_._1 == name).flatMap { case (_, i) =>
      if (i + 1 < args.length) Some(args(i + 1)) else None
    }.toSeq

  def main(argv: Array[String]): Unit = {
    require(argv.nonEmpty, "usage: DnsMag collect|aggregate|report|view ...")
    val spark = graft.GraftSession.cluster(s"dnsmag-${argv(0)}")
    try run(spark, argv)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, argv: Array[String]): Unit = {
    val cmd = argv(0)
    val rest = argv.drop(1)
    cmd match {
      case "collect" =>
        val input0 = arg(rest, "--input").getOrElse(sys.error("--input required"))
        val out = arg(rest, "--output").getOrElse(sys.error("--output required"))
        val input = if (input0 == "-") spoolStdin(System.in, ".csv") else input0
        val isPcap = sniffPcap(spark, input)
        val recs =
          if (isPcap) graft.sources.RecordsPcap.read(spark, input)
          else RecordsCsv.read(spark, input, tsv = rest.contains("--tsv"))
        val date = arg(rest, "--date").map(java.sql.Date.valueOf).getOrElse {
          // pcap carries packet timestamps: like the reference, default the
          // dataset date from the capture itself (earliest packet's UTC day,
          // pcap.go:36-41); CSV has no timestamps, so --date stays required.
          // Deriving the default costs ONE extra decode pass over the
          // capture (an aggregate can't feed a literal of its own plan) —
          // pass --date explicitly to skip it on big captures.
          if (!isPcap)
            sys.error("--date YYYY-MM-DD required for csv/tsv (no wall-clock defaults in jobs)")
          val d = recs.agg(min(to_date(col("ts"))).as("d"))
            .collect()(0).getAs[java.sql.Date]("d")
          if (d == null)
            sys.error(s"empty capture: $input has no decodable DNS records " +
              "to derive the dataset date from (pass --date explicitly)")
          d
        }
        // reference semantics: invalid records (negative count, bad IP past
        // the header heuristic) abort the collect
        // (/root/reference/internal/csv.go:98-110 returns an error). The
        // record and invalid counts ride the SAME scan as the aggregation
        // via observe() — a separate pre-count doubles input IO at every
        // scale — so the check runs after the write and uncommits the
        // output on failure.
        val obs = Observation("graft_records")
        val observed = recs.observe(obs, count(lit(1)).as("records"),
          coalesce(sum(when(col("invalid"), 1L).otherwise(0L)), lit(0L)).as("bad"))
        val start = System.nanoTime()
        writeState(DnsMagnitude.collect(observed, date), out)
        val took = elapsed(start)
        val seen = obs.get
        val (records, bad) = (seen("records").asInstanceOf[Long], seen("bad").asInstanceOf[Long])
        // run stats, the reference collector's records/s counter
        System.err.println(f"""{"records":$records,"invalid":$bad,""" +
          f""""records_per_sec":${records / took}%.1f,"elapsed_s":$took%.3f}""")
        if (bad > 0 && !rest.contains("--skip-invalid")) {
          val p = new org.apache.hadoop.fs.Path(out)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          sys.error(s"$bad invalid record(s) in $input (pass --skip-invalid to drop them)")
        }

      case "aggregate" =>
        val inputs = args2(rest, "--input")
        require(inputs.nonEmpty, "--input required (repeatable)")
        // stdin can only be consumed once: a second '-' would silently
        // spool an empty stream and merge a vacuous state
        require(inputs.count(_ == "-") <= 1, "--input - may appear at most once")
        val out = arg(rest, "--output").getOrElse(sys.error("--output required"))
        val force = arg(rest, "--force-date").map(java.sql.Date.valueOf)
        val start = System.nanoTime()
        val states = inputs.map(p => readState(spark, resolveStateInput(p)))
        // default: exact order-free merge; --chunked replays the reference
        // CLI's sequential fold with between-chunk --top truncation
        val merged =
          if (rest.contains("--chunked"))
            DnsMagnitude.mergeChunked(states,
              topN = arg(rest, "--top").map(_.toInt).getOrElse(2500), forceDate = force)
          else DnsMagnitude.merge(states, forceDate = force)
        writeState(merged.state, out)
        def json(n: Option[Long]) = n.fold("null")(_.toString)
        System.err.println(f"""{"inputs":${inputs.length},""" +
          s""""state_rows_in":${json(merged.rowsIn)},"rows_out":${json(merged.rowsOut)},""" +
          f""""elapsed_s":${elapsed(start)}%.3f}""")

      case "report" =>
        val input = arg(rest, "--input").getOrElse(sys.error("--input required"))
        val out = arg(rest, "--output").getOrElse(sys.error("--output required"))
        val source = arg(rest, "--source").getOrElse(sys.error("--source required"))
        val st = arg(rest, "--source-type").getOrElse(sys.error("--source-type required"))
        val top = arg(rest, "--top").map(_.toInt).getOrElse(2500)
        val start = System.nanoTime()
        val report = DnsMagnitude.reportDocs(
          readStatePinned(spark, resolveStateInput(input)), source, st, top)
        // Hadoop FS write: report files land on HDFS/object stores too
        val p = new org.apache.hadoop.fs.Path(out)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val os = fs.create(p, true)
        try os.write((report.docs.mkString("\n") + "\n").getBytes("UTF-8"))
        finally os.close()
        System.err.println(f"""{"dates":${report.docs.length},"rows":${report.rows},""" +
          f""""elapsed_s":${elapsed(start)}%.3f}""")

      case "view" =>
        val input = arg(rest, "--input").getOrElse(sys.error("--input required"))
        val top = arg(rest, "--top").map(_.toInt).getOrElse(20)
        val in = resolveStateInput(input)
        // scalastyle:off println — the view command's purpose is stdout
        if (rest.contains("--json"))
          println(DnsMagnitude.statsJson(readState(spark, in)))
        else
          println(DnsMagnitude.statsText(readStatePinned(spark, in), top))

      case other => sys.error(s"unknown command '$other' (collect|aggregate|report|view)")
    }
  }
}
