package graft.pipelines

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Pages

class MagnitudeSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private lazy val pages = Pages.generateDf(spark, 20000, hosts = 300, days = 3, partitions = 8).cache()

  test("collect: per-host estimates within HLL bound of exact distinct; global row present") {
    val state = Magnitude.collect(pages, salts = 4).cache()
    val exact = pages.select(to_date($"warc_ts").as("date"),
        graft.functions.GraftFunctions.host_of_url($"url").as("host"), $"url")
      .groupBy($"date", $"host")
      .agg(countDistinct($"url").as("exact"), count(lit(1)).as("q"))

    val joined = state.filter($"host".isNotNull)
      .select($"date", $"host",
        graft.functions.GraftFunctions.hll_est($"hll").as("est"), $"queries")
      .join(exact, Seq("date", "host"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getAs[Long]("est").toDouble
      val ex = r.getAs[Long]("exact").toDouble
      assert(r.getAs[Long]("queries") === r.getAs[Long]("q"), s"row $r")
      // HLL 3-sigma + the ceil(+1) small-range bias
      assert(math.abs(est - ex) <= math.max(3 * 0.008125 * ex, 1.0), s"row $r")
    }
    // per-date totals (derived like report does) cover every input row
    val totals = state.groupBy($"date").agg(sum($"queries").as("q")).collect()
    assert(totals.length === 3)
    assert(totals.map(_.getAs[Long]("q")).sum === 20000L)
  }

  test("collect is salt-invariant and partitioning-invariant (byte-identical state)") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map { r =>
        val hex = r.getAs[Array[Byte]]("hll").map(b => f"$b%02x").mkString
        s"${r.getAs[java.sql.Date]("date")}|${r.getAs[String]("host")}|$hex|${r.getAs[Long]("queries")}"
      }.sorted.toSeq
    val a = canon(Magnitude.collect(pages, salts = 1))
    val b = canon(Magnitude.collect(pages, salts = 16))
    val c = canon(Magnitude.collect(pages.repartition(17), salts = 4))
    assert(a === b)
    assert(a === c)
  }

  test("magnitude relative error within the published HLL bound (headline metric)") {
    // exact magnitudes from count_distinct vs sketch magnitudes from report
    val exact = pages.select(to_date($"warc_ts").as("date"),
        graft.functions.GraftFunctions.host_of_url($"url").as("host"), $"url")
      .groupBy($"date", $"host").agg(countDistinct($"url").as("ex"))
    val exactTot = pages.select(to_date($"warc_ts").as("date"), $"url")
      .groupBy($"date").agg(countDistinct($"url").as("ext"))
    val rep = Magnitude.run(pages, topN = 0, salts = 1)
      .join(exact, Seq("date", "host")).join(exactTot, Seq("date"))
      .withColumn("mag_exact",
        log($"ex".cast("double")) / log($"ext".cast("double")) * 10)
      .select($"magnitude", $"mag_exact", $"ex", $"ext")
      .collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val m = r.getAs[Double]("magnitude")
      val me = r.getAs[Double]("mag_exact")
      // magnitude = 10*ln(c)/ln(T): relative HLL errors eps_c, eps_T propagate
      // as |dm| <= 10*(|eps_c|/ln T + m/10 * |eps_T|/ln T); with 3-sigma HLL
      // error (2.44%) and the +1 ceil bias at small counts, bound loosely
      val lnT = math.log(r.getAs[Long]("ext").toDouble)
      val tol = 10.0 * (0.03 + 1.0 / r.getAs[Long]("ex").toDouble) / lnT * 2
      assert(math.abs(m - me) <= math.max(tol, 0.06),
        s"mag $m vs exact $me (tol $tol, row $r)")
    }
  }

  test("report: reference ordering, magnitude formula, exact top-N") {
    val rep = Magnitude.run(pages, topN = 0, salts = 4).cache()
    val rows = rep.collect()
    // ascending (date, floor(mag*1000), host)
    val keys = rows.map(r => (r.getAs[java.sql.Date]("date").toString,
      math.floor(r.getAs[Double]("magnitude") * 1000).toLong, r.getAs[String]("host")))
    assert(keys.sameElements(keys.sorted))
    // formula
    rows.take(50).foreach { r =>
      val expect = math.log(r.getAs[Long]("unique_pages").toDouble) /
        math.log(r.getAs[Long]("total_unique_pages").toDouble) * 10
      assert(math.abs(r.getAs[Double]("magnitude") - expect) < 1e-12)
    }
    // top-N keeps the N highest magnitudes per date
    val top5 = Magnitude.report(Magnitude.collect(pages, 4), topN = 5).collect()
    assert(top5.groupBy(_.getAs[java.sql.Date]("date")).forall(_._2.length === 5))
    val allByDate = rows.groupBy(_.getAs[java.sql.Date]("date"))
    top5.groupBy(_.getAs[java.sql.Date]("date")).foreach { case (d, kept) =>
      val bestAll = allByDate(d).map(_.getAs[Double]("magnitude")).sorted.reverse.take(5).toSeq
      val keptMags = kept.map(_.getAs[Double]("magnitude")).sorted.reverse.toSeq
      assert(keptMags === bestAll, s"date $d")
    }
  }

  test("kill/resume: resumed run produces byte-identical state to single run") {
    val dir = graft.SparkTestBase.tempDir("graft_resume").toString
    // materialize 4 source files
    val srcDir = s"$dir/src"
    pages.repartition(4).write.parquet(srcDir)
    val files = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted.toSeq
    assert(files.length === 4)

    // run 1: only 2 files, simulating a mid-job kill
    Magnitude.collectResumable(spark, files.take(2), s"$dir/ckpt", salts = 4).count()
    // resume: all files; completed lineage must be skipped (verify by
    // checking partial dirs' mtimes stay untouched)
    val doneDir = new java.io.File(s"$dir/ckpt/partials/src=${Magnitude.lineageId(files.head)}")
    val mtimeBefore = doneDir.lastModified()
    val resumed = Magnitude.collectResumable(spark, files, s"$dir/ckpt", salts = 4)
    assert(doneDir.lastModified() === mtimeBefore, "completed partial was reprocessed")

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map { r =>
        val hex = r.getAs[Array[Byte]]("hll").map(b => f"$b%02x").mkString
        s"${r.getAs[java.sql.Date]("date")}|${r.getAs[String]("host")}|$hex|${r.getAs[Long]("queries")}"
      }.sorted.toSeq

    // NOTE: resumable state merges per-file states, so the global NULL-host
    // rows merge across files too — compare against single-run collect
    val single = Magnitude.aggregate(Magnitude.collect(spark.read.parquet(srcDir), salts = 4))
    assert(canon(resumed) === canon(single))
  }

  test("resumable: empty source file records zero-row lineage, no NPE") {
    val dir = graft.SparkTestBase.tempDir("graft_resume_empty").toString
    val srcDir = s"$dir/src"
    pages.limit(0).write.parquet(srcDir) // a parquet file with ZERO rows
    val files = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.nonEmpty)
    val state = Magnitude.collectResumable(spark, files, s"$dir/ckpt")
    assert(state.count() === 0L)
  }

  test("resumable: lineage listing goes through the Hadoop FS API (file: URI)") {
    val dir = graft.SparkTestBase.tempDir("graft_resume_fs").toString
    val srcDir = s"$dir/src"
    pages.repartition(2).write.parquet(srcDir)
    val files = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => s"file://${f.getAbsolutePath}").sorted.toSeq
    // checkpoint addressed by scheme-qualified URI, as on HDFS/object stores
    val ckpt = s"file://$dir/ckpt"
    Magnitude.collectResumable(spark, files.take(1), ckpt).count()
    val doneDir = new java.io.File(
      s"$dir/ckpt/partials/src=${Magnitude.lineageId(files.head)}")
    val mtimeBefore = doneDir.lastModified()
    Magnitude.collectResumable(spark, files, ckpt).count()
    assert(doneDir.lastModified() === mtimeBefore,
      "completed partial was reprocessed through the FS-API listing")
  }
}
