package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import graft.functions.GraftFunctions._
import graft.pipelines.DnsMagnitude

/** ScalaCheck properties of the CSV record source and the two paths of
  * `DnsMagnitude.collect`, over record files that mix v4 and v6 addresses
  * and invalid IPs, header-shaped first lines, `#` comments, leading
  * whitespace, tab separators, quotes and short rows, empty, zero,
  * negative and non-numeric counts, `\DDD`/`\xHH` escapes and root or
  * invalid domains:
  *  - `RecordsCsv.read` gives the rows and schema of the Column expressions
  *    it replaced, kept verbatim below as the oracle;
  *  - `collect` (the driver merge of small inputs) gives the schema and
  *    rows of `collectByPlan`, HLL bytes equal, over those files and over
  *    parquet record frames of any shape: with or without an `invalid`
  *    column (true, false or NULL), NULL hashes, domains and counts, root
  *    "." domains, columns in any order and extra columns. */
object RecordsPropertySpec extends Properties("records-csv") {

  // every case runs a few plans on Spark
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private lazy val spark = graft.SparkTestBase.spark
  private lazy val dir = graft.SparkTestBase.tempDir("graft_records_prop")
  private val date = java.sql.Date.valueOf("2000-01-01")

  /** The parent's `RecordsCsv.read`, verbatim: the oracle. */
  private def oracleRead(spark: SparkSession, path: String, tsv: Boolean = false): DataFrame = {
    val raw = spark.read
      .schema(RecordsCsv.schema)
      .option("comment", "#")
      .option("sep", if (tsv) "\t" else ",")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

    val cntStr = trim(col("count_field"))
    // ANSI mode: guard the cast so non-numeric counts yield NULL, not error
    val parsedCnt = when(cntStr.rlike("^-?[0-9]+$"), cntStr.cast("long"))
      .otherwise(lit(null).cast("long"))
    val headerRow =
      // The reference drops only a FILE'S FIRST line when it looks like a
      // header. A distributed CSV scan has no row position, so the proxy is
      // deliberately narrow: the ip field must contain NO digit at all
      // (header names like "ip"/"client_ip" qualify; corrupt real
      // addresses virtually always contain digits and stay visible via the
      // `invalid` flag instead of vanishing). Documented divergence: an
      // all-alphabetic garbage ip row mid-file is dropped like a header.
      !trim(col("client_ip")).rlike("[0-9]") &&
        truncate_ip(trim(col("client_ip"))).isNull &&
        (cntStr.isNull || parsedCnt.isNull)

    raw
      .withColumn("cnt",
        when(col("count_field").isNull || cntStr === "", lit(1L))
          .otherwise(parsedCnt))
      .withColumn("invalid",
        col("client_ip").isNull ||
        truncate_ip(trim(col("client_ip"))).isNull ||
        col("cnt").isNull || col("cnt") < 0)
      .filter(!(col("invalid") && headerRow)) // drop header-shaped rows
      .filter(col("cnt").isNull || col("cnt") =!= 0) // zero-count rows vanish
      .withColumn("domain_raw", unescape_domain(trim(col("domain_field"))))
      .withColumn("hash", xxh3_64(truncate_ip(trim(col("client_ip")))))
      .withColumn("domain", normalize_domain(col("domain_raw")))
      .select(trim(col("client_ip")).as("client_ip"), col("domain_raw"),
        col("cnt"), col("invalid"), col("hash"), col("domain"))
  }

  private val genIp: Gen[String] = Gen.frequency(
    6 -> Gen.choose(0, 40).map(i => s"192.168.${i % 5}.$i"),
    2 -> Gen.oneOf("10.0.0.1", "203.0.113.9", "8.8.8.8"),
    3 -> Gen.oneOf("2001:db8::1", "2001:db8:0:1::2", "::1", "fe80::a:b", "::ffff:10.0.0.1"),
    2 -> Gen.oneOf("999.1.1.1", "1.2.3", "1.2.3.4.5", "2001:db8::g", "abc", "x1", "", "ip",
      "client_ip"))

  private val genDomain: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("com", "example.org", "www.Example.NET", "a.b.c.uk", "xn--p1ai", "local."),
    2 -> Gen.oneOf("a\\046b.net", "\\120n--p1ai", "\\x41bc.org", "x\\.y.com", "\\255.com"),
    2 -> Gen.oneOf(".", "", "-bad-.com", "a..b", "bad_name!.com", "domain"))

  private val genCount: Gen[Option[String]] = Gen.frequency(
    3 -> Gen.choose(1, 500).map(n => Some(n.toString)),
    1 -> Gen.oneOf(None, Some(""), Some("0"), Some("-0"), Some("-3"), Some("007"),
      Some("abc"), Some("1.5"), Some("+4"), Some("9223372036854775807"), Some("queries")))

  /** A field as written: sometimes padded, sometimes quoted. */
  private def written(field: String): Gen[String] = Gen.frequency(
    6 -> Gen.const(field), 1 -> Gen.const(s"  $field"), 1 -> Gen.const(s"$field "),
    1 -> Gen.const("\"" + field + "\""))

  private final case class Input(lines: Seq[String], tsv: Boolean)

  private val genInput: Gen[Input] = for {
    tsv <- Gen.frequency(3 -> false, 1 -> true)
    sep = if (tsv) "\t" else ","
    header <- Gen.oneOf(Seq.empty[String], Seq(s"ip${sep}domain${sep}queries"),
      Seq(s"client_ip${sep}domain"), Seq("# a comment"))
    n <- Gen.choose(0, 25)
    rows <- Gen.listOfN(n, Gen.frequency(
      12 -> (for {
        ip <- genIp.flatMap(written); d <- genDomain.flatMap(written); c <- genCount
        cw <- c.fold(Gen.const(Option.empty[String]))(written(_).map(Some(_)))
      } yield (Seq(ip, d) ++ cw).mkString(sep)),
      1 -> genIp.map(ip => ip),           // short row: no domain
      1 -> Gen.const("# comment line")))
  } yield Input(header ++ rows, tsv)

  private val files = new java.util.concurrent.atomic.AtomicInteger

  private def write(in: Input): String = {
    val f = dir.resolve(s"r${files.incrementAndGet()}.csv")
    java.nio.file.Files.writeString(f, in.lines.mkString("", "\n", "\n"))
    f.toString
  }

  private def rows(df: DataFrame): (StructType, Seq[String]) =
    (df.schema, df.collect().toSeq.map {
      case Row(ip, raw, cnt, invalid, hash, domain) => Seq(ip, raw, cnt, invalid, hash, domain).mkString("|")
    }.sorted)

  property("RecordsCsv.read == the Column expressions it replaced") = Prop.forAll(genInput) { in =>
    val path = write(in)
    val kernel = rows(RecordsCsv.read(spark, path, in.tsv))
    val oracle = rows(oracleRead(spark, path, in.tsv))
    (kernel == oracle) :| s"lines=${in.lines}\nkernel=$kernel\noracle=$oracle"
  }

  /** schema, and the rows with their HLL bytes as sequences */
  private def state(df: DataFrame): (StructType, Set[Seq[Any]]) =
    (df.schema, df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSet)

  /** The result, or Left when `body` fails with a long overflow (a query
    * sum past Long.MaxValue fails on both paths, each in its own words). */
  private def outcome[T](body: => T): Either[String, T] =
    try Right(body) catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[ArithmeticException]) => Left("overflow")
    }

  property("collect on the driver == collectByPlan") = Prop.forAll(genInput) { in =>
    val recs = RecordsCsv.read(spark, write(in), in.tsv)
    val onDriver = outcome {
      val collected = DnsMagnitude.collect(recs, date)
      require(collected.isLocal, "a small input merges on the driver")
      state(collected)
    }
    val byPlan = outcome(state(DnsMagnitude.collectByPlan(recs, date)))
    (onDriver == byPlan) :| s"lines=${in.lines}\ndriver=$onDriver\nplan=$byPlan"
  }

  /** A record frame as a parquet file holds it: `hash`, `domain`, `cnt`,
    * maybe `invalid`, and extra columns, in the generated column order. */
  private final case class Frame(fields: Seq[StructField], rows: Seq[Row], parts: Int)

  private def nullable[T](g: Gen[T]): Gen[Any] = Gen.frequency(5 -> g, 1 -> Gen.const(null))

  private val genFrame: Gen[Frame] = for {
    withInvalid <- Gen.oneOf(true, false)
    extras <- Gen.choose(0, 2)
    fields = Seq(StructField("hash", LongType), StructField("domain", StringType),
      StructField("cnt", LongType)) ++
      (if (withInvalid) Seq(StructField("invalid", BooleanType)) else Nil) ++
      Seq(StructField("client_ip", StringType), StructField("ts", LongType)).take(extras)
    keys <- Gen.listOfN(fields.length, Gen.choose(0, 1 << 20))
    order = fields.indices.sortBy(keys)
    n <- Gen.choose(0, 40)
    rows <- Gen.listOfN(n, for {
      hash <- nullable(Gen.frequency(3 -> Gen.choose(0L, 20L).map(_ * 0x9E3779B97F4A7C15L),
        1 -> Gen.long))
      domain <- nullable(Gen.oneOf("com", "org", "net", ".", "a.b.uk", "", "Com"))
      cnt <- nullable(Gen.frequency(8 -> Gen.choose(-2L, 300L),
        1 -> Gen.const(Long.MaxValue / 2 + 1)))
      invalid <- nullable(Gen.oneOf(true, false))
      ip <- Gen.oneOf("10.0.0.1", "::1")
      ts <- Gen.choose(0L, 99L)
    } yield Seq[Any](hash, domain, cnt, invalid, ip, ts))
    parts <- Gen.choose(1, 3)
  } yield {
    val byName = Map("hash" -> 0, "domain" -> 1, "cnt" -> 2, "invalid" -> 3, "client_ip" -> 4, "ts" -> 5)
    val picked = order.map(fields(_))
    Frame(picked, rows.map(r => Row.fromSeq(picked.map(f => r(byName(f.name))))), parts)
  }

  private def parquet(frame: Frame): DataFrame = {
    val path = dir.resolve(s"p${files.incrementAndGet()}").toString
    spark.createDataFrame(java.util.Arrays.asList(frame.rows: _*), StructType(frame.fields))
      .repartition(frame.parts).write.parquet(path)
    spark.read.parquet(path)
  }

  property("collect on the driver == collectByPlan over parquet record frames") =
    Prop.forAll(genFrame) { frame =>
      val recs = parquet(frame)
      val onDriver = outcome {
        val collected = DnsMagnitude.collect(recs, date)
        require(collected.isLocal, "a small input merges on the driver")
        state(collected)
      }
      val byPlan = outcome(state(DnsMagnitude.collectByPlan(recs, date)))
      (onDriver == byPlan) :| s"fields=${frame.fields}\nrows=${frame.rows}\n" +
        s"driver=$onDriver\nplan=$byPlan"
    }
}
