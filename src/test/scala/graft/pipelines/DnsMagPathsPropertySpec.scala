package graft.pipelines

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import graft.core.sketch.Hll

/** ScalaCheck properties for the two paths of `DnsMagnitude.aggregate` and
  * `report`: on local states (bare LocalRelations, merged and ranked on the
  * driver) they give what the Spark plans give on the same rows. States mix
  * several dates, NULL-domain buckets, null cells, sparse and dense
  * sketches, inputs without a version column, forced dates, unsupported
  * versions and date mismatches (both paths must fail alike), identical
  * sketches under different domains (ties in floor(magnitude * 1000) and in
  * magnitude itself, so a top-N cut lands inside a tie), and domains whose
  * UTF-8 and UTF-16 orders differ. */
object DnsMagPathsPropertySpec extends Properties("dnsmag-paths") {

  // every case runs one or two plans on Spark
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark = graft.SparkTestBase.spark

  private val dates = Seq("2000-01-01", "2000-01-02", "2001-06-30").map(java.sql.Date.valueOf)
  private val domains = Seq("a", "b", "com", "net", "zé", "�", "😀", "xn--p1ai")

  /** splitmix64: well-spread 64-bit hashes from small ints */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Sketch bytes over the first `n` hashes of one of four pools, so
    * sketches overlap and sometimes coincide; n in the thousands makes
    * them dense. */
  private val genHll: Gen[Array[Byte]] = for {
    n <- Gen.frequency(8 -> Gen.choose(0, 12), 1 -> Gen.choose(5000, 7000))
    pool <- Gen.choose(0, 3)
  } yield {
    val h = Hll()
    (0 until n).foreach(i => h.addRaw(mix(pool * 1000000L + i)))
    h.toBytes
  }

  private final case class Input(rows: Seq[Row], schema: StructType)

  private def schemaOf(nullable: Boolean, legacy: Boolean) = StructType(Seq(
    StructField("date", DateType, nullable),
    StructField("domain", StringType, nullable = true),
    StructField("hll", BinaryType, nullable),
    StructField("queries", LongType, nullable)) ++
    (if (legacy) Nil else Seq(StructField("version", LongType, nullable = false))))

  /** `g`, or now and then NULL where the column is nullable */
  private def orNull[T](nullable: Boolean, g: Gen[T]): Gen[Any] =
    if (nullable) Gen.frequency(12 -> g, 1 -> Gen.const(null)) else g

  private val genQueries: Gen[Long] = Gen.choose(0L, 1000L)

  private val genDomain: Gen[String] = Gen.frequency(6 -> Gen.oneOf(domains), 1 -> Gen.const(null))

  /** aggregate inputs: mostly one date (the merge succeeds), sometimes two
    * (a mismatch unless forced); keys repeat within and across inputs. */
  private val genAggregate: Gen[(Seq[Input], Option[java.sql.Date])] = for {
    dateSet <- Gen.frequency(4 -> Gen.oneOf(dates).map(Seq(_)), 1 -> Gen.pick(2, dates).map(_.toSeq))
    version <- Gen.frequency(8 -> Gen.const(1L), 1 -> Gen.const(2L))
    k <- Gen.choose(1, 3)
    inputs <- Gen.listOfN(k, for {
      nullable <- Gen.oneOf(false, true)
      legacy <- Gen.frequency(3 -> false, 1 -> true)
      n <- Gen.choose(0, 10)
      rows <- Gen.listOfN(n, for {
        d <- orNull(nullable, Gen.oneOf(dateSet))
        domain <- genDomain
        h <- orNull(nullable, genHll)
        q <- orNull(nullable, genQueries)
        v <- Gen.frequency(5 -> Gen.const(1L), 1 -> Gen.const(version))
      } yield Row.fromSeq(Seq(d, domain, h, q) ++ (if (legacy) Nil else Seq(v))))
    } yield Input(rows, schemaOf(nullable, legacy)))
    force <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.oneOf(dates).map(Some(_)))
  } yield (inputs, force)

  /** report states: several dates, each with unique domains and maybe a
    * NULL bucket; some domains of a date share one sketch (exact ties). */
  private val genReport: Gen[(Input, Int)] = for {
    nullable <- Gen.oneOf(false, true)
    perDate <- Gen.sequence[List[Seq[Row]], Seq[Row]](dates.map { d =>
      for {
        doms <- Gen.someOf(domains)
        bucket <- Gen.oneOf(true, false)
        shared <- genHll
        rows <- Gen.sequence[List[Row], Row]((doms.toSeq ++ (if (bucket) Seq(null) else Nil)).map {
          domain => for {
            h <- orNull(nullable, Gen.frequency(3 -> genHll, 1 -> Gen.const(shared)))
            q <- orNull(nullable, genQueries)
          } yield Row(d, domain, h, q)
        })
      } yield rows.toSeq
    })
    k <- Gen.choose(2, 6)
    topN <- Gen.oneOf(0, 1, k)
  } yield (Input(perDate.flatten, schemaOf(nullable, legacy = true)), topN)

  private def local(in: Input): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(in.rows: _*), in.schema)

  /** The rows or the failure's message, for comparing two paths. */
  private def outcome[T](body: => T): Either[String, T] =
    try Right(body) catch { case e: Exception => Left(e.getMessage) }

  /** schema, and (hll bytes, queries) per (date, domain) */
  private def merged(df: DataFrame): (StructType, Map[(Any, String), (Seq[Byte], Any)]) =
    (df.schema, df.collect().map(r => (r.get(0), r.getString(1)) ->
      (r.getAs[Array[Byte]]("hll").toSeq, r.get(3))).toMap)

  property("aggregate: driver == plan") = Prop.forAll(genAggregate) { case (inputs, force) =>
    // (shrinking may empty the list, which both paths refuse)
    inputs.nonEmpty ==> {
      val states = inputs.map(local)
      val onDriver = outcome {
        val agg = DnsMagnitude.aggregate(states, force)
        require(agg.isLocal, "small local inputs merge on the driver")
        merged(agg)
      }
      val byPlan = outcome(merged(DnsMagnitude.aggregateByPlan(states, force)))
      (onDriver == byPlan) :| s"inputs=$inputs force=$force\ndriver=$onDriver\nplan=$byPlan"
    }
  }

  private def reported(df: DataFrame): (StructType, Seq[Row]) =
    (df.schema, df.collect().toSeq)

  property("report: driver == plan") = Prop.forAll(genReport) { case (in, topN) =>
    val state = local(in)
    val onDriver = outcome {
      val rep = DnsMagnitude.report(state, topN)
      require(rep.isLocal, "a local state reports on the driver")
      reported(rep)
    }
    val byPlan = outcome(reported(DnsMagnitude.reportByPlan(state, topN)))
    (onDriver == byPlan) :| s"topN=$topN rows=${in.rows}\ndriver=$onDriver\nplan=$byPlan"
  }
}
