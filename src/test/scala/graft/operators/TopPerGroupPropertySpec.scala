package graft.operators

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ScalaCheck property for `Plans.topPerGroup`: on random frames its rows
  * equal those of one per-group `row_number()` window cut at the same
  * limit, rank for rank. Frames mix a hot group with cold ones, NULL group
  * keys, scores with many ties (broken by a unique key), a per-group limit
  * column that is often 0, and up to more input partitions than rows. */
object TopPerGroupPropertySpec extends Properties("top-per-group") {

  // every case runs two small Spark queries
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark = graft.SparkTestBase.spark

  private val genGroup: Gen[Option[Int]] = Gen.frequency(
    6 -> Gen.const(Some(0)), // the hot group
    4 -> Gen.choose(1, 5).map(Some(_)),
    1 -> Gen.const(None))

  private case class Case(rows: Seq[(Option[Int], Int)], limits: Map[Option[Int], Int], parts: Int)

  private val groups: Seq[Option[Int]] = None +: (0 to 5).map(Some(_))

  private val genCase: Gen[Case] = for {
    rows <- Gen.choose(0, 60).flatMap(Gen.listOfN(_, Gen.zip(genGroup, Gen.choose(0, 3))))
    limits <- Gen.listOfN(groups.size,
      Gen.frequency(2 -> Gen.const(0), 5 -> Gen.choose(1, 4), 1 -> Gen.const(100)))
    parts <- Gen.choose(1, rows.size + 8)
  } yield Case(rows, groups.zip(limits).toMap, parts)

  private val schema = StructType(Seq(StructField("g", IntegerType), StructField("key", LongType),
    StructField("score", IntegerType), StructField("lim", IntegerType)))

  private def ranked(df: org.apache.spark.sql.DataFrame, rank: String): Seq[(Option[Int], Long, Int)] =
    df.select(col("g"), col("key"), col(rank)).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getLong(1), r.getInt(2))).toSeq.sortBy(_._2)

  property("two phases == one per-group window") = Prop.forAll(genCase) { c =>
    val data = c.rows.zipWithIndex.map { case ((g, score), key) =>
      Row(g.map(Int.box).orNull, key.toLong, score, c.limits(g))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, c.parts), schema)
    val order = Seq(col("score").desc, col("key").asc)
    val got = ranked(Plans.topPerGroup(df, Seq(col("g")), order, col("lim")), "__rank")
    val want = ranked(df.withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(order: _*)))
      .filter(col("rn") <= col("lim")), "rn")
    (got == want) :| s"case=$c got=$got want=$want"
  }
}
