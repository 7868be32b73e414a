package graft.operators

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck property for `Dedup.connectedComponents`: on random graphs
  * small enough for the driver path (one collect + a union-find), its
  * `(id, component)` rows equal those of the label rounds, row for row.
  * Graphs mix chains, stars, isolated pairs, self-pairs, duplicated and
  * reversed pairs over a small id range, so pieces often share a vertex
  * and merge; a few ids sit at the ends of the long range. */
object ComponentsPropertySpec extends Properties("connected-components") {

  // every case runs the rounds on Spark (about 25 jobs)
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = graft.SparkTestBase.spark

  private val genId: Gen[Long] = Gen.frequency(
    20 -> Gen.choose(-20L, 120L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))

  private val genPiece: Gen[Seq[(Long, Long)]] = Gen.oneOf(
    for { s <- genId; n <- Gen.choose(1, 12) } yield (0 until n).map(i => (s + i, s + i + 1)),
    for { hub <- genId; leaves <- Gen.listOfN(6, genId) } yield leaves.map(hub -> _),
    for { a <- genId; b <- genId } yield Seq(a -> b),
    genId.map(a => Seq(a -> a)))

  private val genGraph: Gen[Seq[(Long, Long)]] = for {
    pieces <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, genPiece))
    edges = pieces.flatten
    // duplicates and reversed copies of some edges
    extra <- Gen.someOf(edges).flatMap(es => Gen.sequence[List[(Long, Long)], (Long, Long)](
      es.map(e => Gen.oneOf(e, e.swap))))
  } yield edges ++ extra

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  property("driver union-find == label rounds") = Prop.forAll(genGraph) { g =>
    import spark.implicits._
    val pairs = g.toDF("id_a", "id_b")
    val driver = rows(Dedup.connectedComponents(pairs))
    val rounds = rows(Dedup.connectedComponentsByRounds(pairs))
    (driver == rounds) :| s"graph=$g driver=$driver rounds=$rounds"
  }
}
