package perfbench

import java.io.File

import scala.collection.mutable

import graft.core.cbor.DnsMagCodec
import graft.core.hash.XXH3
import graft.core.sketch.Hll
import graft.io.DnsMagCbor
import graft.operators.Dedup
import graft.pipelines.DnsMagnitude
import graft.sources.RecordsCsv
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks of a run. A failed check counts as a failed operation. */
final class Checks {
  var attempted = 0L
  var failed = 0L

  def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $name $detail")
    }
  }

  /** Outputs must not change between reps of one run. */
  private val firstHash = mutable.Map[String, Long]()
  def sameAsFirstRep(name: String, hash: Long): Unit = {
    val first = firstHash.getOrElseUpdate(name, hash)
    apply(s"$name identical across reps", first == hash, s"($first vs $hash)")
  }
}

object Hlls {
  /** 1.04/sqrt(m) for the engine's 2^14 registers. */
  val Sigma: Double = 1.04 / math.sqrt(1 << 14)
  /** Standard errors an estimate may stray from the exact count. A run
    * checks a few hundred estimates, and a campaign makes dozens of runs
    * with different seeds: at 3 sigma a correct sketch would fail some run
    * by chance, at 5 sigma about once in 10^6 estimates. The +1 absorbs the
    * estimator's final ceil at tiny counts. */
  val Z = 5.0

  def within(est: Long, exact: Long): Boolean = math.abs(est - exact) <= Z * Sigma * exact + 1
  def relErr(est: Long, exact: Long): Double = math.abs(est - exact).toDouble / math.max(1L, exact)
}

/** Order-insensitive fingerprint of a set of rows. */
object RowHash {
  def of(values: Iterable[Seq[Any]]): Long = values.foldLeft(0L) { (acc, v) =>
    acc + XXH3.hashString(v.map {
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      case x => String.valueOf(x)
    }.mkString("\u0001"))
  }
}

/** Environment of a run: session, input set, scratch directory. */
final case class Env(spark: SparkSession, data: File, work: File, seed: Long, sizes: Sizes)

/** One benchmark workload: its steps (one rep), the checks of their
  * outputs, the plan-rung ladder and the kernel rung. */
trait Workload {
  def ingestRows: Long
  def ingestSteps: Seq[String]
  def finishSteps: Seq[String]
  /** Runs one rep's steps; outputs are kept for [[check]]. */
  def rep(r: Rep): Unit
  /** Checks the last rep's outputs (untimed). */
  def check(c: Checks): Unit
  /** Checks made once per run (untimed). */
  def finalCheck(c: Checks): Unit = ()
  /** Bytes of persisted state the last rep wrote. */
  def stateBytes: Double
  /** Estimate error or lost recall of the last rep (see BENCHMARK.json). */
  def qualityLoss: Double
  /** Bytes on disk of what a step reads. */
  def inputBytes(step: String): Long
  /** Cumulative plan rungs; each is run and forced as a whole. */
  def ladder: Seq[(String, () => Unit)] = Nil
  def kernels(): Seq[(String, Double)]
}

object Workload {
  val names: Seq[String] = Seq("dns_csv", "docs_neardup")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def generate(e: Env, name: String): Unit = name match {
    case "dns_csv" => DnsInput.generate(e.data, e.seed, e.sizes)
    case "docs_neardup" => DocsInput.generate(e.spark, e.data, e.seed, e.sizes)
  }

  def apply(e: Env, name: String): Workload = name match {
    case "dns_csv" => new DnsCsv(e)
    case "docs_neardup" => new DocsNeardup(e)
  }
}

// ------------------------------------------------------------------------

/** Per site: CSV records -> sketch state -> `.dnsmag` file; then the four
  * files are read back, aggregated and reported as the reference's JSON. */
final class DnsCsv(e: Env) extends Workload {
  private val spark = e.spark
  private val ans = DnsInput.answers(e.data)
  private val date = java.sql.Date.valueOf(DnsInput.Date)
  private val sites = (0 until DnsInput.Sites).map(s => DnsInput.siteDir(e.data, s))
  private val outDir = new File(e.work, "dnsmag")
  private[perfbench] def outFile(s: Int) = new File(outDir, s"site$s.dnsmag")

  val ingestRows: Long = ans.records
  val ingestSteps = Seq("collect")
  val finishSteps = Seq("finish")

  private var invalidSeen = 0L
  private var json: Seq[String] = Nil

  def rep(r: Rep): Unit = {
    collect(r)
    finish(r)
  }

  private def collect(r: Rep): Unit = {
    outDir.mkdirs()
    invalidSeen = r.step("collect") {
      sites.indices.map { s =>
        val obs = Observation(s"invalid_site$s")
        val records = RecordsCsv.read(spark, sites(s).getPath)
          .observe(obs, sum(when(col("invalid"), 1L).otherwise(0L)).as("invalid"))
        val state = r.plan("pipelines.DnsMagnitude.collect")(DnsMagnitude.collect(records, date))
        r.run("io.DnsMagCbor.write")(DnsMagCbor.write(state, outFile(s).getPath))
        obs.get("invalid").asInstanceOf[Long]
      }.sum
    }
  }

  /** Reads back the `.dnsmag` files and reports them. */
  private[perfbench] def finish(r: Rep): Unit = {
    json = r.step("finish") {
      val states = sites.indices.map(s =>
        r.plan("io.DnsMagCbor.read")(DnsMagCbor.read(spark, outFile(s).getPath)))
      val agg = r.plan("pipelines.DnsMagnitude.aggregate")(DnsMagnitude.aggregate(states))
      r.run("pipelines.DnsMagnitude.reportJson")(
        DnsMagnitude.reportJson(agg, "perfbench", "authoritative", 2500))
    }
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def domains: Seq[(String, Double, Long, Long)] = {
    val doc = mapper.readTree(json.head)
    val it = doc.get("magnitudeData").elements()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { d =>
      (d.get("domain").asText(), d.get("magnitude").asDouble(),
        d.get("uniqueClients").asLong(), d.get("queryVolume").asLong())
    }.toSeq
  }

  def check(c: Checks): Unit = {
    c("invalid rows excluded and counted", invalidSeen == ans.invalidRows,
      s"$invalidSeen vs ${ans.invalidRows}")
    c("one report document", json.size == 1, json.size.toString)
    val doc = mapper.readTree(json.head)
    c("report date", doc.get("date").asText() == DnsInput.Date)
    c("total query volume exact", doc.get("totalQueryVolume").asLong() == ans.totalQueries,
      s"${doc.get("totalQueryVolume")} vs ${ans.totalQueries}")
    val total = doc.get("totalUniqueClients").asLong()
    c("total unique clients within bound", Hlls.within(total, ans.totalDistinct),
      s"$total vs ${ans.totalDistinct}")
    val ds = domains
    c("every TLD reported once", ds.map(_._1).toSet == ans.perTld.keySet && ds.size == ans.perTld.size,
      s"${ds.size} vs ${ans.perTld.size}")
    val bad = ds.filterNot { case (d, _, clients, queries) =>
      ans.perTld.get(d).exists { case (exact, q) => q == queries && Hlls.within(clients, exact) }
    }
    c("TLD rows: exact queries, estimates within bound", bad.isEmpty, bad.take(3).mkString("; "))
    val keys = ds.map { case (d, m, _, _) => (math.floor(m * 1000).toLong, d) }
    c("report ascends by (floor(magnitude*1000), domain)", keys.sliding(2).forall {
      case Seq(a, b) => Ordering[(Long, String)].lteq(a, b)
      case _ => true
    })
    c.sameAsFirstRep(".dnsmag state", RowHash.of(sites.indices.map(s =>
      Seq(java.nio.file.Files.readAllBytes(outFile(s).toPath)))))
  }

  /** `DnsMagCbor.read(write(s))` gives back `s`: every domain row byte for
    * byte, and the NULL row as the documented all-clients residual. */
  override def finalCheck(c: Checks): Unit = {
    val state = DnsMagnitude.collect(RecordsCsv.read(spark, sites(0).getPath), date)
      .select("date", "domain", "hll", "queries").localCheckpoint()
    val f = new File(e.work, "roundtrip.dnsmag")
    DnsMagCbor.write(state, f.getPath)
    def rows(df: DataFrame) = df.collect().map(r =>
      Option(r.getString(1)) -> (r.getAs[Array[Byte]]("hll").toSeq, r.getAs[Long]("queries"))).toMap
    val before = rows(state)
    val after = rows(DnsMagCbor.read(spark, f.getPath))
    val domainsSame = before.keySet == after.keySet &&
      before.forall { case (k, v) => k.isEmpty || after(k) == v }
    val all = Hll()
    before.values.foreach { case (b, _) => all.union(Hll.fromBytes(b.toArray)) }
    val nullSame = after.get(None).exists { case (b, q) =>
      b == all.toBytes.toSeq && q == before.get(None).map(_._2).getOrElse(0L)
    }
    c("DnsMagCbor.read(write(s)) == s", domainsSame && nullSame)
    val decoded = DnsMagCodec.decodeSeq(java.nio.file.Files.readAllBytes(f.toPath))
    c(".dnsmag holds one dataset", decoded.size == 1)
  }

  def stateBytes: Double = sites.indices.map(s => outFile(s).length).sum.toDouble

  def qualityLoss: Double = {
    val errs = domains.map { case (d, _, clients, _) => Hlls.relErr(clients, ans.perTld(d)._1) }
    errs.sum / math.max(1, errs.size)
  }

  def inputBytes(step: String): Long =
    if (step == "finish") Io.dataBytes(outDir) else sites.map(Io.dataBytes).sum

  override def ladder: Seq[(String, () => Unit)] = {
    def each(f: File => Unit): () => Unit = () => sites.foreach(f)
    def records(s: File) = RecordsCsv.read(spark, s.getPath)
    Seq(
      "sources.csv_scan_s" -> each(s => Workload.noop(spark.read.schema(RecordsCsv.schema)
        .option("comment", "#").option("sep", ",").option("ignoreLeadingWhiteSpace", "true")
        .option("mode", "PERMISSIVE").csv(s.getPath))),
      "sources.records_s" -> each(s => Workload.noop(records(s))),
      "functions.hll_agg_s" -> each(s => Workload.noop(DnsMagnitude.collect(records(s), date))),
      "io.cbor_write_s" -> each(s => DnsMagCbor.write(DnsMagnitude.collect(records(s), date),
        new File(e.work, "ladder.dnsmag").getPath)))
  }

  def kernels(): Seq[(String, Double)] = {
    val recs = new DnsInput.Gen(e.seed, e.sizes).records(0, 20000).toArray
    val fields = recs.map(_.line.split(",", -1))
    Kernels.dns(fields.map(_(0)), fields.map(_(1)))
  }
}

// ------------------------------------------------------------------------

/** Exact dedup, MinHash-LSH pairs, sparse-cosine pairs, then one survivor
  * per near-duplicate component. */
final class DocsNeardup(e: Env) extends Workload {
  private val spark = e.spark
  private val docsDir = new File(e.data, "docs")
  private val ckptDir = new File(e.work, "checkpoints")
  private val planted = DocsInput.planted(e.data)
  private val Shingle = 3
  private val MinJaccard = 0.5
  private val MinCos = 0.9
  private lazy val docs: Map[Long, String] = spark.read.parquet(docsDir.getPath)
    .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  val ingestRows: Long = e.sizes.docs.toLong
  val ingestSteps = Seq("minhash", "cosine")
  val finishSteps = Seq("finish")

  private var exactIds: Set[Long] = Set.empty
  private[perfbench] var minhash: Array[(Long, Long, Double)] = Array.empty
  private[perfbench] var cosine: Array[(Long, Long, Double)] = Array.empty
  private[perfbench] var kept: Set[Long] = Set.empty
  private var ckptBefore = 0L
  private var ckptWritten = 0L

  private def pairs(df: DataFrame): Array[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  def rep(r: Rep): Unit = {
    ckptBefore = Io.dataBytes(ckptDir)
    val input = spark.read.parquet(docsDir.getPath)
    exactIds = r.step("exact") {
      val ids = r.plan("operators.Dedup.exact")(Dedup.exact(input))
      r.run("operators.Dedup.exact")(ids.collect()).map(_.getLong(0)).toSet
    }
    minhash = r.step("minhash") {
      val p = r.plan("operators.Dedup.minhashLshPairs")(
        Dedup.minhashLshPairs(input, n = Shingle, minJaccard = MinJaccard))
      r.run("operators.Dedup.minhashLshPairs")(pairs(p))
    }
    r.pairs("minhash") = minhash.length
    cosine = r.step("cosine") {
      val p = r.plan("operators.Dedup.sparseCosinePairs")(
        Dedup.sparseCosinePairs(input, MinCos, idf = true))
      r.run("operators.Dedup.sparseCosinePairs")(pairs(p))
    }
    r.pairs("cosine") = cosine.length
    kept = r.step("finish") {
      val all = spark.createDataFrame((minhash ++ cosine).map(p => (p._1, p._2)).distinct.toSeq)
        .toDF("id_a", "id_b")
      val survivors = r.plan("operators.Dedup.dropNearDuplicates")(
        Dedup.dropNearDuplicates(input, all))
      r.run("operators.Dedup.dropNearDuplicates")(survivors.select("doc_id").collect())
        .map(_.getLong(0)).toSet
    }
    ckptWritten = Io.dataBytes(ckptDir) - ckptBefore
  }

  /** Brute-force cosine and Jaccard over this subset of docs: planted pairs
    * and random docs, so both matches and non-matches are checked. */
  private[perfbench] lazy val subset: Set[Long] = {
    val r = Rng(e.seed, 99)
    val ids = docs.keys.toArray.sorted
    (planted.take(120).flatMap(p => Seq(p._1, p._2)) ++ Seq.fill(240)(ids(r.nextInt(ids.length)))).toSet
  }

  private lazy val bruteCosine: Set[(Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).filter(_.nonEmpty) }
    val df = mutable.Map[String, Int]().withDefaultValue(0)
    toks.values.foreach(_.distinct.foreach(w => df(w) += 1))
    val n = docs.size.toDouble
    val vec = subset.toSeq.map { id =>
      val w = toks(id).groupBy(identity).map { case (t, occ) =>
        t -> occ.length * (math.log((1.0 + n) / (1.0 + df(t))) + 1.0)
      }
      val norm = math.sqrt(w.values.map(x => x * x).sum)
      id -> w.map { case (t, x) => t -> x / norm }
    }
    (for {
      (a, va) <- vec; (b, vb) <- vec if a < b
      cos = va.iterator.map { case (t, x) => x * vb.getOrElse(t, 0.0) }.sum
      if math.round(cos * 1e9) / 1e9 >= MinCos // the operator rounds to 9 places too
    } yield (a, b)).toSet
  }

  /** Word shingles of a doc, as `minhashLshPairs` compares them. */
  private val shingles = mutable.Map[Long, Set[String]]()
  private def shingleSet(id: Long): Set[String] = shingles.getOrElseUpdate(id, {
    val toks = docs(id).split(" ", -1)
    if (toks.length < Shingle) Set(docs(id)) else toks.sliding(Shingle).map(_.mkString(" ")).toSet
  })
  private def jaccard(a: Long, b: Long): Double = {
    val (sa, sb) = (shingleSet(a), shingleSet(b))
    val inter = sa.count(sb)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Subset pairs so similar that the LSH misses one with probability
    * below 1e-5 (8 bands of 4 rows: (1 - J^4)^8 at J = 0.95). */
  private lazy val bruteSure: Set[(Long, Long)] = {
    val ids = subset.toSeq.sorted
    def sizesClose(a: Long, b: Long) = {
      val (x, y) = (shingleSet(a).size, shingleSet(b).size)
      math.min(x, y) >= 0.95 * math.max(x, y)
    }
    (for { a <- ids; b <- ids if a < b && sizesClose(a, b) && jaccard(a, b) >= 0.95 }
      yield (a, b)).toSet
  }

  def check(c: Checks): Unit = {
    val expectExact = docs.groupBy(_._2).values.map(_.keys.min).toSet
    c("Dedup.exact keeps the smallest id per text", exactIds == expectExact,
      s"${exactIds.size} vs ${expectExact.size}")
    val wrongJ = minhash.filterNot { case (a, b, j) =>
      a < b && j >= MinJaccard && math.abs(j - jaccard(a, b)) < 1e-9 }
    c("minhash pairs carry their brute-force Jaccard, J >= 0.5", wrongJ.isEmpty,
      wrongJ.take(3).map { case (a, b, j) => s"($a, $b): $j vs ${jaccard(a, b)}" }.mkString("; "))
    val missed = bruteSure -- minhash.map(p => (p._1, p._2))
    c("minhash finds the subset pairs with J >= 0.95", missed.isEmpty, missed.take(3).mkString)
    val found = cosine.collect { case (a, b, _) if subset(a) && subset(b) => (a, b) }.toSet
    c("sparseCosinePairs equals brute force on the subset", found == bruteCosine,
      s"found ${found.size}, brute force ${bruteCosine.size}, " +
        s"missing ${(bruteCosine -- found).take(3)}, extra ${(found -- bruteCosine).take(3)}")
    // one survivor per component of the pair graph, and every unpaired doc
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    (minhash ++ cosine).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectKept = docs.keys.filter(id => find(id) == id).toSet
    c("dropNearDuplicates keeps one survivor per component", kept == expectKept,
      s"${kept.size} vs ${expectKept.size}")
    c.sameAsFirstRep("pairs and survivors", RowHash.of(
      minhash.map(p => Seq("m", p._1, p._2, p._3)) ++ cosine.map(p => Seq("c", p._1, p._2, p._3)) ++
        kept.map(k => Seq("k", k))))
  }

  def stateBytes: Double = ckptWritten.toDouble

  def qualityLoss: Double = {
    val found = minhash.map(p => (p._1, p._2)).toSet
    1.0 - planted.count(p => found((p._1, p._2))).toDouble / planted.size
  }

  def inputBytes(step: String): Long = Io.dataBytes(docsDir)

  def kernels(): Seq[(String, Double)] = Kernels.docs(docs.values.take(2000).toArray)
}
