package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Input sizes of one benchmark scale. Every workload draws the same sizes
  * for every seed, so seeds change the data and never the amount of work. */
final case class Sizes(dnsRecords: Int, dnsNets: Int, dnsTlds: Int, docs: Int, vocab: Int) {
  def key: String = productIterator.mkString("-")
}

object Sizes {
  val full: Sizes = Sizes(dnsRecords = 160000, dnsNets = 40000, dnsTlds = 1500, docs = 500,
    vocab = 30000)
  val smoke: Sizes = Sizes(dnsRecords = 40000, dnsNets = 8000, dnsTlds = 200, docs = 300,
    vocab = 3000)
}

/** Seeded random streams: one independent SplittableRandom per (seed, salt),
  * so a row or a file draws the same values on any thread or partition. */
object Rng {
  def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, salt: Long): SplittableRandom = new SplittableRandom(mix(seed, salt))

  /** Index drawn from a cumulative distribution. */
  def pick(r: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf(cdf.length - 1))
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    for (i <- 0 until n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc }
    c
  }
}

/** A workload's input directory: generated once per (workload, seed, sizes)
  * stamp and reused while the stamp matches. `DONE` is written last, so an
  * interrupted generation is never taken for a finished one. */
object InputCache {
  def dir(root: File, workload: String, seed: Long, sizes: Sizes): File =
    new File(root, s"$workload-s$seed-${Integer.toHexString(sizes.key.hashCode)}-v1")

  def ready(d: File): Boolean = new File(d, "DONE").isFile

  /** Generate into `d` unless it is already complete; keeps at most one
    * other input set per workload so seeds do not fill the disk. */
  def ensure(root: File, d: File, workload: String)(generate: File => Unit): Unit = {
    if (ready(d)) return
    root.mkdirs()
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(workload + "-") && f != d)
      .sortBy(-_.lastModified()).drop(1).foreach(Io.deleteTree)
    Io.deleteTree(d)
    d.mkdirs()
    generate(d)
    Files.writeString(new File(d, "DONE").toPath, "ok\n")
  }
}

object Io {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def files(d: File): Seq[File] =
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else if (d.isFile) Seq(d) else Nil

  /** Bytes of the data files under `d` (checksum and marker files excluded). */
  def dataBytes(d: File): Long =
    files(d).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(_.length).sum

  /** Read every byte once so the page cache holds the inputs before timing. */
  def warm(d: File): Long = {
    val buf = new Array[Byte](1 << 20)
    files(d).map { f =>
      val in = new java.io.FileInputStream(f)
      try { var n = 0L; var k = in.read(buf); while (k >= 0) { n += k; k = in.read(buf) }; n }
      finally in.close()
    }.sum
  }

  def writeLines(f: File, lines: Iterable[String]): Unit =
    Files.write(f.toPath, lines.asJava, UTF_8)

  def readLines(f: File): Seq[String] = Files.readAllLines(f.toPath, UTF_8).asScala.toSeq

  def writeProps(f: File, kv: Seq[(String, Any)]): Unit =
    writeLines(f, kv.map { case (k, v) => s"$k=$v" })

  def readProps(f: File): Map[String, String] =
    readLines(f).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
}

// -------------------------------- dns --------------------------------

/** The reference collector's input shape: `client_ip,domain,count` gzip
  * CSV files, four files under each of four site directories. */
object DnsInput {
  final val Sites = 4
  final val FilesPerSite = 8
  final val Date = "2024-03-01"

  def tldName(i: Int): String = i match {
    case 0 => "com"; case 1 => "net"; case 2 => "org"; case 3 => "arpa"
    case _ => "t" + Integer.toString(i, 36)
  }

  /** One generated record; `tld` is the index the domain normalizes to
    * (`tlds` = root or invalid domain, -1 = row dropped or invalid) and
    * `net` the client network after /24 or /48 truncation. */
  final case class Rec(line: String, tld: Int, net: Int, count: Long, invalid: Boolean)

  final class Gen(seed: Long, s: Sizes) {
    private val tldCdf = Rng.zipfCdf(s.dnsTlds, 1.1)

    def records(file: Int, n: Int): Iterator[Rec] = {
      val r = Rng(seed, 1000L + file)
      Iterator.tabulate(n)(_ => record(r))
    }

    private def record(r: SplittableRandom): Rec = {
      val u = r.nextDouble()
      val net = (s.dnsNets * u * u).toInt
      val v6 = r.nextInt(10) == 0
      val roll = r.nextInt(1000)
      val ip =
        if (roll < 2) s"${256 + r.nextInt(700)}.${r.nextInt(256)}.${r.nextInt(256)}.1"
        else if (v6) f"2001:${net >>> 16}%x:${net & 0xffff}%x::${r.nextInt(65536)}%x"
        else s"${(net >>> 16) & 255}.${(net >>> 8) & 255}.${net & 255}.${r.nextInt(256)}"
      val tld = Rng.pick(r, tldCdf)
      val droll = r.nextInt(100)
      val (domain, key) =
        if (droll == 0) (".", s.dnsTlds)
        else if (droll == 1) (s"host${r.nextInt(100)}.9bad", s.dnsTlds)
        else (spell(r, s"w${r.nextInt(50)}.", tldName(tld)), tld)
      val (countField, count, bad) = {
        val c = r.nextInt(1000)
        if (c < 4) ("0", 0L, false)
        else if (c < 5) (s"-${1 + r.nextInt(5)}", 0L, true)
        else if (c < 300) ("", 1L, false)
        else if (c < 350) (null, 1L, false)
        else { val k = 1 + r.nextInt(9); (k.toString, k.toLong, false) }
      }
      val netKey = if (v6) s.dnsNets + net else net
      val line = if (countField == null) s"$ip,$domain" else s"$ip,$domain,$countField"
      // a zero count drops the row before its ip is judged
      val invalid = (roll < 2 || bad) && countField != "0"
      Rec(line, if (invalid || count == 0) -1 else key, netKey, count, invalid)
    }

    /** The domain as a resolver might log it: sometimes upper-cased, with a
      * trailing dot, or with the TLD's first letter as a `\ooo` or `\xhh`
      * escape. */
    private def spell(r: SplittableRandom, label: String, tld: String): String = {
      val d = label + tld
      r.nextInt(100) match {
        case 0 => label + f"\\${tld.charAt(0).toInt}%03o" + tld.substring(1)
        case 1 => label + f"\\x${tld.charAt(0).toInt}%02x" + tld.substring(1)
        case k if k < 12 => d.toUpperCase(java.util.Locale.ROOT)
        case k if k < 22 => d + "."
        case _ => d
      }
    }
  }

  def siteDir(d: File, site: Int): File = new File(d, s"sites/site$site")

  /** Writes the CSV files and the exact answers: `tlds.tsv` (tld, distinct
    * client networks, queries) and `meta.properties` (totals, the NULL
    * bucket's queries, the planted invalid-row count). */
  def generate(d: File, seed: Long, s: Sizes): Unit = {
    val gen = new Gen(seed, s)
    val nFiles = Sites * FilesPerSite
    val perFile = s.dnsRecords / nFiles
    val keySpace = 2L * s.dnsNets
    final class Part(val pairs: Array[Long], val queries: Array[Long], var invalid: Long)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val parts = try {
      (0 until nFiles).map { f =>
        pool.submit(() => {
          val dir = siteDir(d, f / FilesPerSite)
          dir.mkdirs()
          val out = new PrintWriter(new OutputStreamWriter(new GZIPOutputStream(
            new BufferedOutputStream(new FileOutputStream(new File(dir, s"part$f.csv.gz")), 1 << 16)),
            UTF_8))
          val part = new Part(new Array[Long](perFile), new Array[Long](s.dnsTlds + 1), 0L)
          var np = 0
          try {
            out.println(s"# dns query log, site ${f / FilesPerSite}, file $f")
            out.println("client_ip,domain,count")
            var i = 0
            gen.records(f, perFile).foreach { rec =>
              if (i > 0 && i % 20000 == 0) out.println(s"# checkpoint $i")
              out.println(rec.line)
              if (rec.invalid) part.invalid += 1
              else if (rec.tld >= 0) {
                part.pairs(np) = rec.tld * keySpace + rec.net; np += 1
                part.queries(rec.tld) += rec.count
              }
              i += 1
            }
          } finally out.close()
          new Part(java.util.Arrays.copyOf(part.pairs, np), part.queries, part.invalid)
        })
      }.map(_.get())
    } finally pool.shutdown()

    val pairs = parts.flatMap(_.pairs).toArray
    java.util.Arrays.sort(pairs)
    val distinct = new Array[Long](s.dnsTlds + 1)
    val nets = new java.util.BitSet(keySpace.toInt)
    var i = 0
    while (i < pairs.length) {
      if (i == 0 || pairs(i) != pairs(i - 1)) distinct((pairs(i) / keySpace).toInt) += 1
      nets.set((pairs(i) % keySpace).toInt)
      i += 1
    }
    val queries = parts.map(_.queries).transpose.map(_.sum).toArray
    Io.writeLines(new File(d, "tlds.tsv"), (0 until s.dnsTlds).filter(distinct(_) > 0)
      .map(t => s"${tldName(t)}\t${distinct(t)}\t${queries(t)}"))
    Io.writeProps(new File(d, "meta.properties"), Seq(
      "total_distinct" -> nets.cardinality(), "total_queries" -> queries.sum,
      "null_queries" -> queries(s.dnsTlds), "invalid_rows" -> parts.map(_.invalid).sum,
      "records" -> perFile.toLong * nFiles))
  }

  final case class Answers(perTld: Map[String, (Long, Long)], totalDistinct: Long,
                           totalQueries: Long, nullQueries: Long, invalidRows: Long, records: Long)

  def answers(d: File): Answers = {
    val m = Io.readProps(new File(d, "meta.properties"))
    Answers(
      Io.readLines(new File(d, "tlds.tsv")).map { l =>
        val f = l.split("\t"); f(0) -> (f(1).toLong, f(2).toLong)
      }.toMap,
      m("total_distinct").toLong, m("total_queries").toLong, m("null_queries").toLong,
      m("invalid_rows").toLong, m("records").toLong)
  }
}

// -------------------------------- docs -------------------------------

/** A Zipf-vocabulary corpus of short docs in which half the docs are
  * planted near-duplicate copies and 1 % exact copies. Each near copy
  * replaces a share of its source's tokens drawn from 2-14 %, which puts the
  * pairs' 3-shingle Jaccard around the 0.5 threshold and MinHash-LSH recall
  * near two thirds: many planted pairs, each a real coin flip for the LSH,
  * keep the measured recall steady from seed to seed. */
object DocsInput {
  final case class Doc(doc_id: Long, text: String, lang: String)

  def generate(spark: SparkSession, d: File, seed: Long, s: Sizes): Unit = {
    val r = Rng(seed, 7)
    val vocab = {
      val seen = new java.util.LinkedHashSet[String]()
      while (seen.size < s.vocab) {
        val len = 3 + r.nextInt(7)
        seen.add(Iterator.fill(len)(('a' + r.nextInt(26)).toChar).mkString)
      }
      seen.asScala.toArray
    }
    val cdf = Rng.zipfCdf(s.vocab, 1.0)
    val nNear = s.docs / 2
    val nExact = math.max(2, s.docs / 100)
    val nOrig = s.docs - nNear - nExact
    val texts = new Array[Array[String]](s.docs)
    for (i <- 0 until nOrig) texts(i) = Array.fill(50 + r.nextInt(151))(vocab(Rng.pick(r, cdf)))
    val source = new Array[Int](s.docs)
    for (i <- nOrig until s.docs) {
      val src = r.nextInt(nOrig)
      source(i) = src
      val edit = 0.02 + 0.12 * r.nextDouble()
      texts(i) =
        if (i < nOrig + nNear) texts(src).map(w => if (r.nextDouble() < edit) vocab(Rng.pick(r, cdf)) else w)
        else texts(src)
    }
    // doc ids are a seeded permutation, so copies are not clustered by id
    val ids = (0L until s.docs.toLong).toArray
    for (i <- ids.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docs = (0 until s.docs).map(i => Doc(ids(i), texts(i).mkString(" "), "en"))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 4))
      .write.parquet(new File(d, "docs").getPath)
    Io.writeLines(new File(d, "planted.tsv"), (nOrig until s.docs).map { i =>
      val (a, b) = (ids(source(i)), ids(i))
      s"${math.min(a, b)}\t${math.max(a, b)}\t${if (i < nOrig + nNear) "near" else "exact"}"
    })
  }

  /** Planted (smaller id, larger id, kind) pairs. */
  def planted(d: File): Seq[(Long, Long, String)] =
    Io.readLines(new File(d, "planted.tsv")).map { l =>
      val f = l.split("\t"); (f(0).toLong, f(1).toLong, f(2))
    }
}
