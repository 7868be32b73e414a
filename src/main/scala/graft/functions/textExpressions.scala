package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.unsafe.types.UTF8String.fromString
import graft.core.text.{HtmlExtract, TextOps, UnicodeClean}

/** Text-analysis functions (training-data pipeline: SimHash, winnowing
  * fingerprints, n-gram language id, quality ratios, token counting, HTML
  * and robots.txt extraction). Most are [[KernelCall]] rows over the
  * [[TextKernels]] adapters; the three expressions below carry state a
  * literal cannot (threshold objects, n-gram size lists, a term list). */

/** The static kernels behind the text functions of
  * [[GraftFunctions.builders]]: each takes and returns Spark's internal
  * values (UTF8String, ArrayData, InternalRow) and calls the String kernel
  * of graft.core (TextOps, UnicodeClean, HtmlExtract, net.*) or builds the
  * array/struct result in one tight loop — Spark's higher-order functions
  * that would compose the same results are CodegenFallback and allocate per
  * element. */
object TextKernels {
  private def strings(xs: Array[String]): ArrayData =
    new GenericArrayData(xs.map(fromString).asInstanceOf[Array[Any]])

  // ----- net -----
  /** v4 -> /24 v4-mapped, v6 -> /48, 16 bytes; NULL for invalid input
    * (reference internal/ip_address.go:26-52). */
  def truncateIp(ip: UTF8String): Array[Byte] = graft.core.net.IpUtil.truncate(ip.toString)
  /** "." for root, NULL for an invalid name
    * (reference internal/domain_name.go:14-43). */
  def normalizeDomain(d: UTF8String, numLabels: Int): UTF8String =
    fromString(graft.core.net.DomainUtil.normalize(d.toString, numLabels))
  /** `\DDD` / `\xHH` escapes (reference internal/csv.go:129-194). */
  def unescapeDomain(d: UTF8String): UTF8String =
    fromString(graft.core.net.DomainUtil.unescape(d.toString))
  def canonicalizeUrl(url: UTF8String): UTF8String =
    fromString(graft.core.net.UrlUtil.canonicalize(url.toString))
  def robotsMatch(pattern: UTF8String, path: UTF8String): Boolean =
    graft.core.net.RobotsTxt.matches(pattern.toString, path.toString)

  /** Robots rules of one agent as (allow, pattern), document order. */
  def robotsRules(content: UTF8String, agent: UTF8String): ArrayData =
    new GenericArrayData(graft.core.net.RobotsTxt.rulesFor(content.toString, agent.toString)
      .map(r => new GenericInternalRow(Array[Any](r.allow, fromString(r.pattern))): Any))

  /** All dot-suffixes of a hostname, most-specific first; one trailing
    * root dot is stripped first ("blocked.com." resolves like
    * "blocked.com"), empty labels are kept. */
  def domainSuffixes(host: UTF8String): ArrayData = {
    val s0 = host.toString
    val s = if (s0.endsWith(".")) s0.substring(0, s0.length - 1) else s0
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer[Any](fromString(s))
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '.' && i + 1 <= s.length - 1) out += fromString(s.substring(i + 1))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  // ----- html -----
  /** Byte-exact inverse of the synthetic page wrap; NULL when not one. */
  def extractText(html: Array[Byte]): UTF8String = {
    val r = graft.core.text.HtmlText.extract(html)
    if (r == null) null else UTF8String.fromBytes(r)
  }
  def htmlText(html: UTF8String): UTF8String = fromString(HtmlExtract.text(html.toString))
  /** NULL when the document has no `<title>`. */
  def htmlTitle(html: UTF8String): UTF8String = fromString(HtmlExtract.title(html.toString))
  def htmlLinks(html: UTF8String): ArrayData = strings(HtmlExtract.links(html.toString))
  /** (href, text) per `<a href>`, document order. */
  def htmlAnchors(html: UTF8String): ArrayData =
    new GenericArrayData(HtmlExtract.anchors(html.toString)
      .map { case (href, text) =>
        new GenericInternalRow(Array[Any](fromString(href), fromString(text))): Any })

  // ----- unicode -----
  def nfc(s: UTF8String): UTF8String = fromString(UnicodeClean.nfc(s.toString))
  def nfkc(s: UTF8String): UTF8String = fromString(UnicodeClean.nfkc(s.toString))
  def fixMojibake(s: UTF8String): UTF8String = fromString(UnicodeClean.fixMojibake(s.toString))
  def mojibakeScore(s: UTF8String): Int = UnicodeClean.mojibakeScore(s.toString)

  // ----- signatures and language id -----
  def simhash64(t: UTF8String): Long = TextOps.simhash64(t.toString)
  def fingerprint64(t: UTF8String): Long = TextOps.fingerprint64(t.toString)
  def winnowMin64(t: UTF8String): Long = TextOps.winnowMin64(t.toString)
  def winnowSet(t: UTF8String, k: Int, w: Int): ArrayData =
    new GenericArrayData(TextOps.winnow(t.toString, k, w))
  def rollingKgramHashes(t: UTF8String, k: Int, stride: Int): ArrayData =
    new GenericArrayData(TextOps.rollingKgramHashes(t.toString, k, stride))
  def langId(t: UTF8String): UTF8String = fromString(TextOps.langId(t.toString))
  /** (code, margin): the same code as [[langId]] with its confidence. */
  def langIdConf(t: UTF8String): InternalRow = {
    val (code, margin) = TextOps.langIdConf(t.toString)
    new GenericInternalRow(Array[Any](fromString(code), margin))
  }

  // ----- quality signals -----
  def tokenCountBpeish(t: UTF8String): Int = TextOps.tokenCountBpeish(t.toString)
  def wordCount(t: UTF8String): Int = TextOps.wordCount(t.toString)
  def stopwordHits(t: UTF8String): Int = TextOps.stopwordHits(t.toString)
  def alphaRatio(t: UTF8String): Double = TextOps.alphaRatio(t.toString)
  def punctRatio(t: UTF8String): Double = TextOps.punctRatio(t.toString)
  def stopwordRatio(t: UTF8String): Double = TextOps.stopwordRatio(t.toString)
  def meanWordLen(t: UTF8String): Double = TextOps.meanWordLen(t.toString)
  def maxTokenRatio(t: UTF8String): Double = TextOps.maxTokenRatio(t.toString)
  def charEntropy(t: UTF8String): Double = TextOps.charEntropy(t.toString)
  def dupLineRatio(t: UTF8String): Double = TextOps.dupLineRatio(t.toString)
  def dupLineCharRatio(t: UTF8String): Double = TextOps.dupLineCharRatio(t.toString)
  def bulletLineRatio(t: UTF8String): Double = TextOps.bulletLineRatio(t.toString)
  def ellipsisLineRatio(t: UTF8String): Double = TextOps.ellipsisLineRatio(t.toString)
  def alphaWordRatio(t: UTF8String): Double = TextOps.alphaWordRatio(t.toString)
  def symbolWordRatio(t: UTF8String, symbol: UTF8String): Double =
    TextOps.symbolWordRatio(t.toString, symbol.toString)
  def topNgramCharRatio(t: UTF8String, n: Int): Double = TextOps.topNgramCharRatio(t.toString, n)
  def dupNgramCharRatio(t: UTF8String, n: Int): Double = TextOps.dupNgramCharRatio(t.toString, n)

  // ----- chunks, shingles, spans -----
  def chunks(t: UTF8String, maxTokens: Int, overlap: Int): ArrayData =
    strings(TextOps.chunks(t.toString, maxTokens, overlap))

  /** Lossless GPT-2-style segments: `array_join(text_segments(t), '') == t`. */
  def segments(t: UTF8String): ArrayData =
    strings(graft.core.text.Bpe.segments(t.toString).toArray)

  /** Distinct word n-grams, first-occurrence order: exactly
    * array_distinct(transform(sequence(...), i -> array_join(slice(split(
    * text, ' '), i, n), ' '))), with a text of fewer than n tokens as its
    * one shingle. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    // split(" ", -1): single-space separator, trailing empties kept — the
    // exact semantics of Spark's split(text, " ") builtin
    val toks = text.toString.split(" ", -1)
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (toks.length < n) {
      out.add(text) // re-joining all tokens with " " reproduces the input
    } else {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(fromString(sb.toString))
        i += 1
      }
    }
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size)).asInstanceOf[Array[Any]])
  }

  /** Word n-gram multiplicities as (gram, m) in first-occurrence order;
    * empty for fewer than n tokens. */
  def wordNgramCounts(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val m = new java.util.LinkedHashMap[String, Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val g = sb.toString
      val prev = m.get(g)
      m.put(g, if (prev == null) 1L else prev + 1L)
      i += 1
    }
    val rows = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      rows(k) = new GenericInternalRow(Array[Any](fromString(e.getKey), e.getValue))
      k += 1
    }
    new GenericArrayData(rows)
  }

  final val HashMod = 1000003L

  /** Polynomial codepoint hash, mod-at-each-step (no overflow for any
    * input): h_{i+1} = (31 h_i + cp_i) mod 1000003; bucket = h mod dim. */
  def bucketOf(gram: String, dim: Int): Int = {
    var h = 0L
    var i = 0
    while (i < gram.length) {
      val cp = gram.codePointAt(i)
      h = (31L * h + cp) % HashMod
      i += Character.charCount(cp)
    }
    (h % dim).toInt
  }

  /** Word 1..maxN-grams hashed into `dim` buckets by [[bucketOf]], as
    * (idx, count) sorted by idx; collisions sum. */
  def hashedNgramFeatures(text: UTF8String, dim: Int, maxN: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val acc = new java.util.TreeMap[Integer, Long]()
    val sb = new java.lang.StringBuilder(64)
    var n = 1
    while (n <= maxN) {
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val b = Integer.valueOf(bucketOf(sb.toString, dim))
        val prev = acc.get(b)
        acc.put(b, if (prev == null) 1L else prev + 1L)
        i += 1
      }
      n += 1
    }
    val rows = new Array[Any](acc.size)
    val it = acc.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      rows(k) = new GenericInternalRow(Array[Any](e.getKey.intValue(), e.getValue))
      k += 1
    }
    new GenericArrayData(rows)
  }

  private val seedCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()
  /** Per-permutation seeds = XXH64(i, seed=42), the exact inner state of
    * Spark's xxhash64(lit(i), _) after consuming the int literal. */
  def seedsFor(k: Int): Array[Long] = seedCache.computeIfAbsent(k,
    kk => Array.tabulate(kk)(i => XXH64.hashInt(i, 42L)))

  /** The k-permutation min-hash signature of a shingle array,
    * bit-identical to the aggregation `min(xxhash64(lit(i), xxh3_64(sh)))`;
    * an empty array yields all Long.MaxValue. */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val seeds = seedsFor(k)
    val out = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h = graft.core.hash.XXH3.hashUTF8(shingles.getUTF8String(i))
      var j = 0
      while (j < k) {
        val v = XXH64.hashLong(h, seeds(j))
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Merged [start, end) spans covered by winLen-wide windows at the given
    * start positions (any order; NULL elements rejected). */
  def mergeSpans(positions: ArrayData, winLen: Int): ArrayData = {
    var ni = 0
    while (ni < positions.numElements()) {
      if (positions.isNullAt(ni))
        throw new IllegalArgumentException(
          "merge_spans: position array must not contain NULL elements")
      ni += 1
    }
    val flat = TextOps.mergeSpans(positions.toLongArray(), winLen)
    new GenericArrayData(Array.tabulate[Any](flat.length / 2)(i =>
      new GenericInternalRow(Array[Any](flat(2 * i), flat(2 * i + 1)))))
  }

  /** `text` with the [start, end) char ranges of `spans` removed (unsorted
    * or overlapping ranges fine; out-of-bounds offsets clamp). */
  def spliceOut(text: UTF8String, spans: ArrayData): UTF8String = {
    val n = spans.numElements()
    if (n == 0) return text
    val starts = new Array[Long](n)
    val ends = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (spans.isNullAt(i))
        throw new IllegalArgumentException("splice_out: span array must not contain NULLs")
      val r = spans.getStruct(i, 2)
      if (r.isNullAt(0) || r.isNullAt(1))
        throw new IllegalArgumentException(
          "splice_out: span_start/span_end must not be NULL (getLong on a " +
            "null slot would silently splice offset 0)")
      starts(i) = r.getLong(0)
      ends(i) = r.getLong(1)
      i += 1
    }
    fromString(TextOps.spliceOut(text.toString, starts, ends))
  }
}

/**
 * gopher_signals(text) -> struct of EVERY Gopher quality signal (Rae et al.
 * 2021 Table A1) from ONE pass over the text — the fused kernel behind
 * [[graft.operators.TextQuality.gopherFilter]]. The per-signal functions
 * above re-tokenize per signal (~15 passes/row when composed); this
 * evaluates [[TextOps.gopherStats]] once and extracts
 * struct fields. Field order: the ten base signals, then
 * top_{n}gram_ratio for each ascending n in `topNs`, then
 * dup_{n}gram_ratio for each ascending n in `dupNs`.
 *
 * Whole-stage codegen's subexpression elimination guarantees one kernel
 * call per row even after projection collapse pushes a GetStructField per
 * signal column (pinned by test via TextOps.gopherStatsCalls).
 */
case class GopherSignalsStruct(child: Expression, topNs: Seq[Int], dupNs: Seq[Int])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(topNs.forall(_ >= 1) && dupNs.forall(_ >= 1), "ngram sizes must be >= 1")
  require(topNs == topNs.sorted.distinct && dupNs == dupNs.sorted.distinct,
    "ngram size lists must be ascending and distinct")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override val dataType: DataType = StructType(
    Seq(StructField("n_words", LongType, nullable = false),
      StructField("mean_word_len", DoubleType, nullable = false),
      StructField("hash_ratio", DoubleType, nullable = false),
      StructField("ellipsis_ratio", DoubleType, nullable = false),
      StructField("bullet_line_ratio", DoubleType, nullable = false),
      StructField("ellipsis_line_ratio", DoubleType, nullable = false),
      StructField("alpha_word_ratio", DoubleType, nullable = false),
      StructField("stopword_hits", IntegerType, nullable = false),
      StructField("dup_line_ratio", DoubleType, nullable = false),
      StructField("dup_line_char_ratio", DoubleType, nullable = false)) ++
    topNs.map(n => StructField(s"top_${n}gram_ratio", DoubleType, nullable = false)) ++
    dupNs.map(n => StructField(s"dup_${n}gram_ratio", DoubleType, nullable = false)))
  override def prettyName: String = "gopher_signals"
  private lazy val topArr = topNs.toArray
  private lazy val dupArr = dupNs.toArray
  override def nullSafeEval(v: Any): Any =
    GopherSignalsStruct.compute(v.asInstanceOf[UTF8String], topArr, dupArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val topRef = ctx.addReferenceObj("topNs", topArr, "int[]")
    val dupRef = ctx.addReferenceObj("dupNs", dupArr, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GopherSignalsStruct.compute($c, $topRef, $dupRef)")
  }
  override protected def withNewChildInternal(c: Expression): GopherSignalsStruct =
    copy(child = c)
}

object GopherSignalsStruct {
  def compute(text: UTF8String, topNs: Array[Int],
              dupNs: Array[Int]): org.apache.spark.sql.catalyst.InternalRow = {
    val s = TextOps.gopherStats(text.toString, topNs, dupNs)
    val vals = new Array[Any](10 + topNs.length + dupNs.length)
    vals(0) = s.nWords
    vals(1) = s.meanWordLen
    vals(2) = s.hashRatio
    vals(3) = s.ellipsisRatio
    vals(4) = s.bulletLineRatio
    vals(5) = s.ellipsisLineRatio
    vals(6) = s.alphaWordRatio
    vals(7) = s.stopwordHits
    vals(8) = s.dupLineRatio
    vals(9) = s.dupLineCharRatio
    var i = 0
    while (i < topNs.length) { vals(10 + i) = s.topNgram(i); i += 1 }
    while (i - topNs.length < dupNs.length) {
      vals(10 + i) = s.dupNgram(i - topNs.length); i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
}

/**
 * gopher_keep(text) -> boolean: the complete Gopher keep decision as ONE
 * short-circuiting kernel ([[TextOps.gopherKeep]]). Always
 * equals the conjunction of threshold checks over `gopher_signals` fields
 * (bit-identical stats), but a rejected document exits at its first
 * violated stage — which a struct-valued expression cannot do. Use this
 * for pure filtering; `gopher_signals` for the audit projection. Putting
 * the decision in one scalar also keeps `filter(col("keep"))` pushdown
 * cheap: a 21-conjunct predicate over struct fields would re-evaluate the
 * struct kernel per conjunct inside FilterExec (no subexpression
 * elimination within a single predicate).
 */
case class GopherKeep(child: Expression, params: TextOps.GopherParams)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "gopher_keep"
  override def nullSafeEval(v: Any): Any =
    TextOps.gopherKeep(v.asInstanceOf[UTF8String].toString, params)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // binary name: GopherParams nests in the TextOps object, so the
    // generated Java must reference TextOps$GopherParams
    val pRef = ctx.addReferenceObj("gopherParams", params,
      "graft.core.text.TextOps$GopherParams")
    defineCodeGen(ctx, ev, c =>
      s"graft.core.text.TextOps.gopherKeep($c.toString(), $pRef)")
  }
  override protected def withNewChildInternal(c: Expression): GopherKeep = copy(child = c)
}

/** Wordlist (badwords) occurrence count — the C4 blocklist-filter
  * signal: normalized-token hits against a fixed term list (single terms
  * by set membership, phrases at every start position). `terms` is a
  * build-time Seq so structurally identical expressions canonicalize
  * equal; the normalized [[TextOps.TermList]] builds
  * lazily and embeds per executor via addReferenceObj. */
case class TermHits(child: Expression, terms: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "term_hits"
  @transient private lazy val tl = new TextOps.TermList(terms)
  override def nullSafeEval(v: Any): Any =
    TextOps.termHits(v.asInstanceOf[UTF8String].toString, tl)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termList", tl,
      "graft.core.text.TextOps.TermList")
    defineCodeGen(ctx, ev, c =>
      s"graft.core.text.TextOps.termHits($c.toString(), $ref)")
  }
  override protected def withNewChildInternal(c: Expression): TermHits = copy(child = c)
}
