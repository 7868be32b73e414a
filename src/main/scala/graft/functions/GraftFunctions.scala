package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graftshim.shims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{log => slog, lit, typedLit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.sketch.SketchOps

/**
 * Public Column API for the graft sketch engine, plus SQL registration.
 *
 * Usage (DataFrame):
 * {{{
 *   import graft.functions.GraftFunctions._
 *   pages.groupBy(col("host")).agg(hll_build(xxh3_64(col("url"))).as("sk"))
 * }}}
 * Usage (SQL): `GraftFunctions.registerAll(spark)` then
 * `SELECT hll_est(hll_build(xxh3_64(url))) FROM pages`.
 *
 * Every function is declared once, as its row in [[builders]]; SQL
 * registration, [[GraftExtensions]] and the Column API below all build
 * through that row.
 */
object GraftFunctions {

  /** A literal argument of a SQL function: its name, its type as a message
    * names it, how a literal's value reads as it (None: it does not), and
    * its default (None: required). */
  private[functions] final case class Arg(name: String, kind: String,
      read: Any => Option[Any], default: Option[Any] = None) {
    def or(d: Any): Arg = copy(default = Some(d))
    def value(e: Expression): Option[Any] =
      if (e.foldable) Option(e.eval()).flatMap(read) else None
  }

  private def int(name: String) = Arg(name, "int", v => v.toString.toIntOption)
  private def double(name: String) = Arg(name, "double", v => v.toString.toDoubleOption)
  private def string(name: String) =
    Arg(name, "string", { case s: UTF8String => Some(s.toString); case _ => None })
  private def binary(name: String) =
    Arg(name, "binary", { case b: Array[Byte] => Some(b); case _ => None })
  private def strings(name: String) = Arg(name, "array<string>", {
    case a: ArrayData => Some(a.toArray[UTF8String](StringType).map(_.toString).toSeq)
    case _ => None
  })

  /** One function: its column arguments `cols`, then its literal `args`
    * (trailing ones may have defaults), built into an expression by `make`.
    * Applying it checks the argument count and each literal argument, and
    * reports a failed check — its own or one `make` raises with
    * `require` — with the function's usage. */
  private[functions] final case class Builder(name: String, cols: Seq[String], args: Seq[Arg],
      make: (Seq[Expression], Seq[Any]) => Expression) extends (Seq[Expression] => Expression) {
    def usage: String = {
      val optional = args.filter(_.default.nonEmpty).map(a => s"[, ${a.name}")
      val required = cols ++ args.filter(_.default.isEmpty).map(_.name)
      s"$name(${required.mkString(", ")}${optional.mkString}${"]" * optional.size})"
    }
    override def apply(es: Seq[Expression]): Expression = {
      val (min, max) = (cols.size + args.count(_.default.isEmpty), cols.size + args.size)
      if (es.size < min || es.size > max)
        fail(s"takes ${if (min == max) min else s"$min to $max"} " +
          s"argument${if (max == 1) "" else "s"}, got ${es.size}")
      val values = args.zipWithIndex.map { case (a, i) =>
        es.lift(cols.size + i).fold(a.default.get)(e => a.value(e).getOrElse(
          fail(s"${a.name} must be a literal ${a.kind}, got ${e.sql}")))
      }
      try make(es.take(cols.size), values)
      catch { case e: IllegalArgumentException => fail(e.getMessage.stripPrefix("requirement failed: ")) }
    }
    private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$usage: $msg")
  }

  /** A row whose expression is one [[KernelCall]] of `target.method` over
    * the columns `cols` (name -> input type) and the literal `args`, after
    * `check` has accepted their values. */
  private def kernel(name: String, target: AnyRef, method: String, result: DataType,
      cols: Seq[(String, DataType)], args: Seq[Arg] = Nil, returnsNull: Boolean = false,
      prettyName: String = "", check: Seq[Any] => Unit = _ => ()): Builder =
    Builder(name, cols.map(_._1), args, (es, values) => {
      check(values)
      KernelCall(if (prettyName.isEmpty) name else prettyName, target.getClass, method,
        result, cols.map(_._2), es, values.map(Literal(_)), returnsNull)
    })

  /** A [[TextKernels]] row over one string column `text`. */
  private def text(name: String, method: String, result: DataType, args: Seq[Arg] = Nil,
      check: Seq[Any] => Unit = _ => ()): Builder =
    kernel(name, TextKernels, method, result, Seq("text" -> StringType), args, check = check)

  private def agg(name: String, cols: String*)(f: Seq[Expression] => AggregateFunction): Builder =
    Builder(name, cols, Nil, (es, _) => f(es).toAggregateExpression())

  private def arrayOf(t: DataType): DataType = ArrayType(t, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val Str = StringType
  private val Bin = BinaryType
  private val Longs = arrayOf(LongType)
  private val Doubles = arrayOf(DoubleType)
  private val Strs = arrayOf(StringType)
  private val FreqRows = arrayOf(struct("hash" -> LongType, "lo" -> LongType, "hi" -> LongType))

  /** Every function, SQL-callable by its name. */
  private[functions] val builders: Seq[Builder] = Seq(
    // ----- hashing, net and page extraction -----
    Builder("xxh3_64", Seq("value"), Nil, (es, _) => Xxh3(es.head)),
    kernel("truncate_ip", TextKernels, "truncateIp", Bin, Seq("ip" -> Str), returnsNull = true),
    kernel("normalize_domain", TextKernels, "normalizeDomain", Str, Seq("domain" -> Str),
      Seq(int("numLabels").or(1)), returnsNull = true),
    kernel("unescape_domain", TextKernels, "unescapeDomain", Str, Seq("domain" -> Str)),
    kernel("host_of_url", graft.core.net.DomainUtil, "hostOfUrlUTF8", Str, Seq("url" -> Str),
      returnsNull = true),
    kernel("domain_suffixes", TextKernels, "domainSuffixes", Strs, Seq("host" -> Str)),
    kernel("canonicalize_url", TextKernels, "canonicalizeUrl", Str, Seq("url" -> Str)),
    kernel("robots_rules", TextKernels, "robotsRules",
      arrayOf(struct("allow" -> BooleanType, "pattern" -> Str)), Seq("content" -> Str),
      Seq(string("agent"))),
    kernel("robots_match", TextKernels, "robotsMatch", BooleanType,
      Seq("pattern" -> Str, "path" -> Str)),
    kernel("extract_text", TextKernels, "extractText", Str, Seq("html" -> Bin),
      returnsNull = true),
    kernel("http_body", graft.core.warc.WarcParser, "httpBody", Bin, Seq("payload" -> Bin)),
    kernel("html_text", TextKernels, "htmlText", Str, Seq("html" -> Str)),
    kernel("html_title", TextKernels, "htmlTitle", Str, Seq("html" -> Str), returnsNull = true),
    kernel("html_links", TextKernels, "htmlLinks", Strs, Seq("html" -> Str)),
    kernel("html_anchors", TextKernels, "htmlAnchors",
      arrayOf(struct("href" -> Str, "text" -> Str)), Seq("html" -> Str)),
    // ----- text analysis -----
    text("simhash64", "simhash64", LongType),
    text("fingerprint64", "fingerprint64", LongType),
    text("winnow_min64", "winnowMin64", LongType),
    text("lang_id", "langId", Str),
    text("lang_id_conf", "langIdConf", struct("code" -> Str, "margin" -> DoubleType)),
    text("nfc", "nfc", Str),
    text("nfkc", "nfkc", Str),
    text("fix_mojibake", "fixMojibake", Str),
    text("mojibake_score", "mojibakeScore", IntegerType),
    text("token_count_bpeish", "tokenCountBpeish", IntegerType),
    text("word_count", "wordCount", IntegerType),
    text("stopword_hits", "stopwordHits", IntegerType),
    text("alpha_ratio", "alphaRatio", DoubleType),
    text("punct_ratio", "punctRatio", DoubleType),
    text("stopword_ratio", "stopwordRatio", DoubleType),
    text("mean_word_len", "meanWordLen", DoubleType),
    text("max_token_ratio", "maxTokenRatio", DoubleType),
    text("dup_line_ratio", "dupLineRatio", DoubleType),
    text("dup_line_char_ratio", "dupLineCharRatio", DoubleType),
    text("char_entropy", "charEntropy", DoubleType),
    text("bullet_line_ratio", "bulletLineRatio", DoubleType),
    text("ellipsis_line_ratio", "ellipsisLineRatio", DoubleType),
    text("alpha_word_ratio", "alphaWordRatio", DoubleType),
    text("symbol_word_ratio", "symbolWordRatio", DoubleType, Seq(string("symbol"))),
    text("top_ngram_char_ratio", "topNgramCharRatio", DoubleType, Seq(int("n").or(2)),
      { case Seq(n: Int) => require(n >= 1, "n must be >= 1") }),
    text("dup_ngram_char_ratio", "dupNgramCharRatio", DoubleType, Seq(int("n").or(5)),
      { case Seq(n: Int) => require(n >= 1, "n must be >= 1") }),
    text("winnow_set", "winnowSet", Longs, Seq(int("k").or(8), int("w").or(4)),
      { case Seq(k: Int, w: Int) => require(k >= 2 && w >= 1, "winnow needs k >= 2 and w >= 1") }),
    text("rolling_kgram_hashes", "rollingKgramHashes", Longs, Seq(int("k"), int("stride").or(1)),
      { case Seq(k: Int, s: Int) =>
        require(k >= 2, "window length k must be >= 2")
        require(s >= 1, "stride must be >= 1") }),
    text("chunk_text", "chunks", Strs, Seq(int("maxTokens"), int("overlap").or(0)),
      { case Seq(m: Int, o: Int) =>
        require(m >= 1, "maxTokens must be >= 1")
        require(o >= 0 && o < m, "overlap must be in [0, maxTokens)") }),
    text("word_shingles", "shingles", Strs, Seq(int("n").or(3)),
      { case Seq(n: Int) => require(n >= 1, "shingle size must be >= 1") }),
    text("word_ngram_counts", "wordNgramCounts", arrayOf(struct("gram" -> Str, "m" -> LongType)),
      Seq(int("n").or(2)), { case Seq(n: Int) => require(n >= 1, "gram size must be >= 1") }),
    text("hashed_ngram_features", "hashedNgramFeatures",
      arrayOf(struct("idx" -> IntegerType, "v" -> LongType)), Seq(int("dim"), int("maxN").or(2)),
      { case Seq(d: Int, m: Int) =>
        require(d >= 2, "feature dim must be >= 2")
        require(m >= 1 && m <= 5, "maxN must be in [1, 5]") }),
    text("text_segments", "segments", Strs),
    kernel("minhash_sig", TextKernels, "minhashSig", Longs, Seq("shingles" -> Strs),
      Seq(int("k").or(32)),
      check = { case Seq(k: Int) => require(k >= 1 && k <= 1024, s"numHashes must be in [1, 1024], got $k") }),
    kernel("merge_spans", TextKernels, "mergeSpans",
      arrayOf(struct("span_start" -> LongType, "span_end" -> LongType)),
      Seq("positions" -> ArrayType(LongType)), Seq(int("winLen")),
      check = { case Seq(w: Int) => require(w >= 1, "winLen must be >= 1") }),
    kernel("splice_out", TextKernels, "spliceOut", Str, Seq("text" -> Str,
      "spans" -> ArrayType(StructType(Seq(
        StructField("span_start", LongType), StructField("span_end", LongType)))))),
    Builder("term_hits", Seq("text"), Seq(strings("terms")), (es, v) =>
      TermHits(es.head, v.head.asInstanceOf[Seq[String]])),
    Builder("gopher_signals", Seq("text"), Nil, (es, _) =>
      GopherSignalsStruct(es.head, Seq(2, 3, 4), Seq(5, 6, 7, 8, 9, 10))),
    // paper-default thresholds; GopherThresholds() is the single source of
    // truth for the published Table A1 values (the operators package also
    // depends on this one — an intentional same-module cycle beats
    // duplicating the defaults)
    Builder("gopher_keep", Seq("text"), Nil, (es, _) =>
      GopherKeep(es.head, graft.operators.GopherThresholds().toParams)),
    // ----- sorted-array set and sparse-vector kernels -----
    kernel("sorted_intersect_count", VectorKernels, "sortedIntersectCount", LongType,
      Seq("a" -> Longs, "b" -> Longs)),
    kernel("l2ap_prefix", VectorKernels, "l2apPrefix",
      arrayOf(struct("h" -> LongType, "w" -> DoubleType, "nx" -> DoubleType)),
      Seq("keys" -> Longs, "weights" -> Doubles), Seq(double("t"))),
    kernel("sorted_weighted_dot", VectorKernels, "sortedWeightedDot", DoubleType,
      Seq("ka" -> Longs, "wa" -> Doubles, "kb" -> Longs, "wb" -> Doubles)),
    // ----- estimators -----
    kernel("hll_est", SketchOps, "hllEst", LongType, Seq("sketch" -> Bin)),
    // named _ak to avoid shadowing Spark's builtin hll_union (which
    // operates on DataSketches-format bytes)
    kernel("hll_union_ak", SketchOps, "hllUnion", Bin, Seq("a" -> Bin, "b" -> Bin),
      prettyName = "hll_union"),
    kernel("cms_est", SketchOps, "cmsEst", LongType, Seq("sketch" -> Bin, "hash" -> LongType)),
    kernel("bloom_contains", SketchOps, "bloomContains", BooleanType,
      Seq("sketch" -> Bin, "hash" -> LongType)),
    // bloom_contains_lit(hash, <binary literal>): filter parsed once per
    // executor instead of per row — use for broadcast-style prefilters
    Builder("bloom_contains_lit", Seq("hash"), Seq(binary("filter")), (es, v) =>
      BloomContainsLit(es.head, v.head.asInstanceOf[Array[Byte]])),
    kernel("tdigest_quantile", SketchOps, "tdigestQuantile", DoubleType,
      Seq("sketch" -> Bin, "q" -> DoubleType)),
    kernel("tdigest_cdf", SketchOps, "tdigestCdf", DoubleType,
      Seq("sketch" -> Bin, "x" -> DoubleType)),
    kernel("kll_quantile", SketchOps, "kllQuantile", DoubleType,
      Seq("sketch" -> Bin, "q" -> DoubleType)),
    kernel("kll_rank", SketchOps, "kllRank", DoubleType, Seq("sketch" -> Bin, "x" -> DoubleType)),
    kernel("kll_splits", SketchKernels, "kllSplits", Doubles,
      Seq("sketch" -> Bin, "buckets" -> IntegerType)),
    kernel("kmv_est", SketchOps, "kmvEst", DoubleType, Seq("sketch" -> Bin)),
    kernel("kmv_hashes", SketchKernels, "kmvHashes", Longs, Seq("sketch" -> Bin)),
    kernel("kmv_jaccard", SketchOps, "kmvJaccard", DoubleType, Seq("a" -> Bin, "b" -> Bin)),
    kernel("kmv_union", SketchKernels, "kmvUnion", Bin, Seq("a" -> Bin, "b" -> Bin)),
    kernel("freq_items", SketchKernels, "freqItems", FreqRows, Seq("sketch" -> Bin)),
    kernel("freq_top", SketchKernels, "freqTop", FreqRows,
      Seq("sketch" -> Bin, "k" -> IntegerType)),
    kernel("freq_err", SketchOps, "fiErr", LongType, Seq("sketch" -> Bin)),
    kernel("freq_lower_bound", SketchOps, "fiLowerBound", LongType,
      Seq("sketch" -> Bin, "hash" -> LongType)),
    // ----- aggregates: build from raw values, merge stored sketch bytes -----
    agg("hll_build", "hash")(es => HllBuildAgg(es.head)),
    agg("hll_merge", "sketch")(es => HllMergeAgg(es.head)),
    agg("cms_build", "hash", "count")(es => CmsBuildAgg(es.head, es(1))),
    agg("cms_merge", "sketch")(es => CmsMergeAgg(es.head)),
    agg("bloom_build", "hash")(es => BloomBuildAgg(es.head)),
    agg("bloom_merge", "sketch")(es => BloomMergeAgg(es.head)),
    agg("tdigest_build", "x")(es => TDigestBuildAgg(es.head)),
    agg("tdigest_merge", "sketch")(es => TDigestMergeAgg(es.head)),
    agg("kll_build", "x")(es => KllBuildAgg(es.head)),
    agg("kll_merge", "sketch")(es => KllMergeAgg(es.head)),
    Builder("kmv_build", Seq("hash"), Seq(int("k").or(graft.core.sketch.Kmv.DefaultK)),
      (es, v) => KmvBuildAgg(es.head, v.head.asInstanceOf[Int]).toAggregateExpression()),
    agg("kmv_merge", "sketch")(es => KmvMergeAgg(es.head)),
    Builder("freq_build", Seq("hash", "weight"),
      Seq(int("k").or(graft.core.sketch.FreqItems.DefaultK)), (es, v) =>
        FreqItemsBuildAgg(es.head, es(1), v.head.asInstanceOf[Int]).toAggregateExpression()),
    agg("freq_merge", "sketch")(es => FreqItemsMergeAgg(es.head)),
    agg("vec_sum", "v")(es => VecSumAgg(es.head)))

  private lazy val byName: Map[String, Builder] = builders.map(b => b.name -> b).toMap

  /** The function `name` of [[builders]] over `args`: its columns, then
    * its literal arguments as `lit` columns, e.g.
    * `fn("minhash_sig", shingles, lit(64))`. */
  def fn(name: String, args: Column*): Column = column(byName(name)(args.map(expression)))

  // ----- scalar -----
  def xxh3_64(c: Column): Column = fn("xxh3_64", c)
  def truncate_ip(c: Column): Column = fn("truncate_ip", c)
  def normalize_domain(c: Column, numLabels: Int = 1): Column =
    fn("normalize_domain", c, lit(numLabels))
  def unescape_domain(c: Column): Column = fn("unescape_domain", c)
  def host_of_url(c: Column): Column = fn("host_of_url", c)
  def extract_text(c: Column): Column = fn("extract_text", c)

  /** magnitude = log(clients)/log(total) * 10 — deliberately unclamped, like
    * the reference (/root/reference/internal/dataset.go:110-114). */
  def magnitude(clients: Column, total: Column): Column =
    slog(clients.cast("double")) / slog(total.cast("double")) * lit(10.0)

  // ----- text analysis -----
  def simhash64(c: Column): Column = fn("simhash64", c)
  def fingerprint64(c: Column): Column = fn("fingerprint64", c)
  def winnow_min64(c: Column): Column = fn("winnow_min64", c)
  def lang_id(c: Column): Column = fn("lang_id", c)
  def lang_id_conf(c: Column): Column = fn("lang_id_conf", c)
  def html_text(c: Column): Column = fn("html_text", c)
  def nfc(c: Column): Column = fn("nfc", c)
  def nfkc(c: Column): Column = fn("nfkc", c)
  def fix_mojibake(c: Column): Column = fn("fix_mojibake", c)
  def mojibake_score(c: Column): Column = fn("mojibake_score", c)
  def html_title(c: Column): Column = fn("html_title", c)
  def html_links(c: Column): Column = fn("html_links", c)
  def html_anchors(c: Column): Column = fn("html_anchors", c)
  def robots_rules(content: Column, agent: String): Column =
    fn("robots_rules", content, lit(agent))
  def robots_match(pattern: Column, path: Column): Column = fn("robots_match", pattern, path)
  def term_hits(c: Column, terms: Seq[String]): Column = fn("term_hits", c, typedLit(terms))
  def token_count_bpeish(c: Column): Column = fn("token_count_bpeish", c)
  def alpha_ratio(c: Column): Column = fn("alpha_ratio", c)
  def punct_ratio(c: Column): Column = fn("punct_ratio", c)
  def canonicalize_url(c: Column): Column = fn("canonicalize_url", c)
  def winnow_set(c: Column, k: Int = 8, w: Int = 4): Column =
    fn("winnow_set", c, lit(k), lit(w))
  def minhash_sig(shingles: Column, k: Int): Column = fn("minhash_sig", shingles, lit(k))
  def chunk_text(c: Column, maxTokens: Int, overlap: Int = 0): Column =
    fn("chunk_text", c, lit(maxTokens), lit(overlap))
  def stopword_ratio(c: Column): Column = fn("stopword_ratio", c)
  def mean_word_len(c: Column): Column = fn("mean_word_len", c)
  def max_token_ratio(c: Column): Column = fn("max_token_ratio", c)
  def dup_line_ratio(c: Column): Column = fn("dup_line_ratio", c)
  def top_ngram_char_ratio(c: Column, n: Int): Column = fn("top_ngram_char_ratio", c, lit(n))
  def dup_ngram_char_ratio(c: Column, n: Int): Column = fn("dup_ngram_char_ratio", c, lit(n))
  def word_count(c: Column): Column = fn("word_count", c)
  def bullet_line_ratio(c: Column): Column = fn("bullet_line_ratio", c)
  def ellipsis_line_ratio(c: Column): Column = fn("ellipsis_line_ratio", c)
  def alpha_word_ratio(c: Column): Column = fn("alpha_word_ratio", c)
  def stopword_hits(c: Column): Column = fn("stopword_hits", c)
  def symbol_word_ratio(c: Column, symbol: String): Column =
    fn("symbol_word_ratio", c, lit(symbol))
  /** Every Gopher signal as one struct from ONE pass over the text (the
    * per-signal functions above re-tokenize per call). */
  def gopher_signals(c: Column, topNs: Seq[Int] = Seq(2, 3, 4),
                     dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): Column =
    column(GopherSignalsStruct(expression(c), topNs, dupNs))
  /** The full Gopher keep decision as one short-circuiting boolean kernel
    * (fast path for pure filtering; see [[GopherKeep]]). */
  def gopher_keep(c: Column, p: graft.core.text.TextOps.GopherParams): Column =
    column(GopherKeep(expression(c), p))
  def rolling_kgram_hashes(c: Column, k: Int, stride: Int = 1): Column =
    fn("rolling_kgram_hashes", c, lit(k), lit(stride))
  def merge_spans(positions: Column, winLen: Int): Column =
    fn("merge_spans", positions, lit(winLen))
  def http_body(c: Column): Column = fn("http_body", c)
  def splice_out(text: Column, spans: Column): Column = fn("splice_out", text, spans)
  def dup_line_char_ratio(c: Column): Column = fn("dup_line_char_ratio", c)
  def char_entropy(c: Column): Column = fn("char_entropy", c)
  def word_ngram_counts(c: Column, n: Int): Column = fn("word_ngram_counts", c, lit(n))
  def hashed_ngram_features(c: Column, dim: Int, maxN: Int = 2): Column =
    fn("hashed_ngram_features", c, lit(dim), lit(maxN))
  def linear_score_lit(feats: Column, weights: Array[Double], bias: Double): Column =
    column(LinearScoreLit(expression(feats), weights, bias))
  def l2ap_prefix(keys: Column, weights: Column, t: Double): Column =
    fn("l2ap_prefix", keys, weights, lit(t))
  def sorted_weighted_dot(ka: Column, wa: Column, kb: Column, wb: Column): Column =
    fn("sorted_weighted_dot", ka, wa, kb, wb)

  // ----- estimators -----
  def hll_est(sketch: Column): Column = fn("hll_est", sketch)
  def cms_est(sketch: Column, hash: Column): Column = fn("cms_est", sketch, hash)
  def bloom_contains(sketch: Column, hash: Column): Column = fn("bloom_contains", sketch, hash)
  def tdigest_quantile(sketch: Column, q: Column): Column = fn("tdigest_quantile", sketch, q)
  def tdigest_cdf(sketch: Column, x: Column): Column = fn("tdigest_cdf", sketch, x)
  def kll_quantile(sketch: Column, q: Column): Column = fn("kll_quantile", sketch, q)
  def kll_rank(sketch: Column, x: Column): Column = fn("kll_rank", sketch, x)
  def kll_splits(sketch: Column, buckets: Column): Column = fn("kll_splits", sketch, buckets)
  /** AK-spec scalar union — named _ak to avoid shadowing Spark's builtin
    * hll_union (which operates on DataSketches-format bytes). */
  def hll_union_ak(a: Column, b: Column): Column = fn("hll_union_ak", a, b)
  def kmv_est(sketch: Column): Column = fn("kmv_est", sketch)
  def kmv_hashes(sketch: Column): Column = fn("kmv_hashes", sketch)
  def kmv_jaccard(a: Column, b: Column): Column = fn("kmv_jaccard", a, b)
  def kmv_union(a: Column, b: Column): Column = fn("kmv_union", a, b)
  def freq_items(sketch: Column): Column = fn("freq_items", sketch)
  def freq_top(sketch: Column, k: Column): Column = fn("freq_top", sketch, k)
  def freq_err(sketch: Column): Column = fn("freq_err", sketch)
  def freq_lower_bound(sketch: Column, hash: Column): Column =
    fn("freq_lower_bound", sketch, hash)

  // ----- aggregates (build from raw values) -----
  def hll_build(hash: Column): Column = fn("hll_build", hash)
  def cms_build(hash: Column, count: Column): Column = fn("cms_build", hash, count)
  def bloom_build(hash: Column): Column = fn("bloom_build", hash)
  def tdigest_build(x: Column): Column = fn("tdigest_build", x)
  def kll_build(x: Column): Column = fn("kll_build", x)
  def kmv_build(hash: Column, k: Int = graft.core.sketch.Kmv.DefaultK): Column =
    fn("kmv_build", hash, lit(k))
  def freq_build(hash: Column, weight: Column,
      k: Int = graft.core.sketch.FreqItems.DefaultK): Column =
    fn("freq_build", hash, weight, lit(k))

  // ----- aggregates (merge stored sketch bytes) -----
  def hll_merge(sketch: Column): Column = fn("hll_merge", sketch)
  def cms_merge(sketch: Column): Column = fn("cms_merge", sketch)
  def bloom_merge(sketch: Column): Column = fn("bloom_merge", sketch)
  def tdigest_merge(sketch: Column): Column = fn("tdigest_merge", sketch)
  def kll_merge(sketch: Column): Column = fn("kll_merge", sketch)
  def kmv_merge(sketch: Column): Column = fn("kmv_merge", sketch)
  def freq_merge(sketch: Column): Column = fn("freq_merge", sketch)
  def vec_sum(v: Column): Column = fn("vec_sum", v)

  /** Register every function for SQL use in this session. */
  def registerAll(spark: SparkSession): Unit =
    builders.foreach(b =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(b.name, b, "built-in"))
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the same
  * functions at session build time (for spark-submit deployments). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.builders.foreach { b =>
      ext.injectFunction((FunctionIdentifier(b.name), new ExpressionInfo("graft", b.name), b))
    }
  }
}
