package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, XXH64}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.net.{DomainUtil, IpUtil, RobotsTxt, UrlUtil}
import graft.core.sketch._
import graft.core.text.{HtmlExtract, TextOps, UnicodeClean}
import FunctionCases._

/** Every SQL function of [[GraftFunctions.builders]] over its one input row
  * of [[FunctionCases]]: its output field is the one the hand-written
  * expression gave before it became a [[KernelCall]] row, and its value is
  * the same under whole-stage codegen (no interpreted fallback allowed),
  * with every input a literal (constant-folded, so interpreted), and from
  * its kernel called directly. */
class FunctionTableSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark

  /** Output fields over NOT NULL columns, as `StructField.toString`. */
  private val fields: Map[String, String] = Map(
    "xxh3_64" -> "StructField(xxh3_64(url),LongType,false)",
    "truncate_ip" -> "StructField(truncate_ip(ip),BinaryType,true)",
    "normalize_domain" -> "StructField(normalize_domain(d),StringType,true)",
    "unescape_domain" -> "StructField(unescape_domain(d),StringType,false)",
    "host_of_url" -> "StructField(host_of_url(url),StringType,true)",
    "domain_suffixes" -> "StructField(domain_suffixes(host),ArrayType(StringType,false),false)",
    "canonicalize_url" -> "StructField(canonicalize_url(url),StringType,false)",
    "robots_rules" -> "StructField(robots_rules(content),ArrayType(StructType(StructField(allow,BooleanType,false),StructField(pattern,StringType,false)),false),false)",
    "robots_match" -> "StructField(robots_match(pattern, path),BooleanType,false)",
    "extract_text" -> "StructField(extract_text(html),StringType,true)",
    "http_body" -> "StructField(http_body(payload),BinaryType,false)",
    "html_text" -> "StructField(html_text(html),StringType,false)",
    "html_title" -> "StructField(html_title(html),StringType,true)",
    "html_links" -> "StructField(html_links(html),ArrayType(StringType,false),false)",
    "html_anchors" -> "StructField(html_anchors(html),ArrayType(StructType(StructField(href,StringType,false),StructField(text,StringType,false)),false),false)",
    "simhash64" -> "StructField(simhash64(text),LongType,false)",
    "fingerprint64" -> "StructField(fingerprint64(text),LongType,false)",
    "winnow_min64" -> "StructField(winnow_min64(text),LongType,false)",
    "lang_id" -> "StructField(lang_id(text),StringType,false)",
    "lang_id_conf" -> "StructField(lang_id_conf(text),StructType(StructField(code,StringType,false),StructField(margin,DoubleType,false)),false)",
    "nfc" -> "StructField(nfc(text),StringType,false)",
    "nfkc" -> "StructField(nfkc(text),StringType,false)",
    "fix_mojibake" -> "StructField(fix_mojibake(text),StringType,false)",
    "mojibake_score" -> "StructField(mojibake_score(text),IntegerType,false)",
    "token_count_bpeish" -> "StructField(token_count_bpeish(text),IntegerType,false)",
    "word_count" -> "StructField(word_count(text),IntegerType,false)",
    "stopword_hits" -> "StructField(stopword_hits(text),IntegerType,false)",
    "alpha_ratio" -> "StructField(alpha_ratio(text),DoubleType,false)",
    "punct_ratio" -> "StructField(punct_ratio(text),DoubleType,false)",
    "stopword_ratio" -> "StructField(stopword_ratio(text),DoubleType,false)",
    "mean_word_len" -> "StructField(mean_word_len(text),DoubleType,false)",
    "max_token_ratio" -> "StructField(max_token_ratio(text),DoubleType,false)",
    "dup_line_ratio" -> "StructField(dup_line_ratio(text),DoubleType,false)",
    "dup_line_char_ratio" -> "StructField(dup_line_char_ratio(text),DoubleType,false)",
    "char_entropy" -> "StructField(char_entropy(text),DoubleType,false)",
    "bullet_line_ratio" -> "StructField(bullet_line_ratio(text),DoubleType,false)",
    "ellipsis_line_ratio" -> "StructField(ellipsis_line_ratio(text),DoubleType,false)",
    "alpha_word_ratio" -> "StructField(alpha_word_ratio(text),DoubleType,false)",
    "symbol_word_ratio" -> "StructField(symbol_word_ratio(text),DoubleType,false)",
    "top_ngram_char_ratio" -> "StructField(top_ngram_char_ratio(text),DoubleType,false)",
    "dup_ngram_char_ratio" -> "StructField(dup_ngram_char_ratio(text),DoubleType,false)",
    "winnow_set" -> "StructField(winnow_set(text),ArrayType(LongType,false),false)",
    "rolling_kgram_hashes" -> "StructField(rolling_kgram_hashes(text),ArrayType(LongType,false),false)",
    "chunk_text" -> "StructField(chunk_text(text),ArrayType(StringType,false),false)",
    "word_shingles" -> "StructField(word_shingles(text),ArrayType(StringType,false),false)",
    "word_ngram_counts" -> "StructField(word_ngram_counts(text),ArrayType(StructType(StructField(gram,StringType,false),StructField(m,LongType,false)),false),false)",
    "hashed_ngram_features" -> "StructField(hashed_ngram_features(text),ArrayType(StructType(StructField(idx,IntegerType,false),StructField(v,LongType,false)),false),false)",
    "text_segments" -> "StructField(text_segments(text),ArrayType(StringType,false),false)",
    "minhash_sig" -> "StructField(minhash_sig(shingles),ArrayType(LongType,false),false)",
    "merge_spans" -> "StructField(merge_spans(positions),ArrayType(StructType(StructField(span_start,LongType,false),StructField(span_end,LongType,false)),false),false)",
    "splice_out" -> "StructField(splice_out(text, spans),StringType,false)",
    "term_hits" -> "StructField(term_hits(text),IntegerType,false)",
    "gopher_signals" -> "StructField(gopher_signals(text),StructType(StructField(n_words,LongType,false),StructField(mean_word_len,DoubleType,false),StructField(hash_ratio,DoubleType,false),StructField(ellipsis_ratio,DoubleType,false),StructField(bullet_line_ratio,DoubleType,false),StructField(ellipsis_line_ratio,DoubleType,false),StructField(alpha_word_ratio,DoubleType,false),StructField(stopword_hits,IntegerType,false),StructField(dup_line_ratio,DoubleType,false),StructField(dup_line_char_ratio,DoubleType,false),StructField(top_2gram_ratio,DoubleType,false),StructField(top_3gram_ratio,DoubleType,false),StructField(top_4gram_ratio,DoubleType,false),StructField(dup_5gram_ratio,DoubleType,false),StructField(dup_6gram_ratio,DoubleType,false),StructField(dup_7gram_ratio,DoubleType,false),StructField(dup_8gram_ratio,DoubleType,false),StructField(dup_9gram_ratio,DoubleType,false),StructField(dup_10gram_ratio,DoubleType,false)),false)",
    "gopher_keep" -> "StructField(gopher_keep(text),BooleanType,false)",
    "sorted_intersect_count" -> "StructField(sorted_intersect_count(a, b),LongType,false)",
    "l2ap_prefix" -> "StructField(l2ap_prefix(keys, weights),ArrayType(StructType(StructField(h,LongType,false),StructField(w,DoubleType,false),StructField(nx,DoubleType,false)),false),false)",
    "sorted_weighted_dot" -> "StructField(sorted_weighted_dot(ka, wa, kb, wb),DoubleType,false)",
    "hll_est" -> "StructField(hll_est(sk),LongType,false)",
    "hll_union_ak" -> "StructField(hll_union(a, b),BinaryType,false)",
    "cms_est" -> "StructField(cms_est(sk, hash),LongType,false)",
    "bloom_contains" -> "StructField(bloom_contains(sk, hash),BooleanType,false)",
    "bloom_contains_lit" -> "StructField(bloom_contains_lit(hash),BooleanType,false)",
    "tdigest_quantile" -> "StructField(tdigest_quantile(sk, q),DoubleType,false)",
    "tdigest_cdf" -> "StructField(tdigest_cdf(sk, x),DoubleType,false)",
    "kll_quantile" -> "StructField(kll_quantile(sk, q),DoubleType,false)",
    "kll_rank" -> "StructField(kll_rank(sk, x),DoubleType,false)",
    "kll_splits" -> "StructField(kll_splits(sk, buckets),ArrayType(DoubleType,false),false)",
    "kmv_est" -> "StructField(kmv_est(sk),DoubleType,false)",
    "kmv_hashes" -> "StructField(kmv_hashes(sk),ArrayType(LongType,false),false)",
    "kmv_jaccard" -> "StructField(kmv_jaccard(a, b),DoubleType,false)",
    "kmv_union" -> "StructField(kmv_union(a, b),BinaryType,false)",
    "freq_items" -> "StructField(freq_items(sk),ArrayType(StructType(StructField(hash,LongType,false),StructField(lo,LongType,false),StructField(hi,LongType,false)),false),false)",
    "freq_top" -> "StructField(freq_top(sk, k),ArrayType(StructType(StructField(hash,LongType,false),StructField(lo,LongType,false),StructField(hi,LongType,false)),false),false)",
    "freq_err" -> "StructField(freq_err(sk),LongType,false)",
    "freq_lower_bound" -> "StructField(freq_lower_bound(sk, hash),LongType,false)",
    "hll_build" -> "StructField(hll_build(hash),BinaryType,true)",
    "hll_merge" -> "StructField(hll_merge(sk),BinaryType,true)",
    "cms_build" -> "StructField(cms_build(hash, count),BinaryType,true)",
    "cms_merge" -> "StructField(cms_merge(sk),BinaryType,true)",
    "bloom_build" -> "StructField(bloom_build(hash),BinaryType,true)",
    "bloom_merge" -> "StructField(bloom_merge(sk),BinaryType,true)",
    "tdigest_build" -> "StructField(tdigest_build(x),BinaryType,true)",
    "tdigest_merge" -> "StructField(tdigest_merge(sk),BinaryType,true)",
    "kll_build" -> "StructField(kll_build(x),BinaryType,true)",
    "kll_merge" -> "StructField(kll_merge(sk),BinaryType,true)",
    "kmv_build" -> "StructField(kmv_build(hash),BinaryType,true)",
    "kmv_merge" -> "StructField(kmv_merge(sk),BinaryType,true)",
    "freq_build" -> "StructField(freq_build(hash, weight),BinaryType,true)",
    "freq_merge" -> "StructField(freq_merge(sk),BinaryType,true)",
    "vec_sum" -> "StructField(vec_sum(v),ArrayType(DoubleType,false),true)")

  private def grams(s: String, n: Int): List[String] =
    s.split(" ", -1).sliding(n).map(_.mkString(" ")).toList
  private def freqRows(s: FreqItems, items: Seq[(Long, Long)]): List[Any] =
    items.map { case (h, c) => List(h, c, c + s.errBound) }.toList
  private def bytes[T](sketch: T)(f: T => Unit)(out: T => Array[Byte]): Array[Byte] = {
    f(sketch); out(sketch)
  }

  /** Each function's value over its input row, from the kernel itself. */
  private lazy val want: Map[String, Any] = Map(
    "xxh3_64" -> graft.core.hash.XXH3.hashString("https://example.com/a"),
    "truncate_ip" -> IpUtil.truncate("192.168.1.77"),
    "normalize_domain" -> DomainUtil.normalize("WWW.Example.COM.", 2),
    "unescape_domain" -> DomainUtil.unescape("a\\065b\\x41.com"),
    "host_of_url" ->
      DomainUtil.hostOfUrlUTF8(UTF8String.fromString("https://WWW.Example.com:8080/a?b")).toString,
    "domain_suffixes" -> List("a.b.example.com", "b.example.com", "example.com", "com"),
    "canonicalize_url" -> UrlUtil.canonicalize("HTTP://Example.COM:80/a#frag"),
    "robots_rules" -> RobotsTxt.rulesFor(robots, "bot").map(r => List(r.allow, r.pattern)).toList,
    "robots_match" -> RobotsTxt.matches("/a*b$", "/axxb"),
    "extract_text" -> "hello wörld",
    "http_body" -> "<p>body</p>".getBytes("UTF-8"),
    "html_text" -> HtmlExtract.text(html),
    "html_title" -> HtmlExtract.title(html),
    "html_links" -> HtmlExtract.links(html).toList,
    "html_anchors" -> HtmlExtract.anchors(html).map { case (a, b) => List(a, b) }.toList,
    "simhash64" -> TextOps.simhash64(text),
    "fingerprint64" -> TextOps.fingerprint64(text),
    "winnow_min64" -> TextOps.winnowMin64(text),
    "lang_id" -> TextOps.langId(text),
    "lang_id_conf" -> { val (c, m) = TextOps.langIdConf(text); List(c, m) },
    "nfc" -> UnicodeClean.nfc("é ﬁ"),
    "nfkc" -> UnicodeClean.nfkc("é ﬁ"),
    "fix_mojibake" -> UnicodeClean.fixMojibake("cafÃ©"),
    "mojibake_score" -> UnicodeClean.mojibakeScore("cafÃ©"),
    "token_count_bpeish" -> TextOps.tokenCountBpeish(text),
    "word_count" -> TextOps.wordCount(text),
    "stopword_hits" -> TextOps.stopwordHits(text),
    "alpha_ratio" -> TextOps.alphaRatio(text),
    "punct_ratio" -> TextOps.punctRatio(text),
    "stopword_ratio" -> TextOps.stopwordRatio(text),
    "mean_word_len" -> TextOps.meanWordLen(text),
    "max_token_ratio" -> TextOps.maxTokenRatio(text),
    "dup_line_ratio" -> TextOps.dupLineRatio(text),
    "dup_line_char_ratio" -> TextOps.dupLineCharRatio(text),
    "char_entropy" -> TextOps.charEntropy(text),
    "bullet_line_ratio" -> TextOps.bulletLineRatio(text),
    "ellipsis_line_ratio" -> TextOps.ellipsisLineRatio(text),
    "alpha_word_ratio" -> TextOps.alphaWordRatio(text),
    "symbol_word_ratio" -> TextOps.symbolWordRatio(text, "#"),
    "top_ngram_char_ratio" -> TextOps.topNgramCharRatio(text, 2),
    "dup_ngram_char_ratio" -> TextOps.dupNgramCharRatio(text, 3),
    "winnow_set" -> TextOps.winnow(text, 6, 3).toList,
    "rolling_kgram_hashes" -> TextOps.rollingKgramHashes(text, 8, 5).toList,
    "chunk_text" -> TextOps.chunks(text, 4, 1).toList,
    "word_shingles" -> grams(text, 3).distinct,
    "word_ngram_counts" -> {
      val g = grams(text, 2); g.distinct.map(x => List(x, g.count(_ == x).toLong))
    },
    "hashed_ngram_features" -> (grams(text, 1) ++ grams(text, 2))
      .groupBy(TextKernels.bucketOf(_, 64)).toList.sortBy(_._1)
      .map { case (i, gs) => List(i, gs.size.toLong) },
    "text_segments" -> graft.core.text.Bpe.segments(text).toList,
    "minhash_sig" -> {
      val hs = Seq("the cat", "cat and", "and the").map(graft.core.hash.XXH3.hashString)
      (0 until 8).map(j => hs.map(h => XXH64.hashLong(h, XXH64.hashInt(j, 42L))).min).toList
    },
    "merge_spans" -> TextOps.mergeSpans(Array(20L, 0L, 3L), 5).grouped(2).map(_.toList).toList,
    "splice_out" -> TextOps.spliceOut("0123456789", Array(2L, 7L), Array(5L, 8L)),
    "term_hits" -> TextOps.termHits(text, new TextOps.TermList(Seq("cat", "the dog"))),
    "gopher_signals" -> {
      val s = TextOps.gopherStats(text, Array(2, 3, 4), Array(5, 6, 7, 8, 9, 10))
      List(s.nWords, s.meanWordLen, s.hashRatio, s.ellipsisRatio, s.bulletLineRatio,
        s.ellipsisLineRatio, s.alphaWordRatio, s.stopwordHits, s.dupLineRatio,
        s.dupLineCharRatio) ++ s.topNgram.toList ++ s.dupNgram.toList
    },
    "gopher_keep" -> TextOps.gopherKeep(text, graft.operators.GopherThresholds().toParams),
    "sorted_intersect_count" -> 2L,
    "l2ap_prefix" -> {
      val w = Seq(0.6, 0.64)
      val s1 = w(0) * w(0)
      List(List(1L, w(0), math.sqrt(1.0 - s1)),
        List(2L, w(1), math.sqrt(math.max(0.0, (1.0 - s1) - w(1) * w(1)))))
    },
    "sorted_weighted_dot" -> (0.25 * 4.0 + 2.0 * 0.5),
    "hll_est" -> Hll.fromBytes(hllA).estimate,
    "hll_union_ak" -> Hll.unionBytes(hllA, hllB),
    "cms_est" -> CountMin.fromBytes(cms).estimate(7L),
    "bloom_contains" -> BloomFilter.fromBytes(bloom).mightContain(7L),
    "bloom_contains_lit" -> BloomFilter.fromBytes(bloom).mightContain(9L),
    "tdigest_quantile" -> TDigest.fromBytes(tdigest).quantile(0.5),
    "tdigest_cdf" -> TDigest.fromBytes(tdigest).cdf(10.0),
    "kll_quantile" -> Kll.fromBytes(kll).quantile(0.5),
    "kll_rank" -> Kll.fromBytes(kll).rank(100.0),
    "kll_splits" -> SketchOps.kllSplits(kll, 4).toList,
    "kmv_est" -> Kmv.fromBytes(kmvA).estimate,
    "kmv_hashes" -> Kmv.fromBytes(kmvA).values.toList,
    "kmv_jaccard" -> SketchOps.kmvJaccard(kmvA, kmvB),
    "kmv_union" -> bytes(Kmv.fromBytes(kmvA))(_.merge(Kmv.fromBytes(kmvB)))(_.toBytes),
    "freq_items" -> { val s = FreqItems.fromBytes(freq); freqRows(s, s.items) },
    "freq_top" -> {
      val s = FreqItems.fromBytes(freq)
      freqRows(s, s.items.sortBy { case (h, c) => (-c, h ^ Long.MinValue) }.take(2))
    },
    "freq_err" -> FreqItems.fromBytes(freq).errBound,
    "freq_lower_bound" -> SketchOps.fiLowerBound(freq, 7L),
    "hll_build" -> bytes(Hll())(_.addRaw(7919L))(_.toBytes),
    "hll_merge" -> Hll.fromBytes(hllA).toBytes,
    "cms_build" -> bytes(CountMin())(_.update(7L, 3L))(_.toBytes),
    "cms_merge" -> CountMin.fromBytes(cms).toBytes,
    "bloom_build" -> bytes(BloomFilter())(_.add(7L))(_.toBytes),
    "bloom_merge" -> BloomFilter.fromBytes(bloom).toBytes,
    "tdigest_build" -> bytes(TDigest())(_.add(2.5))(_.toBytes),
    "tdigest_merge" -> TDigest.fromBytes(tdigest).toBytes,
    "kll_build" -> bytes(Kll())(_.update(2.5))(_.toBytes),
    "kll_merge" -> Kll.fromBytes(kll).toBytes,
    "kmv_build" -> bytes(Kmv(16))(_.update(7L))(_.toBytes),
    "kmv_merge" -> Kmv.fromBytes(kmvA).toBytes,
    "freq_build" -> bytes(new FreqItems(8))(_.update(7L, 3L))(_.toBytes),
    "freq_merge" -> FreqItems.fromBytes(freq).toBytes,
    "vec_sum" -> List(1.0, 2.5))

  /** Results compare as plain lists: bytes, arrays and structs alike. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toList
    case a: Array[_] => a.toList.map(norm)
    case r: Row => r.toSeq.toList.map(norm)
    case s: scala.collection.Seq[_] => s.toList.map(norm)
    case x => x
  }

  private def aggregate(name: String) =
    name.endsWith("_build") || name.endsWith("_merge") || name == "vec_sum"

  private def valueOf(df: DataFrame): Any = norm(df.collect().head.get(0))

  test("every registered function has an input row, a parent field and a kernel value") {
    val names = GraftFunctions.builders.map(_.name).toSet
    assert(names -- inputs.map(_._1) === Set.empty, "functions with no input row")
    assert(names === fields.keySet)
    assert(names === want.keySet)
  }

  for ((name, in) <- inputs) test(s"$name: parent's output field; codegen = folded = kernel") {
    val schema = StructType(in.cols.map { case (n, dt, _) => StructField(n, dt, nullable = false) })
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromSeq(in.cols.map(_._3))), 1), schema)
    input.createOrReplaceTempView("fn_in")
    val overColumns = spark.sql(s"SELECT ${call(name, in)} FROM fn_in")
    assert(overColumns.schema.head.toString === fields(name))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val codegen = try valueOf(overColumns) finally spark.conf.set("spark.sql.codegen.fallback", "true")
    if (!aggregate(name))
      assert(overColumns.queryExecution.executedPlan.toString.contains("*(1) Project"),
        overColumns.queryExecution.executedPlan.toString)

    val literals = in.cols.map { case (_, dt, v) => Literal.create(v, dt) }
    val folded = spark.sql(s"SELECT ${call(name, In(Nil, literals ++ in.args))}")
    if (!aggregate(name)) folded.queryExecution.optimizedPlan match {
      case Project(Seq(Alias(_: Literal, _)), _) =>
      case p => fail(s"not constant-folded:\n$p")
    }
    assert(codegen === valueOf(folded))
    assert(codegen === norm(want(name)))
  }

  test("SQL calls with a wrong arity or a non-literal argument fail with the usage") {
    spark.createDataFrame(Seq(("a b c d e", Array[Byte](1)))).toDF("text", "sk")
      .createOrReplaceTempView("fn_bad")
    def error(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    }
    val arity = error("SELECT chunk_text(text) FROM fn_bad")
    assert(arity.contains("chunk_text(text, maxTokens[, overlap]): takes 2 to 3 arguments, got 1"), arity)
    val none = error("SELECT hll_est() FROM fn_bad")
    assert(none.contains("hll_est(sketch): takes 1 argument, got 0"), none)
    val column = error("SELECT robots_rules(text, text) FROM fn_bad")
    assert(column.contains("robots_rules(content, agent): agent must be a literal string, got "), column)
    val typed = error("SELECT chunk_text(text, 'four') FROM fn_bad")
    assert(typed.contains("chunk_text(text, maxTokens[, overlap]): maxTokens must be a literal int, got 'four'"), typed)
    val range = error("SELECT chunk_text(text, 4, 4) FROM fn_bad")
    assert(range.contains("chunk_text(text, maxTokens[, overlap]): overlap must be in [0, maxTokens)"), range)
  }
}
