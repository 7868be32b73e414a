package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import graft.core.sketch._

/** One input row per SQL function of [[GraftFunctions.builders]]: its
  * column arguments (name, type, value — the columns are NOT NULL, so an
  * output's nullability is the function's own) and its literal arguments. */
object FunctionCases {
  final case class In(cols: Seq[(String, DataType, Any)], args: Seq[Literal] = Nil)

  val text: String = "The cat and the dog # sat on the mat... and the cat sat.\n" +
    "- a bullet line with the words\nThe cat and the dog # sat on the mat..."
  val html: String = "<html><head><title>T &amp; x</title></head><body><p>Hi " +
    "<a href=\"/a?x=1&amp;y\">link A</a></p><script>var s;</script>" +
    "<a href=\"https://b.example/\">B</a></body></html>"
  val robots: String = "User-agent: *\nDisallow: /\n\nUser-agent: bot\nDisallow: /x\nAllow: /x/y$"

  val hllA: Array[Byte] = { val h = Hll(); (1L to 40L).foreach(i => h.addRaw(i * 7919L)); h.toBytes }
  val hllB: Array[Byte] = { val h = Hll(); (20L to 90L).foreach(i => h.addRaw(i * 7919L)); h.toBytes }
  val cms: Array[Byte] = { val c = CountMin(); c.update(7L, 3L); c.update(9L, 2L); c.toBytes }
  val bloom: Array[Byte] = { val b = new BloomFilter(3, 10); b.add(7L); b.add(9L); b.toBytes }
  val tdigest: Array[Byte] = { val t = TDigest(); (1 to 50).foreach(i => t.add(i.toDouble)); t.toBytes }
  val kll: Array[Byte] = { val k = Kll(); (1 to 500).foreach(i => k.update(i.toDouble)); k.toBytes }
  val kmvA: Array[Byte] = { val k = Kmv(16); Seq(3L, 9L, 12L).foreach(k.update); k.toBytes }
  val kmvB: Array[Byte] = { val k = Kmv(16); Seq(9L, 12L, 40L).foreach(k.update); k.toBytes }
  val freq: Array[Byte] = {
    val f = new FreqItems(8); f.update(7L, 5L); f.update(1L, 9L); f.update(3L, 5L); f.toBytes
  }

  private val S = StringType
  private val B = BinaryType
  private val L = LongType
  private val D = DoubleType
  private val Spans = ArrayType(StructType(Seq(
    StructField("span_start", LongType), StructField("span_end", LongType))))
  private def t(args: Literal*) = In(Seq(("text", S, text)), args)
  private def h(args: Literal*) = In(Seq(("html", S, html)), args)
  private def one(n: String, dt: DataType, v: Any, args: Literal*) = In(Seq((n, dt, v)), args)
  private def two(dt: DataType, a: Any, b: Any) = In(Seq(("a", dt, a), ("b", dt, b)))
  private def sk(bytes: Array[Byte]) = one("sk", B, bytes)
  private def skAnd(bytes: Array[Byte], n: String, dt: DataType, v: Any) =
    In(Seq(("sk", B, bytes), (n, dt, v)))

  val inputs: Seq[(String, In)] = Seq(
    "xxh3_64" -> one("url", S, "https://example.com/a"),
    "truncate_ip" -> one("ip", S, "192.168.1.77"),
    "normalize_domain" -> one("d", S, "WWW.Example.COM.", Literal(2)),
    "unescape_domain" -> one("d", S, "a\\065b\\x41.com"),
    "host_of_url" -> one("url", S, "https://WWW.Example.com:8080/a?b"),
    "domain_suffixes" -> one("host", S, "a.b.example.com."),
    "canonicalize_url" -> one("url", S, "HTTP://Example.COM:80/a#frag"),
    "robots_rules" -> one("content", S, robots, Literal("bot")),
    "robots_match" -> In(Seq(("pattern", S, "/a*b$"), ("path", S, "/axxb"))),
    "extract_text" -> one("html", B, graft.core.text.HtmlText.wrap("hello wörld".getBytes("UTF-8"))),
    "http_body" -> one("payload", B,
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>body</p>".getBytes("UTF-8")),
    "html_text" -> h(),
    "html_title" -> h(),
    "html_links" -> h(),
    "html_anchors" -> h(),
    "simhash64" -> t(),
    "fingerprint64" -> t(),
    "winnow_min64" -> t(),
    "lang_id" -> t(),
    "lang_id_conf" -> t(),
    "nfc" -> one("text", S, "é ﬁ"),
    "nfkc" -> one("text", S, "é ﬁ"),
    "fix_mojibake" -> one("text", S, "cafÃ©"),
    "mojibake_score" -> one("text", S, "cafÃ©"),
    "token_count_bpeish" -> t(),
    "word_count" -> t(),
    "stopword_hits" -> t(),
    "alpha_ratio" -> t(),
    "punct_ratio" -> t(),
    "stopword_ratio" -> t(),
    "mean_word_len" -> t(),
    "max_token_ratio" -> t(),
    "dup_line_ratio" -> t(),
    "dup_line_char_ratio" -> t(),
    "char_entropy" -> t(),
    "bullet_line_ratio" -> t(),
    "ellipsis_line_ratio" -> t(),
    "alpha_word_ratio" -> t(),
    "symbol_word_ratio" -> t(Literal("#")),
    "top_ngram_char_ratio" -> t(Literal(2)),
    "dup_ngram_char_ratio" -> t(Literal(3)),
    "winnow_set" -> t(Literal(6), Literal(3)),
    "rolling_kgram_hashes" -> t(Literal(8), Literal(5)),
    "chunk_text" -> t(Literal(4), Literal(1)),
    "word_shingles" -> t(Literal(3)),
    "word_ngram_counts" -> t(Literal(2)),
    "hashed_ngram_features" -> t(Literal(64), Literal(2)),
    "text_segments" -> t(),
    "minhash_sig" -> one("shingles", ArrayType(S, containsNull = false),
      Seq("the cat", "cat and", "and the"), Literal(8)),
    "merge_spans" -> one("positions", ArrayType(L), Seq(20L, 0L, 3L), Literal(5)),
    "splice_out" -> In(Seq(("text", S, "0123456789"), ("spans", Spans, Seq(Row(2L, 5L), Row(7L, 8L))))),
    "term_hits" -> t(Literal.create(Seq("cat", "the dog"), ArrayType(S))),
    "gopher_signals" -> t(),
    "gopher_keep" -> t(),
    "sorted_intersect_count" -> two(ArrayType(L, containsNull = false), Seq(1L, 3L, 5L), Seq(3L, 5L, 7L)),
    "l2ap_prefix" -> In(Seq(("keys", ArrayType(L, containsNull = false), Seq(1L, 2L, 3L)),
      ("weights", ArrayType(D, containsNull = false), Seq(0.6, 0.64, 0.48))), Seq(Literal(0.5))),
    "sorted_weighted_dot" -> In(Seq(
      ("ka", ArrayType(L, containsNull = false), Seq(1L, 2L, 4L)),
      ("wa", ArrayType(D, containsNull = false), Seq(0.5, 0.25, 2.0)),
      ("kb", ArrayType(L, containsNull = false), Seq(2L, 3L, 4L)),
      ("wb", ArrayType(D, containsNull = false), Seq(4.0, 1.0, 0.5)))),
    "hll_est" -> sk(hllA),
    "hll_union_ak" -> two(B, hllA, hllB),
    "cms_est" -> skAnd(cms, "hash", L, 7L),
    "bloom_contains" -> skAnd(bloom, "hash", L, 7L),
    "bloom_contains_lit" -> one("hash", L, 9L, Literal(bloom)),
    "tdigest_quantile" -> skAnd(tdigest, "q", D, 0.5),
    "tdigest_cdf" -> skAnd(tdigest, "x", D, 10.0),
    "kll_quantile" -> skAnd(kll, "q", D, 0.5),
    "kll_rank" -> skAnd(kll, "x", D, 100.0),
    "kll_splits" -> skAnd(kll, "buckets", IntegerType, 4),
    "kmv_est" -> sk(kmvA),
    "kmv_hashes" -> sk(kmvA),
    "kmv_jaccard" -> two(B, kmvA, kmvB),
    "kmv_union" -> two(B, kmvA, kmvB),
    "freq_items" -> sk(freq),
    "freq_top" -> skAnd(freq, "k", IntegerType, 2),
    "freq_err" -> sk(freq),
    "freq_lower_bound" -> skAnd(freq, "hash", L, 7L),
    "hll_build" -> one("hash", L, 7919L),
    "hll_merge" -> sk(hllA),
    "cms_build" -> In(Seq(("hash", L, 7L), ("count", L, 3L))),
    "cms_merge" -> sk(cms),
    "bloom_build" -> one("hash", L, 7L),
    "bloom_merge" -> sk(bloom),
    "tdigest_build" -> one("x", D, 2.5),
    "tdigest_merge" -> sk(tdigest),
    "kll_build" -> one("x", D, 2.5),
    "kll_merge" -> sk(kll),
    "kmv_build" -> one("hash", L, 7L, Literal(16)),
    "kmv_merge" -> sk(kmvA),
    "freq_build" -> In(Seq(("hash", L, 7L), ("weight", L, 3L)), Seq(Literal(8))),
    "freq_merge" -> sk(freq),
    "vec_sum" -> one("v", ArrayType(D, containsNull = false), Seq(1.0, 2.5)))

  /** `name(columns, literal args)` in SQL. */
  def call(name: String, in: In): String =
    s"$name(${(in.cols.map(_._1) ++ in.args.map(_.sql)).mkString(", ")})"
}
