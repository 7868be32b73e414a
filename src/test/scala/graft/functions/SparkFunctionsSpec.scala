package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** The reference fixtures replayed through REAL Spark plans (groupBy +
  * custom TypedImperativeAggregate + broadcast join), pinning the same
  * golden numbers as the core replay — this is the Spark-native analogue of
  * the reference's collect/aggregate/report CLI flow (SURVEY.md §3). */
class SparkFunctionsSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def loadFixture(name: String, unescape: Boolean = false) = {
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/$name"), "ISO-8859-1").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#")).toSeq
    val rows = lines.map { l =>
      val f = l.split("\t")
      (f(0), f(1), if (f.length > 2) f(2).toLong else 1L)
    }
    val df = rows.toDF("client_ip", "domain_raw", "cnt")
      .withColumn("domain_raw",
        if (unescape) unescape_domain($"domain_raw") else $"domain_raw")
    df.withColumn("hash", xxh3_64(truncate_ip($"client_ip")))
      .withColumn("domain", normalize_domain($"domain_raw"))
  }

  test("collect via Spark aggregation reproduces golden estimates 70 and per-domain counts") {
    val recs = loadFixture("test1_records.tsv").repartition(4) // force partial/final split
    val global = recs.agg(
      hll_build($"hash").as("sk"),
      sum($"cnt").as("queries")).collect()(0)
    assert(global.getAs[Long]("queries") === 100L)
    val est = spark.range(1).select(
      hll_est(lit(global.getAs[Array[Byte]]("sk")))).collect()(0).getLong(0)
    assert(est === 70L)

    val perDomain = recs
      .filter($"domain".isNotNull && $"domain" =!= ".")
      .groupBy($"domain")
      .agg(hll_build($"hash").as("sk"), sum($"cnt").as("queries"))
      .select($"domain", $"queries")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDomain === Map("com" -> 17L, "net" -> 20L, "org" -> 24L, "arpa" -> 16L))
  }

  test("two-dataset union via hll_merge reproduces golden estimate 92") {
    val sk1 = loadFixture("test1_records.tsv").agg(hll_build($"hash")).collect()(0).getAs[Array[Byte]](0)
    val sk2 = loadFixture("test2.tsv").agg(hll_build($"hash")).collect()(0).getAs[Array[Byte]](0)
    // store the two sketch rows, merge-agg them (the `aggregate` command path)
    val merged = Seq(sk1, sk2).toDF("sk")
      .agg(hll_merge($"sk").as("sk"))
      .select(hll_est($"sk")).collect()(0).getLong(0)
    assert(merged === 92L)
  }

  test("magnitude report query: broadcast global, sort, reference ordering") {
    val recs = loadFixture("test2.tsv")
    val perDomain = recs.filter($"domain".isNotNull && $"domain" =!= ".")
      .groupBy($"domain")
      .agg(hll_build($"hash").as("sk"), sum($"cnt").as("queries"))
      .select($"domain", hll_est($"sk").as("clients"), $"queries")
    val global = recs.agg(hll_build($"hash").as("gsk"), sum($"cnt").as("total_queries"))
      .select(hll_est($"gsk").as("total_clients"), $"total_queries")
    val report = perDomain.crossJoin(broadcast(global))
      .withColumn("magnitude", magnitude($"clients", $"total_clients"))
      .orderBy(floor($"magnitude" * 1000).asc, $"domain".asc)
      .collect()
    // 27 estimated total clients; per-domain clients <= total; ascending magnitude
    val mags = report.map(_.getAs[Double]("magnitude"))
    assert(mags.sorted.sameElements(mags))
    assert(report.map(_.getAs[String]("domain")).length === 7)
    // magnitude formula spot check on first row
    val r0 = report(0)
    val expect = math.log(r0.getAs[Long]("clients").toDouble) /
      math.log(r0.getAs[Long]("total_clients").toDouble) * 10
    assert(math.abs(r0.getAs[Double]("magnitude") - expect) < 1e-12)
  }

  test("SQL registration: all functions callable from spark.sql") {
    loadFixture("test1_records.tsv").createOrReplaceTempView("recs")
    val est = spark.sql(
      "SELECT hll_est(hll_build(hash)) AS est FROM recs").collect()(0).getLong(0)
    assert(est === 70L)
    val row = spark.sql("""
      SELECT
        cms_est(cms_build(hash, cnt), xxh3_64(truncate_ip('192.168.0.1'))) AS cm,
        bloom_contains(bloom_build(hash), xxh3_64(truncate_ip('192.168.0.1'))) AS bc,
        bloom_contains(bloom_build(hash), xxh3_64('never-seen')) AS bc_miss,
        tdigest_quantile(tdigest_build(CAST(cnt AS DOUBLE)), 0.5) AS td_med,
        kll_quantile(kll_build(CAST(cnt AS DOUBLE)), 0.5) AS kll_med
      FROM recs""").collect()(0)
    assert(row.getAs[Long]("cm") >= 1L)     // CM overestimates only
    assert(row.getAs[Boolean]("bc") === true)
    assert(row.getAs[Boolean]("bc_miss") === false)
    assert(row.getAs[Double]("td_med") === 1.0) // all counts are 1
    assert(row.getAs[Double]("kll_med") === 1.0)
    // KMV / Misra-Gries families from pure SQL; both sketches stay below
    // capacity -> exact mode, so they must equal the true distinct count
    // (69 here, NOT the HLL golden 70 — the reference's own estimate is +1
    // on this fixture; KMV below capacity is exact by construction)
    val exactDistinct = spark.sql(
      "SELECT count(DISTINCT hash) FROM recs").collect()(0).getLong(0)
    val kf = spark.sql("""
      SELECT kmv_est(kmv_merge(sk)) AS kmv, freq_err(freq_merge(fq)) AS err,
             size(freq_items(freq_merge(fq))) AS nitems,
             kmv_jaccard(kmv_merge(sk), kmv_merge(sk)) AS selfjac
      FROM (SELECT kmv_build(hash) AS sk, freq_build(hash, cnt) AS fq
            FROM recs GROUP BY hash % 4)""").collect()(0)
    assert(kf.getAs[Double]("kmv") === exactDistinct.toDouble)
    assert(kf.getAs[Long]("err") === 0L)
    assert(kf.getAs[Int]("nitems") === exactDistinct.toInt)
    assert(kf.getAs[Double]("selfjac") === 1.0)
    // text/signature functions with optional int args, from pure SQL
    val sig = spark.sql("""
      SELECT minhash_sig(word_shingles('a b c d e', 3), 8) AS sig,
             size(word_shingles('a b c d e')) AS nsh""").collect()(0)
    assert(sig.getSeq[Long](0).length === 8)
    assert(sig.getAs[Int]("nsh") === 3)
    // the quality/span/chunk surface from pure SQL: paper-default keep
    // rule, winnowing fingerprints, context chunks, span splice
    val q = spark.sql("""
      SELECT gopher_keep('too short to pass') AS keep,
             size(winnow_set('some text for fingerprints here')) AS nfp,
             size(chunk_text('a b c d e f g h', 4, 1)) AS nchunks,
             splice_out('0123456789',
               array(named_struct('span_start', CAST(2 AS BIGINT),
                                  'span_end', CAST(5 AS BIGINT)))) AS spliced""")
      .collect()(0)
    assert(q.getAs[Boolean]("keep") === false)
    assert(q.getAs[Int]("nfp") >= 1)
    assert(q.getAs[Int]("nchunks") === 3) // windows of 4, stride 3: [0..3],[3..6],[6..7]
    assert(q.getAs[String]("spliced") === "0156789")
  }

  test("gopher_keep params canonicalize: separate toParams calls compare equal") {
    // GopherParams holds Array fields; without structural equals two
    // expressions built from separate GopherThresholds().toParams calls
    // would never be semantically equal, defeating subexpression
    // elimination when gopher_keep appears more than once in a plan
    val p1 = graft.operators.GopherThresholds().toParams
    val p2 = graft.operators.GopherThresholds().toParams
    assert(p1 === p2)
    assert(p1.hashCode === p2.hashCode)
    assert(p1 !== graft.operators.GopherThresholds(minWords = 51).toParams)
    // resolved child (a literal): the only remaining difference between
    // the two expressions is the params object itself
    val c = org.apache.spark.sql.catalyst.expressions.Literal("some text")
    val e1 = graft.functions.GopherKeep(c, p1)
    val e2 = graft.functions.GopherKeep(c, p2)
    assert(e1 === e2)
    assert(e1.semanticEquals(e2),
      "structurally identical gopher_keep expressions must canonicalize equal")
  }

  test("word_ngram_counts: multiplicities, first-occurrence order, short-text empty") {
    val df = Seq((1L, "a b a b c"), (2L, "x"), (3L, "")).toDF("id", "text")
    val out = df.select($"id", word_ngram_counts($"text", 2).as("g"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getString(0), x.getLong(1))))
      .toMap
    // counts with multiplicity, first-occurrence order (unlike word_shingles'
    // set semantics); < n tokens -> EMPTY, never the whole-text fallback
    assert(out(1L) === Seq(("a b", 2L), ("b a", 1L), ("b c", 1L)))
    assert(out(2L).isEmpty && out(3L).isEmpty)
    val uni = df.filter($"id" === 1L)
      .select(word_ngram_counts($"text", 1)).collect()(0)
      .getSeq[org.apache.spark.sql.Row](0).map(x => (x.getString(0), x.getLong(1)))
    assert(uni === Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("hashed_ngram_features: polynomial bucket hash, collision sums, idx-sorted") {
    import graft.functions.TextKernels.bucketOf
    // bucket math is the documented recurrence
    assert(bucketOf("ab", 64) === ((31L * 'a' + 'b') % 1000003 % 64).toInt)
    val dim = 8 // force collisions
    val text = "w1 w2 w3 w1 w2"
    val rows = Seq((1L, text)).toDF("id", "text")
      .select(hashed_ngram_features($"text", dim, 2)).collect()(0)
      .getSeq[org.apache.spark.sql.Row](0).map(x => (x.getInt(0), x.getLong(1)))
    // recompute by hand: all 1-grams and 2-grams, bucketed and summed
    val toks = text.split(" ", -1)
    val grams = toks.toSeq ++ toks.sliding(2).map(_.mkString(" "))
    val want = grams.groupBy(g => bucketOf(g, dim)).view
      .mapValues(_.size.toLong).toSeq.sortBy(_._1)
    assert(rows === want)
    assert(rows.map(_._1) === rows.map(_._1).sorted)
  }

  test("linear_score_lit: dot product + bias, out-of-range idx ignored, canonical equality") {
    val w = Array(0.5, -1.0, 2.0)
    val df = Seq((1L, "a b a")).toDF("id", "text")
    val feats = hashed_ngram_features($"text", 3, 1)
    val got = df.select(linear_score_lit(feats, w, 10.0)).collect()(0).getDouble(0)
    import graft.functions.TextKernels.bucketOf
    val want = 10.0 + 2.0 * w(bucketOf("a", 3)) + 1.0 * w(bucketOf("b", 3))
    assert(math.abs(got - want) < 1e-12)
    // weights array shorter than dim: hashed idx beyond w.length contributes 0
    val gotShort = df.select(linear_score_lit(
      hashed_ngram_features($"text", 1 << 20, 1), Array(0.0), 7.0))
      .collect()(0).getDouble(0)
    assert(gotShort === 7.0)
    // structural equality (the GopherParams lesson): two scorers from equal
    // arrays canonicalize equal -> subexpression elimination can fire
    import org.apache.spark.sql.graftshim.shims.expression
    val e1 = expression(linear_score_lit(feats, Array(1.0, 2.0), 0.5))
    val e2 = expression(linear_score_lit(feats, Array(1.0, 2.0), 0.5))
    assert(e1.semanticEquals(e2))
  }

  test("custom-kernel codegen COMPILES (no silent interpreted fallback)") {
    // a companion kernel that loses its static forwarder (e.g. shadowed by
    // an inherited member like Expression.eval) still passes result tests:
    // Janino fails, Spark quietly falls back to interpreted execution and
    // deoptimizes the whole stage. Disabling the fallback turns that class
    // of bug into a hard failure here.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import graft.operators.Dedup
      val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight nine ten"))
        .toDF("doc_id", "text")
      val row = docs.select(
        xxh3_64($"text"), simhash64($"text"), fingerprint64($"text"),
        winnow_min64($"text"), lang_id($"text"),
        lang_id_conf($"text").getField("margin"), token_count_bpeish($"text"),
        html_text($"text"), coalesce(html_title($"text"), lit("")),
        size(html_links($"text")), size(html_anchors($"text")),
        size(robots_rules(lit("User-agent: *\nDisallow: /x"), "bot")),
        robots_match(lit("/a*b$"), $"text"),
        term_hits($"text", Seq("alpha", "one two")),
        nfc($"text"), nfkc($"text"), fix_mojibake($"text"),
        mojibake_score($"text"),
        alpha_ratio($"text"), punct_ratio($"text"), stopword_ratio($"text"),
        mean_word_len($"text"), max_token_ratio($"text"),
        dup_line_ratio($"text"), dup_line_char_ratio($"text"),
        char_entropy($"text"), canonicalize_url($"text"),
        top_ngram_char_ratio($"text", 2), dup_ngram_char_ratio($"text", 5),
        size(Dedup.shingles($"text", 3)), size(winnow_set($"text")),
        size(minhash_sig(Dedup.shingles($"text", 3), 16)),
        size(chunk_text($"text", 4, 1)),
        word_count($"text"), bullet_line_ratio($"text"),
        ellipsis_line_ratio($"text"), alpha_word_ratio($"text"),
        stopword_hits($"text"), symbol_word_ratio($"text", "#"),
        gopher_signals($"text").getField("n_words"),
        gopher_keep($"text", graft.operators.GopherThresholds().toParams),
        size(rolling_kgram_hashes($"text", 8, 2)),
        size(merge_spans(sort_array(array(length($"text").cast("long"), lit(3L))), 5)),
        length(http_body(encode($"text", "UTF-8"))),
        length(splice_out($"text",
          array(struct(lit(0L).as("span_start"), lit(2L).as("span_end"))))),
        size(word_ngram_counts($"text", 2)),
        size(hashed_ngram_features($"text", 64, 2)),
        linear_score_lit(hashed_ngram_features($"text", 64, 2),
          Array.fill(64)(0.25), -0.5),
        size(graft.operators.UrlFilter.domain_suffixes($"text")),
        size(graft.operators.Tokenize.textSegments($"text")), {
          val bpe = graft.core.text.Bpe.train(
            Seq(("ab".getBytes("UTF-8"), 3L), (" ab".getBytes("UTF-8"), 2L)), 4, 1)
          length(graft.operators.Tokenize.bpeDecode(
            graft.operators.Tokenize.bpeEncode($"text", bpe), bpe))
        })
      assert(row.collect().length === 2)
      // sketch estimator scalars over literal sketch bytes (KMV/Misra-Gries
      // — the FreqItemsList companion forwarder is exactly the shape the
      // lang_id_conf lesson showed can silently fall back)
      val kmvA = { val s = graft.core.sketch.Kmv(16); s.update(3L); s.update(9L); s.toBytes }
      val kmvB = { val s = graft.core.sketch.Kmv(16); s.update(9L); s.toBytes }
      val fi = { val s = graft.core.sketch.FreqItems(4); s.update(7L, 5L); s.toBytes }
      val sk = docs.select(
        kmv_est(lit(kmvA)), size(kmv_hashes(lit(kmvA))),
        kmv_jaccard(lit(kmvA), lit(kmvB)),
        size(freq_items(lit(fi))), freq_err(lit(fi)),
        freq_lower_bound(lit(fi), lit(7L)),
        size(freq_top(lit(fi), lit(1))),
        kmv_est(kmv_union(lit(kmvA), lit(kmvB))))
      val skRow = sk.collect().head
      assert(skRow.getDouble(0) === 2.0)
      assert(skRow.getDouble(skRow.length - 1) === 2.0) // |{3,9} u {9}| = 2
      // intersection estimate composes: jaccard * union_est = |A n B|
      val inter = docs.limit(1).select(
        (kmv_jaccard(lit(kmvA), lit(kmvB)) *
          kmv_est(kmv_union(lit(kmvA), lit(kmvB)))).as("i"))
        .collect()(0).getDouble(0)
      assert(inter === 1.0)
      // freq_top ranking: heaviest first, ties by hash, truncation at k
      val fi3 = { val s = graft.core.sketch.FreqItems(8)
        s.update(5L, 2L); s.update(1L, 9L); s.update(3L, 2L); s.toBytes }
      val topRows = docs.limit(1).select(freq_top(lit(fi3), lit(2)).as("t"))
        .selectExpr("transform(t, x -> x.hash) AS hs").collect()(0)
        .getSeq[Long](0)
      assert(topRows === Seq(1L, 3L)) // 9 first; 2-2 tie broken by hash
      // array-kernel expressions (l2ap prefix, sorted dot/intersect) and
      // the sequential pack folds, through their operators
      assert(Dedup.sparseCosinePairs(docs, minCos = 0.1).count() >= 0)
      assert(Dedup.ngramJaccardPairs(docs, 3, 0.1).count() >= 0)
      val toks = Seq((1L, 0, 4L), (2L, 0, 5L)).toDF("doc_id", "bucket", "toks")
      assert(graft.operators.Packing.packGreedy(toks, "toks", 10, "bucket").count() === 2)
      assert(graft.operators.Packing.packBestFit(toks, "toks", 10, "bucket").count() === 2)
      val embs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)))
        .toDF("vec_id", "embedding")
      assert(graft.operators.Ann.bruteForceTopK(embs, embs, k = 1).count() === 2)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("GraftExtensions wiring: applies cleanly, unique names, same builder set as registerAll") {
    // can't build a second SparkContext in the shared-session suite, so pin
    // the spark-submit path structurally: apply() must inject every builder
    // without throwing (bad ExpressionInfo metadata throws here), and the
    // registry must have no duplicate SQL names that would shadow silently
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val names = GraftFunctions.builders.map(_.name)
    assert(names.distinct.size === names.size, "duplicate SQL function names")
    // every builder constructs an expression from dummy children without
    // blowing up at wiring time (arity errors surface at analysis instead)
    assert(names.nonEmpty && names.contains("xxh3_64") && names.contains("char_entropy"))
  }

  test("*_merge adopts non-default sketch parameters from its inputs") {
    // sketches serialized at NON-default params: the merge buffer must adopt
    // them (SQL cannot parameterize the merge function)
    val h1 = new graft.core.sketch.Hll(12, 5)
    val h2 = new graft.core.sketch.Hll(12, 5)
    (1L to 500L).foreach(v => h1.addRaw(graft.core.hash.XXH3.hashString(s"a$v")))
    (1L to 500L).foreach(v => h2.addRaw(graft.core.hash.XXH3.hashString(s"b$v")))
    val mergedHll = Seq(h1.toBytes, h2.toBytes).toDF("sk")
      .agg(hll_merge($"sk").as("m")).select(hll_est($"m")).collect()(0).getLong(0)
    val direct = { h1.union(h2); h1.estimate }
    assert(mergedHll === direct)

    val k1 = new graft.core.sketch.Kll(128)
    (1 to 1000).foreach(v => k1.update(v.toDouble))
    val viaSql = Seq(k1.toBytes, k1.toBytes).toDF("sk")
      .agg(kll_merge($"sk").as("m")).select(kll_quantile($"m", lit(0.5))).collect()(0).getDouble(0)
    assert(math.abs(viaSql - 500.0) < 50.0)

    // mixing DIFFERENT params must still error
    val hBad = new graft.core.sketch.Hll(14, 5)
    hBad.addRaw(42L)
    val e = intercept[org.apache.spark.SparkException] {
      Seq(h2.toBytes, hBad.toBytes).toDF("sk").agg(hll_merge($"sk")).collect()
    }
    assert(e.getCause != null)
  }

  test("extract_text(wrap(text)) is byte-identical across repartitionings") {
    val texts = (1 to 500).map(i => s"doc $i body text äö ${"x" * (i % 50)}")
    val df = texts.toDF("text")
      .withColumn("html", udf((s: String) =>
        graft.core.text.HtmlText.wrap(s.getBytes("UTF-8"))).apply($"text"))
    for (parts <- Seq(1, 7)) {
      val bad = df.repartition(parts)
        .withColumn("rt", extract_text($"html"))
        .filter($"rt" =!= $"text" || $"rt".isNull)
        .count()
      assert(bad === 0L, s"parts=$parts")
    }
  }

  test("plan shape: sketch agg runs as ObjectHashAggregate with partial merge") {
    val recs = loadFixture("test1_records.tsv")
    val plan = recs.groupBy($"domain").agg(hll_build($"hash"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    // partial + final pair => mergeable partial aggregation is active
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2, plan.take(2000))
  }

  test("invalid domains NULL out but keep flowing to global counts") {
    val df = Seq(
      ("1.2.3.4", "com", 1L),
      ("1.2.3.5", "bad_tld_9-", 1L),   // invalid TLD
      ("1.2.3.6", ".", 1L),            // root
      ("not-an-ip", "net", 1L)         // invalid IP -> hash NULL
    ).toDF("ip", "d", "cnt")
      .withColumn("hash", xxh3_64(truncate_ip($"ip")))
      .withColumn("domain", normalize_domain($"d"))
    val rows = df.collect()
    assert(rows.count(_.isNullAt(3)) === 1) // one invalid hash
    val domains = rows.map(r => Option(r.getString(4)))
    assert(domains.count(_.isEmpty) === 1)  // one invalid domain
    assert(domains.flatten.count(_ == ".") === 1)
  }

  test("bloom semi-join operator and bloom_contains_lit SQL path") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val big = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter($"o_totalprice" > 300000.0)
    val fast = graft.operators.Joins.bloomSemiJoin(li, $"l_orderkey", big, $"o_orderkey")
      .agg(count(lit(1))).collect()(0).getLong(0)
    val plain = li.join(big.select($"o_orderkey").distinct(),
      $"l_orderkey" === $"o_orderkey", "left_semi")
      .agg(count(lit(1))).collect()(0).getLong(0)
    assert(fast === plain) // bit-identical to the plain semi join

    // SQL path: literal binary filter parsed once per executor
    val bf = big.agg(bloom_build(xxh3_64($"o_orderkey".cast("string"))))
      .collect()(0).getAs[Array[Byte]](0)
    li.createOrReplaceTempView("li_bloom")
    spark.sql("SELECT * FROM li_bloom").createOrReplaceTempView("li_bloom2")
    val hexLit = "X'" + bf.map(b => f"$b%02x").mkString + "'"
    val viaSql = spark.sql(
      s"SELECT count(*) FROM li_bloom WHERE bloom_contains_lit(xxh3_64(CAST(l_orderkey AS STRING)), $hexLit)")
      .collect()(0).getLong(0)
    assert(viaSql >= plain) // no false negatives; FPP-inflated superset
  }

  test("kll_splits range-partitioning primitive and scalar hll_union_ak") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // equi-height splits over extendedprice: each of the 8 buckets must
    // hold ~1/8 of the rows (within the KLL rank bound)
    val row = li.agg(kll_build($"l_extendedprice").as("sk"), count(lit(1)).as("n"))
      .select(kll_splits($"sk", lit(8)).as("splits"), $"n").collect()(0)
    val splits = row.getAs[scala.collection.Seq[Double]]("splits")
    val n = row.getAs[Long]("n")
    assert(splits.length === 7)
    assert(splits.sorted === splits)
    val counts = (Seq(Double.MinValue) ++ splits).zip(splits ++ Seq(Double.MaxValue))
      .map { case (lo, hi) => li.filter($"l_extendedprice" > lo && $"l_extendedprice" <= hi).count() }
    counts.foreach(c => assert(math.abs(c.toDouble / n - 0.125) < 0.05, counts.toString))

    // scalar hll_union == aggregate hll_merge
    val sks = loadFixture("test1_records.tsv").limit(50).agg(hll_build($"hash")).collect()(0).getAs[Array[Byte]](0)
    val sks2 = loadFixture("test2.tsv").agg(hll_build($"hash")).collect()(0).getAs[Array[Byte]](0)
    val viaScalar = spark.range(1)
      .select(hll_est(hll_union_ak(lit(sks), lit(sks2)))).collect()(0).getLong(0)
    val viaMerge = Seq(sks, sks2).toDF("sk").agg(hll_merge($"sk").as("m"))
      .select(hll_est($"m")).collect()(0).getLong(0)
    assert(viaScalar === viaMerge)
  }
}
