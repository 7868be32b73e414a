package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Top-level so the product Encoder resolves (local case classes can't). */
case class EmbRow(vec_id: Long, embedding: Array[Float])

class OperatorsSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  // corpus with planted near-dups: 120 base docs; for each base, a mutated
  // copy with one token changed (high Jaccard) and an unrelated doc
  private lazy val docs = {
    val rnd = new java.util.Random(13)
    val rows = (0 until 120).flatMap { i =>
      val toks = Array.fill(30)(s"w${rnd.nextInt(800)}")
      val base = toks.mkString(" ")
      val mutated = { val t = toks.clone(); t(7) = s"w${800 + i}"; t.mkString(" ") }
      val unrelated = Array.fill(30)(s"u${rnd.nextInt(100000)}_$i").mkString(" ")
      Seq((i * 3L, base), (i * 3L + 1, mutated), (i * 3L + 2, unrelated))
    }
    rows.toDF("doc_id", "text").cache()
  }

  test("exact dedup keeps min id per identical text") {
    val withDups = docs.unionByName(docs.limit(50).withColumn("doc_id", $"doc_id" + 100000))
    val kept = Dedup.exact(withDups).collect().map(_.getLong(0)).toSet
    assert(kept.size === 360) // every text unique in `docs`; dup copies dropped
    assert(kept.forall(_ < 100000), "kept id must be the smaller one")
  }

  test("ngram Jaccard pairs find planted near-dups exactly") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 120).map(i => (i * 3L, i * 3L + 1)).toSet
    assert(pairs === expected)
  }

  test("prefix-filtered ngram join == brute force on random corpora (hot shingles, mixed sizes)") {
    // randomized exactness check across thresholds: small vocab forces
    // heavy shingle sharing; doc lengths vary so the length filter is live
    (0 until 3).foreach { seed =>
      val rnd = new java.util.Random(100 + seed)
      val corpus = (0 until 120).map { i =>
        val len = 5 + rnd.nextInt(40)
        (i.toLong, Array.fill(len)(s"v${rnd.nextInt(60)}").mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      def shingleSet(text: String): Set[String] = {
        val toks = text.split(" ", -1)
        if (toks.length < 3) Set(toks.mkString(" "))
        else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
      }
      Seq(0.15, 0.4, 0.7).foreach { t =>
        val expected = (for {
          (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
          sa = shingleSet(ta); sb = shingleSet(tb)
          inter = sa.intersect(sb).size.toDouble
          if inter / (sa.size + sb.size - inter) >= t
        } yield (ia, ib)).toSet
        val got = Dedup.ngramJaccardPairs(df, n = 3, minJaccard = t)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === expected, s"seed=$seed t=$t")
      }
    }
  }

  test("connected components + dropNearDuplicates: chains collapse, singletons survive") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))

    val allDocs = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L, 21L)
      .toDF("doc_id").withColumn("text", lit("x"))
    val kept = Dedup.dropNearDuplicates(allDocs, pairs).collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(1L, 5L, 10L, 20L)) // survivors + untouched 5

    // a longer chain exercises multiple propagation rounds
    val chain = (0 until 40).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val chainComps = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(chainComps.forall(_._2 == 0L), "whole chain collapses to min id 0")
  }

  test("connected components: giant-star hot-key soak (boilerplate-cluster skew)") {
    // the 100-TB failure mode: one near-dup cluster holding a large slice
    // of the corpus (shared boilerplate). After round 1 every member
    // carries the SAME component label, so the pointer-jump join keys
    // 300k rows onto one value and the neighbor join keys the hub's whole
    // degree onto one dst — the hot-key regime AQE's skew handling must
    // absorb. Converges in O(1) rounds (star diameter 2); labels exact.
    val n = 300000L
    val star = spark.range(1, n).select(lit(0L).as("id_a"), col("id").as("id_b"))
    val comps = Dedup.connectedComponents(star)
    assert(comps.filter(col("component") =!= 0L).limit(1).count() === 0L,
      "every member of the star must label to the hub's id")
    assert(comps.count() === n)
  }

  test("connected components recovers from lost executor blocks (reliable checkpoint)") {
    // fault-tolerance contract: labels pin via RELIABLE checkpoint into the
    // session checkpoint dir, so losing every executor-resident block (what
    // executor failure does to cached/localCheckpoint state) must not lose
    // the result — recomputation re-reads the last round's checkpoint files
    // instead of failing or replaying from round zero. Under the old
    // localCheckpoint pinning this collect threw "Checkpoint block not
    // found" once the blocks were gone.
    assert(spark.sparkContext.getCheckpointDir.isDefined,
      "test session must configure a checkpoint dir")
    val chain = (0 until 60).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    // the rounds path: a 60-edge chain would otherwise be labelled on the
    // driver, which pins nothing but the edges
    val labels = Dedup.connectedComponentsByRounds(chain)
    // simulate executor loss: drop EVERY block-manager-resident RDD block
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length === 61)
    assert(comps.forall(_._2 == 0L), "whole chain collapses to min id 0")
    // and the per-round checkpoints really live on the (shared) filesystem
    val p = new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(p).nonEmpty, "reliable checkpoint files written")
  }

  test("connected components resumes a killed job from persisted round labels") {
    // job-restart contract: rounds persist as parquet under resumePath; a
    // NEW invocation (what a restarted driver runs) with the same path must
    // load the latest complete round instead of starting over. The round
    // tables are plain parquet + _SUCCESS, so nothing about the mechanism
    // depends on the live session — reading them from a fresh job is
    // exactly what this second call does.
    val dir = graft.SparkTestBase.tempDir("graft_cc_resume").toString
    val chain = (0 until 50).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    // phase 1: a job that dies after 2 rounds (maxIter caps the rounds).
    // pruneRounds=false keeps the full audit trail so the mtime check
    // below can prove rounds were NOT recomputed on resume
    Dedup.connectedComponents(chain, maxIter = 2, resumePath = Some(dir),
      pruneRounds = false).count()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def rounds() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("round_")).sorted.toSeq
    val afterKill = rounds()
    assert(afterKill.contains("round_2") && !afterKill.contains("round_4"),
      s"phase 1 persisted exactly its rounds: $afterKill")
    val mtime2 = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/round_2/_SUCCESS")).getModificationTime
    // phase 2: the restarted job — must converge to the right answer...
    val comps = Dedup.connectedComponents(chain, maxIter = 20, resumePath = Some(dir),
        pruneRounds = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length === 51 && comps.forall(_._2 == 0L))
    // ...and must have RESUMED: round_2 not rewritten, later rounds added
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/round_2/_SUCCESS"))
      .getModificationTime === mtime2, "resume must not recompute round 2")
    assert(rounds().size > afterKill.size, "resume continued past round 2")
    // unresumed baseline agrees
    val base = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(base.sortBy(_._1).toSeq === comps.sortBy(_._1).toSeq)

    // default pruning bounds the label-table copies left behind
    val dir2 = graft.SparkTestBase.tempDir("graft_cc_prune").toString
    Dedup.connectedComponents(chain, maxIter = 20, resumePath = Some(dir2)).count()
    val kept = fs.listStatus(new org.apache.hadoop.fs.Path(dir2))
      .map(_.getPath.getName).filter(_.startsWith("round_"))
    assert(kept.length <= 2, s"pruning must keep at most 2 rounds, got ${kept.toSeq}")
  }

  test("L2AP positional bound prunes strictly more than the suffix-norm product") {
    // same prefix stream, two join filters: the positional bound
    // w_a*w_b + nx_a*nx_b must admit a SUBSET of the plain suffix-norm
    // product sqrt(w^2+nx^2) products (2-D Cauchy-Schwarz), and on an
    // adversarial small-vocabulary corpus a strictly smaller one
    import graft.functions.GraftFunctions.{l2ap_prefix, xxh3_64}
    val rnd = new java.util.Random(9)
    val corpus = (0 until 120).map { i =>
      (i.toLong, Array.fill(5 + rnd.nextInt(25))(s"v${rnd.nextInt(12)}").mkString(" "))
    }.toDF("doc_id", "text")
    val t = 0.8
    val tf = corpus.select(col("doc_id").as("id"),
        explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("id"), xxh3_64(col("tk")).as("h"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfTab = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = tf.join(dfTab, "h")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h"), col("tf")))).as("a"),
        sqrt(sum(col("tf") * col("tf"))).as("nrm"))
      .select(col("id"), explode(l2ap_prefix(
        transform(col("a"), x => x("h")),
        transform(col("a"), x => x("tf") / col("nrm")), t - 1e-9)).as("f"))
      .select(col("id"), col("f.h").as("h"), col("f.w").as("w"), col("f.nx").as("nx"))
      .localCheckpoint()
    def cands(cond: org.apache.spark.sql.Column) =
      prefix.as("a").join(prefix.as("b"),
          col("a.h") === col("b.h") && col("a.id") < col("b.id") && cond)
        .select(col("a.id"), col("b.id")).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val positional = cands(
      col("a.w") * col("b.w") + col("a.nx") * col("b.nx") >= t - 1e-9)
    val suffixNorm = cands(
      sqrt(col("a.w") * col("a.w") + col("a.nx") * col("a.nx")) *
      sqrt(col("b.w") * col("b.w") + col("b.nx") * col("b.nx")) >= t - 1e-9)
    assert(positional.subsetOf(suffixNorm), "tighter bound must admit a subset")
    assert(positional.size < suffixNorm.size,
      s"positional ${positional.size} vs suffix-norm ${suffixNorm.size}: " +
        "must strictly prune on a hot-vocabulary corpus")
    // and no true pair is lost: the operator (which uses the positional
    // bound) stays exact on this corpus — pinned by the brute-force test
    // below, but assert the planted-subset relation here too
    val truePairs = Dedup.sparseCosinePairs(corpus, minCos = t)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.subsetOf(positional), "every true pair must be a candidate")
  }

  test("sparse cosine join (L2AP prefix) == brute force across thresholds and corpora") {
    def bruteForce(corpus: Seq[(Long, String)], t: Double,
                   idf: Boolean = false, ngram: Int = 1): Set[(Long, Long, Double)] = {
      def tf(s: String): Map[String, Double] = {
        if (s.trim.isEmpty) return Map.empty // featureless in every mode
        val feats =
          if (ngram == 1) s.split(" ", -1).filter(_.nonEmpty).toSeq
          else {
            val toks = s.split(" ", -1)
            if (toks.length < ngram) Seq(toks.mkString(" "))
            else toks.sliding(ngram).map(_.mkString(" ")).toSeq
          }
        feats.groupBy(identity).map { case (k, v) => k -> v.length.toDouble }
      }
      val tfs = corpus.map { case (i, s) => i -> tf(s) }
      val dfm = tfs.flatMap(_._2.keys).groupBy(identity).map { case (k, v) => k -> v.size }
      val n = corpus.size.toDouble
      def weight(m: Map[String, Double]): Map[String, Double] =
        if (!idf) m
        else m.map { case (k, v) => k -> v * (math.log((1.0 + n) / (1.0 + dfm(k))) + 1.0) }
      def norm(m: Map[String, Double]) = math.sqrt(m.values.map(x => x * x).sum)
      (for {
        (ia, ma0) <- tfs; (ib, mb0) <- tfs if ia < ib && ma0.nonEmpty && mb0.nonEmpty
        ma = weight(ma0); mb = weight(mb0)
        dot = ma.keySet.intersect(mb.keySet).toSeq.map(k => ma(k) * mb(k)).sum
        cos = BigDecimal(dot / (norm(ma) * norm(mb)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cos >= t
      } yield (ia, ib, cos)).toSet
    }
    // fixture corpus (planted near-dups) + random corpora with heavy token
    // sharing so stopword-class hot features and the length spread are live
    val fixture = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    Seq(0.5, 0.8, 0.95).foreach { t =>
      val got = Dedup.sparseCosinePairs(docs, minCos = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === bruteForce(fixture, t), s"fixture t=$t")
    }
    (0 until 2).foreach { seed =>
      val rnd = new java.util.Random(40 + seed)
      // incl. empty and whitespace-only texts: featureless in every mode —
      // they must never pair (not even with each other at ngram > 1)
      val corpus = (0 until 100).map { i =>
        val len = 3 + rnd.nextInt(30)
        val text =
          if (i % 41 == 0) "" else if (i % 43 == 0) "   "
          else Array.fill(len)(s"v${rnd.nextInt(40)}").mkString(" ")
        (i.toLong, text)
      }
      val df = corpus.toDF("doc_id", "text")
      Seq(0.3, 0.6, 0.9).foreach { t =>
        val got = Dedup.sparseCosinePairs(df, minCos = t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got === bruteForce(corpus, t), s"seed=$seed t=$t")
        val gotIdf = Dedup.sparseCosinePairs(df, minCos = t, idf = true)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(gotIdf === bruteForce(corpus, t, idf = true), s"idf seed=$seed t=$t")
        val got2 = Dedup.sparseCosinePairs(df, minCos = t, ngram = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got2 === bruteForce(corpus, t, ngram = 2), s"ngram=2 seed=$seed t=$t")
      }
    }
  }

  test("decontamination: planted benchmark n-grams found, clean docs untouched") {
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "four score and seven years ago our fathers brought forth a new nation"))
      .toDF("doc_id", "text")
    val plantedGram = "jumps over the lazy dog near the river bank today ok" // >= 13 words w/ prefix
    val corpus = Seq(
      (10L, s"training doc that quotes: the quick brown fox jumps over the lazy dog near the river bank today end"),
      (11L, "a completely unrelated training document about sketch aggregation on spark clusters"),
      (12L, "four score and seven years ago our fathers brought forth a new nation of sketches"),
      (13L, "shares only four score and nothing else long enough"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminatedDocs(corpus, bench, n = 13, minShared = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(10L), "13-gram quote must be flagged")
    assert(hits.contains(12L), "13-gram benchmark prefix must be flagged")
    assert(!hits.contains(11L) && !hits.contains(13L),
      s"short/no overlap must not flag: $hits")
    val _ = plantedGram // documentation of the quoted gram
    // dropping flagged docs composes with an anti join
    val kept = corpus.join(Dedup.contaminatedDocs(corpus, bench, n = 13),
      Seq("doc_id"), "left_anti").collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L, 13L))
  }

  test("Sampling.weightedPerStratum: ES law, determinism, eligibility, size") {
    // the weighting LAW: with k=1, P(item selected) = w/sum(w) exactly
    // under true randomness; over 300 independent hash trials (one
    // stratum per trial — each (trial, item) key draws an independent u)
    // the frequency of the weight-8 item must approach 8/10
    val items = Seq(("a", 8.0), ("b", 1.0), ("c", 1.0)).toDF("item", "w")
    val trials = spark.range(300).select($"id".as("trial"))
    val df = trials.crossJoin(items)
      .withColumn("key", concat($"trial", lit("#"), $"item"))
    val picked = Sampling.weightedPerStratum(df, "trial", "w", 1, keyCol = "key")
    assert(picked.count() === 300)
    val fa = picked.filter($"item" === "a").count().toDouble / 300.0
    assert(math.abs(fa - 0.8) < 0.11, s"weight-8 item picked at rate $fa, want ~0.8")
    // a crushing weight always wins
    val crush = Seq(("big", 1e9), ("tiny", 1.0)).toDF("item", "w")
    val crushed = trials.crossJoin(crush)
      .withColumn("key", concat($"trial", lit("#"), $"item"))
    assert(Sampling.weightedPerStratum(crushed, "trial", "w", 1, keyCol = "key")
      .filter($"item" === "big").count() === 300)
    // eligibility: null/zero/negative weights never sampled; k >= stratum
    // keeps every positive-weight row
    val mixed = Seq(("p1", java.lang.Double.valueOf(2.0)),
      ("p2", java.lang.Double.valueOf(0.5)),
      ("z", java.lang.Double.valueOf(0.0)),
      ("neg", java.lang.Double.valueOf(-1.0)),
      ("n", null.asInstanceOf[java.lang.Double]))
      .toDF("item", "w").withColumn("s", lit("x"))
    val kept = Sampling.weightedPerStratum(mixed, "s", "w", 10, keyCol = "item")
      .select("item").as[String].collect().toSet
    assert(kept === Set("p1", "p2"))
    // NaN is not a positive weight (Spark's total order ranks NaN above
    // every numeric, so a bare `> 0` filter would admit it)
    val withNan = mixed.unionByName(
      Seq(("nan", java.lang.Double.valueOf(Double.NaN))).toDF("item", "w")
        .withColumn("s", lit("x")))
    assert(Sampling.weightedPerStratum(withNan, "s", "w", 10, keyCol = "item")
      .select("item").as[String].collect().toSet === Set("p1", "p2"))
    // determinism across partitionings; a different salt draws differently
    val big = spark.range(2000).select($"id".as("doc_id"),
      ($"id" % 5).cast("string").as("s"), (pmod($"id" * 37, lit(100)) + 1).cast("double").as("w"))
    val a = Sampling.weightedPerStratum(big, "s", "w", 50, keyCol = "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.weightedPerStratum(big.repartition(13), "s", "w", 50, keyCol = "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
    assert(a.size === 250)
    val salted = Sampling.weightedPerStratum(big, "s", "w", 50,
      keyCol = "doc_id", salt = "other").select("doc_id").as[Long].collect().toSet
    assert(salted !== a)
  }

  test("sampling: exact stratified quotas, partition-invariant, hash sample properties") {
    val rows = (0 until 3000).map { i =>
      (i.toLong, s"lang${i % 7}", s"text $i")
    }
    val df = rows.toDF("doc_id", "lang", "text")
    val s1 = Sampling.stratified(df, "lang", 0.1).collect()
    // exact quotas: ceil(0.1 * per-lang count)
    val perLang = rows.groupBy(_._2).view.mapValues(_.size).toMap
    val gotLang = s1.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    perLang.foreach { case (l, n) =>
      assert(gotLang(l) === math.ceil(n * 0.1).toInt, s"quota for $l")
    }
    // partition invariance: same rows from any partitioning
    val ids1 = s1.map(_.getLong(0)).toSet
    val ids2 = Sampling.stratified(df.repartition(13), "lang", 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2, "stratified selection must not depend on partitioning")

    // hash sample: deterministic, subset, ~fraction, salt-independent draws
    val h1 = Sampling.byHash(df, 0.25).collect().map(_.getLong(0)).toSet
    val h2 = Sampling.byHash(df.repartition(11), 0.25).collect().map(_.getLong(0)).toSet
    assert(h1 === h2)
    assert(math.abs(h1.size - 750) < 150, s"rate ${h1.size}/3000 vs fraction 0.25")
    val salted = Sampling.byHash(df, 0.25, salt = "other").collect().map(_.getLong(0)).toSet
    assert(salted !== h1, "a different salt draws a different sample")
    val inter = h1.intersect(salted).size.toDouble
    assert(math.abs(inter - 0.25 * h1.size) < 80, "independent draws overlap ~fraction^2")

    // NULL strata and NULL keys must not silently vanish
    val withNulls = rows.take(100).map { case (i, l, t) =>
      (i, if (i % 10 == 0) null else l, t)
    }.toDF("doc_id", "lang", "text")
    val sNull = Sampling.stratified(withNulls, "lang", 1.0).count()
    assert(sNull === 100, "fraction 1.0 keeps every row incl. NULL strata")
    val nullKeys = Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
      .toDF("doc_id", "text")
    assert(Sampling.byHash(nullKeys, 1.0).count() === 2,
      "fraction 1.0 keeps NULL-key rows")

    // per-stratum cap: big strata truncate to the cap, small ones pass
    // through, selection is partition-invariant
    val capped = Sampling.capPerStratum(df, "lang", 100)
    val byLang = capped.collect().groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    assert(byLang.values.forall(_ === 100), "every 400+-row stratum caps at 100")
    val tiny = Seq((1L, "solo", "t")).toDF("doc_id", "lang", "text")
    assert(Sampling.capPerStratum(tiny, "lang", 100).count() === 1)
    val cappedIds = capped.collect().map(_.getLong(0)).toSet
    val cappedIds2 = Sampling.capPerStratum(df.repartition(17), "lang", 100)
      .collect().map(_.getLong(0)).toSet
    assert(cappedIds === cappedIds2, "cap selection must not depend on partitioning")
  }

  test("distribution-matching sample: exact mix quotas, whitelist semantics") {
    val rows = (0 until 10).map(i => (i.toLong, "a")) ++
      (100 until 104).map(i => (i.toLong, "b")) ++
      (200 until 203).map(i => (i.toLong, "c")) ++ // not in the mix
      Seq((300L, null.asInstanceOf[String]))
    val df = rows.toDF("doc_id", "lang")
    // N = min(floor(10/0.6), floor(4/0.4)) = min(16, 10) = 10
    // quotas: a = floor(6.0) = 6, b = floor(4.0) = 4
    val got = Sampling.toDistribution(df, "lang", Map("a" -> 0.6, "b" -> 0.4))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang === Map("a" -> 6, "b" -> 4), s"got $byLang")
    assert(got.forall(r => r._2 == "a" || r._2 == "b"), "mix is a whitelist")
    // weights normalize: {3, 2} behaves as {0.6, 0.4}
    val got2 = Sampling.toDistribution(df, "lang", Map("a" -> 3.0, "b" -> 2.0))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 === got.toSet, "unnormalized weights select the same rows")
    // partition invariance
    val got3 = Sampling.toDistribution(df.repartition(5), "lang",
      Map("a" -> 0.6, "b" -> 0.4)).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got3 === got.toSet)
    // an impossible mix (targeted stratum empty) yields the empty sample
    assert(Sampling.toDistribution(df, "lang",
      Map("a" -> 0.5, "missing" -> 0.5)).count() === 0L)
    assertThrows[IllegalArgumentException](
      Sampling.toDistribution(df, "lang", Map("a" -> 0.0)))
    // float-floor guard: 0.29 * 100 is 28.999...96 in doubles; the quota
    // must still be the mathematical floor(p * N)
    val big = ((0 until 29).map(i => (i.toLong, "x")) ++
      (1000 until 1071).map(i => (i.toLong, "y"))).toDF("doc_id", "lang")
    // counts x=29, y=71; N = min(floor(29/.29), floor(71/.71)) = 100;
    // quotas: x = 29, y = 71 (everything)
    val mixed = Sampling.toDistribution(big, "lang", Map("x" -> 0.29, "y" -> 0.71))
      .collect().groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(mixed === Map("x" -> 29, "y" -> 71), s"float floor lost a row: $mixed")
  }

  test("resampleToCounts: exact totals, even epochs, whitelist, guards, partition-invariant") {
    val docs = (0 until 300).map(i =>
      (i.toLong, s"text $i", if (i < 200) "big" else if (i < 290) "mid" else "tiny"))
      .toDF("doc_id", "text", "lang")
    // big: 200 rows downsampled to 150; mid: 90 upsampled to 250 (2 epochs
    // + 70 extras); tiny: 10 upsampled to 95 (9 epochs + 5 extras);
    // "other" absent from targets -> dropped
    val targets = Map("big" -> 150L, "mid" -> 250L, "tiny" -> 95L)
    val out = Sampling.resampleToCounts(docs, "lang", targets)
    val rows = out.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("epoch")))
    assert(out.columns.toSeq === docs.columns.toSeq :+ "epoch")
    val perStratum = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perStratum === Map("big" -> 150, "mid" -> 250, "tiny" -> 95),
      s"exact totals: $perStratum")
    // per-doc copies maximally even: floor(T/c) or ceil(T/c); epochs 0..k-1
    for ((lang, t, c) <- Seq(("big", 150L, 200L), ("mid", 250L, 90L), ("tiny", 95L, 10L))) {
      val byDoc = rows.filter(_._2 == lang).groupBy(_._1).view.mapValues(_.map(_._3)).toMap
      for ((id, epochs) <- byDoc) {
        assert(epochs.length === t / c || epochs.length === t / c + 1,
          s"$lang doc $id copies ${epochs.length}")
        assert(epochs.sorted.toSeq === (0L until epochs.length).toSeq,
          s"$lang doc $id epochs not 0..k-1")
      }
      assert(byDoc.values.count(_.length == t / c + 1) === (t % c),
        s"$lang extra-copy count")
    }
    // partition invariance: same (doc_id, epoch) multiset on any layout
    val again = Sampling.resampleToCounts(docs.repartition(7), "lang", targets)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch"))).sorted
    assert(again.toSeq === rows.map(r => (r._1, r._3)).sorted.toSeq)
    // downsample selection agrees with the engine's deterministic order
    val bigKept = rows.filter(_._2 == "big").map(_._1).toSet
    val viaQuota = Sampling.capPerStratum(docs.filter($"lang" === "big"), "lang", 150)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(bigKept === viaQuota, "T<c degrades to the shared top-T selection")
    // NULL keys are legitimate (module contract): a NULL-key row selected
    // as an extra copy must still count — totals stay EXACT
    val withNull = Seq((Option(1L), "x"), (Option(2L), "x"), (Option.empty[Long], "x"))
      .toDF("doc_id", "lang")
    for (t <- Seq(2L, 3L, 7L))
      assert(Sampling.resampleToCounts(withNull, "lang", Map("x" -> t)).count() === t,
        s"NULL-key stratum must still hit target $t exactly")
    // guards: target for an empty stratum; absurd epoch count
    assertThrows[IllegalArgumentException](
      Sampling.resampleToCounts(docs, "lang", Map("nope" -> 5L)))
    assertThrows[IllegalArgumentException](
      Sampling.resampleToCounts(docs, "lang", Map("tiny" -> 1000000L)))
    assert(Sampling.resampleToCounts(docs, "lang", Map("tiny" -> 1000000L),
      maxEpochs = 0L).count() === 1000000L, "opt-out cap still exact")
  }

  test("sampling hash encoding is unambiguous (no sentinel/salt collisions)") {
    // (key='a#b', salt='') and (key='a', salt='b') must NOT make identical
    // decisions, and a NULL key must not be chained to a literal sentinel
    // string — with in-band encoding both collide and "independent" samples
    // silently correlate. Decisions are deterministic, so this pins forever.
    val ambiguous = Seq(Tuple1("a#b")).toDF("k")
    val plain = Seq(Tuple1("a")).toDF("k")
    val d1 = (0 to 40).map(i => Sampling.byHash(ambiguous, i / 40.0, "k", salt = "").count())
    val d2 = (0 to 40).map(i => Sampling.byHash(plain, i / 40.0, "k", salt = "b").count())
    assert(d1 !== d2, "length-prefixed salt must break the '#' ambiguity")
    val nullKey = Seq(Tuple1(null.asInstanceOf[String])).toDF("k")
    val sentinel = Seq(Tuple1(" null")).toDF("k")
    val n1 = (0 to 40).map(i => Sampling.byHash(nullKey, i / 40.0, "k").count())
    val n2 = (0 to 40).map(i => Sampling.byHash(sentinel, i / 40.0, "k").count())
    assert(n1 !== n2, "NULL key must not collide with a ' null' string key")
  }

  test("concat-and-chunk pack assignment: start-window semantics, oversized docs span windows") {
    val docs = Seq(
      (1L, 0, 4L), (2L, 0, 4L), (3L, 0, 4L), (4L, 0, 4L), // bucket 0: 4+4+4 start <10
      (10L, 1, 25L), (11L, 1, 3L), // bucket 1: oversized doc spans windows 0-2
      (20L, 2, 10L), (21L, 2, 1L)) // exact-budget doc; next starts window 1
      .toDF("doc_id", "bucket", "toks")
    val packed = graft.operators.Packing.packConcat(docs, "toks", budget = 10,
        bucketCol = "bucket")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Int]("pack_pos"))).toMap
    assert(packed(1L) === (0L, 1) && packed(2L) === (0L, 2) && packed(3L) === (0L, 3),
      "docs starting inside window 0 pack together (last may overflow)")
    assert(packed(4L) === (1L, 1), "doc starting at offset 12 opens window 1")
    assert(packed(10L) === (0L, 1), "oversized doc owns its starting window")
    assert(packed(11L) === (2L, 1), "next doc starts at offset 25 -> window 2")
    assert(packed(20L) === (0L, 1) && packed(21L) === (1L, 1),
      "exact-budget doc fills window 0; successor opens window 1")
    // partition invariance
    val again = graft.operators.Packing.packConcat(docs.repartition(5), "toks", 10, "bucket")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    assert(again === packed.view.mapValues(_._1).toMap)

    // TRUE greedy (close-on-overflow): hard budget cap, dense pack ids,
    // oversized docs isolated as singletons
    val greedy = graft.operators.Packing.packGreedy(docs, "toks", budget = 10,
        bucketCol = "bucket")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Int]("pack_pos"))).toMap
    assert(greedy(1L) === (0L, 1) && greedy(2L) === (0L, 2),
      "4+4 fits pack 0; adding a third 4 would overflow")
    assert(greedy(3L) === (1L, 1) && greedy(4L) === (1L, 2), "next two open pack 1")
    assert(greedy(10L) === (0L, 1), "oversized doc is a singleton pack")
    assert(greedy(11L) === (1L, 1), "doc after an oversized one opens the NEXT dense id")
    assert(greedy(20L) === (0L, 1) && greedy(21L) === (1L, 1),
      "exact-budget doc closes its pack")
    val greedy2 = graft.operators.Packing.packGreedy(docs.repartition(7), "toks", 10, "bucket")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    assert(greedy2 === greedy.view.mapValues(_._1).toMap, "partition invariant")
  }

  test("best-fit-decreasing packing: fuller packs than greedy, invariants hold") {
    // classic BFD case: greedy-in-id-order wastes; BFD pairs 6+4 and 7+3
    val docs = Seq((1L, 0, 6L), (2L, 0, 7L), (3L, 0, 4L), (4L, 0, 3L),
      (10L, 1, 25L), (11L, 1, 3L)) // oversized singleton + small doc
      .toDF("doc_id", "bucket", "toks")
    val bfd = graft.operators.Packing.packBestFit(docs, "toks", budget = 10,
        bucketCol = "bucket")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Int]("pack_pos"))).toMap
    // order desc: 7 -> pack0; 6 -> pack1; 4 -> pack1 (residual 4 beats 3);
    // 3 -> pack0
    assert(bfd(2L)._1 === 0L && bfd(4L)._1 === 0L, "7+3 share a pack")
    assert(bfd(1L)._1 === 1L && bfd(3L)._1 === 1L, "6+4 share a pack")
    assert(bfd(10L) === (0L, 1), "oversized doc is a singleton pack")
    assert(bfd(11L) === (1L, 1))
    // greedy on the same bucket 0 needs 3 packs (6|7|4+3); BFD needs 2
    val greedy = graft.operators.Packing.packGreedy(docs.filter($"bucket" === 0),
      "toks", 10, "bucket").collect().map(_.getAs[Long]("pack_id")).max
    assert(greedy === 2L, "greedy-in-id-order needs 3 packs where BFD needs 2")

    // random soak: cap, unmergeable-pairs, density, cardinality, and
    // partition invariance on 500 random docs over 8 buckets
    val rnd = new java.util.Random(21)
    val rand = (0 until 500).map(i => (i.toLong, i % 8, 1L + rnd.nextInt(120)))
      .toDF("doc_id", "bucket", "toks")
    val packed = graft.operators.Packing.packBestFit(rand, "toks", 128, "bucket")
      .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("toks"), r.getAs[Long]("doc_id")))
    assert(packed.length === 500, "every doc packed exactly once")
    val totals = packed.groupBy(p => (p._1, p._2)).view.mapValues(_.map(_._3).sum).toMap
    val counts = packed.groupBy(p => (p._1, p._2)).view.mapValues(_.length).toMap
    totals.foreach { case (k, t) =>
      assert(t <= 128 || counts(k) == 1, s"pack $k total $t over budget") }
    totals.keys.groupBy(_._1).foreach { case (b, ks) =>
      val ts = ks.toSeq.map(totals)
      for (i <- ts.indices; j <- i + 1 until ts.size)
        assert(ts(i) + ts(j) > 128, s"bucket $b has mergeable packs")
      val ids = ks.map(_._2).toSeq.sorted
      assert(ids === (0L until ids.size).toSeq, s"bucket $b ids not dense")
    }
    val again = graft.operators.Packing.packBestFit(rand.repartition(11), "toks", 128, "bucket")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    assert(again === packed.map(p => p._4 -> p._2).toMap, "partition invariant")

    // zero-token docs best-fit into a FULL pack (residual 0) rather than
    // opening a zero-total pack that would break pairwise unmergeability
    val zeros = Seq((1L, 0, 10L), (2L, 0, 10L), (3L, 0, 0L)).toDF("doc_id", "bucket", "toks")
    val zp = graft.operators.Packing.packBestFit(zeros, "toks", 10, "bucket")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    assert(zp(3L) === 0L || zp(3L) === 1L, s"zero-token doc joins a full pack: $zp")
    assert(zp.values.toSet.size === 2, "no third (zero-total) pack opens")
  }

  test("packing rejects negative tokens and excludes NULLs consistently") {
    val withNull = Seq((1L, 0, java.lang.Long.valueOf(4L)),
      (2L, 0, null.asInstanceOf[java.lang.Long]), (3L, 0, java.lang.Long.valueOf(5L)))
      .toDF("doc_id", "bucket", "toks")
    // both operators: NULL-token rows excluded, never a NULL pack_id
    val pc = graft.operators.Packing.packConcat(withNull, "toks", 10, "bucket").collect()
    assert(pc.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 3L))
    assert(pc.forall(!_.isNullAt(pc.head.fieldIndex("pack_id"))))
    val pg = graft.operators.Packing.packGreedy(withNull, "toks", 10, "bucket").collect()
    assert(pg.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 3L))
    // negative token counts fail fast in both
    val neg = Seq((1L, 0, 4L), (2L, 0, -3L)).toDF("doc_id", "bucket", "toks")
    assertThrows[Exception] {
      graft.operators.Packing.packConcat(neg, "toks", 10, "bucket").collect()
    }
    assertThrows[Exception] {
      graft.operators.Packing.packGreedy(neg, "toks", 10, "bucket").collect()
    }
    // bucket-size guard: an over-cap bucket is an actionable error, not an
    // executor OOM; under-cap and opt-out both succeed
    val many = (0 until 50).map(i => (i.toLong, 0, 1L)).toDF("doc_id", "bucket", "toks")
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.Packing.packGreedy(many, "toks", 10, "bucket",
        maxBucketRows = 10).collect()
    }
    assert(e.getMessage.contains("maxBucketRows") || e.getCause != null &&
      e.getCause.getMessage.contains("maxBucketRows"))
    assert(graft.operators.Packing.packGreedy(many, "toks", 10, "bucket",
      maxBucketRows = 0).count() === 50)
    assert(graft.operators.Packing.packGreedy(many, "toks", 10, "bucket").count() === 50)
  }

  test("chunking: exact windows, overlap coverage, no token lost, columns kept") {
    import graft.core.text.TextOps
    // 10 tokens, max 4, overlap 1 -> stride 3 -> starts 0,3,6 cover t9
    val ts = (0 until 10).map(i => s"t$i")
    val cs = TextOps.chunks(ts.mkString(" "), 4, 1)
    assert(cs.toSeq === Seq("t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"))
    // every token appears; consecutive chunks share exactly `overlap`
    assert(cs.flatMap(_.split(" ")).toSet === ts.toSet)
    cs.sliding(2).foreach { case Array(a, b) =>
      assert(a.split(" ").toSet.intersect(b.split(" ").toSet).size === 1)
    }
    assert(TextOps.chunks("one two", 4, 1).toSeq === Seq("one two"), "short doc = 1 chunk")
    assert(TextOps.chunks("   ", 4, 1).isEmpty, "whitespace doc = no chunks")
    // the trailing window is never fully contained in its predecessor
    assert(TextOps.chunks((0 until 8).map(i => s"x$i").mkString(" "), 4, 0).length === 2)
    assertThrows[IllegalArgumentException](TextOps.chunks("a", 4, 4))

    val docs2 = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val out = Chunking.splitByTokens(docs2, maxTokens = 4, overlap = 1).collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[Int]("chunk_id")).toSeq === Seq(0, 1, 2))
    assert(out.forall(_.getAs[String]("lang") === "en"), "other columns preserved")
    assert(out.map(_.getAs[String]("text")).toSeq ===
      Seq("t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"))
    // re-chunking chunked output is an explicit error, not a dup column
    assertThrows[IllegalArgumentException] {
      Chunking.splitByTokens(Chunking.splitByTokens(docs2, 4), 4)
    }
  }

  test("null-text rows drop from signatures; store param mismatch fails fast") {
    // a null text must neither crash nor band into a constant bucket that
    // pairs quadratically — it simply has no signature, as with explode
    val dirty = Seq((1L, "a b c d e f g"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]), (4L, "a b c d e f g"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashSignatures(dirty).count() === 2)
    val pairs = Dedup.minhashLshPairs(dirty, n = 3, numHashes = 16, bands = 4,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 4L)), s"null-text docs never pair: $pairs")
    // probing a store persisted under different numHashes is an error
    val store = Dedup.minhashSignatures(dirty, numHashes = 16)
    val e = intercept[Exception] {
      Dedup.minhashPairsAgainstStore(dirty, store, numHashes = 32).collect()
    }
    assert(e.getMessage.contains("numHashes") ||
      Option(e.getCause).exists(_.getMessage.contains("numHashes")))
  }

  test("incremental dedup against a persisted store: exact and near-dup probes") {
    // batch 1 persists only signatures; batch 2 dedups against them
    val batch1 = Seq((1L, "the exact same text"), (2L, "another old document"))
      .toDF("doc_id", "text")
    val store = Dedup.contentSignatures(batch1)
    val batch2 = Seq(
      (10L, "the exact same text"),    // known content -> dropped
      (11L, "a genuinely new document"),
      (12L, "a genuinely new document"), // intra-batch dup -> min id survives
      (13L, "another old document"))   // known -> dropped
      .toDF("doc_id", "text")
    val kept = Dedup.exactAgainstStore(batch2, store)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L), s"got $kept")
    // appending survivors' signatures makes the next batch see them
    val store2 = store.unionByName(
      Dedup.contentSignatures(batch2.filter(col("doc_id") === 11L)))
    val batch3 = Seq((20L, "a genuinely new document"), (21L, "brand new again"))
      .toDF("doc_id", "text")
    assert(Dedup.exactAgainstStore(batch3, store2)
      .collect().map(_.getLong(0)).toSet === Set(21L))

    // near-dup probe: signature store only, no text retained
    val corpus = docs.limit(60)
    val sigStore = Dedup.minhashSignatures(corpus, n = 3, numHashes = 32)
    val copies = corpus.limit(10)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    val unrelated = Seq((9000L, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff"))
      .toDF("doc_id", "text")
    val matches = Dedup.minhashPairsAgainstStore(
        copies.unionByName(unrelated), sigStore,
        n = 3, numHashes = 32, bands = 8, minEstJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactHits = matches.filter(m => m._2 == m._1 + 5000L)
    assert(exactHits.length === 10 && exactHits.forall(_._3 === 1.0),
      s"every planted copy matches its source at est 1.0: ${matches.toSeq}")
    assert(!matches.exists(_._2 == 9000L), "unrelated doc matches nothing")
  }

  test("boilerplate line strip: df is per-document, order kept, empty docs survive") {
    val docs = Seq(
      (1L, "unique one\nBOILER\nunique two"),
      (2L, "BOILER\nother text"),
      (3L, "BOILER\nBOILER"),    // fully boilerplate -> empty text, not dropped
      (4L, "RARE\nRARE\nmine"),  // within-doc dup counts ONCE toward df
      (5L, "solo content"))
      .toDF("doc_id", "text")
    val audit = Dedup.boilerplateLines(docs, minDf = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit === Map("BOILER" -> 3L), s"got $audit") // RARE df=1 (one doc)
    val stripped = Dedup.stripBoilerplateLines(docs, minDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stripped(1L) === "unique one\nunique two", "order preserved")
    assert(stripped(2L) === "other text")
    assert(stripped(3L) === "", "fully-boilerplate doc keeps an empty text")
    assert(stripped(4L) === "RARE\nRARE\nmine", "under-df lines untouched")
    assert(stripped(5L) === "solo content")
    assert(stripped.size === 5)
    // extra columns pass through untouched (no silent schema narrowing)
    val wide = docs.withColumn("lang", concat(lit("l"), pmod($"doc_id", lit(3))))
      .withColumn("url", concat(lit("u://"), $"doc_id"))
    val ws = Dedup.stripBoilerplateLines(wide, minDf = 3)
    assert(ws.columns.toSeq === wide.columns.toSeq, "schema preserved in order")
    val w3 = ws.filter($"doc_id" === 3L).collect()(0)
    assert(w3.getAs[String]("text") === "" && w3.getAs[String]("url") === "u://3")
    // degenerate minDf fails fast instead of blanking the corpus
    assertThrows[IllegalArgumentException](Dedup.boilerplateLines(docs, minDf = 1))
    assertThrows[IllegalArgumentException](Dedup.stripBoilerplateLines(docs, minDf = 0))
  }

  test("boilerplate cardinality cap fails fast; default (off) allows large sets") {
    val docs = Seq(
      (1L, "a\nb"), (2L, "a\nb"), (3L, "c\nd"), (4L, "c\nd")).toDF("doc_id", "text")
    // 4 distinct boilerplate lines at minDf=2; a cap below that is the
    // "minDf misconfigured, about to blank the corpus" signal
    val e = intercept[IllegalStateException](
      Dedup.stripBoilerplateLines(docs, minDf = 2, maxBoilerplateLines = 3))
    assert(e.getMessage.contains("maxBoilerplateLines"))
    // at the cap, and with the default opt-out, the strip runs
    for (cap <- Seq(4L, 0L))
      assert(Dedup.stripBoilerplateLines(docs, minDf = 2, maxBoilerplateLines = cap)
        .collect().forall(_.getAs[String]("text") == ""))
  }

  test("connected components resume rejects a directory from a different edge set") {
    val dir = graft.SparkTestBase.tempDir("graft_cc_fp").toString
    val chain = (0 until 20).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    Dedup.connectedComponents(chain, maxIter = 2, resumePath = Some(dir)).count()
    // a restart whose pairs GREW between restarts (new docs arrived) must
    // fail fast — resuming the old rounds would silently drop the new
    // component from the output
    val grown = chain.unionByName(Seq((100L, 101L)).toDF("id_a", "id_b"))
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(grown, resumePath = Some(dir)))
    assert(e.getMessage.contains("DIFFERENT edge set"), e.getMessage)
    // rounds present but no fingerprint (pre-upgrade or hand-edited
    // directory): equally untrustworthy, same fail-fast
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/edges_fingerprint"), true)
    val e2 = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, resumePath = Some(dir)))
    assert(e2.getMessage.contains("no edge-set fingerprint"), e2.getMessage)
  }

  test("connected components resume ignores stray non-round directory names") {
    val dir = graft.SparkTestBase.tempDir("graft_cc_stray").toString
    val chain = (0 until 20).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    Dedup.connectedComponents(chain, maxIter = 2, resumePath = Some(dir),
      pruneRounds = false).count()
    // leftovers from tooling or manual inspection must be skipped, not
    // NumberFormatException the restarted job
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/round_1_tmp"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/round_zz"))
    val comps = Dedup.connectedComponents(chain, resumePath = Some(dir),
        pruneRounds = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length === 21 && comps.forall(_._2 == 0L))
  }

  test("minhash_sig per-row expression == the aggregation formulation, bit-identical") {
    // the contract that lets streaming (one stateful-operator budget) and
    // batch share signatures: min(xxhash64(lit(i), xxh3_64(sh))) per doc
    // must equal the codegen'd one-pass expression exactly
    val k = 16
    val shh = docs.select($"doc_id".as("id"),
        explode(Dedup.shingles($"text", 3)).as("sh"))
      .select($"id", xxh3_64($"sh").as("h"))
    val aggCols = (0 until k).map(i => min(xxhash64(lit(i), $"h")).as(s"m$i"))
    val viaAgg = shh.groupBy($"id").agg(aggCols.head, aggCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap
    val viaExpr = Dedup.minhashSignatures(docs, n = 3, numHashes = k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.keySet === viaAgg.keySet)
    viaAgg.foreach { case (id, s) => assert(viaExpr(id) === s, s"doc $id") }
  }

  test("minhash LSH recall >= 0.9 vs exact, perfect precision after verify") {
    val exact = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, n = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified LSH pairs must all be true pairs")
    assert(lsh.size >= (exact.size * 0.9).toInt, s"recall ${lsh.size}/${exact.size}")
  }

  test("simhash pairs: identical docs hamming 0; mutated docs small hamming") {
    val withDup = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "totally different words entirely unrelated content here now")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(withDup, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("simhash banding: planted hamming-8..10 twins are ALWAYS found") {
    // flip positions hit every band of a naive 8x8-bit layout — the regime
    // where an undersized band count silently loses recall (pigeonhole
    // needs nBands >= maxHamming + 1)
    def mask(bits: Seq[Int]): Long = bits.map(1L << _).reduce(_ | _)
    val flips = Seq(
      8 -> mask(Seq(1, 9, 17, 25, 33, 41, 49, 57)),
      9 -> mask(Seq(1, 9, 17, 25, 33, 41, 49, 57, 5)),
      10 -> mask(Seq(1, 9, 17, 25, 33, 41, 49, 57, 5, 13)))
    val rnd = new java.util.Random(7)
    for ((h, m) <- flips) {
      val base = (0 until 50).map(i => (i.toLong, rnd.nextLong()))
      val sigs = (base ++ base.map { case (id, s) => (id + 1000L, s ^ m) })
        .toDF("id", "sig")
      val found = Dedup.simhashPairsFromSigs(sigs, maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = base.map { case (id, _) => (id, id + 1000L) }.toSet
      assert(planted.subsetOf(found),
        s"h=$h: missing ${(planted -- found).take(3)} — banding guarantee broken")
    }
  }

  test("simhash blocking == brute force at every supported radius") {
    // clustered signatures (perturbed copies of a few bases) so true pairs
    // exist at all radii; compare blocking output against exact O(n^2)
    val rnd = new java.util.Random(42)
    val sigs = (0 until 12).flatMap { b =>
      val base = rnd.nextLong()
      (0 until 15).map { v =>
        var s = base
        val nf = rnd.nextInt(17)
        (0 until nf).foreach(_ => s ^= 1L << rnd.nextInt(64))
        (b * 100L + v, s)
      }
    }
    val df = sigs.toDF("id", "sig").cache()
    for (h <- Seq(0, 3, 5, 7, 8, 10, 12, 15)) {
      val got = Dedup.simhashPairsFromSigs(df, maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        d = java.lang.Long.bitCount(sa ^ sb) if d <= h
      } yield (ia, ib, d)).toSet
      assert(got === want, s"h=$h: blocking != brute force")
    }
    for (h <- Seq(-1, 16, 20))
      assertThrows[IllegalArgumentException](Dedup.simhashPairsFromSigs(df, h))
  }

  test("query-batch guard: corpus passed as queries fails fast, not driver OOM") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = intercept[IllegalArgumentException](
      Ann.bruteForceTopK(embs, embs, k = 5, maxQueries = 8))
    assert(e.getMessage.contains("maxQueries") || e.getMessage.contains("query batch"),
      e.getMessage)
    // the guard looks at most maxQueries+1 rows — a batch at the cap passes
    assert(Ann.bruteForceTopK(embs, embs.limit(8), k = 1, maxQueries = 8).count() > 0)
  }

  test("ANN brute force matches driver-side exact cosine; LSH recall >= 0.8") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = embs.limit(8)
    val bf = Ann.bruteForceTopK(embs, queries, k = 5)
    val got = bf.collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("nn_id")).toSeq).toMap

    // driver-side exact oracle
    val all = embs.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    got.foreach { case (qid, nns) =>
      val expect = all.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(all(qid), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      assert(nns === expect, s"query $qid")
    }

    // LSH's contract is finding NEAR neighbors: plant queries that are
    // slightly perturbed corpus vectors (cos ~0.99) and require the source
    // to be retrieved at rank 1 for >= 90% of them. (On near-uniform random
    // vectors the "top-5" are not near anything — sign-sketch LSH rightfully
    // can't and shouldn't find those.)
    val planted = embs.limit(40).select($"vec_id" + 100000, // distinct query ids
        transform($"embedding", x => x * lit(1.02f) + lit(0.01f)).as("embedding"))
      .toDF("vec_id", "embedding")
    val lsh = Ann.lshTopK(embs, planted, k = 1, dims = 64, planes = 10, tables = 6)
      .collect()
    val found = lsh.count(r =>
      r.getAs[Long]("query_id") - 100000 == r.getAs[Long]("nn_id") &&
      r.getAs[Int]("rank") == 1)
    assert(found >= 36, s"LSH planted-neighbor recall $found/40")
  }

  test("embedding near-dup: cluster-pruned exact join == brute force; approx ⊆ exact") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    // driver-side brute-force oracle (corpus is tiny at sf0.001)
    val all = embs.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val tau = 0.35
    val oracle = (for {
      (ia, va) <- all.toSeq; (ib, vb) <- all.toSeq if ia < ib
      if graft.core.vector.VectorOps.cosineD(va, vb) >= tau
    } yield (ia, ib)).toSet
    assert(oracle.nonEmpty, "test needs at least one qualifying pair")

    // exactness must hold for any block count, including pathological ones
    Seq(1, 4, 16).foreach { blocks =>
      val got = Ann.cosineNearDupPairs(embs, minCos = tau, dims = 64, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === oracle, s"blocks=$blocks")
    }

    val approx = Ann.cosineNearDupPairsApprox(embs, minCos = tau, dims = 64, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(oracle), "verified approx pairs must all be true pairs")
  }

  test("cluster-pruned near-dup exact on random vectors across thresholds and block counts") {
    val rnd = new java.util.Random(7)
    val vecs = (0 until 150).map(i =>
      (i.toLong, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    def cosD(a: Array[Float], b: Array[Float]): Double =
      graft.core.vector.VectorOps.cosineF(a, b)
    // tau=0.1 yields MANY pairs (dense output); tau=0.6 few — both must be exact
    Seq(0.1, 0.6).foreach { tau =>
      val expected = (for {
        (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
        if cosD(va, vb) >= tau
      } yield (ia, ib)).toSet
      Seq(3, 10).foreach { blocks =>
        val got = Ann.cosineNearDupPairs(df, minCos = tau, dims = 16, blocks = blocks)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === expected, s"tau=$tau blocks=$blocks " +
          s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
      }
    }
  }

  test("text ops: lang_id on real sentences; fingerprint collision-free vs text equality") {
    val samples = Seq(
      ("the quick brown fox jumps over the lazy dog and runs into the forest", "en"),
      ("der schnelle braune fuchs springt über den faulen hund und rennt in den wald", "de"),
      ("den snabba bruna räven hoppar över den lata hunden och springer in i skogen", "sv"),
      ("le renard brun rapide saute par dessus le chien paresseux et court dans la forêt", "fr"),
      ("el zorro marrón rápido salta sobre el perro perezoso y corre hacia el bosque", "es"),
      ("la volpe marrone veloce salta sopra il cane pigro e corre nella foresta", "it"),
      ("a raposa marrom rápida salta sobre o cão preguiçoso e corre para a floresta", "pt"),
      ("de snelle bruine vos springt over de luie hond en rent het bos in", "nl"),
      ("nie wiem dlaczego przy drodze do lasu stoi tak wiele starych drzew których nikt nie ścina", "pl"),
      ("bystraya korichnevaya lisa prygayet cherez lenivogo psa i bezhit v les", "ru"))
    val got = samples.toDF("text", "want")
      .withColumn("got", lang_id($"text")).collect()
    got.foreach(r => assert(r.getAs[String]("got") === r.getAs[String]("want"), r.getAs[String]("text")))
  }

  test("lang_id separates close pairs (es/pt, de/nl, es/it) on function-word-heavy text") {
    // the confusion cases that sink naive n-gram profiles: Romance pairs
    // sharing que/de/la mass, and the Germanic de/nl pair sharing de/en.
    // Sentences are deliberately rich in SHARED function words so only the
    // distinctive grams can decide.
    val samples = Seq(
      ("no sabemos qué pasará mañana pero el gobierno ha dicho que la situación está controlada", "es"),
      ("la casa que compramos en la ciudad es una de las más antiguas de la región", "es"),
      ("não sabemos o que vai acontecer amanhã mas o governo disse que a situação está sob controle", "pt"),
      ("uma das casas que compramos na cidade é uma das mais antigas da região", "pt"),
      ("non sappiamo che cosa succederà domani ma il governo ha detto che la situazione è sotto controllo", "it"),
      ("wir wissen nicht was morgen passieren wird aber die regierung hat gesagt dass die lage unter kontrolle ist", "de"),
      ("wij weten niet wat er morgen zal gebeuren maar de regering heeft gezegd dat de situatie onder controle is", "nl"),
      ("nie wiemy co się stanie jutro ale rząd powiedział że sytuacja jest pod kontrolą", "pl"),
      ("my ne znayem chto budet zavtra no pravitelstvo skazalo chto situatsiya pod kontrolem", "ru"))
    val got = samples.toDF("text", "want")
      .withColumn("got", lang_id($"text")).collect()
    got.foreach(r => assert(r.getAs[String]("got") === r.getAs[String]("want"),
      s"'${r.getAs[String]("text")}' -> ${r.getAs[String]("got")}"))
    // gibberish and too-short inputs stay unclassified
    val und = Seq("zzqx vv kkjj qqq", "hi").toDF("text")
      .withColumn("got", lang_id($"text")).collect()
    und.foreach(r => assert(r.getAs[String]("got") === "und", r.getAs[String]("text")))
    // non-Latin scripts resolve by script share, decisively: Han-only ->
    // zh, kana present -> ja (Japanese prose always mixes kana), hangul ->
    // ko, native Cyrillic -> ru, Greek -> el; CJK mixed with some Latin
    // (product names) still calls the script
    val scripts = Seq(
      ("快速的棕色狐狸跳过了懒狗然后跑进了森林", "zh"),
      ("素早い茶色のキツネはのろまな犬を飛び越えて森へ走った", "ja"),
      ("日本語のテキストです、漢字とかなが混ざります", "ja"),
      ("빠른 갈색 여우가 게으른 개를 뛰어넘어 숲으로 달려갔다", "ko"),
      ("быстрая коричневая лиса перепрыгнула через ленивую собаку", "ru"),
      ("η γρήγορη καφέ αλεπού πήδηξε πάνω από το τεμπέλικο σκυλί", "el"),
      ("我们使用 Spark 处理数据 速度很快", "zh"),
      ("الثعلب البني السريع يقفز فوق الكلب الكسول", "ar"),
      ("השועל החום המהיר קופץ מעל הכלב העצלן", "he"),
      ("สุนัขจิ้งจอกสีน้ำตาลกระโดดข้ามสุนัขขี้เกียจ", "th"),
      ("तेज़ भूरी लोमड़ी आलसी कुत्ते के ऊपर कूद जाती है", "hi"),
      // one stylistic kana in a Han-dominant page must NOT flip to ja
      ("优の良品是一家来自香港的零食连锁店我们都很喜欢他们的产品因为种类很多价格也不贵", "zh"))
      .toDF("text", "want").withColumn("got", lang_id($"text")).collect()
    scripts.foreach(r => assert(r.getAs[String]("got") === r.getAs[String]("want"),
      s"'${r.getAs[String]("text")}' -> ${r.getAs[String]("got")}"))

    // lang_id_conf: same code path as lang_id, plus a usable margin —
    // script-pass rows carry the (decisive) script share, gibberish is
    // und at margin 0, and clear prose beats a reasonable threshold
    import graft.core.text.TextOps
    assert(TextOps.langIdConf("szdfkj qwpzmx vrtbnk lopsyd") === (("und", 0.0)))
    val (zhCode, zhMargin) = TextOps.langIdConf("快速的棕色狐狸跳过了懒狗然后跑进了森林")
    assert(zhCode === "zh" && zhMargin > 0.9)
    val (enCode, enMargin) = TextOps.langIdConf(
      "the quick brown fox jumps over the lazy dog and runs into the forest")
    assert(enCode === "en" && enMargin > 0.3, s"en margin $enMargin")
    // close-pair prose still answers, but at LOW margin (threshold fodder)
    val (esCode, esMargin) = TextOps.langIdConf(
      "no sabemos qué pasará mañana pero el gobierno ha dicho que la situación está controlada")
    assert(esCode === "es" && esMargin > 0.0 && esMargin < 0.8)

    // fingerprint: equal texts -> equal fp; distinct texts here -> distinct fp
    val fp = docs.withColumn("fp", fingerprint64($"text"))
    assert(fp.select("fp").distinct().count() === fp.select("text").distinct().count())
  }

  test("quality metrics + token counts behave") {
    val r = Seq(("hello world this is clean text", "!!## @@ ??"))
      .toDF("good", "bad")
      .select(alpha_ratio($"good").as("ag"), alpha_ratio($"bad").as("ab"),
        punct_ratio($"bad").as("pb"), token_count_bpeish($"good").as("tc")).collect()(0)
    assert(r.getAs[Double]("ag") > 0.7)
    assert(r.getAs[Double]("ab") < 0.1)
    assert(r.getAs[Double]("pb") > 0.5)
    assert(r.getAs[Int]("tc") === 6)
  }

  test("Gopher quality signals: stopword ratio, mean word len, max-token repetition") {
    val r = Seq(("the cat and the dog and the end", "spam spam spam spam ham"))
      .toDF("normal", "repeated")
      .select(stopword_ratio($"normal").as("sw"),
        mean_word_len($"normal").as("mw"),
        max_token_ratio($"normal").as("mtN"),
        max_token_ratio($"repeated").as("mtR"),
        stopword_ratio(lit("")).as("swEmpty")).collect()(0)
    assert(r.getAs[Double]("sw") === 5.0 / 8) // the x3, and x2
    assert(math.abs(r.getAs[Double]("mw") - 24.0 / 8) < 1e-12)
    assert(r.getAs[Double]("mtN") === 3.0 / 8) // "the"
    assert(r.getAs[Double]("mtR") === 4.0 / 5) // degenerate doc flagged
    assert(r.getAs[Double]("swEmpty") === 0.0)
  }

  test("multimodal: metadata extraction deterministic across partitionings") {
    val media = docs.limit(50)
      .select($"doc_id", $"text".cast("binary").as("media"))
    val a = Multimodal.mediaMeta(media).collect().sortBy(_.doc_id)
    val b = Multimodal.mediaMeta(media.repartition(7)).collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(m => m.media_bytes > 0 && m.width >= 160 && m.kind == "bin"))
    // sniffing real magic bytes
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 0, 0, 0)
    assert(Multimodal.sniffKind(png) === "png")
    assert(Multimodal.frameSamplePositions(100, 4) === Seq(0, 25, 50, 75))
  }

  test("multimodal: REAL ImageIO decode of PNG/JPEG dimensions through the Spark path") {
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val rows = Seq(
      (1L, imageBytes("png", 37, 23)),
      (2L, imageBytes("jpg", 128, 64)),
      (3L, "not an image at all".getBytes)) // falls back to the stub
    val df = rows.toDF("doc_id", "media")
    val metas = Multimodal.mediaMeta(df).collect().sortBy(_.doc_id)
    assert(metas(0).kind === "png" && metas(0).width === 37 && metas(0).height === 23)
    assert(metas(0).n_frames === 1)
    assert(metas(1).kind === "jpeg" && metas(1).width === 128 && metas(1).height === 64)
    assert(metas(2).kind === "bin")
    // corrupt png: magic says png but body is garbage -> stub, not a crash
    val corrupt = Seq((4L, Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)))
      .toDF("doc_id", "media")
    assert(Multimodal.mediaMeta(corrupt).collect().head.kind === "png")
  }

  test("bm25: hand-computed ranking, scores, qtf scaling, partition determinism") {
    import graft.operators.Retrieval
    val corpus = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c c")).toDF("doc_id", "text")
    val qs = Seq((10L, "a c")).toDF("query_id", "text")
    val out = Retrieval.bm25TopK(corpus, qs, k = 3).orderBy("rank").collect()
    // idf(a)=ln(1+2.5/1.5) dominates idf(c)=ln(1.6); doc1 carries tf(a)=2
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 3L, 2L))
    def idf(df: Int) = math.log(1.0 + (3 - df + 0.5) / (df + 0.5))
    val avgdl = 8.0 / 3
    def sat(tf: Int, dl: Int) = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getDouble(2) === r6(idf(1) * sat(2, 3)))
    assert(out(1).getDouble(2) === r6(idf(2) * sat(3, 3)))
    assert(out(2).getDouble(2) === r6(idf(2) * sat(1, 2)))
    // duplicate query terms scale the contribution linearly (qtf factor)
    val o2 = Retrieval.bm25TopK(corpus, Seq((11L, "c c")).toDF("query_id", "text"),
      k = 1).collect()(0)
    assert(o2.getDouble(2) === r6(2 * idf(2) * sat(3, 3)))
    // rounded-then-ranked scores are partitioning-invariant
    val again = Retrieval.bm25TopK(corpus.repartition(5), qs, k = 3)
      .collect().map(_.toSeq).toSet
    assert(again === out.map(_.toSeq).toSet)
  }

  test("audio PCM: exact decode, stats, and signature on a hand-checked wave") {
    // p=4, amp=100: raw cycles 2,0,-2,0 -> samples 200,0,-200,0,...
    val tri = Multimodal.Synth.triangle(8, 4, 100)
    assert(tri.toSeq === Seq[Short](200, 0, -200, 0, 200, 0, -200, 0))
    val blob = Multimodal.Synth.wavPcm(32, Array(tri))
    val p = Multimodal.decodePcm16(blob).get
    assert(p.sampleRate === 32 && p.channels === 1 && p.nFrames === 8)
    assert(p.samples.toSeq === tri.toSeq)
    // sr=32 -> win=1 sample: energies 40000,0,40000,0,... -> rising
    // transitions exactly at odd k: bits {1,3,5} -> 42
    assert(Multimodal.audioEnergySig(Multimodal.monoSum(p), 32) === 42L)
    // stereo mono mix is the undivided SUM across channels
    val st = Multimodal.decodePcm16(Multimodal.Synth.wavPcm(32,
      Array(Array[Short](100, -100), Array[Short](7, -7)))).get
    assert(st.channels === 2 && Multimodal.monoSum(st).toSeq === Seq(107, -107))
  }

  test("audio PCM: padding chunk invariant, truncated data clamped, non-PCM rejected") {
    val tri = Multimodal.Synth.triangle(64, 8, 50)
    val base = Multimodal.Synth.wavPcm(800, Array(tri))
    assert(new String(base.slice(36, 40), "ISO-8859-1") === "data")
    // splice a JUNK chunk between fmt and data: identical samples must
    // yield an identical fingerprint (container invariance)
    val junk = "JUNK".getBytes("ISO-8859-1") ++
      Array[Byte](4, 0, 0, 0) ++ Array[Byte](9, 9, 9, 9)
    val padded = base.take(36) ++ junk ++ base.drop(36)
    val a = Multimodal.decodePcm16(base).get
    val b = Multimodal.decodePcm16(padded).get
    assert(a.samples.toSeq === b.samples.toSeq)
    assert(Multimodal.audioEnergySig(Multimodal.monoSum(a), 800) ===
      Multimodal.audioEnergySig(Multimodal.monoSum(b), 800))
    // declared data size overstates captured bytes: clamp to whole frames
    assert(Multimodal.decodePcm16(base.take(base.length - 3)).get.nFrames === 62)
    // non-PCM (float format 3) and non-16-bit route to the codec seam
    val nonPcm = base.clone(); nonPcm(20) = 3
    assert(Multimodal.decodePcm16(nonPcm).isEmpty)
    val bits24 = base.clone(); bits24(34) = 24
    assert(Multimodal.decodePcm16(bits24).isEmpty)
    // a WAV with zero samples (the metadata fixture) still decodes: 0 frames
    assert(Multimodal.decodePcm16(Multimodal.Synth.wav(8000, 1, 0)).get.nFrames === 0)
  }

  test("audio near-dup: resampled copies pair at small hamming through the banded join") {
    // the same continuous 1-second audio at three sample rates: a 250 Hz
    // triangle under a per-window (1/32 s) envelope cycling 1..5 — window
    // boundaries are TIME-uniform, so the energy-transition pattern is a
    // property of the audio, not the rate
    def modTri(sr: Int): Array[Short] = {
      val p = sr / 250; val win = sr / 32
      Array.tabulate(sr) { i =>
        val raw = math.abs(2 * (i % p) - p) - p / 2
        (raw * 40 * (1 + (i / win) % 5)).toShort
      }
    }
    val rates = Seq(8000, 12000, 16000)
    val blobs = rates.zipWithIndex.map { case (sr, i) =>
      (i.toLong, Multimodal.Synth.wavPcm(sr, Array(modTri(sr))))
    }
    val df = blobs.toDF("doc_id", "media")
    val fp = Multimodal.audioFingerprint(df).collect()
    assert(fp.length === 3)
    assert(fp.map(_.getAs[Int]("sample_rate")).sorted.toSeq === rates)
    val sigs = fp.map(r => r.getAs[Long]("id") -> r.getAs[Long]("sig")).toMap
    val hams = for (x <- 0 to 2; y <- x + 1 to 2)
      yield java.lang.Long.bitCount(sigs(x.toLong) ^ sigs(y.toLong))
    assert(hams.forall(_ <= 2), s"resample hamming drifted: $hams")
    assert(sigs(0L) !== 0L) // the envelope creates real transition structure
    val pairs = Multimodal.audioNearDupPairs(df, maxHamming = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("multimodal: REAL pixel dhash — re-encode invariant, resize robust, banded pairs") {
    import graft.operators.Multimodal.Synth
    // one pattern rendered three ways: png, lossless bmp re-encode,
    // half-resolution render of the same continuous image
    val png = Synth.image(88, 48, 2.4, 1.1, 0.3, "png")
    val bmp = Synth.image(88, 48, 2.4, 1.1, 0.3, "bmp")
    val small = Synth.image(44, 24, 2.4, 1.1, 0.3, "png")
    val other = Synth.image(88, 48, 0.6, 2.3, 0.9, "png")
    val sigs = Multimodal.imageDhash(
      Seq((1L, png), (2L, bmp), (3L, small), (4L, other),
          (5L, "not an image".getBytes)).toDF("doc_id", "media"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Long]("sig"))).toMap
    assert(sigs.keySet === Set(1L, 2L, 3L, 4L), "undecodable blobs drop")
    assert(sigs(1L)._1 === 88 && sigs(1L)._2 === 48, "full decode dims")
    assert(sigs(3L)._1 === 44, "resized render decodes at its own dims")
    assert(sigs(1L)._3 === sigs(2L)._3, "lossless re-encode must not move dhash")
    val hResize = java.lang.Long.bitCount(sigs(1L)._3 ^ sigs(3L)._3)
    assert(hResize <= 8, s"resize hamming $hResize exceeds the measured bound")
    // determinism across partitionings (executor-independent decode)
    val media = Seq((1L, png), (2L, bmp), (3L, small), (4L, other)).toDF("doc_id", "media")
    assert(Multimodal.imageDhash(media.repartition(5)).collect().toSet ===
      Multimodal.imageDhash(media).collect().toSet)
    // the pair operator rides the banded join: (png, bmp) at hamming 0 and
    // (png, small) within radius must both surface
    val pairs = Multimodal.imageNearDupPairs(media, maxHamming = 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)), pairs.toString)
  }

  test("multimodal: image decode and encode leave ImageIO's global cache setting alone") {
    import javax.imageio.ImageIO
    import graft.operators.Multimodal.Synth
    val (useCache0, cacheDir0) = (ImageIO.getUseCache, ImageIO.getCacheDirectory)
    // a disk cache that cannot be used: a call site that still goes through
    // ImageIO's file-backed streams fails instead of decoding
    val gone = java.nio.file.Files.createTempDirectory("graft_imageio_cache")
    try {
      ImageIO.setUseCache(true)
      ImageIO.setCacheDirectory(gone.toFile)
      java.nio.file.Files.delete(gone)
      val media = Seq((1L, Synth.image(88, 48, 2.4, 1.1, 0.3, "png"))).toDF("doc_id", "media")
      val meta = Multimodal.mediaMeta(media).collect().head
      assert(meta.kind === "png" && meta.width === 88 && meta.height === 48)
      assert(Multimodal.imageDhash(media).collect().map(_.getAs[Int]("width")).toSeq === Seq(88))
      val thumb = Multimodal.imageResize(media, maxW = 22, maxH = 22).collect().head
      assert(thumb.getAs[Int]("width") === 22 && thumb.getAs[Int]("height") === 12)
      assert(Multimodal.decodeGray(thumb.getAs[Array[Byte]]("media")).map(_._1) === Some(22))
      assert(ImageIO.getUseCache, "an image operator switched ImageIO's disk cache off")
    } finally {
      ImageIO.setUseCache(useCache0)
      ImageIO.setCacheDirectory(cacheDir0)
    }
  }

  test("multimodal: REAL image resize — aspect fit, no upscale, dhash proximity") {
    import graft.operators.Multimodal.Synth
    val big = Synth.image(88, 48, 2.4, 1.1, 0.3, "png")
    val tiny = Synth.image(12, 10, 2.4, 1.1, 0.3, "png")
    val media = Seq((1L, big), (2L, tiny), (3L, "junk".getBytes)).toDF("doc_id", "media")
    val thumbs = Multimodal.imageResize(media, maxW = 22, maxH = 22)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Array[Byte]]("media"), r.getAs[Int]("width"), r.getAs[Int]("height"))).toMap
    assert(thumbs.keySet === Set(1L, 2L), "undecodable blobs drop")
    // 88x48 into a 22x22 box: width-bound, aspect preserved -> 22x12
    assert(thumbs(1L)._2 === 22 && thumbs(1L)._3 === 12, thumbs(1L).toString)
    // smaller than the box: passes through at its own dims (no upscale)
    assert(thumbs(2L)._2 === 12 && thumbs(2L)._3 === 10)
    // a HUGE box: w * maxH would overflow Int (88 * 80M > 2^31); the
    // long-math scale must pass the image through, not clamp to 1x1
    val huge = Multimodal.imageResize(media, maxW = 80000000, maxH = 80000000)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"))).toMap
    assert(huge(1L) === ((88, 48)) && huge(2L) === ((12, 10)))
    // the thumbnail is a REAL decodable image whose dhash stays near the
    // source's (same continuous pattern through the same area-average rule)
    val sigs = Multimodal.imageDhash(Seq((1L, big), (10L, thumbs(1L)._1))
      .toDF("doc_id", "media")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("sig")).toMap
    val hd = java.lang.Long.bitCount(sigs(1L) ^ sigs(10L))
    assert(hd <= 8, s"thumbnail dhash drifted $hd bits from its source")
    // determinism: same input -> byte-identical thumbnail across partitionings
    val again = Multimodal.imageResize(media.repartition(3), 22, 22).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Array[Byte]]("media")).toMap
    assert(java.util.Arrays.equals(again(1L), thumbs(1L)._1))
    // an unknown encoder name fails at PLAN time, not as zero-byte blobs
    val eFmt = intercept[IllegalArgumentException](
      Multimodal.imageResize(media, 22, 22, format = "webp"))
    assert(eFmt.getMessage.contains("writer"), eFmt.getMessage)
    // a NULL id under decodable media fails fast instead of aliasing id 0
    val nullId = Seq((java.lang.Long.valueOf(1L), big), (null.asInstanceOf[java.lang.Long], big))
      .toDF("doc_id", "media")
    val eId = intercept[org.apache.spark.SparkException](
      Multimodal.imageDhash(nullId).collect())
    assert(eId.getMessage.contains("NULL id") ||
      Option(eId.getCause).exists(_.getMessage.contains("NULL id")), eId.getMessage)
  }

  test("multimodal: REAL WAV metadata — parses a JDK-AudioSystem-written file") {
    // a genuinely real WAV: written by javax.sound, not by our own builder
    val fmt = new javax.sound.sampled.AudioFormat(22050f, 16, 2, true, false)
    val samples = new Array[Byte](22050 * 2 * 2) // exactly 1 s of stereo PCM
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, samples.length / fmt.getFrameSize)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val m = Multimodal.decodeWav(out.toByteArray).get
    assert(m.sampleRate === 22050 && m.channels === 2 && m.durationMs === 1000L)

    // and through the Spark path with the synth builder
    val df = Seq((1L, Multimodal.Synth.wav(8000, 1, 4000)),
      (2L, "RIFFxxxxWAVEjunk".getBytes)).toDF("doc_id", "media")
    val metas = Multimodal.mediaMeta(df).collect().sortBy(_.doc_id)
    assert(metas(0).kind === "wav" && metas(0).sample_rate === 8000 &&
      metas(0).channels === 1 && metas(0).duration_ms === 250L)
    assert(metas(1).kind === "wav", "sniffed wav with unparseable body -> stub, no crash")
  }

  test("multimodal: REAL MP4 metadata — mvhd duration, tkhd dims, v1 boxes") {
    val m0 = Multimodal.decodeMp4(Multimodal.Synth.mp4(640, 360, 12345L)).get
    assert(m0.width === 640 && m0.height === 360 && m0.durationMs === 12345L)
    // version-1 mvhd (64-bit times) + 64-bit box size, hand-built
    val b = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = (24 to 0 by -8).foreach(s => b.write(((v >> s) & 0xff).toInt))
    def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xffffffffL) }
    def tag(s: String): Unit = b.write(s.getBytes("ISO-8859-1"))
    // mvhd v1 body: ver/flags 4 + times 16 + timescale 4 + duration 8 +
    // rate 4 + volume/reserved 12 + matrix 36 + pre_defined 24 + next 4 = 112
    u32(1); tag("moov"); u64(16 + 120) // 64-bit largesize: header + mvhd
    u32(120); tag("mvhd")
    u32(0x01000000L)  // version 1
    u64(0); u64(0)    // ctime, mtime (64-bit)
    u32(90000); u64(90000L * 7) // timescale, 7 s duration (64-bit)
    u32(0x00010000L); u32(0); u64(0) // rate, volume+reserved, reserved
    (0 until 9).foreach(i => u32(if (i % 4 == 0) 0x00010000L else 0)) // matrix
    (0 until 6).foreach(_ => u32(0)) // pre_defined
    u32(2)            // next_track_ID
    val m1 = Multimodal.decodeMp4(b.toByteArray).get
    assert(m1.durationMs === 7000L && m1.width === 0)
    // malformed: truncated moov must not crash or loop
    assert(Multimodal.decodeMp4("....moov".getBytes).isEmpty)
    assert(Multimodal.decodeMp4(Array[Byte](0, 0, 0, 1)).isEmpty)
  }

  test("multimodal: hostile/truncated containers return None, never crash") {
    // WAV with a chunk size near Int.MaxValue: an Int cursor would wrap
    // negative and index out of bounds
    val hostileWav = "RIFF....WAVEjunk".getBytes ++
      Array[Byte](0xec.toByte, 0xff.toByte, 0xff.toByte, 0x7f)
    assert(Multimodal.decodeWav(hostileWav).isEmpty)
    // header-only tkhd box ending exactly at EOF (body == end)
    val bareTkhd = Multimodal.Synth.mp4(1, 1, 1L).take(16) ++ // just the ftyp
      Array[Byte](0, 0, 0, 8) ++ "tkhd".getBytes
    assert(Multimodal.decodeMp4(bareTkhd).isEmpty)
    // v1 mvhd truncated inside its 64-bit duration (file ends at body+28)
    val truncMvhd = {
      val b = new java.io.ByteArrayOutputStream()
      def u32(v: Long): Unit = (24 to 0 by -8).foreach(s => b.write(((v >> s) & 0xff).toInt))
      u32(0); b.write("moov".getBytes) // moov extends to EOF
      u32(0); b.write("mvhd".getBytes) // nested, also to EOF
      u32(0x01000000L)                 // version 1
      u32(0); u32(0); u32(0); u32(0)   // 16 bytes of ctime/mtime
      // ends here: body+20 .. the u64 duration would read past EOF
      b.toByteArray
    }
    assert(Multimodal.decodeMp4(truncMvhd).isEmpty)
  }

  test("IVF: deterministic training; recall vs brute force on clustered embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val c1 = Ivf.train(embs, k = 16, iters = 4)
    val c2 = Ivf.train(embs, k = 16, iters = 4)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq, "training must be deterministic")

    val queries = embs.limit(10)
    val bf = Ann.bruteForceTopK(embs, queries, k = 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("nn_id")).toSet).toMap
    val ivf = Ivf.topK(embs, queries, k = 5, c1, nprobe = 6).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("nn_id")).toSet).toMap
    val recalls = bf.toSeq.map { case (q, exp) =>
      ivf.getOrElse(q, Set.empty).intersect(exp).size.toDouble / exp.size
    }
    val recall = recalls.sum / recalls.length
    assert(recall >= 0.6, s"IVF recall@5 = $recall (nprobe=6/16)")
    // planted near-identical query must be found at rank 1 through IVF
    import org.apache.spark.sql.functions._
    val planted = embs.limit(20).select(($"vec_id" + 100000).as("vec_id"),
      transform($"embedding", x => x * lit(1.01f)).as("embedding"))
    val hits = Ivf.topK(embs, planted, k = 1, c1, nprobe = 2).collect()
      .count(r => r.getAs[Long]("query_id") - 100000 == r.getAs[Long]("nn_id"))
    assert(hits >= 19, s"planted IVF hits $hits/20")
  }

  test("Ivf.train: anomalous-length vectors cannot poison the dimensionality") {
    // dims come from the MAJORITY of the sample, not whichever row hashes
    // smallest — one short vector landing first must not drop every normal
    // row from the Lloyd updates
    val rnd = new java.util.Random(3)
    val rows = (0 until 300).map { i =>
      val vec = if (i % 97 == 0) Array.fill(3)(rnd.nextFloat()) // ragged
        else Array.fill(16)(rnd.nextFloat())
      EmbRow(i.toLong, vec)
    }
    val centroids = Ivf.train(rows.toDS().toDF(), k = 4, iters = 2)
    assert(centroids.length === 4)
    assert(centroids.forall(_.length === 16),
      "every centroid must have the majority dimensionality")
    assertThrows[IllegalArgumentException] {
      Ivf.train(rows.take(0).toDS().toDF(), k = 4, iters = 1)
    }
  }

  test("winnowing: substring-match guarantee; overlap pairs find shared passages") {
    import graft.core.text.TextOps
    val rnd = new java.util.Random(5)
    def randText(n: Int) = Array.fill(n)(s"z${rnd.nextInt(1000000)}").mkString(" ")
    val passage = "this exact shared passage of considerable length appears verbatim in both documents"
    // guarantee: any >= w+k-1-char common substring shares a fingerprint
    val a = randText(30) + " " + passage + " " + randText(30)
    val b = randText(30) + " " + passage + " " + randText(30)
    val fa = TextOps.winnow(a).toSet
    val fb = TextOps.winnow(b).toSet
    assert(fa.intersect(fb).nonEmpty, "shared passage must share a fingerprint")
    // determinism + sortedness
    val again = TextOps.winnow(a)
    assert(again.toSeq === again.sorted.toSeq && again.toSet === fa)

    val docsDf = Seq((1L, a), (2L, b), (3L, randText(80)), (4L, randText(80)))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docsDf, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "passage-sharing docs must pair")
    assert(!pairs.exists(p => p._1 >= 3L), "unrelated docs must not pair")
  }

  test("winnow overlap soak: hot boilerplate fingerprint capped out of the join (100k docs)") {
    // the real-crawl failure mode: one boilerplate passage in 20% of 100k
    // docs. Uncapped, its fingerprints alone join into ~30 * 20k^2/2 = 6e9
    // rows on a handful of keys — a skewed quadratic shuffle. With
    // maxFingerprintDf the hot keys drop out BEFORE the join, the run
    // completes in seconds, and only the genuinely rare planted overlap
    // survives (its fingerprints have df=2).
    val boiler = "this website uses cookies to improve your experience " +
      "please accept our terms of service and privacy policy to continue"
    val rare = "a genuinely rare shared passage that appears in exactly two documents"
    def mix64(z0: Long): Long = { // splitmix64 finalizer: full avalanche, so
      var z = z0 + 0x9E3779B97F4A7C15L // hex words of related ids share no
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L // structural substrings
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def mix(i: Long): String =
      f"${mix64(i)}%016x ${mix64(i + 1000000)}%016x ${mix64(i + 2000000)}%016x"
    val n = 100000
    val rows = (0 until n).map { i =>
      val body = mix(i.toLong)
      val text =
        if (i == 77) s"$rare $body" // planted pair (77, 99555)
        else if (i == 99555) s"$body $rare"
        else if (i % 5 == 0) s"$boiler $body" // 20k hot docs
        else body
      (i.toLong, text)
    }
    val df = spark.createDataFrame(rows).toDF("doc_id", "text")
      .repartition(8)
    // NO maxFingerprintDf param: the soak must pass with the DEFAULT cap —
    // a naive caller on a real crawl gets the guard without reading docs
    val pairs = Dedup.winnowOverlapPairs(df, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((77L, 99555L)), "rare planted overlap must survive")
    // every other surviving pair is boiler-boiler: docs that DO share a long
    // verbatim passage (true positives — boundary-window winnow selection
    // gives some boilerplate fingerprints a df under the cap), just not the
    // quadratic 20k^2/2 of them: the hot keys are out of the join, so the
    // candidate count collapses from ~2e8 to a few hundred
    val extras = pairs - ((77L, 99555L))
    assert(extras.forall(p => p._1 % 5 == 0 && p._2 % 5 == 0),
      "non-planted survivors must all be genuine boilerplate sharers")
    assert(pairs.size < 10000, s"skew guard must collapse the pair count, got ${pairs.size}")
  }

  test("Gopher filter: complete published rule, signals and keep decision") {
    import graft.core.text.TextOps
    assert(TextOps.symbolWordRatio("a # b # c", "#") === 0.4)
    assert(TextOps.symbolWordRatio("w8ting... more...", "...") === 1.0)
    assert(TextOps.bulletLineRatio("- a\n* b\n  • c\nplain") === 0.75)
    assert(TextOps.ellipsisLineRatio("done\nwait...  \nmore…\nok") === 0.5)
    assert(TextOps.alphaWordRatio("abc 123 a1 456") === 0.5)
    assert(TextOps.stopwordHits("the cat and the dog") === 2) // the, and
    assert(TextOps.stopwordHits("nothing here") === 0)

    // a clearly good doc passes; targeted mutations each flip keep=false.
    // NOTE the good doc must be genuinely non-repetitive: a sentence
    // repeated 8x is exactly what the n-gram rules exist to reject
    val good = (TextOps.GopherStopwords ++
      (0 until 50).map(i => s"word${('a' + i % 26).toChar}$i")).mkString(" ")
    val rows = Seq(
      (1L, good),
      (2L, "too short that the end"),                       // word count
      (3L, good + (" #tag" * 60)),                          // hash ratio
      (4L, ("- bullet\n" * 19) + good.split(" ").take(60).mkString(" ")), // bullets
      (5L, ("xqzjvw " * 80) + "the and"))                   // mean len ok, alpha ok, top1gram? no: top-2gram repetition
    val out = graft.operators.TextQuality.gopherFilter(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out(1L) === true, "good doc must pass every rule")
    assert(!out(2L) && !out(3L) && !out(4L) && !out(5L),
      s"each planted defect must reject: $out")
    // audit columns identify the failing rule
    val r3 = graft.operators.TextQuality.gopherFilter(rows.toDF("doc_id", "text"))
      .filter($"doc_id" === 3L).collect()(0)
    assert(r3.getAs[Double]("hash_ratio") > 0.1)

    // CRLF/tab web text tokenizes correctly (words not glued across breaks)
    val crlf = good.split(" ").grouped(10).map(_.mkString(" ")).mkString("\r\n")
    val rCrlf = graft.operators.TextQuality.gopherFilter(
      Seq((9L, crlf)).toDF("doc_id", "text")).collect()(0)
    assert(rCrlf.getAs[Boolean]("keep") === true,
      "CRLF line endings must not glue words or hide stopwords")
    // NULL text: signals null, decision TOTAL (false, never three-valued)
    val rNull = graft.operators.TextQuality.gopherFilter(
      Seq((10L, null.asInstanceOf[String])).toDF("doc_id", "text")).collect()(0)
    assert(rNull.getAs[Boolean]("keep") === false)
    assert(rNull.isNullAt(rNull.fieldIndex("mean_word_len")))
    // empty symbol fails fast instead of hanging the task
    assertThrows[Exception] {
      Seq(Tuple1("x")).toDF("t").select(symbol_word_ratio($"t", "")).collect()
    }
  }

  test("fused gopher_signals kernel == the 19 per-signal kernels, bit-for-bit") {
    import graft.core.text.TextOps
    val topNs = Array(2, 3, 4)
    val dupNs = Array(5, 6, 7, 8, 9, 10)
    val rnd = new java.util.Random(31)
    val nasty = Seq(
      "", " ", "   ", "a", "a b", "\n", "\r\n\r\n", "\t\t",
      "the be to of and that have with",
      "a  b   c    d", // multi-space runs -> empty tokens
      "word\r\nword\tword\nthe and",
      "- bullet\n  * b2\n\t• b3\nplain\n- again",
      "ends...\nends…  \nmid...dle\nno end",
      "# ## ### #tag a#b",
      "... … ...… .. . ....",
      "dup line\ndup line\ndup line\nother",
      "a a a a a a a a a a",
      "x y z w x y z w x y z w",
      "é ü ñ 123 abc", // non-ASCII letters are NOT alpha words
      ("tok " * 300).trim,
      "trailing newline\n", "\nleading newline",
      (graft.core.text.TextOps.GopherStopwords ++
        (0 until 40).map(i => s"word${('a' + i % 26).toChar}$i")).mkString(" ")) ++
      (0 until 30).map { _ =>
        val w = 1 + rnd.nextInt(120)
        (0 until w).map(_ => s"w${rnd.nextInt(25)}").mkString(" ")
      } ++
      (0 until 10).map { _ => // line-structured with repeats and tabs
        (0 until 1 + rnd.nextInt(12)).map(_ =>
          (0 until rnd.nextInt(9)).map(_ => s"t${rnd.nextInt(8)}")
            .mkString(if (rnd.nextBoolean()) " " else "\t"))
          .mkString(if (rnd.nextBoolean()) "\n" else "\r\n")
      }
    for (text <- nasty) {
      val s = TextOps.gopherStats(text, topNs, dupNs)
      val wt = text.replace('\n', ' ').replace('\r', ' ').replace('\t', ' ')
      assert(s.nWords === TextOps.wordCount(wt).toLong, s"n_words [$text]")
      assert(s.meanWordLen === TextOps.meanWordLen(wt), s"mean_word_len [$text]")
      assert(s.hashRatio === TextOps.symbolWordRatio(wt, "#"), s"hash_ratio [$text]")
      assert(s.ellipsisRatio === TextOps.symbolWordRatio(wt, "...") +
        TextOps.symbolWordRatio(wt, "…"), s"ellipsis_ratio [$text]")
      assert(s.bulletLineRatio === TextOps.bulletLineRatio(text), s"bullet [$text]")
      assert(s.ellipsisLineRatio === TextOps.ellipsisLineRatio(text), s"ell_line [$text]")
      assert(s.alphaWordRatio === TextOps.alphaWordRatio(wt), s"alpha_word [$text]")
      assert(s.stopwordHits === TextOps.stopwordHits(wt), s"stopword_hits [$text]")
      assert(s.dupLineRatio === TextOps.dupLineRatio(text), s"dup_line [$text]")
      assert(s.dupLineCharRatio === TextOps.dupLineCharRatio(text), s"dup_line_char [$text]")
      for ((n, i) <- topNs.zipWithIndex)
        assert(s.topNgram(i) === TextOps.topNgramCharRatio(wt, n), s"top_$n [$text]")
      for ((n, i) <- dupNs.zipWithIndex)
        assert(s.dupNgram(i) === TextOps.dupNgramCharRatio(wt, n), s"dup_$n [$text]")
      // n=1-only configuration (no n >= 2 to drag the engine in): the
      // unigram signal must still compute, and the keep kernel must still
      // enforce its threshold
      val s1 = TextOps.gopherStats(text, Array(1), Array.empty)
      assert(s1.topNgram(0) === TextOps.topNgramCharRatio(wt, 1), s"top_1 only [$text]")
      val p1 = graft.operators.GopherThresholds(
        minWords = 0, minMeanWordLen = 0, maxMeanWordLen = 1e9,
        minAlphaWordRatio = 0, minStopwordHits = 0,
        maxHashRatio = 1e9, maxEllipsisRatio = 1e9, maxBulletLineRatio = 1e9,
        maxEllipsisLineRatio = 1e9, maxDupLineRatio = 1e9, maxDupLineCharRatio = 1e9,
        maxTopNgramRatio = Map(1 -> 0.5), maxDupNgramRatio = Map.empty).toParams
      assert(TextOps.gopherKeep(text, p1) === (s1.topNgram(0) <= 0.5),
        s"keep must enforce the top-1-gram threshold [$text]")
    }
  }

  test("gopherFilter (fused) == per-signal composition; kernel runs ONCE per row") {
    import graft.operators.TextQuality
    val rnd = new java.util.Random(47)
    val rows = (0 until 400).map { i =>
      val w = 1 + rnd.nextInt(150)
      val words = (0 until w).map(_ => s"v${rnd.nextInt(40)}")
      val sep = i % 4 match {
        case 0 => " "; case 1 => "\n"; case 2 => "\r\n"; case _ => " "
      }
      (i.toLong, words.mkString(sep) + (if (i % 7 == 0) " the and of..." else ""))
    }
    // parquet roundtrip: a LocalRelation would be evaluated eagerly by the
    // ConvertToLocalRelation optimizer rule (driver-side, before column
    // pruning), which voids the pruning/short-circuit assertions below —
    // real corpora are scans
    val pdir = graft.SparkTestBase.tempDir("graft_gopher_fused").toString
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(pdir)
    val df = spark.read.parquet(pdir)
    val fused = TextQuality.gopherFilter(df)
    val viaSignals = df.select(col("*") +:
        TextQuality.gopherSignals(col("text")).map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep", coalesce(TextQuality.keepRule(), lit(false)))
    assert(fused.columns.toSeq === viaSignals.columns.toSeq, "identical schema")
    val a = fused.orderBy("doc_id").collect()
    val b = viaSignals.orderBy("doc_id").collect()
    assert(a.length === b.length)
    for ((ra, rb) <- a.zip(b); f <- fused.columns)
      assert(ra.getAs[Any](f) === rb.getAs[Any](f), s"column $f")

    // the plan's 19 GetStructField copies must share ONE kernel evaluation
    // per row (whole-stage codegen subexpression elimination) — a per-field
    // re-evaluation would erase the whole point of the fusion. The filter
    // path must never touch the struct kernel at all: keep is the separate
    // short-circuiting gopher_keep scalar, pushed below the projection, so
    // signals evaluate only for SURVIVORS (zero here: every random doc
    // fails some rule)
    graft.core.text.TextOps.gopherStatsCalls.reset()
    val kept = TextQuality.gopherFilter(df).filter(col("keep")).count()
    val survivors = graft.core.text.TextOps.gopherStatsCalls.sum()
    assert(survivors <= 2L * kept,
      s"signals kernel ran $survivors times for $kept surviving rows — the " +
        "filter is evaluating the struct for rejected rows")
    graft.core.text.TextOps.gopherStatsCalls.reset()
    TextQuality.gopherFilter(df).collect()
    val calls = graft.core.text.TextOps.gopherStatsCalls.sum()
    assert(calls >= rows.length, s"kernel must actually run: $calls")
    assert(calls <= 2L * rows.length,
      s"kernel ran $calls times for ${rows.length} rows — struct fields are re-evaluating it")

    // keep (gopher_keep kernel) == the rule over the signal columns, on
    // docs violating EACH stage plus passing docs
    val stopw = graft.core.text.TextOps.GopherStopwords.mkString(" ")
    val goodDoc = (graft.core.text.TextOps.GopherStopwords ++
      (0 until 60).map(i => s"word${('a' + i % 26).toChar}$i")).mkString(" ")
    val staged = Seq(
      goodDoc,                                      // passes all
      "the of and short",                           // stage 1: word count
      goodDoc + (" #x" * 40),                       // stage 2: hash ratio
      ("- b\n" * 30) + goodDoc,                     // stage 3: bullets
      ("same line\n" * 20) + goodDoc,               // stage 3: dup lines
      (stopw + " ") + ("rep gram " * 60) + goodDoc, // stage 4: top 2-gram
      goodDoc + " " + goodDoc)                      // stage 4: dup n-grams
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val chk = TextQuality.gopherFilter(staged)
      .withColumn("keep_from_signals",
        coalesce(TextQuality.keepRule(), lit(false)))
      .collect()
    for (r <- chk)
      assert(r.getAs[Boolean]("keep") === r.getAs[Boolean]("keep_from_signals"),
        s"doc ${r.getAs[Long]("doc_id")}: gopher_keep disagrees with the signal rule")
    assert(chk.count(_.getAs[Boolean]("keep")) >= 1, "the good doc passes")
    assert(chk.count(!_.getAs[Boolean]("keep")) >= 5, "stage-violating docs reject")
  }

  test("repeated-substring audit == brute-force string-window oracle") {
    import graft.core.text.TextOps
    // kernel: rolling hashes agree with per-window equality (poly hash of
    // equal windows is ALWAYS equal; unequal windows differ w.h.p.)
    val rnd = new java.util.Random(11)
    val small = (0 until 120).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val hs = TextOps.rollingKgramHashes(small, 5, 1)
    for (i <- hs.indices; j <- i + 1 until hs.length)
      assert((hs(i) == hs(j)) ===
        (small.substring(i, i + 5) == small.substring(j, j + 5)), s"($i,$j)")
    assert(TextOps.rollingKgramHashes("abc", 5, 1).isEmpty, "short text: no windows")
    // stride: positions i*stride, same values as direct hashing
    val st = TextOps.rollingKgramHashes(small, 7, 3)
    assert(st.toSeq === (0 to (small.length - 7) / 3).map(i =>
      TextOps.rollingKgramHashes(small.substring(3 * i, 3 * i + 7), 7, 1)(0)))

    // mergeSpans: overlap, touch, gap
    assert(TextOps.mergeSpans(Array(0L, 3L, 10L), 5).toSeq === Seq(0L, 8L, 10L, 15L))
    assert(TextOps.mergeSpans(Array(0L, 5L), 5).toSeq === Seq(0L, 10L), "touching merges")
    assert(TextOps.mergeSpans(Array(0L, 6L), 5).toSeq === Seq(0L, 5L, 6L, 11L))

    // operator vs an exact brute-force oracle over window STRINGS
    val L = 30
    def hex(id: Long, n: Int) = {
      val r2 = new java.util.Random(id)
      (0 until n).map(_ => Integer.toHexString(r2.nextInt(16))).mkString
    }
    val banner = "COOKIE-BANNER-" + "x" * (L + 16) // 60 chars, > L
    val corpus = (0L until 12L).map { id =>
      val base = hex(id, 200)
      val text =
        if (id % 4 == 0) base + banner              // cross-doc repeat
        else if (id == 5L) base.take(80) + base.take(80) + base.drop(80) // within-doc
        else base
      (id, text)
    }
    val got = Dedup.repeatedSpans(corpus.toDF("doc_id", "text"), minLen = L, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // oracle: count corpus-wide window strings, flag, merge (same rule)
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    for ((_, t) <- corpus; i <- 0 to t.length - L)
      counts.updateWith(t.substring(i, i + L))(c => Some(c.getOrElse(0) + 1))
    val expected = (for ((id, t) <- corpus) yield {
      val ps = (0 to t.length - L).filter(i => counts(t.substring(i, i + L)) >= 2)
        .map(_.toLong).toArray
      graft.core.text.TextOps.mergeSpans(ps, L).grouped(2)
        .map(se => (id, se(0), se(1))).toSeq
    }).flatten.toSet
    assert(got === expected)
    assert(got.exists(_._1 == 5L), "within-doc repetition must be audited")
    assert(got.count(s => Set(0L, 4L, 8L).contains(s._1)) >= 3,
      "every banner doc carries a span")
    assert(!got.exists(s => Set(1L, 2L, 3L, 6L, 7L).contains(s._1)),
      "unique docs stay clean")
    // planted-guarantee at stride: a repeat of length >= minLen+stride-1
    // is always found even though only strided windows are hashed
    val rep = "R" * (L + 4 - 1)
    val sCorpus = Seq((1L, hex(100, 150) + rep), (2L, rep + hex(200, 150)))
      .toDF("doc_id", "text")
    val sGot = Dedup.repeatedSpans(sCorpus, minLen = L, minDf = 2, stride = 4)
      .collect()
    assert(sGot.map(_.getLong(0)).toSet === Set(1L, 2L),
      s"strided audit must still find the planted repeat: ${sGot.toSeq}")
    // degenerate minDf fails fast
    assertThrows[IllegalArgumentException](
      Dedup.repeatedSpans(sCorpus, minLen = L, minDf = 1))
  }

  test("stripSpans splices audited ranges out; policy-agnostic, schema preserved") {
    import graft.core.text.TextOps
    // kernel: unsorted + overlapping + out-of-bounds ranges
    assert(TextOps.spliceOut("0123456789", Array(7L, 2L), Array(9L, 4L)) === "01456 9".replace(" ", ""))
    assert(TextOps.spliceOut("0123456789", Array(2L, 3L), Array(5L, 8L)) === "0189")
    assert(TextOps.spliceOut("abc", Array(-5L, 2L), Array(1L, 99L)) === "b", "clamped")
    assert(TextOps.spliceOut("abc", Array.empty, Array.empty) === "abc")

    // end-to-end: audit + strip removes exactly the covered chars
    val L = 30
    def hex(id: Long, n: Int) = {
      val r2 = new java.util.Random(id * 7 + 3)
      (0 until n).map(_ => Integer.toHexString(r2.nextInt(16))).mkString
    }
    val banner = "B" * (L + 10)
    val corpus = (0L until 8L).map { id =>
      val base = hex(id, 150)
      (id, if (id % 2 == 0) base + banner else base, s"l${id % 3}")
    }.toDF("doc_id", "text", "lang")
    val spans = Dedup.repeatedSpans(corpus, minLen = L, minDf = 2)
    val stripped = Dedup.stripSpans(corpus, spans)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val spanMap = spans.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)).toMap
    for ((id, text, lang) <- corpus.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))) {
      val expect = spanMap.get(id) match {
        case None => text
        case Some(ss) =>
          val keep = (0 until text.length).filterNot(i =>
            ss.exists(s => i >= s._1 && i < s._2))
          keep.map(text.charAt).mkString
      }
      assert(stripped(id)._1 === expect, s"doc $id")
      assert(stripped(id)._2 === lang, "other columns preserved")
    }
    assert((0L until 8L by 2).forall(id => !stripped(id)._1.contains("BBB")),
      "banner gone from every even doc")
    assert((1L until 8L by 2).forall(id => stripped(id)._1.length === 150),
      "unique docs untouched")
  }

  test("Gopher n-gram repetition: top-n-gram and duplicated-n-gram char fractions") {
    import graft.core.text.TextOps
    // "a b a b a b": 2-grams "a b"x3, "b a"x2 -> 3*2/6 chars
    assert(TextOps.topNgramCharRatio("a b a b a b", 2) === 1.0)
    // all trigrams unique, tie-break lexicographic -> any has 3 of 4 chars
    assert(TextOps.topNgramCharRatio("x y z w", 3) === 0.75)
    assert(TextOps.topNgramCharRatio("one two", 3) === 0.0, "fewer tokens than n")
    assert(TextOps.topNgramCharRatio("", 2) === 0.0)
    // repeated 5-gram covers positions 0-4 and 5-9 of 11 one-char tokens
    assert(TextOps.dupNgramCharRatio("p q r s t p q r s t u", 5) === 10.0 / 11)
    assert(TextOps.dupNgramCharRatio("p q r s t u v w x y z", 5) === 0.0)
    // overlapping occurrences never double-count characters
    assert(TextOps.dupNgramCharRatio("a a a a", 2) === 1.0)
    // longer tokens weight by characters, not positions
    assert(TextOps.dupNgramCharRatio("long word long word tiny", 2) ===
      16.0 / 20) // "long word" repeats; covers 4 tokens of 4+4+4+4 chars
    // expression path through Spark
    val r = Seq(Tuple1("a b a b a b")).toDF("text")
      .select(top_ngram_char_ratio($"text", 2).as("t2"),
        dup_ngram_char_ratio($"text", 2).as("d2")).collect()(0)
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 1.0)
  }

  test("Gopher repetition signals: duplicate line fraction and char fraction") {
    import graft.core.text.TextOps
    assert(TextOps.dupLineRatio("a\nb\nc") === 0.0)
    assert(TextOps.dupLineRatio("a\nb\na") === 1.0 / 3)
    assert(TextOps.dupLineRatio("a\na\na") === 2.0 / 3)
    assert(TextOps.dupLineRatio("") === 0.0) // one empty line, no dup
    assert(TextOps.dupLineRatio("\n") === 0.5) // two empty lines, one dup
    assert(TextOps.dupLineCharRatio("abc\nz\nabc") === 3.0 / 7)
    assert(TextOps.dupLineCharRatio("x\ny") === 0.0)
    assert(TextOps.dupLineCharRatio("\n\n") === 0.0) // no line chars at all
    // through the Spark expression + SQL registration
    val df = Seq((1L, "dup\nuniq\ndup")).toDF("doc_id", "text")
    val r = df.select(dup_line_ratio($"text"), dup_line_char_ratio($"text")).collect()(0)
    assert(r.getDouble(0) === 1.0 / 3 && r.getDouble(1) === 3.0 / 10)
    val sqlR = spark.sql("SELECT dup_line_ratio('a\na'), dup_line_char_ratio('a\na')").collect()(0)
    assert(sqlR.getDouble(0) === 0.5 && sqlR.getDouble(1) === 0.5)

    // character entropy (gibberish signal)
    import graft.core.text.TextOps
    assert(TextOps.charEntropy("") === 0.0)
    assert(TextOps.charEntropy("aaaa") === 0.0)
    assert(TextOps.charEntropy("ab") === 1.0)
    assert(TextOps.charEntropy("abcd") === 2.0)
    assert(TextOps.charEntropy("aab") > 0.9 && TextOps.charEntropy("aab") < 0.92)
    val e = spark.sql("SELECT char_entropy('abab')").collect()(0).getDouble(0)
    assert(e === 1.0)
  }

  test("canonicalize_url: scheme/host lower, fragment/default-port strip, rest preserved") {
    import graft.core.net.UrlUtil.canonicalize
    assert(canonicalize("HtTpS://WWW.Example.COM:443/A/B?q=X#frag") ===
      "https://www.example.com/A/B?q=X")
    assert(canonicalize("HTTP://Host.org:80/") === "http://host.org/")
    assert(canonicalize("http://host.org:8080/x") === "http://host.org:8080/x")
    assert(canonicalize("https://User:Pw@Host.NET/p") === "https://User:Pw@host.net/p")
    assert(canonicalize("https://[2001:DB8::1]:443/x") === "https://[2001:db8::1]/x")
    assert(canonicalize("https://[2001:DB8::1]:8443/x") === "https://[2001:db8::1]:8443/x")
    assert(canonicalize("no-scheme/path#f") === "no-scheme/path#f") // unchanged
    assert(canonicalize("ftp://Host.com:21/f") === "ftp://host.com:21/f") // unknown default kept
    assert(canonicalize("https://host#only-frag") === "https://host")
    // idempotence
    val u = "HtTp://A.B:80/p?q#z"
    assert(canonicalize(canonicalize(u)) === canonicalize(u))
  }

  test("PQ: deterministic codes; ADC recall vs brute force; planted copies found") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val model = Pq.train(embs, dims = 64, m = 16, ks = 32, iters = 3)
    assert(model.codebooks.length === 16 && model.codebooks.forall(_.length === 32))
    val m2 = Pq.train(embs, dims = 64, m = 16, ks = 32, iters = 3)
    assert(model.codebooks.flatten.flatten.toSeq === m2.codebooks.flatten.flatten.toSeq,
      "training must be deterministic")

    val codes = embs.select($"vec_id", Pq.encode($"embedding", model).as("pq_code")).cache()
    val a = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = codes.repartition(7).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a === b, "codes deterministic across partitionings")

    // recall@10 vs exact top-10 (PQ is lossy; require a meaningful floor)
    val queries = embs.limit(10)
    val exact = Ann.bruteForceTopK(embs, queries, k = 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("nn_id")).toSet).toMap
    val adc = Pq.adcTopK(codes, queries, k = 10, model).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("nn_id")).toSet).toMap
    val recalls = exact.toSeq.map { case (q, e) =>
      adc.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }
    val recall = recalls.sum / recalls.length
    assert(recall >= 0.3, s"PQ ADC recall@10 = $recall (m=16, ks=32 on random 64-dim)")

    // planted exact copies (id shifted) must be retrieved at rank 1: the
    // copy's code equals the source's code, so its ADC score is maximal
    import org.apache.spark.sql.functions._
    val planted = embs.limit(20).select(($"vec_id" + 500000).as("vec_id"), $"embedding")
    val hits = Pq.adcTopK(codes, planted, k = 1, model).collect()
      .count(r => r.getAs[Long]("query_id") - 500000 == r.getAs[Long]("nn_id"))
    assert(hits >= 16, s"planted-copy ADC hits $hits/20")

    // IVFADC composition: probing nprobe lists with PQ scoring still finds
    // planted copies (same code AND same nearest list as the source)
    val ivfCentroids = Ivf.train(embs, k = 8, iters = 2)
    val ivfHits = Ivf.adcTopK(embs, planted, k = 1, ivfCentroids, model, nprobe = 3)
      .collect()
      .count(r => r.getAs[Long]("query_id") - 500000 == r.getAs[Long]("nn_id"))
    assert(ivfHits >= 16, s"planted-copy IVFADC hits $ivfHits/20")
  }

  test("OPQ: orthonormal rotation, beats plain PQ on correlated data, ADC end-to-end") {
    // anisotropic correlated corpus: 8 strong latent directions mixed
    // across all 64 dims — the axis-aligned case PQ handles poorly and the
    // learned rotation is for (Ge et al. 2013)
    val rnd = new java.util.Random(7)
    val dims = 64
    val latent = 8
    val mix = Array.fill(dims, latent)(rnd.nextGaussian())
    val scale = Array.tabulate(latent)(k => 4.0 / (1 + k))
    val vecs = (0 until 1500).map { i =>
      val z = Array.tabulate(latent)(k => rnd.nextGaussian() * scale(k))
      val x = Array.tabulate(dims) { d =>
        var s = 0.0
        var k = 0
        while (k < latent) { s += mix(d)(k) * z(k); k += 1 }
        (s + 0.05 * rnd.nextGaussian()).toFloat
      }
      (i.toLong, x)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()

    val opq = Opq.train(df, dims = dims, m = 16, ks = 16, iters = 3, opqIters = 6)
    val opq2 = Opq.train(df, dims = dims, m = 16, ks = 16, iters = 3, opqIters = 6)
    assert(opq.rt.flatten.toSeq === opq2.rt.flatten.toSeq, "training deterministic")

    // R^T R == I (orthonormal)
    for (a <- 0 until dims; b <- a until dims) {
      var s = 0.0
      for (r <- 0 until dims) s += opq.rt(r)(a) * opq.rt(r)(b)
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(s - want) < 1e-9, s"R^T R [$a][$b] = $s")
    }

    // opqIters = 0 degrades to plain PQ (identity rotation, same codebooks
    // up to distributed-vs-sequential summation order)
    val noRot = Opq.train(df, dims = dims, m = 16, ks = 16, iters = 3, opqIters = 0)
    assert(noRot.rt.zipWithIndex.forall { case (row, i) =>
      row.zipWithIndex.forall { case (v, j) => v == (if (i == j) 1.0 else 0.0) } })
    val plain = Pq.train(df, dims = dims, m = 16, ks = 16, iters = 3)
    val flatA: Seq[Double] = noRot.pq.codebooks.flatten.flatMap(_.toSeq).toSeq
    val flatB: Seq[Double] = plain.codebooks.flatten.flatMap(_.toSeq).toSeq
    val maxDiff = flatA.zip(flatB).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff < 1e-9, s"opqIters=0 must reproduce Pq.train (maxDiff=$maxDiff)")

    // quantization error: OPQ reconstruction must beat plain PQ's
    def mse(model: OpqModel): Double = {
      val errs = vecs.map { case (_, xf) =>
        val x = xf.map(_.toDouble)
        val y = graft.functions.RotateVec.apply(x, model.rt)
        val code = graft.functions.PqEncode.encode(y, model.pq)
        var e = 0.0
        var j = 0
        val sub = model.pq.subDims
        while (j < model.pq.m) {
          val cent = model.pq.codebooks(j)(code(j))
          var d = 0
          while (d < sub) { val dd = y(j * sub + d) - cent(d); e += dd * dd; d += 1 }
          j += 1
        }
        e
      }
      errs.sum / errs.length
    }
    val ePq = mse(noRot)
    val eOpq = mse(opq)
    assert(eOpq < 0.9 * ePq, s"OPQ mse $eOpq must beat PQ mse $ePq by >=10%")

    // end-to-end Spark path: planted exact copies retrieved at rank 1
    // through rotate+encode (codegen) and the ADC scan
    val codes = df.select($"vec_id", Opq.encode($"embedding", opq).as("pq_code"))
    val planted = df.limit(20).select(($"vec_id" + 700000L).as("vec_id"), $"embedding")
    val hits = Opq.adcTopK(codes, planted, k = 1, opq).collect()
      .count(r => r.getAs[Long]("query_id") - 700000L == r.getAs[Long]("nn_id"))
    assert(hits >= 16, s"planted-copy OPQ-ADC hits $hits/20")

    // OPQ-IVFADC composition: coarse quantizer trained in the rotated
    // space, probed lists scored by rotated-space ADC
    val cents = Ivf.train(
      df.select($"vec_id", Opq.rotateVec($"embedding", opq).as("embedding")),
      k = 8, iters = 2)
    val ivfHits = Opq.ivfAdcTopK(df, planted, k = 1, cents, opq, nprobe = 3)
      .collect()
      .count(r => r.getAs[Long]("query_id") - 700000L == r.getAs[Long]("nn_id"))
    assert(ivfHits >= 16, s"planted-copy OPQ-IVFADC hits $ivfHits/20")
  }

  test("PQ and IVF training scan the source once, independent of m and iters") {
    // every physical read of a corpus row bumps the accumulator via a typed
    // map over the source — training must sample/cache so Lloyd iterations
    // never return to the source. The old Pq.train read m*(iters+1)*n rows
    // (64n at m=16/iters=3); the sampled trainer reads n once.
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = embs.count()
    val pqReads = spark.sparkContext.longAccumulator("pq-source-reads")
    val pqCorpus = embs.as[EmbRow].map { e => pqReads.add(1); e }.toDF()
    val model = Pq.train(pqCorpus, dims = 64, m = 16, ks = 32, iters = 3)
    assert(model.codebooks.length === 16)
    assert(pqReads.value >= n, "sanity: the source was read at all")
    assert(pqReads.value <= 2 * n,
      s"PQ training read ${pqReads.value} source rows (n=$n); sampled training must read n, old impl read ${16 * 4 * n}")

    val ivfReads = spark.sparkContext.longAccumulator("ivf-source-reads")
    val ivfCorpus = embs.as[EmbRow].map { e => ivfReads.add(1); e }.toDF()
    val cents = Ivf.train(ivfCorpus, k = 16, iters = 4)
    assert(cents.length === 16)
    assert(ivfReads.value >= n && ivfReads.value <= 2 * n,
      s"IVF training read ${ivfReads.value} source rows (n=$n); old impl read ${5 * n}")
  }

  test("PQ ADC accepts Int ids and can keep numerically-coinciding self ids") {
    // Int id columns must widen, not ClassCastException; and a query batch
    // from a DISTINCT corpus whose ids coincide with corpus ids keeps its
    // legitimate neighbors when excludeSelf=false
    val rnd = new java.util.Random(11)
    val vecs = (0 until 40).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val model = Pq.train(corpus, dims = 8, m = 4, ks = 8, iters = 2)
    val codes = corpus.select($"vec_id", Pq.encode($"embedding", model).as("pq_code"))
    // same numeric id 7, unrelated query corpus: with excludeSelf=false the
    // corpus vector 7 is still eligible as a neighbor of query 7
    val queries = Seq((7, vecs(7)._2)).toDF("vec_id", "embedding")
    val withSelf = Pq.adcTopK(codes, queries, k = 1, model, excludeSelf = false).collect()
    assert(withSelf.length === 1 && withSelf.head.getAs[Long]("nn_id") === 7L,
      "identical vector must rank 1 when self-exclusion is off")
    val without = Pq.adcTopK(codes, queries, k = 1, model).collect()
    assert(without.head.getAs[Long]("nn_id") !== 7L,
      "default self-exclusion drops the coinciding id")
  }

  test("hostOfUrlUTF8 equals the String implementation on tricky urls") {
    import org.apache.spark.unsafe.types.UTF8String
    val urls = Seq(
      "https://example.com/p/x", "https://EXAMPLE.Com:8080/a?b#c",
      "http://user:pw@Host.Example/path", "https://[2001:db8::1]:443/x",
      "ftp://plain", "no-scheme-at-all", "https:///empty-host",
      "https://host.only", "https://host?q", "https://host#f",
      "https://h/", "", "https://MiXeD.CaSe.ORG",
      "http://m\u00fcller.de/x", "https://\u65e5\u672c.example/\u30da\u30fc\u30b8",
      "https://caf\u00e9.FR:8443/menu")
    urls.foreach { u =>
      val a = Option(graft.core.net.DomainUtil.hostOfUrl(u)).orNull
      val b = Option(graft.core.net.DomainUtil.hostOfUrlUTF8(UTF8String.fromString(u)))
        .map(_.toString).orNull
      assert(a === b, s"url '$u'")
    }
  }

  test("LangModel: add-k bigram LM matches hand-computed probabilities; pruning to floor") {
    val corpus = Seq((1L, "a b a b c"), (2L, "a b c")).toDF("doc_id", "text")
    // global bigrams ab:3 ba:1 bc:2; contexts a:3 b:3; V = |{a,b,c}| + 1 = 4
    val lm = LangModel.train(corpus, n = 2, minCount = 2, k = 1.0)
    assert(lm.vocabSize === 4L)
    val model = lm.ngrams.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(model === Map("a b" -> 3L, "b c" -> 2L)) // ba pruned (count 1 < 2)
    val ctxs = lm.contexts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ctxs === Map("a" -> 3L, "b" -> 3L)) // UNPRUNED: b = ba + bc = 3
    val scores = LangModel.scoreNll(corpus, lm).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def lg(x: Double) = math.log(x) / math.log(2)
    val pAb = 4.0 / 7; val pBa = 1.0 / 7; val pBc = 3.0 / 7 // (c+k)/(cctx+kV)
    val d1 = -(2 * lg(pAb) + lg(pBa) + lg(pBc)) / 4
    val d2 = -(lg(pAb) + lg(pBc)) / 2
    assert(scores(1L)._1 === 4L && math.abs(scores(1L)._2 - d1) < 1e-12)
    assert(scores(2L)._1 === 2L && math.abs(scores(2L)._2 - d2) < 1e-12)
    // a doc whose bigrams the model never saw scores the smoothing floor:
    // unseen context -> P = k / (0 + kV) = 1/V, nll = log2(V)
    val oov = Seq((9L, "zz qq")).toDF("doc_id", "text")
    val so = LangModel.scoreNll(oov, lm).collect()(0)
    assert(math.abs(so.getDouble(2) - lg(4.0)) < 1e-12)
    // short docs (< n tokens) emit no row
    assert(LangModel.scoreNll(Seq((5L, "one")).toDF("doc_id", "text"), lm).count() === 0)
  }

  test("LangModel buckets: exact thirds are deterministic; sketch mode agrees on clear cuts") {
    // 99 docs with well-separated scores: bucket = rank / 33
    val scored = (0 until 99).map(i => (i.toLong, 10L, i * 1.0)).toDF("doc_id", "n_ngrams", "nll_bits")
    val exact = LangModel.buckets(scored, exact = true).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(exact(0L) === "head" && exact(32L) === "head")
    assert(exact(33L) === "middle" && exact(65L) === "middle")
    assert(exact(66L) === "tail" && exact(98L) === "tail")
    // t-digest mode: identical labels away from the cut boundaries (the
    // 100-TB path trades exact 1/3 edges for no global sort)
    val approx = LangModel.buckets(scored, exact = false).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val disagree = exact.keys.filter(k => exact(k) != approx(k))
    assert(disagree.forall(k => math.abs(k % 33) <= 2 || math.abs(k % 33) >= 31),
      s"sketch buckets disagree far from cuts: ${disagree.toSeq.sorted}")
  }

  test("QualityClassifier: converges on separable data; training is partition-invariant") {
    val rnd = new java.util.Random(7)
    val fill = Array("lorem", "ipsum", "dolor", "sit", "amet", "web", "page")
    val rows = (0 until 200).map { i =>
      val noise = Array.fill(6)(fill(rnd.nextInt(fill.length))).mkString(" ")
      if (i % 2 == 0) (i.toLong, s"helpful detailed article $noise", 1)
      else (i.toLong, s"casino pills winner $noise", 0)
    }
    val labeled = rows.toDF("doc_id", "text", "label")
    val m = QualityClassifier.trainLogReg(labeled, dim = 256, maxN = 2,
      iters = 30, lr = 1.0)
    val preds = QualityClassifier.score(labeled, m).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2) > 0.5)).toMap
    val acc = rows.count(r => preds(r._1) == (r._3 == 1)) / 200.0
    assert(acc === 1.0, s"separable data must be fully learned, got $acc")
    // fixed-point long gradients: weights BIT-identical across partitionings
    val m1 = QualityClassifier.trainLogReg(labeled.repartition(1), dim = 256,
      maxN = 2, iters = 5, lr = 1.0)
    val m7 = QualityClassifier.trainLogReg(labeled.repartition(7), dim = 256,
      maxN = 2, iters = 5, lr = 1.0)
    assert(java.util.Arrays.equals(m1.weights, m7.weights) && m1.bias === m7.bias)
    // L2 shrinks untouched features too
    val mReg = QualityClassifier.trainLogReg(labeled, dim = 256, maxN = 2,
      iters = 5, lr = 1.0, l2 = 0.1)
    assert(mReg.weights.map(math.abs).sum < m7.weights.map(math.abs).sum * 5)
  }

  test("Tokenize: distributed BPE training is partition-invariant; tokenize round-trips") {
    val corpus = Seq((1L, "the quick brown fox jumps"), (2L, "the quick red fox"),
      (3L, "héllo wörld 汉字 test"), (4L, ""), (5L, "the the the quick quick"))
      .toDF("doc_id", "text")
    val m1 = Tokenize.trainBpe(corpus.repartition(1), numMerges = 30)
    val m5 = Tokenize.trainBpe(corpus.repartition(5), numMerges = 30)
    // segment counts are exact aggregates and the driver loop is
    // deterministic -> identical merge tables under any partitioning
    assert(m1.merges.toSeq === m5.merges.toSeq)
    val toks = Tokenize.tokenize(corpus, m1)
      .withColumn("rt", Tokenize.bpeDecode(col("tokens"), m1))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("rt"), r.getAs[Long]("n_tokens"))).toSeq
    toks.foreach { case (id, text, rt, n) =>
      assert(rt === text, s"roundtrip doc $id")
      assert(n <= text.getBytes("UTF-8").length)
      assert(n > 0 || text.isEmpty)
    }
    // trained merges actually compress the trained phrases
    val repeatN = toks.find(_._1 == 5L).get._4
    assert(repeatN < "the the the quick quick".length / 2)
    // driver-table cap fails fast with an actionable message
    val e = intercept[IllegalArgumentException](
      Tokenize.trainBpe(corpus, numMerges = 5, maxSegmentTypes = 3))
    assert(e.getMessage.contains("distinct segment types"))
  }

  test("UrlFilter: suffix blocklist catches subdomains exactly once, exact entries only themselves") {
    val docs = Seq(
      (1L, "https://a.b.blocked.com/x"),   // subdomain of blocked.com -> drop
      (2L, "https://blocked.com/y"),       // exact -> drop
      (3L, "https://notblocked.com/z"),    // different registered domain -> keep
      (4L, "https://sub.exact.org/w"),     // exact.org blocked only EXACTLY -> drop (suffix match)
      (5L, "https://com/v"),               // bare TLD host, not listed -> keep
      (6L, "https://deep.a.b.blocked.com/u"), // deeper subdomain -> drop
      (7L, "https://blocked.com./t"))      // rooted FQDN: same DNS name -> drop
      .toDF("doc_id", "url")
    val bl = Seq("blocked.com", "exact.org").toDF("domain")
    val kept = UrlFilter.dropBlockedHosts(docs, bl)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(3L, 5L))
    // suffix expansion semantics, including degenerate labels
    val sfx = Seq(("a.b.c", 0)).toDF("h", "i")
      .select(UrlFilter.domain_suffixes(col("h"))).collect()(0).getSeq[String](0)
    assert(sfx === Seq("a.b.c", "b.c", "c"))
    val deg = Seq(("a..c", 0)).toDF("h", "i")
      .select(UrlFilter.domain_suffixes(col("h"))).collect()(0).getSeq[String](0)
    assert(deg === Seq("a..c", ".c", "c"))
    assert(Seq(("", 0)).toDF("h", "i")
      .select(UrlFilter.domain_suffixes(col("h"))).collect()(0).getSeq[String](0).isEmpty)
  }

  test("keepBestPerCluster: highest quality survives, ties to smallest id, singletons kept") {
    val d = Seq((1L, "x", 5L), (2L, "x", 9L), (3L, "x", 9L), (10L, "y", 1L))
      .toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(d, pairs, qualityCol = "quality")
      .select("doc_id").as[Long].collect().sorted
    // cluster {1,2,3}: quality 9 tie between 2 and 3 -> smallest id 2; 10 untouched
    assert(kept === Array(2L, 10L))
    // min-id fallback when quality is all-NULL within a cluster
    val dn = Seq((1L, "x", null.asInstanceOf[java.lang.Long]),
      (2L, "x", null.asInstanceOf[java.lang.Long]), (7L, "y", java.lang.Long.valueOf(3L)))
      .toDF("doc_id", "text", "quality")
    val keptN = Dedup.keepBestPerCluster(dn, Seq((1L, 2L)).toDF("id_a", "id_b"),
      qualityCol = "quality").select("doc_id").as[Long].collect().sorted
    assert(keptN === Array(1L, 7L))
  }

  test("termHits / wordlistFilter: strip+case normalization, overlapping phrases, maxHits") {
    import graft.core.text.TextOps
    val tl = new TextOps.TermList(Seq("Bad", "very bad", "", "..."))
    // tokens normalize: so, bad, bad, very, bad, bad -> 4 single hits + 1 phrase
    assert(TextOps.termHits("so BAD. (bad) very bad bad", tl) === 5)
    assert(TextOps.termHits("clean text here", tl) === 0)
    // overlapping phrase starts each count
    val rep = new TextOps.TermList(Seq("very very"))
    assert(TextOps.termHits("very very very", rep) === 2)
    val docs = Seq((1L, "all good"), (2L, "one bad word"), (3L, "BAD bad bad!"))
      .toDF("doc_id", "text")
    assert(TextQuality.wordlistFilter(docs, Seq("bad"))
      .select("doc_id").as[Long].collect().sorted === Array(1L))
    assert(TextQuality.wordlistFilter(docs, Seq("bad"), maxHits = 1)
      .select("doc_id").as[Long].collect().sorted === Array(1L, 2L))
    // NULL text drops (filter is total)
    val withNull = docs.unionByName(
      Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(TextQuality.wordlistFilter(withNull, Seq("nothing"))
      .count() === 3L)
    // whitespace RUNS tokenize (html_text output joins lines with \n):
    // a line-initial listed word must still match, and phrases may span
    // any whitespace
    assert(TextOps.termHits("Header\nbad word", tl) === 1)
    assert(TextOps.termHits("so\tbad  words\nbad word", new TextOps.TermList(
      Seq("bad word"))) === 1)
  }

  test("Robots.filterAllowed: RFC 9309 longest-match per host, default allow, agent groups") {
    val urls = Seq(
      (1L, "https://a.example/private/x"),
      (2L, "https://a.example/private/ok/x"),
      (3L, "https://a.example/pub"),
      (4L, "https://b.example/private/x"), // host without robots: allowed
      (5L, "https://a.example/doc.pdf")
    ).toDF("doc_id", "url")
    val robots = Seq(("a.example",
      "User-agent: graftbot\nDisallow: /private\nAllow: /private/ok\n" +
        "Disallow: /*.pdf$\nUser-agent: *\nDisallow: /\n"))
      .toDF("host", "robots_txt")
    val kept = Robots.filterAllowed(urls, robots, "graftbot")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 3L, 4L))
    // an unknown agent falls to the * group: all of a.example is blocked
    val kept2 = Robots.filterAllowed(urls, robots, "otherbot")
      .select("doc_id").as[Long].collect().sorted
    assert(kept2 === Array(4L))
    // schema preserved, duplicate paths evaluated once but all rows kept
    val dup = urls.unionByName(urls)
    assert(Robots.filterAllowed(dup, robots, "graftbot").count() === 6L)
    assert(Robots.filterAllowed(dup, robots, "graftbot").columns.toSeq ===
      Seq("doc_id", "url"))
  }

  test("Robots.filterAllowed: match target includes the query string (RFC 9309)") {
    val urls = Seq(
      (1L, "https://a.example/fish.php?sessionid=7"), // blocked by /*?sessionid=
      (2L, "https://a.example/fish.php"),             // allowed: no query
      (3L, "https://a.example/page$"),                // $ only anchors at pattern end
      (4L, "https://a.example/exact?x=1")             // $-anchored: query breaks the anchor
    ).toDF("doc_id", "url")
    val robots = Seq(("a.example",
      "User-agent: *\nDisallow: /*?sessionid=\nDisallow: /exact$\n"))
      .toDF("host", "robots_txt")
    val kept = Robots.filterAllowed(urls, robots, "bot")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 3L, 4L))
  }

  test("LinkGraph.hostEdges: absolute links take own host, relative resolve to source, self-loops drop") {
    val pages = Seq(
      // absolute to b; relative /x -> a (self-loop, drops); absolute back to a (drops)
      ("https://a.example/p", "<a href=\"https://b.example/q\">b</a>" +
        "<a href='/x'>rel</a><a href=\"https://a.example/other\">self</a>"),
      // duplicate edge a->b from a second page on a, plus b->c
      ("https://a.example/p2", "<a href=\"https://b.example/r\">b</a>"),
      ("http://b.example/s", "<a href=\"https://c.example/\">c</a>")
    ).toDF("url", "html")
    val edges = LinkGraph.hostEdges(pages).as[(String, String)].collect().toSet
    assert(edges === Set(("a.example", "b.example"), ("b.example", "c.example")))
  }

  test("LinkGraph href resolution: embedded :// stays relative, //host is absolute") {
    val pages = Seq(
      ("https://a.example/p",
        // relative redirect with an EMBEDDED url: must resolve to a
        // (self-loop, drops) — NOT create a->evil
        "<a href=\"/redirect?to=https://evil.example/x\">r</a>" +
          // protocol-relative: a real a->b edge
          "<a href=\"//b.example/x\">b</a>" +
          // scheme must start the string per RFC 3986
          "<a href=\"weird//:path\">w</a>")
    ).toDF("url", "html")
    val edges = LinkGraph.hostEdges(pages).as[(String, String)].collect().toSet
    assert(edges === Set(("a.example", "b.example")))
  }

  test("LinkGraph.degrees zero-fills one-sided hosts; pageRank matches hand-computed fixed point") {
    // triangle-with-chord: a->b, a->c, b->c, c->a
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val deg = LinkGraph.degrees(edges).as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(deg === Map("a" -> (2L, 1L), "b" -> (1L, 1L), "c" -> (1L, 2L)))
    // hand computation, scale=1e12: init floor(1e12/3)=333333333333,
    // base=floor(15e12/300)=50000000000; after one round:
    //   a: 50e9 + floor(85*333333333333/100) = 333333333333
    //   b: 50e9 + floor(85*166666666666/100) = 191666666666
    //   c: 50e9 + floor(85*(166666666666+333333333333)/100) = 474999999999
    val r1 = LinkGraph.pageRank(edges, iters = 1).as[(String, Long)].collect().toMap
    assert(r1 === Map("a" -> 333333333333L, "b" -> 191666666666L, "c" -> 474999999999L))
    // iters=0 is the uniform init; partition-invariance of a deeper run
    val r0 = LinkGraph.pageRank(edges, iters = 0).as[(String, Long)].collect().toMap
    assert(r0 === Map("a" -> 333333333333L, "b" -> 333333333333L, "c" -> 333333333333L))
    val deep1 = LinkGraph.pageRank(edges.repartition(1), iters = 4)
      .as[(String, Long)].collect().toMap
    val deep7 = LinkGraph.pageRank(edges.repartition(7), iters = 4)
      .as[(String, Long)].collect().toMap
    assert(deep1 === deep7)
  }
}
