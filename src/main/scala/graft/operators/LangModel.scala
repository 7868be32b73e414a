package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.word_ngram_counts

/** N-gram language-model perplexity scoring — the CCNet/Wenzek-et-al. 2019
  * quality signal: train a word n-gram LM on (a reference slice of) the
  * corpus, score every document by its per-token negative log-likelihood,
  * and bucket into head/middle/tail. Documents whose text a simple LM
  * finds "surprising" are disproportionately boilerplate, gibberish and
  * SEO spam; CCNet keeps the head/middle buckets for LM training data.
  *
  * Estimation is add-k smoothed (Chen & Goodman 1999's baseline; chosen
  * over Kneser-Ney because every quantity is a plain count ratio the
  * DuckDB oracle recomputes exactly):
  *
  *   P(w_n | ctx) = (c(ctx, w_n) + k) / (c(ctx) + k * V)
  *
  * where c(ctx, w_n) is the (optionally pruned) n-gram count, c(ctx) the
  * UNPRUNED context count (so pruning moves mass into smoothing instead
  * of silently renormalizing), and V = distinct-token count + 1 (the +1
  * is the unseen/OOV type).
  *
  * Scale shape (100-TB corpus, the design target):
  *  - `word_ngram_counts` emits per-doc (gram, multiplicity) pairs —
  *    map-side pre-aggregation — so both training and scoring shuffle one
  *    row per DISTINCT gram per doc, never one per token.
  *  - Training is ONE `groupBy(gram)` count; context counts and V derive
  *    from that table without rescanning the corpus.
  *  - `minCount` pruning bounds the model like SRILM/KenLM count cutoffs:
  *    the long tail of singleton n-grams (the vast majority at web scale)
  *    never leaves the training aggregation.
  *  - Scoring joins doc-grams to the model on the gram string. Both model
  *    tables are unique-keyed; Catalyst broadcasts them when small and
  *    AQE picks shuffle-hash beyond that — no hint needed, and a hot
  *    context ("the …") is just a dense build-side key, not skew on the
  *    probe side.
  */
object LangModel {

  /** Trained model: n-gram counts (pruned), context counts (unpruned),
    * vocabulary size (distinct tokens + 1 OOV type), and the params it
    * was trained with. The two frames are small relative to the corpus
    * (bounded by distinct n-grams) and behave like dimension tables. */
  final case class NgramLm(ngrams: DataFrame, contexts: DataFrame,
                           vocabSize: Long, n: Int, k: Double)

  /** Context of a gram string = its first n-1 space-joined tokens. */
  private def contextOf(gram: Column, n: Int): Column =
    substring_index(gram, " ", n - 1)

  /** Train an add-k n-gram LM over `textCol`. One corpus scan; `minCount`
    * prunes rare n-grams AFTER context counts are taken, so pruned mass
    * degrades to the smoothing floor instead of disappearing. */
  def train(docs: DataFrame, n: Int = 2, minCount: Long = 1L, k: Double = 1.0,
            textCol: String = "text"): NgramLm = {
    require(n >= 2, s"n-gram LM needs n >= 2, got $n (n=1 has no context)")
    require(minCount >= 1, "minCount must be >= 1")
    require(k > 0, "add-k smoothing needs k > 0")
    // no widen here (r7): the n-gram count kernel is cheap relative to the
    // repartition it would take to spread it, and `docs` is referenced
    // twice (grams + vocab) so the widening shuffle would run twice —
    // measured ~0.3s slower at sf0.1 with it; the aggregations parallelize
    // through their own exchanges
    val grams = docs
      .select(explode(word_ngram_counts(col(textCol), n)).as("g"))
      .groupBy(col("g.gram").as("gram")).agg(sum(col("g.m")).as("c"))
    // one distinct-gram-per-doc pass for V: cheaper than it looks — the
    // unigram explode shuffles (doc-distinct token, 1) pairs, and
    // count(DISTINCT) is exact by construction of the gate contract
    val vocab = docs
      .select(explode(word_ngram_counts(col(textCol), 1)).as("u"))
      .agg(countDistinct(col("u.gram")).as("v"))
      .head().getLong(0) + 1L
    val contexts = grams
      .groupBy(contextOf(col("gram"), n).as("ctx")).agg(sum(col("c")).as("cctx"))
    val pruned = grams.filter(col("c") >= minCount)
    NgramLm(pruned, contexts, vocab, n, k)
  }

  /** Per-document negative log2 likelihood per n-gram token:
    * `(doc_id, n_ngrams, nll_bits)` — perplexity = 2^nll_bits. Documents
    * with fewer than n tokens have no n-grams and emit no row (callers
    * treat them via the short-doc quality filters instead). */
  def scoreNll(docs: DataFrame, lm: NgramLm, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val dg = docs.select(col(idCol).as("id"),
        explode(word_ngram_counts(col(textCol), lm.n)).as("g"))
      .select(col("id"), col("g.gram").as("gram"), col("g.m").as("m"))
    val prob = (coalesce(col("c"), lit(0L)) + lit(lm.k)) /
      (coalesce(col("cctx"), lit(0L)) + lit(lm.k) * lit(lm.vocabSize.toDouble))
    // shuffle_hash on the model sides: both are unique-keyed and bounded
    // (distinct pruned n-grams / contexts), so they are the natural build
    // maps, and the doc-gram stream must not be SORTED — the default SMJ
    // sorts 20M+ gram-string rows per measurement and spilled ~2 GB on a
    // 1M-doc run (ScaleOp stage read); with hash joins the probe side
    // streams. AQE still upgrades to broadcast when the model is tiny.
    dg.join(lm.ngrams.hint("shuffle_hash"), Seq("gram"), "left")
      .join(lm.contexts.hint("shuffle_hash"),
        contextOf(col("gram"), lm.n) === col("ctx"), "left")
      .groupBy(col("id").as(idCol))
      .agg(sum(col("m")).as("n_ngrams"),
        (-sum(col("m") * log2(prob)) / sum(col("m"))).as("nll_bits"))
  }

  /** CCNet head/middle/tail buckets. Two modes:
    *  - `exact = true`: ntile over a deterministic total order
    *    (rounded nll, then id) — a global sort, exact thirds; for gates
    *    and modest corpora.
    *  - `exact = false`: thresholds from a t-digest sketch of the score
    *    distribution (one aggregation, no global sort) — the 100-TB path,
    *    where an approximate cut between "head" and "middle" is exactly
    *    as meaningful as the arbitrary 1/3 convention itself.
    * Output adds `ppl_bucket` in {"head", "middle", "tail"} (head =
    * lowest perplexity). */
  def buckets(scored: DataFrame, idCol: String = "doc_id",
              exact: Boolean = true): DataFrame = {
    val r = round(col("nll_bits"), 9)
    if (exact) {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(r.asc, col(idCol).asc)
      scored.withColumn("ppl_bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          ntile(3).over(w)))
    } else {
      import graft.functions.GraftFunctions.{tdigest_build, tdigest_quantile}
      val cuts = scored
        .agg(tdigest_build(col("nll_bits")).as("td"))
        .select(tdigest_quantile(col("td"), lit(1.0 / 3)).as("q1"),
          tdigest_quantile(col("td"), lit(2.0 / 3)).as("q2"))
      scored.crossJoin(broadcast(cuts)).withColumn("ppl_bucket",
          when(col("nll_bits") <= col("q1"), "head")
            .when(col("nll_bits") <= col("q2"), "middle").otherwise("tail"))
        .drop("q1", "q2")
    }
  }
}
