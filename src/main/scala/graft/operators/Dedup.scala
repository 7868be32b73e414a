package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shims
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.Plans._
import graft.functions.GraftFunctions._

/**
 * Deduplication operators for webtext training-data pipelines. All are
 * declarative DataFrame plans (Catalyst-optimizable, shuffle-aware):
 *
 *  - exact:          hash group-by, one shuffle on a 64-bit fingerprint
 *  - n-gram Jaccard: explode shingles -> inverted-index self-join (the
 *                    textbook exact set-similarity join)
 *  - MinHash + LSH:  k min-hashes -> b bands -> bucket self-join ->
 *                    exact-Jaccard verification of candidates only
 *  - SimHash:        64-bit fingerprint, banded blocking (pigeonhole:
 *                    nBands >= maxHamming+1 bands, so every qualifying
 *                    pair shares a whole band)
 *  - embedding cosine near-dup: see Ann.scala (shared kernel)
 *
 * Scale notes are on each operator; the common theme is that every
 * candidate-generation step is a hash-partitioned equi-join (no cross
 * joins) and every verification runs only on candidates.
 */
object Dedup {

  /** Exact dedup: keep the smallest id per identical text, keyed by a
    * 128-bit content signature (XXH3 + an independent rolling hash), so the
    * shuffle carries 16 bytes per row — never the text. Two distinct texts
    * sharing both hashes is a ~2^-128 event (the standard content-address
    * assumption); callers needing literal byte-compare semantics can group
    * by the text column directly at the cost of shuffling it. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(xxh3_64(col(textCol)).as("__h1"),
        fingerprint64(col(textCol)).as("__h2"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))

  /** Distinct word n-gram shingles of a text column (documents shorter than
    * n words collapse to one whole-text shingle). Codegen'd tight loop — the
    * equivalent builtin composition (transform/sequence/slice/array_join) is
    * CodegenFallback and measured 5-10x slower per pass. */
  def shingles(text: Column, n: Int): Column =
    fn("word_shingles", text, lit(n))

  private def sortedIntersectCount(a: Column, b: Column): Column =
    fn("sorted_intersect_count", a, b)

  /**
   * Exact verification of candidate pairs by full-set Jaccard over a
   * prebuilt (id, shs) set table — each side's distinct shingle-hash set
   * travels as ONE sorted array<long> (vs the shingle strings, ~10x
   * smaller shuffle) and the overlap is a codegen'd linear merge.
   *
   * Set-table sizing guidance: when the per-doc sets exist anyway
   * (ngramJaccardPairs derives them from the same grouped pass that
   * builds its prefixes), pass the full table; when they would need a
   * dedicated corpus-wide build (minhashLshPairs), PIN the candidate list
   * first and semi-join the corpus down to candidate ids before
   * shingling — with the candidates pinned, re-referencing them is free,
   * and the set build shrinks by the candidate ratio (the corpus-wide
   * build was measured ~2x slower end-to-end at 500k docs). Hashing is
   * exact in practice: only WITHIN-pair collisions can change a count
   * (P ~ |A∪B|^2 / 2^65 per pair — ~5e-16 at 100-shingle docs, negligible
   * even over 1e12 verified pairs; cross-pair collisions are harmless).
   */
  def verifyJaccardPairsWithSets(candidates: DataFrame, sets: DataFrame,
                                 minJaccard: Double): DataFrame =
    verifyJaccardPairsWithSets(candidates, sets, minJaccard, broadcastSets = false)

  private[operators] def verifyJaccardPairsWithSets(
      candidates: DataFrame, sets: DataFrame,
      minJaccard: Double, broadcastSets: Boolean): DataFrame = {
    // broadcast when the caller measured the set table small (Plans.lookupSide)
    def setsAs(x: String) = lookupSide(
      sets.select(col("id").as(s"id_$x"), col("shs").as(s"shs_$x")), broadcastSets)
    candidates
      .join(setsAs("a"), "id_a")
      .join(setsAs("b"), "id_b")
      .withColumn("inter", sortedIntersectCount(col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("shs_a")) + size(col("shs_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Exact n-gram Jaccard self-similarity join: all pairs (a < b) with
   * J(shingles(a), shingles(b)) >= minJaccard.
   *
   * Plan — the prefix-filtered exact set-similarity join (the All-Pairs /
   * PPJoin candidate scheme, Bayardo et al. WWW'07 / Xiao et al. WWW'08):
   *
   *  1. global df per shingle (one agg);
   *  2. order each doc's shingles rarest-first by (df, shingle) and keep
   *     only the PREFIX of length |A| - ceil(t*|A|) + 1. Soundness: J(A,B)
   *     >= t implies |A∩B| >= t*|A| (since |B| >= |A∩B|), so the globally
   *     smallest common shingle sits within the first |A| - ceil(t*|A|) + 1
   *     shingles of BOTH docs — any qualifying pair shares a prefix shingle;
   *  3. inverted-index join on PREFIX shingles only (ubiquitous shingles
   *     sort last, so hot keys drop out of the join — the quadratic/skewed
   *     blow-up of the naive scheme disappears while staying exact), plus
   *     the length filter t*|A| <= |B| <= |A|/t;
   *  4. exact Jaccard verification of the (small) candidate set via
   *     array_intersect on per-doc shingle sets.
   *
   * `maxShingleDf` (0 = off) additionally drops shingles above a df cap
   * BEFORE everything, changing the similarity definition — an approximate
   * relaxation kept for callers that want stopword-shingle immunity.
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.5,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxShingleDf: Int = 0): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0, "minJaccard must be in (0, 1]")
    val sh0 = widen(docs).select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("sh"))
    val shStr = if (maxShingleDf > 0) {
      val df = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf).select("sh")
      sh0.join(df, "sh")
    } else sh0
    // everything downstream runs on 64-bit shingle hashes: strings never
    // leave the explode stage (shuffles carry 8 B keys), and the global
    // prefix order becomes (df, h) — any total order is sound
    val shh = shStr.select(col("id"), xxh3_64(col("sh")).as("h"))

    val dfTab = shh.groupBy(col("h")).agg(count(lit(1)).as("df"))

    // ONE grouped pass builds the per-doc state everything else derives
    // from: shingle hashes sorted rarest-first by (df, h) — struct sort is
    // lexicographic, so sort_array gives the global prefix order — plus the
    // prefix slice and the value-sorted set for verification. This replaces
    // a row_number window (exchange + sort over every shingle occurrence)
    // with the same groupBy-id exchange the set table needs anyway; the
    // per-doc array ops run on corpus-cardinality rows. ceil is computed
    // with a 1e-9 slack so float error can only LENGTHEN the prefix (never
    // breaks exactness, only admits a few extra candidates).
    // PINNED like the sparse-cosine state: the plan references this frame
    // three times (prefix explode + both verify sides) and Catalyst
    // re-expands a referenced subtree per reference — unpinned, the corpus
    // was shingled and df-aggregated once per reference (three identical
    // fat stages in the e2e profile). The pinned state carries exact stats,
    // but the joins below still pick their strategy explicitly: the prefix
    // explode multiplies its rows by a per-doc factor the planner can only
    // guess, and the verify decision needs the byte cap as well.
    val pinned = pin(shh.join(dfTab, "h")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("__dfh"))
      .withColumn("sz", size(col("__dfh")).cast("long"))
      .withColumn("__plen",
        (col("sz") - ceil(lit(minJaccard) * col("sz") - lit(1e-9)) + 1).cast("int"))
      .withColumn("prefix", transform(slice(col("__dfh"), lit(1), col("__plen")), x => x("h")))
      .withColumn("shs", sort_array(transform(col("__dfh"), x => x("h"))))
      .select(col("id"), col("sz"), col("prefix"), col("shs")),
      "Dedup.ngramJaccardPairs docSets")
    val docSets = pinned.df

    val prefix = docSets.select(col("id"), col("sz"),
        posexplode(col("prefix")).as(Seq("pos", "h")))

    // duplicate candidates (pairs sharing several prefix shingles) are NOT
    // deduped here: the verify side is two broadcast-sized lookups, so
    // re-verifying the remaining duplication is cheaper than a full
    // shuffle+agg over the candidate pairs; survivors dedupe at the end
    //
    // Join filter = length filter + the PPJoin POSITIONAL filter (Xiao et
    // al. WWW'08 §3.2), the set analog of the sparse-cosine positional
    // bound: J >= t forces |A∩B| >= ceil(t/(1+t) * (|A|+|B|)), and at a
    // shared prefix shingle sitting at 0-based positions (i, j) of the
    // df-ordered arrays, overlap <= 1 + min(|A|-i-1, |B|-j-1) — every
    // other common shingle sorts AFTER it in the global (df, h) order.
    // The bound is tight at the pair's FIRST shared shingle, so a
    // qualifying pair always survives on that row (later shared-shingle
    // rows may prune — they were duplicates). Exact; measured to cut the
    // candidate volume and the array-widened verify exchange several-fold
    // at sf0.1. ceil slack 1e-9 so float error only ever ADMITS.
    // SHUFFLE-HASH self-join on the prefix shingle (the inverted-index
    // join): the exploded prefix's size is a planner guess (the pinned
    // state's exact stats rescaled by row width only; the explode's row
    // multiplication is unknown to it), so left to the planner this can
    // fall to SortMergeJoin — sorting both exploded prefix
    // streams for an equi-join whose output is consumed unordered. The
    // explicit hint keeps the 100-TB-safe shuffle plan without the sorts (a
    // broadcast would only ever fit by accident of a small corpus).
    val candidates = prefix.as("a").join(prefix.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
        // length filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|
        col("b.sz") >= lit(minJaccard) * col("a.sz") - lit(1e-9) &&
        col("a.sz") >= lit(minJaccard) * col("b.sz") - lit(1e-9) &&
        lit(1L) + least(col("a.sz") - col("a.pos") - 1L, col("b.sz") - col("b.pos") - 1L) >=
          ceil(lit(minJaccard / (1.0 + minJaccard)) * (col("a.sz") + col("b.sz")) - lit(1e-9)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))

    val sets = docSets.select(col("id"), col("shs"))
    // the broadcast decision reads the pin's own tallies: no extra job
    verifyJaccardPairsWithSets(candidates, sets, minJaccard,
        broadcastSets = fitsDriver(pinned.rows, pinned.bytes))
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * EXACT all-pairs cosine similarity >= minCos over sparse bag-of-words TF
   * vectors — the weighted sibling of [[ngramJaccardPairs]], after the L2AP
   * family (Anastasiu & Karypis, "L2AP: Fast cosine similarity search with
   * prefix L-2 norm bounds", ICDE 2014), re-expressed as the same
   * inverted-prefix-index plan shape:
   *
   *  1. unit-normalized tf weights per doc (64-bit token hashes end-to-end —
   *     token strings never leave the explode stage); global feature order
   *     rarest-first by (df, h);
   *  2. PREFIX = leading features while the running suffix norm stays
   *     >= t. Soundness (Cauchy-Schwarz): if the globally smallest shared
   *     feature of a pair sits at position j of A and j' of B, then
   *     cos(A,B) <= ||A[j..]|| * ||B[j'..]|| — so a qualifying pair shares a
   *     feature inside BOTH prefixes, and the per-position bound product
   *     prunes candidates exactly;
   *  3. candidates from the prefix inverted index. Stopword-class hot
   *     tokens carry tiny weights AND sort last, so they drop out of the
   *     join — the same hot-key immunity as the shingle join;
   *  4. exact verification: codegen'd sorted-merge dot product over
   *     (hash, weight) arrays, one linear pass per candidate.
   *
   * Hashing exactness caveat is the shingle join's: only within-pair 64-bit
   * collisions could perturb a score (P ~ |A∪B|^2 / 2^65 per pair).
   *
   * Pruning power depends on the FEATURE SPACE: unigram features over a
   * tiny vocabulary (this repo's synthetic corpus) are the worst case —
   * nearly every pair shares "rare" features, so the join approaches the
   * true pair count and the run is output-bound. Zipfian real-text
   * vocabularies prune well; for aggressive pruning on word-salad corpora
   * use n-gram set similarity ([[ngramJaccardPairs]]) whose trigram feature
   * space is combinatorially larger.
   *
   * `idf = true` switches weights to smooth tf-idf
   * (w = tf * (ln((1+N)/(1+df)) + 1), the sklearn convention): the standard
   * IR similarity, and ALSO sharper prefixes — common tokens carry less
   * norm, so suffix bounds fall faster. Exactness is weight-agnostic.
   *
   * `ngram > 1` uses word n-grams as features instead of unigrams (tf
   * counts each n-gram occurrence): a combinatorially larger feature space,
   * so small-vocabulary corpora regain prefix selectivity. Texts shorter
   * than n words collapse to one whole-text feature (the [[shingles]]
   * convention).
   */
  def sparseCosinePairs(docs: DataFrame, minCos: Double = 0.8,
                        idCol: String = "doc_id", textCol: String = "text",
                        idf: Boolean = false, ngram: Int = 1): DataFrame = {
    require(minCos > 0.0 && minCos <= 1.0, "minCos must be in (0, 1]")
    require(ngram >= 1, "ngram must be >= 1")
    val tEff = minCos - 1e-9 // float slack: only ever ADMITS candidates
    import graft.functions.GraftFunctions.{l2ap_prefix, sorted_weighted_dot}

    // empty/whitespace-only (or null) texts have NO features in any mode —
    // without this prefilter the ngram>1 whole-text collapse would give
    // every empty doc the same single feature and emit a quadratic set of
    // vacuous cosine-1.0 pairs
    // no widen here (r7): the unigram tokenize is a plain split — too
    // cheap for the widening shuffle to pay for itself (measured ~0.3s
    // slower with it at sf0.1); the tf aggregation parallelizes through
    // its own exchange, and the candidate/verify stages are spread by the
    // explicit prefix repartition below
    val nonEmpty = docs.filter(trim(col(textCol)) =!= "")
    // NOTE: word_shingles dedupes, so n-gram tf needs occurrence counts —
    // use the positional sliding window for ngram > 1, plain split for 1
    val features =
      if (ngram == 1)
        nonEmpty.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("t"))
          .filter(col("t") =!= "")
      else
        nonEmpty.select(col(idCol).as("id"),
            split(col(textCol), " ").as("__toks"))
          .select(col("id"), explode(
            when(size(col("__toks")) < ngram, array(concat_ws(" ", col("__toks"))))
              .otherwise(transform(
                sequence(lit(0), size(col("__toks")) - ngram),
                i => concat_ws(" ", slice(col("__toks"), i + 1, lit(ngram)))))).as("t"))
    val tf = features
      .groupBy(col("id"), xxh3_64(col("t")).as("h"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfTab = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // tf-idf weighting (smooth idf, sklearn convention): common tokens
    // carry less weight, so prefixes get MORE selective — the exactness of
    // the suffix-norm bound is weight-agnostic. Doc count is one
    // metadata-cheap count() of the input.
    val nDocs = if (idf) docs.count() else 0L

    // ONE grouped pass builds all per-doc state: features rarest-first for
    // the prefix, hash-sorted parallel arrays for the merge-dot kernel, the
    // norm for unit scaling (array transforms are per-doc, not per-pair).
    // The state is PINNED (checkpointed) because the plan references it
    // three times (prefix + both verify sides) and Catalyst re-expands a
    // referenced subtree at every reference — unpinned, the corpus would be
    // tokenized and aggregated 5x (measured 33s -> 7s at sf0.1). At crawl
    // scale this is the standard "write the linear state once, read it
    // thrice" shape; with a checkpoint dir configured the write is a
    // durable shared-FS table.
    val pinned = pin(tf.join(dfTab, "h")
      .withColumn("w0",
        if (idf) col("tf") * (log((lit(1.0) + nDocs.toDouble) / (lit(1.0) + col("df"))) + lit(1.0))
        else col("tf"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h"), col("w0")))).as("__dfh"),
        sqrt(sum(col("w0") * col("w0"))).as("__nrm"))
      .withColumn("__hw", sort_array(transform(col("__dfh"),
        x => struct(x("h").as("h"), (x("w0") / col("__nrm")).as("w")))))
      .withColumn("hk", transform(col("__hw"), x => x("h")))
      .withColumn("wv", transform(col("__hw"), x => x("w")))
      .withColumn("pref", l2ap_prefix(
        transform(col("__dfh"), x => x("h")),
        transform(col("__dfh"), x => x("w0") / col("__nrm")), tEff))
      .select(col("id"), col("hk"), col("wv"), col("pref")),
      "Dedup.sparseCosinePairs state")
    val state = pinned.df

    // round-robin repartition before the self-join: the pinned state is
    // row-tiny (AQE coalesces it to few partitions), but the join's OUTPUT
    // is the big thing — without this, candidate emission runs in as few
    // tasks as the state has partitions (measured: ONE 8s serial task at
    // sf0.1). Spreading the streamed side parallelizes emission regardless
    // of hot keys, since the other side broadcasts.
    val prefix = state.select(col("id"), explode(col("pref")).as("f"))
      .select(col("id"), col("f.h").as("h"), col("f.w").as("w"), col("f.nx").as("nx"))
      .repartition(state.sparkSession.sparkContext.defaultParallelism)
    // dedupe BEFORE verification: multi-shared-prefix pairs would multiply
    // every downstream row, while the dedup itself shuffles only 16-byte
    // id pairs.
    // Join filter = the POSITIONAL bound w_a*w_b + nx_a*nx_b >= t (exact at
    // the first shared feature, see VectorKernels.l2apPrefix) — strictly tighter
    // than the plain suffix-norm product, so fewer candidates reach the
    // dedup shuffle and the verify join
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
        col("a.w") * col("b.w") + col("a.nx") * col("b.nx") >= tEff)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // verification: attach both docs' sorted (hash, weight) arrays to each
    // candidate pair and merge-dot per row; the lookup side is chosen from
    // the exact rows and bytes the state's pin tallied (Plans.lookupSide),
    // with no job of its own
    val small = fitsDriver(pinned.rows, pinned.bytes)
    val stateA = state.select(col("id").as("id_a"), col("hk").as("hk_a"), col("wv").as("wv_a"))
    val stateB = state.select(col("id").as("id_b"), col("hk").as("hk_b"), col("wv").as("wv_b"))
    candidates
      .join(lookupSide(stateA, small), "id_a")
      .join(lookupSide(stateB, small), "id_b")
      .withColumn("cos", round(
        sorted_weighted_dot(col("hk_a"), col("wv_a"), col("hk_b"), col("wv_b")), 9))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** The 128-bit content-signature table (id, h1, h2) of a corpus — the
    * persistable state of incremental exact dedup: write it once per
    * ingested batch and feed it back as the `store` of
    * [[exactAgainstStore]] for the next batch. Same signature scheme as
    * [[exact]] (16 bytes/doc, text never leaves the scan). */
  def contentSignatures(docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"), xxh3_64(col(textCol)).as("h1"),
      fingerprint64(col(textCol)).as("h2"))

  /**
   * INCREMENTAL exact dedup — the continuous-crawl shape: drop new docs
   * whose content signature already exists in a persisted `store`
   * ([[contentSignatures]] rows from previous batches), then exact-dedup
   * the remainder within the batch (smallest id survives). Append the
   * survivors' [[contentSignatures]] to the store and the next batch
   * dedups against everything ever kept — no re-reading of old text.
   *
   * Scale shape: one anti equi-join on (h1, h2) — broadcastable while the
   * store is small, hash-partitioned when it is corpus-sized — plus the
   * [[exact]] group-by for the intra-batch pass. Returns the surviving
   * ROWS of `newDocs` (all columns).
   */
  def exactAgainstStore(newDocs: DataFrame, store: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig = contentSignatures(newDocs, idCol, textCol)
      .withColumnRenamed("id", idCol)
    val fresh = sig.join(store.select(col("h1"), col("h2")), Seq("h1", "h2"), "left_anti")
    val keepIds = fresh.groupBy(col("h1"), col("h2"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    newDocs.join(keepIds, Seq(idCol), "left_semi")
  }

  /** Per-row minhash signature table (id, sig: array<long>) — one codegen'd
    * pass, no explode/shuffle. Bit-identical to the aggregation
    * formulation inside [[minhashLshPairs]] (pinned by test): the same
    * signatures serve batch LSH, persisted signature stores, and the
    * streaming near-dedup ([[graft.streaming.StreamingSketch]]), whose
    * single stateful-operator budget cannot afford a groupBy. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // null-text rows are excluded, matching the explode formulation's
    // semantics (explode of a null shingle array emits nothing) — a null
    // signature would otherwise band to one constant bucket and every
    // null-text doc would pair with every other quadratically
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.minhash_sig(
          shingles(col(textCol), n), numHashes).as("sig"))

  /**
   * Near-dup matches of NEW docs against a persisted signature store
   * ([[minhashSignatures]] rows from previous batches) — the batch
   * analogue of the streaming operator's state probe, for incremental
   * crawl ingestion: band-bucket equi-join between the new batch's
   * signatures and the store, candidates verified by the
   * signature-estimated Jaccard (matching minhash fraction — the store
   * holds no text, and signatures are the bounded sufficient statistic,
   * E[match fraction] = J). Returns (store_id, new_id, est_jaccard).
   * The est computation runs only on bucket-join candidates, so the
   * CodegenFallback higher-order fold there is off the corpus-sized path.
   */
  def minhashPairsAgainstStore(newDocs: DataFrame, store: DataFrame,
                               n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                               minEstJaccard: Double = 0.5,
                               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val newSigs = minhashSignatures(newDocs, n, numHashes, idCol, textCol)
    // fail fast on a store persisted under a different numHashes: the
    // mismatch would otherwise band out-of-range (null) elements into one
    // constant bucket and systematically halve est_jaccard — silently
    // missing true near-dups
    val store0 = store.withColumn("sig",
      when(size(col("sig")) =!= numHashes, raise_error(concat(
        lit("minhashPairsAgainstStore: store signature length "),
        size(col("sig")).cast("string"),
        lit(s" != numHashes $numHashes — probe with the store's parameters"))))
        .otherwise(col("sig")))
    def banded(sigs: DataFrame, side: String) = {
      val bandCols = (0 until bands).map { b =>
        val parts = (b * r until (b + 1) * r).map(i => element_at(col("sig"), i + 1))
        struct(lit(b).as("band"), xxhash64(parts: _*).as("bucket"))
      }
      sigs.select(col("id").as(s"${side}_id"), col("sig").as(s"${side}_sig"),
          explode(array(bandCols: _*)).as("bb"))
        .select(col(s"${side}_id"), col(s"${side}_sig"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }
    banded(store0, "store").join(banded(newSigs, "new"), Seq("band", "bucket"))
      .select(col("store_id"), col("new_id"), col("store_sig"), col("new_sig"))
      .dropDuplicates("store_id", "new_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("store_sig"), col("new_sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("store_id"), col("new_id"), col("est_jaccard"))
  }

  /**
   * MinHash + LSH near-dup pairs. k min-hash signatures computed PER ROW by
   * the codegen'd `minhash_sig` kernel (bit-identical to
   * the k-min-aggregates formulation min(xxhash64(lit(i), xxh3(sh))) —
   * pinned by test — but with NO corpus-sized shuffle: the previous
   * explode + 32-min groupBy moved every shingle row through an exchange,
   * measured ~2x slower end-to-end at 500k docs); signatures cut into
   * `bands`; docs sharing any band bucket become candidates (one equi-join
   * on (band, bucketHash)); candidates are verified with exact Jaccard.
   *
   * Scale: the expensive exact-Jaccard join runs ONLY on LSH candidates
   * (left-semi pushdown), which is what makes near-dedup feasible at 1e12
   * docs — recall is tunable via (k, bands): P(candidate) = 1-(1-J^r)^b.
   */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, minJaccard: Double = 0.5,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands

    val sigs = minhashSignatures(widen(docs), n, numHashes, idCol, textCol)

    // band bucket id = hash of the row hashes of that band
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(parts: _*).as("bucket"))
    }
    val buckets = sigs.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val candidates = pin(buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct(), "Dedup.minhashLshPairs candidates").df

    // exact-Jaccard verification with the shingle work pruned to CANDIDATE
    // docs only: the candidate list is pinned (so its references cost
    // nothing to re-expand) and its id set semi-joins the corpus BEFORE the
    // shingle explode — both the second corpus-wide tokenize+shingle pass
    // and the corpus-wide groupBy+collect_set exchange (the dominant stage
    // at 500k docs) shrink to the docs that actually need verifying. No
    // forced broadcast: the pinned frame has known stats, so AQE broadcasts
    // the id set when it is small and falls back to a shuffled semi join on
    // high-duplication corpora where candidates are corpus-sized (a forced
    // broadcast there would OOM the driver)
    val candIds = candidates.select(col("id_a").as(idCol))
      .unionByName(candidates.select(col("id_b").as(idCol))).distinct()
    val sets = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
      .select(col("id"), xxh3_64(col("sh")).as("h"))
      .groupBy(col("id")).agg(sort_array(collect_set(col("h"))).as("shs"))
    verifyJaccardPairsWithSets(candidates, sets, minJaccard)
  }

  /**
   * Benchmark decontamination (Brown et al. 2020, GPT-3 appendix C): find
   * training docs sharing at least `minShared` word n-grams with ANY doc of
   * a reference set (eval benchmarks, test splits). The standard
   * contamination rule is a 13-gram overlap; use smaller n for short texts.
   *
   * Scale shape: the reference set's distinct n-gram hashes are usually
   * tiny next to the corpus (eval suites vs a crawl), so the join is a
   * broadcast-able semi join on 64-bit hashes — the corpus explodes its
   * shingles ONCE, nothing corpus-sized shuffles, and the output is
   * (doc_id, shared count) for thresholding or audit.
   *
   * Returns (idCol, shared) for contaminated docs only; anti-join it back
   * to drop them.
   */
  def contaminatedDocs(docs: DataFrame, reference: DataFrame, n: Int = 13,
                       minShared: Int = 1,
                       idCol: String = "doc_id", textCol: String = "text",
                       refTextCol: String = "text"): DataFrame = {
    val refGrams = reference
      .select(explode(shingles(col(refTextCol), n)).as("sh"))
      .select(xxh3_64(col("sh")).as("h"))
      .distinct()
    widen(docs).select(col(idCol), explode(shingles(col(textCol), n)).as("sh"))
      .select(col(idCol), xxh3_64(col("sh")).as("h"))
      .join(refGrams, "h") // inner on distinct ref grams: one row per hit
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /**
   * Corpus-level boilerplate LINE audit (the CCNet / Dolma paragraph-dedup
   * family): lines whose exact content appears in at least `minDf` distinct
   * documents — navigation text, cookie banners, footers — returned as
   * (line, df) for inspection or as the input to
   * [[stripBoilerplateLines]]. Per-doc duplicate lines count once (df is a
   * distinct-document count). Scale shape: one explode, one distinct, one
   * count aggregation — all on (8-byte hash, line) keys; output is tiny by
   * definition (a line needs minDf documents to qualify).
   */
  def boilerplateLines(docs: DataFrame, minDf: Long,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // minDf <= 1 would classify EVERY distinct corpus line as boilerplate —
    // blanking the corpus and broadcasting a corpus-sized set downstream
    require(minDf >= 2, s"minDf must be >= 2 (a line needs at least two " +
      s"documents to be corpus boilerplate), got $minDf")
    docs.select(col(idCol).as("id"), explode(split(col(textCol), "\n")).as("line"))
      .distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /**
   * Remove corpus-boilerplate lines from every document — the in-document
   * half of paragraph dedup: documents keep their other lines in order
   * (joined back with "\n") and EVERY other column untouched; a document
   * whose every line is boilerplate keeps an empty text rather than
   * vanishing.
   *
   * Plan shape: the input is pinned once (it is referenced three times —
   * line explode, df aggregation, final column join — and Catalyst
   * re-expands referenced subtrees); lines explode once with positions;
   * the boilerplate hash set is pinned (so AQE sees its EXACT size) and
   * anti-joined with NO forced broadcast: the set is small for large
   * `minDf`, but `minDf` near 2 on a duplication-heavy crawl (quoted
   * passages, timestamps, templated text — and shard-level paragraph dedup
   * a la CCNet legitimately runs at minDf=2) makes it corpus-scale, and a
   * forced broadcast of it would OOM the driver at exactly the 100-TB
   * scale this operator targets. AQE broadcasts the pinned frame when it
   * is actually small and shuffles the 8-byte hashes when it is not.
   * Surviving lines re-assemble per document (one groupBy on the id).
   * Matching is by 64-bit content hash — the engine's standard
   * content-address assumption (a cross-line collision strips an innocent
   * line with P ~ 2^-64).
   *
   * `maxBoilerplateLines` (0 = off, the default) is a fail-fast sanity cap
   * on the set's cardinality in the spirit of `maxBucketRows`: a
   * corpus-scale set at a `minDf` the caller believed selective means the
   * parameter is misconfigured and the strip is about to blank most of the
   * corpus — better an actionable error than a silently emptied dataset.
   * The cardinality is always logged.
   */
  def stripBoilerplateLines(docs: DataFrame, minDf: Long,
                            idCol: String = "doc_id", textCol: String = "text",
                            maxBoilerplateLines: Long = 0L): DataFrame = {
    // no widen here (r7): the per-row kernel is a plain "\n" split —
    // too cheap for the widening shuffle to pay for itself (measured
    // +0.1s warm at sf0.1); the heavy work is the post-explode agg,
    // which parallelizes through its own exchange
    val pinned = pin(docs, "Dedup.stripBoilerplateLines docs").df
    val lines = pinned.select(col(idCol), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("col", "line")
    val boilerPin = pin(boilerplateLines(pinned, minDf, idCol, textCol)
      .select(xxh3_64(col("line")).as("__bh")), "Dedup.stripBoilerplateLines boilerplate")
    val (boiler, nBoiler) = (boilerPin.df, boilerPin.rows)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"stripBoilerplateLines: $nBoiler boilerplate lines at minDf=$minDf")
    if (maxBoilerplateLines > 0 && nBoiler > maxBoilerplateLines)
      throw new IllegalStateException(
        s"stripBoilerplateLines: boilerplate-line set has $nBoiler entries, " +
          s"over maxBoilerplateLines=$maxBoilerplateLines — minDf=$minDf is " +
          "classifying a large share of the corpus as boilerplate; raise " +
          "minDf (or raise/disable the cap if aggressive paragraph dedup " +
          "is intended)")
    val kept = lines.join(boiler,
      xxh3_64(col("line")) === col("__bh"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("line")))),
        x => x("line")), "\n").as("__newtext"))
    pinned.join(rebuilt, Seq(idCol), "left")
      .select(pinned.columns.map(c =>
        if (c == textCol) coalesce(col("__newtext"), lit("")).as(textCol)
        else col(c)).toIndexedSeq: _*)
  }

  /**
   * Repeated-substring audit — substring-level duplication detection (the
   * Lee et al. 2021 "Deduplicating Training Data Makes Language Models
   * Better" family, which dedups repeated SPANS rather than whole
   * documents): returns every maximal char span covered by
   * length-`minLen` windows whose content occurs at least `minDf` times
   * in the corpus (across documents or repeated within one — both are
   * training-data duplication). Guarantee at stride 1: any repeated
   * substring of length >= minLen is covered by a reported span, because
   * every one of its windows repeats. `stride > 1` is the documented
   * large-scale approximation: only windows at stride offsets are hashed
   * (index size divides by stride; the guarantee weakens to substrings of
   * length >= minLen + stride - 1).
   *
   * Scale shape: one O(chars) rolling-hash pass per document
   * (`rolling_kgram_hashes`, Rabin-Karp — NOT O(chars * minLen)); the
   * position index shuffles (id, pos, 8-byte hash) — never text; hot
   * windows come from one count aggregation + equi semi join; span
   * assembly is one groupBy collecting each doc's flagged positions
   * (bounded by the doc's own length) into a codegen'd merge. There is NO
   * pair emission anywhere, so unlike the pairwise dedup joins this
   * cannot go quadratic on corpus-hot boilerplate: a window shared by a
   * million documents costs a million index rows, not 10^12 pairs.
   * Matching is by 64-bit rolling hash — the engine's standard
   * content-address assumption. Spans use Java char offsets (==
   * codepoints for ASCII/BMP text); ends exclusive. What to DO with the
   * spans (strip all-but-first occurrence, drop documents, mask) is a
   * corpus policy the caller applies with the offsets.
   */
  def repeatedSpans(docs: DataFrame, minLen: Int = 50, minDf: Long = 2,
                    stride: Int = 1,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (a window needs two occurrences " +
      s"to be a repeat), got $minDf")
    import graft.functions.GraftFunctions.{rolling_kgram_hashes, merge_spans}
    // pinned: the index is referenced twice (df aggregation + flag join)
    // and Catalyst re-expands referenced subtrees. The INPUT is widened
    // (not the index): repartitioning after the explode leaves the serial
    // explode serial, but repartitioning the raw docs first moves only the
    // text bytes the rolling-hash kernel was about to read and spreads the
    // kernel across the session's cores; at crawl scale widen() is the
    // identity and neither effect exists.
    val grams = pin(widen(docs).select(col(idCol),
        posexplode(rolling_kgram_hashes(col(textCol), minLen, stride)))
      .select(col(idCol), (col("pos").cast("long") * stride).as("p"), col("col").as("h")),
      "Dedup.repeatedSpans grams").df
    val hot = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("h")
    grams.join(hot, "h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .select(col(idCol), explode(merge_spans(col("ps"), minLen)).as("s"))
      .select(col(idCol), col("s.span_start"), col("s.span_end"))
  }

  /**
   * Remove char ranges from documents — the APPLY step of span-level
   * dedup: feed it [[repeatedSpans]] output (filtered by whatever policy
   * the corpus wants: drop every occurrence like C4's line dedup, keep
   * the first like Lee et al., keep spans under a length cap, ...) and
   * every listed [start, end) range disappears from that doc's text;
   * docs with no spans pass through untouched, all other columns
   * preserved. Overlapping/unsorted ranges are merged per doc before
   * splicing (the codegen'd kernel re-merges defensively), and
   * out-of-bounds offsets clamp — offsets are Java char offsets, matching
   * [[repeatedSpans]].
   *
   * Scale shape: spans aggregate per doc (one groupBy on the id — span
   * count per doc is bounded by its own length), then ONE left equi-join
   * against the corpus and a row-local splice. No shuffle of text except
   * the join's own movement of the corpus rows.
   */
  def stripSpans(docs: DataFrame, spans: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.GraftFunctions.splice_out
    val perDoc = spans
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    widen(docs).join(perDoc, Seq(idCol), "left")
      .select(docs.columns.map(c =>
        if (c == textCol)
          when(col("__spans").isNull, col(textCol))
            .otherwise(splice_out(col(textCol), col("__spans"))).as(textCol)
        else col(c)).toIndexedSeq: _*)
  }

  /**
   * Winnowing overlap pairs — LOCAL duplication detection (shared passages,
   * quotations, boilerplate blocks) that whole-document Jaccard misses:
   * docs sharing >= `minShared` winnowing fingerprints. By the winnowing
   * guarantee, ANY common substring of w+k-1 chars or more shares at least
   * one fingerprint, so passage copies are always candidates. Shape: one
   * fingerprint explode, inverted-index equi-join, pair count — identical
   * scale behaviour to the shingle join (fingerprint density ~ 2/(w+1)
   * per char, so the index is a fraction of the corpus size).
   *
   * `maxFingerprintDf` is the skew guard, ON BY DEFAULT (1000; pass 0 to
   * opt out explicitly): a fingerprint shared by d docs emits d^2/2 join
   * rows, and winnowing fingerprints of boilerplate (cookie banners,
   * license blocks, nav text) are shared by millions of pages in a real
   * crawl — an unguarded self-join is a skewed quadratic shuffle, and
   * unlike [[ngramJaccardPairs]] (whose prefix filter provably drops hot
   * shingles) this cap is the ONLY guard here, so defaulting it off would
   * make the quadratic join the out-of-the-box behavior. Capping
   * fingerprint document-frequency drops exactly those keys BEFORE the
   * join (one extra df aggregation + semi join, both on 8-byte keys).
   * This is a documented approximation: pairs whose only overlap is
   * over-cap content fall below `minShared` — the intended outcome, since
   * a passage shared by >1000 documents is corpus boilerplate by
   * definition, not evidence of copying between a specific pair.
   */
  def winnowOverlapPairs(docs: DataFrame, minShared: Int = 2,
                         k: Int = 8, w: Int = 4,
                         idCol: String = "doc_id", textCol: String = "text",
                         maxFingerprintDf: Int = 1000): DataFrame = {
    val fp0 = widen(docs).select(col(idCol).as("id"),
      explode(graft.functions.GraftFunctions.winnow_set(col(textCol), k, w)).as("f"))
    // pin the fingerprint index: it is referenced twice by the self-join
    // (plus twice more via the df cap), and Catalyst re-expands referenced
    // subtrees — unpinned, the tokenize+winnow pass over the corpus runs
    // up to 4x
    val fp = pin(if (maxFingerprintDf > 0) {
      val keep = fp0.groupBy(col("f")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxFingerprintDf).select("f")
      fp0.join(keep, "f")
    } else fp0, "Dedup.winnowOverlapPairs fingerprints").df
    fp.as("a").join(fp.as("b"),
        col("a.f") === col("b.f") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /**
   * Connected components over a near-dup pair list — the step that turns
   * pairwise matches into KEEP/DROP decisions (docs A~B and B~C must
   * collapse to one survivor even though A~C was never emitted). Returns
   * (id, component) where component = min id of the cluster.
   *
   * The undirected edge list (both directions, distinct) is pinned first,
   * and its exact tally picks one of two strategies:
   *
   *  - DRIVER: with no `resumePath`, when the edges fit the driver caps
   *    that also bound the verify broadcast ([[Plans.fitsDriver]]: 65,536 rows
   *    and 256 MiB), one job (call site `Dedup.connectedComponents
   *    collect`) collects them and a union-find that roots each set at its
   *    smallest id labels every vertex: exactly the fixed point the rounds
   *    converge to, returned as a local frame. On a small graph the rounds
   *    cost far more than their work — each is its own pinned execution,
   *    with its own stages and generated classes.
   *  - ROUNDS otherwise, and whenever a `resumePath` is given (ids that
   *    are not longs, or null, also take the rounds).
   *
   * `maxIter` bounds only the rounds; `maxIter <= 0` returns the identity
   * labelling (every vertex its own component).
   *
   * The rounds: label propagation to the minimum reachable id with POINTER
   * JUMPING: every round a vertex takes the smallest component among itself
   * and its neighbors, then compresses one indirection (component :=
   * component of component). Neighbor steps alone converge in
   * O(diameter) rounds (a long chain would need one round per hop); the
   * jump halves label-chain depth each round, giving O(log diameter)
   * convergence — the pointer-doubling idea of the MapReduce
   * connected-components literature (Kiveris et al. large-star/small-star
   * family).
   *
   * Scale shape: each round is one equi-join (edges x labels, keyed by
   * vertex id) + one min-aggregation, except round 1, which reads the
   * identity labelling straight off the edges (least(src, min(dst)) per
   * source vertex) so no round-0 table is ever written. Convergence costs
   * no job: labels only ever decrease, so a round changed nothing iff its
   * exact label sum equals the previous round's, and each round's pin
   * tallies that sum in the job that writes it. Labels materialize per
   * round via a RELIABLE checkpoint (when `sc.setCheckpointDir` points at
   * a shared filesystem — which any real cluster deployment must do), so
   * the plan does not nest across iterations AND a lost executor recovers by
   * re-reading the last round's checkpoint files rather than failing the
   * job. `localCheckpoint` would be the wrong tool here: it truncates
   * lineage but keeps blocks only on executors, so one lost executor makes
   * the labels RDD unrecoverable mid-iteration — precisely the event a
   * multi-hour 100-TB clustering run will see. Sessions with no checkpoint
   * dir configured (ad-hoc local work) fall back to localCheckpoint with a
   * warning. Checkpoint data is O(|vertices|) small (two longs per row) per
   * round. Spark deletes it only with
   * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; otherwise it
   * stays in the checkpoint dir until the dir's owner removes it (the
   * sessions `graft.GraftSession` builds delete theirs at JVM exit).
   *
   * JOB-RESTART RESUMABILITY: `resumePath` (a durable directory on the
   * shared filesystem) persists each round's labels as a parquet table
   * `round_<i>`. A restarted job with the same `resumePath` loads the
   * LATEST complete round (parquet commit via _SUCCESS makes partial
   * writes invisible) and continues from there instead of recomputing from
   * round 0 — checkpointing covers executor loss within a job, this covers
   * losing the driver/job itself, the remaining failure mode of a
   * multi-hour 100-TB clustering run. Edges are recomputed from `pairs`
   * (they are the job's input); only the iterative label state resumes.
   * The caller owns cleanup of the directory after the run.
   *
   * Because resumed label state is only valid for the EXACT edge set it
   * was computed from, the directory carries an order-independent
   * fingerprint of the edges (row count + XOR of per-edge 64-bit hashes,
   * written before round 0). A restart whose recomputed `pairs` produce a
   * different fingerprint — a stale directory reused across inputs, or
   * pairs that grew between restarts — FAILS FAST instead of silently
   * resuming: labels for vertices absent from the old rounds would
   * otherwise only re-enter via labeled neighbors, and wholly-new
   * components would be missing from the output. A directory containing
   * rounds but no fingerprint (pre-upgrade or hand-edited) is equally
   * untrustworthy and also fails fast; clear it to restart from scratch.
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          resumePath: Option[String] = None,
                          pruneRounds: Boolean = true): DataFrame = {
    val edges = edgeList(pairs)
    val onDriver =
      if (resumePath.isEmpty && maxIter > 0 && fitsDriver(edges.rows, edges.bytes))
        componentsOnDriver(edges)
      else None
    onDriver.getOrElse(labelRounds(edges, maxIter, resumePath, pruneRounds))
  }

  /** [[connectedComponents]] by label rounds whatever the edge count: the
    * path ScaleOp times and the tests hold the driver path to. */
  private[graft] def connectedComponentsByRounds(pairs: DataFrame): DataFrame =
    labelRounds(edgeList(pairs), maxIter = 20, resumePath = None, pruneRounds = true)

  /** The undirected edge list, both directions, distinct, pinned. */
  private def edgeList(pairs: DataFrame): Pinned =
    pin(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct(), "Dedup.connectedComponents edges")

  /** Components of the pinned edges on the driver: one collect, then a
    * union-find whose merges keep the smaller root, so every set is rooted
    * at its smallest id. None for ids that are not longs, or null: the
    * rounds define those. */
  private def componentsOnDriver(edges: Pinned): Option[DataFrame] =
    if (!edges.df.schema.forall(_.dataType == LongType)) None
    else {
      val spark = edges.df.sparkSession
      val es = shims.withCallSite(spark.sparkContext, "Dedup.connectedComponents collect") {
        edges.df.queryExecution.toRdd
          .map(r => if (r.anyNull) null else (r.getLong(0), r.getLong(1))).collect()
      }
      Option.when(!es.contains(null)) {
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(v: Long): Long = {
          var root = parent.getOrElseUpdate(v, v)
          while (parent(root) != root) root = parent(root)
          var x = v
          while (x != root) { val up = parent(x); parent(x) = root; x = up }
          root
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        val rows = parent.keys.toArray.map(v => Row(v, find(v)))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          new StructType().add("id", LongType).add("component", LongType))
      }
    }

  private def labelRounds(edges: Pinned, maxIter: Int, resumePath: Option[String],
                          pruneRounds: Boolean): DataFrame = {
    val spark = edges.df.sparkSession
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "connectedComponents: no spark checkpoint dir configured; falling " +
          "back to localCheckpoint (NOT fault-tolerant — executor loss fails " +
          "the job). Call sc.setCheckpointDir on a shared filesystem.")

    def roundDir(i: Int) = resumePath.map(p => s"$p/round_$i")
    // strict name match: a stray non-conforming entry (round_3_tmp from
    // tooling or manual inspection) must be ignored, not crash the restart
    val RoundName = "round_(\\d+)".r
    def latestCompleteRound(): Option[Int] = resumePath.flatMap { p =>
      val base = new org.apache.hadoop.fs.Path(p)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(base)) None
      else fs.listStatus(base).toSeq
        .map(_.getPath.getName)
        .collect { case RoundName(d) => d.toInt }
        .filter(i => fs.exists(new org.apache.hadoop.fs.Path(s"$p/round_$i/_SUCCESS")))
        .sorted.lastOption
    }
    // persist-or-pin one round of labels, returning it with the exact sum
    // of its component column (the convergence check below). With a
    // resumePath the parquet round table IS the pin (a fresh scan re-roots
    // the plan exactly like checkpoint does, and survives the job), and
    // its sum is one single-column scan of that table; otherwise the sum
    // comes from the pin's own job. With `pruneRounds` (default)
    // rounds older than the two most recent are deleted after each
    // successful write — resume only ever needs the LATEST complete round,
    // and an O(log diameter) run would otherwise leave O(iterations)
    // copies of the label table behind; pass false to keep the full audit
    // trail
    def pinRound(df: DataFrame, i: Int): (DataFrame, java.math.BigInteger) = roundDir(i) match {
      case Some(d) =>
        df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
        if (pruneRounds && i >= 2) {
          val old = new org.apache.hadoop.fs.Path(roundDir(i - 2).get)
          val fs = old.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(old)) fs.delete(old, true)
        }
        val round = spark.read.parquet(d)
        (round, labelSum(round))
      case None =>
        val p = pin(df, s"Dedup.connectedComponents round $i", sumCol = Some("component"))
        (p.df, p.sum)
    }
    // decimal(38,0) keeps the sum exact at any scale (|id| < 2^63 has 19
    // digits; 10^12 rows leave 38-digit headroom) where a long SUM would
    // overflow under ANSI mode
    def labelSum(df: DataFrame): java.math.BigInteger =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0))
        .fold(java.math.BigInteger.ZERO)(_.toBigIntegerExact)

    val resumed = latestCompleteRound()
    // edge-set fingerprint guard (see scaladoc): count + XOR of per-edge
    // 64-bit hashes — order-independent, overflow-free (XOR, not SUM —
    // Spark 4 runs ANSI mode where a long SUM over billions of hash values
    // would throw), and collision-safe here because `edges` is distinct so
    // no pair can self-cancel. One cheap aggregation over the pinned edges.
    resumePath.foreach { p =>
      val fpDir = s"$p/edges_fingerprint"
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fp = edges.df.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("x")).head()
      val (n, x) = (fp.getLong(0), fp.getLong(1))
      if (resumed.isDefined) {
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$fpDir/_SUCCESS")))
          throw new IllegalStateException(
            s"connectedComponents: resume directory $p contains label rounds " +
              "but no edge-set fingerprint — a pre-upgrade or hand-edited " +
              "directory cannot be trusted to match this input; clear it to " +
              "restart from scratch")
        val old = spark.read.parquet(fpDir).head()
        if (old.getAs[Long]("n") != n || old.getAs[Long]("x") != x)
          throw new IllegalStateException(
            s"connectedComponents: resume directory $p was written for a " +
              s"DIFFERENT edge set (stored count=${old.getAs[Long]("n")} " +
              s"xor=${old.getAs[Long]("x")}, current count=$n xor=$x) — " +
              "resuming would silently drop components; clear the directory " +
              "(or point resumePath elsewhere) to restart from scratch")
      } else {
        spark.createDataFrame(Seq((n, x))).toDF("n", "x")
          .coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(fpDir)
      }
    }
    // Convergence check WITHOUT a join or a job: labels are componentwise
    // NON-INCREASING round over round (the min-agg includes the vertex's
    // own label; the pointer jump contracts because component <= id for
    // every label row), so the label vector changed iff its exact sum
    // changed — and each round's pin tallies that sum in the job that
    // writes the round. Round 0 is the identity labelling, never
    // materialized: round 1 comes straight from the edges, and it equals
    // round 0 only when there are no edges (any edge lowers its larger
    // endpoint's label). A resumed run takes the sum of the round it
    // loads.
    var (labels, prevSum) = resumed match {
      case Some(i) =>
        val round = spark.read.parquet(roundDir(i).get)
        (round, Option(labelSum(round)))
      case None => // the identity labelling, returned as-is only when maxIter <= 0
        (edges.df.select(col("src").as("id")).distinct().withColumn("component", col("id")),
          Option.empty[java.math.BigInteger])
    }
    var iter = resumed.getOrElse(0)
    var converged = false
    while (iter < maxIter && !converged) {
      // candidate label per vertex = min(own, neighbors' components); from
      // the identity labelling that is least(src, min(dst)) per edge source
      val afterMin =
        if (prevSum.isEmpty)
          edges.df.groupBy(col("src"))
            .agg(least(col("src"), min(col("dst"))).as("component"))
            .withColumnRenamed("src", "id")
        else
          labels.unionByName(edges.df
              .join(labels.withColumnRenamed("id", "dst"), "dst")
              .select(col("src").as("id"), col("component")))
            .groupBy(col("id")).agg(min(col("component")).as("component"))
      // pointer jump: component := component's component (labels only ever
      // decrease and component <= id, so the jump is always a contraction)
      val (next, nextSum) = pinRound(afterMin.as("a")
        .join(afterMin.select(col("id").as("component"), col("component").as("cc")),
          Seq("component"), "left")
        .select(col("id"), coalesce(col("cc"), col("component")).as("component")),
        iter + 1)
      converged = prevSum.fold(edges.rows == 0L)(_ == nextSum)
      labels = next
      prevSum = Some(nextSum)
      iter += 1
    }
    labels
  }

  /** Keep one survivor (the smallest id) per near-duplicate cluster: docs
    * that appear in no pair survive untouched; clustered docs keep only
    * their component representative. */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Keep the BEST doc per near-duplicate cluster instead of the smallest
    * id: within each connected component the survivor maximizes
    * `qualityCol` (ties broken toward the smallest id, so selection is
    * total and deterministic). This is what production dedup actually
    * wants — a near-dup cluster usually contains one clean original and
    * N mirror/boilerplate-wrapped copies, and [[dropNearDuplicates]]'s
    * min-id rule keeps whichever got crawled first, not whichever is
    * best (RefinedWeb keeps by length; Dolma by quality score — same
    * shape, pluggable column here).
    *
    * Plan shape: components come from [[connectedComponents]] (a driver
    * union-find for a small edge list, else O(log d) equi-join rounds);
    * the winner per component is ONE `max_by`-style
    * aggregation over struct ordering (no window, no sort — a window
    * rank over components would globally sort what an agg can fold), and
    * the survivor filter is a semi-join on the doc id. Docs in no pair
    * survive untouched. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame,
                         qualityCol: String, idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val q = docs.select(col(idCol).as("id"), col(qualityCol).as("q"))
    // negate the id inside the max-struct so the lexicographic max is
    // (highest quality, then LOWEST id) — deterministic without a window
    val winners = comps.join(q, Seq("id"))
      .groupBy(col("component"))
      .agg(max(struct(col("q"), (-col("id")).as("nid"))).as("w"))
      .select((-col("w.nid")).as(idCol))
    val losers = comps.join(winners.withColumnRenamed(idCol, "keep_id"),
        col("id") === col("keep_id"), "left_anti")
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Contiguous band layout (bit offset, width) covering the 64-bit
    * signature with enough bands for the pigeonhole guarantee at
    * `maxHamming`: nBands >= maxHamming + 1, so flipping maxHamming bits can
    * touch at most maxHamming bands and at least one band survives intact.
    * Wider bands = exponentially fewer random key collisions, so use the
    * fewest bands the guarantee allows: 4x16 bits (h<=3), 8x8 (h<=7), and
    * h+1 variable-width bands for h in [8,15] (the widths differ by at most
    * one bit; e.g. h=10 -> 9 bands of 6 bits + 2 of 5). */
  private[operators] def simhashBandLayout(maxHamming: Int): Seq[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"simhash banding supports maxHamming in [0, 15], got $maxHamming: " +
        "beyond 15 the bands narrow under 4 bits and candidate volume " +
        "approaches brute force — use minhashLshPairs for similarity radii")
    val nBands = if (maxHamming <= 3) 4 else if (maxHamming <= 7) 8 else maxHamming + 1
    val base = 64 / nBands
    val rem = 64 % nBands
    val widths = Seq.tabulate(nBands)(i => if (i < rem) base + 1 else base)
    widths.scanLeft(0)(_ + _).init.zip(widths)
  }

  /**
   * SimHash near-dup pairs with Hamming distance <= maxHamming (in
   * [0, 15]): 64-bit fingerprint, banded blocking, exact bit_count
   * verification. The band count always covers the requested radius
   * ([[simhashBandLayout]]: nBands >= maxHamming + 1), so the pigeonhole
   * completeness guarantee — every qualifying pair shares at least one
   * whole band and is therefore a candidate — holds at EVERY supported
   * radius, not just small ones. Candidates come from one equi-join on
   * (band, key); emitted pairs are exact (verified by bit_count).
   *
   * Cost grows with the radius: narrower bands collide more
   * (2^-width per band pair), so h in [8, 15] is meaningfully more
   * expensive than h <= 7 on large corpora — that is intrinsic to exact
   * wide-radius Hamming search, not a plan artifact. Radii beyond 15 are
   * rejected ([[simhashBandLayout]]).
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashPairsFromSigs(
      widen(docs).select(col(idCol).as("id"), simhash64(col(textCol)).as("sig")), maxHamming)

  /** As [[simhashPairs]] but over precomputed 64-bit signatures — the entry
    * point for callers that persist a signature table (one simhash pass,
    * many radius queries) and for guarantee tests that plant exact
    * bit-flip twins. */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int,
                           idCol: String = "id", sigCol: String = "sig"): DataFrame = {
    val layout = simhashBandLayout(maxHamming)
    val s = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val bandCols = layout.zipWithIndex.map { case ((off, w), b) =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), off).bitwiseAND(lit((1L << w) - 1)).as("key"))
    }
    // round-robin repartition before the self-join: a pinned/coalesced
    // signature table would make the join's (large) pair emission run in
    // as few tasks as the input has partitions — spreading the streamed
    // side parallelizes emission regardless of hot band keys
    val blocks = s.select(col("id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.key").as("key"))
      .repartition(s.sparkSession.sparkContext.defaultParallelism)

    blocks.as("a").join(blocks.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // verify BEFORE dedup: bit_count is a codegen'd scalar, so filtering
      // the (large) multi-band candidate stream first means the distinct's
      // shuffle carries only true pairs, not every banded collision
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
