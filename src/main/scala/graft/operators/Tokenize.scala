package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shims.{column, expression}
import graft.core.text.{Bpe, BpeModel}
import graft.functions.{BpeDecodeLit, BpeEncodeLit}
import graft.functions.GraftFunctions.fn

/** Corpus-trained byte-level BPE tokenization — the step that turns a
  * cleaned/dedup'd corpus into the token ids the packing operators
  * consume. See [[graft.core.text.Bpe]] for the algorithm and the
  * train-scale split: the corpus-sized pass is the segment-frequency
  * `groupBy` here; the merge loop runs driver-side over the bounded
  * segment-TYPE table (fastBPE/HF-tokenizers design). */
object Tokenize {

  /** Lossless GPT-2-style segmentation (space attaches to the FOLLOWING
    * segment): `array_join(textSegments(t), '') == t`. */
  def textSegments(c: Column): Column = fn("text_segments", c)
  def bpeEncode(c: Column, model: BpeModel): Column =
    column(BpeEncodeLit(expression(c), model))
  def bpeDecode(c: Column, model: BpeModel): Column =
    column(BpeDecodeLit(expression(c), model))

  /** Train a BPE vocab of `numMerges` merges on the corpus.
    *
    * `minCount` prunes segment types below the threshold BEFORE the
    * driver collect — at web scale the type table's long tail is
    * singleton noise (typos, ids, hashes) that classic BPE training
    * ignores anyway. `maxSegmentTypes` is the fail-fast bound on the
    * driver-side table (the [[Ann.requireQueryBatch]] convention:
    * an actionable error, not a driver OOM). */
  def trainBpe(docs: DataFrame, numMerges: Int, minCount: Long = 1L,
               minPairCount: Long = 2L, maxSegmentTypes: Int = 4_000_000,
               textCol: String = "text"): BpeModel = {
    require(numMerges >= 0, "numMerges must be >= 0")
    require(minCount >= 1 && maxSegmentTypes >= 1, "bounds must be >= 1")
    val types = docs
      .select(explode(textSegments(col(textCol))).as("seg"))
      .groupBy(col("seg")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    // ONE pass, bounded driver memory: collect at most cap+1 rows; the
    // limit caps what ever reaches the driver, so an over-cap corpus
    // costs an exception, not an OOM
    val rows = types.limit(maxSegmentTypes + 1).collect()
    if (rows.length > maxSegmentTypes)
      throw new IllegalArgumentException(
        s"trainBpe: > $maxSegmentTypes distinct segment types after " +
          s"minCount=$minCount pruning; raise minCount (web-scale type " +
          "tables are singleton-heavy) or maxSegmentTypes if the driver " +
          "has the memory for it")
    // deterministic driver-side order: the trainer's tie-break ignores
    // input order, but sorting makes the word table itself reproducible
    val typeCounts = rows.map { r =>
      (r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8), r.getLong(1))
    }.sortBy(t => new String(t._1, java.nio.charset.StandardCharsets.ISO_8859_1))
    Bpe.train(typeCounts.toSeq, numMerges, minPairCount)
  }

  /** Tokenize: adds `tokens array<int>` (and its length as `n_tokens`) —
    * one codegen'd projection, the whole-corpus path. */
  def tokenize(docs: DataFrame, model: BpeModel,
               textCol: String = "text"): DataFrame =
    docs.withColumn("tokens", bpeEncode(col(textCol), model))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
}
