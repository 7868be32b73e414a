package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/**
 * Deterministic sampling for training-data pipelines. Random sampling
 * (`df.sample`) is partitioning-dependent and irreproducible across
 * clusters; every operator here derives its decisions from xxh3 of a key
 * column, so the SAME rows are chosen on any cluster, any partitioning,
 * any day — the property that makes dataset ablations and incremental
 * re-runs comparable.
 *
 * Contract: `keyCol` should uniquely identify rows. NULL keys hash as one
 * sentinel value (they are mutually indistinguishable), and rows that tie
 * on (hash, key) — only possible with duplicate keys — are ordered
 * arbitrarily at a quota boundary.
 */
object Sampling {

  /** Unambiguous key encoding: a one-char discriminator ("v"alue / "n"ull)
    * precedes the key, so a NULL can never collide with a real key of any
    * string value (an in-band sentinel like " null" could). */
  private def keyEnc(keyCol: String): Column =
    coalesce(concat(lit("v"), col(keyCol).cast("string")), lit("n"))

  private def keyHash(keyCol: String): Column = xxh3_64(keyEnc(keyCol))

  /** Keep ~`fraction` of rows: those whose salted key hash lands in the
    * bottom `fraction` of a fixed modulus. One codegen'd filter, no
    * shuffle, pushdown-friendly; the salt picks independent samples.
    * NULL keys are indistinguishable, so they hash as one sentinel value
    * (all kept or all dropped together) rather than silently vanishing. */
  def byHash(df: DataFrame, fraction: Double, keyCol: String = "doc_id",
             salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    val m = 1000000000L
    // length-prefix the salt so the (salt, key) boundary is unambiguous:
    // raw concatenation would make (key="a#b", salt="") and (key="a",
    // salt="b") hash identically — two samples claimed independent could
    // silently correlate
    df.filter(pmod(xxh3_64(concat(lit(s"${salt.length}:$salt#"), keyEnc(keyCol))), lit(m))
      < lit((fraction * m).round))
  }

  /** Keep each stratum's rows of rank <= `__quota` (a column the caller
    * attaches) in hashed-key order, through the two-phase
    * [[Plans.topPerGroup]]: no stratum funnels its full row set through one
    * reducer. */
  private def takeByQuota(withQuota: DataFrame, strataCol: String,
                          keyCol: String, originalCols: Seq[String]): DataFrame =
    takeByQuotaOrdered(withQuota, strataCol, keyCol, originalCols,
      keyHash(keyCol))

  /** [[takeByQuota]] with a caller-chosen selection order: keep each
    * stratum's rows of smallest `orderCol` (ties by key) up to
    * `__quota`. The hashed-order samplers pass the key hash; the weighted
    * sampler passes its exponential-variate key. */
  private def takeByQuotaOrdered(withQuota: DataFrame, strataCol: String,
                                 keyCol: String, originalCols: Seq[String],
                                 orderCol: Column): DataFrame =
    Plans.topPerGroup(withQuota.withColumn("__h", orderCol), Seq(col(strataCol)),
        Seq(col("__h").asc, col(keyCol).asc_nulls_first), col("__quota"))
      .select(originalCols.map(col).toIndexedSeq: _*) // original column order

  /** Keep at most `maxRows` rows per stratum, chosen deterministically by
    * hashed-key order — the crawl-pipeline "per-domain cap" (a handful of
    * giant hosts otherwise dominate a training mix). Strata under the cap
    * pass through untouched; reproducible on any partitioning (see the
    * unique-key contract above). */
  def capPerStratum(df: DataFrame, strataCol: String, maxRows: Int,
                    keyCol: String = "doc_id"): DataFrame = {
    require(maxRows >= 0, "maxRows must be >= 0")
    takeByQuota(df.withColumn("__quota", lit(maxRows.toLong)),
      strataCol, keyCol, df.columns.toIndexedSeq)
  }

  /**
   * Sample to a TARGET MIX — the "language/domain balancing" step of a
   * training-data pipeline: returns the LARGEST deterministic sample whose
   * stratum proportions match `targets` (weights over stratum string
   * values; they need not sum to 1 — they are normalized by use). The
   * feasible size is N = min over targeted strata of
   * floor(count_s / p_s); each stratum keeps exactly floor(p_s * N) rows
   * (so quotas never exceed availability), chosen by the same hashed-key
   * order as every sampler here — reproducible on any partitioning. Rows
   * whose stratum is absent from `targets` (or NULL) are excluded: a mix
   * is a whitelist. A targeted stratum with no rows makes N = 0 (an
   * impossible mix yields the empty, not a skewed, sample).
   *
   * Scale shape: one count aggregation collects #targets rows to the
   * driver for the N arithmetic; quotas broadcast back; selection is the
   * shared two-phase top-k. Nothing corpus-sized moves.
   */
  def toDistribution(df: DataFrame, strataCol: String, targets: Map[String, Double],
                     keyCol: String = "doc_id"): DataFrame = {
    require(targets.nonEmpty, "targets must not be empty")
    require(targets.values.forall(p => p > 0.0 && p.isFinite),
      "every target weight must be positive and finite")
    val total = targets.values.sum
    val norm = targets.view.mapValues(_ / total).toMap
    val sCol = col(strataCol).cast("string")
    val inTarget = df.filter(sCol.isNotNull && sCol.isInCollection(norm.keys.toSeq))
    val counts = inTarget.groupBy(sCol.as("__stratum"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // epsilon-guarded floors: clean decimal targets hit exact integers in
    // real arithmetic but land just below them in doubles (0.29 * 100 =
    // 28.999...96), and a bare floor would silently under-sample a stratum
    val n = norm.map { case (s, p) =>
      math.floor(counts.getOrElse(s, 0L) / p + 1e-9).toLong
    }.min
    val quotas = norm.map { case (s, p) => (s, math.floor(p * n + 1e-9).toLong) }
    val spark = df.sparkSession
    import spark.implicits._
    val quotaDf = quotas.toSeq.toDF("__stratum", "__quota")
    val withQuota = inTarget.join(broadcast(quotaDf), sCol === col("__stratum"))
      .drop("__stratum")
    takeByQuota(withQuota, strataCol, keyCol, df.columns.toIndexedSeq)
  }

  /**
   * Resample every targeted stratum to an EXACT row count, deterministic —
   * the REPLICATION half of mix balancing ([[toDistribution]] can only
   * shrink to the largest feasible mix; real training mixes UPSAMPLE
   * low-resource strata, i.e. run multiple epochs over the same documents,
   * as in published multilingual/temperature-weighted mixes). A stratum
   * with c rows and target T emits floor(T/c) copies of EVERY row plus one
   * extra copy for the (T mod c) rows chosen by the engine's hashed-key
   * order — totals are exactly T, every row appears floor(T/c) or
   * ceil(T/c) times (maximally even), and T < c degrades to the same
   * deterministic top-T downsample the other samplers use. The output adds
   * an `epoch` column (0-based copy index) so downstream shuffles can
   * interleave epochs instead of emitting a doc's copies back-to-back.
   * Strata absent from `targets` (or NULL) are dropped — a mix is a
   * whitelist; a positive target for an EMPTY stratum fails fast (rows
   * cannot be manufactured).
   *
   * Scale shape: one count aggregation (#targets rows to the driver),
   * quotas broadcast back, the extra-copy selection is the shared
   * two-phase top-k (NO global per-stratum rank — a window rank over a
   * hot stratum would serialize into one task), and replication is a
   * row-local sequence explode whose output size is exactly the requested
   * sum of targets.
   */
  def resampleToCounts(df: DataFrame, strataCol: String, targets: Map[String, Long],
                       keyCol: String = "doc_id", maxEpochs: Long = 10000L): DataFrame = {
    require(targets.nonEmpty, "targets must not be empty")
    require(targets.values.forall(_ >= 0L), "targets must be >= 0")
    val sCol = col(strataCol).cast("string")
    val inT = df.filter(sCol.isNotNull && sCol.isInCollection(targets.keys.toSeq))
    val counts = inT.groupBy(sCol.as("__s")).agg(count(lit(1)).as("__c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    targets.foreach { case (s, t) =>
      require(t == 0L || counts.getOrElse(s, 0L) > 0L,
        s"resampleToCounts: stratum '$s' has no rows but a target of $t — " +
          "rows cannot be manufactured; drop it from the mix or fix the corpus")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val plan = targets.toSeq.map { case (s, t) =>
      val c = counts.getOrElse(s, 0L)
      // fail-fast sanity cap (maxEpochs; 0 = opt out): each row's copies
      // materialize as one sequence array, and a target implying e.g.
      // 500000 epochs of a tiny stratum is a misconfigured mix, not a
      // plan — better an actionable error than an executor OOM
      if (c > 0 && maxEpochs > 0)
        require(t / c <= maxEpochs,
          s"resampleToCounts: stratum '$s' target $t over $c rows implies " +
            s"${t / c} epochs, over maxEpochs=$maxEpochs — raise/disable the " +
            "cap if this extreme upsampling is intended")
      (s, if (c == 0) 0L else t / c, if (c == 0) 0L else t % c)
    }
    val quotaDf = plan.toDF("__stratum", "__base", "__quota")
    // pinned: referenced by the extras branch AND the flagged join below
    // (plus the counts action above) — Catalyst re-expands referenced
    // subtrees, so unpinned this would scan the corpus three times
    val withQuota = Plans.pin(inT.join(broadcast(quotaDf), sCol === col("__stratum"))
      .drop("__stratum"), "Sampling.resampleToCounts quotas").df
    // the (T mod c) extra-copy rows, selected by the shared two-phase top-k
    val extras = takeByQuota(
        withQuota.drop("__base"), strataCol, keyCol, df.columns.toIndexedSeq :+ "__quota")
      .drop("__quota")
      // explicit marker: a NULL-key row (legitimate per the module
      // contract) selected as an extra must still flag — testing the
      // joined key's nullness would silently drop its copy
      .select(col(strataCol).as("__xs"), col(keyCol).as("__xk"),
        lit(1L).as("__xflag"))
    val flagged = withQuota.join(extras,
        sCol === col("__xs").cast("string") && col(keyCol) <=> col("__xk"), "left")
      .withColumn("__copies",
        col("__base") + coalesce(col("__xflag"), lit(0L)))
      .filter(col("__copies") >= 1L)
    flagged
      .select(df.columns.map(col).toIndexedSeq :+
        explode(sequence(lit(0L), col("__copies") - 1L)).as("epoch"): _*)
  }

  /**
   * EXACT per-stratum quotas, deterministic: each stratum keeps its
   * ceil(fraction * |stratum|) smallest rows by hashed-key order (a stable
   * pseudo-random order — so the quota is met exactly AND the chosen rows
   * are reproducible).
   *
   * Scale shape: quotas are one count aggregation (#strata rows,
   * broadcast, null-safe join — a NULL stratum is a legitimate group);
   * selection is the two-phase top-k used everywhere in this engine.
   */
  def stratified(df: DataFrame, strataCol: String, fraction: Double,
                 keyCol: String = "doc_id"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    val quotas = df.groupBy(col(strataCol).as("__stratum"))
      .agg(ceil(count(lit(1)) * fraction).cast("long").as("__quota"))
    val withQuota = df.join(broadcast(quotas), col(strataCol) <=> col("__stratum"))
      .drop("__stratum")
    takeByQuota(withQuota, strataCol, keyCol, df.columns.toIndexedSeq)
  }

  /**
   * Weighted sampling WITHOUT replacement, deterministic: per stratum,
   * keep k rows where each row's selection probability scales with its
   * weight — the Efraimidis-Spirakis A-ES scheme (Efraimidis & Spirakis
   * 2006): rank by u^(1/w) descending, keep the top k. Here u is not
   * random but HASH-DERIVED ((xxh3(salt, key) >>> 11) + 1) / 2^53, in
   * (0, 1]) — the engine's reproducibility contract: the same rows win on
   * any cluster, any partitioning; `salt` picks independent samples (the
   * statistical guarantee holds over salts/keys, as with [[byHash]]).
   *
   * Implemented as rank by -ln(u)/w ascending (monotone-equivalent to
   * u^(1/w) descending, one transcendental per row) on the shared
   * two-phase top-k — nothing stratum-sized funnels through one reducer.
   * Rows with NULL, zero or negative weight are never sampled. With
   * k >= |stratum| every positive-weight row is kept.
   *
   * The classic use: quality-weighted subcorpus selection (keep k docs
   * per language, preferring high quality-score docs but never
   * deterministically excluding the tail — exactly what a hard
   * sort-by-score cutoff gets wrong).
   */
  def weightedPerStratum(df: DataFrame, strataCol: String, weightCol: String,
                         k: Int, keyCol: String = "doc_id",
                         salt: String = ""): DataFrame = {
    require(k >= 0, "k must be >= 0")
    // NaN compares greater than every numeric in Spark's total order, so
    // `> 0` alone would admit NaN weights; a NaN is not a positive weight
    val eligible = df.filter(col(weightCol).isNotNull &&
      !isnan(col(weightCol).cast("double")) && col(weightCol) > 0)
    // u in (0, 1]: top 53 bits of the salted key hash, +1 so ln(u) is finite
    val u = (shiftrightunsigned(
      xxh3_64(concat(lit(s"${salt.length}:$salt#"), keyEnc(keyCol))), 11) + 1)
      .cast("double") / lit(9007199254740992.0) // 2^53
    val esKey = -log(u) / col(weightCol).cast("double")
    takeByQuotaOrdered(eligible.withColumn("__quota", lit(k.toLong)),
      strataCol, keyCol, df.columns.toIndexedSeq, esKey)
  }
}
