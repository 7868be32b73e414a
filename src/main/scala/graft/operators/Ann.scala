package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 *  - bruteForceTopK: exact cosine top-k — the correctness baseline. The dot
 *    product is `aggregate(zip_with(...))` (builtin, codegen'd); the join is
 *    a broadcast of the (small) query set against the (huge) corpus, so the
 *    corpus is scanned once with no shuffle of the vectors themselves.
 *  - lshTopK: random-hyperplane LSH (sign sketches) — the scale path. Bucket
 *    join on multi-table signatures, exact cosine re-rank of candidates
 *    only. Hyperplanes are deterministic (hash-derived gaussians), so the
 *    index is reproducible with no stored model.
 */
object Ann {

  /** cosine(a, b) over array<float>/array<double> columns, computed in
    * double by a codegen'd tight loop (graft.functions.CosineSim — the
    * zip_with/aggregate formulation is CodegenFallback and measured ~20x
    * slower on million-pair candidate sets). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      graft.functions.CosineSim(
        org.apache.spark.sql.graftshim.shims.expression(a),
        org.apache.spark.sql.graftshim.shims.expression(b)))

  /** Fail-fast guard on the query-batch contract: brute-force and ADC
    * top-k embed the query side driver-side (collect or broadcast), so a
    * caller passing a whole corpus as `queries` must get an actionable
    * error, not a driver OOM — the same philosophy as Packing's
    * `maxBucketRows`. The check itself is bounded: it looks at most
    * `maxQueries + 1` rows via a pushed-down limit. */
  private[operators] def requireQueryBatch(queries: DataFrame, maxQueries: Int): Unit = {
    require(maxQueries > 0, "maxQueries must be > 0")
    val n = queries.limit(maxQueries + 1).count()
    require(n <= maxQueries,
      s"query batch has > $maxQueries rows — this top-k embeds the query side " +
        "on the driver; batch your queries (or raise maxQueries if you have " +
        "the driver memory for it)")
  }

  /**
   * Exact top-k neighbors for each query id. `queries` must be small enough
   * to broadcast (it is the user's query batch — enforced by `maxQueries`);
   * the corpus side never shuffles — one scan, one broadcast-nested-loop,
   * then a per-query top-k window over (query, corpus-partition) partial
   * results.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     maxQueries: Int = 65536): DataFrame = {
    requireQueryBatch(queries, maxQueries)
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_vec"), col("nn_vec")))
    topKPerQuery(scored, k)
  }

  /** Exact top-k per query ([[Plans.topPerGroup]]): a single per-query
    * window would funnel the whole scored corpus into #queries partitions. */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    Plans.topPerGroup(scored, Seq(col("query_id")), Seq(col("cos").desc, col("nn_id").asc), lit(k))
      .select(col("query_id"), col("nn_id"), col("__rank").as("rank"), col("cos"))

  /** Signature column: `planes`-bit sign sketch under the deterministic
    * hyperplane table (single codegen'd expression; the per-element
    * element_at formulation built a ~4000-node expression tree whose
    * compilation dominated runtime). */
  def lshSignature(vec: Column, dims: Int, planes: Int, table: Int): Column =
    org.apache.spark.sql.graftshim.shims.column(
      graft.functions.LshSig(
        org.apache.spark.sql.graftshim.shims.expression(vec), planes, table))

  /**
   * LSH ANN: `tables` independent sign-sketch tables of `planes` bits.
   * Candidates = ids sharing any (table, signature) bucket with the query;
   * exact cosine re-ranks candidates. Recall grows with `tables`, bucket
   * size shrinks with `planes` — at web scale the bucket join replaces the
   * full cross product (the only corpus-wide work is computing signatures,
   * one scan, no shuffle of vectors).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
              planes: Int = 12, tables: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def withSigs(df: DataFrame, id: String, vec: String): DataFrame = {
      val sigCols = (0 until tables).map { t =>
        struct(lit(t).as("tbl"), lshSignature(col(vec), dims, planes, t).as("sig"))
      }
      df.select(col(id), col(vec), explode(array(sigCols: _*)).as("s"))
        .select(col(id), col(vec), col("s.tbl").as("tbl"), col("s.sig").as("sig"))
    }
    val cSig = withSigs(corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec")), "nn_id", "nn_vec")
    val qSig = withSigs(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")), "query_id", "q_vec")

    val candidates = cSig.join(broadcast(qSig), Seq("tbl", "sig"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("q_vec"), col("nn_id"), col("nn_vec"))
      .dropDuplicates("query_id", "nn_id")

    topKPerQuery(candidates.withColumn("cos", cosine(col("q_vec"), col("nn_vec"))), k)
  }

  /**
   * EXACT embedding near-duplicate pairs: all (a<b) with cosine >= minCos,
   * as a cluster-pruned block similarity join (no BroadcastNestedLoopJoin,
   * no all-pairs cartesian in the plan).
   *
   * Scheme (ball pruning on the unit sphere — angular distance
   * theta = arccos(cos) is a metric, so the triangle inequality is exact):
   *  1. k deterministic k-means centroids (Ivf.train); every vector is
   *     assigned to its nearest centroid => `blocks` partitions of the
   *     corpus; one extra column per row (block id + cos to centroid).
   *  2. per-block angular radius r_i = max theta(vec, centroid_i) from one
   *     tiny agg (k rows to the driver).
   *  3. block-pair grid: (i, j), i <= j survives iff
   *     theta(c_i, c_j) - r_i - r_j <= arccos(minCos) + eps — any qualifying
   *     pair in a pruned cell would violate the triangle inequality.
   *  4. candidates via two hash equi-joins against the (tiny, broadcast)
   *     grid; exact cosine verifies every candidate.
   *
   * Exactness holds for ANY data. Pruning power is data-dependent: clustered
   * corpora (the realistic near-dup case) drop most cells; adversarially
   * uniform data degrades to a well-partitioned block-matrix join — still
   * shuffle-parallel over the surviving cells rather than a single
   * driver-broadcast nested loop. `blocks` trades pruning granularity
   * against per-cell parallelism (cells are the shuffle key; use more blocks
   * on bigger corpora: work per cell ~ (n/blocks)^2).
   */
  def cosineNearDupPairs(embs: DataFrame, minCos: Double, dims: Int,
                         blocks: Int = 16, kmeansIters: Int = 2,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(minCos > -1.0 && minCos <= 1.0, "minCos must be in (-1, 1]")
    val spark = embs.sparkSession
    import org.apache.spark.sql.graftshim.shims.{column, expression}
    def clampAcos(x: Double): Double = math.acos(math.max(-1.0, math.min(1.0, x)))

    val centroids = Ivf.train(embs, blocks, kmeansIters, idCol, vecCol)
    // pinned: the radii collect and both join sides read it, and Catalyst
    // would re-expand the centroid assignment at each of the three
    val base = Plans.pin(embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("block", element_at(Ivf.nearestCentroids(col("vec"), centroids, 1), 1))
      .withColumn("ccos", column(graft.functions.CentroidCos(
        expression(col("vec")), expression(col("block")), centroids))),
      "Ann.cosineNearDupPairs base").df

    // per-block max angle to centroid (k rows — bounded by `blocks`)
    val radii = base.groupBy(col("block")).agg(min(col("ccos")).as("min_cos"))
      .collect().map(r => r.getAs[Int]("block") -> clampAcos(r.getAs[Double]("min_cos")))
      .toMap

    val thetaTau = clampAcos(minCos)
    val grid = for {
      i <- radii.keys.toSeq.sorted
      j <- radii.keys.toSeq.sorted if i <= j
      lb = clampAcos(graft.core.vector.VectorOps.cosineD(centroids(i), centroids(j))) -
        radii(i) - radii(j)
      if lb <= thetaTau + 1e-6
    } yield (i, j)
    val gridDf = spark.createDataFrame(grid).toDF("bi", "bj")

    val a = base.select(col("id").as("id_a"), col("vec").as("vec_a"), col("block").as("bi"))
    val b = base.select(col("id").as("id_b"), col("vec").as("vec_b"), col("block").as("block_b"))
    a.join(broadcast(gridDf), Seq("bi"))
      .join(b, col("bj") === col("block_b") &&
        (col("bi") =!= col("block_b") || col("id_a") < col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Approximate near-dup pairs via single-table sign-LSH blocking + exact
    * cosine verification: no false positives by construction; recall is the
    * usual sign-sketch bound P(same sig) = (1 - theta/pi)^planes. The scale
    * path when exactness of the PAIR LIST is not required. */
  def cosineNearDupPairsApprox(embs: DataFrame, minCos: Double, dims: Int,
                               planes: Int = 12,
                               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val sig = base.withColumn("sig", lshSignature(col("vec"), dims, planes, 0))
    sig.as("a").join(sig.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
