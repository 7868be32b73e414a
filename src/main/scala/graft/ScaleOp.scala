package graft
import org.apache.spark.sql.functions._

/** Dev utility: two-parallelism scaling evidence for a HEAVY operator (the
  * north-rule criterion applied beyond the sketch build):
  * `runMain graft.ScaleOp [op] <cores> <nDocs>` runs the chosen operator —
  * `minhash_lsh` (default: signatures + band join + exact verification),
  * `sparse_cosine` (tf vectors + L2AP prefix join + exact dot, the engine's
  * heaviest gate) or `connected_components` (iterative label propagation:
  * per-round join + min-agg + pointer jump + reliable checkpoint — the
  * shape a 100-TB dedup job spends its clustering time in; input is a
  * deterministic edge list of 32-vertex chains, so every run does ~5
  * pointer-jumping rounds; each rep also times the public
  * `Dedup.connectedComponents`, which labels an edge list under the driver
  * caps on the driver, and the JSON names the path it took) — over a
  * deterministic synthetic corpus with
  * planted near-dups and prints docs/sec. Results recorded in BASELINE.md;
  * not part of the driver contract. */
object ScaleOp {
  def main(args: Array[String]): Unit = {
    val (op, rest) =
      if (args.nonEmpty && args(0).forall(_.isDigit)) ("minhash_lsh", args)
      else (args(0), args.drop(1))
    val cores = rest(0).toInt
    val nDocs = if (rest.length > 1) rest(1).toLong else 300000L
    // SCALEOP_PARTS fixes shuffle.partitions across both cluster sizes
    // (default: = cores). A real N->4N cluster comparison keeps the SAME
    // job configuration and only adds executors; tying partitions to cores
    // changes plan shape AND shuffle compression layout between the two
    // measurement points (measured: the candidates+arrays shuffle wrote
    // 1.44GB at 4 partitions vs 3.03GB at 16 — consecutive same-doc rows
    // split across more buckets compress worse), conflating partitioning
    // effects with compute scaling.
    val parts = sys.env.getOrElse("SCALEOP_PARTS", cores.toString)
    val spark = GraftSession.local(cores, tmpfs = true)
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    // checkpoint dir on tmpfs too: connected_components reliably
    // checkpoints a label table per round, and disk-backed /tmp would make
    // the measurement I/O-bound at higher core counts
    GraftSession.tmpfsLocalDir().foreach { base =>
      val ckptBase = java.nio.file.Paths.get(base)
      java.nio.file.Files.createDirectories(ckptBase)
      GraftSession.setCheckpointDir(spark,
        java.nio.file.Files.createTempDirectory(ckptBase, "graft-ckpt").toFile)
    }
    import graft.functions.GraftFunctions._
    // ~24-token docs; every 10th doc is a near-copy of its predecessor
    // (first 23 tokens shared, last token unique), so the join has real
    // pairs to verify. minhash_lsh draws tokens from a per-doc-unique hash
    // space (candidates come only from band collisions); sparse_cosine
    // draws from a SHARED 30k-token vocabulary — with unique tokens no two
    // distinct docs share a feature and the prefix join would have nothing
    // to prune, which is not the regime the L2AP bound exists for
    val seed = when(pmod(col("id"), lit(10)) === 1, col("id") - 1).otherwise(col("id"))
    def tok(c: org.apache.spark.sql.Column) = op match {
      // lm_score shares the 30k vocabulary too: with per-doc-unique tokens
      // every bigram would miss the model and the scoring join would
      // degenerate to a null-probe — not the regime being measured
      case "sparse_cosine" | "lm_score" =>
        concat(lit("v"), pmod(xxh3_64(c), lit(30000)).cast("string"))
      case _ => format_string("%011x", pmod(xxh3_64(c), lit(1L << 42)))
    }
    val toks = (0 until 23).map(j => tok(concat(seed.cast("string"), lit(s"#$j")))) :+
      tok(concat(col("id").cast("string"), lit("#u")))
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", toks: _*).as("text"))
      .localCheckpoint() // generation cost excluded
    // connected_components input: chains of 32 vertices (i -- i+1 except
    // at chain boundaries) over nDocs vertices -> component diameter 32,
    // so every measured run performs the same ~5 pointer-jumping rounds
    // of join + min-agg + reliable checkpoint
    lazy val edges = spark.range(nDocs - 1)
      .filter(pmod(col("id"), lit(32)) =!= 31)
      .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
      .repartition(parts.toInt)
      .localCheckpoint() // generation cost excluded
    // pagerank input: nDocs directed edges over nDocs/16 hosts (sources
    // round-robin, destinations hashed -> realistic many-in-degree host
    // graph); every run performs the same 5 rank rounds of join + agg
    lazy val prEdges = {
      val hosts = math.max(nDocs / 16, 2L)
      spark.range(nDocs)
        .select(pmod(col("id"), lit(hosts)).as("src"),
          pmod(xxh3_64(col("id").cast("string")), lit(hosts)).as("dst"))
        .repartition(parts.toInt)
        .localCheckpoint() // generation cost excluded
    }
    // lm_score: the model is TRAINED once outside the timed loop (training
    // is one groupBy — the sketch-build shape already measured) and its
    // tables pinned; the measured work is the corpus-scale scoring join
    // (doc bigrams x model x contexts + per-doc agg), the path that runs
    // over all 100 TB in a CCNet-style pipeline
    lazy val lmModel = {
      val m = graft.operators.LangModel.train(base, n = 2, minCount = 2, k = 1.0)
      m.copy(ngrams = m.ngrams.localCheckpoint(),
        contexts = m.contexts.localCheckpoint())
    }
    // materialize the op's inputs BEFORE the timing loop: lazy vals would
    // otherwise charge model training / edge generation to rep 1 (the min
    // across reps hid it; per-rep output lied)
    op match {
      case "lm_score" => lmModel.ngrams.count(); lmModel.contexts.count()
      case "connected_components" => edges.count()
      case "pagerank" => prEdges.count()
      case _ => ()
    }
    def runOp(): Long = op match {
      case "minhash_lsh" => graft.operators.Dedup.minhashLshPairs(base,
        n = 3, numHashes = 32, bands = 8, minJaccard = 0.5).count()
      case "sparse_cosine" => graft.operators.Dedup.sparseCosinePairs(base,
        minCos = 0.8).count()
      case "connected_components" =>
        graft.operators.Dedup.connectedComponentsByRounds(edges).count()
      case "pagerank" =>
        // sum the ranks so the fixed-point arithmetic can't be pruned
        graft.operators.LinkGraph.pageRank(prEdges, iters = 5)
          .agg(sum(col("pr_micro"))).head().getLong(0)
      case "lm_score" =>
        // force the FULL computation: a bare count() would let column
        // pruning discard the probability math (and potentially the
        // model joins) — summing nll_bits keeps every stage live
        graft.operators.LangModel.scoreNll(base, lmModel)
          .agg(count(lit(1)).as("n"), sum(col("nll_bits")))
          .head().getLong(0)
      case other => sys.error(
        s"unknown op $other (minhash_lsh | sparse_cosine | " +
          "connected_components | lm_score | pagerank)")
    }
    // connected_components: the public entry on the same edges, timed in
    // the same reps (it takes the driver path when the edges fit)
    val cc = op == "connected_components"
    def publicCc(): Long = graft.operators.Dedup.connectedComponents(edges).count()
    def timed(r: Int, what: String, run: () => Long): Double = {
      val t0 = System.nanoTime()
      val pairs = run()
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scaleop] rep $r$what: $s%.2f s ($pairs pairs)")
      s
    }
    val reps = 3
    val times = (1 to reps).map { r =>
      (timed(r, "", () => runOp()), if (cc) timed(r, " public", () => publicCc()) else 0.0)
    }
    val secs = times.map(_._1).min
    // stage attribution from one more, untimed rep: the timed reps run
    // with no listener of ours, as the recorded scaling runs did
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    runOp()
    Thread.sleep(300) // listener bus drain
    System.err.println(s"[scaleop] stages of an untimed rep:\n${metrics.summary(10)}")
    val ccJson = if (!cc) "" else {
      metrics.clear()
      publicCc()
      Thread.sleep(300)
      val path =
        if (metrics.stageNames.contains("Dedup.connectedComponents collect")) "driver" else "rounds"
      f""","public_sec":${times.map(_._2).min}%.3f,"public_path":"$path%s""""
    }
    println(f"""{"op":"$op%s","cores":$cores,"docs":$nDocs,"sec":$secs%.3f,"docs_per_sec":${nDocs / secs}%.0f$ccJson%s}""")
    spark.stop()
  }
}
