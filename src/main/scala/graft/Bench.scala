package graft

/**
 * Benchmark main (driver contract): runs every SparkEntry query against
 * SPARK_GRAFT_SF_DIR, plus the headline BASELINE.json metric — pages/sec
 * sketch-build throughput of the magnitude pipeline over a 10^6-row
 * synthetic pages table (128 input splits, day-partitioned parquet).
 * Prints ONE JSON line:
 *   {"metric":"total","value":<cold sum sec>,"unit":"sec","queries":{...},
 *    "queries_warm":{...},"total_warm":N,"sf":"<dir>","cpus":N,
 *    "pages_per_sec":N,"sketch_build_sec":N}
 * `queries` is the rep-1 (cold) time per query; `queries_warm` the
 * best-of-SPARK_GRAFT_BENCH_REPS (default 2) steady-state time — compare
 * THOSE across rounds (cold single-shots on a noisy host have been ~6x
 * off; see BASELINE.md).
 *
 * Scaling protocol (BASELINE.md): run this main twice with
 * SPARK_GRAFT_CPUS=8 and =32 on the same SPARK_GRAFT_PAGES_DIR; efficiency
 * = (thr32/thr8)/4.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val pagesDir = sys.env.getOrElse("SPARK_GRAFT_PAGES_DIR", "/tmp/graft_pages_bench")
    val pagesN = sys.env.getOrElse("SPARK_GRAFT_PAGES_N", "1000000").toLong
    val spark = GraftSession.local(cpus, tmpfs = true)

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // session warmup so the first measured query isn't charged JVM/codegen
    // init — include a small parquet read so the columnar reader + codec
    // paths are JIT'd too (first-query compilation isn't steady-state)
    force(spark.range(1000).selectExpr("sum(id) AS s").toDF())
    try force(spark.read.parquet(s"$sfDir/region.parquet")
      .selectExpr("count(*) AS c"))
    catch { case _: Exception => () } // sf dir without region: skip warmup

    // best-of-reps = steady-state throughput (first rep pays JIT warmup)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt

    // ---- per-query timings (full materialization via noop sink) ----
    // SPARK_GRAFT_SKETCH_ONLY=1 measures just the headline sketch-build
    // (used by the scaling protocol so query warmup doesn't pollute GC/JIT)
    // Each query runs `reps` times: rep 1 is the COLD number (what a
    // one-shot driver run sees — includes codegen/JIT for that plan), the
    // min is the WARM number (steady-state; the one to compare across
    // rounds, since cold single-shots on a noisy host have been ~6x off).
    val sketchOnly = sys.env.get("SPARK_GRAFT_SKETCH_ONLY").contains("1")
    // each rep records (seconds, succeeded): a rep that THROWS must not
    // donate its (short) time-to-exception to the warm min — warm is the
    // best SUCCESSFUL rep, falling back to rep 1's time when every rep
    // failed (the query is broken either way; stderr carries the errors)
    val results: Seq[(String, Seq[(Double, Boolean)])] =
      if (sketchOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { force(fn(spark, sfDir)); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: $e"); false }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        // isolate queries from each other: gates cache/localCheckpoint
        // intermediates they never unpersist, and 80 queries of
        // accumulated blocks + GC pressure made alphabetically-late heavy
        // queries measure ~2x their isolated time (q_sparse_cosine_idf
        // 38.6 s in-bench vs 19.3 s isolated, same host window). Dropping
        // the cache (and nudging the cleaner) between queries makes
        // per-query numbers comparable to a one-query run.
        spark.catalog.clearCache()
        System.gc()
        name -> times
      }

    // ---- headline: sketch-build throughput over the pages table ----
    graft.sources.Pages.ensureParquet(spark, pagesDir, pagesN, hosts = 50000,
      days = 4, partitions = 128)
    val pages = spark.read.parquet(pagesDir)
    pages.count() // warm FS cache / file listing so we measure compute
    val salts = sys.env.getOrElse("SPARK_GRAFT_SALTS", "1").toInt
    // stage-level attribution of the final rep (SPARK_GRAFT_STAGE_METRICS=0
    // to silence): names the scan / partial-agg / exchange stage a
    // regression lives in instead of one wall-clock number
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    val sketchSec = (1 to reps).map { r =>
      if (r == reps) metrics.clear()
      val t0 = System.nanoTime()
      force(graft.pipelines.Magnitude.collect(pages, salts = salts))
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] sketch-build rep $r: $sec%.2fs")
      sec
    }.min
    if (!sys.env.get("SPARK_GRAFT_STAGE_METRICS").contains("0")) {
      Thread.sleep(200) // listener bus drain
      System.err.println("[bench] sketch-build stage attribution (last rep):")
      System.err.println(metrics.summary())
    }
    val pagesPerSec = pagesN / sketchSec

    def warmOf(v: Seq[(Double, Boolean)]): Double = {
      val ok = v.filter(_._2)
      if (ok.nonEmpty) ok.map(_._1).min else v.head._1
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"${v.head._1}%.3f" }
      .mkString("{", ",", "}")
    val qsWarm = results.map { case (k, v) => "\"" + k + "\":" + f"${warmOf(v)}%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2.head._1).sum + sketchSec
    val totalWarm = results.map(r => warmOf(r._2)).sum + sketchSec
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_warm":$qsWarm,"total_warm":$totalWarm%.3f,"sf":"$sfDir","cpus":$cpus,"pages_n":$pagesN,"sketch_build_sec":$sketchSec%.3f,"pages_per_sec":$pagesPerSec%.0f}"""
    // belt and braces for the driver's JSON parse: a file, stderr, and —
    // with build.sbt's StdoutOutput strategy (no sbt logger prefix) — the
    // bare line as the LAST stdout output of the program (after stop(), so
    // no Spark shutdown logging can interleave)
    System.err.println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_last.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Exception => System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
    println(json)
    System.out.flush()
  }
}
