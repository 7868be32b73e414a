package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's entry point. One closed loop: a single thread issues each step
 * after the previous one finished, on `local[N]` with N shuffle partitions.
 *
 *   perfbench.Main --workload W --seed S --seconds T --trace 0|1
 *                  --data DIR --work DIR [--cores N]
 *
 * A run generates (or reuses) the workload's inputs in `--data`, sets up
 * (session, OS-cache warm-up and one untimed warm-up rep; `setup_s` counts
 * from JVM start), then repeats the workload's steps for `--seconds` and
 * reports medians over those reps.
 * With `--trace 1` untraced and traced reps alternate, and the plan-rung
 * ladder and the kernel rung follow. The last stdout line is the result
 * JSON; the exit code is non-zero if any step or output check failed.
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: File, work: File, cores: Int, smoke: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k.drop(2)) = argv(i + 1); i += 2
        case k => throw new IllegalArgumentException(s"unexpected argument $k")
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("data")), new File(need("work")),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      smoke = false)
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result =
      try run(a)
      catch { case t: Throwable =>
        // a step that throws outside the timed reps (set-up) fails the run
        t.printStackTrace()
        Result(1, 1, Nil)
      }
    println(result.json)
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }

  final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]) {
    def correct: Boolean = failed == 0
    def json: String = {
      def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
      val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(a.work, "checkpoints").getPath)
    graft.pipelines.Magnitude.tune(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private final class RepStats {
    val wall, ingest, finish, cpu, heap, state, quality = mutable.ArrayBuffer[Double]()
    val spans = mutable.ArrayBuffer[Map[String, Double]]()
    val engine = mutable.ArrayBuffer[Map[String, Double]]()
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s  $msg")

  def sizes(a: Args): Sizes = if (a.smoke) Sizes.smoke else Sizes.full

  /** The workload's input set, generated on first use. */
  def inputs(a: Args, spark: SparkSession): File = {
    val data = InputCache.dir(a.data, a.workload, a.seed, sizes(a))
    InputCache.ensure(a.data, data, a.workload)(d =>
      Workload.generate(Env(spark, d, a.work, a.seed, sizes(a)), a.workload))
    data
  }

  def run(a: Args): Result = {
    a.work.mkdirs()
    val checks = new Checks
    var failedReps = 0L
    var attemptedReps = 0L

    // Set-up, from JVM start to the first timed step: session build and
    // tuning, reading every input file once so the OS cache is warm, and one
    // untimed warm-up rep. Input generation and the benchmark's own checks
    // are left out. A JVM starts cold once, so a run has one set-up.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val genStart = System.nanoTime()
    val data = inputs(a, spark)
    val genSeconds = (System.nanoTime() - genStart) / 1e9
    log(f"inputs ready in $genSeconds%.1f s: $data")
    Io.warm(data)
    val w = Workload(Env(spark, data, a.work, a.seed, sizes(a)), a.workload)
    w.rep(new Rep(None))
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3 - genSeconds
    log(f"set-up, warm-up rep included: $setup%.2f s")
    w.check(checks)

    val untraced = new RepStats
    val traced = new RepStats
    val probe = new Probe(spark)

    def oneRep(tracedRep: Boolean): Unit = {
      val stats = if (tracedRep) traced else untraced
      if (tracedRep) spark.sparkContext.addSparkListener(probe)
      val r = new Rep(if (tracedRep) Some(probe) else None)
      attemptedReps += 1
      var ok = true
      val heap = HeapPeak.during {
        try w.rep(r)
        catch { case t: Throwable =>
          ok = false
          failedReps += 1
          System.err.println(s"[perfbench] rep failed: $t"); t.printStackTrace() }
      }
      if (tracedRep) spark.sparkContext.removeSparkListener(probe)
      if (ok) {
        stats.wall += r.wall
        stats.ingest += w.ingestSteps.map(r.steps.getOrElse(_, 0.0)).sum
        stats.finish += w.finishSteps.map(r.steps.getOrElse(_, 0.0)).sum
        stats.cpu += r.cpu
        stats.heap += heap
        w.check(checks)
        log(f"${if (tracedRep) "traced" else "untraced"} rep: ${r.wall}%.2f s, heap peak $heap%.1f MB")
        stats.state += w.stateBytes
        stats.quality += w.qualityLoss
        stats.spans += r.spans.toMap
        if (tracedRep) stats.engine += probe.drain(w.inputBytes, r.pairs)
      }
    }

    // Timed reps: at least three of each kind, then until --seconds is used.
    val start = System.nanoTime()
    var n = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (n < 3 || elapsed < a.seconds) {
      oneRep(tracedRep = false)
      if (a.trace) oneRep(tracedRep = true)
      n += 1
    }
    w.finalCheck(checks)
    val attempted = checks.attempted + attemptedReps
    val failed = checks.failed + failedReps
    log(f"$n timed round(s) in $elapsed%.1f s, $failed of $attempted operations failed")

    val metrics = mutable.ArrayBuffer[(String, Double, String)]()
    if (!a.trace) {
      val e2e = Map(
        "setup_s" -> setup,
        "wall_s" -> median(untraced.wall.toSeq),
        "ingest_rows_per_sec" -> w.ingestRows / median(untraced.ingest.toSeq),
        "finish_s" -> median(untraced.finish.toSeq),
        "cpu_s" -> median(untraced.cpu.toSeq),
        "heap_peak_mb" -> median(untraced.heap.toSeq),
        "state_bytes" -> median(untraced.state.toSeq),
        "quality_loss" -> median(untraced.quality.toSeq),
        "success_rate" -> (1.0 - failed.toDouble / attempted))
      for ((name, unit) <- MetricNames.endToEnd) metrics += ((name, e2e(name), unit))
    } else {
      val perLayer = mutable.Map[String, Double]().withDefaultValue(0.0)
      for (k <- traced.spans.flatMap(_.keys).distinct)
        perLayer(k) = median(traced.spans.toSeq.map(_.getOrElse(k, 0.0)))
      for (k <- traced.engine.flatMap(_.keys).distinct)
        perLayer(k) = median(traced.engine.toSeq.map(_.getOrElse(k, 0.0)))
      val untracedWall = median(untraced.wall.toSeq)
      perLayer("trace.overhead") = median(traced.wall.toSeq) / untracedWall
      perLayer("trace.span_coverage") =
        median(traced.spans.toSeq.map(_.values.sum)) / untracedWall
      // ladder: cumulative rungs, each the median of three forced runs,
      // reported as its increment over the rung below
      var below = 0.0
      for ((name, body) <- w.ladder) {
        val t = median((1 to 3).map { _ =>
          val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
        })
        perLayer(name) = t - below
        below = t
      }
      w.kernels().foreach { case (k, v) => perLayer(k) = v }
      for ((name, unit) <- MetricNames.perLayer) metrics += ((name, perLayer(name), unit))
    }
    stop(spark)
    Result(attempted, failed, metrics.toSeq)
  }
}

/** Every metric the benchmark reports, with its unit; BENCHMARK.json lists
  * the same names. */
object MetricNames {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "ingest_rows_per_sec" -> "rows/s", "finish_s" -> "s",
    "cpu_s" -> "s", "heap_peak_mb" -> "MB", "state_bytes" -> "bytes", "quality_loss" -> "ratio",
    "success_rate" -> "ratio")

  /** Spans of the public calls. A lazy call's work runs in the span of the
    * action that forces it: `DnsMagnitude.collect` executes inside
    * `DnsMagCbor.write.run_s`, `DnsMagnitude.aggregate` inside
    * `reportJson.run_s`, and `DnsMagCbor.read` only builds its frame. */
  val spans: Seq[String] = Seq("pipelines.DnsMagnitude.collect.plan_s",
    "io.DnsMagCbor.write.run_s", "io.DnsMagCbor.read.plan_s",
    "pipelines.DnsMagnitude.aggregate.plan_s", "pipelines.DnsMagnitude.reportJson.run_s") ++
    Seq("exact", "minhashLshPairs", "sparseCosinePairs", "dropNearDuplicates")
      .flatMap(c => Seq(s"operators.Dedup.$c.plan_s", s"operators.Dedup.$c.run_s"))

  val rungs: Seq[String] =
    Seq("sources.csv_scan_s", "sources.records_s", "functions.hll_agg_s", "io.cbor_write_s")

  val kernels: Seq[String] = Seq("xxh3_ip", "ip_truncate", "domain_normalize",
    "hll_add_sparse", "hll_add_dense", "hll_union", "hll_to_bytes", "hll_from_bytes",
    "cbor_encode", "cbor_decode", "tokens").map(k => s"kernel.${k}_ns")

  val steps: Seq[String] = Seq("collect", "exact", "minhash", "cosine", "finish")

  val engine: Seq[(String, String)] = Seq("stages" -> "count", "tasks" -> "count",
    "task_cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "shuffle_records" -> "count", "spill_bytes" -> "bytes", "input_bytes" -> "bytes",
    "scan_amplification" -> "ratio", "task_skew" -> "ratio")

  val perLayer: Seq[(String, String)] =
    spans.map(_ -> "s") ++ rungs.map(_ -> "s") ++ kernels.map(_ -> "ns") ++
      steps.flatMap(s => engine.map { case (m, u) => s"engine.$s.$m" -> u }) ++
      Seq("operators.minhash.pair_yield" -> "ratio", "operators.cosine.pair_yield" -> "ratio",
        "trace.overhead" -> "ratio", "trace.span_coverage" -> "ratio")
}
