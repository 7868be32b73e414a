package graft

import java.nio.file.{Files, Paths}

/** Dev utility for tuning one operator's plan without the full bench,
  * on the bench's session settings (GraftSession.local):
  *  - `Dev time <sfDir> <name,name,...>` runs each SparkEntry query into a
  *    noop sink and prints its wall time and its top stages (BenchMetrics);
  *  - `Dev explain <sfDir> <outDir> <name,name,...>` writes each query's
  *    `.explain("formatted")` to `<outDir>/<name>.txt` — the plan evidence
  *    under plans/rNN/. */
object Dev {
  def main(args: Array[String]): Unit = args match {
    case Array("time", sfDir, names) =>
      val spark = GraftSession.local(tmpfs = true)
      val metrics = new BenchMetrics
      spark.sparkContext.addSparkListener(metrics)
      names.split(",").foreach { n =>
        metrics.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
        println(f"[dev time] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        Thread.sleep(300) // listener bus drain
        println(metrics.summary(10))
      }
      spark.stop()
    case Array("explain", sfDir, outDir, names) =>
      val spark = GraftSession.local(tmpfs = true)
      val dir = Files.createDirectories(Paths.get(outDir))
      names.split(",").foreach { n =>
        val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(dir.resolve(s"$n.txt"), txt)
        println(s"[dev explain] wrote ${dir.resolve(s"$n.txt")}")
      }
      spark.stop()
    case _ =>
      sys.error("usage: Dev time <sfDir> <names> | Dev explain <sfDir> <outDir> <names>")
  }
}
