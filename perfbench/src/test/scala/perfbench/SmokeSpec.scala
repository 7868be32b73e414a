package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.core.cbor.DnsMagCodec
import org.scalatest.funsuite.AnyFunSuite

/** Every workload once at smoke size, untraced and traced: all checks pass
  * and every metric BENCHMARK.json names is printed. Corrupted outputs make
  * the checks fail. */
class SmokeSpec extends AnyFunSuite {

  private def args(workload: String, trace: Boolean, dir: File) =
    Main.Args(workload, seed = 1L, seconds = 1, trace = trace,
      data = new File(dir, "data"), work = new File(dir, "work"), cores = 4, smoke = true)

  private def scratch[T](body: File => T): T = {
    val dir = new File(s"target/smoke-${java.util.UUID.randomUUID()}")
    try body(dir)
    finally Io.deleteTree(dir)
  }

  for (w <- Workload.names; trace <- Seq(false, true))
    test(s"$w at smoke size, trace=$trace: checks pass, every metric printed") {
      val r = scratch(dir => Main.run(args(w, trace, dir)))
      assert(r.correct, s"${r.failed} of ${r.attempted} operations failed")
      val expected = if (trace) MetricNames.perLayer else MetricNames.endToEnd
      assert(r.metrics.map(m => (m._1, m._3)) == expected)
      assert(r.metrics.forall(m => !m._2.isNaN && !m._2.isInfinite))
      if (!trace) assert(r.metrics.forall(_._2 > 0), r.metrics)
      val last = r.json
      assert(last.startsWith("""{"correct": true, """) && !last.contains("\n"))
    }

  /** For each corruption: runs one rep of `name`, checks that its outputs
    * pass, corrupts them and checks again with fresh checks. Returns the
    * failed checks per corruption. */
  private def corrupted[W <: Workload](name: String)(corruptions: (W => Unit)*): Seq[Long] =
    scratch { dir =>
      val a = args(name, trace = false, dir)
      val spark = Main.session(a)
      try {
        val data = Main.inputs(a, spark)
        val w = Workload(Env(spark, data, a.work, a.seed, Main.sizes(a)), name).asInstanceOf[W]
        corruptions.map { corrupt =>
          w.rep(new Rep(None))
          val clean = new Checks
          w.check(clean)
          assert(clean.failed == 0 && clean.attempted > 0)
          corrupt(w)
          val c = new Checks
          w.check(c)
          val result = Main.Result(c.attempted, c.failed, Nil)
          assert(result.correct == (c.failed == 0))
          assert(result.json.startsWith(s"""{"correct": ${c.failed == 0}, """))
          c.failed
        }
      } finally Main.stop(spark)
    }

  test("dns_csv: one query count changed in a .dnsmag file fails the checks") {
    val failed = corrupted[DnsCsv]("dns_csv") { w =>
      val f = w.outFile(0).toPath
      val Seq(ds) = DnsMagCodec.decodeSeq(Files.readAllBytes(f))
      val (name, d) = ds.domains.maxBy(_._2.queries)
      val altered = ds.copy(domains = ds.domains.updated(name, d.copy(queries = d.queries - 1)))
      Files.write(f, DnsMagCodec.encodeSeq(Seq(altered)))
      // drop the checksum sidecar of the local file system, as an edit by
      // another tool would leave it stale
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      w.finish(new Rep(None))
    }
    assert(failed.forall(_ > 0), failed)
  }

  test("docs_neardup: a dropped survivor, pair or wrong score fails the checks") {
    val failed = corrupted[DocsNeardup]("docs_neardup")(
      w => w.kept -= w.kept.min,
      w => w.cosine = w.cosine.filterNot(p => w.subset(p._1) && w.subset(p._2)),
      w => w.minhash = w.minhash.take(1).map(p => p.copy(_3 = p._3 + 0.01)) ++ w.minhash.drop(1))
    assert(failed.forall(_ > 0), failed)
  }

  test("BENCHMARK.json names the benchmark's workloads and metrics") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File("../BENCHMARK.json"))
    def named(key: String, unit: Boolean) = spec.get(key).elements().asScala.map { m =>
      (m.get("name").asText(), if (unit) m.get("unit").asText() else "")
    }.toSeq
    assert(named("workloads", unit = false).map(_._1) == Workload.names)
    assert(named("end_to_end", unit = true) == MetricNames.endToEnd)
    assert(named("per_layer", unit = true) == MetricNames.perLayer)
  }
}
