package perfbench

import graft.core.cbor.DnsMagCodec
import graft.core.hash.XXH3
import graft.core.net.{DomainUtil, IpUtil}
import graft.core.sketch.Hll
import graft.core.text.TextOps

/** The kernel rung: single-threaded plain-JVM loops over samples of a
  * workload's own inputs. Each kernel is warmed up, then timed over several
  * passes with `nanoTime`; the result is the median pass in ns per op. */
object Kernels {
  @volatile private var sink = 0L

  /** ns per op of `op` applied to indices 0 until `n`. */
  def time(n: Int)(op: Int => Long): Double = {
    def pass(): Long = {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < n) { acc += op(i); i += 1 }
      sink += acc
      System.nanoTime() - t0
    }
    val deadline = System.nanoTime() + 300000000L
    var warm = 0
    while (warm < 3 || System.nanoTime() < deadline && warm < 20) { pass(); warm += 1 }
    val ns = Array.fill(7)(pass()).sorted
    ns(ns.length / 2).toDouble / n
  }

  private def denseHll(hashes: Array[Long], from: Int): Hll = {
    val h = Hll()
    var i = 0
    while (i < 8000) { h.addRaw(hashes((from + i) % hashes.length)); i += 1 }
    h
  }

  /** Kernels of the dns_csv workload over its client ips and domains. */
  def dns(ips: Array[String], domains: Array[String]): Seq[(String, Double)] = {
    val nets = ips.map(IpUtil.truncate).filter(_ != null)
    val hashes = nets.map(n => XXH3.hash(n))
    val a = denseHll(hashes, 0)
    val b = denseHll(hashes, hashes.length / 2)
    val aBytes = a.toBytes
    val ds = DnsMagCodec.Dataset(DnsMagCodec.Version, "bench", "perfbench", DnsInput.Date,
      aBytes, a.estimate, 1000L,
      (0 until 200).map(i => DnsInput.tldName(i) -> DnsMagCodec.DomainData(
        if (i < 4) aBytes else smallHll(hashes, i), i.toLong, i.toLong)).toMap)
    val cbor = DnsMagCodec.encode(ds)
    Seq(
      "kernel.xxh3_ip_ns" -> time(nets.length)(i => XXH3.hash(nets(i))),
      "kernel.ip_truncate_ns" -> time(ips.length)(i => { val t = IpUtil.truncate(ips(i)); if (t == null) 0L else t(15) }),
      "kernel.domain_normalize_ns" -> time(domains.length)(i => {
        val d = DomainUtil.normalize(DomainUtil.unescape(domains(i)), 1); if (d == null) 0L else d.length }),
      // a fresh sketch every 16 adds: the buffers of the many small TLDs stay sparse
      "kernel.hll_add_sparse_ns" -> {
        var h = Hll()
        time(hashes.length)(i => { if ((i & 15) == 0) h = Hll(); h.addRaw(hashes(i)); 1L })
      },
      "kernel.hll_add_dense_ns" -> {
        val h = denseHll(hashes, 0)
        time(hashes.length)(i => { h.addRaw(hashes(i)); 1L })
      },
      "kernel.hll_union_ns" -> {
        val acc = denseHll(hashes, 0)
        time(64)(_ => { acc.union(b); 1L })
      },
      "kernel.hll_to_bytes_ns" -> time(64)(_ => a.toBytes.length.toLong),
      "kernel.hll_from_bytes_ns" -> time(64)(_ => Hll.fromBytes(aBytes).log2m.toLong),
      "kernel.cbor_encode_ns" -> time(8)(_ => DnsMagCodec.encode(ds).length.toLong),
      "kernel.cbor_decode_ns" -> time(8)(_ => DnsMagCodec.decodeSeq(cbor).size.toLong))
  }

  private def smallHll(hashes: Array[Long], salt: Int): Array[Byte] = {
    val h = Hll()
    for (k <- 0 until 50) h.addRaw(hashes((salt * 131 + k) % hashes.length))
    h.toBytes
  }

  /** Kernels of the docs_neardup workload over its texts (ns per doc). */
  def docs(texts: Array[String]): Seq[(String, Double)] =
    Seq("kernel.tokens_ns" -> time(texts.length)(i => TextOps.tokens(texts(i)).length.toLong))
}
