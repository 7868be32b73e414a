package graft.core.net

import java.io.ByteArrayOutputStream

/** Test-side capture building from the public formats: a byte builder, a
  * DNS query message, an Ethernet/IP/UDP query packet, and the golden
  * capture — `test1_records.tsv` replayed as a gzipped classic pcap. */
object PcapBytes {

  final class B {
    private val out = new ByteArrayOutputStream()
    def u8(v: Int): B = { out.write(v & 0xff); this }
    def u16le(v: Int): B = { out.write(v & 0xff); out.write((v >> 8) & 0xff); this }
    def u32le(v: Long): B = { (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt)); this }
    def u16be(v: Int): B = { out.write((v >> 8) & 0xff); out.write(v & 0xff); this }
    def raw(b: Array[Byte]): B = { out.write(b, 0, b.length); this }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** A one-question DNS query (type A, class IN); "" or "." is the root. */
  def dnsQuery(name: String): Array[Byte] = {
    val b = new B
    b.u16be(0x1234).u16be(0x0100).u16be(1).u16be(0).u16be(0).u16be(0)
    name.split('.').filter(_.nonEmpty).foreach { l =>
      b.u8(l.length); b.raw(l.getBytes("ISO-8859-1"))
    }
    b.u8(0).u16be(1).u16be(1)
    b.bytes
  }

  /** Ethernet frame with a UDP/53 DNS query from `srcIp`: 4 address bytes
    * make an IPv4 packet to 10.0.0.53, 16 an IPv6 packet to ::1. */
  def udpPacket(srcIp: Array[Int], name: String): Array[Byte] = {
    val dns = dnsQuery(name)
    val udpLen = 8 + dns.length
    val b = new B
    b.raw(Array.fill(12)(0.toByte))
    if (srcIp.length == 4) {
      // ipv4, ihl 5, proto 17
      b.u16be(0x0800)
      b.u8(0x45).u8(0).u16be(20 + udpLen).u16be(0).u16be(0)
        .u8(64).u8(17).u16be(0)
      srcIp.foreach(b.u8)
      b.u8(10).u8(0).u8(0).u8(53)
    } else {
      require(srcIp.length == 16, "source address must be 4 or 16 bytes")
      // ipv6: ver/class/flow, payloadLen, next=17 (UDP), hop
      b.u16be(0x86dd)
      b.u8(0x60).u8(0).u8(0).u8(0)
      b.u16be(udpLen).u8(17).u8(64)
      srcIp.foreach(b.u8)
      b.raw(Array.fill(15)(0.toByte)).u8(1)
    }
    b.u16be(40000).u16be(53).u16be(udpLen).u16be(0)
    b.raw(dns)
    b.bytes
  }

  /** Classic little-endian microsecond pcap, Ethernet link type; packet i
    * is stamped `firstSec + i` seconds. */
  def classicPcap(packets: Seq[Array[Byte]], firstSec: Long): Array[Byte] = {
    val b = new B
    b.u32le(0xa1b2c3d4L).u16le(2).u16le(4).u32le(0).u32le(0)
      .u32le(65535).u32le(1)
    packets.zipWithIndex.foreach { case (p, i) =>
      b.u32le(firstSec + i).u32le(0).u32le(p.length).u32le(p.length).raw(p)
    }
    b.bytes
  }

  /** The golden capture: one UDP query packet per row of
    * `test1_records.tsv` (client ip, question name), in file order, stamped
    * from 2000-01-01T00:00:00Z. The `::ffff:` rows keep their v4-mapped
    * address as an IPv6 source. Written gzipped to `dir/name`. */
  def writeTest1Pcap(dir: java.nio.file.Path,
                     name: String = "test1.pcap.gz"): java.nio.file.Path = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/test1_records.tsv"), "UTF-8")
    val rows = try src.getLines().filterNot(_.startsWith("#")).toVector finally src.close()
    val packets = rows.map { l =>
      val Array(ip, domain, _) = l.split("\t")
      val v4 = ip.stripPrefix("::ffff:").split('.').map(_.toInt)
      val addr = if (ip.startsWith("::ffff:")) Array.fill(10)(0) ++ Array(0xff, 0xff) ++ v4 else v4
      udpPacket(addr, domain)
    }
    val path = dir.resolve(name)
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(path))
    try out.write(classicPcap(packets, firstSec = 946684800L)) finally out.close()
    path
  }
}
