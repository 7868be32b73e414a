package graft.core.net

import org.scalatest.funsuite.AnyFunSuite

/** Synthesized-capture tests for the pcapng framing and TCP DNS paths (the
  * golden classic-pcap fixture is covered by RecordsPcapSpec). Packets and
  * blocks are hand-built from the public formats, little-endian pcapng. */
class PcapDnsSpec extends AnyFunSuite {

  import PcapBytes._

  private def tcpV6Packet(srcTail: Int, name: String): Array[Byte] = {
    val dns = dnsQuery(name)
    val b = new B
    b.raw(Array.fill(12)(0.toByte)).u16be(0x86dd)
    // ipv6: ver/class/flow, payloadLen, next=6 (TCP), hop
    b.u32le(0x60L) // 0x60 in first byte via LE trick? build explicitly:
    val hdrFix = b.bytes
    val b2 = new B
    b2.raw(hdrFix.slice(0, 14))
    b2.u8(0x60).u8(0).u8(0).u8(0)
    b2.u16be(20 + 2 + dns.length).u8(6).u8(64)
    // src: 2001:db8::<tail>
    b2.u8(0x20).u8(0x01).u8(0x0d).u8(0xb8)
    b2.raw(Array.fill(11)(0.toByte)).u8(srcTail)
    // dst ::1
    b2.raw(Array.fill(15)(0.toByte)).u8(1)
    // tcp: sport, dport=53, seq, ack, dataOffset=5
    b2.u16be(40001).u16be(53).u32le(0).u32le(0)
      .u8(0x50).u8(0x18).u16be(1024).u16be(0).u16be(0)
    // 2-byte DNS length framing + message
    b2.u16be(dns.length).raw(dns)
    b2.bytes
  }

  /** One TCP/53 segment over IPv6 with an explicit sequence number and raw
    * payload bytes (no DNS framing added — callers split the framed stream). */
  private def tcpV6Segment(srcTail: Int, seq: Long, payload: Array[Byte]): Array[Byte] = {
    val b = new B
    b.raw(Array.fill(12)(0.toByte)).u16be(0x86dd)
    b.u8(0x60).u8(0).u8(0).u8(0)
    b.u16be(20 + payload.length).u8(6).u8(64)
    b.u8(0x20).u8(0x01).u8(0x0d).u8(0xb8)
    b.raw(Array.fill(11)(0.toByte)).u8(srcTail)
    b.raw(Array.fill(15)(0.toByte)).u8(1)
    // tcp: sport, dport=53, seq (big-endian), ack, dataOffset=5, flags PSH+ACK
    b.u16be(40001).u16be(53)
    b.u8(((seq >> 24) & 0xff).toInt).u8(((seq >> 16) & 0xff).toInt)
      .u8(((seq >> 8) & 0xff).toInt).u8((seq & 0xff).toInt)
    b.u32le(0).u8(0x50).u8(0x18).u16be(1024).u16be(0).u16be(0)
    b.raw(payload)
    b.bytes
  }

  /** One TCP/53 segment over IPv4/Ethernet with explicit seq, payload,
    * optional SYN flag and optional Ethernet trailer padding AFTER the IP
    * datagram (what real NICs add to reach the 60-byte minimum frame). */
  private def tcpV4Segment(seq: Long, payload: Array[Byte], pad: Int = 0,
                           syn: Boolean = false): Array[Byte] = {
    val b = new B
    b.raw(Array.fill(12)(0.toByte)).u16be(0x0800)
    b.u8(0x45).u8(0).u16be(20 + 20 + payload.length).u16be(0).u16be(0)
      .u8(64).u8(6).u16be(0)
    b.u8(10).u8(0).u8(0).u8(1)  // src 10.0.0.1
    b.u8(10).u8(0).u8(0).u8(53) // dst 10.0.0.53
    b.u16be(40002).u16be(53)
    b.u8(((seq >> 24) & 0xff).toInt).u8(((seq >> 16) & 0xff).toInt)
      .u8(((seq >> 8) & 0xff).toInt).u8((seq & 0xff).toInt)
    b.u32le(0).u8(0x50).u8(if (syn) 0x02 else 0x18).u16be(1024).u16be(0).u16be(0)
    b.raw(payload)
    (0 until pad).foreach(_ => b.u8(0))
    b.bytes
  }

  private def pcapng(packets: Seq[Array[Byte]], tsresol: Option[Int] = None): Array[Byte] = {
    val b = new B
    // SHB
    b.u32le(0x0a0d0d0aL).u32le(28).u32le(0x1a2b3c4dL).u16le(1).u16le(0)
      .u32le(0xffffffffL).u32le(0xffffffffL).u32le(28)
    // IDB (linktype 1, optional if_tsresol option)
    tsresol match {
      case None =>
        b.u32le(1).u32le(20).u16le(1).u16le(0).u32le(0x40000).u32le(20)
      case Some(r) =>
        // opt 9 len 1 value r (padded), opt_end
        b.u32le(1).u32le(32).u16le(1).u16le(0).u32le(0x40000)
        b.u16le(9).u16le(1).u8(r).u8(0).u8(0).u8(0)
        b.u16le(0).u16le(0)
        b.u32le(32)
    }
    packets.zipWithIndex.foreach { case (p, i) =>
      val padded = (p.length + 3) & ~3
      val total = 32 + padded
      val tsMicros = 946684800000000L + i // 2000-01-01 + i us
      b.u32le(6).u32le(total).u32le(0)
      b.u32le(tsMicros >>> 32).u32le(tsMicros & 0xffffffffL)
      b.u32le(p.length).u32le(p.length)
      b.raw(p)
      (p.length until padded).foreach(_ => b.u8(0))
      b.u32le(total)
    }
    b.bytes
  }

  test("pcapng EPB blocks decode: UDP v4, TCP v6, timestamps, unknown blocks skipped") {
    val pkts = Seq(
      udpPacket(Array(192, 168, 1, 7), "example.com"),
      udpPacket(Array(192, 168, 2, 9), "sub.example.org"),
      tcpV6Packet(0x42, "tcp.example.net"))
    val recs = PcapDns.decode(pcapng(pkts))
    assert(recs.map(_.qname) === Seq("example.com", "sub.example.org", "tcp.example.net"))
    assert(recs(0).srcIp === "192.168.1.7")
    assert(recs(1).srcIp === "192.168.2.9")
    assert(recs(2).srcIp === "2001:db8:0:0:0:0:0:42")
    // EPB timestamps carried through at microsecond default resolution
    assert(recs(0).tsMicros === 946684800000000L)
    assert(recs(1).tsMicros === 946684800000001L)
  }

  test("pcapng if_tsresol option honored (millisecond resolution)") {
    val b = new B
    b.u32le(0x0a0d0d0aL).u32le(28).u32le(0x1a2b3c4dL).u16le(1).u16le(0)
      .u32le(0xffffffffL).u32le(0xffffffffL).u32le(28)
    b.u32le(1).u32le(32).u16le(1).u16le(0).u32le(0x40000)
    b.u16le(9).u16le(1).u8(3).u8(0).u8(0).u8(0).u16le(0).u16le(0).u32le(32)
    val p = udpPacket(Array(10, 1, 2, 3), "a.com")
    val padded = (p.length + 3) & ~3
    b.u32le(6).u32le(32 + padded).u32le(0).u32le(0).u32le(5000) // 5000 ms
    b.u32le(p.length).u32le(p.length).raw(p)
    (p.length until padded).foreach(_ => b.u8(0))
    b.u32le(32 + padded)
    val rec = PcapDns.decode(b.bytes).head
    assert(rec.tsMicros === 5000000L) // 5000 ms -> 5e6 us
  }

  test("malformed inputs fail fast or degrade safely, never hang or overrun") {
    // garbage magic
    intercept[IllegalArgumentException](PcapDns.decode(Array.fill(64)(0x41.toByte)))
    // truncated global header
    intercept[IllegalArgumentException](PcapDns.decode(Array[Byte](0xd4.toByte, 0xc3.toByte, 0xb2.toByte)))
    // valid header, truncated trailing record: parsed records kept, tail dropped
    val good = pcapng(Seq(udpPacket(Array(10, 0, 0, 9), "ok.org")))
    assert(PcapDns.decode(good).map(_.qname) === Seq("ok.org"))
    // pcapng with a lying block length
    val lying = good.clone()
    lying(4) = 0x03 // SHB total length corrupted
    intercept[IllegalArgumentException](PcapDns.decode(lying))
    // DNS name with a self-pointing compression pointer must not loop
    val selfLoop = {
      val p = udpPacket(Array(10, 0, 0, 1), "aa")
      // question name starts at eth(14)+ip(20)+udp(8)+dnshdr(12) = 54
      p(54) = 0xc0.toByte; p(55) = 12 // pointer to itself (offset 12 = name start)
      p
    }
    assert(PcapDns.decode(pcapng(Seq(selfLoop))).isEmpty) // malformed -> skipped
  }

  test("TCP DNS reassembly: messages split across segments decode; gaps stop cleanly") {
    val dns = dnsQuery("split.example.com")
    val framed = { val b = new B; b.u16be(dns.length).raw(dns); b.bytes }
    val cut = framed.length / 2
    val s1 = tcpV6Segment(0x42, 1000, framed.slice(0, cut))
    val s2 = tcpV6Segment(0x42, 1000 + cut, framed.slice(cut, framed.length))

    // in-order split: one reassembled message, ts of the FIRST segment
    val recs = PcapDns.decode(pcapng(Seq(s1, s2)))
    assert(recs.map(_.qname) === Seq("split.example.com"))
    assert(recs.head.srcIp === "2001:db8:0:0:0:0:0:42")
    assert(recs.head.tsMicros === 946684800000000L)

    // out-of-order arrival reorders by sequence number
    assert(PcapDns.decode(pcapng(Seq(s2, s1))).map(_.qname) ===
      Seq("split.example.com"))

    // retransmission of a segment is deduplicated (first copy wins)
    assert(PcapDns.decode(pcapng(Seq(s1, s1, s2))).map(_.qname) ===
      Seq("split.example.com"))

    // two messages over three arbitrary-cut segments of one flow
    val dns2 = dnsQuery("second.example.org")
    val stream = framed ++ { val b = new B; b.u16be(dns2.length).raw(dns2); b.bytes }
    val cuts = Seq((0, 10), (10, 30), (30, stream.length))
    val segs = cuts.map { case (a, z) => tcpV6Segment(0x43, 5000 + a, stream.slice(a, z)) }
    assert(PcapDns.decode(pcapng(segs)).map(_.qname) ===
      Seq("split.example.com", "second.example.org"))

    // a hole in the stream (middle segment lost) stops parsing — no
    // garbage records from misaligned length prefixes
    assert(PcapDns.decode(pcapng(Seq(segs(0), segs(2)))).isEmpty)
  }

  test("Ethernet trailer padding never enters the TCP stream (IP length honored)") {
    // real captures: a pure ACK is a 54-byte frame padded to 60 — those 6
    // zero bytes sit at the same seq as the first data byte. If they leak
    // into the flow, the data segment reads as a retransmission, the
    // stream starts 0x0000 and NOTHING decodes.
    val dns = dnsQuery("padded.example.com")
    val framed = { val b = new B; b.u16be(dns.length).raw(dns); b.bytes }
    val ack = tcpV4Segment(1000, Array.empty, pad = 6)
    val dat = tcpV4Segment(1000, framed)
    assert(PcapDns.decode(pcapng(Seq(ack, dat))).map(_.qname) ===
      Seq("padded.example.com"))
    // padded DATA frame: trailer zeros after the message must not corrupt
    // a later message of the same flow
    val dns2 = dnsQuery("second.example.net")
    val framed2 = { val b = new B; b.u16be(dns2.length).raw(dns2); b.bytes }
    val d1 = tcpV4Segment(2000, framed, pad = 6)
    val d2 = tcpV4Segment(2000 + framed.length, framed2)
    assert(PcapDns.decode(pcapng(Seq(d1, d2))).map(_.qname) ===
      Seq("padded.example.com", "second.example.net"))
  }

  test("4-tuple reuse: a SYN starts a new stream epoch, both connections decode") {
    val q1 = dnsQuery("first.example.com")
    val f1 = { val b = new B; b.u16be(q1.length).raw(q1); b.bytes }
    val q2 = dnsQuery("second.example.org")
    val f2 = { val b = new B; b.u16be(q2.length).raw(q2); b.bytes }
    val capture = pcapng(Seq(
      tcpV4Segment(4999, Array.empty, syn = true), // connection 1 SYN
      tcpV4Segment(5000, f1),
      tcpV4Segment(987654320L, Array.empty, syn = true), // reused ports, new ISN
      tcpV4Segment(987654321L, f2)))
    assert(PcapDns.decode(capture).map(_.qname) ===
      Seq("first.example.com", "second.example.org"))
  }

  test("retransmitted SYN (same ISN, nothing sent since) does not split the stream") {
    // loss recovery: both SYN copies captured. The dup must NOT open a new
    // epoch — and the contract stays observable with a message split across
    // segments that both follow the dup
    val q = dnsQuery("retrans.example.com")
    val f = { val b = new B; b.u16be(q.length).raw(q); b.bytes }
    val (h1, h2) = (f.take(5), f.drop(5))
    val capture = pcapng(Seq(
      tcpV4Segment(7000, Array.empty, syn = true),
      tcpV4Segment(7000, Array.empty, syn = true), // retransmitted SYN
      tcpV4Segment(7001, h1),
      tcpV4Segment(7001 + h1.length, h2)))
    assert(PcapDns.decode(capture).map(_.qname) === Seq("retrans.example.com"))
  }

  test("fixed-ISN port reuse (payload since last SYN) still separates streams") {
    // embedded stacks reuse constant ISNs: same 4-tuple, same ISN, but
    // payload flowed since the last SYN -> genuinely a new connection
    val q1 = dnsQuery("first.example.com")
    val f1 = { val b = new B; b.u16be(q1.length).raw(q1); b.bytes }
    val q2 = dnsQuery("second.example.org")
    val f2 = { val b = new B; b.u16be(q2.length).raw(q2); b.bytes }
    val capture = pcapng(Seq(
      tcpV4Segment(1000, Array.empty, syn = true),
      tcpV4Segment(1001, f1),
      tcpV4Segment(1000, Array.empty, syn = true), // same ISN, after payload
      tcpV4Segment(1001, f2)))
    assert(PcapDns.decode(capture).map(_.qname) ===
      Seq("first.example.com", "second.example.org"))
  }

  test("TCP segments without DNS payload (handshake) and non-53 ports are skipped") {
    // SYN-like: TCP to port 53 with no payload
    val dnsLess = {
      val b = new B
      b.raw(Array.fill(12)(0.toByte)).u16be(0x0800)
      b.u8(0x45).u8(0).u16be(40).u16be(0).u16be(0).u8(64).u8(6).u16be(0)
      Array(10, 0, 0, 1).foreach(b.u8)
      Array(10, 0, 0, 2).foreach(b.u8)
      b.u16be(40001).u16be(53).u32le(0).u32le(0)
        .u8(0x50).u8(0x02).u16be(1024).u16be(0).u16be(0)
      b.bytes
    }
    val wrongPort = udpPacket(Array(10, 0, 0, 3), "x.com")
    wrongPort(14 + 20 + 2) = 0x30 // dst port 53 -> 12341-ish (corrupt the port)
    val recs = PcapDns.decode(pcapng(Seq(dnsLess, wrongPort,
      udpPacket(Array(10, 0, 0, 4), "ok.com"))))
    assert(recs.map(_.qname) === Seq("ok.com"))
  }
}
