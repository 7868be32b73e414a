package graft.core.net

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck property for DNS-over-TCP reassembly: a stream of length-framed
  * DNS queries, cut at ARBITRARY byte positions into segments that arrive in
  * ARBITRARY order with ARBITRARY duplications, decodes to exactly the same
  * question list as the uncut stream. */
object PcapReassemblyPropertySpec extends Properties("pcap-tcp-reassembly") {

  import PcapBytes._

  private def tcpV6Segment(seq: Long, payload: Array[Byte]): Array[Byte] = {
    val b = new B
    b.raw(Array.fill(12)(0.toByte)).u16be(0x86dd)
    b.u8(0x60).u8(0).u8(0).u8(0)
    b.u16be(20 + payload.length).u8(6).u8(64)
    b.u8(0x20).u8(0x01).u8(0x0d).u8(0xb8)
    b.raw(Array.fill(11)(0.toByte)).u8(0x42)
    b.raw(Array.fill(15)(0.toByte)).u8(1)
    b.u16be(40001).u16be(53)
    b.u8(((seq >> 24) & 0xff).toInt).u8(((seq >> 16) & 0xff).toInt)
      .u8(((seq >> 8) & 0xff).toInt).u8((seq & 0xff).toInt)
    b.u32le(0).u8(0x50).u8(0x18).u16be(1024).u16be(0).u16be(0)
    b.raw(payload)
    b.bytes
  }

  private def pcapng(packets: Seq[Array[Byte]]): Array[Byte] = {
    val b = new B
    b.u32le(0x0a0d0d0aL).u32le(28).u32le(0x1a2b3c4dL).u16le(1).u16le(0)
      .u32le(0xffffffffL).u32le(0xffffffffL).u32le(28)
    b.u32le(1).u32le(20).u16le(1).u16le(0).u32le(0x40000).u32le(20)
    packets.zipWithIndex.foreach { case (p, i) =>
      val padded = (p.length + 3) & ~3
      val total = 32 + padded
      val ts = 946684800000000L + i
      b.u32le(6).u32le(total).u32le(0)
      b.u32le(ts >>> 32).u32le(ts & 0xffffffffL)
      b.u32le(p.length).u32le(p.length)
      b.raw(p)
      (p.length until padded).foreach(_ => b.u8(0))
      b.u32le(total)
    }
    b.bytes
  }
  private val label: Gen[String] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar)).map(_.mkString)

  private val qnameGen: Gen[String] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, label)).map(_.mkString("."))

  private val streamGen: Gen[(List[String], Array[Byte])] = for {
    k <- Gen.choose(1, 4)
    names <- Gen.listOfN(k, qnameGen)
  } yield {
    val b = new B
    names.foreach { n =>
      val m = dnsQuery(n)
      b.u16be(m.length).raw(m)
    }
    (names, b.bytes)
  }

  property("any cut points, any arrival order, any duplication == uncut decode") =
    Prop.forAll(streamGen, Gen.choose(0L, 0xffffff00L), Gen.long, Gen.long) {
      case ((names, stream), baseSeq, permSeed, dupSeed) =>
        val rnd = new java.util.Random(permSeed)
        val nCuts = rnd.nextInt(math.min(8, stream.length))
        val cuts = (0 +: Seq.fill(nCuts)(1 + rnd.nextInt(stream.length - 1)) :+ stream.length)
          .distinct.sorted
        val segs = cuts.sliding(2).map { case Seq(a, z) =>
          tcpV6Segment(baseSeq + a, stream.slice(a, z))
        }.toVector
        val dupRnd = new java.util.Random(dupSeed)
        val withDups =
          if (segs.nonEmpty && dupRnd.nextBoolean()) segs :+ segs(dupRnd.nextInt(segs.length))
          else segs
        val shuffled = {
          val arr = withDups.toBuffer
          // Fisher-Yates with the seeded rng (deterministic per case)
          for (i <- arr.indices.reverse; if i > 0) {
            val j = rnd.nextInt(i + 1)
            val t = arr(i); arr(i) = arr(j); arr(j) = t
          }
          arr.toSeq
        }
        val got = PcapDns.decode(pcapng(shuffled)).map(_.qname)
        val want = names.map(_.split('.').filter(_.nonEmpty).mkString("."))
        Prop(got == want) :| s"got=$got want=$want cuts=$cuts"
    }
}
