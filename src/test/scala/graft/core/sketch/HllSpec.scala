package graft.core.sketch

import org.scalatest.funsuite.AnyFunSuite
import graft.core.hash.XXH3

class HllSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def hashOf(ip: String): Long = {
    val t = graft.core.net.IpUtil.truncate(ip)
    assert(t != null, s"ip $ip")
    XXH3.hash(t)
  }

  test("golden serialized bytes after 1 and 2 inserts (reference interop)") {
    val h = Hll()
    h.addRaw(hashOf("192.0.2.1"))
    assert(hex(h.toBytes) === "138e40cc4860")
    h.addRaw(hashOf("2001:503:ba3e::2:30"))
    assert(hex(h.toBytes) === "138e40cc487b368c")
  }

  test("empty sketch serializes as 3-byte EMPTY header, estimate 0") {
    val h = Hll()
    assert(hex(h.toBytes) === "118e40")
    assert(h.estimate === 0L)
    val back = Hll.fromBytes(h.toBytes)
    assert(back.estimate === 0L)
  }

  test("deserialize roundtrip across representations") {
    val rnd = new java.util.Random(5)
    for (n <- Seq(1, 2, 50, 1000, 4000, 4312, 8000, 20000, 100000)) {
      val h = Hll()
      var i = 0
      while (i < n) { h.addRaw(rnd.nextLong()); i += 1 }
      val bytes = h.toBytes
      val back = Hll.fromBytes(bytes)
      assert(back.estimate === h.estimate, s"n=$n")
      assert(hex(back.toBytes) === hex(bytes), s"n=$n reserialize")
      // wire type: SPARSE until 4311 non-zero registers, then FULL
      val typ = bytes(0) & 0x0f
      if (h.nonZeroRegisters <= 16384 * 5 / 19) assert(typ === Hll.TypeSparse, s"n=$n")
      else assert(typ === Hll.TypeFull, s"n=$n")
    }
  }

  test("union = register-wise max; commutative, associative, idempotent") {
    val rnd = new java.util.Random(11)
    val sets = Array.fill(3)(Array.fill(5000)(rnd.nextLong()))
    def build(xs: Array[Long]*): Hll = {
      val h = Hll(); xs.foreach(_.foreach(h.addRaw)); h
    }
    val a = build(sets(0)); val b = build(sets(1)); val c = build(sets(2))
    // (a ∪ b) ∪ c == a ∪ (b ∪ c), byte-identical
    val ab = Hll.unionBytes(a.toBytes, b.toBytes)
    val abc1 = Hll.unionBytes(ab, c.toBytes)
    val bc = Hll.unionBytes(b.toBytes, c.toBytes)
    val abc2 = Hll.unionBytes(a.toBytes, bc)
    assert(hex(abc1) === hex(abc2))
    // commutative
    assert(hex(Hll.unionBytes(a.toBytes, b.toBytes)) === hex(Hll.unionBytes(b.toBytes, a.toBytes)))
    // idempotent
    assert(hex(Hll.unionBytes(a.toBytes, a.toBytes)) === hex(a.toBytes))
    // union equals single-pass build over the concatenation
    val all = build(sets: _*)
    assert(hex(abc1) === hex(all.toBytes))
  }

  test("union across in-memory modes (small, sparse, dense) == build over the concatenation") {
    val rnd = new java.util.Random(13)
    val sizes = Seq(2, 300, 3000, 20000) // small, sparse map, dense, dense FULL
    val sets = sizes.map(n => Array.fill(n)(rnd.nextLong()))
    def build(xs: Array[Long]*): Hll = { val h = Hll(); xs.foreach(_.foreach(h.addRaw)); h }
    for (a <- sets; b <- sets) {
      val viaUnion = build(a)
      viaUnion.union(build(b))
      val viaBytes = Hll.fromBytes(build(a).toBytes)
      viaBytes.union(Hll.fromBytes(build(b).toBytes))
      val want = hex(build(a, b).toBytes)
      assert(hex(viaUnion.toBytes) === want, s"${a.length} into ${b.length}")
      assert(hex(viaBytes.toBytes) === want, s"${a.length} into ${b.length}, decoded")
    }
  }

  test("settings mismatch rejected on union (strict union)") {
    val a = Hll()
    val b = new Hll(11, 5)
    b.addRaw(42L)
    assertThrows[IllegalArgumentException] { a.union(b) }
  }

  test("estimate accuracy within published bound over random cardinalities") {
    // 1.04/sqrt(2^14) = 0.8125% is the 1-sigma bound; allow 3 sigma with
    // fixed seeds so the test is deterministic and non-flaky.
    val rnd = new java.util.Random(7)
    for (n <- Seq(10, 100, 1000, 10000, 100000, 1000000)) {
      val h = Hll()
      val seen = new java.util.HashSet[java.lang.Long]()
      while (seen.size < n) {
        val v = rnd.nextLong()
        if (seen.add(v)) h.addRaw(v)
      }
      val err = math.abs(h.estimate.toDouble - n) / n
      assert(err <= 3 * 0.008125, s"n=$n est=${h.estimate} err=$err")
    }
  }

  test("explicit wire type parses (foreign sketches)") {
    // 2 raw 8-byte big-endian values, type=EXPLICIT
    val vals = Seq(hashOf("192.0.2.1"), hashOf("2001:503:ba3e::2:30"))
    val bb = java.nio.ByteBuffer.allocate(3 + 16)
    bb.put(0x12.toByte).put(0x8e.toByte).put(0x40.toByte)
    vals.foreach(bb.putLong)
    val h = Hll.fromBytes(bb.array())
    assert(hex(h.toBytes) === "138e40cc487b368c")
  }

  test("fromBytes never crashes on fuzzed/truncated inputs (error or valid sketch)") {
    val rnd = new java.util.Random(77)
    var parsed = 0
    (1 to 2000).foreach { _ =>
      val len = rnd.nextInt(64)
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      try { Hll.fromBytes(b); parsed += 1 }
      catch {
        case _: IllegalArgumentException => () // the contract
        case e: Throwable => fail(s"unexpected ${e.getClass} on ${b.map(x => f"$x%02x").mkString}")
      }
    }
    // truncating a real FULL sketch must raise cleanly, not overrun
    val h = Hll()
    (1 to 20000).foreach(i => h.addRaw(rnd.nextLong()))
    val full = h.toBytes
    assert((full(0) & 0x0f) === Hll.TypeFull)
    assertThrows[IllegalArgumentException] {
      Hll.fromBytes(java.util.Arrays.copyOf(full, full.length / 2))
    }
  }

  test("magnitude edge cases match the reference arithmetic (unclamped, Inf/NaN)") {
    def mag(c: Long, t: Long) = math.log(c.toDouble) / math.log(t.toDouble) * 10
    assert(mag(5, 1).isInfinity)        // total=1 -> log(1)=0 divisor
    assert(mag(1, 1).isNaN)             // 0/0
    assert(mag(200, 100) > 10.0)        // domain est > total est -> >10, unclamped
  }
}
