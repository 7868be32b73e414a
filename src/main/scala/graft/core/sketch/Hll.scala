package graft.core.sketch

/**
 * From-scratch HyperLogLog implementing the Aggregate Knowledge (AK) storage
 * specification, parameterized like the reference toolkit:
 * log2m=14 (m=16384 registers), regwidth=5 bits, sparse enabled, explicit off
 * (reference: /root/reference/internal/dataset.go:57-65).
 *
 * Interop contract (pinned by tests):
 *  - register update from a raw 64-bit hash h (LSB-first indexing,
 *    /root/reference/internal/interop_test.go:55-61):
 *      index = h & (m-1);  value = 1 + trailingZeros((h >>> log2m) | pwMaxMask)
 *  - serialized bytes follow the AK spec: header
 *      [ (schemaVersion<<4)|type, ((regwidth-1)<<5)|log2m, cutoffByte ]
 *    then SPARSE payload = ascending (log2m+regwidth)-bit words
 *    `(index<<regwidth)|value`, MSB-first bit-packed; FULL payload = all m
 *    registers, regwidth bits each, MSB-first. Golden vectors: one client ->
 *    138e40cc4860, two clients -> 138e40cc487b368c
 *    (/root/reference/internal/interop_test.go:149,187).
 *  - estimator matches segmentio/go-hll (java-hll lineage — classic
 *    Flajolet et al. with linear counting small-range and 2^L large-range
 *    correction, ceil'd): 69 true clients -> estimate 70
 *    (/root/reference/internal/pcap_test.go:27-28).
 *
 * In-memory representation is decoupled from the wire format: a compact
 * open-addressing int->byte map while the register count is small, promoted
 * to a dense byte array past [[Hll.InMemoryPromotion]] non-zero registers.
 * The wire format choice is count-based (SPARSE iff non-zero registers <=
 * floor(m*regwidth/shortWordLen), the size-equality point java-hll uses as
 * its auto sparse threshold), so freshly-built and unioned sketches serialize
 * to the same bytes the reference stack produces.
 *
 * Not thread-safe (one instance per aggregation buffer).
 */
final class Hll(val log2m: Int, val regwidth: Int) extends Serializable {

  import Hll._

  // Supported AK-spec parameter ranges. Tighter than the wire format allows
  // on purpose: regwidth <= 6 keeps register values in [0,63] (signed-byte
  // safe, within the 2^-v table) and pwMaxMask's shift below 63;
  // log2m + regwidth <= 30 keeps sparse short words inside a positive Int.
  // (Also prevents the Int overflow a fromBytes fuzzer caught at log2m=29.)
  require(log2m >= 4 && log2m <= 24, s"log2m out of range: $log2m")
  require(regwidth >= 1 && regwidth <= 6, s"regwidth out of range: $regwidth")

  def this() = this(Hll.DefaultLog2m, Hll.DefaultRegwidth)

  val m: Int = 1 << log2m
  private val idxMask: Long = m - 1L
  // caps register value at 2^regwidth-1 even when the substream is all zeros
  private val pwMaxMask: Long = 1L << ((1 << regwidth) - 2)

  // Three storage modes, promoted in order as registers fill:
  //  1. small:  up to 3 short words packed into one Long field — the
  //     overwhelmingly common partial-aggregation buffer (1-3 pages per
  //     host per map task) allocates NOTHING beyond the Hll object;
  //  2. sparse: open-addressing int->byte map;
  //  3. dense:  flat register array.
  private var small: Long = 0L          // [count:2][slot2:20][slot1:20][slot0:20]
  private var sparse: IntByteMap = null
  private var dense: Array[Byte] = null

  private val shortWord: Int = log2m + regwidth
  private val smallCap: Int = if (shortWord <= 20) 3 else 0

  @inline private def smallCount: Int = ((small >>> 60) & 3L).toInt
  @inline private def smallSlot(i: Int): Int = ((small >>> (20 * i)) & 0xfffffL).toInt

  @inline private def setMax(idx: Int, value: Byte): Unit = {
    if (dense != null) {
      if (value > dense(idx)) dense(idx) = value
    } else if (sparse != null) {
      sparse.setMax(idx, value)
      if (sparse.size > InMemoryPromotion) toDense()
    } else {
      // small mode
      val n = smallCount
      var i = 0
      while (i < n) {
        val w = smallSlot(i)
        if ((w >>> regwidth) == idx) {
          if ((w & ((1 << regwidth) - 1)) < value) {
            val nw = ((idx << regwidth) | value).toLong
            small = (small & ~(0xfffffL << (20 * i))) | (nw << (20 * i))
          }
          return
        }
        i += 1
      }
      if (n < smallCap) {
        val nw = ((idx << regwidth) | value).toLong
        small = (small & ~(3L << 60)) | (nw << (20 * n)) | ((n + 1).toLong << 60)
      } else {
        // overflow: spill small entries into a fresh map, then insert
        toSparse(n + 1)
        sparse.setMax(idx, value)
      }
    }
  }

  /** Switch from small mode to a sparse map that holds `entries` registers
    * without rehashing, or make room for that many in the sparse map. */
  private def toSparse(entries: Int): Unit =
    if (sparse != null) sparse.reserve(entries)
    else {
      val map = new IntByteMap(entries)
      var j = 0
      while (j < smallCount) {
        val w = smallSlot(j)
        map.setMax(w >>> regwidth, (w & ((1 << regwidth) - 1)).toByte)
        j += 1
      }
      small = 0L
      sparse = map
    }

  /** Visit every non-zero register (mode-agnostic read path). */
  @inline private def foreachRegister(f: (Int, Byte) => Unit): Unit = {
    if (dense != null) {
      var i = 0
      while (i < m) { val v = dense(i); if (v != 0) f(i, v); i += 1 }
    } else if (sparse != null) sparse.foreach(f)
    else {
      val n = smallCount
      var i = 0
      while (i < n) {
        val w = smallSlot(i)
        f(w >>> regwidth, (w & ((1 << regwidth) - 1)).toByte)
        i += 1
      }
    }
  }

  /** Switch to the dense register array (from any mode) and return it. */
  private def toDense(): Array[Byte] = {
    if (dense == null) {
      val d = new Array[Byte](m)
      foreachRegister((i, v) => d(i) = v)
      dense = d
      sparse = null
      small = 0L
    }
    dense
  }

  /** Number of registers holding a non-zero value. */
  def nonZeroRegisters: Int =
    if (dense != null) {
      var n = 0; var i = 0
      while (i < m) { if (dense(i) != 0) n += 1; i += 1 }
      n
    } else if (sparse != null) sparse.size
    else smallCount

  def isEmpty: Boolean = nonZeroRegisters == 0

  /** Feed a raw 64-bit hash (already XXH3'd upstream). */
  def addRaw(hash: Long): Unit = {
    val idx = (hash & idxMask).toInt
    val substream = hash >>> log2m
    val value = (1 + java.lang.Long.numberOfTrailingZeros(substream | pwMaxMask)).toByte
    setMax(idx, value)
  }

  /** Register-wise max union. Throws on settings mismatch (strict union,
    * reference /root/reference/internal/dataset.go:253). */
  def union(other: Hll): Unit = {
    require(other.log2m == log2m && other.regwidth == regwidth,
      s"HLL settings mismatch: ($log2m,$regwidth) vs (${other.log2m},${other.regwidth})")
    // storage is sized once, up front: dense when either side is dense or
    // the two register counts sum past InMemoryPromotion, else, when either
    // side is a map, a map with room for both
    if (other.dense != null) { // dense into dense: a plain max loop
      val d = toDense()
      val o = other.dense
      var i = 0
      while (i < m) { if (o(i) > d(i)) d(i) = o(i); i += 1 }
    } else if (dense != null) other.foreachRegister((i, v) => setMax(i, v))
    else {
      val both = nonZeroRegisters + other.nonZeroRegisters
      if (both > InMemoryPromotion) {
        val d = toDense()
        other.foreachRegister((i, v) => if (v > d(i)) d(i) = v)
      } else {
        // two small sketches may overlap and stay small: setMax spills them
        if (sparse != null || other.sparse != null) toSparse(both)
        other.foreachRegister((i, v) => setMax(i, v))
      }
    }
  }

  /**
   * Cardinality estimate, go-hll/java-hll semantics: raw estimator
   * alpha_m * m^2 / sum(2^-reg); linear counting below 2.5m when zero
   * registers exist; 2^L large-range correction; result ceil'd.
   */
  def estimate: Long = {
    var sum = 0.0
    var nonZero = 0
    val inv = Hll.TwoToMinus
    foreachRegister { (_, v) => sum += inv(v); nonZero += 1 }
    val zeroes = m - nonZero
    sum += zeroes.toDouble // each zero register contributes 2^0
    val alphaMSq = (0.7213 / (1.0 + 1.079 / m)) * m * m
    val est = alphaMSq / sum
    val result =
      if (zeroes != 0 && est <= 2.5 * m) m * math.log(m.toDouble / zeroes)
      else {
        // L = log2m + (2^regwidth - 2): largest count of leading-pattern bits
        val twoToL = java.lang.Math.pow(2.0, log2m + (1 << regwidth) - 2)
        if (est > twoToL / 30.0) -twoToL * math.log1p(-est / twoToL)
        else est
      }
    math.ceil(result).toLong
  }

  private def shortWordLen: Int = shortWord
  /** Largest non-zero-register count for which the SPARSE encoding is no
    * larger than FULL — java-hll's auto sparse threshold. */
  private def sparseWireThreshold: Int = m * regwidth / shortWordLen

  /** AK storage-spec bytes (EMPTY / SPARSE / FULL chosen by register count). */
  def toBytes: Array[Byte] = {
    val cutoff = CutoffSparseOnExplicitOff
    val hdr1 = ((regwidth - 1) << 5 | log2m).toByte
    val nz = nonZeroRegisters
    if (nz == 0) {
      Array((SchemaVersion << 4 | TypeEmpty).toByte, hdr1, cutoff)
    } else if (nz <= sparseWireThreshold) {
      // collect (idx, value) pairs sorted ascending by idx
      val words = new Array[Int](nz)
      var n = 0
      foreachRegister { (i, v) => words(n) = (i << regwidth) | v; n += 1 }
      java.util.Arrays.sort(words) // idx in high bits => ascending idx order
      val out = new BitWriter(3 + (nz * shortWordLen + 7) / 8)
      out.byte((SchemaVersion << 4 | TypeSparse).toByte)
      out.byte(hdr1); out.byte(cutoff)
      var k = 0
      while (k < nz) { out.bits(words(k).toLong, shortWordLen); k += 1 }
      out.result()
    } else {
      val out = new BitWriter(3 + (m * regwidth + 7) / 8)
      out.byte((SchemaVersion << 4 | TypeFull).toByte)
      out.byte(hdr1); out.byte(cutoff)
      val d = toDense()
      var i = 0
      while (i < m) { out.bits(d(i).toLong, regwidth); i += 1 }
      out.result()
    }
  }
}

object Hll {
  final val DefaultLog2m = 14
  final val DefaultRegwidth = 5
  final val SchemaVersion = 1
  final val TypeEmpty = 1
  final val TypeExplicit = 2
  final val TypeSparse = 3
  final val TypeFull = 4
  /** cutoff byte: bit6 = sparse-enabled, low bits = explicit cutoff (0=off). */
  final val CutoffSparseOnExplicitOff: Byte = 0x40.toByte

  /** In-memory sparse->dense promotion point (perf only; wire format is
    * chosen independently by count). ~2048 entries is where the open map's
    * footprint crosses the 16 KiB dense array. */
  final val InMemoryPromotion = 2048

  /** 2^-v lookup for the indicator sum (register values fit in [0, 63]). */
  private[sketch] val TwoToMinus: Array[Double] =
    Array.tabulate(64)(v => java.lang.Math.pow(2.0, -v.toDouble))

  def apply(): Hll = new Hll(DefaultLog2m, DefaultRegwidth)

  /** Parse AK storage-spec bytes. Accepts EMPTY/EXPLICIT/SPARSE/FULL.
    * FULL payloads, and SPARSE payloads of more than [[InMemoryPromotion]]
    * words, decode straight into the dense register array. */
  def fromBytes(bytes: Array[Byte]): Hll = {
    require(bytes.length >= 3, s"HLL bytes too short: ${bytes.length}")
    val version = (bytes(0) & 0xf0) >> 4
    val typ = bytes(0) & 0x0f
    require(version == SchemaVersion, s"unsupported HLL schema version $version")
    val regwidth = ((bytes(1) & 0xe0) >> 5) + 1
    val log2m = bytes(1) & 0x1f
    val h = new Hll(log2m, regwidth)
    typ match {
      case TypeEmpty => ()
      case TypeExplicit =>
        // ascending 8-byte big-endian raw hash values
        var off = 3
        while (off + 8 <= bytes.length) {
          var v = 0L
          var i = 0
          while (i < 8) { v = (v << 8) | (bytes(off + i) & 0xffL); i += 1 }
          h.addRaw(v)
          off += 8
        }
      case TypeSparse =>
        val r = new BitReader(bytes, 3)
        val wordLen = log2m + regwidth
        val nWords = (bytes.length - 3) * 8 / wordLen
        val d = if (nWords > InMemoryPromotion) h.toDense() else null
        if (d == null && nWords > h.smallCap) h.toSparse(nWords)
        var k = 0
        while (k < nWords) {
          val w = r.bits(wordLen)
          val idx = (w >>> regwidth).toInt
          val value = (w & ((1 << regwidth) - 1)).toByte
          if (d != null) { if (value > d(idx)) d(idx) = value }
          else if (value != 0) h.setMax(idx, value)
          k += 1
        }
      case TypeFull =>
        val m = 1 << log2m
        val need = 3 + (m * regwidth + 7) / 8
        require(bytes.length >= need,
          s"FULL HLL payload too short: ${bytes.length} < $need")
        val r = new BitReader(bytes, 3)
        val d = h.toDense()
        var i = 0
        while (i < m) { d(i) = r.bits(regwidth).toByte; i += 1 }
      case other => throw new IllegalArgumentException(s"unsupported HLL type $other")
    }
    h
  }

  /** Merge serialized sketches without re-deserializing the accumulator. */
  def unionBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ha = fromBytes(a)
    ha.union(fromBytes(b))
    ha.toBytes
  }
}

/** MSB-first bit packer for AK payloads. Packs straight into a
  * pre-sized array (serialization runs once per partial-aggregation row —
  * tens of millions of times per job — so no ByteArrayOutputStream, whose
  * methods are synchronized, and no growth/copy). */
private[sketch] final class BitWriter(exactSize: Int) {
  private val buf = new Array[Byte](exactSize)
  private var pos = 0
  private var acc = 0L
  private var nbits = 0
  def byte(b: Byte): Unit = { buf(pos) = b; pos += 1 }
  def bits(v: Long, n: Int): Unit = {
    acc = (acc << n) | (v & ((1L << n) - 1))
    nbits += n
    while (nbits >= 8) {
      buf(pos) = ((acc >>> (nbits - 8)) & 0xff).toByte
      pos += 1
      nbits -= 8
    }
  }
  def result(): Array[Byte] = {
    if (nbits > 0) {
      buf(pos) = ((acc << (8 - nbits)) & 0xff).toByte
      pos += 1
      nbits = 0
    }
    if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)
  }
}

/** MSB-first bit reader for AK payloads. Reads whole bytes into a 64-bit
  * window, only as far as the bits asked for; `n` is at most 56. */
private[sketch] final class BitReader(bytes: Array[Byte], startOff: Int) {
  private var off = startOff
  private var acc = 0L
  private var nbits = 0
  def bits(n: Int): Long = {
    while (nbits < n) {
      acc = (acc << 8) | (bytes(off) & 0xffL)
      off += 1
      nbits += 8
    }
    nbits -= n
    (acc >>> nbits) & ((1L << n) - 1)
  }
}

/**
 * Minimal open-addressing int-key -> byte-value map with max-merge semantics,
 * used as the HLL's compact sparse register store (~5 bytes/slot vs ~48 for
 * boxed HashMap entries; matters because one HLL buffer lives per group in
 * Spark's object-hash aggregation map).
 */
private[sketch] final class IntByteMap(entries: Int) extends Serializable {
  private var cap = IntByteMap.capacity(entries)
  private var keys = new Array[Int](cap)
  private var vals = new Array[Byte](cap)
  private var used = new Array[Boolean](cap)
  private var _size = 0

  def size: Int = _size

  def setMax(key: Int, value: Byte): Unit = {
    var i = mix(key) & (cap - 1)
    while (used(i) && keys(i) != key) i = (i + 1) & (cap - 1)
    if (!used(i)) {
      used(i) = true; keys(i) = key; vals(i) = value; _size += 1
      if (_size * 10 > cap * 7) rehash(cap << 1)
    } else if (value > vals(i)) vals(i) = value
  }

  /** Make room for `n` entries without a further rehash. */
  def reserve(n: Int): Unit = {
    val c = IntByteMap.capacity(n)
    if (c > cap) rehash(c)
  }

  def foreach(f: (Int, Byte) => Unit): Unit = {
    var i = 0
    while (i < cap) { if (used(i)) f(keys(i), vals(i)); i += 1 }
  }

  @inline private def mix(k: Int): Int = {
    val h = k * 0x9E3779B1L.toInt
    h ^ (h >>> 16)
  }

  private def rehash(newCap: Int): Unit = {
    val ok = keys; val ov = vals; val ou = used; val ocap = cap
    cap = newCap
    keys = new Array[Int](cap); vals = new Array[Byte](cap); used = new Array[Boolean](cap)
    _size = 0
    var i = 0
    while (i < ocap) { if (ou(i)) setMax(ok(i), ov(i)); i += 1 }
  }
}

private[sketch] object IntByteMap {
  /** The power-of-two slot count that holds `entries` under the 0.7 load
    * factor (at least 16). */
  def capacity(entries: Int): Int =
    Integer.highestOneBit(math.max(entries * 10 / 7 + 1, 16) * 2 - 1)
}
