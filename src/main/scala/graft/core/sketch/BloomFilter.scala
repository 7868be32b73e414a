package graft.core.sketch

/**
 * Bloom filter over pre-hashed 64-bit keys (Bloom 1970; double-hashing
 * scheme per Kirsch & Mitzenmacher 2006). north_star: "Bloom membership on
 * url". No false negatives; false-positive probability for n inserted keys:
 * (1 - e^(-k*n/m))^k — with the default m=2^20 bits, k=7, n=10^5: ~0.7%.
 *
 * Merge = bitwise OR (same params); associative, commutative, idempotent.
 *
 * Wire format: [magic 'B','F', ver 1, k u8] [log2bits u8] [pad 3] + bit
 * words i64 BE.
 */
final class BloomFilter private (val numHashes: Int, val log2Bits: Int, val words: Array[Long]) extends Serializable {

  def this(numHashes: Int = BloomFilter.DefaultHashes, log2Bits: Int = BloomFilter.DefaultLog2Bits) =
    this(numHashes, log2Bits, new Array[Long](1 << (log2Bits - 6)))

  require(log2Bits >= 6 && log2Bits <= 36, s"log2Bits $log2Bits")
  require(numHashes >= 1 && numHashes <= 64, s"numHashes $numHashes")

  private val bitMask = (1L << log2Bits) - 1

  @inline private def bitIdx(hash: Long, i: Int): Long = {
    val h2 = (hash >>> 32) * 0xC2B2AE3D27D4EB4FL | 1L
    (hash + i * h2) & bitMask
  }

  def add(hash: Long): Unit = {
    var i = 0
    while (i < numHashes) {
      val b = bitIdx(hash, i)
      words((b >>> 6).toInt) |= 1L << (b & 63)
      i += 1
    }
  }

  def mightContain(hash: Long): Boolean = {
    var i = 0
    while (i < numHashes) {
      val b = bitIdx(hash, i)
      if ((words((b >>> 6).toInt) & (1L << (b & 63))) == 0) return false
      i += 1
    }
    true
  }

  def merge(other: BloomFilter): Unit = {
    require(other.numHashes == numHashes && other.log2Bits == log2Bits,
      s"Bloom params mismatch: ($numHashes,$log2Bits) vs (${other.numHashes},${other.log2Bits})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * words.length)
    bb.put('B'.toByte).put('F'.toByte).put(1.toByte).put(numHashes.toByte)
      .put(log2Bits.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }
}

object BloomFilter {
  final val DefaultHashes = 7
  final val DefaultLog2Bits = 20 // 2^20 bits = 128 KiB

  def apply(): BloomFilter = new BloomFilter(DefaultHashes, DefaultLog2Bits)

  def fromBytes(bytes: Array[Byte]): BloomFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.remaining >= 8, "Bloom bytes too short")
    require(bb.get() == 'B' && bb.get() == 'F', "bad Bloom magic")
    val ver = bb.get()
    require(ver == 1, s"unsupported Bloom version $ver")
    val k = bb.get() & 0xff
    val log2Bits = bb.get() & 0xff
    bb.get(); bb.get(); bb.get()
    // validate the untrusted header BEFORE allocating: an 8-byte input
    // claiming log2Bits=36 would otherwise force an 8 GiB allocation
    // attempt (executor OOM) before any size check fires
    require(log2Bits >= 6 && log2Bits <= 34, s"Bloom log2Bits out of range: $log2Bits")
    require(k >= 1, s"Bloom hash count out of range: $k")
    val nWords = 1 << (log2Bits - 6)
    require(bb.remaining == 8 * nWords,
      s"Bloom payload size mismatch: ${bb.remaining} bytes for $nWords words")
    val words = new Array[Long](nWords)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    new BloomFilter(k, log2Bits, words)
  }

  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ba = fromBytes(a); ba.merge(fromBytes(b)); ba.toBytes
  }
}
