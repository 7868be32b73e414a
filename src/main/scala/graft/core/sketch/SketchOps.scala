package graft.core.sketch

/**
 * Static, Java-callable facade over the sketch cores, used by generated code
 * (whole-stage codegen emits plain Java, which can call the static
 * forwarders of this object). Keeping these one-liners here lets every
 * estimator expression stay inside codegen instead of falling back to
 * interpreted eval.
 */
object SketchOps {
  def hllEst(bytes: Array[Byte]): Long = Hll.fromBytes(bytes).estimate
  def hllUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.unionBytes(a, b)

  def cmsEst(bytes: Array[Byte], hash: Long): Long = CountMin.fromBytes(bytes).estimate(hash)

  def bloomContains(bytes: Array[Byte], hash: Long): Boolean =
    BloomFilter.fromBytes(bytes).mightContain(hash)

  def tdigestQuantile(bytes: Array[Byte], q: Double): Double =
    TDigest.fromBytes(bytes).quantile(q)
  def tdigestCdf(bytes: Array[Byte], x: Double): Double = TDigest.fromBytes(bytes).cdf(x)

  def kllQuantile(bytes: Array[Byte], q: Double): Double = Kll.fromBytes(bytes).quantile(q)

  /** n-1 equi-height split points (quantiles at i/n for i in 1..n-1). */
  def kllSplits(bytes: Array[Byte], buckets: Int): Array[Double] = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val k = Kll.fromBytes(bytes)
    Array.tabulate(buckets - 1)(i => k.quantile((i + 1).toDouble / buckets))
  }
  def kllRank(bytes: Array[Byte], x: Double): Double = Kll.fromBytes(bytes).rank(x)

  def kmvEst(bytes: Array[Byte]): Double = Kmv.fromBytes(bytes).estimate
  def kmvHashes(bytes: Array[Byte]): Array[Long] = Kmv.fromBytes(bytes).values
  def kmvJaccard(a: Array[Byte], b: Array[Byte]): Double =
    Kmv.jaccard(Kmv.fromBytes(a), Kmv.fromBytes(b))

  def fiErr(bytes: Array[Byte]): Long = FreqItems.fromBytes(bytes).errBound
  def fiLowerBound(bytes: Array[Byte], hash: Long): Long =
    FreqItems.fromBytes(bytes).lowerBound(hash)
}
