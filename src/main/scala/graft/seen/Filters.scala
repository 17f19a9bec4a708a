package graft.seen

import graft.expressions.ExprOps

/** Mergeable bloom filter over Long keys (the url_hash domain).
  * Double-hashing (Kirsch-Mitzenmacher) over a long-array bitset; `union`
  * is bitwise OR, which is what makes per-partition segments mergeable in
  * a classic 2-phase aggregation. No false negatives ever; false positives
  * are confirmed against the exact store by [[SeenSet]] (SURVEY.md §7.5.2:
  * byte-identical membership needs bloom + exact confirm).
  */
final class LongBloom(val numBits: Long, val numHashes: Int) extends Serializable {
  require(numBits > 0 && (numBits & 63) == 0, "numBits must be a positive multiple of 64")
  val words = new Array[Long]((numBits >> 6).toInt)

  @inline private def h1(x: Long): Long = ExprOps.mix(x)
  @inline private def h2(x: Long): Long = ExprOps.mix(x ^ 0x9e3779b97f4a7c15L) | 1L

  def put(x: Long): Unit = {
    val a = h1(x); val b = h2(x)
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, numBits)
      words((bit >> 6).toInt) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(x: Long): Boolean = {
    val a = h1(x); val b = h2(x)
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, numBits)
      if ((words((bit >> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Bitwise-OR merge (partial → final). Shapes must match. */
  def union(other: LongBloom): LongBloom = {
    require(other.numBits == numBits && other.numHashes == numHashes)
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    this
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + words.length * 8)
    bb.putLong(numBits); bb.putInt(numHashes)
    words.foreach(bb.putLong)
    bb.array()
  }
}

object LongBloom {
  /** Bits for `expectedItems` at `fpp` (m = -n ln(fpp)/ln(2)^2), rounded
    * up to a multiple of 64. */
  def numBits(expectedItems: Long, fpp: Double): Long = {
    val n = math.max(1L, expectedItems)
    val m0 = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    ((m0 + 63) / 64) * 64
  }

  /** Size for `expectedItems` at `fpp` (standard formulas). */
  def create(expectedItems: Long, fpp: Double): LongBloom = {
    val n = math.max(1L, expectedItems)
    val m = numBits(n, fpp)
    val k = math.max(1, math.round((m.toDouble / n) * math.log(2)).toInt)
    new LongBloom(m, k)
  }

  def deserialize(bytes: Array[Byte]): LongBloom = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val bits = bb.getLong(); val k = bb.getInt()
    val f = new LongBloom(bits, k)
    var i = 0
    while (i < f.words.length) { f.words(i) = bb.getLong(); i += 1 }
    f
  }
}
