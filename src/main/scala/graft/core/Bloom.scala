package graft.core

/** Plain Bloom filter over 64-bit keys.
  *
  * The reference builds its frequency filters on a modified Guava
  * (reference README.md:22-26). Exact hash/FPP parity is not required —
  * only set semantics (no false negatives; bitwise union ≈ set union) — so
  * this is a fresh implementation: double hashing from two seeded fmix64
  * variants of the key, bits stored as Array[Long] so the filter is
  * directly Spark-serializable and mergeable across partitions. Every key
  * the engine filters on is already an `xxhash64` long (a condition, a
  * capture, a shingle), so no key is ever stringified.
  */
final class BloomFilter(val numBits: Int, val numHashes: Int, val bits: Array[Long])
    extends Serializable {

  def put(key: Long): Unit = {
    val h1 = Bloom.longHash1(key)
    val h2 = Bloom.longHash2(key)
    var i = 0
    while (i < numHashes) {
      val idx = Bloom.index(h1, h2, i, numBits)
      bits(idx >>> 6) |= (1L << (idx & 63))
      i += 1
    }
  }

  def mightContain(key: Long): Boolean = {
    val h1 = Bloom.longHash1(key)
    val h2 = Bloom.longHash2(key)
    var i = 0
    while (i < numHashes) {
      val idx = Bloom.index(h1, h2, i, numBits)
      if ((bits(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Bitwise union — equivalent to having inserted both key sets. */
  def mergeInPlace(other: BloomFilter): BloomFilter = {
    require(other.numBits == numBits && other.numHashes == numHashes)
    var i = 0
    while (i < bits.length) { bits(i) |= other.bits(i); i += 1 }
    this
  }
}

object Bloom {
  @inline private[core] def index(h1: Int, h2: Int, i: Int, numBits: Int): Int = {
    val combined = (h1.toLong + i.toLong * h2.toLong) & Long.MaxValue
    (combined % numBits).toInt
  }

  /** Murmur3 64-bit finalizer — full avalanche, so the two seeded variants
    * below behave as independent hash functions for double hashing. */
  @inline private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  @inline private[core] def longHash1(key: Long): Int =
    fmix64(key ^ 0x9747b28cL).toInt

  @inline private[core] def longHash2(key: Long): Int =
    (fmix64(key ^ 0x5bd1e995L) >>> 32).toInt

  /** Standard sizing: m = -n ln p / (ln 2)^2, k = m/n ln 2. */
  def create(expectedInsertions: Long, fpp: Double): BloomFilter = {
    val n = math.max(1L, expectedInsertions)
    val m0 = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val m = math.min(m0, Int.MaxValue.toLong - 64).toInt.max(64)
    val k = math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)
    new BloomFilter(m, k, new Array[Long]((m + 63) >>> 6))
  }

  def wrap(numBits: Int, numHashes: Int, bits: Array[Long]): BloomFilter =
    new BloomFilter(numBits, numHashes, bits)
}
