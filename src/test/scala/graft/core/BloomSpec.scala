package graft.core

import org.scalatest.funsuite.AnyFunSuite

class BloomSpec extends AnyFunSuite {

  /** Well-spread 64-bit keys, as the pipeline's xxhash64 keys are. */
  private def keys(seed: Long, n: Int): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(rnd.nextLong())
  }

  test("no false negatives") {
    val bf = Bloom.create(1000, 0.01)
    val ks = keys(1, 1000)
    ks.foreach(bf.put)
    ks.foreach(k => assert(bf.mightContain(k)))
  }

  test("false positive rate is roughly as configured") {
    val bf = Bloom.create(10000, 0.01)
    keys(2, 10000).foreach(bf.put)
    val fps = keys(3, 10000).count(bf.mightContain)
    assert(fps < 300, s"fp count $fps")
  }

  test("merge is bitwise union of key sets") {
    val a = Bloom.create(100, 0.01)
    val b = Bloom.create(100, 0.01)
    a.put(17L); b.put(-42L)
    a.mergeInPlace(b)
    assert(a.mightContain(17L) && a.mightContain(-42L))
  }

  test("export/wrap round-trips") {
    val a = Bloom.create(100, 0.01)
    a.put(0x1234567890abcdefL)
    val b = Bloom.wrap(a.numBits, a.numHashes, a.bits.clone())
    assert(b.mightContain(0x1234567890abcdefL))
    assert(b.bits.sameElements(a.bits))
  }

  test("default 10M/1% sizing has numBits not divisible by 64 and still works") {
    // regression: a bit array sized nb>>>6 (round DOWN) is one word short
    // whenever numBits % 64 != 0 — hashes landing in the last partial word
    // then throw ArrayIndexOutOfBoundsException
    val proto = Bloom.create(10000000L, 0.01)
    assert(proto.numBits % 64 != 0, "sizing regression guard expects a non-multiple")
    val wrapped = Bloom.wrap(proto.numBits, proto.numHashes,
      new Array[Long]((proto.numBits + 63) >>> 6))
    val ks = keys(4, 50000)
    ks.foreach(wrapped.put)
    ks.foreach(k => assert(wrapped.mightContain(k)))
  }

  test("long-key path: no false negatives, plausible fp rate") {
    val bf = Bloom.create(10000, 0.01)
    val keys = (0L until 10000L).map(i => (i << 32) | (i + 1))
    keys.foreach(bf.put)
    keys.foreach(k => assert(bf.mightContain(k)))
    val fps = (20000L until 30000L).count(bf.mightContain)
    assert(fps < 300, s"fp count $fps")
  }
}
