package graft.cind

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The unordered pair-count kernel: for every pair of captures co-occurring
  * in a join line, the number of lines holding both — the reference's
  * OverlapSet (data/OverlapSet.scala) — floored at `minSupport`.
  *
  * A sort-based group-by in two sides (the spill-safe physical plan
  * Pregelix argues for on high-cardinality counts), instead of a hash
  * aggregate over one row per pair key:
  *
  *   map side — each task sorts every line's ids once and writes every
  *     `i < j` pair key `ids(i) << 32 | ids(j)` (dep < ref; equal ids are
  *     skipped) into a primitive buffer of fixed capacity. A full buffer
  *     is sorted, run-length counted, and written as delta-varint
  *     `(pk delta, n)` blocks, one per hash bucket of the dep id: all keys
  *     of a dep share a bucket, so consecutive keys of a block mostly
  *     differ in the ref id only and their deltas take a byte or two. The
  *     delta's low bit flags whether a count follows; the common run of
  *     one carries none.
  *   reduce side — the blocks shuffle by bucket through a `repartition`
  *     plus a `sortWithinPartitions` on the bucket (Spark's external sort,
  *     so the reduce side spills instead of failing); each bucket's sorted
  *     blocks are merged, their runs summed, and every key with
  *     `n < minSupport` dropped before anything leaves the task.
  *
  * Hub lines keep the [[CindEngine.SplitThreshold]] skew split: a line
  * wider than the threshold becomes `ceil(w / t)` work units that share its
  * id array, unit `s` emitting the pairs whose lower id sits at sorted
  * positions `s, s + units, s + 2 units, …` (so every unit does about the
  * same work), and the units are round-robined across tasks. Counting is
  * insensitive to how the pairs are split, so results do not depend on the
  * threshold, the buffer capacity or the bucket count (PairCountsSpec). */
private[cind] object PairCounts {

  /** Pair keys a map task buffers before it sorts and codes them (8 MB).
    * The buffer starts at [[InitialBuffer]] keys, so small partitions never
    * allocate the 8 MB, and jumps to full size in one step once a partition
    * fills it: on a 2 GB heap every array past 512 KB is a humongous G1
    * allocation, and a doubling chain of them raised narrow_lines' peak RSS
    * by about 180 MB. */
  val BufferCapacity: Int = 1 << 20

  private val InitialBuffer = 1 << 12

  /** Hash buckets of the key space: the unit of the reduce-side merge. */
  val Buckets: Int = 1024

  /** Buffer and bucket sizes. Only tests shrink them, to force many
    * flushes and many buckets per partition on small inputs. */
  final case class Sizes(bufferCapacity: Int = BufferCapacity, buckets: Int = Buckets) {
    require(bufferCapacity > 0 && buckets > 0, s"positive sizes required, got $this")
  }

  /** `(pk, n)` for every unordered pair key `pk = dep << 32 | ref`
    * (dep < ref), `n` the number of lines holding both ids, kept iff
    * `n >= minSupport`. `lines` carries an `ids ARRAY<LONG>` column of
    * duplicate-free ids below 2^32. */
  def apply(lines: DataFrame, minSupport: Int, splitThreshold: Int,
      sizes: Sizes = Sizes()): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val Sizes(capacity, buckets) = sizes
    val blocks = units(lines, splitThreshold).mapPartitions { it =>
      val pairs = new PairCursor(it)
      var buf = new Array[Long](math.min(capacity, InitialBuffer))
      val coder = new BlockCoder(buckets)
      Iterator.continually {
        var len = pairs.fill(buf, 0)
        if (len == buf.length && buf.length < capacity) {
          buf = java.util.Arrays.copyOf(buf, capacity)
          len = pairs.fill(buf, len)
        }
        len
      }.takeWhile(_ > 0).flatMap(len => coder.encode(buf, len))
    }
    blocks.toDF("bucket", "block")
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket")
      .as[(Int, Array[Byte])]
      .mapPartitions(it => new BucketMerge(it.buffered, minSupport))
      .toDF("pk", "n")
  }

  /** Work units `(ids, first, stride)`: narrow lines whole, wide lines
    * sliced and round-robined (see the object doc). Lines with fewer than
    * two ids have no pair and drop out. */
  private def units(lines: DataFrame, splitThreshold: Int): Dataset[(Array[Long], Int, Int)] = {
    require(splitThreshold > 0, s"splitThreshold must be positive, got $splitThreshold")
    import lines.sparkSession.implicits._
    val w = size(col("ids"))
    val narrow = lines.filter(w > 1 && w <= splitThreshold)
      .select(col("ids"), lit(0).as("first"), lit(1).as("stride"))
    val stride = (floor((w - 1) / lit(splitThreshold)) + 1).cast("int")
    val wide = lines.filter(w > splitThreshold)
      .select(col("ids"), explode(sequence(lit(0), stride - 1)).as("first"), stride.as("stride"))
      .repartition() // round-robin the few replicated hub slices
    narrow.unionAll(wide).as[(Array[Long], Int, Int)]
  }

  /** Resumable pair-key enumeration over a partition's work units. */
  private final class PairCursor(units: Iterator[(Array[Long], Int, Int)]) {
    private var ids = Array.emptyLongArray
    private var i = 0
    private var j = 1
    private var stride = 1

    /** Writes the next pair keys into `buf` from index `from` and returns
      * the index past the last one written: `from` once the units are
      * exhausted. */
    def fill(buf: Array[Long], from: Int): Int = {
      var len = from
      while (len < buf.length && nextDep()) {
        val a = ids(i)
        val hi = a << 32
        while (j < ids.length && len < buf.length) {
          val b = ids(j)
          if (b != a) { buf(len) = hi | b; len += 1 }
          j += 1
        }
        if (j >= ids.length) { i += stride; j = i + 1 }
      }
      len
    }

    /** Positions the cursor on a dep that exists, loading units as needed. */
    private def nextDep(): Boolean = {
      while (i >= ids.length) {
        if (!units.hasNext) return false
        val (next, first, s) = units.next()
        java.util.Arrays.sort(next)
        ids = next; i = first; j = first + 1; stride = s
      }
      true
    }
  }

  /** Bucket of a pair key: a murmur3 fmix64 hash of its dep id. */
  @inline private def bucketOf(pk: Long, buckets: Int): Int = {
    var h = pk >>> 32
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    ((h & Long.MaxValue) % buckets).toInt
  }

  /** Growable byte array with unsigned LEB128 varint writes. */
  private final class ByteSink {
    var bytes = new Array[Byte](64)
    var size = 0
    def putVarLong(v0: Long): Unit = {
      if (size + 10 > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, size + 10))
      var v = v0
      while ((v & ~0x7FL) != 0L) { bytes(size) = ((v & 0x7F) | 0x80).toByte; size += 1; v >>>= 7 }
      bytes(size) = v.toByte; size += 1
    }
  }

  /** Map side of one flush: sort, run-length count, and split the runs
    * into one delta-varint block per bucket. The sinks are reused across
    * flushes; only the blocks emitted are copied out. */
  private final class BlockCoder(buckets: Int) {
    private val sinks = new Array[ByteSink](buckets)
    private val last = new Array[Long](buckets)

    def encode(buf: Array[Long], len: Int): Iterator[(Int, Array[Byte])] = {
      java.util.Arrays.sort(buf, 0, len)
      java.util.Arrays.fill(last, 0L)
      var k = 0
      while (k < len) {
        val pk = buf(k)
        var e = k + 1
        while (e < len && buf(e) == pk) e += 1
        val b = bucketOf(pk, buckets)
        if (sinks(b) == null) sinks(b) = new ByteSink
        val n = e - k
        sinks(b).putVarLong((pk - last(b)) << 1 | (if (n == 1) 0L else 1L))
        if (n != 1) sinks(b).putVarLong(n.toLong)
        last(b) = pk
        k = e
      }
      val out = Array.newBuilder[(Int, Array[Byte])]
      var b = 0
      while (b < buckets) {
        val s = sinks(b)
        if (s != null && s.size > 0) {
          out += ((b, java.util.Arrays.copyOf(s.bytes, s.size)))
          s.size = 0
        }
        b += 1
      }
      out.result().iterator
    }
  }

  /** Reads one block's runs in key order. */
  private final class RunReader(block: Array[Byte]) {
    private var pos = 0
    var pk = 0L
    var n = 0L
    def advance(): Boolean =
      if (pos >= block.length) false
      else {
        val head = varLong()
        pk += head >>> 1
        n = if ((head & 1L) == 0L) 1L else varLong()
        true
      }
    private def varLong(): Long = {
      var v = 0L; var shift = 0; var b = 0
      while ({ b = block(pos); pos += 1; v |= (b & 0x7FL) << shift; shift += 7; b < 0 }) ()
      v
    }
  }

  /** Reduce side: over rows sorted by bucket, merge one bucket's blocks at
    * a time through a min-heap of run readers, sum each key's runs, and
    * yield `(pk, n)` for `n >= minSupport`. Memory is the current bucket's
    * blocks. */
  private final class BucketMerge(rows: BufferedIterator[(Int, Array[Byte])],
      minSupport: Int) extends Iterator[(Long, Long)] {
    private var heap = new Array[RunReader](16)
    private var live = 0
    private var pending: (Long, Long) = _

    private def loadBucket(): Boolean = {
      if (!rows.hasNext) return false
      val bucket = rows.head._1
      while (rows.hasNext && rows.head._1 == bucket) {
        val r = new RunReader(rows.next()._2)
        if (r.advance()) {
          if (live == heap.length) heap = java.util.Arrays.copyOf(heap, live * 2)
          heap(live) = r; live += 1
        }
      }
      var k = live / 2 - 1
      while (k >= 0) { siftDown(k); k -= 1 }
      true
    }

    private def siftDown(k0: Int): Unit = {
      var k = k0
      val r = heap(k)
      var done = false
      while (!done) {
        var c = 2 * k + 1
        if (c >= live) done = true
        else {
          if (c + 1 < live && heap(c + 1).pk < heap(c).pk) c += 1
          if (heap(c).pk < r.pk) { heap(k) = heap(c); k = c } else done = true
        }
      }
      heap(k) = r
    }

    def hasNext: Boolean = {
      while (pending == null && (live > 0 || loadBucket())) {
        if (live > 0) {
          val pk = heap(0).pk
          var n = 0L
          while (live > 0 && heap(0).pk == pk) {
            n += heap(0).n
            if (!heap(0).advance()) { live -= 1; heap(0) = heap(live); heap(live) = null }
            if (live > 0) siftDown(0)
          }
          if (n >= minSupport) pending = (pk, n)
        }
      }
      pending != null
    }

    def next(): (Long, Long) = {
      if (!hasNext) throw new NoSuchElementException("no more pair counts")
      val out = pending
      pending = null
      out
    }
  }
}
