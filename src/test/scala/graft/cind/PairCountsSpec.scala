package graft.cind

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The pair-count kernel against a brute-force Scala pair count over
  * duplicate-free lines, with the buffer and bucket sizes forced small so
  * that every code path of the map-side flush and the reduce-side merge
  * runs on inputs of a few dozen lines. */
class PairCountsSpec extends SparkSpec {
  import spark.implicits._

  private val tiny = PairCounts.Sizes(bufferCapacity = 7, buckets = 13)

  /** Random duplicate-free lines of ids `((k + 1) << 1) | bit`, as the
    * dictionary numbers them, widths 0 to `maxWidth`. */
  private def randomLines(seed: Long, n: Int, maxWidth: Int, vocab: Int): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      rnd.shuffle((0 until vocab).toList).take(rnd.nextInt(maxWidth + 1))
        .map(k => ((k + 1L) << 1) | rnd.nextInt(2))
    }
  }

  private def bruteForce(lines: Seq[Seq[Long]], minSupport: Int): Map[Long, Long] =
    lines.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a << 32) | b
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= minSupport)

  private def df(lines: Seq[Seq[Long]], partitions: Int): DataFrame =
    lines.map(_.toArray).toDF("ids").repartition(partitions)

  private def kernel(lines: DataFrame, minSupport: Int, splitThreshold: Int = 1024,
      sizes: PairCounts.Sizes = tiny): Map[Long, Long] = {
    val rows = PairCounts(lines, minSupport, splitThreshold, sizes)
      .as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "a pair key left the merge twice")
    rows.toMap
  }

  test("many flushes per task and many buckets per partition equal the brute force") {
    val lines = randomLines(seed = 1, n = 60, maxWidth = 12, vocab = 30)
    for (minSupport <- Seq(1, 2, 4)) {
      val want = bruteForce(lines, minSupport)
      assert(kernel(df(lines, 3), minSupport) == want, s"minSupport $minSupport")
      // the default sizes (one flush per task) agree too
      assert(kernel(df(lines, 3), minSupport, sizes = PairCounts.Sizes()) == want)
    }
    assert(bruteForce(lines, 1).size > 10 * tiny.bufferCapacity)
  }

  test("wide-line slicing (splitThreshold = 2) leaves the counts unchanged") {
    val lines = randomLines(seed = 2, n = 25, maxWidth = 15, vocab = 20) :+
      (1L to 20L).map(_ << 1) // one hub line wider than every slice
    for (split <- Seq(2, 3, 1024))
      assert(kernel(df(lines, 2), 1, splitThreshold = split) == bruteForce(lines, 1),
        s"splitThreshold $split")
  }

  test("n == minSupport is kept and n == minSupport - 1 is dropped") {
    // pair (2, 4) in exactly 3 lines, pair (2, 6) in exactly 2
    val lines = Seq(Seq(2L, 4L, 6L), Seq(4L, 2L, 6L), Seq(2L, 4L), Seq(8L, 10L))
    val pk24 = (2L << 32) | 4L
    val pk26 = (2L << 32) | 6L
    assert(kernel(df(lines, 2), 3) == Map(pk24 -> 3L))
    assert(kernel(df(lines, 2), 2) == Map(pk24 -> 3L, pk26 -> 2L, ((4L << 32) | 6L) -> 2L))
    assert(kernel(df(lines, 2), 4).isEmpty)
  }

  test("empty lines, single-id lines and empty partitions yield nothing") {
    val lines = Seq(Seq.empty[Long], Seq(2L), Seq.empty[Long], Seq(4L, 6L))
    assert(kernel(df(lines, 9), 1) == Map(((4L << 32) | 6L) -> 1L))
    assert(kernel(df(lines.take(3), 5), 1).isEmpty)
    assert(kernel(df(Nil, 3), 1).isEmpty)
  }
}
