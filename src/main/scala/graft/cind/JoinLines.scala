package graft.cind

import graft.core.{Capture, SortedOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One map task's captures of one join value, deduplicated and sorted:
  * the row the [[JoinLines]] kernel shuffles. */
final case class LineRun(jh: Long, join_val: String, caps: Array[Capture])

/** The line-formation kernel: groups capture instances
  * `(code, v1, v2, join_val)` into join lines `(join_val, caps)`, `caps`
  * the value's distinct captures in sorted order — the reference's
  * UnionJoinCandidates. A sort-based group-by in two sides, as
  * [[PairCounts]] does for pair keys (Pregelix's spill-safe plan):
  *
  *   map side — each task sorts its instances by `(jh, join_val, code,
  *     v1, v2)`, `jh = xxhash64(join_val)`, and emits one [[LineRun]] per
  *     join value: that value's captures with adjacent duplicates dropped.
  *     The 8-byte hash leads the sort so its prefix comparison resolves
  *     almost every pair of rows, where the values' shared string prefixes
  *     would fall through to full compares (r13, BASELINE.md).
  *   reduce side — the runs shuffle through a `repartition` on `jh` and a
  *     `sortWithinPartitions(jh, join_val)` (Spark's external sort), so
  *     one value's runs from every map task arrive adjacent; they are
  *     merged pairwise, dropping the captures two runs share.
  *
  * No per-value hash set is built, and every shuffled run is sorted,
  * which LZ4 packs tighter than a `collect_set` buffer serialized in hash
  * order. The map-side grouping is what shrinks the exchange: shipping the
  * instance rows ungrouped wrote more bytes than `collect_set`'s partial
  * aggregate (BASELINE.md "Sort-based line formation"). */
private[cind] object JoinLines {

  /** `(join_val STRING, caps ARRAY<STRUCT<code INT, v1 STRING, v2 STRING>>)`,
    * one row per distinct join value of `instances`. */
  def apply(instances: DataFrame): DataFrame = {
    import instances.sparkSession.implicits._
    instances
      .select(xxhash64(col("join_val")).as("jh"), col("join_val"),
        col("code"), col("v1"), col("v2"))
      .sortWithinPartitions("jh", "join_val", "code", "v1", "v2")
      .as[(Long, String, Int, String, String)]
      .mapPartitions(rows => new MapRuns(rows.buffered))
      .repartition(col("jh"))
      .sortWithinPartitions("jh", "join_val")
      .as[LineRun]
      .mapPartitions(runs => new MergeRuns(runs.buffered))
      .toDF("join_val", "caps")
  }

  /** Captures in Spark's ascending order: code, then `v1` and `v2` by
    * UTF-8 bytes (= code points; nulls first), so the runs the map-side
    * sort produced are sorted under it and merge correctly. */
  private[cind] object CaptureOrder extends Ordering[Capture] {
    def compare(a: Capture, b: Capture): Int =
      if (a.code != b.code) Integer.compare(a.code, b.code)
      else {
        val c = codePoints(a.v1, b.v1)
        if (c != 0) c else codePoints(a.v2, b.v2)
      }

    private def codePoints(a: String, b: String): Int =
      if (a eq b) 0
      else if (a == null) -1
      else if (b == null) 1
      else {
        val n = math.min(a.length, b.length)
        var k = 0
        while (k < n && a.charAt(k) == b.charAt(k)) k += 1
        if (k < n) rank(a.charAt(k)) - rank(b.charAt(k)) else a.length - b.length
      }

    /** A UTF-16 unit's rank in code-point order: surrogates (code points
      * past U+FFFF) move above U+E000..U+FFFF. */
    private def rank(c: Char): Int =
      if (c < 0xD800) c else if (c < 0xE000) c + 0x2000 else c - 0x800
  }

  /** Map side: one run per `(jh, join_val)` of the sorted instance rows. */
  private final class MapRuns(rows: BufferedIterator[(Long, String, Int, String, String)])
      extends Iterator[LineRun] {
    def hasNext: Boolean = rows.hasNext
    def next(): LineRun = {
      val (jh, joinVal, _, _, _) = rows.head
      val caps = Array.newBuilder[Capture]
      var last: Capture = null
      while (rows.hasNext && rows.head._1 == jh && rows.head._2 == joinVal) {
        val (_, _, code, v1, v2) = rows.next()
        if (last == null || last.code != code || last.v1 != v1 || last.v2 != v2) {
          last = Capture(code, v1, v2)
          caps += last
        }
      }
      LineRun(jh, joinVal, caps.result())
    }
  }

  /** Reduce side: over runs sorted by `(jh, join_val)`, one line per join
    * value, its runs merged pairwise in rounds (log2 of the run count
    * passes over the line, not one pass per run). Memory is the current
    * value's runs. */
  private final class MergeRuns(runs: BufferedIterator[LineRun])
      extends Iterator[(String, Array[Capture])] {
    def hasNext: Boolean = runs.hasNext
    def next(): (String, Array[Capture]) = {
      val first = runs.next()
      var parts = Vector(first.caps)
      while (runs.hasNext && runs.head.jh == first.jh && runs.head.join_val == first.join_val)
        parts :+= runs.next().caps
      while (parts.length > 1)
        parts = parts.grouped(2).map(g =>
          if (g.length == 1) g(0) else SortedOps.union(g(0), g(1))(implicitly, CaptureOrder)
        ).toVector
      (first.join_val, parts.head)
    }
  }
}
