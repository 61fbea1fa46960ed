package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic skew utilities — the salting patterns the CIND engine applies
  * in specialized form (the pair-count kernel's hub-line work units,
  * CindEngine.SplitThreshold) exposed for arbitrary relations. Both are
  * result-identical to their naive counterparts (spec-pinned); what they
  * change is the WORK SHAPE:
  * a hub key's rows spread over `salts` tasks instead of serializing one.
  */
object Skew {

  /** Inner equi-join where `left` is large and skewed on `key` and `right`
    * is mid-sized (too big to broadcast, small enough to replicate
    * `salts`x). Each left row's salt mixes its content hash with the row's
    * DUPLICATE ORDINAL — row_number over a window partitioned by all
    * columns: content hash alone would send fully-duplicate rows of a hub
    * key to ONE salt, re-creating exactly the skew the salt exists to
    * spread. The ordinal (not monotonically_increasing_id / rand) keeps
    * the salt DETERMINISTIC as a multiset: d identical rows always map to
    * ordinals 1..d no matter which task computes them, so a fetch-failure
    * partial stage retry reproduces the same salted rows — the
    * SPARK-23207 class of bug, where a recomputed map task re-salts rows
    * differently and already-fetched reducer partitions duplicate or lose
    * rows, cannot occur. Cost: one extra shuffle of `left` keyed on row
    * content (duplicate groups co-locate, bounded by duplicate
    * multiplicity, not hub-key size). The right side replicates once per
    * salt value; the join key becomes (key, salt) — a hub key's rows now
    * land in `salts` different partitions. AQE's skew-join split handles
    * sort-merge skew at runtime, but only at partition granularity AFTER
    * a shuffle exists; explicit salting also covers the aggregation that
    * often follows the join (the (key, salt) grouping pre-splits it). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val cols = left.columns.map(col)
    // any within-partition order works: rows in one partition are identical,
    // so the ordinal assignment is unique up to permutation of equal rows
    val dupOrd = row_number().over(
      Window.partitionBy(cols.toIndexedSeq: _*).orderBy(col(key)))
    val saltedLeft = left
      .withColumn("_dup_ord", dupOrd)
      .withColumn("_salt",
        pmod(xxhash64(cols :+ col("_dup_ord"): _*), lit(salts)).cast("int"))
      .drop("_dup_ord")
    val saltedRight = right.crossJoin(
      right.sparkSession.range(salts).select(col("id").cast("int").as("_salt")))
    saltedLeft.join(saltedRight,
        saltedLeft(key) === saltedRight(key) &&
          saltedLeft("_salt") === saltedRight("_salt"))
      .drop(saltedRight(key)).drop("_salt")
  }

  /** Distinct-set aggregation per key, skew-safe: groupBy(key, salt)
    * collects partial sets, a second groupBy(key) unions them. A plain
    * `collect_set` funnels every hub-key row through ONE task buffer; the
    * two-phase shape bounds each task at ~|hub| / salts rows. Both
    * shuffles are map-side combinable. Output: (key, `values` ARRAY,
    * sorted for determinism). */
  def saltedCollectSet(df: DataFrame, key: String, valueCol: String,
      salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    df
      .withColumn("_salt", pmod(xxhash64(col(valueCol)), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(collect_set(col(valueCol)).as("_part"))
      .groupBy(col(key))
      .agg(array_sort(array_distinct(flatten(collect_list(col("_part")))))
        .as("values"))
  }
}
