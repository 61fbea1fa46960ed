package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed reader for the `events` table — the ONE place that knows how the
  * parquet encodes event time. Every events query consumes this reader, so a
  * testdata regeneration that changes the physical `ts` type (it has: round 6
  * wrote TIMESTAMP(NANOS) read as epoch-nanos LONG under
  * `spark.sql.legacy.parquet.nanosAsLong`; round 7 regenerated to
  * timestamp[us], silently breaking every inline `ts div 1000`) is absorbed
  * here once instead of failing five queries.
  *
  * Canonical schema: `ts` is a micros-precision TIMESTAMP. Consumers that
  * need an epoch-micros LONG take `unix_micros(col("ts"))`. The DuckDB
  * oracles read the same parquet as a naive micros TIMESTAMP, so:
  *   - epoch-nanos LONG input is integer-DIVIDED by 1000 (truncation, the
  *     same rounding DuckDB applies reading TIMESTAMP(NANOS));
  *   - TIMESTAMP_NTZ input (Spark's reading of timestamp[us] with
  *     isAdjustedToUTC=false) is reinterpreted as UTC — which requires the
  *     session timezone to BE UTC, enforced loudly below, because a silent
  *     zone shift would corrupt every event-time comparison;
  *   - TIMESTAMP input is already an instant and passes through.
  * Any other type fails fast with the offending schema in the message.
  */
object EventSource {

  /** Footer schema per version of an events path, inferred ONCE per JVM:
    * `events` is deliberately absent from Tables' pinned DDLs (ADVICE r13 —
    * the ts encoding has changed across driver regenerations and
    * [[normalize]] must keep absorbing all three), but re-running footer
    * inference on every read costs one driver job per invocation (~40
    * events queries in the bench). Caching the INFERRED schema keeps the
    * tolerance at the old zero-job cost for every read after the first.
    * The key is (path, total length, latest mtime) of the files under the
    * path — a file listing, no Spark job — so a file regenerated within one
    * JVM is re-inferred instead of read with its predecessor's schema.
    * Schema metadata only; no data or results are memoized. */
  private val inferredSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = inferredSchemas.computeIfAbsent(version(spark, path),
      _ => spark.read.parquet(path).schema)
    normalize(spark.read.schema(schema).parquet(path))
  }

  /** (path, summed length, latest modification time) of the data files
    * under `path` (the path itself when it is a file). */
  private def version(spark: SparkSession, path: String): (String, Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var length = 0L
    var mtime = 0L
    while (files.hasNext) {
      val f = files.next()
      length += f.getLen
      mtime = math.max(mtime, f.getModificationTime)
    }
    (path, length, mtime)
  }

  /** Normalize a raw events relation to the canonical micros-TIMESTAMP `ts`.
    * Pure column work — map-side, no shuffle, pushdown-transparent. */
  def normalize(raw: DataFrame): DataFrame = {
    val tsCol = raw.schema("ts").dataType match {
      case LongType =>
        // legacy epoch-nanos (TIMESTAMP(NANOS) + nanosAsLong): truncate to
        // micros exactly like the oracle engine's nanos->micros read
        timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType =>
        val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ; reinterpreting it as an instant " +
            s"requires spark.sql.session.timeZone=UTC (got $tz)")
        col("ts").cast(TimestampType)
      case TimestampType => col("ts")
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other (schema: ${raw.schema.simpleString})")
    }
    raw.withColumn("ts", tsCol)
  }
}
