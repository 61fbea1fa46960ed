package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Pins the events-reader contract across every physical `ts` encoding the
  * testdata has shipped: epoch-nanos LONG (round ≤6, TIMESTAMP(NANOS) under
  * nanosAsLong) and micros TIMESTAMP/TIMESTAMP_NTZ (round 7+). A future
  * regeneration that changes the type again must land HERE, not in five
  * separate query adapters. */
class EventSourceSpec extends SparkSpec {
  import spark.implicits._

  // one event at 2024-01-02 03:04:05.123456 UTC and one at the epoch
  private val micros = Seq(1704164645123456L, 0L)

  private def base = micros.zipWithIndex
    .map { case (us, i) => (i.toLong, us, 7L, "view", 1.5, "{}") }
    .toDF("event_id", "us", "user_id", "event_type", "value", "props")

  test("normalize: epoch-nanos LONG ts truncates to micros TIMESTAMP") {
    // nanos with a sub-micro remainder: truncation (not rounding) expected
    val raw = base.withColumn("ts", col("us") * 1000L + 789L).drop("us")
    val out = EventSource.normalize(raw)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.orderBy("event_id").select(unix_micros(col("ts")))
      .as[Long].collect().toSeq == micros)
  }

  test("normalize: TIMESTAMP_NTZ ts reinterprets as UTC instants") {
    val raw = base.withColumn("ts",
      timestamp_micros(col("us")).cast(TimestampNTZType)).drop("us")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    val out = EventSource.normalize(raw)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.orderBy("event_id").select(unix_micros(col("ts")))
      .as[Long].collect().toSeq == micros)
  }

  test("normalize: TIMESTAMP ts passes through unchanged") {
    val raw = base.withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = EventSource.normalize(raw)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.orderBy("event_id").select(unix_micros(col("ts")))
      .as[Long].collect().toSeq == micros)
  }

  test("normalize: an unsupported ts type fails loudly") {
    val raw = base.withColumn("ts", col("us").cast("string")).drop("us")
    val e = intercept[IllegalArgumentException](EventSource.normalize(raw))
    assert(e.getMessage.contains("unsupported"))
  }

  test("normalize keeps every non-ts column intact") {
    val raw = base.withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = EventSource.normalize(raw)
    assert(out.columns.toSet == raw.columns.toSet)
    assert(out.select("event_id", "user_id", "event_type", "value", "props")
      .orderBy("event_id").collect().toSeq ==
      raw.select("event_id", "user_id", "event_type", "value", "props")
        .orderBy("event_id").collect().toSeq)
  }

  test("events reader: a file rewritten with the other ts encoding reads back correctly") {
    // one JVM, one path: the schema memo must notice the rewrite
    val dir = java.nio.file.Files.createTempDirectory("events-rewrite").toString
    def read() = EventSource.events(spark, dir).orderBy("event_id")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    try {
      base.withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .write.parquet(s"$dir/events.parquet")
      assert(read() == micros)
      // legacy epoch-nanos LONG, with a sub-micro remainder
      base.withColumn("ts", col("us") * 1000L + 789L).drop("us")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      assert(read() == micros)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("events reader: the real fixture yields micros TIMESTAMP ts") {
    val out = EventSource.events(spark, "/root/testdata/sf0.001")
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.limit(5).count() > 0)
  }
}
