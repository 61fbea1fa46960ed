package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Drives [[EventStream.asOfJoinStream]] END-TO-END through the streaming
  * engine on bounded data — the harness behind the `events_asof_stream`
  * driver query, which checks the STREAM execution path (MemoryStream
  * source -> watermark -> flatMapGroupsWithState -> memory sink) against
  * the same SQL oracle as the batch as-of join, rather than only pinning
  * batch/stream parity in a spec.
  *
  * Mechanics: every row feeds in ONE batch (the initial watermark admits
  * everything, so no input is dropped as late); a far-future sentinel
  * RIGHT row on a reserved key then advances the watermark past every
  * left (maturing them all), and one more sentinel batch fires the
  * event-time timeouts for keys that saw no further data. Sentinels never
  * join (reserved key, rights emit nothing) so the output is exactly the
  * as-of answer. MemoryStream is driver-fed by design; the inputs here
  * are the bounded click/view slices of the fixture — the operator under
  * test is the same state machine a production readStream would run.
  */
object StreamDriver {

  private val SentinelKey = Long.MinValue

  /** Scale the stream's STATE partition count to the bounded input size
    * instead of inheriting spark.sql.shuffle.partitions (r14, guide §2):
    * a micro-batch pays per-partition fixed cost — a stateful task, an
    * HDFS-backed state store open + delta-file commit, scheduler overhead
    * — on EVERY batch, so tiny fixture states on 32 partitions were
    * mostly overhead (interleaved A/B: six stream queries ran 1.8-2.3x
    * faster at the data-derived count; BASELINE.md "Retired experiment
    * mains"). The count is ceil(rows / rowsPerStatePartition)
    * — data-derived, so it GROWS with input at scale (10M rows → 200
    * partitions at the default target) and is independent of the local
    * core count (the bench's 8-core and 32-core runs see the same plan).
    * Tunable: spark.graft.stream.rowsPerStatePartition (default 50000;
    * <= 0 disables the override). The session conf is restored on exit;
    * state partition counts are per-checkpoint, and every harness run
    * starts a fresh checkpoint, so no restart ever sees a mismatch. */
  private def withStatePartitions[T](spark: SparkSession, nRows: Long)(body: => T): T = {
    val target = spark.conf.getOption("spark.graft.stream.rowsPerStatePartition")
      .map(_.toLong).getOrElse(50000L)
    if (target <= 0L) body
    else {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, math.max(1L, (nRows + target - 1) / target).toString)
      try body finally spark.conf.set(key, prev)
    }
  }

  /** Shared harness: feed (doc_id, text) micro-batches through `build`'s
    * streaming Dataset and return the MATERIALIZED append-mode output. */
  private def docBatchesStreamed[T](spark: SparkSession, prefix: String,
      batches: Seq[Seq[(Long, String)]])(
      build: DataFrame => org.apache.spark.sql.Dataset[T]): DataFrame =
      withStatePartitions(spark, batches.map(_.size.toLong).sum) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = build(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b =>
        if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
      }
      val out = spark.table(name)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the streaming first-seen dedup over bounded (doc_id, text)
    * batches fed IN ORDER — each inner Seq is one micro-batch, so
    * cross-batch duplicate suppression (the stateful part) is genuinely
    * exercised. When batches partition the docs by ascending doc_id
    * ranges, the output is exactly "min doc_id per content hash": the
    * earliest batch containing a hash also contains its smallest id.
    * Returns the MATERIALIZED (doc_id, content_hash) rows. */
  def firstSeenStreamed(spark: SparkSession,
      batches: Seq[Seq[(Long, String)]]): DataFrame =
    docBatchesStreamed(spark, "dedup_stream_", batches)(StreamingDedup.firstSeen)

  /** Run the streaming SimHash near-dup intake ([[StreamingDedup
    * .simhashPairsStream]]: per-(band, bucket) signature state, exact
    * Hamming from stored sigs) over bounded batches. The emitted pair SET
    * is arrival-order-invariant, so any batch split verifies against the
    * batch oracle; multi-band matches emit once per matching band, and the
    * `.distinct()` here mirrors the batch path's own distinct. */
  def simhashPairsStreamed(spark: SparkSession,
      batches: Seq[Seq[(Long, String)]]): DataFrame =
    docBatchesStreamed(spark, "simhash_stream_", batches)(
      df => StreamingDedup.simhashPairsStream(df)).distinct()

  /** Run the streaming curation intake ([[graft.pipeline.Curation
    * .curateStream]]: map-side quality gate, then cross-batch first-seen
    * dedup) over bounded batches fed in doc_id order — so the keep-set is
    * exactly "min doc_id per content hash among quality-passing docs",
    * which is what the `curate_stream` SQL oracle asserts. */
  def curateStreamed(spark: SparkSession,
      batches: Seq[Seq[(Long, String)]]): DataFrame =
    docBatchesStreamed(spark, "curate_stream_", batches)(
      df => graft.pipeline.Curation.curateStream(df))

  /** Run the STREAMING Misra-Gries heavy-hitter pipeline end-to-end:
    * micro-batches fold into the sharded online sketch
    * ([[StreamingText.mgSummaryStream]]), the latest per-shard summaries
    * union into the candidate superset (guaranteed to contain every
    * token with frequency > phi·N), and the exact batch-side recount —
    * the SAME tail as the batch operator — keeps candidates with true
    * count >= ceil(phi·N). Output is therefore IDENTICAL to
    * [[graft.text.TextAnalysis.heavyHitters]] and shares its SQL oracle:
    * the recount filter is exact, so sketch noise in the candidate set
    * can neither add nor drop a result row. */
  def heavyHittersStreamed(spark: SparkSession,
      batches: Seq[Seq[(Long, String)]], phi: Double = 0.005,
      cap: Int = 512, numShards: Int = 8): DataFrame =
      withStatePartitions(spark, batches.map(_.size.toLong).sum) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    require(phi > 0 && phi < 1 && cap + 1 > 1 / phi,
      s"cap $cap too small for phi $phi")
    val in = MemoryStream[(Long, String)]
    val name = "mg_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingText.mgSummaryStream(
        in.toDF().toDF("doc_id", "text"), cap, numShards)
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    val candidates =
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
        }
        spark.table(name).collect()
          .groupBy(_.getInt(0)).values
          .flatMap(_.maxBy(_.getLong(1)).getSeq[String](2))
          .toSeq.distinct
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    // exact recount of the candidate superset over the full corpus
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val toks = batches.flatten.toDF("doc_id", "text")
      .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("token"))
    val threshold = math.ceil(phi * toks.count()).toLong
    toks.filter(col("token").isin(candidates: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .orderBy("token")
  }

  /** Run the STREAMING Count-Min pipeline end-to-end: micro-batches fold
    * into the sketch via a complete-mode streaming aggregation (state =
    * the bounded cells relation itself), then the shared batch-side
    * estimate tail probes the stream-built sketch — identical output to
    * [[graft.text.TextAnalysis.cmsEstimates]], same oracle. */
  def cmsEstimatesStreamed(spark: SparkSession,
      batches: Seq[Seq[(Long, String)]], depth: Int = 4, width: Int = 1024,
      k: Int = 50): DataFrame =
      withStatePartitions(spark, batches.map(_.size.toLong).sum) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val name = "cms_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingText.cmsCellsStream(
        in.toDF().toDF("doc_id", "text"), depth, width)
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    val cells =
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
        }
        val t = spark.table(name)
        spark.createDataFrame(
          java.util.Arrays.asList(t.collect(): _*), t.schema)
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    graft.text.TextAnalysis.cmsEstimateFromCells(
      batches.flatten.toDF("doc_id", "text"), cells, depth, width, k)
  }

  /** Run the STREAMING HyperLogLog pipeline end-to-end: micro-batches
    * fold into the register relation via a complete-mode streaming MAX
    * aggregation (HLL's own merge operator), then the driver left-fills
    * the 2^p register range — identical output to
    * [[graft.text.TextAnalysis.hllRegisters]], same oracle. */
  def hllRegistersStreamed(spark: SparkSession,
      batches: Seq[Seq[(Long, String)]], p: Int = 10): DataFrame =
      withStatePartitions(spark, batches.map(_.size.toLong).sum) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val name = "hll_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingText.hllRegistersStream(
        in.toDF().toDF("doc_id", "text"), p)
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    val observed =
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
        }
        val t = spark.table(name)
        spark.createDataFrame(
          java.util.Arrays.asList(t.collect(): _*), t.schema)
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    graft.text.TextAnalysis.fillHllRegisters(spark, observed, p)
  }

  /** Run the watermarked 5-minute windowed counts ([[EventStream
    * .windowedCounts]]) through the streaming engine in APPEND mode — the
    * production shape, where a window only emits once the watermark passes
    * its end (the parity spec covers complete mode; this exercises the
    * watermark-driven finalization path). Bounded (ts, event_type) rows
    * feed in one batch; a far-future sentinel row then advances the
    * watermark past every real window so all of them flush. The sentinel's
    * own window stays open (never emitted) and is filtered defensively.
    * Returns the MATERIALIZED (bucket_start, event_type, n_events) rows. */
  def windowCountsStreamed(spark: SparkSession,
      events: Seq[(Timestamp, String)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val name = "wincounts_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.windowedCounts(
        in.toDF().toDF("ts", "event_type"), watermark = true)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._1.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      // watermark delay is 10 min and windows are 5 min: +1h clears every
      // real window's end with margin
      in.addData((new Timestamp(maxTs + 3600L * 1000), "__sentinel__"))
      q.processAllAvailable()
      val out = spark.table(name)
        .filter(org.apache.spark.sql.functions.col("event_type") =!= "__sentinel__")
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Drives [[EventStream.enrichedWindowTotals]] — the STREAM-STATIC
    * broadcast enrichment join feeding a watermarked window aggregate —
    * through the streaming engine in append mode. The watermark-advancing
    * sentinel is mapped by its OWN dimension row to category
    * "__sentinel__" and filtered by that category — no timestamp
    * arithmetic can leak it into (or drop rows from) the result. */
  def enrichedStreamed(spark: SparkSession,
      events: Seq[(Timestamp, String, Double)],
      dim: Seq[(String, String, Long)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val name = "enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dimDf = (dim :+ (("__sentinel__", "__sentinel__", 0L)))
      .toDF("event_type", "category", "weight")
    val q = EventStream.enrichedWindowTotals(
        in.toDF().toDF("ts", "event_type", "value"), dimDf, watermark = true)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._1.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      in.addData((new Timestamp(maxTs + 3600L * 1000), "__sentinel__", 0.0))
      q.processAllAvailable()
      val out = spark.table(name)
        .filter(org.apache.spark.sql.functions.col("category") =!= "__sentinel__")
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the watermarked HOPPING (10-min windows sliding every 5) counts
    * through the streaming engine in append mode — the overlapping-window
    * finalization path: each event sits in TWO in-flight windows and both
    * must close correctly. Same sentinel mechanics as
    * [[windowCountsStreamed]]; the sentinel's own two windows are
    * filtered by type. Shares the batch hopping oracle. */
  def hoppingCountsStreamed(spark: SparkSession,
      events: Seq[(Timestamp, String)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val name = "hopcounts_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.hoppingCounts(
        in.toDF().toDF("ts", "event_type"), watermark = true)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._1.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      in.addData((new Timestamp(maxTs + 3600L * 1000), "__sentinel__"))
      q.processAllAvailable()
      val out = spark.table(name)
        .filter(org.apache.spark.sql.functions.col("event_type") =!= "__sentinel__")
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Drives [[EventStream.windowedUserCounts]] — a CHAINED stateful pair
    * (dedup aggregation feeding a windowed count) — through the streaming
    * engine in append mode; same sentinel mechanics as
    * [[windowCountsStreamed]], same oracle as the batch twin. */
  def windowUsersStreamed(spark: SparkSession,
      events: Seq[(Timestamp, Long)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val name = "winusers_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.windowedUserCounts(
        in.toDF().toDF("ts", "user_id"), watermark = true)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._1.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      val sentinelTs = maxTs + 3600L * 1000
      in.addData((new Timestamp(sentinelTs), SentinelKey))
      q.processAllAvailable()
      // exclude exactly the sentinel's own 5-min bucket, derived from the
      // sentinel timestamp itself (no real window can share it: the
      // sentinel sits a full hour past the latest event) — never a
      // hand-tuned offset that silently couples to the watermark delay
      val sentinelBucket = sentinelTs / 1000 / 300 * 300
      val out = spark.table(name)
        .filter(org.apache.spark.sql.functions.col("bucket_start") <
          sentinelBucket)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the hour-of-day seasonal intake through the streaming engine:
    * watermarked epoch-aligned HOURLY window counts per event type
    * finalize in append mode (each (type, hour window) emits once the
    * watermark passes the window end), then the batch tail
    * ([[EventStream.seasonalFromCounts]] — the SAME code the batch twin
    * runs) derives day/hr buckets from the window starts and computes the
    * baseline deviations over the appended counts. unix_micros of an
    * epoch-aligned window start reproduces the batch side's TZ-free
    * integer buckets exactly, so the twin shares the batch oracle
    * verbatim. Sentinel: one event a clean 2 hours past the latest real
    * timestamp advances the watermark to flush every in-flight window;
    * its type is filtered by NAME, never by offset. */
  def seasonalStreamed(spark: SparkSession,
      events: Seq[(Timestamp, String)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val name = "seasonal_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = in.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._1.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      in.addData((new Timestamp(maxTs + 2 * 3600L * 1000), "__sentinel__"))
      q.processAllAvailable()
      val mat = spark.table(name)
        .filter(col("event_type") =!= "__sentinel__")
        .select(col("event_type"),
          expr("unix_micros(w.start) div 86400000000").as("day"),
          expr("unix_micros(w.start) div 3600000000 % 24").as("hr"),
          col("n_events"))
      val rows = java.util.Arrays.asList(mat.collect(): _*)
      EventStream.seasonalFromCounts(
        spark.createDataFrame(rows, mat.schema))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the watermarked 30-minute-gap sessionization ([[EventStream
    * .sessions]], session_window native operator) through the streaming
    * engine in APPEND mode: a session only emits once the watermark passes
    * its close (last event + gap) — the merge-then-finalize path batch
    * execution never takes. Bounded (user_id, ts) rows feed in one batch;
    * a far-future sentinel row on a reserved user advances the watermark
    * past every real session's close. Returns the MATERIALIZED
    * (user_id, session_start, n_events) rows. */
  def sessionsStreamed(spark: SparkSession,
      events: Seq[(Long, Timestamp)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val name = "sessions_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.sessions(
        in.toDF().toDF("user_id", "ts"), watermark = true)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._2.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      // +2h clears every close (last event + 30 min gap) against the
      // 10-minute watermark delay with margin
      in.addData((SentinelKey, new Timestamp(maxTs + 7200L * 1000)))
      q.processAllAvailable()
      val out = spark.table(name)
        .filter(org.apache.spark.sql.functions.col("user_id") =!= SentinelKey)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the streaming funnel ([[EventStream.funnelStream]]: watermarked
    * per-user stage state machine, one FunnelHit per reached stage) over
    * bounded (user_id, ts, event_type) rows. Same sentinel mechanics as
    * the as-of driver: all rows feed in one batch, a far-future sentinel
    * event on a reserved user advances the watermark past every real
    * event (maturing them), and one more sentinel batch fires the
    * event-time timeouts for users with no further data. Returns the
    * MATERIALIZED (user_id, stage, qts) progression rows. */
  def funnelStreamed(spark: SparkSession,
      events: Seq[(Long, Timestamp, String)],
      stages: Seq[String]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val name = "funnel_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.funnelStream(
        in.toDF().toDF("user_id", "ts", "event_type"), stages)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._2.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      in.addData((SentinelKey, new Timestamp(maxTs + 3600L * 1000), stages.head))
      q.processAllAvailable()
      in.addData((SentinelKey, new Timestamp(maxTs + 7200L * 1000), stages.head))
      q.processAllAvailable()
      val out = spark.table(name)
        .filter(org.apache.spark.sql.functions.col("user_id") =!= SentinelKey)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the NATIVE stream-stream interval join ([[EventStream
    * .intervalJoin]] with `watermark = true`: two watermarked sources,
    * inner join with an explicit time band — Spark's symmetric-hash
    * stream-stream join, state bounded by the band) over bounded (id,
    * key, ts) lefts and (key, ts, v) rights. Inner-join matches emit as
    * soon as both rows have arrived, so no sentinel is needed for
    * completeness — everything matches within the single micro-batch.
    * Returns the MATERIALIZED (id, key, ts, r_ts, v) pair rows. */
  def intervalJoinStreamed(spark: SparkSession,
      lefts: Seq[(Long, Long, Timestamp)],
      rights: Seq[(Long, Timestamp, Double)],
      lookback: String): DataFrame =
      withStatePartitions(spark, lefts.size.toLong + rights.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lm = MemoryStream[(Long, Long, Timestamp)]
    val rm = MemoryStream[(Long, Timestamp, Double)]
    val name = "ivjoin_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.intervalJoin(
        lm.toDF().toDF("id", "key", "ts"), rm.toDF().toDF("key", "ts", "v"),
        lookback, watermark = true)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      if (lefts.nonEmpty) lm.addData(lefts)
      if (rights.nonEmpty) rm.addData(rights)
      q.processAllAvailable()
      val out = spark.table(name)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the streaming as-of join over bounded (id, key, ts) lefts and
    * (key, ts, v) rights; returns the MATERIALIZED output (one row per
    * left: id, key, ts, asof_ts, asof_v — nulls where nothing precedes). */
  /** Drives [[EventStream.rollingStream]] end-to-end: feed every
    * (user_id, ts, event_id, value) row in one batch, then two sentinel
    * batches on the reserved key — the first advances the watermark past
    * every real event (maturing them all), the second fires the timeouts.
    * Sentinel rows are filtered from the returned frame, which carries
    * the SAME columns (and the same `round`) as the batch
    * [[EventStream.rollingUserStats]], so both check against one oracle. */
  def rollingStreamed(spark: SparkSession,
      events: Seq[(Long, Timestamp, Long, Double)], frame: Int = 5): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val em = MemoryStream[(Long, Timestamp, Long, Double)]
    val name = "rolling_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.rollingStream(
        em.toDF().toDF("user_id", "ts", "event_id", "value"), frame)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      import org.apache.spark.sql.functions.{col, round}
      val maxTs = (events.map(_._2.getTime) :+ 0L).max
      if (events.nonEmpty) em.addData(events)
      q.processAllAvailable()
      em.addData((SentinelKey, new Timestamp(maxTs + 3600L * 1000), -1L, 0.0))
      q.processAllAvailable()
      em.addData((SentinelKey, new Timestamp(maxTs + 7200L * 1000), -2L, 0.0))
      q.processAllAvailable()
      val out = spark.table(name)
        .filter(col("user_id") =!= SentinelKey)
        .select(col("event_id"), col("user_id"), col("n_window"),
          round(col("avg_raw"), 6).as("avg_value"), col("max_value"))
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Drives [[EventStream.transitionsStream]] end-to-end: feed every
    * (user_id, ts, event_id, event_type) row in one batch, sentinel
    * batches mature + flush, then the emitted pair stream aggregates to
    * the SAME (prev_type, next_type, n_transitions, n_users) matrix — and
    * the same oracle — as the batch [[EventStream.transitions]]. */
  def transitionsStreamed(spark: SparkSession,
      events: Seq[(Long, Timestamp, Long, String)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val em = MemoryStream[(Long, Timestamp, Long, String)]
    val name = "trans_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.transitionsStream(
        em.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (events.map(_._2.getTime) :+ 0L).max
      if (events.nonEmpty) em.addData(events)
      q.processAllAvailable()
      em.addData((SentinelKey, new Timestamp(maxTs + 3600L * 1000), -1L, "_"))
      q.processAllAvailable()
      em.addData((SentinelKey, new Timestamp(maxTs + 7200L * 1000), -2L, "_"))
      q.processAllAvailable()
      val out = spark.table(name)
        .filter(col("user_id") =!= SentinelKey)
        .groupBy("prev_type", "next_type", "user_id")
        .agg(count(lit(1)).as("n"))
        .groupBy("prev_type", "next_type")
        .agg(sum("n").as("n_transitions"), count(lit(1)).as("n_users"))
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Run the STREAMING KMV sketch over bounded (doc_id, text) batches:
    * micro-batches fold into the sharded k-min state
    * ([[StreamingText.kmvSketchStream]], bounded k·shards longs); the
    * latest shard summaries union batch-side into the global k smallest
    * distinct shingle hashes (each global minimum is within its own
    * shard's k smallest, so the union covers it). Returns (rank, v). */
  def kmvStreamed(spark: SparkSession, batches: Seq[Seq[(Long, String)]],
      k: Int = 64, numShards: Int = 8): DataFrame =
      withStatePartitions(spark, batches.map(_.size.toLong).sum) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val name = "kmv_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingText.kmvSketchStream(
        in.toDF().toDF("doc_id", "text"), k, numShards)
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    val vs =
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
        }
        spark.table(name).collect()
          .groupBy(_.getInt(0)).values
          .flatMap(_.maxBy(_.getLong(1)).getSeq[Long](2)).toSeq
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    vs.sorted.take(k).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("rank", "v")
  }

  /** Run the STREAMING quantile-sketch pipeline end-to-end: (group, value,
    * key) micro-batches fold into the sharded online subsample
    * ([[StreamingText.quantileSketchStream]] — bounded survivor state with
    * hash-bit compaction), then the batch-side tail merges the latest
    * per-(group, shard) summaries: exact n from the shard counts, the
    * batch's global level from n, shard survivors re-filtered UP to that
    * level (sample NESTING — the level-j sample contains every level->=j
    * one), and the shared [[graft.stats.Profile.quantileFromSurvivors]]
    * selection. Output is IDENTICAL to the batch sketch over the same
    * rows, so it shares the oracle construction. A shard whose adaptive
    * level overshot the global one would have discarded needed coins —
    * loudly rejected (expected survivors per shard at the global level are
    * cap/numShards, so overshoot needs a ~numShards-fold hash clump). */
  def quantileSketchStreamed(spark: SparkSession,
      batches: Seq[Seq[(String, Long, String)]], ps: Seq[Int] = Seq(50, 90, 99),
      cap: Int = 512, numShards: Int = 8): DataFrame =
      withStatePartitions(spark, batches.map(_.size.toLong).sum) {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Long, String)]
    val name = "qs_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingText.quantileSketchStream(
        in.toDF().toDF("g", "v", "k"), cap, numShards)
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    val latest =
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
        }
        spark.table(name).collect()
          .groupBy(r => (r.getString(0), r.getInt(1))).values
          .map(_.maxBy(_.getLong(2))).toSeq
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    val summaries = latest.map(r => (r.getString(0), r.getLong(3),
      r.getInt(4), r.getSeq[Long](5), r.getSeq[Long](6)))
      .toDF("g", "n", "shard_level", "vs", "hs")
    val lv = summaries.groupBy("g").agg(sum("n").as("n_rows"))
      .withColumn("level", graft.stats.Profile.sketchLevel(col("n_rows"), cap))
    val coins = summaries
      .select(col("g"), col("shard_level"),
        explode(arrays_zip(col("vs"), col("hs"))).as("p"))
      .select(col("g"), col("shard_level"), col("p.vs").as("v"), col("p.hs").as("h"))
      .join(broadcast(lv), Seq("g"))
    val overshoot = coins.filter(col("shard_level") > col("level")).count()
    require(overshoot == 0L,
      s"shard compaction overshot the global level on $overshoot survivors " +
        "— raise cap or numShards")
    val surv = coins
      .filter(pmod(col("h"), graft.stats.Profile.sketchWeight) === 0)
      .select("g", "v", "n_rows", "level")
    graft.stats.Profile.quantileFromSurvivors(surv, lv, ps)
  }

  /** Run the STREAMING gap-fill end-to-end: (event_type, ts, value) rows
    * feed in one batch, then two ascending far-future sentinel rows on a
    * reserved type advance the watermark past the last real bucket's end
    * (the first closes every real bucket, the second fires the event-time
    * timeouts so silent types keep emitting their trailing gaps). The
    * sentinel ts sits 1ms past the last real bucket's end, so the final
    * closed bucket is EXACTLY the global max — per-type spines end where
    * the batch oracle's does. Sentinel-type rows are filtered by type,
    * not by offset. */
  def gapFillStreamed(spark: SparkSession,
      rows: Seq[(String, Timestamp, Double)],
      bucketSec: Long = 300): DataFrame =
      withStatePartitions(spark, rows.size.toLong) {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    require(rows.nonEmpty, "gap-fill stream needs at least one row")
    val sentinelType = "\u0000sentinel" // NUL prefix: no real type collides
    val step = bucketSec * 1000L
    val maxTs = rows.map(_._2.getTime).max
    val lastBucketEnd = Math.floorDiv(maxTs, step) * step + step
    val in = MemoryStream[(String, Timestamp, Double)]
    val name = "gapfill_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.gapFillStream(
        in.toDF().toDF("event_type", "ts", "value"), bucketSec)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // two time-ordered halves: the second batch arrives with the
      // watermark already at the first's max, so buckets close and gaps
      // emit INCREMENTALLY across batches (ties at ts == wm are admitted
      // per the suite convention)
      val ordered = rows.sortBy(_._2.getTime)
      val (h1, h2) = ordered.splitAt(ordered.size / 2)
      Seq(h1, h2).filter(_.nonEmpty).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      in.addData(Seq((sentinelType, new Timestamp(lastBucketEnd + 1), 0.0)))
      q.processAllAvailable()
      in.addData(Seq((sentinelType, new Timestamp(lastBucketEnd + 2), 0.0)))
      q.processAllAvailable()
      val out = spark.table(name).filter(col("event_type") =!= sentinelType)
      val collected = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(collected, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  // ------------------------------------------------------------------
  // FILE-SINK variants: the PRODUCTION sink shape of the queries above.
  // The memory sink verifies the state machines; these run the same
  // streams through a parquet file sink with a checkpoint directory —
  // exactly-once file commits via the sink's transaction log, resumable
  // from the checkpoint — and read the COMMITTED files back, so the
  // oracle checks what a downstream batch reader would actually see.
  // ------------------------------------------------------------------

  /** Start `stream` against a parquet sink + checkpoint under a scratch
    * directory, drive it with `feed`, read the committed files back
    * (through the sink's _spark_metadata log, the exactly-once contract),
    * materialize, and reclaim the scratch space. */
  private def fileSinkRun[T](spark: SparkSession, prefix: String,
      stream: org.apache.spark.sql.Dataset[T])(
      feed: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    val base = Files.createTempDirectory(prefix)
    try {
      val data = base.resolve("data").toString
      val ckpt = base.resolve("ckpt").toString
      val q = stream.writeStream.format("parquet")
        .option("path", data).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try feed(q) finally q.stop()
      // explicit schema: a run that committed zero batches reads back as an
      // empty frame with the stream's schema instead of dying in parquet
      // schema inference over an empty directory
      val out = spark.read.schema(stream.schema).parquet(data)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      // scratch cleanup on EVERY path — a feed/read-back failure must not
      // leak the data + checkpoint directories under /tmp
      Files.walk(base).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** [[StreamingDedup.firstSeen]] fed by a parquet FILE SOURCE and committed
    * through the parquet file sink — the full production streaming shape
    * with no MemoryStream anywhere (VERDICT r12 #1: every other stream
    * harness collects its fixture to the driver; a production pipeline
    * tails a directory/bucket). Each wave of (doc_id, text) rows lands as
    * ONE parquet file in a watched input directory, and
    * `processAllAvailable()` after each wave proves INCREMENTAL pickup:
    * the source's file index hands the state machine only the new file,
    * so cross-wave duplicate suppression runs against checkpointed state,
    * not a re-read. One file per wave also pins the first-seen batch
    * semantics (a wave is never split mid-batch), matching the
    * memory-sink twins' ascending-id feed contract. */
  def firstSeenFileSource(spark: SparkSession,
      waves: Seq[Seq[(Long, String)]]): DataFrame =
      withStatePartitions(spark, waves.map(_.size.toLong).sum) {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    import spark.implicits._
    val inDir = Files.createTempDirectory("dedup_fsrc_in_")
    try {
      val input = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(inDir.toString)
      fileSinkRun(spark, "dedup_fsrc_", StreamingDedup.firstSeen(input)) { q =>
        waves.foreach { w =>
          if (w.nonEmpty) {
            w.toDF("doc_id", "text").coalesce(1)
              .write.mode("append").parquet(inDir.toString)
            q.processAllAvailable()
          }
        }
      }
    } finally {
      Files.walk(inDir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** [[firstSeenStreamed]] through the parquet file sink. */
  def firstSeenFileSink(spark: SparkSession,
      batches: Seq[Seq[(Long, String)]]): DataFrame =
      withStatePartitions(spark, batches.map(_.size.toLong).sum) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    fileSinkRun(spark, "dedup_fsink_",
        StreamingDedup.firstSeen(in.toDF().toDF("doc_id", "text"))) { q =>
      batches.foreach { b =>
        if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
      }
    }
  }

  /** [[windowCountsStreamed]] through the parquet file sink: the sentinel
    * advances the watermark so every real window COMMITS to files before
    * the query stops; the sentinel's own open window never flushes, and
    * its row is filtered on the read-back side exactly as the memory-sink
    * variant filters its view. */
  def windowCountsFileSink(spark: SparkSession,
      events: Seq[(Timestamp, String)]): DataFrame =
      withStatePartitions(spark, events.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = fileSinkRun(spark, "wincounts_fsink_",
        EventStream.windowedCounts(
          in.toDF().toDF("ts", "event_type"), watermark = true)) { q =>
      val maxTs = (events.map(_._1.getTime) :+ 0L).max
      if (events.nonEmpty) { in.addData(events); q.processAllAvailable() }
      in.addData((new Timestamp(maxTs + 3600L * 1000), "__sentinel__"))
      q.processAllAvailable()
    }
    out.filter(org.apache.spark.sql.functions.col("event_type") =!= "__sentinel__")
  }

  /** [[asOfStreamed]] through the parquet file sink. */
  def asOfFileSink(spark: SparkSession, lefts: Seq[(Long, Long, Timestamp)],
      rights: Seq[(Long, Timestamp, Double)]): DataFrame =
      withStatePartitions(spark, lefts.size.toLong + rights.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lm = MemoryStream[(Long, Long, Timestamp)]
    val rm = MemoryStream[(Long, Timestamp, Double)]
    fileSinkRun(spark, "asof_fsink_",
        EventStream.asOfJoinStream(
          lm.toDF().toDF("id", "key", "ts"),
          rm.toDF().toDF("key", "ts", "v"))) { q =>
      val maxTs = (lefts.map(_._3.getTime) ++ rights.map(_._2.getTime) :+ 0L).max
      if (lefts.nonEmpty) lm.addData(lefts)
      if (rights.nonEmpty) rm.addData(rights)
      q.processAllAvailable()
      rm.addData((SentinelKey, new Timestamp(maxTs + 3600L * 1000), 0.0))
      q.processAllAvailable()
      rm.addData((SentinelKey, new Timestamp(maxTs + 7200L * 1000), 0.0))
      q.processAllAvailable()
    }
  }

  def asOfStreamed(spark: SparkSession, lefts: Seq[(Long, Long, Timestamp)],
      rights: Seq[(Long, Timestamp, Double)]): DataFrame =
      withStatePartitions(spark, lefts.size.toLong + rights.size.toLong) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lm = MemoryStream[(Long, Long, Timestamp)]
    val rm = MemoryStream[(Long, Timestamp, Double)]
    val name = "asof_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.asOfJoinStream(
        lm.toDF().toDF("id", "key", "ts"), rm.toDF().toDF("key", "ts", "v"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val maxTs = (lefts.map(_._3.getTime) ++ rights.map(_._2.getTime) :+ 0L).max
      if (lefts.nonEmpty) lm.addData(lefts)
      if (rights.nonEmpty) rm.addData(rights)
      q.processAllAvailable()
      // watermark now = max event time; sentinel batches mature every left
      // and fire the timeouts for keys with no further input
      rm.addData((SentinelKey, new Timestamp(maxTs + 3600L * 1000), 0.0))
      q.processAllAvailable()
      rm.addData((SentinelKey, new Timestamp(maxTs + 7200L * 1000), 0.0))
      q.processAllAvailable()
      val out = spark.table(name)
      // materialize: the memory-sink view dies with the query/cleanup, the
      // returned frame must not reference it
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }
}
