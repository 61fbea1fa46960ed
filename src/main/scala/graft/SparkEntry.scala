package graft

import graft.cind.CindEngine
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.rdf.{TripleSource, TripleStats}
import graft.sim.Similarity
import graft.streaming.EventStream
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §3, each with a DuckDB-equivalent `oracleSql` over the same
  * parquet tables (the driver's correctness gate). Column names and types are
  * deliberately mirrored on both sides; sums are CAST to BIGINT in SQL
  * because DuckDB widens SUM(BIGINT) to HUGEINT.
  */
object SparkEntry {

  private val MS = CindEngine.DefaultMinSupport // reference --support default

  private def triples(s: SparkSession, dir: String): DataFrame =
    TripleSource.derive(s, dir)

  /** WITH-clause body deriving the triple relation in DuckDB. */
  private val cte = TripleSource.DUCKDB_CTE

  /** Shared oracle of the events_seasonal batch/stream twins: TZ-free
    * integer hour/day buckets, dev = day count vs the hour's per-day
    * average under floor division. */
  private val eventsSeasonalOracleSql: String =
    "WITH cnt AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
      "(epoch_us(ts) // 3600000000) % 24 AS hr, COUNT(*) AS n_events FROM events GROUP BY 1, 2, 3), " +
      "base AS (SELECT event_type, hr, SUM(n_events) AS hour_total FROM cnt GROUP BY 1, 2), " +
      "days AS (SELECT event_type, COUNT(DISTINCT day) AS n_days FROM cnt GROUP BY 1) " +
      "SELECT c.event_type, CAST(c.day AS BIGINT) AS day, CAST(c.hr AS BIGINT) AS hr, " +
      "CAST(c.n_events AS BIGINT) AS n_events, CAST(b.hour_total AS BIGINT) AS hour_total, " +
      "CAST(d.n_days AS BIGINT) AS n_days, " +
      "CAST(1000 * c.n_events * d.n_days // b.hour_total AS BIGINT) AS dev_e3 " +
      "FROM cnt c JOIN base b USING (event_type, hr) JOIN days d USING (event_type) ORDER BY 1, 2, 3"

  /** The 9 valid capture shapes as SQL select-list fragments:
    * (code, v1, v2, joinValue). Single source for all capture-based oracles. */
  private val captureArms = Seq(
    (10, "pred", "''", "subj"), (12, "obj", "''", "subj"), (14, "pred", "obj", "subj"),
    (17, "subj", "''", "pred"), (20, "obj", "''", "pred"), (21, "subj", "obj", "pred"),
    (33, "subj", "''", "obj"), (34, "pred", "''", "obj"), (35, "subj", "pred", "obj"))

  private val capsCte: String = "caps AS (" + captureArms.map { case (code, v1, v2, jv) =>
    s"SELECT DISTINCT $code AS code, $v1 AS v1, $v2 AS v2, $jv AS val FROM triples"
  }.mkString(" UNION ALL ") + ")"

  /** Same capture relation restricted to subject-projection arms (the
    * --projection s oracle; codes 10/12/14 are exactly the jv=subj arms). */
  private val capsSCte: String = "caps AS (" + captureArms.filter(_._4 == "subj")
    .map { case (code, v1, v2, jv) =>
      s"SELECT DISTINCT $code AS code, $v1 AS v1, $v2 AS v2, $jv AS val FROM triples"
    }.mkString(" UNION ALL ") + ")"

  /** The 6 condition shapes (primary-attribute bitmask codes). */
  private val condArms = Seq(
    (1, "subj", "''"), (2, "pred", "''"), (4, "obj", "''"),
    (3, "subj", "pred"), (5, "subj", "obj"), (6, "pred", "obj"))

  private val condsCte: String = "conds AS (" + condArms.map { case (code, v1, v2) =>
    s"SELECT $code AS cond_code, $v1 AS v1, $v2 AS v2 FROM triples"
  }.mkString(" UNION ALL ") + ")"

  /** CASE expression mapping a binary capture code to its first/second unary
    * sub-capture code (s[p,o]=14 -> s[p]=10 / s[o]=12, etc.). */
  private def subCode(col: String, first: Boolean): String =
    if (first) s"CASE $col WHEN 14 THEN 10 WHEN 21 THEN 17 ELSE 33 END"
    else s"CASE $col WHEN 14 THEN 12 WHEN 21 THEN 20 ELSE 34 END"

  /** Shared SQL body computing all CINDs over a capture relation (mirrors
    * CindEngine.allCinds): frequent captures self-joined per join value, a
    * dep⊑ref holds iff the co-occurrence count equals the dep's support. */
  private def cindsBody(caps: String): String =
    s"""sup AS (SELECT code, v1, v2, COUNT(*) AS s FROM $caps GROUP BY 1,2,3),
       |fc AS (SELECT c.code, c.v1, c.v2, c.val, s.s FROM $caps c JOIN sup s ON s.code=c.code AND s.v1=c.v1 AND s.v2=c.v2 WHERE s.s >= $MS),
       |pairs AS (SELECT d.code AS dep_code, d.v1 AS dep_v1, d.v2 AS dep_v2, MIN(d.s) AS dep_sup, r.code AS ref_code, r.v1 AS ref_v1, r.v2 AS ref_v2, COUNT(*) AS n FROM fc d JOIN fc r ON d.val = r.val AND NOT (d.code = r.code AND d.v1 = r.v1 AND d.v2 = r.v2) GROUP BY 1,2,3,5,6,7),
       |cinds AS (SELECT dep_code, dep_v1, dep_v2, ref_code, ref_v1, ref_v2, dep_sup AS support FROM pairs WHERE n = dep_sup AND NOT (dep_code IN (14,21,35) AND ref_v2 = '' AND ((ref_code = ${subCode("dep_code", true)} AND ref_v1 = dep_v1) OR (ref_code = ${subCode("dep_code", false)} AND ref_v1 = dep_v2))))""".stripMargin

  private val cindsSqlBody: String = cindsBody("caps")

  /** Confidence-1.0 association rules between unary conditions as a CTE
    * (`rules`), shared by the AR oracle and the AR-pruned discovery oracle. */
  private val rulesCte: String =
    s"""uc AS (SELECT 1 AS code, subj AS v, COUNT(*) AS cnt FROM triples GROUP BY 2 UNION ALL SELECT 2, pred, COUNT(*) FROM triples GROUP BY 2 UNION ALL SELECT 4, obj, COUNT(*) FROM triples GROUP BY 2),
       |bc AS (SELECT 3 AS code, subj AS v1, pred AS v2, COUNT(*) AS cnt FROM triples GROUP BY 2,3 UNION ALL SELECT 5, subj, obj, COUNT(*) FROM triples GROUP BY 2,3 UNION ALL SELECT 6, pred, obj, COUNT(*) FROM triples GROUP BY 2,3),
       |rules AS (SELECT u.code AS ante_code, b.v1 AS ante_val, CASE b.code WHEN 3 THEN 2 ELSE 4 END AS cons_code, b.v2 AS cons_val, b.cnt AS support FROM bc b JOIN uc u ON u.code = CASE b.code WHEN 6 THEN 2 ELSE 1 END AND u.v = b.v1 WHERE b.cnt = u.cnt AND u.cnt >= $MS UNION ALL SELECT u.code, b.v2, CASE b.code WHEN 6 THEN 2 ELSE 1 END, b.v1, b.cnt FROM bc b JOIN uc u ON u.code = CASE b.code WHEN 3 THEN 2 ELSE 4 END AND u.v = b.v2 WHERE b.cnt = u.cnt AND u.cnt >= $MS)""".stripMargin

  /** Prefix table for the URL-shortening operator ("nation:1" exercises
    * longest-prefix-wins over "nation:"). */
  private val prefixes = Seq(
    "customer:" -> "c:", "order:" -> "ord:", "lineitem:" -> "li:",
    "nation:" -> "n:", "nation:1" -> "n1_", "part:" -> "pt:",
    "supplier:" -> "sup:", "region:" -> "r:")

  /** Longest-prefix-first CASE over the same prefix table. */
  private def shortenSql(col: String): String = {
    val cases = prefixes.sortBy(-_._1.length).map { case (p, ns) =>
      s"WHEN $col LIKE '${p}%' THEN '$ns' || substr($col, ${p.length + 1})"
    }
    s"CASE ${cases.mkString(" ")} ELSE $col END"
  }

  private val cindCols = Seq("dep_code", "dep_v1", "dep_v2", "ref_code", "ref_v1", "ref_v2", "support")

  /** Profiled lineitem columns — integer/string only, where min/max render
    * identically across engines (floats/timestamps format differently). */
  private val profileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus")

  /** Quantile-profiled columns: the numeric subset (integer-valued, so the
    * DOUBLE quantile values are exact in both engines). */
  private val quantileCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
  /** The ONE events adapter (see [[graft.streaming.EventSource]]): `ts` is
    * normalized to a micros TIMESTAMP whatever the parquet carries. ALL
    * events queries go through here — inline per-query ts conversions are
    * what broke five queries when the testdata's ts type changed. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventSource.events(s, dir)

  /** Static enrichment dimension for the events_enriched twins:
    * event_type → (category, weight). 'error' is deliberately unmapped —
    * the left join's 'other'/0 default must absorb it, not drop it. */
  private val eventDim: Seq[(String, String, Long)] = Seq(
    ("click", "engagement", 1L), ("view", "engagement", 1L),
    ("purchase", "revenue", 5L), ("signup", "growth", 3L))

  private val eventDimValues: String = eventDim
    .map { case (t, c, w) => s"('$t', '$c', $w)" }.mkString(", ")

  /** Shared oracle of the events_enriched batch/stream twins. */
  private val eventsEnrichedOracleSql: String =
    (s"WITH dim(event_type, category, weight) AS (VALUES $eventDimValues), " +
      "e AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS bucket_start, " +
      "COALESCE(category, 'other') AS category, " +
      "CAST(round(value*100) AS BIGINT) * COALESCE(weight, 0) AS wcents " +
      "FROM events LEFT JOIN dim USING (event_type)) " +
      "SELECT bucket_start, category, COUNT(*) AS n_events, CAST(SUM(wcents) AS BIGINT) AS weighted_cents " +
      "FROM e GROUP BY 1, 2 ORDER BY 1, 2")

  /** dHash32 CTEs over a (doc_id, text) relation named `$src`: 33 evenly
    * sampled byte positions, 32 gradient-sign bits packed into a positive
    * BIGINT (mirrors Multimodal.dHash32; ASCII corpus => ascii == byte).
    * Final CTE: ph(doc_id, phash). */
  private def phashCtes(src: String): String =
    s"pg AS (SELECT unnest(generate_series(0, 32)) AS i), " +
      s"pb AS (SELECT doc_id, text, length(text) AS n FROM $src), " +
      "ps AS (SELECT pb.doc_id, pg.i, ascii(substr(pb.text, CAST((pg.i*(pb.n-1))//32 AS INTEGER)+1, 1)) AS v FROM pb, pg WHERE pb.n > 0), " +
      "pd AS (SELECT doc_id, i, v, LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM ps), " +
      "ph AS (SELECT doc_id, CAST(SUM(CASE WHEN v > pv THEN CAST(1 AS BIGINT) << (i-1) ELSE 0 END) AS BIGINT) AS phash FROM pd WHERE i >= 1 GROUP BY 1)"

  /** P6-container encode CTEs over a (doc_id, text) relation named `$src`
    * — the oracle-side mirror of Multimodal.blobTable (w = 8 + first byte
    * mod 8, h = 8 + length mod 8, raster = text repeated cyclically to
    * w*h*3; empty text encodes a single space). The Spark side DECODES the
    * binary container it built ([[graft.multimodal.Multimodal.PpmCodec]]);
    * the oracle reconstructs what the decode must recover, so every mm_*
    * check verifies the round-trip. Final CTE: px(doc_id, w, h, payload). */
  private def ppmCtes(src: String): String =
    s"pe AS (SELECT doc_id, CASE WHEN length(text) > 0 THEN text ELSE ' ' END AS s FROM $src), " +
      "pm AS (SELECT doc_id, s, length(s) AS n, 8 + ascii(substr(s,1,1)) % 8 AS w, 8 + length(s) % 8 AS h FROM pe), " +
      "px AS (SELECT doc_id, w, h, substr(repeat(s, CAST((w*h*3 + n - 1)//n AS INTEGER)), 1, w*h*3) AS payload FROM pm)"

  /** WAV-container encode CTEs over a (doc_id, text) relation named
    * `$src` — the oracle-side mirror of Audio.audioTable's fixture math
    * (n_samples = 256 + 32·(first byte mod 16), rate = 8000 + 500·(len
    * mod 8), samples = text repeated cyclically; empty text encodes a
    * single space). The Spark side DECODES the binary RIFF container it
    * wrote (graft.multimodal.Audio.WavCodec) — the oracle re-derives what
    * a correct decode must recover, so every mm_audio_* check pins the
    * encode∘decode round-trip. Final CTE: ax(doc_id, ns, rate, payload). */
  private def wavCtes(src: String): String =
    s"awe AS (SELECT doc_id, CASE WHEN length(text) > 0 THEN text ELSE ' ' END AS s FROM $src), " +
      "awm AS (SELECT doc_id, s, length(s) AS n, 256 + (ascii(substr(s,1,1)) % 16) * 32 AS ns, 8000 + (length(s) % 8) * 500 AS rate FROM awe), " +
      "ax AS (SELECT doc_id, ns, rate, substr(repeat(s, CAST((ns + n - 1)//n AS INTEGER)), 1, ns) AS payload FROM awm)"

  /** Window-energy CTEs over `ax` (u8 PCM centered at 128, 16-sample
    * windows, last partial) — mirrors Audio.windowEnergy.
    * Final CTE: aen(doc_id, win_idx, energy). */
  private val wavEnergyCtes: String =
    "apos AS (SELECT doc_id, ns, unnest(generate_series(1, CAST(ns AS BIGINT))) AS p FROM ax), " +
      "asm AS (SELECT x.doc_id, apos.p, ascii(substr(x.payload, CAST(apos.p AS INTEGER), 1)) - 128 AS d FROM ax x JOIN apos USING (doc_id)), " +
      "aen AS (SELECT doc_id, CAST((p-1)//16 AS INTEGER) AS win_idx, CAST(SUM(d*d) AS BIGINT) AS energy FROM asm GROUP BY 1, 2)"

  /** Energy-gradient fingerprint CTEs over `aen` — the audio twin of
    * [[phashCtes]]: 33 evenly-sampled windows, 32 gradient-sign bits
    * (mirrors Audio.energyHash). Final CTE: aah(doc_id, ahash). */
  private val wavHashCtes: String =
    "anw AS (SELECT doc_id, CAST((ns-1)//16 AS INTEGER) + 1 AS nw FROM ax), " +
      "apg AS (SELECT unnest(generate_series(0, 32)) AS i), " +
      "aps AS (SELECT n.doc_id, apg.i, e.energy AS v FROM anw n CROSS JOIN apg JOIN aen e ON e.doc_id = n.doc_id AND e.win_idx = CAST((apg.i*(n.nw-1))//32 AS INTEGER)), " +
      "apd AS (SELECT doc_id, i, v, LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM aps), " +
      "aah AS (SELECT doc_id, CAST(SUM(CASE WHEN v > pv THEN CAST(1 AS BIGINT) << (i-1) ELSE 0 END) AS BIGINT) AS ahash FROM apd WHERE i >= 1 GROUP BY 1)"

  /** Y4M-container encode CTEs over a (doc_id, text) relation named
    * `$src` — the oracle-side mirror of Video.videoTable's fixture math
    * (w = 4 + first byte mod 5, h = 4 + len mod 5, n_frames = 3 + first
    * byte mod 6, fps = (10 + len mod 15):(1 + len mod 2); frame k's
    * raster = text cyclic from offset 29·[k >= n_frames/2] mod len;
    * empty text encodes a single space). The Spark side DECODES the
    * binary container it wrote (graft.multimodal.Video.Y4mCodec) — the
    * oracle re-derives what a correct decode must recover, so every
    * mm_video_* check pins the encode∘decode round-trip. Final CTEs:
    * vm(doc_id, s, n, w, h, nf, fn, fd), vf(doc_id, w, h, nf, k, fpay). */
  private def y4mCtes(src: String): String =
    s"ve AS (SELECT doc_id, CASE WHEN length(text) > 0 THEN text ELSE ' ' END AS s FROM $src), " +
      "vm AS (SELECT doc_id, s, length(s) AS n, 4 + ascii(substr(s,1,1)) % 5 AS w, 4 + length(s) % 5 AS h, " +
      "3 + ascii(substr(s,1,1)) % 6 AS nf, 10 + length(s) % 15 AS fn, 1 + length(s) % 2 AS fd FROM ve), " +
      "vk AS (SELECT vm.*, unnest(generate_series(0, nf - 1)) AS k FROM vm), " +
      "vo AS (SELECT *, (CASE WHEN k >= nf//2 THEN 29 ELSE 0 END) % n AS o FROM vk), " +
      "vf AS (SELECT doc_id, w, h, nf, k, substr(repeat(s, CAST((o + w*h + n - 1)//n AS INTEGER)), CAST(1 + o AS INTEGER), w*h) AS fpay FROM vo)"

  /** Per-frame dHash CTEs over `vf` — [[phashCtes]]'s 33-sample gradient
    * formula applied to each frame raster (n = w*h).
    * Final CTE: vh(doc_id, frame_idx, fhash). */
  private val y4mHashCtes: String =
    "vg AS (SELECT unnest(generate_series(0, 32)) AS i), " +
      "vps AS (SELECT vf.doc_id, vf.k, vg.i, ascii(substr(vf.fpay, CAST((vg.i*(w*h-1))//32 AS INTEGER)+1, 1)) AS v FROM vf, vg), " +
      "vpd AS (SELECT doc_id, k, i, v, LAG(v) OVER (PARTITION BY doc_id, k ORDER BY i) AS pv FROM vps), " +
      "vh AS (SELECT doc_id, CAST(k AS INTEGER) AS frame_idx, CAST(SUM(CASE WHEN v > pv THEN CAST(1 AS BIGINT) << (i-1) ELSE 0 END) AS BIGINT) AS fhash FROM vpd WHERE i >= 1 GROUP BY 1, 2)"

  /** The 4:2:0 sibling of [[y4mCtes]] (Video.videoTable420's fixture
    * math): dimensions are the mono formulas rounded DOWN to even, the
    * luma payload is the same cyclic-text fill at those dims, and chroma
    * never appears — the decode contract checksums luma only, so the
    * oracle's only chroma-dependent quantity is byte_len's w·h·3/2
    * record size. Final CTEs: vm(doc_id, s, n, w, h, nf, fn, fd),
    * vf(doc_id, w, h, nf, k, fpay). */
  private def y4mCtes420(src: String): String =
    s"ve AS (SELECT doc_id, CASE WHEN length(text) > 0 THEN text ELSE ' ' END AS s FROM $src), " +
      "vm0 AS (SELECT doc_id, s, length(s) AS n, 4 + ascii(substr(s,1,1)) % 5 AS w0, 4 + length(s) % 5 AS h0, " +
      "3 + ascii(substr(s,1,1)) % 6 AS nf, 10 + length(s) % 15 AS fn, 1 + length(s) % 2 AS fd FROM ve), " +
      "vm AS (SELECT doc_id, s, n, w0 - w0 % 2 AS w, h0 - h0 % 2 AS h, nf, fn, fd FROM vm0), " +
      "vk AS (SELECT vm.*, unnest(generate_series(0, nf - 1)) AS k FROM vm), " +
      "vo AS (SELECT *, (CASE WHEN k >= nf//2 THEN 29 ELSE 0 END) % n AS o FROM vk), " +
      "vf AS (SELECT doc_id, w, h, nf, k, substr(repeat(s, CAST((o + w*h + n - 1)//n AS INTEGER)), CAST(1 + o AS INTEGER), w*h) AS fpay FROM vo)"

  /** The SCD2 fixture shared by tpch_scd_customer and tpch_pit_join:
    * customer balances as the open snapshot, a change/no-op/insert
    * update mix at ts 1s/2s/3s, merged through Analytics.scdMerge. */
  private def scdMerged(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.read(s, dir, "customer")
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("v"))
    val current = cust.select(col("k"), col("v"),
      lit(0L).as("valid_from_us"), lit(-1L).as("valid_to_us"))
    val updates = cust.filter(col("k") % 7 === 0)
        .select(col("k"), (col("v") + 10000L).as("v"), lit(1000000L).as("ts_us"))
      .unionAll(cust.filter(col("k") % 11 === 0)
        .select(col("k"), col("v"), lit(2000000L).as("ts_us")))
      .unionAll(cust.filter(col("k") % 97 === 0)
        .select((col("k") + 10000000L).as("k"), lit(555L).as("v"),
          lit(3000000L).as("ts_us")))
    graft.stats.Analytics.scdMerge(current, updates)
  }

  /** The SCD2 merged-dimension oracle CTE chain (final CTE: scd). */
  private val scdOracleCtes: String =
    "cust AS (SELECT c_custkey AS k, CAST(round(c_acctbal*100) AS BIGINT) AS v FROM customer), " +
      "upd AS (SELECT k, v + 10000 AS v, 1000000 AS ts FROM cust WHERE k % 7 = 0 " +
      "UNION ALL SELECT k, v, 2000000 FROM cust WHERE k % 11 = 0 " +
      "UNION ALL SELECT 10000000 + k, 555, 3000000 FROM cust WHERE k % 97 = 0), " +
      "latest AS (SELECT k, v, ts FROM (SELECT k, v, ts, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, v DESC) AS rn FROM upd) WHERE rn = 1), " +
      "scd AS (SELECT k, v, CAST(valid_from_us AS BIGINT) AS valid_from_us, CAST(valid_to_us AS BIGINT) AS valid_to_us FROM (" +
      "SELECT c.k, c.v, 0 AS valid_from_us, -1 AS valid_to_us FROM cust c WHERE c.k NOT IN (SELECT k FROM latest) " +
      "UNION ALL SELECT c.k, c.v, 0, -1 FROM cust c JOIN latest u USING (k) WHERE u.v = c.v " +
      "UNION ALL SELECT c.k, c.v, 0, u.ts FROM cust c JOIN latest u USING (k) WHERE u.v <> c.v " +
      "UNION ALL SELECT c.k, u.v, u.ts, -1 FROM cust c JOIN latest u USING (k) WHERE u.v <> c.v " +
      "UNION ALL SELECT u.k, u.v, u.ts, -1 FROM latest u WHERE u.k NOT IN (SELECT k FROM cust)))"

  /** Hash-rank subsample quantile-sketch oracle over lineitem cents —
    * shared by the batch sketch and its streaming twin (which runs the
    * same construction over a deterministic row subset via `where`). */
  private def quantileSketchOracleSql(where: String): String =
    (s"WITH base AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice*100) AS BIGINT) AS v, " +
      s"CAST(('0x'||substring(md5(CAST(l_orderkey*10 + l_linenumber AS VARCHAR)),25,8)) AS BIGINT) AS h FROM lineitem$where), " +
      "lv AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
      "CAST(CASE WHEN (COUNT(*) + 511)//512 <= 1 THEN 0 ELSE length(bin((COUNT(*) + 511)//512 - 1)) END AS BIGINT) AS level FROM base GROUP BY 1), " +
      "sv AS (SELECT b.g, lv.n_rows, lv.level, (CAST(1 AS BIGINT) << CAST(lv.level AS INT)) AS w, b.v " +
      "FROM base b JOIN lv USING (g) WHERE b.h % (CAST(1 AS BIGINT) << CAST(lv.level AS INT)) = 0), " +
      "cm AS (SELECT g, n_rows, level, w, v, CAST(COUNT(*) AS BIGINT) AS c FROM sv GROUP BY 1,2,3,4,5), " +
      "cc AS (SELECT *, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM cm), " +
      // output derives from lv LEFT JOIN estimates: a zero-survivor group
      // still reports (n_sample 0, NULL estimates) — mirrors the Spark tail
      "est AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_sample, " +
      "CAST(COALESCE(MIN(CASE WHEN cum*w >= (n_rows*50 + 99)//100 THEN v END), MAX(v)) AS BIGINT) AS p50_est, " +
      "CAST(COALESCE(MIN(CASE WHEN cum*w >= (n_rows*90 + 99)//100 THEN v END), MAX(v)) AS BIGINT) AS p90_est, " +
      "CAST(COALESCE(MIN(CASE WHEN cum*w >= (n_rows*99 + 99)//100 THEN v END), MAX(v)) AS BIGINT) AS p99_est " +
      "FROM cc GROUP BY g) " +
      "SELECT lv.g AS l_returnflag, lv.n_rows, lv.level, " +
      "CAST(COALESCE(est.n_sample, 0) AS BIGINT) AS n_sample, " +
      "est.p50_est, est.p90_est, est.p99_est " +
      "FROM lv LEFT JOIN est USING (g) ORDER BY 1")

  /** Iterated-BPE oracle CTEs: k unrolled rounds of the SAME relational
    * trainer TextAnalysis.bpeTrain runs — lead-pair counts over the word
    * frequency table, top-1 by (cnt desc, x, y), then the
    * gaps-and-islands greedy merge (islands = pos minus running mark
    * count; odd in-island offsets selected; consumed successors dropped;
    * positions re-ranked). Pure integer/string window logic, so both
    * engines agree exactly. Final per-round tops are tp1..tpk. */
  private def bpeCtes(k: Int): String = {
    val base =
      "bw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents) GROUP BY 1), " +
        "s0 AS (SELECT w, freq, generate_subscripts(string_split(w,''),1)-1 AS pos, unnest(string_split(w,'')) AS sym FROM bw)"
    val rounds = (1 to k).map { i =>
      val p = i - 1
      s"n$i AS (SELECT w, freq, pos, sym, LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM s$p), " +
        s"tp$i AS (SELECT sym AS x, nxt AS y, CAST(SUM(freq) AS BIGINT) AS cnt FROM n$i WHERE nxt IS NOT NULL GROUP BY 1,2 ORDER BY cnt DESC, x, y LIMIT 1), " +
        s"mk$i AS (SELECT n.w, n.freq, n.pos, n.sym, n.nxt, (n.sym = t.x AND n.nxt = t.y) AS mark FROM n$i n CROSS JOIN tp$i t), " +
        s"il$i AS (SELECT *, pos - SUM(CASE WHEN mark THEN 1 ELSE 0 END) OVER (PARTITION BY w ORDER BY pos) AS ik FROM mk$i), " +
        s"sl$i AS (SELECT *, mark AND (ROW_NUMBER() OVER (PARTITION BY w, ik, mark ORDER BY pos) % 2 = 1) AS sel FROM il$i), " +
        s"dr$i AS (SELECT *, LAG(sel) OVER (PARTITION BY w ORDER BY pos) AS psel FROM sl$i), " +
        s"s$i AS (SELECT w, freq, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos, CASE WHEN sel THEN sym || nxt ELSE sym END AS sym FROM dr$i WHERE NOT COALESCE(psel, FALSE))"
    }
    (base +: rounds).mkString(", ")
  }

  /** SQL fragments shared by the document oracles. */
  private val tokCte =
    "tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w, generate_subscripts(string_split(text,' '),1) AS i FROM documents)"
  private val shCte =
    "sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1 JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2)"
  /** Stop-shingle-capped index mirroring Dedup.DefaultMaxShingleDf. */
  private val shcCte =
    s"shc AS (SELECT doc_id, sh FROM (SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh) WHERE df <= ${Dedup.DefaultMaxShingleDf})"
  /** Doc shingle-set sizes + pairwise intersections (over the capped index). */
  private val pairCtes =
    "sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1), i AS (SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, COUNT(*) AS inter FROM shc x JOIN shc y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1,2)"
  /** Hashed-linear classifier score per doc (shared by the scoring,
    * AUC and calibration oracles) — md5-bucket weights, integer space. */
  private val clsCtes =
    "bgf AS (SELECT a.doc_id, a.w || ' ' || b.w AS f FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1), " +
    "feats AS (SELECT doc_id, w AS f FROM tok UNION ALL SELECT doc_id, f FROM bgf), " +
    "wt AS (SELECT doc_id, (ascii(substr(md5(f),1,1))*256 + ascii(substr(md5(f),2,1))) % 1001 - 500 AS w FROM feats), " +
    "sc AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM wt GROUP BY 1), " +
    "lb AS (SELECT sc.doc_id, sc.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos FROM sc JOIN documents d USING (doc_id))"
  /** Shared body of the exact-Jaccard pair oracles. */
  private val jaccardSql =
    s"$pairCtes SELECT i.doc_id_a, i.doc_id_b, i.inter, sa.n AS n_a, sb.n AS n_b, CAST(floor(100*i.inter/(sa.n+sb.n-i.inter)) AS BIGINT) AS jaccard_pct FROM i JOIN sz sa ON sa.doc_id = i.doc_id_a JOIN sz sb ON sb.doc_id = i.doc_id_b WHERE floor(100*i.inter/(sa.n+sb.n-i.inter)) >= 50 ORDER BY 1,2"
  /** Connected-component clustering CTEs over near-dup pairs (min reachable
    * id via recursive closure) — body shared by the dedup_clusters and
    * curate_docs oracles; requires WITH RECURSIVE. Final CTE: cl(doc_id,
    * cluster_id). */
  private val clusterCtes =
    s"$tokCte, $shCte, $shcCte, $pairCtes, " +
      "p AS (SELECT i.doc_id_a AS a, i.doc_id_b AS b FROM i JOIN sz sa ON sa.doc_id = i.doc_id_a JOIN sz sb ON sb.doc_id = i.doc_id_b WHERE floor(100*i.inter/(sa.n+sb.n-i.inter)) >= 50), " +
      "e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p), " +
      "reach AS (SELECT doc_id AS node, doc_id AS lab FROM documents UNION SELECT e.a AS node, r.lab FROM e JOIN reach r ON r.node = e.b), " +
      "cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1)"

  /** Language-ID CTEs (marker-hit argmax, alphabetical tiebreak) — shared by
    * text_langid and curate_docs. Final CTE: lg(doc_id, lang_guess,
    * lang_score). */
  private val langCtes: String = {
    val scores = TextAnalysis.LangMarkers.map { case (l, ws) => langScoreSql(l, ws) }.mkString(", ")
    val cases = TextAnalysis.LangMarkers.map { case (l, _) => s"WHEN s_$l = mx THEN '$l'" }.mkString(" ")
    s"ls AS (SELECT doc_id, $scores FROM documents), " +
      s"lg AS (SELECT doc_id, CASE $cases END AS lang_guess, mx AS lang_score FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM ls))"
  }

  /** Quality-signal CTEs — shared by text_quality and curate_docs. Final
    * CTE: qual(doc_id, n_tokens, repetition_pct, stopword_pct,
    * quality_bucket). */
  private val qualCtes =
    "qt AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS n, CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS nd, CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS INTEGER) AS ns FROM documents), " +
      "qual AS (SELECT doc_id, n AS n_tokens, CAST(floor(100*(n-nd)/n) AS BIGINT) AS repetition_pct, CAST(floor(100*ns/n) AS BIGINT) AS stopword_pct, CASE WHEN n < 10 THEN 0 WHEN floor(100*(n-nd)/n) >= 80 THEN 1 WHEN floor(100*ns/n) >= 30 THEN 2 ELSE 3 END AS quality_bucket FROM qt)"

  /** SimHash signatures reproduced hex-digit by hex-digit in SQL: per token
    * the first 16 hex chars of md5 are the 64-bit token hash (matching
    * graft.functions.SimHash64); per signature bit the +1/-1 vote sum over
    * ALL tokens (duplicates included) decides the bit. Generated once —
    * 16 digit extractions and 64 CASE/SUM aggregates. */
  private val simhashSigCtes: String = {
    val digits = (1 to 16).map(p =>
      s"strpos('0123456789abcdef', substr(m,$p,1))-1 AS d$p").mkString(", ")
    val bits = (0 until 64).map { b =>
      val dig = 16 - b / 4 // hex char 1 carries bits 63..60
      val sh = b % 4
      s"CASE WHEN SUM(CASE WHEN ((d$dig >> $sh) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(" | ")
    s"tokh AS (SELECT doc_id, md5(w) AS m FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)), " +
      s"dig AS (SELECT doc_id, $digits FROM tokh), " +
      s"sig AS (SELECT doc_id, $bits AS sh FROM dig GROUP BY doc_id)"
  }

  /** Brute-force SimHash near-dup oracle, shared by the batch query and
    * its streaming twin (the banded pair set is complete at Hamming <= 3
    * and arrival-order-invariant, so both match the same all-pairs SQL). */
  private val simhashPairsOracleSql: String =
    s"WITH $simhashSigCtes SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming FROM sig a JOIN sig b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY 1,2"

  /** Distinct-users-per-window oracle, shared by the batch dedup-then-count
    * and its chained-stateful streaming twin. */
  private val windowUsersOracleSql: String =
    "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS bucket_start, " +
      "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events GROUP BY 1 ORDER BY 1"

  /** First-order transition-matrix oracle, shared by the batch lag-window
    * query and its streaming state-machine twin (the emitted pair stream
    * is arrival-order-invariant, so both aggregate to the same matrix). */
  private val transitionsOracleSql: String =
    "WITH p AS (SELECT user_id, event_type AS next_type, " +
      "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
      "u AS (SELECT prev_type, next_type, user_id, COUNT(*) AS n FROM p WHERE prev_type IS NOT NULL GROUP BY 1,2,3) " +
      "SELECT prev_type, next_type, CAST(SUM(n) AS BIGINT) AS n_transitions, " +
      "CAST(COUNT(*) AS BIGINT) AS n_users FROM u GROUP BY 1,2 ORDER BY 1,2"

  /** Codebook + inverted-list CTEs replicating Similarity.ivfCodebook: seed
    * codebook = 16 smallest vec_ids, two unrolled Lloyd iterations
    * (argmax-cosine assignment, per-dim mean, empty clusters keep their
    * centroid). Float means absorb the engines' double-sum rounding
    * differences (double noise ~2^-52 relative is far below float's 2^-24
    * rounding grid), so the codebooks agree bit-for-bit. Final CTEs:
    * cb2(cent_id, c) and lists(vec_id, embedding, cent_id). */
  private def ivfCodebookCtesOver(tbl: String): String = {
    def assign(cb: String, out: String): String =
      s"$out AS (SELECT vec_id, embedding, cent_id FROM (SELECT e.vec_id, e.embedding, s.cent_id, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, s.c) DESC, s.cent_id) AS rn FROM $tbl e CROSS JOIN $cb s) WHERE rn = 1)"
    def refine(a: String, prev: String, out: String): String =
      s"${out}_m AS (SELECT cent_id, i, CAST(AVG(v) AS FLOAT) AS mv FROM (SELECT cent_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS i FROM $a) GROUP BY 1,2), " +
        s"${out}_arr AS (SELECT cent_id, list(mv ORDER BY i) AS c FROM ${out}_m GROUP BY 1), " +
        s"$out AS (SELECT p.cent_id, COALESCE(x.c, p.c) AS c FROM $prev p LEFT JOIN ${out}_arr x ON x.cent_id = p.cent_id)"
    s"seed AS (SELECT vec_id AS cent_id, embedding AS c FROM $tbl ORDER BY vec_id LIMIT 16), " +
      assign("seed", "a1") + ", " + refine("a1", "seed", "cb1") + ", " +
      assign("cb1", "a2") + ", " + refine("a2", "cb1", "cb2") + ", " +
      assign("cb2", "lists")
  }
  private val ivfCodebookCtes: String = ivfCodebookCtesOver("embeddings")

  /** Full SQL replication of Similarity.ivfTopK (nProbe=4 pinned). */
  private val ivfOracleSql: String =
    s"WITH $ivfCodebookCtes, " +
      "probes AS (SELECT query_id, qe, cent_id FROM (SELECT e.vec_id AS query_id, e.embedding AS qe, s.cent_id, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, s.c) DESC, s.cent_id) AS rn FROM embeddings e CROSS JOIN cb2 s WHERE e.vec_id % 100 = 0) WHERE rn <= 4), " +
      "sc AS (SELECT p.query_id, l.vec_id, list_cosine_similarity(p.qe, l.embedding) AS score FROM lists l JOIN probes p ON p.cent_id = l.cent_id AND l.vec_id <> p.query_id), " +
      "r AS (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM sc) " +
      "SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id AS neighbor_id FROM r WHERE rnk <= 10 ORDER BY query_id, rank"

  /** CTE chain replicating one [[graft.sim.Similarity.pqAnchors]] training
    * run under name-prefix `p`: md5-ranked seed anchors, `iters`
    * integer-Lloyd refinement rounds (truncating `//` division matches
    * Scala Long division; empty clusters COALESCE to their previous
    * anchor), final per-subspace argmin codes `${p}cdf(vec_id, m, code)`
    * and trained anchors `${p}a$iters(m, j, sq)`. Requires a `q0(vec_id,
    * qe)` CTE in scope. Every intermediate is an exact integer, so both
    * engines agree bit-for-bit, refinement included. */
  private def pqAnchorCtes(p: String, m: Int, s: Int, k: Int,
      iters: Int, src: String = "q0"): String = {
    val dist = s"list_sum(list_transform(generate_series(1,$s), i -> (v.sq[i]-a.sq[i])*(v.sq[i]-a.sq[i])))"
    def assignCte(name: String, from: String) =
      s"$name AS (SELECT vec_id, m, j-1 AS code FROM (SELECT v.vec_id, v.m, a.j, " +
        s"ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.m ORDER BY $dist, a.j) AS rn " +
        s"FROM ${p}vs v JOIN $from a ON a.m = v.m) WHERE rn = 1)"
    val iterCtes = (1 to iters).map { t =>
      assignCte(s"${p}cd$t", s"${p}a${t - 1}") + ", " +
        s"${p}ag$t AS (SELECT m, j, list(d ORDER BY i) AS sq FROM (SELECT c.m AS m, c.code+1 AS j, t.i AS i, " +
        s"SUM(v.sq[t.i]) // COUNT(*) AS d FROM ${p}cd$t c JOIN ${p}vs v ON v.vec_id = c.vec_id AND v.m = c.m " +
        s"CROSS JOIN generate_series(1,$s) t(i) GROUP BY 1,2,3) GROUP BY 1,2), " +
        s"${p}a$t AS (SELECT p.m, p.j, COALESCE(n.sq, p.sq) AS sq FROM ${p}a${t - 1} p LEFT JOIN ${p}ag$t n ON n.m = p.m AND n.j = p.j)"
    }.mkString(", ")
    s"${p}sub AS (SELECT unnest(generate_series(0,${m - 1})) AS m), " +
      s"${p}vs AS (SELECT vec_id, s.m, list_slice(qe, s.m*$s+1, s.m*$s+$s) AS sq FROM $src CROSS JOIN ${p}sub s), " +
      s"${p}a0 AS (SELECT s.m, j, list_slice(qe, s.m*$s+1, s.m*$s+$s) AS sq FROM (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS j, qe FROM $src) CROSS JOIN ${p}sub s WHERE j <= $k), " +
      s"$iterCtes, " +
      assignCte(s"${p}cdf", s"${p}a$iters")
  }

  private val pqQ0Cte: String =
    "q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1024) AS BIGINT)) AS qe FROM embeddings)"

  /** ADC candidates + exact rerank tail shared by the PQ oracles: scores
    * `cdf` codes against the `qd(query_id, m, j, d)` LUT (optionally
    * constrained by a probe relation already folded into `scFrom`), takes
    * the top-`rerank` by (adc, vec_id), exact integer-L2 re-ranks. */
  private def pqTailSql(scSql: String, rerank: Int, kTop: Int): String =
    s"sc AS ($scSql), " +
      s"cand AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn FROM sc) WHERE rn <= $rerank), " +
      "rr AS (SELECT ca.query_id, ca.vec_id, CAST(list_sum(list_transform(generate_series(1,64), i -> (vq.qe[i]-vv.qe[i])*(vq.qe[i]-vv.qe[i]))) AS BIGINT) AS l2_dist FROM cand ca JOIN q0 vq ON vq.vec_id = ca.query_id JOIN q0 vv ON vv.vec_id = ca.vec_id), " +
      "r AS (SELECT query_id, vec_id, l2_dist, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY l2_dist, vec_id) AS rnk FROM rr) " +
      s"SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id AS neighbor_id, l2_dist FROM r WHERE rnk <= $kTop ORDER BY query_id, rank"

  /** Full SQL replication of [[graft.sim.Similarity.pqTopK]]. */
  private val pqOracleSql: String = {
    val (m, s, k, iters, rerank, kTop) = (4, 16, 16, 2, 100, 10)
    val dist = s"list_sum(list_transform(generate_series(1,$s), i -> (v.sq[i]-a.sq[i])*(v.sq[i]-a.sq[i])))"
    s"WITH $pqQ0Cte, " +
      pqAnchorCtes("", m, s, k, iters) + ", " +
      s"qd AS (SELECT v.vec_id AS query_id, v.m, a.j, $dist AS d FROM vs v JOIN a$iters a ON a.m = v.m WHERE v.vec_id % 100 = 0), " +
      pqTailSql("SELECT q.query_id, c.vec_id, SUM(q.d) AS adc FROM cdf c JOIN qd q ON q.m = c.m AND q.j = c.code + 1 AND c.vec_id <> q.query_id GROUP BY 1,2",
        rerank, kTop)
  }

  /** Full SQL replication of [[graft.sim.Similarity.ivfPqTopK]]: a SECOND
    * trained codebook (prefix `cr`, numSub=1 spanning all dims) partitions
    * the collection into inverted lists; each query ranks the coarse
    * centroids by exact integer distance (ties to the smaller id) and the
    * ADC join is constrained to its nProbe nearest lists. */
  private val ivfPqOracleSql: String = {
    val (m, s, k, iters, rerank, kTop) = (4, 16, 16, 2, 100, 10)
    val (nLists, nProbe) = (16, 4)
    val dist = s"list_sum(list_transform(generate_series(1,$s), i -> (v.sq[i]-a.sq[i])*(v.sq[i]-a.sq[i])))"
    val cdist = s"list_sum(list_transform(generate_series(1,64), i -> (v.sq[i]-a.sq[i])*(v.sq[i]-a.sq[i])))"
    s"WITH $pqQ0Cte, " +
      pqAnchorCtes("", m, s, k, iters) + ", " +
      pqAnchorCtes("cr", 1, 64, nLists, iters) + ", " +
      s"qd AS (SELECT v.vec_id AS query_id, v.m, a.j, $dist AS d FROM vs v JOIN a$iters a ON a.m = v.m WHERE v.vec_id % 100 = 0), " +
      s"pr AS (SELECT query_id, cent_id FROM (SELECT v.vec_id AS query_id, a.j - 1 AS cent_id, ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY $cdist, a.j) AS prn FROM crvs v JOIN cra$iters a ON a.m = v.m WHERE v.vec_id % 100 = 0) WHERE prn <= $nProbe), " +
      pqTailSql("SELECT q.query_id, c.vec_id, SUM(q.d) AS adc FROM cdf c " +
        "JOIN crcdf l ON l.vec_id = c.vec_id " +
        "JOIN pr ON pr.cent_id = l.code " +
        "JOIN qd q ON q.query_id = pr.query_id AND q.m = c.m AND q.j = c.code + 1 AND c.vec_id <> q.query_id GROUP BY 1,2",
        rerank, kTop)
  }

  /** Full SQL replication of [[graft.sim.Similarity.ivfPqResidualTopK]]:
    * the fine codebook trains on RESIDUAL vectors (quantized embedding
    * minus its final coarse centroid — `rq0`), fine codes assign residuals
    * to it, and each query's LUT is computed PER PROBED LIST against its
    * residual w.r.t. that list's centroid. Exact integers throughout, so
    * the whole residual pipeline — both trainings included — is checkable. */
  private val ivfPqResOracleSql: String = {
    val (m, s, k, iters, rerank, kTop) = (4, 16, 16, 2, 100, 10)
    val (nLists, nProbe) = (16, 4)
    val dist = s"list_sum(list_transform(generate_series(1,$s), i -> (v.sq[i]-a.sq[i])*(v.sq[i]-a.sq[i])))"
    val cdist = s"list_sum(list_transform(generate_series(1,64), i -> (v.sq[i]-a.sq[i])*(v.sq[i]-a.sq[i])))"
    s"WITH $pqQ0Cte, " +
      pqAnchorCtes("cr", 1, 64, nLists, iters) + ", " +
      s"rq0 AS (SELECT c.vec_id, list_transform(generate_series(1,64), i -> q.qe[i] - a.sq[i]) AS qe " +
        s"FROM crcdf c JOIN q0 q ON q.vec_id = c.vec_id JOIN cra$iters a ON a.m = 0 AND a.j = c.code + 1), " +
      pqAnchorCtes("rs", m, s, k, iters, src = "rq0") + ", " +
      s"pr AS (SELECT query_id, cent_id FROM (SELECT v.vec_id AS query_id, a.j - 1 AS cent_id, ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY $cdist, a.j) AS prn FROM crvs v JOIN cra$iters a ON a.m = v.m WHERE v.vec_id % 100 = 0) WHERE prn <= $nProbe), " +
      s"qres AS (SELECT p.query_id, p.cent_id, list_transform(generate_series(1,64), i -> q.qe[i] - a.sq[i]) AS qe " +
        s"FROM pr p JOIN q0 q ON q.vec_id = p.query_id JOIN cra$iters a ON a.m = 0 AND a.j = p.cent_id + 1), " +
      s"qvs AS (SELECT query_id, cent_id, s.m, list_slice(qe, s.m*$s+1, s.m*$s+$s) AS sq FROM qres CROSS JOIN rssub s), " +
      s"qd AS (SELECT v.query_id, v.cent_id, v.m, a.j, $dist AS d FROM qvs v JOIN rsa$iters a ON a.m = v.m), " +
      pqTailSql("SELECT q.query_id, c.vec_id, SUM(q.d) AS adc FROM rscdf c " +
        "JOIN crcdf l ON l.vec_id = c.vec_id " +
        "JOIN qd q ON q.cent_id = l.code AND q.m = c.m AND q.j = c.code + 1 AND c.vec_id <> q.query_id GROUP BY 1,2",
        rerank, kTop)
  }

  /** nProbe values swept by sim_ivf_recall (16 = every list: recall 1.0). */
  private val ivfRecallProbes = Seq(1, 4, 16)

  /** Recall@10 of the IVF pipeline vs brute force per nProbe — one ranked
    * probe/score pass (probe rank rides each scored pair), per-config rank
    * + hit count against the brute-force top-k. */
  private val ivfRecallOracleSql: String = {
    val maxP = ivfRecallProbes.max
    val per = ivfRecallProbes.zipWithIndex.map { case (np, i) =>
      s"r_$i AS (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM scall WHERE prn <= $np), " +
        s"h_$i AS (SELECT COUNT(*) AS n FROM r_$i l JOIN br b ON b.query_id = l.query_id AND b.vec_id = l.vec_id WHERE l.rnk <= 10)"
    }.mkString(", ")
    val branches = ivfRecallProbes.zipWithIndex.map { case (np, i) =>
      s"SELECT $np AS n_probe, nq.n AS n_queries, h_$i.n AS n_hits, CAST(floor(100*h_$i.n/(10*nq.n)) AS BIGINT) AS recall_pct FROM h_$i CROSS JOIN nq"
    }.mkString(" UNION ALL ")
    s"WITH $ivfCodebookCtes, " +
      s"prall AS (SELECT query_id, qe, cent_id, rn FROM (SELECT e.vec_id AS query_id, e.embedding AS qe, s.cent_id, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, s.c) DESC, s.cent_id) AS rn FROM embeddings e CROSS JOIN cb2 s WHERE e.vec_id % 100 = 0) WHERE rn <= $maxP), " +
      "scall AS (SELECT p.query_id, l.vec_id, list_cosine_similarity(p.qe, l.embedding) AS score, p.rn AS prn FROM lists l JOIN prall p ON p.cent_id = l.cent_id AND l.vec_id <> p.query_id), " +
      "qq AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id % 100 = 0), " +
      "bs AS (SELECT qq.query_id, e.vec_id, list_cosine_similarity(qq.qemb, e.embedding) AS score FROM qq, embeddings e WHERE e.vec_id <> qq.query_id), " +
      "br AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM bs) WHERE rnk <= 10), " +
      "nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n FROM br), " +
      s"$per SELECT * FROM ($branches) ORDER BY n_probe"
  }

  /** Shared quantized-embedding CTE for the LSH oracles (mirrors
    * Similarity.signatureInt's floor(x*1024) quantization). */
  private val q0Cte: String =
    s"q0 AS (SELECT vec_id, embedding, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*${Similarity.QuantScale}) AS BIGINT)) AS qe FROM embeddings)"

  /** LSH top-k CTE chain for one (numPlanes, bandBits) signature config over
    * the shared `q0` CTE — full SQL replication of Similarity.lshTopK (the
    * integer signature is exact in both engines: products < 2^53). Final
    * CTE: r$sfx(query_id, vec_id, rnk). */
  private def lshTopKCtes(numPlanes: Int, bandBits: Int, sfx: String): String = {
    val sigBits = Similarity.intPlanes(64, numPlanes).zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(qe, ${p.mkString("[", ",", "]")}) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
    }.mkString(" | ")
    val bands = numPlanes / bandBits
    val mask = (1L << bandBits) - 1
    s"sig$sfx AS (SELECT vec_id, ($sigBits) AS sg FROM q0), " +
      s"b$sfx AS (SELECT vec_id, band, ((sg >> (band*$bandBits)) & $mask) AS bucket FROM sig$sfx CROSS JOIN (SELECT unnest(generate_series(0,${bands - 1})) AS band)), " +
      s"qb$sfx AS (SELECT vec_id AS query_id, band, bucket FROM b$sfx WHERE vec_id % 100 = 0), " +
      s"cand$sfx AS (SELECT DISTINCT q.query_id, x.vec_id FROM b$sfx x JOIN qb$sfx q ON x.band = q.band AND x.bucket = q.bucket AND x.vec_id <> q.query_id), " +
      s"sc$sfx AS (SELECT c.query_id, c.vec_id, list_cosine_similarity(eq.embedding, ev.embedding) AS score FROM cand$sfx c JOIN embeddings eq ON eq.vec_id = c.query_id JOIN embeddings ev ON ev.vec_id = c.vec_id), " +
      s"r$sfx AS (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM sc$sfx)"
  }

  /** Band configs swept by sim_lsh_recall: the pinned 16/4 default and the
    * scale layout (64 planes / 16-bit bands = 65k buckets per band). */
  private val lshRecallConfigs = Seq((16, 4), (64, 16))

  /** The BM25 retrieval workload: multi-term queries mixing the corpus's
    * one rare token (`dup`, df≈5%) with corpus-wide ones — exercises both
    * the idf spread and the tf/length tie-breaking. */
  private val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("dup", "merge"),
    2 -> Seq("hash", "join", "table"),
    3 -> Seq("spark", "window"),
    4 -> Seq("slow", "scan", "filter"))

  private val bm25QueryValues: String = bm25Queries
    .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }.mkString(", ")

  /** The predicate set closed over by rdf_path_transitive: every
    * entity-ref edge in the derived triple graph. */
  private val refPreds = Seq("customer", "nation", "region")
  private val refPredsSql = refPreds.map(p => s"'$p'").mkString(", ")

  private def langScoreSql(lang: String, words: Seq[String]): String =
    s"CAST(len(list_filter(string_split(text,' '), x -> x IN (${words.map(w => s"'$w'").mkString(",")}))) AS INTEGER) AS s_$lang"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CindEngine.minimalCinds(
      CindEngine.allCinds(triples(spark, "/root/testdata/sf0.001"), MS).toDF())

  /** One per implemented operator from SURVEY.md §3. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rdf_bgp_star" -> ((s, dir) => // SPARQL star pattern: 2 constraints + project
      graft.rdf.TripleStats.bgpStar(triples(s, dir),
        Seq(("status", "F"), ("priority", "1-URGENT")), "customer")
        .orderBy("subj", "value")),
    "rdf_bgp_minus" -> ((s, dir) => // SPARQL MINUS: anti-join negation
      // orders with status F whose priority is NOT 1-URGENT, projected
      // through their customer ref
      graft.rdf.TripleStats.bgpMinus(triples(s, dir),
        Seq(("status", "F")), "customer", "priority", "1-URGENT")
        .orderBy("subj", "value")),
    "rdf_bgp_optional" -> ((s, dir) => // SPARQL OPTIONAL: left-join pattern
      // lineitem star: subjects with a part ref; the return-flag triple
      // attaches optionally (nulls surface as the engine-neutral sentinel)
      graft.rdf.TripleStats.bgpOptional(triples(s, dir),
        Seq(), "part", "flag")
        .orderBy("subj", "value", "opt_value")),
    "rdf_bgp_chain" -> ((s, dir) => // 4-hop path: order->customer->nation->region->name
      graft.rdf.TripleStats.bgpChain(triples(s, dir),
        Seq("customer", "nation", "region", "name"))
        .orderBy("subj", "value")),
    "rdf_path_transitive" -> ((s, dir) => // property path (ref)+: fixpoint closure
      graft.rdf.TripleStats.pathClosure(triples(s, dir), refPreds)
        .orderBy("subj", "dest")),
    "rdf_triples" -> ((s, dir) =>
      triples(s, dir).orderBy("subj", "pred", "obj")),
    "cind_condition_counts" -> ((s, dir) =>
      CindEngine.conditionCounts(triples(s, dir))
        .filter(col("cnt") >= MS).orderBy("cond_code", "v1", "v2")),
    "cind_frequent_captures" -> ((s, dir) =>
      // condition pruning first: result-identical (capture support <= its
      // condition's triple count) but halves the distinct-aggregation input
      CindEngine.frequentCaptures(CindEngine.prunedCaptureInstances(triples(s, dir), MS), MS)
        .orderBy("code", "v1", "v2")),
    "cind_all" -> ((s, dir) =>
      CindEngine.allCinds(triples(s, dir), MS).toDF()
        .orderBy(cindCols.map(col): _*)),
    "cind_minimal" -> ((s, dir) =>
      CindEngine.minimalCinds(CindEngine.allCinds(triples(s, dir), MS).toDF())
        .orderBy(cindCols.map(col): _*)),
    // the reference's other traversal strategies: each runs allCinds
    // (CindEngine.allCindsIntersect), so each plan equals cind_all's
    "cind_all_tworound" -> ((s, dir) => // strategies 2/3
      CindEngine.allCindsTwoRound(triples(s, dir), MS).toDF()
        .orderBy(cindCols.map(col): _*)),
    "cind_all_intersect" -> ((s, dir) => // strategy 0
      CindEngine.allCindsIntersect(triples(s, dir), MS).toDF()
        .orderBy(cindCols.map(col): _*)),
    "cind_all_s2l" -> ((s, dir) => // strategy 1, the reference default
      CindEngine.allCindsSmallToLarge(triples(s, dir), MS).toDF()
        .orderBy(cindCols.map(col): _*)),
    "cind_all_hybrid" -> ((s, dir) => // the hybrid exact/Bloom merge (A3)
      CindEngine.allCindsHybrid(triples(s, dir), MS).toDF()
        .orderBy(cindCols.map(col): _*)),
    "cind_all_bloom" -> ((s, dir) => // 100 TB valve: the condition Bloom filter ON
      CindEngine.allCinds(triples(s, dir), MS, bloomConditions = true).toDF()
        .orderBy(cindCols.map(col): _*)),
    "cind_association_rules" -> ((s, dir) =>
      CindEngine.associationRules(triples(s, dir), MS)
        .orderBy("ante_code", "ante_val", "cons_code", "cons_val")),
    "cind_all_pruned" -> ((s, dir) => // reference default: AR pruning ON
      CindEngine.allCindsPruned(triples(s, dir), MS).toDF()
        .orderBy(cindCols.map(col): _*)),
    "cind_all_proj_s" -> ((s, dir) => // reference --projection s
      CindEngine.allCinds(triples(s, dir), MS, projections = "s").toDF()
        .orderBy(cindCols.map(col): _*)),
    "stats_count_conditions" -> ((s, dir) =>
      TripleStats.countConditions(triples(s, dir)).orderBy("cond_code")),
    "stats_distinct_values" -> ((s, dir) =>
      TripleStats.countDistinctValues(triples(s, dir))),
    "stats_hash_collisions" -> ((s, dir) =>
      TripleStats.hashCollisions(triples(s, dir)).orderBy("hash")),
    "stats_degree_distribution" -> ((s, dir) => // graph structure profile
      TripleStats.degreeDistribution(triples(s, dir))
        .orderBy("side", "degree")),
    "rdf_shorten_urls" -> ((s, dir) =>
      TripleStats.shortenTriples(triples(s, dir), prefixes)
        .orderBy("subj", "pred", "obj")),
    "rdf_parse_ntriples" -> ((s, dir) => {
      // render -> parse round trip exercises the N-Triples source path
      // (comment filter, bracketed URIs, quoted literals with spaces)
      import s.implicits._
      val lines = triples(s, dir)
        .select(concat(lit("<"), col("subj"), lit("> <"), col("pred"),
          lit("> \""), col("obj"), lit("\" .")).as("line"))
        .unionAll(s.range(5).select(concat(lit("# comment "), col("id")).as("line")))
        .as[String]
      TripleSource.parseNTriples(lines).orderBy("subj", "pred", "obj")
    }),
    "rdf_asciify" -> ((s, dir) =>
      // inject a non-ASCII char so the fold actually fires on this corpus
      TripleStats.asciifyTriples(
        triples(s, dir).withColumn("obj", concat(col("obj"), lit("é"))))
        .orderBy("subj", "pred", "obj")),
    "rdf_apply_hash" -> ((s, dir) =>
      TripleStats.applyHash(triples(s, dir)).orderBy("subj", "pred", "obj")),
    "rdf_dictionary_roundtrip" -> ((s, dir) =>
      TripleStats.dictionaryRoundTrip(triples(s, dir)).orderBy("subj", "pred", "obj")),
    "cind_join_line_histogram" -> ((s, dir) =>
      CindEngine.joinLineHistogram(triples(s, dir), MS).orderBy("n_captures")),
    "cind_reduced_binary_counts" -> ((s, dir) =>
      CindEngine.reducedBinaryConditionCounts(triples(s, dir), MS)
        .orderBy("cond_code", "v1", "v2")),
    "cind_unary_overlaps" -> ((s, dir) =>
      CindEngine.unaryOverlaps(triples(s, dir), MS)
        .orderBy("dep_code", "dep_v1", "ref_code", "ref_v1")),
    "events_props_sum" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("event_type")),
    "stats_count_triples" -> ((s, dir) =>
      triples(s, dir).agg(count(lit(1)).as("n_triples"))),
    "events_window_counts" -> ((s, dir) =>
      // 5-minute tumbling buckets keyed by epoch seconds: integer-divide the
      // canonical micros timestamp (positive epochs -> div == floor)
      events(s, dir)
        .groupBy(expr("(unix_micros(ts) div 300000000) * 300").as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
        .orderBy("bucket_start", "event_type")),
    "events_hopping" -> ((s, dir) =>
      // 10-minute windows every 5 minutes: each event lands in exactly two
      // overlapping windows (native sliding-window generator, map-side
      // expansion, one hash-agg shuffle — same shape as the tumbling query)
      EventStream.hoppingCounts(events(s, dir), watermark = false)
        .orderBy("bucket_start", "event_type")),
    "events_trending" -> ((s, dir) => // top types per window: WindowGroupLimit
      EventStream.trendingTypes(events(s, dir), 3)
        .orderBy("bucket_start", "rank")),
    "events_changepoint" -> ((s, dir) => // mean-shift scores on hourly rates
      EventStream.changepoints(events(s, dir), bucketSec = 3600L, w = 6)
        .orderBy("event_type", "bucket_start")),
    "events_hopping_stream" -> ((s, dir) => {
      // the overlapping-window finalization path through the engine: each
      // event is in TWO in-flight windows; sentinel closes them all
      import s.implicits._
      val ev = events(s, dir).select(col("ts"), col("event_type"))
        .as[(java.sql.Timestamp, String)].collect().toSeq
      graft.streaming.StreamDriver.hoppingCountsStreamed(s, ev)
        .orderBy("bucket_start", "event_type")
    }),
    "events_interval_join" -> ((s, dir) => {
      // lookback enrichment: each click paired with EVERY view by the same
      // user in the preceding 4 hours — the all-matches complement of the
      // as-of join, planned as a keyed equi-join + band filter (no
      // nested-loop range join)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("id"), col("user_id").as("key"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("key"), col("ts"), col("value").as("v"))
      EventStream.intervalJoin(clicks, views, "4 hours")
        .select(col("id").as("click_id"), col("key").as("user_id"),
          unix_micros(col("ts")).as("ts"),
          unix_micros(col("r_ts")).as("view_ts"),
          floor(col("v") * 1000).as("view_value_milli"))
        .orderBy("click_id", "view_ts")
    }),
    "events_join_stream" -> ((s, dir) => {
      // the SAME interval-join question executed through Spark's NATIVE
      // stream-stream join (two watermarked MemoryStreams, symmetric hash
      // join with the time band bounding state) — driver-verified against
      // the identical SQL oracle as the batch events_interval_join.
      // MemoryStream is driver-fed by design; the operator runs distributed.
      import s.implicits._
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      graft.streaming.StreamDriver.intervalJoinStreamed(s, clicks, views, "4 hours")
        .select(col("id").as("click_id"), col("key").as("user_id"),
          unix_micros(col("ts")).as("ts"),
          unix_micros(col("r_ts")).as("view_ts"),
          floor(col("v") * 1000).as("view_value_milli"))
        .orderBy("click_id", "view_ts")
    }),
    "events_sessions" -> ((s, dir) =>
      EventStream.sessions(events(s, dir), watermark = false)
        .orderBy("user_id", "session_start")),
    "events_sessions_stream" -> ((s, dir) => {
      // sessionization THROUGH the streaming engine in APPEND mode
      // (session_window + watermark; sessions emit as the watermark closes
      // them) — same driver-verified pattern, same oracle as events_sessions
      import s.implicits._
      val ev = events(s, dir).select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)].collect().toSeq
      graft.streaming.StreamDriver.sessionsStreamed(s, ev)
        .orderBy("user_id", "session_start")
    }),
    "events_window_stream" -> ((s, dir) => {
      // the windowed-count aggregation executed THROUGH the streaming
      // engine in APPEND mode (MemoryStream -> watermark -> window agg ->
      // memory sink; windows flush as the watermark passes them) — same
      // driver-verified pattern as events_asof_stream. n_users is omitted:
      // distinct aggregation is not streamable, and the point here is the
      // watermark-finalized window path, not the batch count.
      import s.implicits._
      val ev = events(s, dir).select(col("ts"), col("event_type"))
        .as[(java.sql.Timestamp, String)].collect().toSeq
      graft.streaming.StreamDriver.windowCountsStreamed(s, ev)
        .orderBy("bucket_start", "event_type")
    }),
    "events_window_stream_fsink" -> ((s, dir) => {
      // the SAME watermarked window aggregation, committed through the
      // PRODUCTION parquet file sink (+ checkpoint) and read back from the
      // sink's exactly-once file log — same oracle as the memory-sink twin
      import s.implicits._
      val ev = events(s, dir).select(col("ts"), col("event_type"))
        .as[(java.sql.Timestamp, String)].collect().toSeq
      graft.streaming.StreamDriver.windowCountsFileSink(s, ev)
        .orderBy("bucket_start", "event_type")
    }),
    "events_enriched" -> ((s, dir) => { // stream-static dim attach, batch twin
      import s.implicits._
      graft.streaming.EventStream.enrichedWindowTotals(
          events(s, dir).select("ts", "event_type", "value"),
          eventDim.toDF("event_type", "category", "weight"), watermark = false)
        .orderBy("bucket_start", "category")
    }),
    "events_enriched_stream" -> ((s, dir) => {
      // the SAME enrichment join + window agg run THROUGH the streaming
      // engine: the static dim broadcasts per micro-batch, the watermark
      // finalizes windows in append mode; shares the batch twin's oracle
      import s.implicits._
      val ev = events(s, dir).select(col("ts"), col("event_type"), col("value"))
        .as[(java.sql.Timestamp, String, Double)].collect().toSeq
      graft.streaming.StreamDriver.enrichedStreamed(s, ev, eventDim)
        .orderBy("bucket_start", "category")
    }),
    "events_range" -> ((s, dir) => {
      // value-band classification via the bucketized range join (bands
      // overlap on [5,10) to exercise multi-match)
      import s.implicits._
      val ev = events(s, dir).select("event_id", "value")
      val bands = Seq((0.0, 10.0, "xs"), (5.0, 50.0, "mid"),
        (50.0, 200.0, "large"), (200.0, 1000.0, "xl")).toDF("lo", "hi", "tier")
      EventStream.rangeJoin(ev, bands, "value", bucketWidth = 50.0)
        .select(col("event_id"), col("tier")).orderBy("event_id", "tier")
    }),
    "events_funnel_windowed" -> ((s, dir) => // steps must land within 1 day
      EventStream.funnelWindowed(events(s, dir),
        Seq("view", "click", "purchase"), 86400L).orderBy("stage")),
    "events_funnel" -> ((s, dir) =>
      // view -> click -> purchase conversion over the canonical micros
      // timestamps — both engines compare the same instants
      EventStream.funnel(events(s, dir),
        Seq("view", "click", "purchase")).orderBy("stage")),
    "events_funnel_times" -> ((s, dir) => // conversion latency, exact micros
      EventStream.funnelTimes(events(s, dir),
        Seq("view", "click", "purchase")).orderBy("stage_from")),
    "events_retention" -> ((s, dir) => // cohort-by-first-day retention matrix
      EventStream.retentionCohorts(events(s, dir))
        .orderBy("cohort_day", "day_offset")),
    "events_transitions" -> ((s, dir) => // first-order Markov transition matrix
      EventStream.transitions(events(s, dir))
        .orderBy("prev_type", "next_type")),
    "events_funnel_stream" -> ((s, dir) => {
      // the SAME conversion-funnel question executed through the STREAMING
      // engine: a watermarked per-user stage state machine emits one hit
      // per reached stage (events mature in event-time order, so each
      // first-at-or-after decision is final); the bounded driver counts
      // hits per stage batch-side. Same DuckDB oracle as events_funnel.
      import s.implicits._
      val stages = Seq("view", "click", "purchase")
      val ev = events(s, dir).filter(col("event_type").isin(stages: _*))
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq
      val hits = graft.streaming.StreamDriver.funnelStreamed(s, ev, stages)
      val stageDim = stages.zipWithIndex.map { case (t, i) => (i + 1, t) }
        .toDF("stage", "event_type")
      stageDim
        .join(hits.groupBy("stage").agg(count(lit(1)).as("n_users")),
          Seq("stage"), "left")
        .select(col("stage"), col("event_type"),
          coalesce(col("n_users"), lit(0L)).as("n_users"))
        .orderBy("stage")
    }),
        "events_asof_bucketed" -> ((s, dir) => {
      // the SKEW-SAFE as-of execution of the same question: per-key window
      // split by 1-hour time buckets + bounded carry-in — shares
      // events_asof's oracle (result-identical by construction)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("v"))
      EventStream.asOfJoinBucketed(clicks, views, "user_id", "ts",
          Seq("ts", "v"), "1 hour")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts"),
          coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("asof_ts"),
          coalesce(floor(col("asof_v") * 1000).cast("long"), lit(-1L))
            .as("asof_value_milli"))
        .orderBy("event_id")
    }),
"events_asof" -> ((s, dir) => {
      // point-in-time enrichment: each click gets the latest preceding view
      // (same user), joined on the canonical micros timestamps (both engines
      // see identical tie comparisons). No-match sentinel -1 instead of
      // NULL (engines hash NULL/NaN differently).
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("v"))
      EventStream.asOfJoin(clicks, views, "user_id", "ts", Seq("ts", "v"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts"),
          coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("asof_ts"),
          coalesce(floor(col("asof_v") * 1000), lit(-1L)).as("asof_value_milli"))
        .orderBy("event_id")
    }),
    "events_asof_stream" -> ((s, dir) => {
      // the SAME as-of question as events_asof, but executed through the
      // STREAMING engine (MemoryStream -> watermark ->
      // flatMapGroupsWithState -> memory sink) via StreamDriver — the
      // driver-level check that the stream state machine, not just the
      // batch window, computes the oracle answer. MemoryStream is
      // driver-fed by design, so the bounded fixture slices are collected
      // to feed it; the operator under test runs distributed.
      import s.implicits._
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("v"))
        .select(col("user_id"), col("ts"), col("v"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      graft.streaming.StreamDriver.asOfStreamed(s, clicks, views)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          unix_micros(col("ts")).as("ts"),
          coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("asof_ts"),
          coalesce(floor(col("asof_v") * 1000), lit(-1L)).as("asof_value_milli"))
        .orderBy("event_id")
    }),
    "events_asof_stream_fsink" -> ((s, dir) => {
      // the as-of state machine writing through the PRODUCTION parquet
      // file sink (+ checkpoint), result read back from committed files —
      // same oracle as events_asof_stream
      import s.implicits._
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("v"))
        .select(col("user_id"), col("ts"), col("v"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      graft.streaming.StreamDriver.asOfFileSink(s, clicks, views)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          unix_micros(col("ts")).as("ts"),
          coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("asof_ts"),
          coalesce(floor(col("asof_v") * 1000), lit(-1L)).as("asof_value_milli"))
        .orderBy("event_id")
    }),
    // --- training-data pipeline: dedup ---
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDups(docs(s, dir)).orderBy("doc_id")),
    "dedup_stream_first_seen" -> ((s, dir) => {
      // the batch dedup's keep-set computed THROUGH the streaming engine:
      // four ascending-id micro-batches exercise cross-batch duplicate
      // suppression in flatMapGroupsWithState state; fed in id order the
      // stream's first-seen pick equals "min doc_id per content hash",
      // which is what the SQL oracle asserts
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.firstSeenStreamed(s, batches)
        .orderBy("doc_id")
    }),
    "dedup_stream_first_seen_fsink" -> ((s, dir) => {
      // the streaming first-seen keep-set committed through the PRODUCTION
      // parquet file sink (+ checkpoint) — same batching, same oracle as
      // the memory-sink twin
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.firstSeenFileSink(s, batches)
        .orderBy("doc_id")
    }),
    "dedup_stream_first_seen_fsrc" -> ((s, dir) => {
      // END-TO-END file pipeline: parquet file SOURCE (two-wave incremental
      // directory pickup) -> first-seen state machine -> parquet file sink.
      // No MemoryStream: the only driver-side collect builds the bounded
      // test fixture's wave files. Ascending-id waves keep the same min-id
      // oracle as the memory-sink and fsink twins.
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val waves = all.grouped(math.max(1, (all.size + 1) / 2)).toSeq
      graft.streaming.StreamDriver.firstSeenFileSource(s, waves)
        .orderBy("doc_id")
    }),
    "dedup_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), 50).orderBy("doc_id_a", "doc_id_b")),
    "dedup_minhash_pairs" -> ((s, dir) => // LSH candidates, exact-verified
      Dedup.minhashLshPairs(docs(s, dir), 50).orderBy("doc_id_a", "doc_id_b")),
    "dedup_incremental" -> ((s, dir) => // delta probes the corpus banded index
      Dedup.incrementalDedup(docs(s, dir), col("doc_id") % 5 === 0, 50)
        .orderBy("doc_id")),
    "dedup_clusters" -> ((s, dir) => // connected components over near-dup pairs
      Dedup.duplicateClusters(docs(s, dir), 50).orderBy("doc_id")),
    "dedup_ngram_windows" -> ((s, dir) => // exact-substring window profile
      Dedup.ngramWindowDups(docs(s, dir), 8).orderBy("doc_id")),
    "dedup_canonical" -> ((s, dir) => // representative election per cluster
      Dedup.canonicalDocs(docs(s, dir), 50).orderBy("cluster_id")),
    "dedup_simhash_pairs" -> ((s, dir) =>
      // maxHamming 3 = the 4x16-bit banding's completeness bound; beyond 3
      // the band join would silently miss pairs (documented contract)
      Dedup.simhashPairs(docs(s, dir), 3).orderBy("doc_id_a", "doc_id_b")),
    "dedup_simhash_stream" -> ((s, dir) => {
      // the SAME near-dup pair set computed THROUGH the streaming engine:
      // per-(band, bucket) signature state in flatMapGroupsWithState, four
      // micro-batches exercising cross-batch pairing (a pair whose members
      // arrive in different batches must come from state, not the batch);
      // the emitted set is arrival-order-invariant, so the brute-force
      // batch oracle applies unchanged
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.simhashPairsStreamed(s, batches)
        .orderBy("doc_id_a", "doc_id_b")
    }),
    // --- text analysis ---
    "text_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir)).orderBy("doc_id")),
    "text_subtokens" -> ((s, dir) =>
      TextAnalysis.subtokenCounts(docs(s, dir)).orderBy("doc_id")),
    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir)).orderBy("doc_id")),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir)).orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir)).orderBy("doc_id")),
    "text_rolling_fingerprint" -> ((s, dir) =>
      TextAnalysis.rollingFingerprint(docs(s, dir)).orderBy("doc_id")),
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdf(docs(s, dir)).orderBy("doc_id", "rank")),
    "text_bm25" -> ((s, dir) => // inverted-index BM25 top-k retrieval
      TextAnalysis.bm25TopK(docs(s, dir), bm25Queries)
        .orderBy("query_id", "rank")),
    "text_bigram_score" -> ((s, dir) =>
      TextAnalysis.bigramScore(docs(s, dir)).orderBy("doc_id")),
    "text_lm_bits" -> ((s, dir) => // smoothed conditional bigram surprisal
      TextAnalysis.lmBits(docs(s, dir)).orderBy("doc_id")),
    "text_repetition" -> ((s, dir) => // Gopher-style repetition rules, map-side
      TextAnalysis.repetitionStats(docs(s, dir)).orderBy("doc_id")),
    "text_pii_redact" -> ((s, dir) => {
      // the natural fixture contains no PII, so deterministic PII is
      // INJECTED per doc_id class (email / phone / IP / none) — the oracle
      // augments identically, so every redaction branch is exercised
      TextAnalysis.redactPii(docs(s, dir).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now")))
            .when(col("doc_id") % 5 === 1,
              concat(lit(" call 555-867-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .when(col("doc_id") % 5 === 2,
              concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
                lit(".1 up")))
            .otherwise(lit("")))))
        .orderBy("doc_id")
    }),
    "text_vocab_topk" -> ((s, dir) => // global token top-k, deterministic rank
      TextAnalysis.vocabTopK(docs(s, dir), 20).orderBy("rank")),
    "text_heavy_hitters" -> ((s, dir) => // MG sketch candidates + exact recount
      TextAnalysis.heavyHitters(docs(s, dir), 0.005).orderBy("token")),
    "text_heavy_hitters_stream" -> ((s, dir) => {
      // the SAME sketch-then-recount pipeline executed ONLINE through the
      // streaming engine: four micro-batches fold into the sharded
      // Misra-Gries state, the final per-shard summaries form the
      // candidate superset, the exact recount tail matches the batch
      // query bit-for-bit (shared oracle). Driver-fed fixture,
      // distributed operator — as with every *_stream query.
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.heavyHittersStreamed(s, batches, 0.005)
        .orderBy("token")
    }),
    "text_pack_sequences" -> ((s, dir) => // concat-and-chunk training layout
      graft.pipeline.Curation.packSequences(docs(s, dir), 512)
        .orderBy("doc_id")),
    // --- curation pipeline (composed: lang + quality + dedup clusters) ---
    "curate_docs" -> ((s, dir) =>
      graft.pipeline.Curation.curate(docs(s, dir), 50).orderBy("doc_id")),
    "curate_mix" -> ((s, dir) => // data mixing: deterministic mod-100 draw
      graft.pipeline.Curation.mixBySource(docs(s, dir),
        Map("src0" -> 80, "src1" -> 50), 25).orderBy("doc_id")),
    "corpus_stats" -> ((s, dir) =>
      graft.pipeline.Curation.corpusStats(docs(s, dir)).orderBy("source", "lang")),
    "text_decontaminate" -> ((s, dir) => { // benchmark n-gram decontamination
      val d = docs(s, dir)
      graft.pipeline.Curation.decontaminate(
        d.filter(col("doc_id") % 20 =!= 0), d.filter(col("doc_id") % 20 === 0))
        .orderBy("doc_id")
    }),
    "curate_source_cap" -> ((s, dir) => // per-source top-k via bounded aggregator
      graft.pipeline.Curation.capPerSource(docs(s, dir), 10)
        .orderBy("source", "rank")),
    "curate_pps_sample" -> ((s, dir) => // systematic PPS draws, zero randomness
      graft.pipeline.Curation.ppsSample(docs(s, dir), 100)
        .orderBy("doc_id")),
    "curate_leakage_split" -> ((s, dir) => // split + shingle-disjoint eviction
      graft.pipeline.Curation.leakageSplit(docs(s, dir), 10)
        .orderBy("doc_id")),
    "curate_split" -> ((s, dir) => // deterministic hash train/valid/test split
      graft.pipeline.Curation.splitCorpus(docs(s, dir),
        Seq(("train", 90), ("valid", 5), ("test", 5))).orderBy("doc_id")),
    "curate_stream" -> ((s, dir) => {
      // the streaming corpus intake (quality gate + cross-batch first-seen
      // dedup) executed THROUGH the engine: four ascending-id micro-batches,
      // so the keep-set equals "min doc_id per content hash among
      // quality-passing docs" — the SQL oracle below
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.curateStreamed(s, batches).orderBy("doc_id")
    }),
    "tpch_sales_opportunity" -> ((s, dir) => // Q22 analog: anti-join + scalar avg
      graft.stats.Analytics.salesOpportunity(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"), "2000-06-01")
        .orderBy("c_nationkey")),
    "profile_equidepth" -> ((s, dir) => // equal-count buckets, cents-exact
      graft.stats.Profile.equiDepthHistogram(
        Tables.read(s, dir, "lineitem"), "l_extendedprice", 8, 100L)
        .orderBy("bucket")),
    "profile_quantile_sketch" -> ((s, dir) => // mergeable hash-rank sample
      graft.stats.Profile.quantileSketch(
        Tables.read(s, dir, "lineitem"), "l_returnflag",
        round(col("l_extendedprice") * 100),
        col("l_orderkey") * 10 + col("l_linenumber"),
        Seq(50, 90, 99), 512)
        .orderBy("l_returnflag")),
    "profile_quantile_sketch_stream" -> ((s, dir) => { // online subsample intake
      // a deterministic quarter of lineitem keeps the driver-fed fixture
      // in line with the other stream harnesses; the sharded state folds
      // ONLINE and the shared tail answers the batch oracle construction
      import s.implicits._
      val rows = Tables.read(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("string").as("k"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
        .select("g", "v", "k")
        .as[(String, Long, String)].collect().toSeq
      val batches = rows.grouped(math.max(1, (rows.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.quantileSketchStreamed(s, batches)
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag")
    }),
    "profile_zonemap_skip" -> ((s, dir) => // layout-vs-skipping report
      graft.stats.Profile.zoneMapSkipping(
        Tables.read(s, dir, "orders"), "o_orderkey",
        round(col("o_totalprice") * 100), 5000000L, 10000000L, 64)
        .orderBy("layout")),
    "text_vocab_growth" -> ((s, dir) => // Heaps-law curve, first-bucket charge
      graft.stats.Profile.vocabGrowth(docs(s, dir), 10)
        .orderBy("bucket")),
    "profile_zorder" -> ((s, dir) => // Morton-interleave layout extents
      graft.stats.Profile.zorderExtents(
        Tables.read(s, dir, "lineitem"), "l_partkey", "l_suppkey")
        .orderBy("bucket")),
    "tpch_priority_pivot" -> ((s, dir) => // Dataset.pivot, explicit value list
      graft.stats.Analytics.priorityPivot(
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"))
        .orderBy("ship_year")),
    "tpch_important_parts" -> ((s, dir) => // Q11 analog: group vs global share
      graft.stats.Analytics.importantParts(
        Tables.read(s, dir, "lineitem"), 150)
        .orderBy("l_partkey")),
    "tpch_banded_revenue" -> ((s, dir) => // Q19 analog: OR-of-ANDs pushdown
      graft.stats.Analytics.bandedRevenue(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "part"))),
    "tpch_colocated_join" -> ((s, dir) => // bucketed fact-fact join, no Exchange
      graft.stats.Analytics.colocatedPriorityRevenue(
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"))
        .orderBy("o_orderpriority")),
    "tpch_scd_customer" -> ((s, dir) => // SCD2 MERGE: change/no-op/insert mix
      scdMerged(s, dir).orderBy("k", "valid_from_us")),
    "events_gap_fill" -> ((s, dir) => // resample: spine + zero-fill + LOCF
      EventStream.gapFill(events(s, dir), 300)
        .orderBy("event_type", "bucket_start")),
    "events_gap_fill_stream" -> ((s, dir) => { // watermark-clock emission
      import s.implicits._
      val ev = events(s, dir).select(col("event_type"), col("ts"), col("value"))
        .as[(String, java.sql.Timestamp, Double)].collect().toSeq
      graft.streaming.StreamDriver.gapFillStreamed(s, ev, 300)
        .orderBy("event_type", "bucket_start")
    }),
    "tpch_pit_join" -> ((s, dir) => { // point-in-time lookup vs the versioned dim
      // fact timestamps land at 0.5/1.5/2.5s — straddling the 1s change
      // boundary, so the same customer resolves to DIFFERENT versions
      // depending on the fact's own time (the as-of-correct semantics)
      val facts = Tables.read(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("fact_id"),
          col("o_custkey").cast("long").as("k"),
          (pmod(col("o_orderkey"), lit(3)).cast("long") * 1000000L + 500000L)
            .as("ts_us"))
      graft.stats.Analytics.pitJoin(facts, scdMerged(s, dir))
        .orderBy("fact_id")
    }),
    "tpch_top_supplier" -> ((s, dir) => // Q15 analog: argmax via equal-to-max
      graft.stats.Analytics.topSupplier(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"),
        "1996-01-01", "1996-04-01")
        .orderBy("s_suppkey")),
    "tpch_pricing_summary" -> ((s, dir) => // Q1 analog, integer-exact money
      graft.stats.Analytics.pricingSummary(
        Tables.read(s, dir, "lineitem"), "2000-12-01")
        .orderBy("l_returnflag", "l_linestatus")),
    "tpch_top_orders" -> ((s, dir) => // Q3 analog: top-k unshipped revenue
      graft.stats.Analytics.topRevenueOrders(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        "BUILDING", "1998-01-01", 10)
        .orderBy(col("revenue_e4").desc, col("l_orderkey"))),
    "tpch_region_revenue" -> ((s, dir) => // Q5 analog: six-table join
      graft.stats.Analytics.regionRevenue(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"),
        Tables.read(s, dir, "nation"),
        Tables.read(s, dir, "region"),
        "AFRICA", "1996-01-01", "1999-01-01")
        .orderBy(col("revenue_e4").desc, col("n_name"))),
    "tpch_order_priority" -> ((s, dir) => // Q4 analog: late-ship EXISTS semi-join
      graft.stats.Analytics.orderPriorityCheck(
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        "1996-01-01", "1997-01-01", 60)
        .orderBy("o_orderpriority")),
    "tpch_customer_distribution" -> ((s, dir) => // Q13 analog: outer-join histogram
      graft.stats.Analytics.customerDistribution(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"))
        .orderBy(col("custdist").desc, col("c_count").desc)),
    "tpch_big_orders" -> ((s, dir) => // Q18 analog: HAVING-gated top-k volume
      graft.stats.Analytics.bigOrders(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"), 150L, 20)
        .orderBy(col("total_qty").desc, col("o_orderkey"))),
    "tpch_small_quantity" -> ((s, dir) => // Q17 analog: decorrelated 20%-of-avg
      graft.stats.Analytics.smallQuantityRevenue(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "part"), "Brand#23")
        .orderBy("l_partkey")),
    "tpch_min_cost_supplier" -> ((s, dir) => // Q2 analog: min-per-group subquery
      graft.stats.Analytics.minCostSupplier(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"),
        Tables.read(s, dir, "nation"),
        Tables.read(s, dir, "region"), "EUROPE", 100)
        .orderBy("l_partkey", "l_suppkey")),
    "tpch_dominant_suppliers" -> ((s, dir) => // Q20 flavor: threshold-per-group
      graft.stats.Analytics.dominantSuppliers(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"),
        Tables.read(s, dir, "nation"),
        "1996-01-01", "1997-01-01")
        .orderBy("s_suppkey")),
    "tpch_waiting_suppliers" -> ((s, dir) => // Q21 analog: double EXISTS, decorrelated
      graft.stats.Analytics.waitingSuppliers(
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"), 90, 20)
        .orderBy(col("numwait").desc, col("s_suppkey"))),
    "tpch_stale_parts" -> ((s, dir) => // explicit LEFT ANTI join (NOT EXISTS)
      graft.stats.Analytics.staleParts(
        Tables.read(s, dir, "part"),
        Tables.read(s, dir, "lineitem"),
        "2001-09-01", "2002-01-01")
        .orderBy("p_partkey")),
    "tpch_pricing_incremental" -> ((s, dir) => { // base + delta partial merge
      // split on orderkey parity: merged partials must equal the full scan
      val li = Tables.read(s, dir, "lineitem")
      graft.stats.Analytics.mergePricingSummaries(
        graft.stats.Analytics.pricingSummary(
          li.filter(col("l_orderkey") % 5 =!= 0), "2000-12-01"),
        graft.stats.Analytics.pricingSummary(
          li.filter(col("l_orderkey") % 5 === 0), "2000-12-01"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "text_cms_stream" -> ((s, dir) => {
      // the Count-Min sketch built ONLINE: four micro-batches through a
      // complete-mode streaming aggregation whose state IS the bounded
      // cells relation; shared estimate tail -> shared oracle
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.cmsEstimatesStreamed(s, batches)
        .orderBy("token")
    }),
    "text_hll_stream" -> ((s, dir) => {
      // the HLL registers built ONLINE: complete-mode streaming MAX
      // aggregation = the sketch's own merge; shared oracle
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.hllRegistersStreamed(s, batches, 10)
        .orderBy("register")
    }),
    "text_hll_registers" -> ((s, dir) => // HyperLogLog as a 2^p-row relation
      TextAnalysis.hllRegisters(docs(s, dir), 10).orderBy("register")),
    "text_kmv_distinct" -> ((s, dir) => // k-minimum-values distinct estimate
      TextAnalysis.kmvDistinct(docs(s, dir), 64).orderBy("source")),
    "text_kmv_overlap" -> ((s, dir) => // theta-sketch pairwise set overlap
      TextAnalysis.kmvOverlap(docs(s, dir), 64)
        .orderBy("source_a", "source_b")),
    "text_kmv_stream" -> ((s, dir) => { // sharded online k-min, bounded state
      import s.implicits._
      val all = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val batches = all.grouped(math.max(1, (all.size + 3) / 4)).toSeq
      graft.streaming.StreamDriver.kmvStreamed(s, batches, 64, 8)
        .orderBy("rank")
    }),
    "text_cms_estimates" -> ((s, dir) => // Count-Min point queries vs exact
      TextAnalysis.cmsEstimates(docs(s, dir), 4, 1024, 50).orderBy("token")),
    "text_triangles" -> ((s, dir) => { // wedge-join clustering structure
      val d = docs(s, dir)
      graft.graph.Graph.triangleCounts(d.select("doc_id"),
        graft.graph.Graph.windowEdges(d, 8, 80)).orderBy("doc_id")
    }),
    "text_pagerank" -> ((s, dir) => // content-centrality over shared-window edges
      graft.graph.Graph.contentPageRank(docs(s, dir), 8, 80, 3)
        .orderBy("doc_id")),
    "text_zipf_slope" -> ((s, dir) => // log-log regression over the vocab head
      graft.text.TextAnalysis.zipfFit(docs(s, dir), 1000)),
    "text_communities" -> ((s, dir) => // synchronous LPA, argmax by max-struct
      graft.graph.Graph.contentCommunities(docs(s, dir), 8, 80, 3)
        .orderBy("doc_id")),
    "sim_mmr_rerank" -> ((s, dir) => // greedy diversity rerank, candidate-sized
      graft.sim.Similarity.mmrRerank(
        Tables.read(s, dir, "embeddings"),
        col("vec_id") % 100 === 0, 5, 20, 70)
        .orderBy("query_id", "rank")),
    "tpch_order_gaps" -> ((s, dir) => // lag-window inter-arrival profile
      graft.stats.Analytics.orderGaps(
        Tables.read(s, dir, "orders"), 4L)
        .orderBy("o_custkey")),
    "tpch_running_totals" -> ((s, dir) => // partitioned running-sum window
      graft.stats.Analytics.runningTotals(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        "BUILDING", "1996-01-01", "1997-01-01")
        .orderBy("o_custkey", "o_orderkey")),
    "tpch_top_orders_per_customer" -> ((s, dir) => // WindowGroupLimit top-N
      graft.stats.Analytics.topOrdersPerCustomer(
        Tables.read(s, dir, "orders"), 3)
        .orderBy("c_custkey", "rank")),
    "tpch_volume_shipping" -> ((s, dir) => // Q7 analog: bilateral trade panel
      graft.stats.Analytics.volumeShipping(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"),
        Tables.read(s, dir, "nation"),
        "1996-01-01", "1998-01-01")
        .orderBy("supp_nation", "cust_nation", "ship_year")),
    "tpch_market_share" -> ((s, dir) => // Q8 analog: share sums per order year
      graft.stats.Analytics.marketShare(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"),
        Tables.read(s, dir, "nation"),
        Tables.read(s, dir, "region"),
        Tables.read(s, dir, "part"),
        "NATION_3", "EUROPE", "STANDARD", "1995-01-01", "1998-01-01")
        .orderBy("order_year")),
    "tpch_product_profit" -> ((s, dir) => // Q9 analog: margin per nation-year
      graft.stats.Analytics.productProfit(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "supplier"),
        Tables.read(s, dir, "nation"),
        Tables.read(s, dir, "part"), "widget")
        .orderBy("n_name", "ship_year")),
    "profile_lineitem" -> ((s, dir) =>
      graft.stats.Profile.profile(
        Tables.read(s, dir, "lineitem"), profileCols)
        .orderBy("column_name")),
    "profile_lineitem_approx" -> ((s, dir) => {
      // the HLL++ sketch value is engine-specific, so the GATE is the
      // bounded-accuracy CONTRACT: the approx count must land within 5% of
      // the exact one (deterministic for fixed data + implementation; HLL
      // rsd here is 2%). The oracle predicts `true` per column from the
      // exact profile alone.
      val df = Tables.read(s, dir, "lineitem")
      val exact = graft.stats.Profile.profile(df, profileCols)
        .select(col("column_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
      val approx = graft.stats.Profile.profile(df, profileCols, approx = true)
        .select(col("column_name"), col("n_distinct").as("nd_approx"))
      exact.join(approx, "column_name")
        .select(col("column_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          (abs(col("nd_approx") - col("n_distinct")) <=
            greatest(lit(1L), floor(col("n_distinct") * 0.05))).as("approx_within_5pct"))
        .orderBy("column_name")
    }),
    "profile_quantiles" -> ((s, dir) =>
      graft.stats.Profile.quantiles(
        Tables.read(s, dir, "lineitem"),
        quantileCols, Seq(0, 25, 50, 75, 100))
        .orderBy("column_name", "q_pct")),
    "profile_histogram" -> ((s, dir) => // equi-width, integer-exact buckets
      graft.stats.Profile.histogram(
        Tables.read(s, dir, "lineitem"),
        "l_extendedprice", 20, scale = 100L)
        .orderBy("bucket")),
    "text_budget_sample" -> ((s, dir) => {
      // budget = half the corpus tokens, so both branches of in_budget are
      // exercised at every scale factor
      val d = docs(s, dir)
      val budget = d.select(sum(size(TextAnalysis.tokens(col("text"))))
        .cast("long")).head.getLong(0) / 2
      graft.pipeline.Curation.budgetSample(d, budget).orderBy("doc_id")
    }),
    // --- similarity search ---
    "sim_topk_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(emb(s, dir), col("vec_id") % 100 === 0, 10)
        .orderBy("query_id", "rank")),
    "sim_topk_agg" -> ((s, dir) => // bounded-aggregator top-k, same semantics
      Similarity.bruteForceTopKAgg(emb(s, dir), col("vec_id") % 100 === 0, 10)
        .orderBy("query_id", "rank")),
    "sim_topk_lsh" -> ((s, dir) =>
      Similarity.lshTopK(emb(s, dir), col("vec_id") % 100 === 0, 10, dims = 64)
        .orderBy("query_id", "rank")),
    "sim_lsh_recall" -> ((s, dir) => // band-layout tuning sweep vs brute force
      Similarity.lshRecall(emb(s, dir), col("vec_id") % 100 === 0, 10, dims = 64,
        lshRecallConfigs).orderBy("num_planes")),
    "sim_topk_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), col("vec_id") % 100 === 0, 10)
        .orderBy("query_id", "rank")),
    "sim_ivf_recall" -> ((s, dir) => // probe-budget tuning sweep vs brute force
      Similarity.ivfRecall(emb(s, dir), col("vec_id") % 100 === 0, 10,
        ivfRecallProbes).orderBy("n_probe")),
    "sim_topk_pq" -> ((s, dir) => // product-quantization ADC top-k, integer-exact
      Similarity.pqTopK(emb(s, dir), col("vec_id") % 100 === 0, 10)
        .orderBy("query_id", "rank")),
    "sim_topk_ivfpq" -> ((s, dir) => // IVF lists + PQ ADC within probed lists
      Similarity.ivfPqTopK(emb(s, dir), col("vec_id") % 100 === 0, 10,
        nLists = 16, nProbe = 4)
        .orderBy("query_id", "rank")),
    "sim_topk_ivfpq_res" -> ((s, dir) => // residual-encoded fine codes
      Similarity.ivfPqResidualTopK(emb(s, dir), col("vec_id") % 100 === 0, 10,
        nLists = 16, nProbe = 4)
        .orderBy("query_id", "rank")),
    "sim_topk_ivfpq_persisted" -> ((s, dir) => {
      // the build-once/query-for-months lifecycle, end-to-end THROUGH
      // parquet: train + write the index artifacts, re-open them cold,
      // serve the search from the re-opened lists (cent_id partition
      // pruning) — bit-identical to sim_topk_ivfpq by construction
      val path = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivfpq_index_" + Integer.toHexString(dir.hashCode)).getPath
      Similarity.writeIvfPqIndex(emb(s, dir), path, nLists = 16)
      Similarity.ivfPqTopKIndexed(emb(s, dir), col("vec_id") % 100 === 0, 10,
          Similarity.readIvfPqIndex(s, path), nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    "sim_near_dup_pairs" -> ((s, dir) => {
      // the natural fixture has no pairs >= 0.95 at any sf (max cosine
      // ~0.6), so near-duplicates are INJECTED deterministically: a scaled
      // copy of every 50th vector. Same direction -> cosine 1.0 and an
      // IDENTICAL LSH signature, so banded recall is exactly 1.0 and the
      // brute-force oracle below is an equality check, not a bound.
      val e = emb(s, dir).select("vec_id", "embedding")
      val dups = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      Similarity.cosineNearDupPairs(e.unionByName(dups), 0.95, dims = 64)
        .select("vec_id_a", "vec_id_b").orderBy("vec_id_a", "vec_id_b")
    }),
    "sim_decontaminate" -> ((s, dir) => {
      // test set = injected scaled copies of every 50th train vector
      // (contaminated, cosine 1.0 to their source, identical signature ->
      // recall exactly 1.0) plus NEGATED copies of every 70th (clean:
      // cosine -1, must report n_matches = 0). Directional probe — the
      // train side is never self-joined.
      val e = emb(s, dir).select("vec_id", "embedding")
      val contaminated = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      val clean = e.filter(col("vec_id") % 70 === 0)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), x => x * lit(-1.5f)).as("embedding"))
      Similarity.semanticDecontaminate(
          e.unionByName(contaminated).unionByName(clean),
          col("vec_id") >= 100000, 0.95, dims = 64)
        .orderBy("test_id")
    }),
    "profile_benford" -> ((s, dir) => // first-digit law on order amounts
      graft.stats.Profile.benford(
        Tables.read(s, dir, "orders"),
        round(col("o_totalprice") * 100)).orderBy("digit")),
    "sim_label_purity" -> ((s, dir) =>
      Similarity.labelPurity(emb(s, dir)).orderBy("vec_id")),
    "sim_centroid_outliers" -> ((s, dir) => // top-k farthest from own centroid
      Similarity.centroidOutliers(emb(s, dir)).orderBy("label", "rank")),
    "sim_knn_classify" -> ((s, dir) => // exact k-NN majority vote, ties to min label
      Similarity.knnClassify(emb(s, dir), col("vec_id") % 100 === 0, 10)
        .orderBy("query_id")),
    "sim_semantic_dedup" -> ((s, dir) => {
      // same injected scaled copies as sim_near_dup_pairs: cosine 1.0 to
      // their originals and scale-invariant cluster assignment put every
      // copy in its original's cluster, so the cluster-scoped search finds
      // each with certainty; the natural max cosine (~0.6) keeps the
      // threshold far from any float boundary
      val e = emb(s, dir).select("vec_id", "embedding")
      val dups = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      // numCentroids PINNED to 16 — the SQL oracle replicates this exact
      // codebook; the library default is auto-sized (~sqrt(n))
      Similarity.semanticDedup(e.unionByName(dups), 0.95, numCentroids = 16)
        .orderBy("vec_id")
    }),
    "sim_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir)).orderBy("vec_id", "dim")),
    // --- multimodal plumbing ---
    "mm_decode_meta" -> ((s, dir) =>
      Multimodal.decodeMeta(Multimodal.blobTable(docs(s, dir))).toDF()
        .orderBy("doc_id")),
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.blobTable(docs(s, dir)))
        .orderBy("doc_id", "frame_idx")),
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizePlan(Multimodal.decodeMeta(Multimodal.blobTable(docs(s, dir))))
        .orderBy("doc_id")),
    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.blobTable(docs(s, dir))).toDF()
        .orderBy("doc_id", "bucket")),
    "mm_phash" -> ((s, dir) =>
      Multimodal.perceptualHash(Multimodal.blobTable(docs(s, dir)))
        .orderBy("doc_id")),
    "mm_phash_pairs" -> ((s, dir) => {
      // the natural fixture has no media pairs within the banding bound
      // (measured min pairwise hamming = 4), so near-duplicates are
      // INJECTED deterministically: every 25th doc re-appears with ONE
      // in-place byte changed — same length, so dHash sampling positions
      // align and the pair lands within Hamming 2, inside the banded
      // search's completeness bound (same approach as sim_near_dup_pairs)
      val d = docs(s, dir).select("doc_id", "text")
      val edited = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(substring(col("text"), 1, 9), lit("Z"),
            expr("substring(text, 11)")).as("text"))
      Multimodal.nearDupMedia(Multimodal.blobTable(d.unionByName(edited)))
        .orderBy("doc_id_a", "doc_id_b")
    }),
    "mm_media_clusters" -> ((s, dir) => { // CC over the perceptual pairs
      // same injected-edit fixture as mm_phash_pairs
      val d = docs(s, dir).select("doc_id", "text")
      val edited = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(substring(col("text"), 1, 9), lit("Z"),
            expr("substring(text, 11)")).as("text"))
      Multimodal.mediaClusters(Multimodal.blobTable(d.unionByName(edited)))
        .orderBy("doc_id")
    }),
    // --- audio (WAV/RIFF) plumbing ---
    "mm_audio_meta" -> ((s, dir) => // real RIFF chunk-walk decode
      graft.multimodal.Audio.decodeAudioMeta(
          graft.multimodal.Audio.audioTable(docs(s, dir)))
        .toDF().orderBy("doc_id")),
    "mm_audio_energy" -> ((s, dir) => // per-window energy envelope
      graft.multimodal.Audio.windowEnergy(
          graft.multimodal.Audio.audioTable(docs(s, dir)))
        .toDF().orderBy("doc_id", "win_idx")),
    "mm_audio_fingerprint" -> ((s, dir) => // map-side gradient hash
      graft.multimodal.Audio.fingerprint(
          graft.multimodal.Audio.audioTable(docs(s, dir)))
        .orderBy("doc_id")),
    "mm_audio_pairs" -> ((s, dir) => {
      // injected near-dups, the mm_phash_pairs approach: every 25th doc
      // re-appears with ONE in-place byte changed — same length and same
      // first byte, so rate/sample-count/window alignment all survive and
      // the edit only perturbs the windows its cyclic occurrences land in
      val d = docs(s, dir).select("doc_id", "text")
      val edited = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(substring(col("text"), 1, 9), lit("Z"),
            expr("substring(text, 11)")).as("text"))
      graft.multimodal.Audio.nearDupAudio(
          graft.multimodal.Audio.audioTable(d.unionByName(edited)))
        .orderBy("doc_id_a", "doc_id_b")
    }),
    // --- video (Y4M) plumbing ---
    "mm_video_meta" -> ((s, dir) => // real Y4M header + frame-walk decode
      graft.multimodal.Video.decodeVideoMeta(
          graft.multimodal.Video.videoTable(docs(s, dir)))
        .toDF().orderBy("doc_id")),
    "mm_video_c420_meta" -> ((s, dir) => // 4:2:0 frame sizing + luma-only checksum
      graft.multimodal.Video.decodeVideoMeta(
          graft.multimodal.Video.videoTable420(docs(s, dir)))
        .toDF().orderBy("doc_id")),
    "mm_video_c420_frame_hashes" -> ((s, dir) =>
      // the SAME frame-hash operator over 4:2:0 containers: frames()
      // returns luma planes, so dHash is colorspace-invariant by contract
      graft.multimodal.Video.frameHashes(
          graft.multimodal.Video.videoTable420(docs(s, dir)))
        .orderBy("doc_id", "frame_idx")),
    "mm_video_frame_hashes" -> ((s, dir) => // decode in mapPartitions, dHash codegen'd
      graft.multimodal.Video.frameHashes(
          graft.multimodal.Video.videoTable(docs(s, dir)))
        .orderBy("doc_id", "frame_idx")),
    "mm_video_shots" -> ((s, dir) => // lag-window cut detector
      graft.multimodal.Video.shotBoundaries(
          graft.multimodal.Video.videoTable(docs(s, dir)))
        .orderBy("doc_id", "frame_idx")),
    "mm_video_pairs" -> ((s, dir) => {
      // injected near-dups, the mm_phash_pairs approach: every 25th doc
      // re-appears with ONE in-place byte changed — same length and same
      // first byte, so w/h/n_frames/fps all survive and only the frames
      // whose sampled positions cover the edit move a few hash bits
      val d = docs(s, dir).select("doc_id", "text")
      val edited = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(substring(col("text"), 1, 9), lit("Z"),
            expr("substring(text, 11)")).as("text"))
      graft.multimodal.Video.nearDupVideo(
          graft.multimodal.Video.videoTable(d.unionByName(edited)))
        .orderBy("doc_id_a", "doc_id_b")
    }),
    "dedup_paragraphs" -> ((s, dir) => // chunk-level exact dedup + reassembly
      Dedup.paragraphDedup(docs(s, dir), 20).orderBy("doc_id")),
    "dedup_cross_source" -> ((s, dir) => // shared-window contamination matrix
      Dedup.crossSourceOverlap(docs(s, dir), 7).orderBy("source_a", "source_b")),
    "curate_temperature_mix" -> ((s, dir) => // sqrt-temperature sampling weights
      graft.pipeline.Curation.temperatureMix(docs(s, dir)).orderBy("source")),
    "curate_quality_tiers" -> ((s, dir) => // per-language relative quality ntile
      graft.pipeline.Curation.qualityTiers(docs(s, dir)).orderBy("doc_id")),
    "curate_shards" -> ((s, dir) => // token-balanced shard cuts, integer-exact
      graft.pipeline.Curation.shardAssign(docs(s, dir), 8).orderBy("doc_id")),
    "sim_hard_negatives" -> ((s, dir) => // top-k nearest with a DIFFERENT label
      Similarity.hardNegatives(emb(s, dir), col("vec_id") % 100 === 0, 10)
        .orderBy("query_id", "rank")),
    "events_rolling" -> ((s, dir) => // per-user bounded-frame rolling stats
      graft.streaming.EventStream.rollingUserStats(events(s, dir), 5)
        .orderBy("event_id")),
    "text_bpe_merges" -> ((s, dir) => // tokenizer training's inner loop
      TextAnalysis.bpeFirstMerges(docs(s, dir), 20).orderBy("rank")),
    "text_bpe_train" -> ((s, dir) => // 3 full BPE rounds: count, merge, recount
      TextAnalysis.bpeTrain(docs(s, dir), 3).orderBy("iter")),
    "events_rolling_stream" -> ((s, dir) => {
      // the SAME per-user rolling frame as events_rolling, executed
      // through the streaming engine (MemoryStream -> watermark ->
      // flatMapGroupsWithState -> memory sink): per-event emission once
      // the watermark matures it, O(frame) retained values per user.
      // Driver-fed fixture, distributed operator — shares the batch
      // query's oracle verbatim.
      import s.implicits._
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSeq
      graft.streaming.StreamDriver.rollingStreamed(s, ev, 5).orderBy("event_id")
    }),
    "sim_codebook" -> ((s, dir) => { // the trained k-means codebook itself
      import s.implicits._
      Similarity.ivfCodebook(emb(s, dir), 16, 2).toSeq
        .toDF("cent_id", "c")
        .select(col("cent_id"), posexplode(col("c")).as(Seq("dim", "val")))
        .orderBy("cent_id", "dim")
    }),
    "dedup_spans" -> ((s, dir) => // maximal duplicated-substring spans
      graft.dedup.Dedup.dupSpans(docs(s, dir), 8)
        .orderBy("doc_id", "span_start")),
    "tpch_revenue_rollup" -> ((s, dir) => // grouping sets: ROLLUP(region, nation)
      graft.stats.Analytics.revenueRollup(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "nation"),
        Tables.read(s, dir, "region"),
        "1996-01-01", "1999-01-01")
        .orderBy(col("lvl"), col("r_name"), col("n_name"))),
    "events_top_paths" -> ((s, dir) => // dominant 3-step user journeys
      graft.streaming.EventStream.topPaths(events(s, dir), 3, 20)
        .orderBy("rank")),
    "tpch_cohort_revenue" -> ((s, dir) => // first-order-year LTV matrix
      graft.stats.Analytics.cohortRevenue(
        Tables.read(s, dir, "orders"))
        .orderBy("cohort_year", "order_year")),
    "dedup_source_report" -> ((s, dir) => // per-source exact-dup mass
      graft.dedup.Dedup.sourceDupReport(docs(s, dir)).orderBy("source")),
    "sim_knn_confusion" -> ((s, dir) => // label confusion matrix over k-NN
      Similarity.knnClassify(emb(s, dir), col("vec_id") % 100 === 0, 10)
        .groupBy("label", "pred_label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
        .orderBy("label", "pred_label")),
    "tpch_priority_percentiles" -> ((s, dir) => // per-group exact quantiles
      graft.stats.Profile.groupQuantiles(
        Tables.read(s, dir, "orders"), "o_orderpriority",
        round(col("o_totalprice") * 100), Seq(50, 90))
        .withColumnRenamed("p50", "p50_cents")
        .withColumnRenamed("p90", "p90_cents")
        .orderBy("o_orderpriority")),
    "tpch_status_cube" -> ((s, dir) => // CUBE: cells + both marginals + total
      graft.stats.Analytics.statusCube(
        Tables.read(s, dir, "lineitem"), "1998-09-01")
        .orderBy(col("lvl"), col("l_returnflag"), col("l_linestatus"))),
    "profile_contingency" -> ((s, dir) => // exact categorical association input
      graft.stats.Profile.contingency(
        Tables.read(s, dir, "lineitem"),
        "l_returnflag", "l_linestatus")
        .orderBy("x", "y")),
    "profile_fds" -> ((s, dir) => // exact single-column FD discovery
      graft.stats.Profile.functionalDeps(
        Tables.read(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("lhs", "rhs")),
    "profile_uniques" -> ((s, dir) => // UCC discovery, arity <= 2
      graft.stats.Profile.uniqueCombinations(
        Tables.read(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("combo")),
    "profile_quality_checks" -> ((s, dir) => // one-pass constraint verdicts
      graft.stats.Profile.qualityChecks(
        Tables.read(s, dir, "orders"), "o_orderkey",
        notNullCols = Seq("o_custkey", "o_orderdate"),
        // 'P' deliberately outside the domain: the fail path carries a
        // real violation count instead of a wall of zeros
        domains = Map("o_orderstatus" -> Seq("O", "F")),
        nonNegativeCols = Seq("o_totalprice"),
        fk = Some(("o_custkey",
          Tables.read(s, dir, "customer"), "c_custkey")))
        .orderBy("check_name")),
    "profile_correlation" -> ((s, dir) => // pairwise moments, exact BIGINTs
      graft.stats.Profile.correlationMoments(
        Tables.read(s, dir, "lineitem"),
        Seq("l_quantity", "l_linenumber", "l_discount", "l_tax"),
        Map("l_discount" -> 100L, "l_tax" -> 100L))
        .orderBy("col_x", "col_y")),
    "dedup_containment" -> ((s, dir) => // directed sub-document copies
      graft.dedup.Dedup.containmentPairs(docs(s, dir), 80)
        .orderBy("doc_id", "in_doc_id")),
    "dedup_clean_spans" -> ((s, dir) => // keep-first substring-dedup rewrite
      graft.dedup.Dedup.cleanDupSpans(docs(s, dir), 8).orderBy("doc_id")),
    "text_novelty" -> ((s, dir) => // first-occurrence window contribution
      graft.dedup.Dedup.windowNovelty(docs(s, dir), 8).orderBy("doc_id")),
    "text_vocab_overlap" -> ((s, dir) => // token-level source kinship matrix
      graft.dedup.Dedup.vocabOverlap(docs(s, dir))
        .orderBy("source_a", "source_b")),
    "text_classifier_score" -> ((s, dir) => // hashed-linear quality scoring
      TextAnalysis.classifierScore(docs(s, dir)).orderBy("doc_id")),
    "text_bpe_encode" -> ((s, dir) => // apply 3 trained merges per document
      TextAnalysis.bpeEncode(docs(s, dir), 3).orderBy("doc_id")),
    "curate_stratified" -> ((s, dir) => // largest-remainder exact-n sampler
      graft.pipeline.Curation.stratifiedSample(docs(s, dir), 200)
        .orderBy("doc_id")),
    "profile_frequent_values" -> ((s, dir) => // per-column top-5 values
      graft.stats.Profile.frequentValues(
        Tables.read(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_quantity", "l_linenumber"), 5)
        .orderBy("column_name", "rank")),
    "events_window_users" -> ((s, dir) => // exact active users per window
      graft.streaming.EventStream.windowedUserCounts(events(s, dir),
        watermark = false).orderBy("bucket_start")),
    "events_window_users_stream" -> ((s, dir) => {
      // the SAME dedup-then-count executed as a CHAINED stateful pair
      // through the streaming engine (two aggregations in one append-mode
      // query — the distinct-user panel events_window_stream documents as
      // the historically non-streamable half). Driver-fed fixture,
      // distributed operator, same oracle as the batch twin.
      import s.implicits._
      val ev = events(s, dir).select(col("ts"), col("user_id"))
        .as[(java.sql.Timestamp, Long)].collect().toSeq
      graft.streaming.StreamDriver.windowUsersStreamed(s, ev)
        .orderBy("bucket_start")
    }),
    "profile_drift" -> ((s, dir) => { // snapshot-to-snapshot stat deltas
      val li = Tables.read(s, dir, "lineitem")
      graft.stats.Profile.profileDiff(
        li.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), li,
        profileCols).orderBy("column_name")
    }),
    "sim_range_search" -> ((s, dir) => // radius query scoped to a query set
      Similarity.rangeSearch(emb(s, dir), col("vec_id") % 100 === 0, 0.3)
        .orderBy("query_id", "vec_id")),
    "events_outliers" -> ((s, dir) => // exact per-type p99 exceedances
      graft.streaming.EventStream.valueOutliers(events(s, dir), 99)
        .orderBy("event_id")),
    "tpch_promo_revenue" -> ((s, dir) => // Q14 analog: integer promo share
      graft.stats.Analytics.promoRevenue(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "part"),
        "1996-01-01", "1996-04-01")),
    "tpch_brand_suppliers" -> ((s, dir) => // Q16 flavor: supplier breadth
      graft.stats.Analytics.brandSuppliers(
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "part"))
        .orderBy("p_brand")),
    "tpch_returned_items" -> ((s, dir) => // Q10 analog: churn ranking
      graft.stats.Analytics.returnedItemReport(
        Tables.read(s, dir, "customer"),
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "lineitem"),
        Tables.read(s, dir, "nation"),
        "1996-01-01", "1997-01-01", 20)),
    "events_transitions_stream" -> ((s, dir) => {
      // the SAME first-order transition matrix as events_transitions,
      // executed through the streaming engine (MemoryStream -> watermark
      // -> flatMapGroupsWithState -> memory sink); pairs aggregate
      // batch-side (counts commute with arrival order). Driver-fed
      // fixture, distributed operator — shares the batch oracle verbatim.
      import s.implicits._
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[(Long, java.sql.Timestamp, Long, String)].collect().toSeq
      graft.streaming.StreamDriver.transitionsStreamed(s, ev)
        .orderBy("prev_type", "next_type")
    }),
    "profile_mutual_info" -> ((s, dir) => // MI + marginal entropies from cells
      graft.stats.Profile.mutualInfo(
        Tables.read(s, dir, "lineitem"),
        "l_returnflag", "l_linestatus")),
    "profile_ks_drift" -> ((s, dir) => // exact two-sample KS on value milli-units
      graft.stats.Profile.ksDrift(events(s, dir), "event_type",
        "click", "view", round(col("value") * 1000))),
    "profile_entropy" -> ((s, dir) => // per-column Shannon bits, value-bounded
      graft.stats.Profile.entropy(
        Tables.read(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_quantity"))
        .orderBy("column_name")),
    "text_kn_bigrams" -> ((s, dir) => // Kneser-Ney table, integer fractions
      TextAnalysis.knBigrams(docs(s, dir), 100)
        .orderBy(col("c").desc, col("w1"), col("w2"))),
    "profile_robust_z" -> ((s, dir) => // median/MAD on the distinct-value histogram
      graft.stats.Profile.robustOutliers(
        Tables.read(s, dir, "lineitem"), "l_returnflag",
        round(col("l_quantity")), 3).orderBy("l_returnflag")),
    "events_decayed_counts" -> ((s, dir) => // integer-exact dyadic half-life decay
      EventStream.decayedCounts(events(s, dir), "1 hour", 40)
        .orderBy("event_type")),
    "events_user_growth" -> ((s, dir) => // first-seen decomposition, never re-distinct
      EventStream.userGrowth(events(s, dir), "1 day")
        .orderBy("bucket_us")),
    "rdf_char_sets" -> ((s, dir) => // Neumann-Moerkotte characteristic sets
      graft.rdf.TripleStats.characteristicSets(
        graft.rdf.TripleSource.derive(s, dir), 50)
        .orderBy(col("n_subjects").desc, col("char_set"))),
    "rdf_pred_cooccurrence" -> ((s, dir) => // pairwise char-set marginal
      graft.rdf.TripleStats.predicateCooccurrence(
        graft.rdf.TripleSource.derive(s, dir))
        .orderBy("pred_a", "pred_b")),
    "tpch_forecast_revenue" -> ((s, dir) => // Q6: the plan IS the scan
      graft.stats.Analytics.forecastRevenue(
        Tables.read(s, dir, "lineitem"),
        "1996-01-01", "1997-01-01", 6L, 24L)),
    "tpch_revenue_deciles" -> ((s, dir) => // NTILE over the customer aggregate
      graft.stats.Analytics.revenueDeciles(
        Tables.read(s, dir, "orders"), 10)
        .orderBy("decile")),
    "text_classifier_auc" -> ((s, dir) => // Mann-Whitney U, distinct-score relation
      TextAnalysis.classifierAuc(docs(s, dir), "en")),
    "text_calibration" -> ((s, dir) => // fixed-width reliability bins
      TextAnalysis.scoreCalibration(docs(s, dir), "en", 5000L)
        .orderBy("bin")),
    "er_name_pairs" -> ((s, dir) => // FastSS deletion-neighborhood linkage
      graft.dedup.Dedup.editNeighborPairs(
        Tables.read(s, dir, "customer"), "c_custkey", "c_name")
        .orderBy("a_c_custkey", "b_c_custkey")),
    "events_attribution" -> ((s, dir) => // last-touch rollup on the as-of core
      EventStream.attribution(events(s, dir), "purchase", "1 hour")
        .orderBy("attr_type")),
    "events_attribution_stream" -> ((s, dir) => {
      // the SAME last-touch attribution as events_attribution, with the
      // as-of core executed through the STREAMING engine (the 18th
      // engine-verified query): conversions and (user, ts)-reduced
      // touches feed the watermarked flatMapGroupsWithState as-of state
      // machine; the touch type is DICTIONARY-ENCODED so strings never
      // enter stream state, and the lookback check + rollup run
      // batch-side on the appended rows (counts commute with arrival
      // order — same precedent as events_transitions_stream). Shares the
      // batch oracle verbatim.
      import s.implicits._
      val ev = events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
      val types = ev.filter(col("event_type") =!= "purchase")
        .select("event_type").distinct().as[String].collect().sorted
      val code = types.zipWithIndex.toMap
      val touches = ev.filter(col("event_type") =!= "purchase")
        .groupBy("user_id", "ts")
        .agg(max(struct(col("event_id"), col("event_type"))).as("_t"))
        .select(col("user_id"), col("ts"), col("_t.event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq
        .map { case (u, t, ty) => (u, t, code(ty).toDouble) }
      val joined = graft.streaming.StreamDriver.asOfStreamed(s, conv, touches)
      val decoded = types.zipWithIndex.foldLeft(lit("(none)")) {
        case (acc, (t, i)) =>
          when(col("asof_v") === lit(i.toDouble), lit(t)).otherwise(acc)
      }
      val vals = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("id"),
          round(col("value") * 100).cast("long").as("value_cents"))
      joined.join(vals, "id")
        .withColumn("attr_type",
          when(col("asof_ts") > col("ts") - expr("INTERVAL 1 hour"), decoded)
            .otherwise(lit("(none)")))
        .groupBy("attr_type")
        .agg(count(lit(1)).as("n_conversions"),
          sum("value_cents").as("value_cents"))
        .orderBy("attr_type")
    }),
    "tpch_basket_pairs" -> ((s, dir) => // two-round frequent co-ordered pairs
      graft.stats.Analytics.basketPairs(
        Tables.read(s, dir, "lineitem"), 2L)
        .orderBy("part_a", "part_b")),
    "tpch_basket_rules" -> ((s, dir) => // integer-confidence basket rules
      graft.stats.Analytics.basketRules(
        Tables.read(s, dir, "lineitem"), 2L)
        .orderBy("ante", "cons")),
    "profile_linreg" -> ((s, dir) => // grouped OLS from one moment aggregate
      graft.stats.Analytics.groupedLinReg(
        Tables.read(s, dir, "lineitem"), "l_returnflag",
        round(col("l_quantity")),
        round(col("l_extendedprice") * 100)) // cents, half-free in both engines
        .orderBy("l_returnflag")),
    "events_seasonal" -> ((s, dir) => // hour-of-day baseline deviation
      EventStream.seasonalBaseline(events(s, dir))
        .orderBy("event_type", "day", "hr")),
    "events_xcorr" -> ((s, dir) => // lagged cross-correlation moments
      EventStream.laggedXcorr(events(s, dir), "click", "purchase", 3)
        .orderBy("lag")),
    "text_collocations" -> ((s, dir) => // PMI-lift phrase mining, vocab-bounded
      TextAnalysis.collocations(docs(s, dir), 5L, 50)
        .orderBy(col("lift_e4").desc, col("bigram"))),
    "curate_pareto_docs" -> ((s, dir) => // 2-D skyline, bucket-cummax pre-prune
      graft.pipeline.Curation.paretoDocs(docs(s, dir))
        .orderBy(col("n_tokens").desc, col("doc_id"))),
    "text_kcore" -> ((s, dir) => // bounded synchronous k-core peel
      graft.graph.Graph.contentKCore(docs(s, dir), 8, 80, 2, 4)
        .orderBy("doc_id")),
    "profile_key_skew" -> ((s, dir) => // hash-partition skew advisor
      graft.stats.Profile.keySkew(events(s, dir), col("user_id"), 20)
        .orderBy("rank")),
    "events_seasonal_stream" -> ((s, dir) => {
      // the SAME hour-of-day baseline with the hourly intake counts
      // produced by the STREAMING engine (watermarked epoch-aligned
      // window agg in append mode, sentinel-flushed); the shared batch
      // tail makes it answer the batch oracle verbatim
      import s.implicits._
      val ev = events(s, dir).select(col("ts"), col("event_type"))
        .as[(java.sql.Timestamp, String)].collect().toSeq
      graft.streaming.StreamDriver.seasonalStreamed(s, ev)
        .orderBy("event_type", "day", "hr")
    }),
    "profile_k_anon" -> ((s, dir) => // release-governance re-identification audit
      graft.stats.Profile.kAnonymity(
        Tables.read(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), 10L)
        .orderBy("q_c_nationkey", "q_c_mktsegment")),
    "profile_join_size" -> ((s, dir) => // join cardinality WITHOUT the join
      graft.stats.Profile.joinSize(
        Tables.read(s, dir, "lineitem"), "l_orderkey",
        Tables.read(s, dir, "orders"), "o_orderkey")),
    "profile_group_cdf" -> ((s, dir) => // quantile-normalization table
      graft.stats.Profile.groupCdf(
        Tables.read(s, dir, "lineitem"), "l_returnflag",
        round(col("l_quantity")))
        .orderBy("l_returnflag", "v")),
    "profile_l_diversity" -> ((s, dir) => // sensitive-value diversity audit
      graft.stats.Profile.lDiversity(
        Tables.read(s, dir, "customer")
          .withColumn("bal_k", expr("CAST(round(c_acctbal) AS BIGINT) div 2000")),
        Seq("c_nationkey", "bal_k"), "c_mktsegment", 4L)
        .orderBy("q_c_nationkey", "q_bal_k"))
  )

  /** DuckDB-runnable equivalents (driver correctness gate). */
  def oracleSql: Map[String, String] = Map(
    "rdf_bgp_star" ->
      s"WITH $cte SELECT t0.subj, t0.obj AS value FROM triples t0 JOIN triples t1 ON t1.subj = t0.subj AND t1.pred = 'status' AND t1.obj = 'F' JOIN triples t2 ON t2.subj = t0.subj AND t2.pred = 'priority' AND t2.obj = '1-URGENT' WHERE t0.pred = 'customer' ORDER BY 1, 2",
    "rdf_bgp_minus" ->
      s"WITH $cte SELECT t0.subj, t0.obj AS value FROM triples t0 JOIN triples t1 ON t1.subj = t0.subj AND t1.pred = 'status' AND t1.obj = 'F' WHERE t0.pred = 'customer' AND NOT EXISTS (SELECT 1 FROM triples t2 WHERE t2.subj = t0.subj AND t2.pred = 'priority' AND t2.obj = '1-URGENT') ORDER BY 1, 2",
    "rdf_bgp_optional" ->
      s"WITH $cte SELECT t0.subj, t0.obj AS value, COALESCE(t1.obj, '__none__') AS opt_value FROM triples t0 LEFT JOIN triples t1 ON t1.subj = t0.subj AND t1.pred = 'flag' WHERE t0.pred = 'part' ORDER BY 1, 2, 3",
    "rdf_bgp_chain" ->
      s"WITH $cte SELECT t0.subj, t3.obj AS value FROM triples t0 JOIN triples t1 ON t1.subj = t0.obj AND t1.pred = 'nation' JOIN triples t2 ON t2.subj = t1.obj AND t2.pred = 'region' JOIN triples t3 ON t3.subj = t2.obj AND t3.pred = 'name' WHERE t0.pred = 'customer' ORDER BY 1, 2",
    "rdf_path_transitive" ->
      (s"WITH RECURSIVE $cte, reach AS (" +
        s"SELECT subj, obj AS dest FROM triples WHERE pred IN ($refPredsSql) " +
        s"UNION SELECT r.subj, t.obj AS dest FROM reach r JOIN triples t " +
        s"ON t.subj = r.dest AND t.pred IN ($refPredsSql)) " +
        "SELECT subj, dest FROM reach ORDER BY 1, 2"),
    "rdf_triples" ->
      s"WITH $cte SELECT subj, pred, obj FROM triples ORDER BY 1,2,3",
    "rdf_pred_cooccurrence" ->
      (s"WITH $cte, sp AS (SELECT DISTINCT subj, pred FROM triples) " +
        "SELECT a.pred AS pred_a, b.pred AS pred_b, CAST(COUNT(*) AS BIGINT) AS n_subjects " +
        "FROM sp a JOIN sp b ON b.subj = a.subj AND a.pred < b.pred " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "tpch_forecast_revenue" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_items, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_e4 " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7 AND l_quantity < 24"),
    // per-subject sorted predicate sets; DuckDB string_agg over an
    // ordered distinct matches Spark's array_sort(collect_set) join
    "rdf_char_sets" ->
      (s"WITH $cte, sp AS (SELECT DISTINCT subj, pred FROM triples), " +
        "cs AS (SELECT subj, string_agg(pred, ' ' ORDER BY pred) AS char_set FROM sp GROUP BY 1), " +
        "agg AS (SELECT char_set, CAST(len(string_split(char_set, ' ')) AS BIGINT) AS set_size, COUNT(*) AS n_subjects FROM cs GROUP BY 1, 2) " +
        "SELECT char_set, set_size, CAST(n_subjects AS BIGINT) AS n_subjects FROM agg ORDER BY n_subjects DESC, char_set LIMIT 50"),
    // first-seen decomposition: one row per user ever shuffles, the
    // cumulative window runs over the day-bucket relation. Floor-mod
    // (not DuckDB's truncating %) so pre-epoch timestamps bucket the
    // same as Spark's pmod
    "events_user_growth" ->
      ("WITH f AS (SELECT user_id, MIN(epoch_us(ts)) AS fus FROM events GROUP BY 1), " +
        "b AS (SELECT fus - ((fus % 86400000000 + 86400000000) % 86400000000) AS bucket_us, COUNT(*) AS new_users FROM f GROUP BY 1) " +
        "SELECT CAST(bucket_us AS BIGINT) AS bucket_us, CAST(new_users AS BIGINT) AS new_users, " +
        "CAST(SUM(new_users) OVER (ORDER BY bucket_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users " +
        "FROM b ORDER BY bucket_us"),
    "cind_condition_counts" ->
      s"WITH $cte, $condsCte SELECT cond_code, v1, v2, COUNT(*) AS cnt FROM conds GROUP BY 1,2,3 HAVING COUNT(*) >= $MS ORDER BY 1,2,3",
    "cind_frequent_captures" ->
      s"WITH $cte, $capsCte SELECT code, v1, v2, COUNT(*) AS support FROM caps GROUP BY 1,2,3 HAVING COUNT(*) >= $MS ORDER BY 1,2,3",
    "cind_all" ->
      s"WITH $cte, $capsCte, $cindsSqlBody SELECT * FROM cinds ORDER BY 1,2,3,4,5,6",
    "cind_all_tworound" -> // sketch pruning is exact -> same oracle
      s"WITH $cte, $capsCte, $cindsSqlBody SELECT * FROM cinds ORDER BY 1,2,3,4,5,6",
    "cind_all_intersect" -> // strategy 0 is result-identical -> same oracle
      s"WITH $cte, $capsCte, $cindsSqlBody SELECT * FROM cinds ORDER BY 1,2,3,4,5,6",
    "cind_all_hybrid" -> // hybrid merge is result-identical -> same oracle
      s"WITH $cte, $capsCte, $cindsSqlBody SELECT * FROM cinds ORDER BY 1,2,3,4,5,6",
    "cind_all_s2l" -> // the staged ladder is result-identical -> same oracle
      s"WITH $cte, $capsCte, $cindsSqlBody SELECT * FROM cinds ORDER BY 1,2,3,4,5,6",
    "cind_all_bloom" -> // Bloom pruning admits-only -> same oracle
      s"WITH $cte, $capsCte, $cindsSqlBody SELECT * FROM cinds ORDER BY 1,2,3,4,5,6",
    "cind_minimal" ->
      s"""WITH $cte, $capsCte, $cindsSqlBody SELECT * FROM cinds c WHERE NOT (c.dep_code IN (14,21,35) AND EXISTS (SELECT 1 FROM cinds i WHERE i.dep_v2 = '' AND i.ref_code = c.ref_code AND i.ref_v1 = c.ref_v1 AND i.ref_v2 = c.ref_v2 AND ((i.dep_code = ${subCode("c.dep_code", true)} AND i.dep_v1 = c.dep_v1) OR (i.dep_code = ${subCode("c.dep_code", false)} AND i.dep_v1 = c.dep_v2)))) AND NOT (c.ref_v2 = '' AND EXISTS (SELECT 1 FROM cinds i WHERE i.dep_code = c.dep_code AND i.dep_v1 = c.dep_v1 AND i.dep_v2 = c.dep_v2 AND i.ref_code IN (14,21,35) AND ((${subCode("i.ref_code", true)} = c.ref_code AND i.ref_v1 = c.ref_v1) OR (${subCode("i.ref_code", false)} = c.ref_code AND i.ref_v2 = c.ref_v1)))) ORDER BY 1,2,3,4,5,6""",
    "cind_association_rules" ->
      s"WITH $cte, $rulesCte SELECT ante_code, ante_val, cons_code, cons_val, support FROM rules ORDER BY 1,2,3,4",
    "cind_all_proj_s" -> // s-projection capture relation, same CIND body
      s"WITH $cte, $capsSCte, $cindsSqlBody SELECT * FROM cinds ORDER BY 1,2,3,4,5,6",
    "cind_all_pruned" ->
      s"""WITH $cte, $capsCte, $rulesCte, arc AS (SELECT ante_code + cons_code AS ccode, CASE WHEN ante_code < cons_code THEN ante_val ELSE cons_val END AS cv1, CASE WHEN ante_code < cons_code THEN cons_val ELSE ante_val END AS cv2 FROM rules), capsp AS (SELECT c.* FROM caps c WHERE NOT EXISTS (SELECT 1 FROM arc a WHERE c.code % 8 = a.ccode AND c.v1 = a.cv1 AND c.v2 = a.cv2)), ${cindsBody("capsp")} SELECT * FROM cinds c WHERE NOT EXISTS (SELECT 1 FROM rules r WHERE c.dep_v2 = '' AND c.ref_v2 = '' AND c.dep_code = r.ante_code + 8 * (7 - r.ante_code - r.cons_code) AND c.dep_v1 = r.ante_val AND c.ref_code = r.cons_code + 8 * (7 - r.ante_code - r.cons_code) AND c.ref_v1 = r.cons_val) ORDER BY 1,2,3,4,5,6""",
    "stats_count_conditions" ->
      s"WITH $cte, $condsCte, cc AS (SELECT cond_code, v1, v2, COUNT(*) AS cnt FROM conds GROUP BY 1,2,3) SELECT cond_code, COUNT(*) AS n_conditions, CAST(SUM(cnt) AS BIGINT) AS n_occurrences FROM cc GROUP BY 1 ORDER BY 1",
    "stats_distinct_values" ->
      s"WITH $cte, vals AS (SELECT subj AS v FROM triples UNION SELECT pred FROM triples UNION SELECT obj FROM triples) SELECT COUNT(*) AS n_values, CAST(SUM(CASE WHEN v LIKE '%:%' THEN 1 ELSE 0 END) AS BIGINT) AS n_refs, CAST(SUM(CASE WHEN v LIKE '%:%' THEN 0 ELSE 1 END) AS BIGINT) AS n_literals FROM vals",
    "stats_hash_collisions" ->
      s"WITH $cte, vals AS (SELECT subj AS v FROM triples UNION SELECT pred FROM triples UNION SELECT obj FROM triples) SELECT substr(md5(v),1,4) AS hash, COUNT(*) AS n_values FROM vals GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1",
    "stats_degree_distribution" ->
      (s"WITH $cte, o AS (SELECT subj, COUNT(*) AS degree FROM triples GROUP BY 1), " +
        "i AS (SELECT obj, COUNT(*) AS degree FROM triples GROUP BY 1) " +
        "SELECT side, degree, n_nodes FROM (" +
        "SELECT 'out' AS side, degree, COUNT(*) AS n_nodes FROM o GROUP BY 2 " +
        "UNION ALL SELECT 'in', degree, COUNT(*) FROM i GROUP BY 2) " +
        "ORDER BY side, degree"),
    "rdf_shorten_urls" ->
      s"WITH $cte SELECT ${shortenSql("subj")} AS subj, pred, ${shortenSql("obj")} AS obj FROM triples ORDER BY 1,2,3",
    "rdf_parse_ntriples" ->
      s"WITH $cte SELECT '<' || subj || '>' AS subj, '<' || pred || '>' AS pred, '\"' || obj || '\"' AS obj FROM triples ORDER BY 1,2,3",
    "rdf_asciify" ->
      // e (U+00E9) 7-bit-chunks to chr(0x69) chr(0x01); corpus is ASCII
      s"WITH $cte SELECT subj, pred, obj || chr(105) || chr(1) AS obj FROM triples ORDER BY 1,2,3",
    "rdf_apply_hash" ->
      s"WITH $cte SELECT substr(md5(subj),1,4) AS subj, substr(md5(pred),1,4) AS pred, substr(md5(obj),1,4) AS obj FROM triples ORDER BY 1,2,3",
    "rdf_dictionary_roundtrip" ->
      s"WITH $cte SELECT subj, pred, obj FROM triples ORDER BY 1,2,3",
    "cind_join_line_histogram" ->
      s"WITH $cte, $capsCte, sup AS (SELECT code, v1, v2, COUNT(*) AS s FROM caps GROUP BY 1,2,3), fc AS (SELECT c.code, c.v1, c.v2, c.val FROM caps c JOIN sup s ON s.code=c.code AND s.v1=c.v1 AND s.v2=c.v2 WHERE s.s >= $MS), w AS (SELECT val, CAST(COUNT(*) AS INTEGER) AS n_captures FROM fc GROUP BY 1) SELECT n_captures, COUNT(*) AS n_lines FROM w GROUP BY 1 ORDER BY 1",
    "stats_count_triples" ->
      s"WITH $cte SELECT COUNT(*) AS n_triples FROM triples",
    "cind_reduced_binary_counts" ->
      s"""WITH $cte, fs AS (SELECT subj AS v FROM triples GROUP BY 1 HAVING COUNT(*) >= $MS), fp AS (SELECT pred AS v FROM triples GROUP BY 1 HAVING COUNT(*) >= $MS), fo AS (SELECT obj AS v FROM triples GROUP BY 1 HAVING COUNT(*) >= $MS), bc AS (SELECT 3 AS cond_code, subj AS v1, pred AS v2, COUNT(*) AS cnt FROM triples GROUP BY 2,3 UNION ALL SELECT 5, subj, obj, COUNT(*) FROM triples GROUP BY 2,3 UNION ALL SELECT 6, pred, obj, COUNT(*) FROM triples GROUP BY 2,3) SELECT b.cond_code, b.v1, b.v2, b.cnt FROM bc b WHERE b.cnt >= $MS AND ((b.cond_code IN (3,5) AND b.v1 IN (SELECT v FROM fs)) OR (b.cond_code = 6 AND b.v1 IN (SELECT v FROM fp))) AND ((b.cond_code = 3 AND b.v2 IN (SELECT v FROM fp)) OR (b.cond_code IN (5,6) AND b.v2 IN (SELECT v FROM fo))) ORDER BY 1,2,3""",
    "cind_unary_overlaps" ->
      s"WITH $cte, $capsCte, sup AS (SELECT code, v1, v2, COUNT(*) AS s FROM caps GROUP BY 1,2,3), fc AS (SELECT c.code, c.v1, c.v2, c.val, s.s FROM caps c JOIN sup s ON s.code=c.code AND s.v1=c.v1 AND s.v2=c.v2 WHERE s.s >= $MS) SELECT d.code AS dep_code, d.v1 AS dep_v1, r.code AS ref_code, r.v1 AS ref_v1, COUNT(*) AS overlap, MIN(d.s) AS dep_support FROM fc d JOIN fc r ON d.val = r.val AND NOT (d.code = r.code AND d.v1 = r.v1 AND d.v2 = r.v2) WHERE d.v2 = '' AND r.v2 = '' GROUP BY 1,2,3,4 HAVING COUNT(*) >= $MS ORDER BY 1,2,3,4",
    "events_props_sum" ->
      "SELECT event_type, COUNT(*) AS n, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k FROM events GROUP BY 1 ORDER BY 1",
    "events_window_counts" ->
      "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS bucket_start, event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1,2 ORDER BY 1,2",
    // stream-static enrichment: LEFT join to the VALUES dim ('error' falls
    // to other/0), cents-exact weighted totals per (window, category);
    // the stream twin shares it bit-for-bit
    "events_enriched" -> eventsEnrichedOracleSql,
    "events_enriched_stream" -> eventsEnrichedOracleSql,
    // the streaming window agg answers the same tumbling-count question
    // (the distinct-user half streams separately — see
    // events_window_users_stream's chained stateful pair)
    "events_window_stream" ->
      "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS bucket_start, event_type, COUNT(*) AS n_events FROM events GROUP BY 1,2 ORDER BY 1,2",
    // the file-sink execution commits the identical windows -> same oracle
    "events_window_stream_fsink" ->
      "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS bucket_start, event_type, COUNT(*) AS n_events FROM events GROUP BY 1,2 ORDER BY 1,2",
    // dedup-then-count distinct users per tumbling window; the stream twin
    // runs the identical question as two chained stateful aggregations
    "events_window_users" -> windowUsersOracleSql,
    "events_window_users_stream" -> windowUsersOracleSql,
    // the streaming session_window execution answers the same
    // same populated-bucket relation and symmetric row frames both sides
    "events_changepoint" ->
      ("WITH r AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))/3600)*3600 AS BIGINT) AS bucket_start, " +
        "COUNT(*) AS n_events FROM events GROUP BY 1,2), " +
        "s AS (SELECT *, " +
        "CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS BIGINT) AS before_sum, " +
        "CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 1 FOLLOWING AND 6 FOLLOWING) AS BIGINT) AS after_sum, " +
        "COUNT(*) OVER (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS nb, " +
        "COUNT(*) OVER (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 1 FOLLOWING AND 6 FOLLOWING) AS na FROM r) " +
        "SELECT event_type, bucket_start, n_events, before_sum, after_sum, " +
        "CAST(after_sum - before_sum AS BIGINT) AS shift FROM s WHERE nb = 6 AND na = 6 " +
        "ORDER BY event_type, bucket_start"),
    "events_trending" ->
      ("WITH c AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS bucket_start, " +
        "event_type, COUNT(*) AS n_events FROM events GROUP BY 1,2), " +
        "r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY bucket_start ORDER BY n_events DESC, event_type) AS BIGINT) AS rank FROM c) " +
        "SELECT bucket_start, rank, event_type, n_events FROM r WHERE rank <= 3 ORDER BY 1,2"),
    "events_hopping_stream" ->
      ("WITH off(o) AS (VALUES (0),(1)) " +
        "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 - o*300 AS BIGINT) AS bucket_start, " +
        "event_type, COUNT(*) AS n_events FROM events, off GROUP BY 1,2 ORDER BY 1,2"),
    "events_hopping" ->
      ("WITH off(o) AS (VALUES (0),(1)) " +
        "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 - o*300 AS BIGINT) AS bucket_start, " +
        "event_type, COUNT(*) AS n_events FROM events, off GROUP BY 1,2 ORDER BY 1,2"),
    "events_interval_join" ->
      ("WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type='click'), " +
        "v AS (SELECT user_id, ts, value FROM events WHERE event_type='view') " +
        "SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS ts, " +
        "epoch_us(v.ts) AS view_ts, CAST(floor(v.value*1000) AS BIGINT) AS view_value_milli " +
        "FROM c JOIN v ON v.user_id=c.user_id AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 4 HOUR " +
        "ORDER BY 1, 4"),
    // native stream-stream join -> same oracle as the batch interval join
    "events_join_stream" ->
      ("WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type='click'), " +
        "v AS (SELECT user_id, ts, value FROM events WHERE event_type='view') " +
        "SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS ts, " +
        "epoch_us(v.ts) AS view_ts, CAST(floor(v.value*1000) AS BIGINT) AS view_value_milli " +
        "FROM c JOIN v ON v.user_id=c.user_id AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 4 HOUR " +
        "ORDER BY 1, 4"),
    // sessionization question -> same oracle as events_sessions
    "events_sessions_stream" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), m AS (SELECT user_id, ts, CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e), g AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start, COUNT(*) AS n_events FROM g GROUP BY user_id, sid ORDER BY 1,2""",
    "events_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), m AS (SELECT user_id, ts, CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e), g AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start, COUNT(*) AS n_events FROM g GROUP BY user_id, sid ORDER BY 1,2""",
    "events_funnel" ->
      "WITH q1 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), q2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q1 ON q1.user_id = e.user_id AND e.ts >= q1.t WHERE e.event_type = 'click' GROUP BY 1), q3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q2 ON q2.user_id = e.user_id AND e.ts >= q2.t WHERE e.event_type = 'purchase' GROUP BY 1) SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM q1 UNION ALL SELECT 2, 'click', COUNT(*) FROM q2 UNION ALL SELECT 3, 'purchase', COUNT(*) FROM q3 ORDER BY 1",
    // the same anchor ladder with the 1-day step bound riding the join
    // (at this fixture: 150 -> 60 -> 25 vs the unbounded 150/150/150 —
    // the bound demonstrably bites at every stage)
    "events_funnel_windowed" ->
      ("WITH q1 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "q2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q1 ON q1.user_id = e.user_id AND e.ts >= q1.t AND epoch_us(e.ts) - epoch_us(q1.t) <= 86400000000 WHERE e.event_type = 'click' GROUP BY 1), " +
        "q3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q2 ON q2.user_id = e.user_id AND e.ts >= q2.t AND epoch_us(e.ts) - epoch_us(q2.t) <= 86400000000 WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM q1 " +
        "UNION ALL SELECT 2, 'click', COUNT(*) FROM q2 " +
        "UNION ALL SELECT 3, 'purchase', COUNT(*) FROM q3 ORDER BY 1"),
    // the same first-occurrence anchors, differenced in exact epoch-micros
    "events_funnel_times" ->
      ("WITH q1 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "q2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q1 ON q1.user_id = e.user_id AND e.ts >= q1.t WHERE e.event_type = 'click' GROUP BY 1), " +
        "q3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q2 ON q2.user_id = e.user_id AND e.ts >= q2.t WHERE e.event_type = 'purchase' GROUP BY 1), " +
        "d12 AS (SELECT epoch_us(q2.t) - epoch_us(q1.t) AS d FROM q1 JOIN q2 USING (user_id)), " +
        "d23 AS (SELECT epoch_us(q3.t) - epoch_us(q2.t) AS d FROM q2 JOIN q3 USING (user_id)) " +
        "SELECT 1 AS stage_from, 2 AS stage_to, CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(d) AS BIGINT) AS sum_delta_us, MIN(d) AS min_delta_us, MAX(d) AS max_delta_us FROM d12 " +
        "UNION ALL SELECT 2, 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(d) AS BIGINT), MIN(d), MAX(d) FROM d23 ORDER BY 1"),
    "events_retention" ->
      ("WITH a AS (SELECT DISTINCT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT) AS day FROM events), " +
        "f AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1) " +
        "SELECT f.cohort_day, a.day - f.cohort_day AS day_offset, COUNT(*) AS n_users " +
        "FROM a JOIN f USING (user_id) GROUP BY 1,2 ORDER BY 1,2"),
    "events_transitions" -> transitionsOracleSql,
    // streaming state machine emits the same pair stream -> same oracle
    "events_transitions_stream" -> transitionsOracleSql,
    // streaming state-machine funnel -> same oracle as the batch funnel
    "events_funnel_stream" ->
      "WITH q1 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), q2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q1 ON q1.user_id = e.user_id AND e.ts >= q1.t WHERE e.event_type = 'click' GROUP BY 1), q3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN q2 ON q2.user_id = e.user_id AND e.ts >= q2.t WHERE e.event_type = 'purchase' GROUP BY 1) SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM q1 UNION ALL SELECT 2, 'click', COUNT(*) FROM q2 UNION ALL SELECT 3, 'purchase', COUNT(*) FROM q3 ORDER BY 1",
    "events_range" ->
      "WITH b(lo, hi, tier) AS (VALUES (0.0, 10.0, 'xs'), (5.0, 50.0, 'mid'), (50.0, 200.0, 'large'), (200.0, 1000.0, 'xl')) SELECT e.event_id, b.tier FROM events e JOIN b ON b.lo <= e.value AND e.value < b.hi ORDER BY 1, 2",
    "events_asof_bucketed" ->
      "WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), r AS (SELECT user_id, ts, MAX(value) AS v FROM events WHERE event_type = 'view' GROUP BY 1,2) SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts, COALESCE(epoch_us(r.ts), -1) AS asof_ts, COALESCE(CAST(floor(r.v * 1000) AS BIGINT), -1) AS asof_value_milli FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts ORDER BY l.event_id",
    "events_asof" ->
      "WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), r AS (SELECT user_id, ts, MAX(value) AS v FROM events WHERE event_type = 'view' GROUP BY 1,2) SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts, COALESCE(epoch_us(r.ts), -1) AS asof_ts, COALESCE(CAST(floor(r.v * 1000) AS BIGINT), -1) AS asof_value_milli FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts ORDER BY l.event_id",
    // the streaming execution answers the SAME as-of question -> same oracle
    "events_asof_stream" ->
      "WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), r AS (SELECT user_id, ts, MAX(value) AS v FROM events WHERE event_type = 'view' GROUP BY 1,2) SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts, COALESCE(epoch_us(r.ts), -1) AS asof_ts, COALESCE(CAST(floor(r.v * 1000) AS BIGINT), -1) AS asof_value_milli FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts ORDER BY l.event_id",
    // file-sink execution of the same state machine -> same oracle
    "events_asof_stream_fsink" ->
      "WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), r AS (SELECT user_id, ts, MAX(value) AS v FROM events WHERE event_type = 'view' GROUP BY 1,2) SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts, COALESCE(epoch_us(r.ts), -1) AS asof_ts, COALESCE(CAST(floor(r.v * 1000) AS BIGINT), -1) AS asof_value_milli FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts ORDER BY l.event_id",
    "dedup_exact" ->
      "SELECT doc_id, md5(text) AS content_hash, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM documents ORDER BY doc_id",
    // the streaming first-seen keep-set, fed in ascending id order ->
    // exactly the min-id representative per content hash
    "dedup_stream_first_seen" ->
      "SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash FROM documents GROUP BY md5(text) ORDER BY 1",
    // file-sink execution of the same keep-set -> same oracle
    "dedup_stream_first_seen_fsink" ->
      "SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash FROM documents GROUP BY md5(text) ORDER BY 1",
    // file-source -> state machine -> file-sink execution, same keep-set
    "dedup_stream_first_seen_fsrc" ->
      "SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash FROM documents GROUP BY md5(text) ORDER BY 1",
    "dedup_jaccard_pairs" ->
      s"WITH $tokCte, $shCte, $shcCte, $jaccardSql",
    // minhashLshPairs is fully deterministic (xxhash64 signatures) and its
    // candidates are verified with the EXACT Jaccard, so on a fixture where
    // no qualifying pair is missed by the banding it must EQUAL the exact
    // inverted-index result — same oracle (DedupSpec pins the equality).
    "dedup_minhash_pairs" ->
      s"WITH $tokCte, $shCte, $shcCte, $jaccardSql",
    // exact delta-vs-corpus Jaccard + best-match election (max jaccard,
    // ties to lowest corpus id); equals the LSH probe because banding
    // recall covers every >=50%-Jaccard pair in this corpus (the same
    // completeness the dedup_minhash_pairs hash-match pins)
    "dedup_incremental" ->
      (s"WITH $tokCte, $shCte, $shcCte, " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1), " +
        "i AS (SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id, COUNT(*) AS inter " +
        "FROM shc d JOIN shc c ON d.sh = c.sh AND d.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 GROUP BY 1, 2), " +
        "v AS (SELECT delta_id, corpus_id, CAST(floor(100*inter/(sd.n+sc.n-inter)) AS BIGINT) AS j " +
        "FROM i JOIN sz sd ON sd.doc_id = delta_id JOIN sz sc ON sc.doc_id = corpus_id " +
        "WHERE floor(100*inter/(sd.n+sc.n-inter)) >= 50), " +
        "r AS (SELECT delta_id, corpus_id, j, ROW_NUMBER() OVER (PARTITION BY delta_id ORDER BY j DESC, corpus_id) AS rn FROM v) " +
        "SELECT delta_id AS doc_id, corpus_id AS dup_of, j AS jaccard_pct FROM r WHERE rn = 1 ORDER BY 1"),
    // min-label propagation fixpoint == min reachable id (recursive closure);
    // UNION (not ALL) dedups reach rows so the recursion terminates
    // the 4x16-bit banding is COMPLETE for hamming <= 3 (pigeonhole), so the
    // Spark output equals the all-pairs filter this oracle computes
    "dedup_simhash_pairs" -> simhashPairsOracleSql,
    // stream twin: same pair set (banding completeness is arrival-order-
    // invariant), same brute-force oracle
    "dedup_simhash_stream" -> simhashPairsOracleSql,
    "dedup_clusters" ->
      s"WITH RECURSIVE $clusterCtes SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM cl ORDER BY doc_id",
    "dedup_ngram_windows" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "w AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7],' '))) AS ng FROM tokd), " +
        "s AS (SELECT ng FROM w GROUP BY ng HAVING COUNT(DISTINCT doc_id) > 1), " +
        "nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY 1), " +
        "nd AS (SELECT doc_id, COUNT(*) AS n_dup FROM w JOIN s USING (ng) GROUP BY 1) " +
        "SELECT d.doc_id, COALESCE(nw.n_windows, 0) AS n_windows, COALESCE(nd.n_dup, 0) AS n_dup_windows " +
        "FROM documents d LEFT JOIN nw USING (doc_id) LEFT JOIN nd USING (doc_id) ORDER BY doc_id"),
    "dedup_canonical" ->
      (s"WITH RECURSIVE $clusterCtes, " +
        "m AS (SELECT cl.cluster_id, d.doc_id, d.n_chars FROM cl JOIN documents d USING (doc_id)), " +
        "mx AS (SELECT cluster_id, MAX(n_chars) AS mc FROM m GROUP BY 1) " +
        "SELECT m.cluster_id, MIN(m.doc_id) FILTER (WHERE m.n_chars = mx.mc) AS canonical_id, " +
        "COUNT(*) AS n_members, MAX(m.n_chars) AS max_chars " +
        "FROM m JOIN mx USING (cluster_id) GROUP BY 1 ORDER BY 1"),
    "text_token_stats" ->
      "SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS n_tokens, CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS n_distinct_tokens, CAST(length(text) AS INTEGER) AS n_chars, CAST(list_aggregate(list_transform(string_split(text,' '), x -> length(x)), 'max') AS INTEGER) AS max_token_len, CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS INTEGER) AS n_stopwords FROM documents ORDER BY doc_id",
    "text_subtokens" ->
      "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INTEGER) AS n_word_runs, CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS INTEGER) AS n_digit_runs, CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS INTEGER) AS n_marks, CAST(len(regexp_extract_all(lower(text), '[a-z]+')) + len(regexp_extract_all(lower(text), '[0-9]+')) + len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS INTEGER) AS n_subtokens FROM documents ORDER BY doc_id",
    "text_langid" ->
      s"WITH $langCtes SELECT doc_id, lang_guess, lang_score FROM lg ORDER BY doc_id",
    "text_quality" ->
      s"WITH $qualCtes SELECT doc_id, n_tokens, repetition_pct, stopword_pct, quality_bucket FROM qual ORDER BY doc_id",
    "text_fingerprint" ->
      s"WITH $tokCte, $shCte SELECT d.doc_id, s.fp AS fingerprint FROM documents d LEFT JOIN (SELECT doc_id, MIN(md5(sh)) AS fp FROM sh GROUP BY 1) s ON s.doc_id = d.doc_id ORDER BY 1",
    // same polynomial evaluated per window (quadratic in SQL, HUGEINT
    // intermediates); the Spark side ROLLS it in one O(n) pass
    "text_rolling_fingerprint" -> {
      val M = BigInt("2305843009213693951") // 2^61-1
      val terms = (0 until 16).map { j =>
        val p = BigInt(graft.functions.RollingHashMin.Base).modPow(BigInt(15 - j), M)
        s"CAST(ascii(substr(d.text, w.i + $j, 1)) AS HUGEINT) * $p"
      }.mkString(" + ")
      s"WITH w AS (SELECT doc_id, unnest(generate_series(1, length(text) - 15)) AS i FROM documents), h AS (SELECT w.doc_id, CAST(($terms) % $M AS BIGINT) AS wh FROM w JOIN documents d ON d.doc_id = w.doc_id), m AS (SELECT doc_id, MIN(wh) AS fp FROM h GROUP BY 1) SELECT d.doc_id, CAST(COALESCE(m.fp, -1) AS BIGINT) AS rolling_fp FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id ORDER BY d.doc_id"
    },
    // integer tf-idf: idf = floor(log2(N/df)) via binary-string length, so
    // no floating log can flip a ranking between engines
    "text_tfidf" ->
      "WITH tok2 AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents), tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY 1,2), df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), n AS (SELECT COUNT(*) AS n_docs FROM documents), sc AS (SELECT tf.doc_id, tf.term, tf.tf * (length(bin(CAST(n.n_docs // df.df AS BIGINT))) - 1) AS score FROM tf JOIN df USING (term) CROSS JOIN n), r AS (SELECT doc_id, term, score, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM sc) SELECT doc_id, CAST(rnk AS INTEGER) AS rank, term, CAST(score AS BIGINT) AS score FROM r WHERE rnk <= 5 ORDER BY doc_id, rank",
    // integer-exact BM25: idf = floor(log2(N*1024/df)); tf saturation
    // cross-multiplied by 10*T; 1e4 fixed point under floor division
    "text_bm25" ->
      (s"WITH q(query_id, term) AS (VALUES $bm25QueryValues), " +
        "tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents), " +
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE term IN (SELECT term FROM q) GROUP BY 1,2), " +
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM dl), " +
        "c AS (SELECT q.query_id, tf.doc_id, " +
        "(length(bin(CAST(n_docs * 1024 // df AS BIGINT))) - 1) * 22 * tf * t_tokens * 10000 " +
        "// (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs) AS c " +
        "FROM tf JOIN q USING (term) JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN tot), " +
        "sc AS (SELECT query_id, doc_id, SUM(c) AS score FROM c GROUP BY 1,2), " +
        "r AS (SELECT query_id, doc_id, score, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM sc) " +
        "SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, CAST(score AS BIGINT) AS score " +
        "FROM r WHERE rnk <= 10 ORDER BY 1, 2"),
    // global token top-k: rank fully determined by (count desc, token asc)
    "text_vocab_topk" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents), " +
        "c AS (SELECT token, COUNT(*) AS cnt FROM tokv GROUP BY 1) " +
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank, token, cnt " +
        "FROM c ORDER BY cnt DESC, token LIMIT 20"),
    // exact phi-heavy-hitters: the sketch is only a candidate generator, so
    // the oracle is the exact threshold query
    "text_heavy_hitters" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents) " +
        "SELECT token, COUNT(*) AS cnt FROM tokv GROUP BY 1 " +
        "HAVING COUNT(*) >= CEIL(0.005 * (SELECT COUNT(*) FROM tokv)) ORDER BY token"),
    // identical answer by construction: the stream sketch only shapes the
    // candidate superset; the exact recount decides membership
    "text_heavy_hitters_stream" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents) " +
        "SELECT token, COUNT(*) AS cnt FROM tokv GROUP BY 1 " +
        "HAVING COUNT(*) >= CEIL(0.005 * (SELECT COUNT(*) FROM tokv)) ORDER BY token"),
    // corpus bigram LM: score = sum over bigram occurrences of
    // floor(log2(corpus count)) via binary-string length (integer-exact)
    "text_bigram_score" ->
      s"WITH $tokCte, bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS bg FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1), cnt AS (SELECT bg, COUNT(*) AS n FROM bg GROUP BY 1), sc AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams, CAST(SUM(length(bin(CAST(cnt.n AS BIGINT))) - 1) AS BIGINT) AS score FROM bg JOIN cnt USING (bg) GROUP BY 1) SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams, COALESCE(sc.score, 0) AS score FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id ORDER BY d.doc_id",
    // smoothed conditional surprisal: bits = floor(log2((c1+V)*1024 //
    // (c12+1))) per bigram occurrence; prefix totals re-aggregate the
    // model; 10^3 fixed-point bits-per-bigram under floor division
    "text_lm_bits" ->
      (s"WITH $tokCte, " +
        "bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS bg FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1), " +
        "dtf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bg GROUP BY 1, 2), " +
        "model AS (SELECT bg, COUNT(*) AS n FROM bg GROUP BY 1), " +
        "pre AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(n) AS c1 FROM model GROUP BY 1), " +
        "vv AS (SELECT COUNT(DISTINCT string_split(bg, ' ')[2]) AS v FROM model), " +
        "sc AS (SELECT dtf.doc_id, SUM(tf) AS n_bigrams, " +
        "SUM(tf * (length(bin(CAST((c1 + v) * 1024 // (n + 1) AS BIGINT))) - 1)) AS bits " +
        "FROM dtf JOIN model USING (bg) JOIN pre ON pre.w1 = string_split(dtf.bg, ' ')[1] CROSS JOIN vv GROUP BY 1) " +
        "SELECT d.doc_id, CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams, CAST(COALESCE(sc.bits, 0) AS BIGINT) AS bits, " +
        "CAST(CASE WHEN sc.n_bigrams > 0 THEN sc.bits * 1000 // sc.n_bigrams ELSE 0 END AS BIGINT) AS bpb_milli " +
        "FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id ORDER BY d.doc_id"),
    // most-frequent-token count (longest sorted run == max group count)
    // + in-row duplicate bigrams; integer floor percentages
    "text_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents), " +
        "top AS (SELECT doc_id, MAX(c) AS topc FROM (SELECT doc_id, w, COUNT(*) AS c FROM (SELECT doc_id, unnest(tk) AS w FROM t) GROUP BY 1,2) GROUP BY 1), " +
        "bg AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n, CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS b FROM t) " +
        "SELECT bg.doc_id, bg.n AS n_tokens, CAST(topc AS BIGINT) AS top_token_cnt, " +
        "CAST(floor(100*topc/bg.n) AS BIGINT) AS top_token_pct, " +
        "CAST(len(b) AS BIGINT) AS n_bigrams, " +
        "CAST(floor(100*(len(b)-len(list_distinct(b)))/GREATEST(len(b),1)) AS BIGINT) AS dup_bigram_pct, " +
        "(floor(100*topc/bg.n) <= 12 AND floor(100*(len(b)-len(list_distinct(b)))/GREATEST(len(b),1)) <= 10) AS keep " +
        "FROM bg JOIN top USING (doc_id) ORDER BY doc_id"),
    // identical injection + identical pattern order (email, phone, IP);
    // counts are per-pattern over the PRE-redaction text
    "text_pii_redact" -> {
      val (emailRe, phoneRe, ipRe) = (
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "\\d{3}-\\d{3}-\\d{4}",
        "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}")
      "WITH a AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' " +
        "WHEN doc_id % 5 = 1 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') " +
        "WHEN doc_id % 5 = 2 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 up' " +
        "ELSE '' END AS text FROM documents) " +
        s"SELECT doc_id, CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones, " +
        s"CAST(len(regexp_extract_all(text, '$ipRe')) AS BIGINT) AS n_ips, " +
        s"md5(regexp_replace(regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'), '$ipRe', '<IP>', 'g')) AS clean_md5 " +
        "FROM a ORDER BY doc_id"
    },
    // exclusive prefix sum over doc_id order -> block arithmetic
    "text_pack_sequences" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cb FROM t) " +
        "SELECT doc_id, n_tokens, CAST(floor(cb/512) AS BIGINT) AS start_seq, " +
        "CAST(cb % 512 AS BIGINT) AS start_offset, " +
        "CAST(floor((cb + n_tokens - 1)/512) AS BIGINT) AS end_seq FROM c ORDER BY doc_id"),
    // drop_reason priority mirrors Curation.curate: quality > duplicate > ''
    "curate_docs" ->
      s"WITH RECURSIVE $clusterCtes, $langCtes, $qualCtes SELECT d.doc_id, lg.lang_guess, qual.quality_bucket, cl.cluster_id, CASE WHEN qual.quality_bucket < 3 THEN 'quality' WHEN cl.cluster_id <> d.doc_id THEN 'duplicate' ELSE '' END AS drop_reason, (qual.quality_bucket >= 3 AND cl.cluster_id = d.doc_id) AS keep FROM documents d JOIN lg ON lg.doc_id = d.doc_id JOIN qual ON qual.doc_id = d.doc_id JOIN cl ON cl.doc_id = d.doc_id ORDER BY d.doc_id",
    "curate_mix" ->
      "SELECT doc_id, source, CAST(CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50 ELSE 25 END AS INTEGER) AS sample_pct, (doc_id % 100) < (CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50 ELSE 25 END) AS kept FROM documents ORDER BY doc_id",
    // quality_bucket = 3 unrolled: n >= 10 AND repetition < 80 AND stopwords < 30
    "corpus_stats" ->
      "WITH q AS (SELECT source, lang, len(string_split(text,' ')) AS n, len(list_distinct(string_split(text,' '))) AS nd, len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS ns FROM documents) SELECT source, lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens, CAST(SUM(CASE WHEN n >= 10 AND floor(100*(n-nd)/n) < 80 AND floor(100*ns/n) < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_docs FROM q GROUP BY 1,2 ORDER BY 1,2",
    // the Bloom prefilter is admit-only (FPs removed by the exact join), so
    // the oracle is the plain exact-overlap count; bench = doc_id % 20 = 0
    "text_decontaminate" ->
      (s"WITH $tokCte, $shCte, bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0), " +
        "hits AS (SELECT s.doc_id, COUNT(*) AS n_overlap FROM sh s JOIN bsh USING (sh) WHERE s.doc_id % 20 <> 0 GROUP BY 1) " +
        "SELECT d.doc_id, CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap, COALESCE(h.n_overlap, 0) > 0 AS contaminated " +
        "FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id WHERE d.doc_id % 20 <> 0 ORDER BY 1"),
    // bounded top-k aggregator == ranking window (quality desc, doc_id asc)
    "curate_source_cap" ->
      (s"WITH $qualCtes, r AS (SELECT d.source, q.doc_id, q.quality_bucket, " +
        "ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY q.quality_bucket DESC, q.doc_id) AS rnk " +
        "FROM qual q JOIN documents d ON d.doc_id = q.doc_id) " +
        "SELECT source, CAST(rnk AS INTEGER) AS rank, doc_id, CAST(quality_bucket AS INTEGER) AS quality_bucket " +
        "FROM r WHERE rnk <= 10 ORDER BY source, rnk"),
    // md5-bucket assignment reproduced digit by digit (the same
    // hex-digit-extraction trick as the simhash oracle); 90/5/5 cumulative
    // three layouts tagged per row, equal-width buckets by broadcast max,
    // zone-map pruning = (max < lo OR min > hi) per bucket
    "profile_zonemap_skip" ->
      ("WITH b AS (SELECT MAX(CAST(o_orderkey AS BIGINT)) AS kmax, MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS vmax FROM orders), " +
        "r AS (SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(round(o_totalprice*100) AS BIGINT) AS v FROM orders), " +
        "t AS (SELECT 'hash_key' AS layout, k % 64 AS bucket, v FROM r " +
        "UNION ALL SELECT 'range_key', k * 64 // (b.kmax + 1), v FROM r, b " +
        "UNION ALL SELECT 'range_value', v * 64 // (b.vmax + 1), v FROM r, b), " +
        "z AS (SELECT layout, bucket, COUNT(*) AS n_rows, MIN(v) AS zmin, MAX(v) AS zmax FROM t GROUP BY 1,2), " +
        "h AS (SELECT *, NOT (zmax < 5000000 OR zmin > 10000000) AS hit FROM z) " +
        "SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files, " +
        "CAST(SUM(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_hit, " +
        "CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_files_hit, " +
        "CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_files_skipped " +
        "FROM h GROUP BY 1 ORDER BY 1"),
    // each token charges its first doc-id-range bucket; cumulative sums
    // over the 10-row bucket relation
    "text_vocab_growth" ->
      ("WITH bb AS (SELECT MAX(doc_id) AS dmax FROM documents), " +
        "d AS (SELECT doc_id, text, doc_id * 10 // (bb.dmax + 1) AS bucket FROM documents, bb), " +
        "tk AS (SELECT bucket, unnest(string_split(text, ' ')) AS token FROM d), " +
        "fs AS (SELECT token, MIN(bucket) AS fb FROM tk GROUP BY 1), " +
        "nt AS (SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS new_tokens FROM fs GROUP BY 1), " +
        "dc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY 1) " +
        "SELECT dc.bucket, CAST(SUM(dc.n_docs) OVER (ORDER BY dc.bucket) AS BIGINT) AS n_docs_cum, " +
        "CAST(SUM(COALESCE(nt.new_tokens, 0)) OVER (ORDER BY dc.bucket) AS BIGINT) AS vocab_cum " +
        "FROM dc LEFT JOIN nt USING (bucket) ORDER BY 1"),
    // same md5 split coin as curate_split; eviction = the decontaminate
    // shingle join with the split's own test side as the benchmark
    "curate_leakage_split" ->
      (s"WITH $tokCte, $shCte, " +
        "sp AS (SELECT doc_id, CASE WHEN CAST(('0x'||substring(md5(CAST(doc_id AS VARCHAR)),1,4)) AS BIGINT) % 100 < 90 THEN 'train' ELSE 'test' END AS split FROM documents), " +
        "bsh AS (SELECT DISTINCT s.sh FROM sh s JOIN sp USING (doc_id) WHERE sp.split = 'test'), " +
        "hits AS (SELECT s.doc_id, COUNT(*) AS n_overlap FROM sh s JOIN sp USING (doc_id) JOIN bsh USING (sh) WHERE sp.split = 'train' GROUP BY 1) " +
        "SELECT sp.doc_id, sp.split, CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap, " +
        "(sp.split = 'test' OR COALESCE(h.n_overlap, 0) = 0) AS kept " +
        "FROM sp LEFT JOIN hits h USING (doc_id) ORDER BY 1"),
    "curate_split" ->
      ("WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents), " +
        "d AS (SELECT doc_id, ((strpos('0123456789abcdef', substr(m,1,1))-1)*4096 + " +
        "(strpos('0123456789abcdef', substr(m,2,1))-1)*256 + " +
        "(strpos('0123456789abcdef', substr(m,3,1))-1)*16 + " +
        "(strpos('0123456789abcdef', substr(m,4,1))-1)) % 100 AS bucket FROM b) " +
        "SELECT doc_id, CAST(bucket AS INTEGER) AS bucket, " +
        "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split " +
        "FROM d ORDER BY doc_id"),
    // fed in ascending-id batches, the streaming intake's first-seen pick
    // is the min doc_id of each content hash among quality survivors
    "curate_stream" ->
      (s"WITH $qualCtes SELECT MIN(d.doc_id) AS doc_id, md5(d.text) AS content_hash " +
        "FROM documents d JOIN qual ON qual.doc_id = d.doc_id " +
        "WHERE qual.quality_bucket >= 3 GROUP BY md5(d.text) ORDER BY 1"),
    "profile_lineitem" -> (profileCols.map { c =>
      s"SELECT '$c' AS column_name, COUNT(*) AS n_rows, CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct, CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val FROM lineitem"
    }.mkString(" UNION ALL ") + " ORDER BY column_name"),
    // the same per-column profile, evaluated over both snapshots and
    // min-of-year == year-of-min (monotone); integer cents
    "tpch_cohort_revenue" ->
      ("WITH c AS (SELECT o_custkey, MIN(CAST(year(o_orderdate) AS BIGINT)) AS cohort_year FROM orders GROUP BY 1) " +
        "SELECT c.cohort_year, CAST(year(o.o_orderdate) AS BIGINT) AS order_year, " +
        "CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers, " +
        "CAST(COUNT(*) AS BIGINT) AS n_orders, " +
        "CAST(SUM(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders o JOIN c ON o.o_custkey = c.o_custkey " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    // md5 hex is engine-identical; only 32-byte keys ever aggregate
    "dedup_source_report" ->
      ("SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique, " +
        "CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups " +
        "FROM documents GROUP BY 1 ORDER BY 1"),
    // confusion rollup of the knn_classify relation (same CTE chain)
    "sim_knn_confusion" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0), " +
        "s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qe, e.embedding) AS score FROM q, embeddings e WHERE e.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM s), " +
        "v AS (SELECT r.query_id, CAST(e.label AS BIGINT) AS nl, COUNT(*) AS cnt FROM r JOIN embeddings e ON e.vec_id = r.vec_id WHERE r.rnk <= 10 GROUP BY 1,2), " +
        "p AS (SELECT query_id, nl AS pred_label FROM (SELECT query_id, nl, cnt, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cnt DESC, nl) AS rn FROM v) WHERE rn = 1) " +
        "SELECT CAST(e.label AS BIGINT) AS label, p.pred_label, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN CAST(e.label AS BIGINT) = p.pred_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct " +
        "FROM p JOIN embeddings e ON e.vec_id = p.query_id GROUP BY 1, 2 ORDER BY 1, 2"),
    // per-group quantile_disc via the distinct-value cumulative histogram
    // — the same integer logic in both engines, never a row sort
    "tpch_priority_percentiles" ->
      ("WITH vc AS (SELECT o_orderpriority AS g, CAST(round(o_totalprice*100) AS BIGINT) AS v, COUNT(*) AS c " +
        "FROM orders GROUP BY 1, 2), " +
        "cum AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum, " +
        "SUM(c) OVER (PARTITION BY g) AS cnt FROM vc) " +
        "SELECT g AS o_orderpriority, CAST(MAX(cnt) AS BIGINT) AS n_rows, " +
        "CAST(MIN(CASE WHEN cum >= (cnt*50+99)//100 THEN v END) AS BIGINT) AS p50_cents, " +
        "CAST(MIN(CASE WHEN cum >= (cnt*90+99)//100 THEN v END) AS BIGINT) AS p90_cents " +
        "FROM cum GROUP BY 1 ORDER BY 1"),
    // CUBE levels disambiguated by explicit lvl bits (dims never NULL in
    // the data); integer _e4 money like the rollup
    "tpch_status_cube" ->
      ("SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_items, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4, " +
        "CAST(CASE WHEN l_returnflag IS NULL AND l_linestatus IS NULL THEN 3 " +
        "WHEN l_linestatus IS NULL THEN 1 WHEN l_returnflag IS NULL THEN 2 ELSE 0 END AS BIGINT) AS lvl " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' " +
        "GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY lvl, l_returnflag, l_linestatus"),
    // cell relation is |X|x|Y|; marginals as window sums over it
    "profile_contingency" ->
      ("WITH cells AS (SELECT CAST(l_returnflag AS VARCHAR) AS x, " +
        "CAST(l_linestatus AS VARCHAR) AS y, COUNT(*) AS n_xy FROM lineitem GROUP BY 1, 2) " +
        "SELECT x, y, CAST(n_xy AS BIGINT) AS n_xy, " +
        "CAST(SUM(n_xy) OVER (PARTITION BY x) AS BIGINT) AS n_x, " +
        "CAST(SUM(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y, " +
        "CAST(SUM(n_xy) OVER () AS BIGINT) AS n FROM cells ORDER BY x, y"),
    // constraint verdicts: every metric from ONE aggregate over the
    // fact left-joined to distinct dim keys; ASCII check names sort
    // identically in both engines
    // FD X->Y holds iff |distinct(X,Y)| == |distinct X|; values compare
    // as strings exactly like the Spark side's injective casts
    "profile_fds" -> {
      val fdCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      (for { x <- fdCols; y <- fdCols if x != y } yield
        s"SELECT '$x' AS lhs, '$y' AS rhs, COUNT(DISTINCT l) AS n_lhs, " +
          "COUNT(*) AS n_pairs, COUNT(*) - COUNT(DISTINCT l) AS n_violations, " +
          "COUNT(*) = COUNT(DISTINCT l) AS holds FROM " +
          s"(SELECT DISTINCT CAST($x AS VARCHAR) AS l, CAST($y AS VARCHAR) AS r FROM orders)"
        ).mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY lhs, rhs")
    },
    "profile_uniques" -> {
      val uCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val singles = uCols.map(c =>
        s"SELECT '$c' AS combo, COUNT(DISTINCT CAST($c AS VARCHAR)) AS n_distinct FROM orders")
      val pairs = for { (x, i) <- uCols.zipWithIndex; y <- uCols.drop(i + 1) } yield
        s"SELECT '$x,$y' AS combo, COUNT(*) AS n_distinct FROM " +
          s"(SELECT DISTINCT CAST($x AS VARCHAR) AS a, CAST($y AS VARCHAR) AS b FROM orders)"
      (singles ++ pairs).mkString(
        "WITH t AS (SELECT COUNT(*) AS n_rows FROM orders) SELECT combo, n_distinct, n_rows, " +
          "n_distinct = n_rows AS is_unique FROM (", " UNION ALL ",
        ") CROSS JOIN t ORDER BY combo")
    },
    "profile_quality_checks" ->
      ("WITH j AS (SELECT o.*, c.c_custkey AS dimk FROM orders o " +
        "LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey), " +
        "a AS (SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_key, " +
        "SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust, " +
        "SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_date, " +
        "SUM(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F') THEN 1 ELSE 0 END) AS dom_st, " +
        "SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS neg_tp, " +
        "SUM(CASE WHEN dimk IS NULL THEN 1 ELSE 0 END) AS fk_viol FROM j) " +
        "SELECT check_name, CAST(metric AS BIGINT) AS metric, passed FROM (" +
        "SELECT 'row_count' AS check_name, n_rows AS metric, n_rows > 0 AS passed FROM a " +
        "UNION ALL SELECT 'key_unique:o_orderkey', n_rows - n_key, n_rows = n_key FROM a " +
        "UNION ALL SELECT 'not_null:o_custkey', null_cust, null_cust = 0 FROM a " +
        "UNION ALL SELECT 'not_null:o_orderdate', null_date, null_date = 0 FROM a " +
        "UNION ALL SELECT 'domain:o_orderstatus', dom_st, dom_st = 0 FROM a " +
        "UNION ALL SELECT 'non_negative:o_totalprice', neg_tp, neg_tp = 0 FROM a " +
        "UNION ALL SELECT 'fk:o_custkey->c_custkey', fk_viol, fk_viol = 0 FROM a" +
        ") ORDER BY 1"),
    // differenced — min/max compare as the rendered strings, like profile
    "profile_drift" -> {
      def prof(src: String, sfx: String) = profileCols.map { c =>
        s"SELECT '$c' AS column_name, COUNT(*) AS r$sfx, CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u$sfx, COUNT(DISTINCT $c) AS d$sfx, CAST(MIN($c) AS VARCHAR) AS mn$sfx, CAST(MAX($c) AS VARCHAR) AS mx$sfx FROM $src"
      }.mkString(" UNION ALL ")
      "WITH bf AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'), " +
        s"pa AS (${prof("bf", "b")}), pb AS (${prof("lineitem", "a")}) " +
        "SELECT column_name, ra - rb AS d_rows, ua - ub AS d_nulls, da - db AS d_distinct, " +
        "mna <> mnb AS min_changed, mxa <> mxb AS max_changed " +
        "FROM pa JOIN pb USING (column_name) ORDER BY column_name"
    },
    // the oracle asserts the accuracy CONTRACT (exact stats + always-true
    // bound flag); the sketch value itself is engine-specific by nature
    "profile_lineitem_approx" -> (profileCols.map { c =>
      s"SELECT '$c' AS column_name, COUNT(*) AS n_rows, CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct, true AS approx_within_5pct FROM lineitem"
    }.mkString(" UNION ALL ") + " ORDER BY column_name"),
    // same histogram + cumulative-count construction as Profile.quantiles;
    // rank-at-floor((n-1)q) over integer-valued doubles is engine-exact
    "profile_quantiles" -> {
      val longRel = quantileCols.map(c =>
        s"SELECT '$c' AS column_name, CAST($c AS DOUBLE) AS v FROM lineitem WHERE $c IS NOT NULL")
        .mkString(" UNION ALL ")
      s"WITH l AS ($longRel), " +
        "h AS (SELECT column_name, v, COUNT(*) AS cnt FROM l GROUP BY 1,2), " +
        "c AS (SELECT column_name, v, SUM(cnt) OVER (PARTITION BY column_name ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM h), " +
        "n AS (SELECT column_name, COUNT(*) AS n FROM l GROUP BY 1), " +
        "t AS (SELECT n.column_name, q.q_pct, floor((n.n-1)*q.q_pct/100.0) AS target FROM n CROSS JOIN (SELECT unnest([0,25,50,75,100]) AS q_pct) q) " +
        "SELECT t.column_name, t.q_pct, MIN(c.v) AS q_val FROM c JOIN t ON t.column_name = c.column_name AND c.cum >= t.target + 1 GROUP BY 1,2 ORDER BY 1,2"
    },
    // `//` = DuckDB truncating integer division, matching Spark's `div`
    "profile_histogram" ->
      ("WITH v AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v), " +
        "c AS (SELECT ((v - lo) * 20) // (hi - lo + 1) AS bucket, COUNT(*) AS n FROM v CROSS JOIN b GROUP BY 1), " +
        "g AS (SELECT unnest(generate_series(0, 19)) AS bucket) " +
        "SELECT g.bucket, lo + (g.bucket * (hi - lo + 1)) // 20 AS bucket_lo, CAST(COALESCE(c.n, 0) AS BIGINT) AS n " +
        "FROM g CROSS JOIN b LEFT JOIN c ON c.bucket = g.bucket ORDER BY g.bucket"),
    // running total over doc_id order; budget = half the corpus tokens
    "text_budget_sample" ->
      "WITH t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents), b AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget FROM t), c AS (SELECT doc_id, n_tokens, CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t) SELECT c.doc_id, c.n_tokens, c.cum_tokens, c.cum_tokens <= b.budget AS in_budget FROM c CROSS JOIN b ORDER BY c.doc_id",
    "sim_topk_brute" ->
      "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0), s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qe, e.embedding) AS score FROM q, embeddings e WHERE e.vec_id <> q.query_id), r AS (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM s) SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id AS neighbor_id FROM r WHERE rnk <= 10 ORDER BY query_id, rank",
    // bounded-aggregator formulation is result-identical -> same oracle
    "sim_topk_agg" ->
      "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0), s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qe, e.embedding) AS score FROM q, embeddings e WHERE e.vec_id <> q.query_id), r AS (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM s) SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id AS neighbor_id FROM r WHERE rnk <= 10 ORDER BY query_id, rank",
    // full replication of the LSH pipeline: the integer signature is exact
    // in both engines (products < 2^53), banding/candidates/ranking mirror
    // Similarity.lshTopK, and scoring reuses the brute-force oracle's
    // list_cosine_similarity
    "sim_topk_lsh" ->
      s"WITH $q0Cte, ${lshTopKCtes(16, 4, "")} SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id AS neighbor_id FROM r WHERE rnk <= 10 ORDER BY query_id, rank",
    // per-config LSH replicas joined against the brute-force top-k; both
    // pipelines are the already-proven oracles, so the hit counts are exact
    "sim_lsh_recall" -> {
      val ctes = lshRecallConfigs.zipWithIndex.map { case ((np, bb), i) =>
        lshTopKCtes(np, bb, s"_$i")
      }.mkString(", ")
      val hits = lshRecallConfigs.indices.map(i =>
        s"h_$i AS (SELECT COUNT(*) AS n FROM r_$i l JOIN br b ON b.query_id = l.query_id AND b.vec_id = l.vec_id WHERE l.rnk <= 10)").mkString(", ")
      val branches = lshRecallConfigs.zipWithIndex.map { case ((np, bb), i) =>
        s"SELECT $np AS num_planes, $bb AS band_bits, nq.n AS n_queries, h_$i.n AS n_hits, CAST(floor(100*h_$i.n/(10*nq.n)) AS BIGINT) AS recall_pct FROM h_$i CROSS JOIN nq"
      }.mkString(" UNION ALL ")
      s"WITH $q0Cte, qq AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id % 100 = 0), " +
        "bs AS (SELECT qq.query_id, e.vec_id, list_cosine_similarity(qq.qemb, e.embedding) AS score FROM qq, embeddings e WHERE e.vec_id <> qq.query_id), " +
        "br AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM bs) WHERE rnk <= 10), " +
        "nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n FROM br), " +
        s"$ctes, $hits SELECT * FROM ($branches) ORDER BY num_planes"
    },
    "sim_topk_ivf" -> ivfOracleSql,
    "sim_ivf_recall" -> ivfRecallOracleSql,
    "sim_topk_pq" -> pqOracleSql,
    "sim_topk_ivfpq" -> ivfPqOracleSql,
    // the persisted path must answer the SAME oracle as the in-memory
    // one — the round-trip through parquet artifacts changes nothing
    "sim_topk_ivfpq_persisted" -> ivfPqOracleSql,
    "sim_topk_ivfpq_res" -> ivfPqResOracleSql,
    // float-cast centroids absorb double summation noise (the IVF oracle's
    // determinism contract); argmax ties break toward the smaller label
    // k-NN classify: neighbor CTE identical to sim_topk_brute, then modal
    // label (vote count desc, label asc) and the query's own label
    "sim_knn_classify" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0), " +
        "s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qe, e.embedding) AS score FROM q, embeddings e WHERE e.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM s), " +
        "v AS (SELECT r.query_id, CAST(e.label AS BIGINT) AS nl, COUNT(*) AS cnt FROM r JOIN embeddings e ON e.vec_id = r.vec_id WHERE r.rnk <= 10 GROUP BY 1,2), " +
        "p AS (SELECT query_id, nl AS pred_label, cnt AS n_votes FROM (SELECT query_id, nl, cnt, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cnt DESC, nl) AS rn FROM v) WHERE rn = 1) " +
        "SELECT p.query_id, CAST(e.label AS BIGINT) AS label, p.pred_label, p.n_votes, " +
        "CAST(e.label AS BIGINT) = p.pred_label AS correct " +
        "FROM p JOIN embeddings e ON e.vec_id = p.query_id ORDER BY p.query_id"),
    "sim_label_purity" ->
      "WITH m AS (SELECT label, i, CAST(AVG(v) AS FLOAT) AS mv FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding,1) AS i FROM embeddings) GROUP BY 1,2), cb AS (SELECT label, list(mv ORDER BY i) AS c FROM m GROUP BY 1), a AS (SELECT vec_id, label, cent AS pred_label FROM (SELECT e.vec_id, e.label, s.label AS cent, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, s.c) DESC, s.label) AS rn FROM embeddings e CROSS JOIN cb s) WHERE rn = 1) SELECT vec_id, label, CAST(pred_label AS BIGINT) AS pred_label, label = pred_label AS correct FROM a ORDER BY vec_id",
    // cross-multiplied centroid distance: rank by sum((q*n - s)^2) —
    // identical ordering to the true distance, no division anywhere
    "sim_centroid_outliers" ->
      ("WITH q AS (SELECT vec_id, label, generate_subscripts(embedding,1) AS dim, " +
        "CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1024) AS BIGINT) AS q FROM embeddings), " +
        "c AS (SELECT label, dim, SUM(q) AS s, COUNT(*) AS n FROM q GROUP BY 1,2), " +
        "d AS (SELECT q.vec_id, q.label, CAST(SUM((q.q*c.n - c.s)*(q.q*c.n - c.s)) AS BIGINT) AS d2n2 " +
        "FROM q JOIN c ON c.label = q.label AND c.dim = q.dim GROUP BY 1,2), " +
        "r AS (SELECT label, vec_id, d2n2, ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2n2 DESC, vec_id) AS rnk FROM d) " +
        "SELECT CAST(label AS INTEGER) AS label, CAST(rnk AS BIGINT) AS rank, vec_id, d2n2 " +
        "FROM r WHERE rnk <= 5 ORDER BY 1, 2"),
    // integer quantization codes: double division + floor over identical
    // float inputs is bit-deterministic across engines
    "sim_quantize_int8" ->
      "WITH s AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(x))) AS scale FROM embeddings), q AS (SELECT vec_id, unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / CAST(scale AS DOUBLE)) AS INTEGER))) AS q, generate_subscripts(embedding, 1) - 1 AS dim FROM s WHERE scale > 0) SELECT vec_id, CAST(dim AS INTEGER) AS dim, q FROM q ORDER BY vec_id, dim",
    "sim_near_dup_pairs" ->
      "WITH e2 AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 100000 AS vec_id, list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT)) AS embedding FROM embeddings WHERE vec_id % 50 = 0) SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b FROM e2 a JOIN e2 b ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95 ORDER BY 1, 2",
    // directional probe oracle: every test row reports; the only >= 0.95
    // train match of a scaled copy is its source, negated copies match
    // nothing (threshold margins >= 4e-4, far above engine float paths)
    "sim_decontaminate" ->
      ("WITH tr AS (SELECT vec_id, embedding FROM embeddings), " +
        "te AS (SELECT vec_id + 100000 AS test_id, list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT)) AS embedding FROM embeddings WHERE vec_id % 50 = 0 " +
        "UNION ALL SELECT vec_id + 200000 AS test_id, list_transform(embedding, x -> CAST(x * -1.5 AS FLOAT)) AS embedding FROM embeddings WHERE vec_id % 70 = 0), " +
        "m AS (SELECT te.test_id, tr.vec_id AS train_id " +
        "FROM te JOIN tr ON list_cosine_similarity(te.embedding, tr.embedding) >= 0.95), " +
        "b AS (SELECT test_id, CAST(COUNT(*) AS BIGINT) AS n_matches, MIN(train_id) AS best_train_id FROM m GROUP BY 1) " +
        "SELECT te.test_id, COALESCE(b.n_matches, 0) AS n_matches, " +
        "COALESCE(b.best_train_id, -1) AS best_train_id " +
        "FROM te LEFT JOIN b USING (test_id) ORDER BY test_id"),
    "profile_benford" ->
      ("WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit " +
        "FROM orders WHERE CAST(round(o_totalprice*100) AS BIGINT) > 0), " +
        "h AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1), " +
        "t AS (SELECT SUM(n) AS total FROM h) " +
        "SELECT digit, CAST(n AS BIGINT) AS n, round(CAST(n AS DOUBLE)/total, 6) AS pct, " +
        "round(log10(1.0 + 1.0/digit), 6) AS expected_pct FROM h, t ORDER BY digit"),
    // threshold margins verified >= 4e-4 at both test scales — far above
    // any float/double divergence between the engines' cosine paths
    "sim_range_search" ->
      ("SELECT a.vec_id AS query_id, b.vec_id FROM embeddings a JOIN embeddings b " +
        "ON a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3 ORDER BY 1, 2"),
    // codebook + assignment replicated over the injected relation; pairs
    // cluster-scoped, representative = min id among tau-neighbors + self
    "sim_semantic_dedup" ->
      ("WITH e2 AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 100000 AS vec_id, list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT)) AS embedding FROM embeddings WHERE vec_id % 50 = 0), " +
        ivfCodebookCtesOver("e2") + ", " +
        "nbr AS (SELECT b.vec_id, MIN(a.vec_id) AS nbr_id FROM lists a JOIN lists b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95 GROUP BY 1) " +
        "SELECT l.vec_id, l.cent_id, COALESCE(n.nbr_id, l.vec_id) AS rep_id, COALESCE(n.nbr_id, l.vec_id) <> l.vec_id AS is_dup " +
        "FROM lists l LEFT JOIN nbr n ON n.vec_id = l.vec_id ORDER BY l.vec_id"),
    // the oracle RE-ENCODES the P6 container from text (ppmCtes mirrors
    // blobTable) and states what a correct decode must recover: header
    // byte length, parsed dimensions, raster checksum
    "mm_decode_meta" ->
      (s"WITH ${ppmCtes("documents")}, " +
        "ch AS (SELECT doc_id, CAST(SUM(ascii(c)) % 65536 AS BIGINT) AS checksum FROM (SELECT doc_id, unnest(string_split(payload,'')) AS c FROM px) GROUP BY 1) " +
        "SELECT p.doc_id, CAST(9 + length(CAST(p.w AS VARCHAR)) + length(CAST(p.h AS VARCHAR)) + p.w*p.h*3 AS INTEGER) AS byte_len, " +
        "CAST(p.w AS INTEGER) AS width, CAST(p.h AS INTEGER) AS height, ch.checksum " +
        "FROM px p JOIN ch USING (doc_id) ORDER BY p.doc_id"),
    "mm_frames" ->
      (s"WITH ${ppmCtes("documents")}, " +
        "f AS (SELECT doc_id, payload, unnest(generate_series(0, CAST(floor((length(payload)-1)/128) AS BIGINT))) AS i FROM px) " +
        "SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, CAST(i*128 AS INTEGER) AS frame_off, " +
        "ascii(substr(payload, CAST(i*128+1 AS INTEGER), 1)) AS frame_byte FROM f ORDER BY doc_id, frame_idx"),
    "mm_resize" ->
      (s"WITH ${ppmCtes("documents")} " +
        "SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, " +
        "CAST(CASE WHEN greatest(w,h) <= 12 THEN w ELSE greatest(1, CAST(floor(w*12/greatest(w,h)) AS INTEGER)) END AS INTEGER) AS out_w, " +
        "CAST(CASE WHEN greatest(w,h) <= 12 THEN h ELSE greatest(1, CAST(floor(h*12/greatest(w,h)) AS INTEGER)) END AS INTEGER) AS out_h " +
        "FROM px ORDER BY doc_id"),
    "mm_features" ->
      (s"WITH ${ppmCtes("documents")}, " +
        "ch AS (SELECT doc_id, ascii(unnest(string_split(payload,''))) % 16 AS bucket FROM px), " +
        "cnt AS (SELECT doc_id, bucket, COUNT(*) AS n FROM ch GROUP BY 1,2), " +
        "bk AS (SELECT unnest(generate_series(0,15)) AS bucket) " +
        "SELECT d.doc_id, CAST(bk.bucket AS INTEGER) AS bucket, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_bytes " +
        "FROM documents d CROSS JOIN bk LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bucket = bk.bucket ORDER BY 1, 2"),
    "mm_phash" ->
      (s"WITH ${ppmCtes("documents")}, pp AS (SELECT doc_id, payload AS text FROM px), " +
        s"${phashCtes("pp")} SELECT doc_id, phash FROM ph ORDER BY doc_id"),
    // edited copies (one in-place byte) injected exactly like the Spark side;
    // all-pairs filter is the oracle for the banded search (complete <= 3)
    "mm_phash_pairs" ->
      (s"WITH e2 AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, substr(text, 1, 9) || 'Z' || substr(text, 11) FROM documents WHERE doc_id % 25 = 0), " +
        s"${ppmCtes("e2")}, pp AS (SELECT doc_id, payload AS text FROM px), ${phashCtes("pp")} " +
        "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming FROM ph a JOIN ph b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.phash, b.phash)) <= 3 ORDER BY 1, 2"),
    // recursive min-label closure over the SAME perceptual pair set
    "mm_media_clusters" ->
      (s"WITH RECURSIVE e2 AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, substr(text, 1, 9) || 'Z' || substr(text, 11) FROM documents WHERE doc_id % 25 = 0), " +
        s"${ppmCtes("e2")}, pp AS (SELECT doc_id, payload AS text FROM px), ${phashCtes("pp")}, " +
        "p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM ph a JOIN ph b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.phash, b.phash)) <= 3), " +
        "e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p), " +
        "reach AS (SELECT doc_id AS node, doc_id AS lab FROM e2 UNION SELECT e.a AS node, r.lab FROM e JOIN reach r ON r.node = e.b), " +
        "cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1) " +
        "SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM cl ORDER BY doc_id"),
    // the oracle RE-DERIVES every field the RIFF decode must recover
    // (container length, LE-encoded rate, sample count, payload checksum)
    // from the text via the fixture math — a wrong LE write OR a wrong
    // chunk-walk read breaks the match
    "mm_audio_meta" ->
      (s"WITH ${wavCtes("documents")}, " +
        "ach AS (SELECT doc_id, CAST(SUM(ascii(c)) % 65536 AS BIGINT) AS checksum FROM (SELECT doc_id, unnest(string_split(payload, '')) AS c FROM ax) GROUP BY 1) " +
        "SELECT x.doc_id, CAST(44 + x.ns AS INTEGER) AS byte_len, CAST(x.rate AS INTEGER) AS sample_rate, " +
        "CAST(x.ns AS INTEGER) AS n_samples, ach.checksum FROM ax x JOIN ach USING (doc_id) ORDER BY x.doc_id"),
    "mm_audio_energy" ->
      (s"WITH ${wavCtes("documents")}, $wavEnergyCtes " +
        "SELECT doc_id, win_idx, energy FROM aen ORDER BY 1, 2"),
    "mm_audio_fingerprint" ->
      (s"WITH ${wavCtes("documents")}, $wavEnergyCtes, $wavHashCtes " +
        "SELECT doc_id, ahash FROM aah ORDER BY doc_id"),
    // edited copies injected exactly like the Spark side; all-pairs filter
    // is the oracle for the banded search (complete <= 3)
    "mm_audio_pairs" ->
      (s"WITH e2 AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, substr(text, 1, 9) || 'Z' || substr(text, 11) FROM documents WHERE doc_id % 25 = 0), " +
        s"${wavCtes("e2")}, $wavEnergyCtes, $wavHashCtes " +
        "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming " +
        "FROM aah a JOIN aah b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.ahash, b.ahash)) <= 3 ORDER BY 1, 2"),
    // the oracle RE-DERIVES every field the Y4M decode must recover
    // (header length from the literal header text, per-frame payloads,
    // checksum) from the text via the fixture math — a wrong header
    // write OR a wrong frame walk breaks the match
    "mm_video_meta" ->
      (s"WITH ${y4mCtes("documents")}, " +
        "vhd AS (SELECT doc_id, w, h, nf, fn, fd, length('YUV4MPEG2 W' || w || ' H' || h || ' F' || fn || ':' || fd || ' Ip A1:1 Cmono') + 1 AS hlen FROM vm), " +
        "vcs AS (SELECT doc_id, CAST(SUM(ascii(c)) % 65536 AS BIGINT) AS checksum FROM (SELECT doc_id, unnest(string_split(fpay, '')) AS c FROM vf) GROUP BY 1) " +
        "SELECT d.doc_id, CAST(d.hlen + d.nf * (6 + d.w*d.h) AS INTEGER) AS byte_len, " +
        "CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height, " +
        "CAST(d.fn AS INTEGER) AS fps_num, CAST(d.fd AS INTEGER) AS fps_den, " +
        "CAST(d.nf AS INTEGER) AS n_frames, c.checksum " +
        "FROM vhd d JOIN vcs c USING (doc_id) ORDER BY d.doc_id"),
    // 4:2:0 variant: record size w*h*3/2 in byte_len, C420jpeg header
    // literal, checksum from the LUMA payload only (the decode contract)
    "mm_video_c420_meta" ->
      (s"WITH ${y4mCtes420("documents")}, " +
        "vhd AS (SELECT doc_id, w, h, nf, fn, fd, length('YUV4MPEG2 W' || w || ' H' || h || ' F' || fn || ':' || fd || ' Ip A1:1 C420jpeg') + 1 AS hlen FROM vm), " +
        "vcs AS (SELECT doc_id, CAST(SUM(ascii(c)) % 65536 AS BIGINT) AS checksum FROM (SELECT doc_id, unnest(string_split(fpay, '')) AS c FROM vf) GROUP BY 1) " +
        "SELECT d.doc_id, CAST(d.hlen + d.nf * (6 + d.w*d.h*3//2) AS INTEGER) AS byte_len, " +
        "CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height, " +
        "CAST(d.fn AS INTEGER) AS fps_num, CAST(d.fd AS INTEGER) AS fps_den, " +
        "CAST(d.nf AS INTEGER) AS n_frames, c.checksum " +
        "FROM vhd d JOIN vcs c USING (doc_id) ORDER BY d.doc_id"),
    // y4mHashCtes reads vf(doc_id, w, h, nf, k, fpay), which the 420 CTEs
    // emit with the LUMA payload — the same luma-only contract frames()
    // gives the Spark side, so the hash formula is shared verbatim
    "mm_video_c420_frame_hashes" ->
      (s"WITH ${y4mCtes420("documents")}, $y4mHashCtes " +
        "SELECT doc_id, frame_idx, fhash FROM vh ORDER BY 1, 2"),
    "mm_video_frame_hashes" ->
      (s"WITH ${y4mCtes("documents")}, $y4mHashCtes " +
        "SELECT doc_id, frame_idx, fhash FROM vh ORDER BY 1, 2"),
    "mm_video_shots" ->
      (s"WITH ${y4mCtes("documents")}, $y4mHashCtes, " +
        "vlg AS (SELECT doc_id, frame_idx, fhash, LAG(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS ph FROM vh) " +
        "SELECT doc_id, frame_idx, CAST(bit_count(xor(fhash, ph)) AS INTEGER) AS hamming " +
        "FROM vlg WHERE ph IS NOT NULL AND bit_count(xor(fhash, ph)) >= 8 ORDER BY 1, 2"),
    // edited copies injected exactly like the Spark side; the all-pairs
    // aligned-distance filter is the oracle for the per-frame banded
    // candidate search (complete: reported pairs need SOME aligned frame
    // within Hamming 3, which pigeonholes into a shared 8-bit band)
    "mm_video_pairs" ->
      (s"WITH e2 AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, substr(text, 1, 9) || 'Z' || substr(text, 11) FROM documents WHERE doc_id % 25 = 0), " +
        s"${y4mCtes("e2")}, $y4mHashCtes, " +
        "val AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, MIN(bit_count(xor(a.fhash, b.fhash))) AS min_h, SUM(bit_count(xor(a.fhash, b.fhash))) AS sum_h " +
        "FROM vh a JOIN vh b ON a.frame_idx = b.frame_idx AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "vnf AS (SELECT doc_id, COUNT(*) AS nf FROM vh GROUP BY 1) " +
        "SELECT doc_id_a, doc_id_b, CAST(sum_h * 100 // x.nf AS BIGINT) AS mean_hamming_e2 " +
        "FROM val JOIN vnf x ON x.doc_id = val.doc_id_a JOIN vnf y ON y.doc_id = val.doc_id_b " +
        "WHERE x.nf = y.nf AND min_h <= 3 AND sum_h * 100 // x.nf <= 200 ORDER BY 1, 2"),
    // non-overlapping 20-token chunks; global first occurrence (min
    // (doc_id, idx)) survives, survivors re-join in order
    "dedup_paragraphs" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "w AS (SELECT doc_id, t, unnest(range(0, CAST(ceil(len(t)/20.0) AS BIGINT))) AS idx FROM tokd), " +
        "ck AS (SELECT doc_id, idx, array_to_string(t[(idx*20+1):(idx*20+20)], ' ') AS chunk FROM w), " +
        "el AS (SELECT doc_id, idx, chunk, ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) = 1 AS keep FROM ck) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "COALESCE(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY idx), '') AS cleaned_text " +
        "FROM el GROUP BY doc_id ORDER BY doc_id"),
    // distinct 7-token windows occurring in BOTH sources of a pair; the
    // Spark side pairs per-window source lists, the oracle self-joins —
    // identical distinct-window pair counts
    "dedup_cross_source" ->
      ("WITH tokd AS (SELECT doc_id, source, string_split(text,' ') AS t FROM documents), " +
        "w AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(t)-5), i -> array_to_string(t[i:i+6],' '))) AS ng FROM tokd WHERE len(t) >= 7) " +
        "SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM w a JOIN w b ON a.ng = b.ng AND a.source < b.source GROUP BY 1,2 ORDER BY 1,2"),
    // sqrt is IEEE correctly-rounded -> weights agree bit-for-bit
    "curate_temperature_mix" ->
      ("WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
        "t AS (SELECT SUM(sqrt(n_tokens)) AS st FROM c) " +
        "SELECT source, n_docs, n_tokens, CAST(round(1000000*sqrt(n_tokens)/st) AS BIGINT) AS weight_ppm FROM c, t ORDER BY source"),
    "curate_shards" ->
      ("WITH tok AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents), " +
        "c AS (SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id) - n AS cum_before FROM tok), " +
        "t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tok) " +
        "SELECT doc_id, n AS n_tokens, CAST(LEAST((cum_before * 8) // total, 7) AS INTEGER) AS shard FROM c, t ORDER BY doc_id"),
    "curate_quality_tiers" ->
      (s"WITH $qualCtes SELECT d.doc_id, d.lang, q.quality_bucket, " +
        "CAST(NTILE(3) OVER (PARTITION BY d.lang ORDER BY q.quality_bucket DESC, q.repetition_pct, q.stopword_pct, d.doc_id) AS INTEGER) AS tier " +
        "FROM documents d JOIN qual q USING (doc_id) ORDER BY d.doc_id"),
    "sim_hard_negatives" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql FROM embeddings WHERE vec_id % 100 = 0), " +
        "s AS (SELECT q.query_id, e.vec_id, e.label, list_cosine_similarity(q.qe, e.embedding) AS score FROM q, embeddings e WHERE e.vec_id <> q.query_id AND e.label <> q.ql), " +
        "r AS (SELECT query_id, vec_id, label, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM s) " +
        "SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id AS neighbor_id, CAST(label AS BIGINT) AS neighbor_label FROM r WHERE rnk <= 10 ORDER BY query_id, rank"),
    "text_bpe_merges" ->
      ("WITH wrd AS (SELECT unnest(string_split(text,' ')) AS w FROM documents), " +
        "ch AS (SELECT string_split(w,'') AS c FROM wrd), " +
        "pr AS (SELECT unnest(list_transform(range(1, len(c)), i -> c[i] || ' ' || c[i+1])) AS pair FROM ch WHERE len(c) >= 2), " +
        "cnt AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM pr GROUP BY 1), " +
        "r AS (SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk FROM cnt) " +
        "SELECT CAST(rnk AS INTEGER) AS rank, pair, cnt FROM r WHERE rnk <= 20 ORDER BY rank"),
    // money aggregates in INTEGER space (prices cents-exact, rates
    // percent-exact) -> order-independent sums, exact in any engine
    // Q22 analog: threshold against a global scalar (cross-multiplied,
    // no division) + NOT EXISTS anti-join on dormancy, per-nation rollup
    "tpch_sales_opportunity" ->
      ("WITH cust AS (SELECT c_custkey, c_nationkey, CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents FROM customer), " +
        "pos AS (SELECT COUNT(*) AS n_pos, SUM(bal_cents) AS sum_pos FROM cust WHERE bal_cents > 0) " +
        "SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust, CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents " +
        "FROM cust CROSS JOIN pos " +
        "WHERE bal_cents * n_pos > sum_pos " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cust.c_custkey " +
        "AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00') " +
        "GROUP BY 1 ORDER BY 1"),
    // deterministic hash-rank subsample quantile sketch: md5 low bits are
    // the sampling coin (same derandomization as the CMS/HLL oracles), so
    // both engines draw the identical sample; level = bit_length(ceil(n/
    // cap)-1), weight 2^level, quantile_disc selection on estimated ranks
    "profile_quantile_sketch" -> quantileSketchOracleSql(""),
    // the stream twin folds the same subsample ONLINE (sharded bounded
    // state, hash-bit compaction) and answers the identical construction
    // over its deterministic quarter of the rows
    "profile_quantile_sketch_stream" ->
      quantileSketchOracleSql(" WHERE l_orderkey % 4 = 0"),
    // equi-depth boundaries at rank-at-floor((n-1)i/8); bucket = count of
    // boundaries <= v (ties to the higher bucket) — all integer cents
    "profile_equidepth" ->
      ("WITH vals AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM (SELECT v, COUNT(*) AS cnt FROM vals GROUP BY 1)), " +
        "tot AS (SELECT COUNT(*) AS n FROM vals), " +
        "t AS (SELECT i, CAST(floor((n - 1) * i / 8.0) AS BIGINT) AS target FROM tot CROSS JOIN (SELECT unnest(range(1, 8)) AS i)), " +
        "bnd AS (SELECT i, MIN(v) AS b FROM cum CROSS JOIN t WHERE cum >= target + 1 GROUP BY 1), " +
        "barr AS (SELECT list(b ORDER BY i) AS bs FROM bnd) " +
        "SELECT CAST(len(list_filter(bs, b -> b <= v)) AS BIGINT) AS bucket, " +
        "MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n_rows " +
        "FROM vals CROSS JOIN barr GROUP BY 1 ORDER BY 1"),
    // Morton interleave replicated bit-by-bit (8 shift/mask terms per
    // dimension); grid scale + bucket are pure integer floor arithmetic
    "profile_zorder" ->
      ("WITH bnd AS (SELECT MAX(l_partkey) AS amax, MAX(l_suppkey) AS bmax FROM lineitem), " +
        "g AS (SELECT l_partkey * 256 // (amax + 1) AS ga, l_suppkey * 256 // (bmax + 1) AS gb FROM lineitem CROSS JOIN bnd), " +
        "z AS (SELECT ga, gb, " +
        (0 until 8).map(i =>
          s"((((ga >> $i) & 1) << ${2 * i}) | (((gb >> $i) & 1) << ${2 * i + 1}))")
          .mkString(" | ") +
        " AS zv FROM g) " +
        "SELECT zv >> 10 AS bucket, COUNT(*) AS n_rows, " +
        "MIN(ga) AS ga_min, MAX(ga) AS ga_max, MIN(gb) AS gb_min, MAX(gb) AS gb_max " +
        "FROM z GROUP BY 1 ORDER BY 1"),
    // pivot == conditional aggregation: the oracle spells out the CASEs
    // Catalyst compiles the explicit-values pivot into
    "tpch_priority_pivot" ->
      ("SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, " +
        "COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS urgent, " +
        "COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS high, " +
        "COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium, " +
        "COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS not_specified, " +
        "COUNT(*) FILTER (o_orderpriority = '5-LOW') AS low " +
        "FROM lineitem JOIN orders ON o_orderkey = l_orderkey " +
        "GROUP BY 1 ORDER BY 1"),
    // Q11 analog: per-part revenue vs 150% of the average part's,
    // cross-multiplied — rev*n*100 > total*150 (scale-invariant bar)
    "tpch_important_parts" ->
      ("WITH pp AS (SELECT l_partkey, CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM lineitem GROUP BY 1), " +
        "tot AS (SELECT SUM(revenue_e4) AS total_e4, COUNT(*) AS n_parts FROM pp) " +
        "SELECT l_partkey, revenue_e4 FROM pp CROSS JOIN tot " +
        "WHERE revenue_e4 * n_parts * 100 > total_e4 * 150 ORDER BY 1"),
    // Q19 analog: OR of brand/size/quantity conjunction bands
    "tpch_banded_revenue" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_items, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity <= 20) " +
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25 AND l_quantity <= 30) " +
        "OR (p_brand = 'Brand#3' AND p_size >= 20 AND l_quantity <= 40)"),
    // plain join/rollup SQL — the bucketed layout changes the PLAN, never
    // the result
    "tpch_colocated_join" ->
      ("SELECT o_orderpriority, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY 1"),
    // SCD2 MERGE replicated as the UNION of row fates; %77 keys carry TWO
    // updates (change at ts=1M, no-op at ts=2M) so latest-wins is exercised
    "tpch_scd_customer" ->
      s"WITH $scdOracleCtes SELECT k, v, valid_from_us, valid_to_us FROM scd ORDER BY k, valid_from_us",
    // complete bucket spine from the global [min,max] range; missing
    // buckets zero-fill; LOCF via last_value IGNORE NULLS (both engines)
    "events_gap_fill" ->
      ("WITH c AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS b, " +
        "COUNT(*) AS n, CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents FROM events GROUP BY 1,2), " +
        "bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM c), " +
        "types AS (SELECT DISTINCT event_type FROM events), " +
        "spine AS (SELECT t.event_type, unnest(generate_series(bounds.lo, bounds.hi, 300)) AS b FROM types t, bounds), " +
        "j AS (SELECT s.event_type, s.b, c.n, c.cents FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.b = s.b) " +
        "SELECT event_type, b AS bucket_start, CAST(COALESCE(n, 0) AS BIGINT) AS n_events, n IS NULL AS filled, " +
        "CAST(COALESCE(last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS BIGINT) AS last_cents " +
        "FROM j ORDER BY 1, 2"),
    // the stream twin's per-type spine starts at the TYPE's first bucket
    // (a stream cannot know the global min); it ends at the global max —
    // the sentinel closes exactly that bucket
    "events_gap_fill_stream" ->
      ("WITH c AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT) AS b, " +
        "COUNT(*) AS n, CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents FROM events GROUP BY 1,2), " +
        "gb AS (SELECT MAX(b) AS hi FROM c), " +
        "tmin AS (SELECT event_type, MIN(b) AS lo FROM c GROUP BY 1), " +
        "spine AS (SELECT t.event_type, unnest(generate_series(t.lo, gb.hi, 300)) AS b FROM tmin t, gb), " +
        "j AS (SELECT s.event_type, s.b, c.n, c.cents FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.b = s.b) " +
        "SELECT event_type, b AS bucket_start, CAST(COALESCE(n, 0) AS BIGINT) AS n_events, n IS NULL AS filled, " +
        "CAST(COALESCE(last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS BIGINT) AS last_cents " +
        "FROM j ORDER BY 1, 2"),
    // temporal lookup: equi-join on the key, validity as the residual;
    // versions are non-overlapping so at most one survives per fact
    "tpch_pit_join" ->
      (s"WITH $scdOracleCtes, " +
        "f AS (SELECT CAST(o_orderkey AS BIGINT) AS fact_id, CAST(o_custkey AS BIGINT) AS k, " +
        "CAST(o_orderkey % 3 AS BIGINT) * 1000000 + 500000 AS ts_us FROM orders) " +
        "SELECT f.fact_id, f.k, f.ts_us, s.k IS NOT NULL AS matched, " +
        "CAST(COALESCE(s.v, -1) AS BIGINT) AS v " +
        "FROM f LEFT JOIN scd s ON s.k = f.k AND s.valid_from_us <= f.ts_us " +
        "AND (s.valid_to_us = -1 OR f.ts_us < s.valid_to_us) ORDER BY 1"),
    // Q15 analog: per-supplier quarter revenue joined to its own max —
    // ties survive; integer money keeps the argmax exact in any engine
    "tpch_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS total_revenue_e4 " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_revenue_e4 FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE total_revenue_e4 = (SELECT MAX(total_revenue_e4) FROM rev) ORDER BY 1"),
    "tpch_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6, " +
        "CAST(COUNT(*) AS BIGINT) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' GROUP BY 1,2 ORDER BY 1,2"),
    "tpch_top_orders" ->
      ("SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01' " +
        "GROUP BY 1,2,3 ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10"),
    "tpch_region_revenue" ->
      ("SELECT n_name, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'AFRICA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01' " +
        "GROUP BY 1 ORDER BY revenue_e4 DESC, n_name"),
    "tpch_order_priority" ->
      ("SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAYS) " +
        "GROUP BY 1 ORDER BY 1"),
    "tpch_customer_distribution" ->
      ("SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM " +
        "(SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer " +
        "LEFT OUTER JOIN orders ON c_custkey = o_custkey GROUP BY 1) " +
        "GROUP BY 1 ORDER BY custdist DESC, c_count DESC"),
    "tpch_big_orders" ->
      ("SELECT c_name, c_custkey, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, " +
        "CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_cents, total_qty FROM " +
        "(SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty " +
        "FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) > 150) q " +
        "JOIN orders ON q.l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY total_qty DESC, o_orderkey LIMIT 20"),
    // largest-remainder apportionment + md5-shuffled in-stratum pick:
    // every step integer/string-exact in both engines
    "curate_stratified" ->
      ("WITH st AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS sn FROM documents GROUP BY 1,2), " +
        "t AS (SELECT SUM(sn) AS t FROM st), " +
        "b AS (SELECT source, lang, sn, (200*sn)//t.t AS q0, (200*sn)%t.t AS rem FROM st CROSS JOIN t), " +
        "qs AS (SELECT SUM(q0) AS q FROM b), " +
        "qt AS (SELECT source, lang, q0 + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source, lang) <= 200 - qs.q THEN 1 ELSE 0 END AS quota FROM b CROSS JOIN qs), " +
        "r AS (SELECT doc_id, source, lang, ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank FROM documents) " +
        "SELECT r.doc_id, r.source, r.lang, CAST(r.pick_rank AS BIGINT) AS pick_rank " +
        "FROM r JOIN qt USING (source, lang) WHERE r.pick_rank <= qt.quota ORDER BY r.doc_id"),
    // values render to VARCHAR before grouping; rank = (cnt desc, value)
    "profile_frequent_values" ->
      ("WITH lr AS (SELECT 'l_returnflag' AS column_name, CAST(l_returnflag AS VARCHAR) AS value FROM lineitem " +
        "UNION ALL SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem " +
        "UNION ALL SELECT 'l_quantity', CAST(l_quantity AS VARCHAR) FROM lineitem " +
        "UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem), " +
        "c AS (SELECT column_name, value, CAST(COUNT(*) AS BIGINT) AS cnt FROM lr WHERE value IS NOT NULL GROUP BY 1,2), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY column_name ORDER BY cnt DESC, value) AS rank FROM c) " +
        "SELECT column_name, CAST(rank AS BIGINT) AS rank, value, cnt FROM r WHERE rank <= 5 ORDER BY 1,2"),
    // exact rank-at-floor((n-1)*99/100) threshold by counting over each
    // type's distinct milli-values; strictly-above rows flag
    "events_outliers" ->
      ("WITH ev AS (SELECT event_id, event_type, CAST(floor(value*1000) AS BIGINT) AS value_milli FROM events), " +
        "h AS (SELECT event_type, value_milli, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY 1,2), " +
        "cu AS (SELECT event_type, value_milli, SUM(cnt) OVER (PARTITION BY event_type ORDER BY value_milli) AS cum FROM h), " +
        "nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1), " +
        "th AS (SELECT cu.event_type, MIN(cu.value_milli) AS thr_milli FROM cu JOIN nn USING (event_type) " +
        "WHERE cu.cum >= FLOOR((nn.n - 1) * 99 / 100.0) + 1 GROUP BY 1) " +
        "SELECT ev.event_id, ev.event_type, ev.value_milli, th.thr_milli " +
        "FROM ev JOIN th USING (event_type) WHERE ev.value_milli > th.thr_milli ORDER BY ev.event_id"),
    "tpch_promo_revenue" ->
      ("SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS promo_e4, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS total_e4, " +
        "CAST(COUNT(*) AS BIGINT) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'"),
    "tpch_brand_suppliers" ->
      ("WITH bs AS (SELECT p_brand, l_suppkey, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1,2) " +
        "SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_suppliers, CAST(SUM(n) AS BIGINT) AS n_lineitems " +
        "FROM bs GROUP BY 1 ORDER BY 1"),
    "tpch_returned_items" ->
      ("SELECT c_custkey, c_name, n_name, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY 1,2,3 ORDER BY revenue_e4 DESC, c_custkey LIMIT 20"),
    // correlated scalar subquery (20%-of-average), expressed correlated in
    // the oracle and decorrelated in Spark; 5*qty*n < sum keeps it integer
    "tpch_small_quantity" ->
      ("WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, " +
        "CAST(round(l_extendedprice*100) AS BIGINT) AS price_cents " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#23'), " +
        "pa AS (SELECT l_partkey, SUM(qty) AS part_sum_qty, CAST(COUNT(*) AS BIGINT) AS part_n FROM li GROUP BY 1) " +
        "SELECT li.l_partkey, CAST(COUNT(*) AS BIGINT) AS n_below, CAST(SUM(li.price_cents) AS BIGINT) AS below_cents " +
        "FROM li JOIN pa USING (l_partkey) WHERE 5 * li.qty * pa.part_n < pa.part_sum_qty " +
        "GROUP BY 1 ORDER BY 1"),
    // min-per-group subquery: cost = (SELECT MIN(cost) ... same part); ties kept
    "tpch_min_cost_supplier" ->
      ("WITH rs AS (SELECT s_suppkey, s_name, n_name FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'EUROPE'), " +
        "pc AS (SELECT l_partkey, l_suppkey, MIN(CAST(round(l_extendedprice*100) AS BIGINT)) AS cost_cents " +
        "FROM lineitem JOIN rs ON l_suppkey = s_suppkey GROUP BY 1,2), " +
        "pm AS (SELECT l_partkey, MIN(cost_cents) AS min_cost FROM pc GROUP BY 1) " +
        "SELECT pc.l_partkey, pc.l_suppkey, rs.s_name, rs.n_name, pc.cost_cents " +
        "FROM pc JOIN pm USING (l_partkey) JOIN rs ON pc.l_suppkey = rs.s_suppkey " +
        "WHERE pc.cost_cents = pm.min_cost ORDER BY 1, 2 LIMIT 100"),
    // TRUE correlated EXISTS/NOT-EXISTS formulation in the oracle; the
    // Spark side decorrelates to per-order aggregates
    "tpch_waiting_suppliers" ->
      ("WITH l AS (SELECT l_orderkey, l_suppkey, (l_shipdate > o_orderdate + INTERVAL 90 DAYS) AS late " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "q AS (SELECT DISTINCT l1.l_orderkey, l1.l_suppkey FROM l l1 WHERE l1.late " +
        "AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey AND l3.late)) " +
        "SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait " +
        "FROM q JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY 1,2 ORDER BY numwait DESC, s_suppkey LIMIT 20"),
    "tpch_stale_parts" ->
      ("SELECT p_partkey, p_name FROM part WHERE NOT EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_partkey = p_partkey " +
        "AND l_shipdate >= TIMESTAMP '2001-09-01' AND l_shipdate < TIMESTAMP '2002-01-01') " +
        "ORDER BY p_partkey"),
    // merged partials == the full scan: same oracle as tpch_pricing_summary
    "tpch_pricing_incremental" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6, " +
        "CAST(COUNT(*) AS BIGINT) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' GROUP BY 1,2 ORDER BY 1,2"),
    // register = md5-prefix mod 2^p; rho = 33 - bit-length of the next
    // 32 hash bits (bin() is minimal-length in both engines)
    "text_hll_stream" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents), hr AS (SELECT CAST(('0x'||substring(md5(token),1,8)) AS BIGINT) % 1024 AS register, CAST(('0x'||substring(md5(token),9,8)) AS BIGINT) AS v FROM tokv), ob AS (SELECT register, MAX(CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END) AS max_rho FROM hr GROUP BY 1), rg AS (SELECT unnest(range(0, 1024)) AS register) SELECT rg.register, CAST(COALESCE(ob.max_rho, 0) AS BIGINT) AS max_rho FROM rg LEFT JOIN ob USING (register) ORDER BY register"),
    "text_hll_registers" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents), hr AS (SELECT CAST(('0x'||substring(md5(token),1,8)) AS BIGINT) % 1024 AS register, CAST(('0x'||substring(md5(token),9,8)) AS BIGINT) AS v FROM tokv), ob AS (SELECT register, MAX(CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END) AS max_rho FROM hr GROUP BY 1), rg AS (SELECT unnest(range(0, 1024)) AS register) SELECT rg.register, CAST(COALESCE(ob.max_rho, 0) AS BIGINT) AS max_rho FROM rg LEFT JOIN ob USING (register) ORDER BY register"),
    // shared md5-prefix hash: first 8 hex chars as an integer, mod width
    "text_cms_stream" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents), ds AS (SELECT unnest(range(0,4)) AS d), cl AS (SELECT ds.d, CAST(('0x'||substring(md5(CAST(ds.d AS VARCHAR)||':'||token),1,8)) AS BIGINT) % 1024 AS cell, CAST(COUNT(*) AS BIGINT) AS n FROM tokv CROSS JOIN ds GROUP BY 1,2), top AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tokv GROUP BY 1 ORDER BY exact_cnt DESC, token LIMIT 50), pr AS (SELECT token, exact_cnt, ds.d, CAST(('0x'||substring(md5(CAST(ds.d AS VARCHAR)||':'||token),1,8)) AS BIGINT) % 1024 AS cell FROM top CROSS JOIN ds) SELECT p.token, p.exact_cnt, MIN(c.n) AS cms_estimate FROM pr p JOIN cl c ON c.d = p.d AND c.cell = p.cell GROUP BY 1,2 ORDER BY token"),
    "text_cms_estimates" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents), ds AS (SELECT unnest(range(0,4)) AS d), cl AS (SELECT ds.d, CAST(('0x'||substring(md5(CAST(ds.d AS VARCHAR)||':'||token),1,8)) AS BIGINT) % 1024 AS cell, CAST(COUNT(*) AS BIGINT) AS n FROM tokv CROSS JOIN ds GROUP BY 1,2), top AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tokv GROUP BY 1 ORDER BY exact_cnt DESC, token LIMIT 50), pr AS (SELECT token, exact_cnt, ds.d, CAST(('0x'||substring(md5(CAST(ds.d AS VARCHAR)||':'||token),1,8)) AS BIGINT) % 1024 AS cell FROM top CROSS JOIN ds) SELECT p.token, p.exact_cnt, MIN(c.n) AS cms_estimate FROM pr p JOIN cl c ON c.d = p.d AND c.cell = p.cell GROUP BY 1,2 ORDER BY token"),
    "text_triangles" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), w AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7],' '))) AS ng FROM tokd), df AS (SELECT ng, COUNT(*) AS df FROM w GROUP BY 1), ek AS (SELECT ng FROM df WHERE df BETWEEN 2 AND 80), e0 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM w x JOIN w y USING (ng) JOIN ek USING (ng) WHERE x.doc_id < y.doc_id), deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1), tri AS (SELECT x.a AS ta, x.b AS tb, y.b AS tc FROM e0 x JOIN e0 y ON x.b = y.a WHERE EXISTS (SELECT 1 FROM e0 z WHERE z.a = x.a AND z.b = y.b)), pn AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (SELECT ta AS v FROM tri UNION ALL SELECT tb FROM tri UNION ALL SELECT tc FROM tri) GROUP BY 1) SELECT d.doc_id, COALESCE(deg.degree, 0) AS degree, COALESCE(pn.n_triangles, 0) AS n_triangles FROM documents d LEFT JOIN deg ON deg.v = d.doc_id LEFT JOIN pn ON pn.v = d.doc_id ORDER BY d.doc_id"),
    // greedy MMR unrolled: round 1 is pure relevance; each later round
    // re-scores the unpicked candidates against the picked set. The
    // oracle writes (1 - 0.7) so both engines mix with the identical
    // double constant.
    "sim_mmr_rerank" -> {
      val base =
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0), " +
        "sc AS (SELECT q.query_id, e.vec_id, e.embedding, list_cosine_similarity(q.qe, e.embedding) AS rel FROM q, embeddings e WHERE e.vec_id <> q.query_id), " +
        "cand AS (SELECT query_id, vec_id, embedding, rel FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS r FROM sc) WHERE r <= 20), " +
        "pr AS (SELECT x.query_id, x.vec_id, y.vec_id AS s, list_cosine_similarity(x.embedding, y.embedding) AS cs FROM cand x JOIN cand y ON y.query_id = x.query_id AND y.vec_id <> x.vec_id), " +
        "p1 AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS r FROM cand) WHERE r = 1)"
      val rounds = (2 to 5).map { t =>
        val u = if (t == 2) "p1"
          else (1 until t).map(i => s"SELECT * FROM p$i").mkString("(", " UNION ALL ", ")")
        s"r$t AS (SELECT pr.query_id, pr.vec_id, MAX(cs) AS red FROM pr JOIN $u u ON u.query_id = pr.query_id AND u.vec_id = pr.s GROUP BY 1,2), " +
        s"s$t AS (SELECT c.query_id, c.vec_id, 70*c.rel - 30*COALESCE(r$t.red, 0) AS mmr FROM cand c LEFT JOIN r$t ON r$t.query_id = c.query_id AND r$t.vec_id = c.vec_id " +
        s"WHERE NOT EXISTS (SELECT 1 FROM $u u2 WHERE u2.query_id = c.query_id AND u2.vec_id = c.vec_id)), " +
        s"p$t AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id) AS r FROM s$t) WHERE r = 1)"
      }.mkString(", ")
      val sel = (1 to 5).map(t =>
        s"SELECT query_id, CAST($t AS BIGINT) AS rank, vec_id AS neighbor_id FROM p$t")
        .mkString(" UNION ALL ")
      s"$base, $rounds $sel ORDER BY query_id, rank"
    },
    // 3 unrolled synchronous LPA rounds over the same window graph as
    // text_pagerank; per round: vote counts, then rank-1 pick by
    // (cnt desc, label asc) — the same tie rule as the Spark max-struct
    "text_communities" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "w AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7],' '))) AS ng FROM tokd), " +
        "df AS (SELECT ng, COUNT(*) AS df FROM w GROUP BY 1), " +
        "ek AS (SELECT ng FROM df WHERE df BETWEEN 2 AND 80), " +
        "e0 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM w x JOIN w y USING (ng) JOIN ek USING (ng) WHERE x.doc_id < y.doc_id), " +
        "sym AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
        "l0 AS (SELECT doc_id AS src, doc_id AS label FROM documents), " +
        "v1 AS (SELECT s.dst, l.label, COUNT(*) AS cnt FROM sym s JOIN l0 l ON l.src = s.src GROUP BY 1,2), " +
        "b1 AS (SELECT dst, label FROM (SELECT dst, label, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS r FROM v1) WHERE r = 1), " +
        "l1 AS (SELECT l0.src, COALESCE(b1.label, l0.label) AS label FROM l0 LEFT JOIN b1 ON b1.dst = l0.src), " +
        "v2 AS (SELECT s.dst, l.label, COUNT(*) AS cnt FROM sym s JOIN l1 l ON l.src = s.src GROUP BY 1,2), " +
        "b2 AS (SELECT dst, label FROM (SELECT dst, label, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS r FROM v2) WHERE r = 1), " +
        "l2 AS (SELECT l1.src, COALESCE(b2.label, l1.label) AS label FROM l1 LEFT JOIN b2 ON b2.dst = l1.src), " +
        "v3 AS (SELECT s.dst, l.label, COUNT(*) AS cnt FROM sym s JOIN l2 l ON l.src = s.src GROUP BY 1,2), " +
        "b3 AS (SELECT dst, label FROM (SELECT dst, label, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS r FROM v3) WHERE r = 1), " +
        "l3 AS (SELECT l2.src, COALESCE(b3.label, l2.label) AS label FROM l2 LEFT JOIN b3 ON b3.dst = l2.src) " +
        "SELECT src AS doc_id, label AS community FROM l3 ORDER BY doc_id"),
    // 3 unrolled integer PageRank rounds over the shared-window graph;
    // `//` floor-div == Spark `div` (operands positive throughout)
    "text_pagerank" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), w AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7],' '))) AS ng FROM tokd), df AS (SELECT ng, COUNT(*) AS df FROM w GROUP BY 1), ek AS (SELECT ng FROM df WHERE df BETWEEN 2 AND 80), e0 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM w x JOIN w y USING (ng) JOIN ek USING (ng) WHERE x.doc_id < y.doc_id), sym AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1), p0 AS (SELECT doc_id AS src, CAST(1000000000000 AS BIGINT) AS pr FROM documents), c1 AS (SELECT s.dst, SUM((p.pr * 85) // (100 * d.deg)) AS cin FROM sym s JOIN p0 p ON p.src = s.src JOIN deg d ON d.src = s.src GROUP BY 1), p1 AS (SELECT d.doc_id AS src, 150000000000 + COALESCE(c1.cin, 0) AS pr FROM documents d LEFT JOIN c1 ON c1.dst = d.doc_id), c2 AS (SELECT s.dst, SUM((p.pr * 85) // (100 * d.deg)) AS cin FROM sym s JOIN p1 p ON p.src = s.src JOIN deg d ON d.src = s.src GROUP BY 1), p2 AS (SELECT d.doc_id AS src, 150000000000 + COALESCE(c2.cin, 0) AS pr FROM documents d LEFT JOIN c2 ON c2.dst = d.doc_id), c3 AS (SELECT s.dst, SUM((p.pr * 85) // (100 * d.deg)) AS cin FROM sym s JOIN p2 p ON p.src = s.src JOIN deg d ON d.src = s.src GROUP BY 1), p3 AS (SELECT d.doc_id AS src, 150000000000 + COALESCE(c3.cin, 0) AS pr FROM documents d LEFT JOIN c3 ON c3.dst = d.doc_id) SELECT src AS doc_id, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY doc_id"),
    // rank fully determined by (cnt desc, token); round(,6) is the suite's
    // standard last-ulp tolerance for O(1) float ratios
    "text_zipf_slope" ->
      ("WITH tokv AS (SELECT unnest(string_split(text,' ')) AS token FROM documents), " +
        "c AS (SELECT token, COUNT(*) AS cnt FROM tokv GROUP BY 1), " +
        "r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank FROM c " +
        "ORDER BY cnt DESC, token LIMIT 1000) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_terms, " +
        "round(regr_slope(ln(cnt), ln(rank)), 6) AS slope, " +
        "round(regr_intercept(ln(cnt), ln(rank)), 6) AS intercept, " +
        "round(regr_r2(ln(cnt), ln(rank)), 6) AS r2 FROM r"),
    // gaps in integer microseconds; (o_orderdate, o_orderkey) makes the
    // lag pairing deterministic under equal timestamps
    "tpch_order_gaps" ->
      ("WITH g AS (SELECT o_custkey, epoch_us(o_orderdate) - " +
        "lag(epoch_us(o_orderdate)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS gap_us " +
        "FROM orders) " +
        "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
        "CAST(COUNT(gap_us) AS BIGINT) AS n_gaps, " +
        "CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us, " +
        "CAST(MIN(gap_us) AS BIGINT) AS min_gap_us, " +
        "CAST(MAX(gap_us) AS BIGINT) AS max_gap_us " +
        "FROM g GROUP BY 1 HAVING COUNT(*) >= 4 ORDER BY 1"),
    "tpch_running_totals" ->
      ("SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, " +
        "CAST(round(o_totalprice*100) AS BIGINT) AS price_cents, " +
        "CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "ORDER BY o_custkey, o_orderkey"),
    "tpch_top_orders_per_customer" ->
      ("SELECT c_custkey, rank, o_orderkey, totalprice_cents FROM " +
        "(SELECT o_custkey AS c_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_cents, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rank FROM orders) " +
        "WHERE rank <= 3 ORDER BY c_custkey, rank"),
    "tpch_volume_shipping" ->
      ("SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS BIGINT) AS ship_year, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4, " +
        "CAST(COUNT(*) AS BIGINT) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "WHERE s_nationkey <> c_nationkey AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY 1,2,3 ORDER BY 1,2,3"),
    "tpch_market_share" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, " +
        "CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS nation_e4, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS total_e4, " +
        "CAST(COUNT(*) AS BIGINT) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation rn ON c_nationkey = rn.n_nationkey " +
        "JOIN region ON rn.n_regionkey = r_regionkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "WHERE p_type = 'STANDARD' AND r_name = 'EUROPE' " +
        "AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY 1 ORDER BY 1"),
    "tpch_product_profit" ->
      ("SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS ship_year, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) " +
        " - CAST(l_quantity AS BIGINT) * CAST(round(p_retailprice*100) AS BIGINT) * 100) AS BIGINT) AS profit_e4, " +
        "CAST(COUNT(*) AS BIGINT) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE contains(p_name, 'widget') " +
        "GROUP BY 1,2 ORDER BY 1,2"),
    // threshold-per-group subquery: supplier qty > half the part's total
    "tpch_dominant_suppliers" ->
      ("WITH pq AS (SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS supp_qty " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1,2), " +
        "pt AS (SELECT l_partkey, SUM(supp_qty) AS total_qty FROM pq GROUP BY 1), " +
        "d AS (SELECT pq.l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_parts, CAST(SUM(pq.supp_qty) AS BIGINT) AS dominated_qty " +
        "FROM pq JOIN pt USING (l_partkey) WHERE pq.supp_qty * 2 > pt.total_qty GROUP BY 1) " +
        "SELECT d.l_suppkey AS s_suppkey, s_name, n_name, d.n_parts, d.dominated_qty " +
        "FROM d JOIN supplier ON d.l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey " +
        "ORDER BY 1"),
    // the encode oracle extends the SAME unrolled trainer: s3 is the
    // final segmented vocabulary, per-doc counts join the word stream
    "text_bpe_encode" ->
      (s"WITH ${bpeCtes(3)}, " +
        "vs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_syms FROM s3 GROUP BY 1), " +
        "dt AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents) " +
        "SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(SUM(vs.n_syms) AS BIGINT) AS n_bpe_tokens " +
        "FROM dt JOIN vs USING (w) GROUP BY 1 ORDER BY 1"),
    "text_bpe_train" ->
      (s"WITH ${bpeCtes(3)} " +
        "SELECT CAST(iter AS INTEGER) AS iter, x || ' ' || y AS pair, cnt FROM (" +
        "SELECT 1 AS iter, x, y, cnt FROM tp1 UNION ALL " +
        "SELECT 2, x, y, cnt FROM tp2 UNION ALL " +
        "SELECT 3, x, y, cnt FROM tp3) ORDER BY iter"),
    // float means absorb the engines' double-sum rounding (same argument
    // as the IVF codebook CTEs this reuses), so values match bit-for-bit
    "sim_codebook" ->
      (s"WITH ${ivfCodebookCtesOver("embeddings")} SELECT cent_id, " +
        "CAST(generate_subscripts(c,1)-1 AS INTEGER) AS dim, unnest(c) AS val " +
        "FROM cb2 ORDER BY cent_id, dim"),
    // <= 5 doubles summed in identical frame order; round(,6) absorbs ulp
    "events_rolling" ->
      ("SELECT event_id, user_id, CAST(COUNT(*) OVER w AS BIGINT) AS n_window, " +
        "round(AVG(value) OVER w, 6) AS avg_value, MAX(value) OVER w AS max_value " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) ORDER BY event_id"),
    // the stream state machine must produce the batch window's answer
    "events_rolling_stream" ->
      ("SELECT event_id, user_id, CAST(COUNT(*) OVER w AS BIGINT) AS n_window, " +
        "round(AVG(value) OVER w, 6) AS avg_value, MAX(value) OVER w AS max_value " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) ORDER BY event_id"),
    // interval union of duplicated 8-token windows: same gaps-and-islands
    // (running-max island open, running-sum island id) in both engines
    "dedup_spans" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "wi AS (SELECT doc_id, unnest(range(1, len(t)-6)) AS i, t FROM tokd), " +
        "w AS (SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(t[i:i+7],' ') AS ng FROM wi), " +
        "s AS (SELECT ng FROM w GROUP BY ng HAVING COUNT(DISTINCT doc_id) > 1), " +
        "dup AS (SELECT doc_id, i FROM w JOIN s USING (ng)), " +
        "isl AS (SELECT doc_id, i, CASE WHEN i > COALESCE(MAX(i+7) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000) + 1 THEN 1 ELSE 0 END AS ni FROM dup), " +
        "isl2 AS (SELECT doc_id, i, SUM(ni) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS island FROM isl) " +
        "SELECT doc_id, MIN(i) AS span_start, MAX(i)+7 AS span_end, MAX(i)+7-MIN(i)+1 AS span_tokens " +
        "FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start"),
    // distinct (source, token) relation -> pairwise intersections +
    // vocabulary sizes; Jaccard floors in integer space
    "text_vocab_overlap" ->
      ("WITH st AS (SELECT DISTINCT source, unnest(string_split(text,' ')) AS tok FROM documents), " +
        "sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1), " +
        "pr AS (SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source GROUP BY 1,2) " +
        "SELECT pr.source_a, pr.source_b, pr.n_shared, sa.n AS n_a, sb.n AS n_b, " +
        "CAST(floor(100*pr.n_shared/(sa.n + sb.n - pr.n_shared)) AS BIGINT) AS jaccard_pct " +
        "FROM pr JOIN sz sa ON sa.source = pr.source_a JOIN sz sb ON sb.source = pr.source_b " +
        "ORDER BY 1,2"),
    // window ownership = min doc_id per n-gram text; novelty counted over
    // occurrences (intra-doc repeats of an owned window each count)
    "text_novelty" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "wi AS (SELECT doc_id, unnest(range(1, len(t)-6)) AS i, t FROM tokd), " +
        "w AS (SELECT doc_id, array_to_string(t[i:i+7],' ') AS ng FROM wi), " +
        "ow AS (SELECT ng, MIN(doc_id) AS owner FROM w GROUP BY 1), " +
        "c AS (SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows, " +
        "CAST(SUM(CASE WHEN w.doc_id = ow.owner THEN 1 ELSE 0 END) AS BIGINT) AS n_novel " +
        "FROM w JOIN ow USING (ng) GROUP BY 1) " +
        "SELECT d.doc_id, COALESCE(c.n_windows, 0) AS n_windows, COALESCE(c.n_novel, 0) AS n_novel " +
        "FROM documents d LEFT JOIN c USING (doc_id) ORDER BY 1"),
    // keep-first spans (owner rows never marked) + interval anti-join +
    // ordered reassembly; zero-kept docs fall back to '' via the outer join
    "dedup_clean_spans" ->
      ("WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "wi AS (SELECT doc_id, unnest(range(1, len(t)-6)) AS i, t FROM tokd), " +
        "w AS (SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(t[i:i+7],' ') AS ng FROM wi), " +
        "s AS (SELECT ng, MIN(doc_id) AS owner FROM w GROUP BY ng HAVING COUNT(DISTINCT doc_id) > 1), " +
        "dup AS (SELECT w.doc_id, w.i FROM w JOIN s USING (ng) WHERE w.doc_id <> s.owner), " +
        "isl AS (SELECT doc_id, i, CASE WHEN i > COALESCE(MAX(i+7) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000) + 1 THEN 1 ELSE 0 END AS ni FROM dup), " +
        "isl2 AS (SELECT doc_id, i, SUM(ni) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS island FROM isl), " +
        "sp AS (SELECT doc_id, MIN(i) AS a, MAX(i)+7 AS b FROM isl2 GROUP BY doc_id, island), " +
        "tk AS (SELECT doc_id, CAST(generate_subscripts(t,1) AS BIGINT) AS pos, unnest(t) AS tok FROM tokd), " +
        "kp AS (SELECT tk.* FROM tk WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = tk.doc_id AND tk.pos BETWEEN sp.a AND sp.b)), " +
        "ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text FROM kp GROUP BY 1) " +
        "SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens, " +
        "COALESCE(ag.n_kept, 0) AS n_kept, COALESCE(ag.cleaned_text, '') AS cleaned_text " +
        "FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY 1"),
    // rollup levels marked by the NULLed-out dimensions (never null in the
    // data), not GROUPING() bit order — engine-agnostic
    "tpch_revenue_rollup" ->
      ("SELECT r_name, n_name, " +
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4, " +
        "CAST(COUNT(*) AS BIGINT) AS n_items, " +
        "CAST(CASE WHEN r_name IS NULL THEN 2 WHEN n_name IS NULL THEN 1 ELSE 0 END AS BIGINT) AS lvl " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01' " +
        "GROUP BY ROLLUP(r_name, n_name) ORDER BY lvl, r_name, n_name"),
    // rank fully determined by (count desc, path asc); user-boundary paths
    // never form because the LEAD window partitions by user
    "events_top_paths" ->
      ("WITH seq AS (SELECT user_id, event_type AS s0, " +
        "LEAD(event_type,1) OVER w AS s1, LEAD(event_type,2) OVER w AS s2 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "p AS (SELECT user_id, s0 || '>' || s1 || '>' || s2 AS path FROM seq WHERE s2 IS NOT NULL), " +
        "c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM p GROUP BY 1) " +
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, path) AS BIGINT) AS rank, path, n_occurrences, n_users " +
        "FROM c ORDER BY n_occurrences DESC, path LIMIT 20"),
    // directed containment over the same capped shingle index as the
    // Jaccard oracle; both orientations derive from the one a<b join
    "dedup_containment" ->
      (s"WITH $tokCte, $shCte, $shcCte, $pairCtes, " +
        "dd AS (SELECT doc_id_a AS doc_id, doc_id_b AS in_doc_id, inter FROM i " +
        "UNION ALL SELECT doc_id_b AS doc_id, doc_id_a AS in_doc_id, inter FROM i) " +
        "SELECT dd.doc_id, dd.in_doc_id, dd.inter, s.n, " +
        "CAST(floor(100*dd.inter/s.n) AS BIGINT) AS containment_pct " +
        "FROM dd JOIN sz s USING (doc_id) WHERE floor(100*dd.inter/s.n) >= 80 ORDER BY 1,2"),
    // integer hash-derived weights: both engines read the same md5 hex,
    // so the linear score is bit-identical
    "text_classifier_score" ->
      (s"WITH $tokCte, " +
        "bgf AS (SELECT a.doc_id, a.w || ' ' || b.w AS f FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1), " +
        "feats AS (SELECT doc_id, w AS f FROM tok UNION ALL SELECT doc_id, f FROM bgf), " +
        "wt AS (SELECT doc_id, (ascii(substr(md5(f),1,1))*256 + ascii(substr(md5(f),2,1))) % 1001 - 500 AS w FROM feats) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features, CAST(SUM(w) AS BIGINT) AS score, " +
        "CAST(SUM(w) AS BIGINT) >= 0 AS keep FROM wt GROUP BY 1 ORDER BY 1"),
    // moments stay BIGINT-exact (no float summation anywhere); the columns
    // carry no NULLs, so COUNT(*) == the pairwise-complete count
    "profile_correlation" -> {
      val v = "WITH v AS (SELECT CAST(round(l_quantity) AS BIGINT) AS q, " +
        "CAST(l_linenumber AS BIGINT) AS ln2, " +
        "CAST(round(l_discount*100) AS BIGINT) AS d, " +
        "CAST(round(l_tax*100) AS BIGINT) AS t FROM lineitem) "
      val pairs = Seq(
        ("l_quantity", "q", "l_linenumber", "ln2"),
        ("l_quantity", "q", "l_discount", "d"),
        ("l_quantity", "q", "l_tax", "t"),
        ("l_linenumber", "ln2", "l_discount", "d"),
        ("l_linenumber", "ln2", "l_tax", "t"),
        ("l_discount", "d", "l_tax", "t"))
      v + pairs.map { case (xn, x, yn, y) =>
        s"SELECT '$xn' AS col_x, '$yn' AS col_y, CAST(COUNT(*) AS BIGINT) AS n, " +
          s"CAST(SUM($x) AS BIGINT) AS sum_x, CAST(SUM($y) AS BIGINT) AS sum_y, " +
          s"CAST(SUM($x*$x) AS BIGINT) AS sum_xx, CAST(SUM($y*$y) AS BIGINT) AS sum_yy, " +
          s"CAST(SUM($x*$y) AS BIGINT) AS sum_xy FROM v"
      }.mkString("", " UNION ALL ", " ORDER BY col_x, col_y")
    },
    // same doc_id-ordered token layout as pack_sequences; the double
    // floors are exact (quotients are integers or >= 1/step from one)
    "curate_pps_sample" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t), " +
        "tot AS (SELECT MAX(cum) AS total FROM c), " +
        "s AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS cb, GREATEST(1, CAST(floor(total/100) AS BIGINT)) AS step FROM c, tot), " +
        "p AS (SELECT doc_id, n_tokens, CAST(floor(CAST(cum AS DOUBLE)/step) - floor(CAST(cb AS DOUBLE)/step) AS BIGINT) AS picks FROM s) " +
        "SELECT doc_id, n_tokens, picks FROM p WHERE picks > 0 ORDER BY doc_id"),
    "profile_mutual_info" ->
      ("WITH ct AS (SELECT CAST(l_returnflag AS VARCHAR) AS x, CAST(l_linestatus AS VARCHAR) AS y, COUNT(*) AS n_xy FROM lineitem GROUP BY 1,2), " +
        "m AS (SELECT x, y, n_xy, SUM(n_xy) OVER (PARTITION BY x) AS n_x, SUM(n_xy) OVER (PARTITION BY y) AS n_y, SUM(n_xy) OVER () AS n FROM ct) " +
        "SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells, " +
        "round(SUM(n_xy*(log2(n_xy) + log2(n) - log2(n_x) - log2(n_y)))/MAX(n), 6) AS mi_bits, " +
        "round(log2(MAX(n)) - SUM(n_xy*log2(n_x))/MAX(n), 6) AS h_x, " +
        "round(log2(MAX(n)) - SUM(n_xy*log2(n_y))/MAX(n), 6) AS h_y FROM m"),
    // D's numerator max|cumA*nB - cumB*nA| stays BIGINT end to end
    "profile_ks_drift" ->
      ("WITH vc AS (SELECT CAST(round(value*1000) AS BIGINT) AS v, " +
        "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca, " +
        "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb " +
        "FROM events WHERE event_type IN ('click', 'view') GROUP BY 1), " +
        "c AS (SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma, " +
        "SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb, " +
        "SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM vc) " +
        "SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b, " +
        "CAST(MAX(abs(cuma*nb - cumb*na)) AS BIGINT) AS d_num, " +
        "round(CAST(MAX(abs(cuma*nb - cumb*na)) AS DOUBLE) / (MAX(na)*MAX(nb)), 6) AS d FROM c"),
    // each log2 evaluates on an integer count — identical doubles in any
    // engine; round 6 absorbs the k-term reduction
    "profile_entropy" ->
      ("WITH lr AS (SELECT column_name, value FROM (" +
        "SELECT 'l_returnflag' AS column_name, CAST(l_returnflag AS VARCHAR) AS value FROM lineitem UNION ALL " +
        "SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem UNION ALL " +
        "SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem UNION ALL " +
        "SELECT 'l_quantity', CAST(l_quantity AS VARCHAR) FROM lineitem) WHERE value IS NOT NULL), " +
        "vc AS (SELECT column_name, value, COUNT(*) AS c FROM lr GROUP BY 1,2) " +
        "SELECT column_name, CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_distinct, " +
        "round(log2(SUM(c)) - SUM(c*log2(c))/SUM(c), 6) AS entropy_bits " +
        "FROM vc GROUP BY 1 ORDER BY 1"),
    "text_kn_bigrams" ->
      (s"WITH $tokCte, " +
        "bg AS (SELECT a.w AS w1, b.w AS w2 FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1), " +
        "c AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1,2), " +
        "l AS (SELECT w1, SUM(c) AS cw1, COUNT(*) AS nw1 FROM c GROUP BY 1), " +
        "r AS (SELECT w2, COUNT(*) AS ncw2 FROM c GROUP BY 1), " +
        "t AS (SELECT COUNT(*) AS t FROM c) " +
        "SELECT w1, w2, c, CAST(GREATEST(4*c-3, 0)*t + 3*nw1*ncw2 AS BIGINT) AS num, " +
        "CAST(4*cw1*t AS BIGINT) AS den, " +
        "round(log2(4*cw1*t) - log2(GREATEST(4*c-3, 0)*t + 3*nw1*ncw2), 6) AS bits " +
        "FROM c JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t " +
        "ORDER BY c DESC, w1, w2 LIMIT 100"),
    // both medians are quantile_disc (least value reaching ceil(n/2)),
    // built with the same cumulative construction as the Spark plan
    "profile_robust_z" ->
      ("WITH vc AS (SELECT l_returnflag AS g, CAST(round(l_quantity) AS BIGINT) AS v, COUNT(*) AS c FROM lineitem GROUP BY 1,2), " +
        "m1 AS (SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum, SUM(c) OVER (PARTITION BY g) AS cnt FROM vc), " +
        "med AS (SELECT g, MAX(cnt) AS n_rows, MIN(CASE WHEN cum >= CAST(floor((cnt+1)/2) AS BIGINT) THEN v END) AS median FROM m1 GROUP BY 1), " +
        "dev AS (SELECT vc.g, abs(vc.v - med.median) AS v, SUM(vc.c) AS c FROM vc JOIN med USING (g) GROUP BY 1,2), " +
        "m2 AS (SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum, SUM(c) OVER (PARTITION BY g) AS cnt FROM dev), " +
        "mad AS (SELECT g, MIN(CASE WHEN cum >= CAST(floor((cnt+1)/2) AS BIGINT) THEN v END) AS mad FROM m2 GROUP BY 1), " +
        "o AS (SELECT vc.g, SUM(CASE WHEN abs(vc.v - med.median) > 3*mad.mad THEN vc.c ELSE 0 END) AS n_outliers FROM vc JOIN med USING (g) JOIN mad USING (g) GROUP BY 1) " +
        "SELECT med.g AS l_returnflag, CAST(n_rows AS BIGINT) AS n_rows, CAST(median AS BIGINT) AS median, " +
        "CAST(mad.mad AS BIGINT) AS mad, CAST(n_outliers AS BIGINT) AS n_outliers " +
        "FROM med JOIN mad USING (g) JOIN o USING (g) ORDER BY 1"),
    // dyadic weights 2^(40-k) stay BIGINT; only the display value divides
    "events_decayed_counts" ->
      ("WITH r AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events), " +
        "w AS (SELECT event_type, CASE WHEN k <= 40 THEN CAST(power(2, 40-k) AS BIGINT) ELSE 0 END AS w FROM " +
        "(SELECT event_type, CAST(floor((r.ref_us - epoch_us(ts))/3600000000.0) AS BIGINT) AS k FROM events, r)) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(w) AS BIGINT) AS decayed_scaled, " +
        "round(SUM(w)/power(2, 40), 6) AS decayed FROM w GROUP BY 1 ORDER BY 1"),
    "tpch_revenue_deciles" ->
      ("WITH pc AS (SELECT o_custkey, SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS rev FROM orders GROUP BY 1), " +
        "d AS (SELECT rev, NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile FROM pc) " +
        "SELECT CAST(decile AS BIGINT) AS decile, CAST(COUNT(*) AS BIGINT) AS n_customers, " +
        "CAST(SUM(rev) AS BIGINT) AS total_cents, CAST(MIN(rev) AS BIGINT) AS min_cents, " +
        "CAST(MAX(rev) AS BIGINT) AS max_cents FROM d GROUP BY 1 ORDER BY 1"),
    // midrank Mann-Whitney over the distinct-score histogram; u2 = 2U stays
    // BIGINT (ranks are half-integers), auc = u2/(2 P N) rounded 6
    "text_classifier_auc" ->
      (s"WITH $tokCte, $clsCtes, " +
        "ps AS (SELECT score, COUNT(*) AS n, SUM(pos) AS np FROM lb GROUP BY 1), " +
        "c AS (SELECT n, np, SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM ps) " +
        "SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(n) - SUM(np) AS BIGINT) AS n_neg, " +
        "CAST(SUM(np*(2*(cum-n)+n+1)) - SUM(np)*(SUM(np)+1) AS BIGINT) AS u2, " +
        "round(CAST(SUM(np*(2*(cum-n)+n+1)) - SUM(np)*(SUM(np)+1) AS DOUBLE) / (2.0*SUM(np)*(SUM(n)-SUM(np))), 6) AS auc FROM c"),
    "text_calibration" ->
      (s"WITH $tokCte, $clsCtes " +
        "SELECT CAST(floor(CAST(score AS DOUBLE)/5000) AS BIGINT) AS bin, " +
        "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos, " +
        "round(CAST(SUM(pos) AS DOUBLE)/COUNT(*), 6) AS pos_rate, " +
        "round(CAST(SUM(score) AS DOUBLE)/COUNT(*), 6) AS mean_score " +
        "FROM lb GROUP BY 1 ORDER BY 1"),
    // blocking is exact for distance <= 1, so the all-pairs oracle and the
    // deletion-neighborhood plan agree row-for-row
    "er_name_pairs" ->
      ("SELECT CAST(a.c_custkey AS BIGINT) AS a_c_custkey, a.c_name AS a_c_name, " +
        "CAST(b.c_custkey AS BIGINT) AS b_c_custkey, b.c_name AS b_c_name " +
        "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey " +
        "AND levenshtein(a.c_name, b.c_name) = 1 " +
        "AND length(a.c_name) > 0 AND length(b.c_name) > 0 ORDER BY 1, 3"),
    "events_attribution" ->
      ("WITH p AS (SELECT event_id, ts, user_id, CAST(round(value*100) AS BIGINT) AS vc FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, ts, arg_max(event_type, event_id) AS touch_type FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2), " +
        "a AS (SELECT p.vc, CASE WHEN t.ts IS NOT NULL AND t.ts > p.ts - INTERVAL 1 HOUR THEN t.touch_type ELSE '(none)' END AS attr_type " +
        "FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts >= t.ts) " +
        "SELECT attr_type, CAST(COUNT(*) AS BIGINT) AS n_conversions, " +
        "CAST(SUM(vc) AS BIGINT) AS value_cents FROM a GROUP BY 1 ORDER BY 1"),
    // KMV/theta sketches over per-doc-distinct 3-token shingle hashes
    // (shared md5-prefix hash; the 32 tokens are too few, shingles give
    // a real value space). s2 = the per-source k-min sketch relation.
    "text_kmv_distinct" ->
      (s"WITH $tokCte, $shCte, " +
        "shs AS (SELECT d.source, s.sh FROM sh s JOIN documents d USING (doc_id)), " +
        "h AS (SELECT DISTINCT source, CAST(('0x'||substring(md5(sh),1,8)) AS BIGINT) AS v FROM shs), " +
        "sk AS (SELECT source, v, ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS r FROM h), " +
        "s2 AS (SELECT source, v FROM sk WHERE r <= 64), " +
        "ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM (SELECT DISTINCT source, sh FROM shs) GROUP BY 1), " +
        "agg AS (SELECT source, COUNT(*) AS k_used, MAX(v) AS theta FROM s2 GROUP BY 1) " +
        "SELECT agg.source, CAST(k_used AS BIGINT) AS k_used, CAST(theta AS BIGINT) AS theta, " +
        "round(CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE) ELSE 63*4294967296.0/theta END, 6) AS est_distinct, " +
        "n_exact FROM agg JOIN ex USING (source) ORDER BY source"),
    "text_kmv_overlap" ->
      (s"WITH $tokCte, $shCte, " +
        "shs AS (SELECT d.source, s.sh FROM sh s JOIN documents d USING (doc_id)), " +
        "h AS (SELECT DISTINCT source, CAST(('0x'||substring(md5(sh),1,8)) AS BIGINT) AS v FROM shs), " +
        "sk AS (SELECT source, v, ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS r FROM h), " +
        "s2 AS (SELECT source, v FROM sk WHERE r <= 64), " +
        "srcs AS (SELECT DISTINCT source FROM s2), " +
        "pr AS (SELECT a.source AS sa, b.source AS sb FROM srcs a JOIN srcs b ON a.source < b.source), " +
        "uv AS (SELECT pr.sa, pr.sb, s2.v, MAX(CASE WHEN s2.source = pr.sa THEN 1 ELSE 0 END) AS ina, " +
        "MAX(CASE WHEN s2.source = pr.sb THEN 1 ELSE 0 END) AS inb " +
        "FROM pr JOIN s2 ON s2.source = pr.sa OR s2.source = pr.sb GROUP BY 1,2,3), " +
        "l AS (SELECT sa, sb, v, ina, inb, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY v) AS r FROM uv), " +
        "c AS (SELECT sa, sb, COUNT(*) AS ku, SUM(ina*inb) AS nc, MAX(v) AS theta FROM l WHERE r <= 64 GROUP BY 1,2) " +
        "SELECT sa AS source_a, sb AS source_b, CAST(ku AS BIGINT) AS k_used, CAST(nc AS BIGINT) AS n_common, " +
        "CAST(theta AS BIGINT) AS theta, round(CAST(nc AS DOUBLE)/ku, 6) AS jaccard_est, " +
        "round(CAST(nc AS DOUBLE)/ku * (CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE) ELSE 63*4294967296.0/theta END), 6) AS inter_est " +
        "FROM c ORDER BY 1, 2"),
    // the sharded online k-min merges to exactly the corpus k smallest
    "text_kmv_stream" ->
      (s"WITH $tokCte, $shCte, " +
        "h AS (SELECT DISTINCT CAST(('0x'||substring(md5(sh),1,8)) AS BIGINT) AS v FROM sh) " +
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY v) AS BIGINT) AS rank, v " +
        "FROM (SELECT v FROM h ORDER BY v LIMIT 64) ORDER BY rank"),
    // the streaming execution answers the SAME attribution question
    "events_attribution_stream" ->
      ("WITH p AS (SELECT event_id, ts, user_id, CAST(round(value*100) AS BIGINT) AS vc FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, ts, arg_max(event_type, event_id) AS touch_type FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2), " +
        "a AS (SELECT p.vc, CASE WHEN t.ts IS NOT NULL AND t.ts > p.ts - INTERVAL 1 HOUR THEN t.touch_type ELSE '(none)' END AS attr_type " +
        "FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts >= t.ts) " +
        "SELECT attr_type, CAST(COUNT(*) AS BIGINT) AS n_conversions, " +
        "CAST(SUM(vc) AS BIGINT) AS value_cents FROM a GROUP BY 1 ORDER BY 1"),
    // unordered co-ordered part pairs, support-thresholded
    "tpch_basket_pairs" ->
      ("WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "p AS (SELECT a.l_partkey AS part_a, c.l_partkey AS part_b, COUNT(*) AS s " +
        "FROM b a JOIN b c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey GROUP BY 1, 2) " +
        "SELECT part_a, part_b, CAST(s AS BIGINT) AS support FROM p WHERE s >= 2 ORDER BY 1, 2"),
    // both rule directions per surviving pair; floor-division confidence
    "tpch_basket_rules" ->
      ("WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "p AS (SELECT a.l_partkey AS part_a, c.l_partkey AS part_b, COUNT(*) AS s " +
        "FROM b a JOIN b c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey GROUP BY 1, 2), " +
        "i AS (SELECT l_partkey AS ante, COUNT(DISTINCT l_orderkey) AS ante_support FROM lineitem GROUP BY 1), " +
        "r AS (SELECT part_a AS ante, part_b AS cons, s FROM p WHERE s >= 2 " +
        "UNION ALL SELECT part_b, part_a, s FROM p WHERE s >= 2) " +
        "SELECT r.ante, r.cons, CAST(r.s AS BIGINT) AS support, " +
        "CAST(i.ante_support AS BIGINT) AS ante_support, " +
        "CAST(r.s * 1000000 // i.ante_support AS BIGINT) AS conf_e6 " +
        "FROM r JOIN i USING (ante) ORDER BY 1, 2"),
    // cleared-denominator OLS; HUGEINT intermediates mirror the DECIMAL(25)
    // ones Spark-side, // and div both truncate toward zero
    "profile_linreg" ->
      ("WITH m AS (SELECT l_returnflag, COUNT(*) AS n, " +
        "SUM(CAST(round(l_quantity) AS BIGINT)) AS sum_x, " +
        "SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS sum_y, " +
        "SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_extendedprice*100) AS BIGINT)) AS sum_xy, " +
        "SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS sum_xx " +
        "FROM lineitem GROUP BY 1), " +
        "s AS (SELECT *, CASE WHEN n*sum_xx - sum_x*sum_x <> 0 THEN " +
        "(1000 * (n*sum_xy - sum_x*sum_y)) // (n*sum_xx - sum_x*sum_x) END AS slope_e3 FROM m) " +
        "SELECT l_returnflag, CAST(n AS BIGINT) AS n, CAST(sum_x AS BIGINT) AS sum_x, " +
        "CAST(sum_y AS BIGINT) AS sum_y, CAST(sum_xy AS BIGINT) AS sum_xy, " +
        "CAST(sum_xx AS BIGINT) AS sum_xx, CAST(slope_e3 AS BIGINT) AS slope_e3, " +
        "CAST(CASE WHEN slope_e3 IS NOT NULL THEN (1000*sum_y - slope_e3*sum_x) // n END AS BIGINT) AS intercept_e3 " +
        "FROM s ORDER BY 1"),
    // TZ-free integer hour/day buckets; dev = day count vs per-day average
    "events_seasonal" -> eventsSeasonalOracleSql,
    // the streaming execution answers the SAME seasonal question
    "events_seasonal_stream" -> eventsSeasonalOracleSql,
    // the estimate relation is the per-key count join, never the join itself
    "profile_join_size" ->
      ("WITH ca AS (SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY 1), " +
        "cb AS (SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY 1), " +
        "j AS (SELECT CAST(COALESCE(SUM(ca*cb), 0) AS BIGINT) AS join_rows, " +
        "CAST(COUNT(*) AS BIGINT) AS n_matching_keys, " +
        "CAST(COALESCE(MAX(ca*cb), 0) AS BIGINT) AS max_key_rows FROM ca JOIN cb USING (k)) " +
        "SELECT j.*, CAST((SELECT COUNT(*) FROM ca) AS BIGINT) AS n_keys_a, " +
        "CAST((SELECT COUNT(*) FROM cb) AS BIGINT) AS n_keys_b FROM j"),
    // per-group cumulative share over distinct values, integer-exact
    "profile_group_cdf" ->
      ("WITH h AS (SELECT l_returnflag AS g, CAST(round(l_quantity) AS BIGINT) AS v, COUNT(*) AS c FROM lineitem GROUP BY 1, 2), " +
        "cc AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS n_rows_le, SUM(c) OVER (PARTITION BY g) AS group_n FROM h) " +
        "SELECT g AS l_returnflag, v, CAST(n_rows_le AS BIGINT) AS n_rows_le, " +
        "CAST(group_n AS BIGINT) AS group_n, " +
        "CAST(n_rows_le * 1000000 // group_n AS BIGINT) AS cdf_e6 " +
        "FROM cc ORDER BY 1, 2"),
    // the k audit's companion: diversity of the sensitive value per group
    "profile_l_diversity" ->
      ("WITH b AS (SELECT CAST(c_nationkey AS VARCHAR) AS q_c_nationkey, " +
        "CAST(CAST(round(c_acctbal) AS BIGINT)//2000 AS VARCHAR) AS q_bal_k, " +
        "c_mktsegment FROM customer) " +
        "SELECT q_c_nationkey, q_bal_k, CAST(COUNT(*) AS BIGINT) AS group_size, " +
        "CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_distinct_sensitive " +
        "FROM b GROUP BY 1, 2 HAVING COUNT(DISTINCT c_mktsegment) < 4 ORDER BY 1, 2"),
    // one groupBy IS the audit; quasi values stringify on both sides
    "profile_k_anon" ->
      ("SELECT CAST(c_nationkey AS VARCHAR) AS q_c_nationkey, " +
        "CAST(c_mktsegment AS VARCHAR) AS q_c_mktsegment, " +
        "CAST(COUNT(*) AS BIGINT) AS group_size FROM customer " +
        "GROUP BY 1, 2 HAVING COUNT(*) < 10 ORDER BY 1, 2"),
    // zero-filled hourly spine; per-lag BIGINT moments + cleared numerator
    "events_xcorr" ->
      ("WITH cnt AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket, COUNT(*) AS n " +
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2), " +
        "bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM cnt), " +
        "spine AS (SELECT unnest(generate_series(lo, hi)) AS bucket FROM bounds), " +
        "ser AS (SELECT s.bucket, COALESCE(a.n, 0) AS x, COALESCE(b.n, 0) AS y FROM spine s " +
        "LEFT JOIN (SELECT bucket, n FROM cnt WHERE event_type = 'click') a USING (bucket) " +
        "LEFT JOIN (SELECT bucket, n FROM cnt WHERE event_type = 'purchase') b USING (bucket)), " +
        "lags AS (SELECT unnest([0, 1, 2, 3]) AS lag), " +
        "j AS (SELECT l.lag, s1.x, s2.y AS yl FROM lags l CROSS JOIN ser s1 " +
        "JOIN ser s2 ON s2.bucket = s1.bucket + l.lag) " +
        "SELECT CAST(lag AS BIGINT) AS lag, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(yl) AS BIGINT) AS sum_y, " +
        "CAST(SUM(x*yl) AS BIGINT) AS sum_xy, CAST(SUM(x*x) AS BIGINT) AS sum_xx, " +
        "CAST(SUM(yl*yl) AS BIGINT) AS sum_yy, " +
        "CAST(COUNT(*)*SUM(x*yl) - SUM(x)*SUM(yl) AS BIGINT) AS num " +
        "FROM j GROUP BY 1 ORDER BY 1"),
    // marginals re-aggregate the bigram-count relation; integer lift ranking
    "text_collocations" ->
      (s"WITH $tokCte, " +
        "bg AS (SELECT a.w || ' ' || b.w AS bg FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1), " +
        "cnt AS (SELECT bg, COUNT(*) AS n_xy FROM bg GROUP BY 1), " +
        "tot AS (SELECT SUM(n_xy) AS n_total FROM cnt), " +
        "lft AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(n_xy) AS n_x FROM cnt GROUP BY 1), " +
        "rgt AS (SELECT string_split(bg, ' ')[2] AS w2, SUM(n_xy) AS n_y FROM cnt GROUP BY 1), " +
        "sc AS (SELECT c.bg AS bigram, c.n_xy, l.n_x, r.n_y, " +
        "c.n_xy * t.n_total * 10000 // (l.n_x * r.n_y) AS lift_e4 " +
        "FROM cnt c JOIN lft l ON l.w1 = string_split(c.bg, ' ')[1] " +
        "JOIN rgt r ON r.w2 = string_split(c.bg, ' ')[2] CROSS JOIN tot t WHERE c.n_xy >= 5) " +
        "SELECT bigram, CAST(n_xy AS BIGINT) AS n_xy, CAST(n_x AS BIGINT) AS n_x, " +
        "CAST(n_y AS BIGINT) AS n_y, CAST(lift_e4 AS BIGINT) AS lift_e4 " +
        "FROM sc ORDER BY lift_e4 DESC, bigram LIMIT 50"),
    // textbook NOT EXISTS skyline — the Spark side's staircase pre-prune
    // must return exactly this set, (x, y) twins both kept
    "curate_pareto_docs" ->
      ("WITH xy AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000 // len(string_split(text, ' ')) AS BIGINT) AS uniq_e6 " +
        "FROM documents) " +
        "SELECT a.doc_id, a.n_tokens, a.uniq_e6 FROM xy a WHERE NOT EXISTS (" +
        "SELECT 1 FROM xy b WHERE b.n_tokens >= a.n_tokens AND b.uniq_e6 >= a.uniq_e6 " +
        "AND (b.n_tokens > a.n_tokens OR b.uniq_e6 > a.uniq_e6)) " +
        "ORDER BY a.n_tokens DESC, a.doc_id"),
    // the Spark side runs EXACTLY the same 4 peel rounds — the oracle
    // unrolls them mechanically over the shared window-edge CTEs. Every
    // e_i is AS MATERIALIZED: each level references its predecessor twice
    // (degree count + prune), so inlined CTEs re-evaluate the whole chain
    // exponentially (the un-hinted form never finished at sf0.01)
    "text_kcore" -> {
      val peels = (1 to 4).map { i =>
        s"d$i AS (SELECT v, COUNT(*) AS c FROM (SELECT a AS v FROM e${i - 1} " +
          s"UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1), " +
          s"k$i AS (SELECT v FROM d$i WHERE c >= 2), " +
          s"e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1} WHERE a IN (SELECT v FROM k$i) " +
          s"AND b IN (SELECT v FROM k$i))"
      }.mkString(", ")
      "WITH tokd AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "w AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7],' '))) AS ng FROM tokd), " +
        "df AS (SELECT ng, COUNT(*) AS df FROM w GROUP BY 1), " +
        "ek AS (SELECT ng FROM df WHERE df BETWEEN 2 AND 80), " +
        "e0 AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM w x JOIN w y USING (ng) JOIN ek USING (ng) WHERE x.doc_id < y.doc_id), " +
        peels +
        " SELECT v AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree " +
        "FROM (SELECT a AS v FROM e4 UNION ALL SELECT b FROM e4) GROUP BY 1 ORDER BY 1"
    },
    // per-key counts once; totals and the top-k cut over that relation
    "profile_key_skew" ->
      ("WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n FROM events GROUP BY 1), " +
        "t AS (SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows FROM c), " +
        "tk AS (SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rank FROM c ORDER BY n DESC, key LIMIT 20), " +
        "cu AS (SELECT *, SUM(n) OVER (ORDER BY n DESC, key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n FROM tk) " +
        "SELECT CAST(rank AS BIGINT) AS rank, key, CAST(n AS BIGINT) AS n, " +
        "CAST(n * 1000000 // t.n_rows AS BIGINT) AS share_e6, " +
        "CAST(cum_n * 1000000 // t.n_rows AS BIGINT) AS cum_share_e6, " +
        "CAST(t.n_keys AS BIGINT) AS n_keys, CAST(t.n_rows AS BIGINT) AS n_rows " +
        "FROM cu CROSS JOIN t ORDER BY rank")
  )
}
