package graft.tools
import org.apache.spark.sql.SparkSession
/** Prints `.explain("formatted")` plans of the audited operators (the
  * EXPLAINS.md sections). Usage:
  *   tools/run_main.sh graft.tools.ExplainAudit [section|all] [dataDir]
  * `dataDir` defaults to the sf0.001 fixture. The session runs `local[n]`
  * with n shuffle partitions, n from `SPARK_GRAFT_CPUS` (default 8). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // encode/decode regime selector, as in Soak: 0 forces the CIND
      // shuffle-join encode + partitioned decode-last for plan audits
      .config("spark.graft.cind.dictEncodeMaxBroadcastRows",
        sys.env.getOrElse("SPARK_GRAFT_DICT_MAX_BCAST",
          graft.cind.CindEngine.DefaultDictEncodeMaxBroadcastRows.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val which = if (args.nonEmpty) args(0) else "all"
    val sf = args.lift(1).getOrElse(dir)
    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n======== $name ========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    // executed first so the printed AdaptiveSparkPlan is the FINAL one —
    // join strategies here are AQE's runtime choices (the un-hinted joins
    // show what actually ran, not the pre-runtime sort-merge placeholder)
    def showFinal(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.count()
      println(s"\n======== $name (final adaptive plan, after execution) ========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    if (which == "all" || which == "triples")
      show("rdf_triples (derivation)", graft.rdf.TripleSource.derive(spark, sf))
    if (which == "all" || which == "cind")
      showFinal("cind_all", graft.cind.CindEngine.allCinds(
        graft.rdf.TripleSource.derive(spark, sf)).toDF())
    if (which == "all" || which == "dedup")
      showFinal("dedup_jaccard", graft.dedup.Dedup.jaccardPairs(
        spark.read.parquet(s"$sf/documents.parquet"), 50))
    if (which == "all" || which == "sim")
      show("sim_topk_brute", graft.sim.Similarity.bruteForceTopK(
        spark.read.parquet(s"$sf/embeddings.parquet"),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10))
    if (which == "all" || which == "overlaps")
      show("cind_unary_overlaps", graft.cind.CindEngine.unaryOverlaps(
        graft.rdf.TripleSource.derive(spark, sf)))
    if (which == "all" || which == "minhash")
      show("dedup_minhash_pairs", graft.dedup.Dedup.minhashLshPairs(
        spark.read.parquet(s"$sf/documents.parquet"), 50))
    if (which == "all" || which == "decon") {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val mod = org.apache.spark.sql.functions.col("doc_id") % 20
      // final plan shows the bloom_might_contain Filter BELOW the join
      // Exchange: the train shingle stream is pruned before it shuffles
      showFinal("text_decontaminate", graft.pipeline.Curation.decontaminate(
        d.filter(mod =!= 0), d.filter(mod === 0)))
    }
    if (which == "all" || which == "curate")
      show("curate_docs", graft.pipeline.Curation.curate(
        spark.read.parquet(s"$sf/documents.parquet"), 50))
    if (which == "all" || which == "budget")
      show("text_budget_sample", graft.pipeline.Curation.budgetSample(
        spark.read.parquet(s"$sf/documents.parquet"), 1000L))
    if (which == "all" || which == "profile")
      show("profile_lineitem", graft.stats.Profile.profile(
        spark.read.parquet(s"$sf/lineitem.parquet"),
        Seq("l_orderkey", "l_returnflag")))
    if (which == "all" || which == "asof") {
      val ev = graft.streaming.EventSource.events(spark, sf)
      show("events_asof", graft.streaming.EventStream.asOfJoin(
        ev.filter(org.apache.spark.sql.functions.col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        ev.filter(org.apache.spark.sql.functions.col("event_type") === "view")
          .select("user_id", "ts", "value"),
        "user_id", "ts", Seq("ts", "value")))
    }
    if (which == "all" || which == "funnel")
      show("events_funnel", graft.streaming.EventStream.funnel(
        graft.streaming.EventSource.events(spark, sf),
        Seq("view", "click", "purchase")))
    if (which == "all" || which == "interval") {
      val f = org.apache.spark.sql.functions
      val ev = graft.streaming.EventSource.events(spark, sf)
      // final plan: the time band must be a post-join Filter on a keyed
      // equi-join (never BroadcastNestedLoop), event-type filters pushed
      showFinal("events_interval_join", graft.streaming.EventStream.intervalJoin(
        ev.filter(f.col("event_type") === "click")
          .select(f.col("event_id").as("id"), f.col("user_id").as("key"), f.col("ts")),
        ev.filter(f.col("event_type") === "view")
          .select(f.col("user_id").as("key"), f.col("ts"), f.col("value").as("v")),
        "4 hours"))
    }
    if (which == "all" || which == "ngram")
      // final plan: window hashes generate map-side (Generate over
      // transform/sequence), every Exchange carries 8-byte keys
      showFinal("dedup_ngram_windows", graft.dedup.Dedup.ngramWindowDups(
        spark.read.parquet(s"$sf/documents.parquet"), 8))
    if (which == "all" || which == "hh")
      // the sketch phase runs during construction (single summary row to
      // the driver); the printed plan is the bounded recount: in-set
      // filter BELOW the aggregation, so the tail never reaches it
      showFinal("text_heavy_hitters (recount phase)",
        graft.text.TextAnalysis.heavyHitters(
          spark.read.parquet(s"$sf/documents.parquet"), 0.005))
    if (which == "all" || which == "knn")
      show("sim_knn_classify", graft.sim.Similarity.knnClassify(
        spark.read.parquet(s"$sf/embeddings.parquet"),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10))
    if (which == "all" || which == "paragraphs")
      // final plan: chunks Generate map-side; the election is a partial
      // aggregate (min-struct) BEFORE its Exchange — never a window over
      // the chunk hash — and the join back is AQE's runtime choice
      showFinal("dedup_paragraphs", graft.dedup.Dedup.paragraphDedup(
        spark.read.parquet(s"$sf/documents.parquet"), 20))
    if (which == "all" || which == "tpch")
      // final plan: date filters in PushedFilters, ReadSchema pruned to
      // the touched columns, nation/region broadcast, big joins AQE-chosen
      showFinal("tpch_region_revenue", graft.stats.Analytics.regionRevenue(
        spark.read.parquet(s"$sf/customer.parquet"),
        spark.read.parquet(s"$sf/orders.parquet"),
        spark.read.parquet(s"$sf/lineitem.parquet"),
        spark.read.parquet(s"$sf/supplier.parquet"),
        spark.read.parquet(s"$sf/nation.parquet"),
        spark.read.parquet(s"$sf/region.parquet"),
        "AFRICA", "1996-01-01", "1999-01-01"))
    if (which == "all" || which == "pq")
      // final plan: codes + LUT computed map-side (anchors are literals),
      // the ADC stream feeds an ObjectHashAggregate (bounded top-k, no
      // ranking window over |queries| x n rows), and only the candidate
      // ids rejoin the embeddings for the exact re-rank
      showFinal("sim_topk_pq", graft.sim.Similarity.pqTopK(
        spark.read.parquet(s"$sf/embeddings.parquet"),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10))
    if (which == "all" || which == "transitions")
      // final plan: one Exchange on user_id for the lag window, then the
      // (cell, user) dedup aggregate and the cell count — no Expand
      showFinal("events_transitions", graft.streaming.EventStream.transitions(
        graft.streaming.EventSource.events(spark, sf)))
    if (which == "all" || which == "crosssource")
      // final plan: windows hash to 8-byte keys map-side; a partial
      // distinct aggregate precedes the (source, h) Exchange; pairs
      // explode from per-window source arrays (no row self-join)
      showFinal("dedup_cross_source", graft.dedup.Dedup.crossSourceOverlap(
        spark.read.parquet(s"$sf/documents.parquet"), 7))
    if (which == "all" || which == "spans")
      // final plan: window hashes generate map-side; one Exchange on h for
      // the cross-doc df, a shuffled join back, then the interval union in
      // a doc-partitioned window (never a global one)
      showFinal("dedup_spans", graft.dedup.Dedup.dupSpans(
        spark.read.parquet(s"$sf/documents.parquet"), 8))
    if (which == "all" || which == "rollup")
      // final plan: ONE Expand feeding one hash aggregate (three GROUP BYs
      // would triple-scan the join); dims broadcast; date filter pushed
      showFinal("tpch_revenue_rollup", graft.stats.Analytics.revenueRollup(
        spark.read.parquet(s"$sf/customer.parquet"),
        spark.read.parquet(s"$sf/orders.parquet"),
        spark.read.parquet(s"$sf/lineitem.parquet"),
        spark.read.parquet(s"$sf/nation.parquet"),
        spark.read.parquet(s"$sf/region.parquet"),
        "1996-01-01", "1999-01-01"))
    if (which == "all" || which == "paths")
      // final plan: one Exchange on user_id for the lead window, one on
      // path for the counts, TakeOrderedAndProject for the top-k
      showFinal("events_top_paths", graft.streaming.EventStream.topPaths(
        graft.streaming.EventSource.events(spark, sf), 3, 20))
    if (which == "all" || which == "containment")
      // final plan: one shingle-index self-join (a<b) feeds ONE pair
      // aggregate; both directions derive by a union of projections —
      // no second join; sizes attach un-hinted (AQE broadcast here)
      showFinal("dedup_containment", graft.dedup.Dedup.containmentPairs(
        spark.read.parquet(s"$sf/documents.parquet"), 80))
    if (which == "all" || which == "cleanspans")
      // final plan: keep-first span pass (same shape as dedup_spans),
      // then a 1:1 span-list join and a codegen filter/array_join — the
      // rewrite itself adds NO Exchange beyond the span aggregation
      showFinal("dedup_clean_spans", graft.dedup.Dedup.cleanDupSpans(
        spark.read.parquet(s"$sf/documents.parquet"), 8))
    if (which == "all" || which == "bpeencode")
      // final plan: the vocab-sized trainer lineage caps in a groupBy(w)
      // count; the doc token stream equi-joins it (AQE broadcast) and one
      // doc_id aggregate finishes — corpus pays explode + join only
      showFinal("text_bpe_encode", graft.text.TextAnalysis.bpeEncode(
        spark.read.parquet(s"$sf/documents.parquet"), 3))
    if (which == "all" || which == "stratified")
      // final plan: dimension-sized strata/quota lineage under broadcast
      // exchanges; docs pay ONE per-stratum ranking window + a broadcast
      // quota join
      showFinal("curate_stratified", graft.pipeline.Curation.stratifiedSample(
        spark.read.parquet(s"$sf/documents.parquet"), 200))
    if (which == "all" || which == "outliers")
      // final plan: (type, milli) histogram aggregate, cumulative window
      // over distinct values, tiny threshold relation broadcast back,
      // map-side strictly-above filter
      showFinal("events_outliers", graft.streaming.EventStream.valueOutliers(
        graft.streaming.EventSource.events(spark, sf), 99))
    if (which == "all" || which == "corr")
      // final plan: single-row aggregate with map-side partials; the
      // per-pair rows unpivot via a constant-size Generate — one scan total
      showFinal("profile_correlation", graft.stats.Profile.correlationMoments(
        spark.read.parquet(s"$sf/lineitem.parquet"),
        Seq("l_quantity", "l_linenumber", "l_discount", "l_tax"),
        Map("l_discount" -> 100L, "l_tax" -> 100L)))
    if (which == "all" || which == "bm25")
      // final plan: the tokenized postings LEFT-SEMI the broadcast query
      // terms BEFORE any aggregation; df/dl/totals all derive from the
      // pruned relation; top-k is a WindowGroupLimit, never a full sort
      showFinal("text_bm25", graft.text.TextAnalysis.bm25TopK(
        spark.read.parquet(s"$sf/documents.parquet"),
        Seq(1 -> Seq("dup", "merge"), 2 -> Seq("hash", "join", "table"))))
    if (which == "all" || which == "incremental")
      // final plan: the corpus banded index builds once (persisted);
      // candidates = delta-bands equi-join corpus-bands; verification
      // joins only the candidate ids back to the shingle sets; the best-
      // match election is a hash aggregate (max_by), never a window
      showFinal("dedup_incremental", graft.dedup.Dedup.incrementalDedup(
        spark.read.parquet(s"$sf/documents.parquet"),
        org.apache.spark.sql.functions.col("doc_id") % 5 === 0, 50))
    if (which == "all" || which == "scd")
      // final plan: ONE full-outer sort-merge join between the open slice
      // and the latest-collapsed updates; row fates emit map-side via
      // Generate(explode); closed history unions around the join
      showFinal("tpch_scd_customer (fixture-shaped)", {
        import org.apache.spark.sql.functions._
        val cust = spark.read.parquet(s"$sf/customer.parquet")
          .select(col("c_custkey").as("k"),
            round(col("c_acctbal") * 100).cast("long").as("v"))
        graft.stats.Analytics.scdMerge(
          cust.select(col("k"), col("v"), lit(0L).as("valid_from_us"),
            lit(-1L).as("valid_to_us")),
          cust.filter(col("k") % 7 === 0)
            .select(col("k"), (col("v") + 10000L).as("v"),
              lit(1000000L).as("ts_us")))
      })
    if (which == "all" || which == "zorder")
      // final plan: one broadcast bounds row, pure map-side shift/mask
      // interleave, one hash aggregate on the bucket — a single Exchange
      showFinal("profile_zorder", graft.stats.Profile.zorderExtents(
        spark.read.parquet(s"$sf/lineitem.parquet"), "l_partkey", "l_suppkey"))
    if (which == "all" || which == "zipf")
      // final plan: text-only scan -> explode -> partial/final hash agg
      // across ONE exchange -> TakeOrderedAndProject(k) -> k-row window
      // -> one-row regression aggregate; the vocabulary is never sorted
      showFinal("text_zipf_slope",
        graft.text.TextAnalysis.zipfFit(
          spark.read.parquet(s"$sf/documents.parquet"), 1000))
    if (which == "all" || which == "ordergaps")
      // final plan: the groupBy REUSES the lag window's hashpartitioning
      // on o_custkey — window, gap projection, and both aggregate halves
      // share one codegen stage, no exchange between them; the only later
      // exchange is the caller's ORDER BY
      showFinal("tpch_order_gaps", graft.stats.Analytics.orderGaps(
        spark.read.parquet(s"$sf/orders.parquet"), 4L))
    if (which == "all" || which == "fds")
      // the scale claim to verify: ONE wide exchange, fed by a partial
      // (map-side) HashAggregate over the exploded pair instances —
      // shuffle rows bounded by sum of distinct-pair relations, never
      // p^2 x N; the two verdict aggregates after it are vocab-sized
      showFinal("profile_fds", graft.stats.Profile.functionalDeps(
        spark.read.parquet(s"$sf/orders.parquet"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")))
    if (which == "all" || which == "er")
      // the claim: ShuffledHashJoin on _key (hinted — AQE cannot size the
      // post-Generate relation), kind-pairing + levenshtein as the join
      // residual, NO post-join aggregate
      showFinal("er_name_pairs", graft.dedup.Dedup.editNeighborPairs(
        spark.read.parquet(s"$sf/customer.parquet"), "c_custkey", "c_name"))
    if (which == "all" || which == "auc")
      // the claim: two hash aggregates (doc scores, then score histogram)
      // and a distinct-score-sized window; no document-level sort
      showFinal("text_classifier_auc", graft.text.TextAnalysis.classifierAuc(
        spark.read.parquet(s"$sf/documents.parquet"), "en"))
    if (which == "all" || which == "kmv")
      // the claim: WindowGroupLimit caps per-source rows at k BEFORE the
      // exchange; everything after the sketch build is sketch-sized
      showFinal("text_kmv_overlap", graft.text.TextAnalysis.kmvOverlap(
        spark.read.parquet(s"$sf/documents.parquet"), 64))
    if (which == "all" || which == "robust")
      // the claim: the deviation relation derives from the distinct-value
      // counts (vc is scanned from its persisted form, never the fact
      // table twice); windows run over value cardinality
      showFinal("profile_robust_z", graft.stats.Profile.robustOutliers(
        spark.read.parquet(s"$sf/lineitem.parquet"), "l_returnflag",
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("l_quantity")), 3))
    if (which == "all" || which == "qsketch")
      // the claim: two column-pruned scans (group counts; coin+filter),
      // the survivor relation enters its Exchange already ~cap rows per
      // group (the hash filter is map-side, below the shuffle), and the
      // window runs over the cap-bounded sample — never the fact rows
      showFinal("profile_quantile_sketch", graft.stats.Profile.quantileSketch(
        spark.read.parquet(s"$sf/lineitem.parquet"), "l_returnflag",
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("l_extendedprice") * 100),
        org.apache.spark.sql.functions.col("l_orderkey") * 10 +
          org.apache.spark.sql.functions.col("l_linenumber"),
        Seq(50, 90, 99), 512))
    if (which == "all" || which == "mmdecode")
      // the claim: the codec boundary is ONE mapPartitions (typed decode)
      // directly over the encoded container projection; the checksum walk
      // emits scalar meta rows — no per-blob shuffle, no driver loop
      showFinal("mm_decode_meta", graft.multimodal.Multimodal.decodeMeta(
        graft.multimodal.Multimodal.blobTable(
          spark.read.parquet(s"$sf/documents.parquet"))).toDF())
    if (which == "all" || which == "pagerank")
      // the claim: the edge list materializes ONCE (localCheckpoint scan
      // at the leaves), each unrolled round is one equi-join + one
      // map-side-combinable sum — no window-edge self-join inside rounds
      showFinal("text_pagerank", graft.graph.Graph.contentPageRank(
        spark.read.parquet(s"$sf/documents.parquet"), 8, 80, 3))
    if (which == "all" || which == "pit") {
      // the claim: ONE equi-join exchange on the key; the validity range
      // is a join residual (no BroadcastNestedLoop, no range-join blowup)
      import org.apache.spark.sql.functions._
      val cust = spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100).cast("long").as("v"))
      val dim = graft.stats.Analytics.scdMerge(
        cust.select(col("k"), col("v"), lit(0L).as("valid_from_us"),
          lit(-1L).as("valid_to_us")),
        cust.filter(col("k") % 7 === 0)
          .select(col("k"), (col("v") + 10000L).as("v"), lit(1000000L).as("ts_us")))
      val facts = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey").cast("long").as("fact_id"),
          col("o_custkey").cast("long").as("k"),
          (pmod(col("o_orderkey"), lit(3)).cast("long") * 1000000L + 500000L).as("ts_us"))
      showFinal("tpch_pit_join", graft.stats.Analytics.pitJoin(facts, dim))
    }
    if (which == "all" || which == "gapfill")
      // the claim: the spine generates map-side (Generate over sequence on
      // the types relation x one broadcast bounds row); one per-type
      // window carries the LOCF; the only wide exchange is the bucket agg
      showFinal("events_gap_fill", graft.streaming.EventStream.gapFill(
        graft.streaming.EventSource.events(spark, sf), 300))
    if (which == "all" || which == "zonemap")
      // the claim: one scan, three layout tags per row via Generate, one
      // map-side-combining aggregate to 3 x files zone rows
      showFinal("profile_zonemap_skip", graft.stats.Profile.zoneMapSkipping(
        spark.read.parquet(s"$sf/orders.parquet"), "o_orderkey",
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("o_totalprice") * 100),
        5000000L, 10000000L, 64))
    if (which == "all" || which == "leakage")
      // the claim: the split is a map-side projection; the probe is the
      // decontaminate shape (bloom filter BELOW the shingle join)
      showFinal("curate_leakage_split", graft.pipeline.Curation.leakageSplit(
        spark.read.parquet(s"$sf/documents.parquet"), 10))
    if (which == "all" || which == "attribution")
      // the claim: ONE union-tag window on user_id (the as-of core), the
      // touch pre-reduction reuses that partitioning, one final rollup
      showFinal("events_attribution", graft.streaming.EventStream.attribution(
        graft.streaming.EventSource.events(spark, sf), "purchase", "1 hour"))
    if (which == "all" || which == "fds")
      // the round-11 reshape claim: ONE corpus-scale exchange (the mixed
      // pair+single-arm distinct, int arm ids); the regroup that
      // re-shuffled the distinct relation is gone — what remains after
      // the arms-count cache is a 16-row derivation join
      showFinal("profile_fds (r11 single-distinct shape)",
        graft.stats.Profile.functionalDeps(
          spark.read.parquet(s"$sf/orders.parquet"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")))
    if (which == "all" || which == "charsets")
      // the round-11 bitmask claim: the only corpus-scale exchange
      // carries (subj, long) partial bit_or rows — no distinct(), no
      // collect_set, no pred strings; mask decode sits on the
      // mask-bounded aggregate
      showFinal("rdf_char_sets (r11 bitmask shape)",
        graft.rdf.TripleStats.characteristicSets(
          graft.rdf.TripleSource.derive(spark, sf)))
    if (which == "all" || which == "video") {
      // the claim: decode in one mapPartitions (DeserializeToObject ->
      // MapPartitions -> SerializeFromObject), dhash32 codegen'd ABOVE
      // it; shots = one per-video lag window over the n_frames-bounded
      // hash relation; pairs = banded self-join + aligned verify, no
      // all-pairs join anywhere
      val blobs = graft.multimodal.Video.videoTable(
        spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
      showFinal("mm_video_frame_hashes", graft.multimodal.Video.frameHashes(blobs))
      showFinal("mm_video_shots", graft.multimodal.Video.shotBoundaries(blobs))
      showFinal("mm_video_pairs", graft.multimodal.Video.nearDupVideo(blobs))
    }
    spark.stop()
  }
}
