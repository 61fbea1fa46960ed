package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated subset for targeted iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // name-sorted: execution order is deterministic across rounds, so
    // per-query numbers stay comparable run-to-run
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // UNMEASURED warmup: the first query of a cold JVM otherwise absorbs
    // ~30s of one-off JIT/codegen/parquet-footer cost (measured: a 9s
    // query reads 44s when it happens to run first) and fakes a
    // regression. Touch each input family + the codegen paths once.
    try {
      SparkEntry.queries("stats_count_triples")(spark, sfDir).count()
      SparkEntry.queries("text_token_stats")(spark, sfDir).count()
      SparkEntry.queries("sim_topk_brute")(spark, sfDir).count()
      SparkEntry.queries("events_props_sum")(spark, sfDir).count()
      // full CIND discovery on the TINY fixture: compiles the discovery
      // codegen (fan-out, dict encode, pair agg, decode) for ~1s of data,
      // so the alphabetically-first heavy queries (cind_all, cind_all_bloom)
      // stop paying a 10-15% first-run JIT tax at the measured sf. The
      // fixture is derived from sfDir's parent (not hardcoded) so the
      // warmup still fires on boxes with a different testdata root; if
      // it's missing, warn LOUDLY rather than silently skipping the warmup
      val tiny = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (tiny.isDirectory)
        SparkEntry.queries("cind_all")(spark, tiny.getPath).count()
      else
        System.err.println(s"[bench] WARN: warmup fixture $tiny missing — " +
          "first heavy query will absorb one-off JIT cost")
    } catch { case _: Throwable => () } // warmup must never fail the bench
    spark.catalog.clearCache()
    // Per-query repetitions, reporting the MIN: a shared box spikes single
    // runs 2-5x at random (observed: different queries each round, none
    // reproducible), so one sample measures scheduler luck, not the query.
    // min-of-n is the standard noise filter; the budget guard keeps total
    // wall bounded if the suite itself slows down.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // 1100s: one full pass is ~415s at 212 queries, so EVERY query gets its
    // second rep (~840s two-pass wall) with headroom — the old 650s guard
    // starved the late-alphabet tail of rep 2 and those single-rep queries
    // produced r9's phantom episode flags (tpch_colocated_join pattern)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "1100").toDouble
    val suiteStart = System.nanoTime()
    def elapsed = (System.nanoTime() - suiteStart) / 1e9
    // Streaming-bimodality instrumentation (VERDICT r10 item 2): per-query
    // stderr diagnostics snapshot the three suspected JVM-accumulation
    // mechanisms — loaded state-store providers, maintenance task state,
    // GC/heap — so a slow stream episode in a full run carries its own
    // evidence. SPARK_GRAFT_DIAG=0 silences; stdout stays driver-clean.
    val diag = sys.env.getOrElse("SPARK_GRAFT_DIAG", "1") == "1"
    // Mitigation under test: between queries no stream is active, so any
    // provider still loaded is pure heap baggage from an earlier stream
    // query (HDFSBackedStateStoreProvider pins its version maps until the
    // 60 s maintenance tick happens to unload it — 22 stream queries x 32
    // partitions x >=1 stateful op can strand hundreds). Unload them
    // eagerly; the next stream query reloads lazily at ~ms cost.
    val unloadBetween = sys.env.getOrElse("SPARK_GRAFT_STATE_UNLOAD", "1") == "1"
    val results = selected.map { case (name, fn) =>
      def once(): (Double, Option[String]) = {
        // isolate queries: drop persisted intermediates of earlier ones
        spark.catalog.clearCache()
        if (unloadBetween) graft.tools.StreamDiag.unloadProviders()
        val gc0 = if (diag) graft.tools.StreamDiag.gcMillis else 0L
        val t0 = System.nanoTime()
        // failures must be LOUD: a swallowed exception would read as a fast
        // bench number instead of a broken query
        val err = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable => Some(e.toString.take(300)) }
        val sec = (System.nanoTime() - t0) / 1e9
        if (diag) System.err.println(graft.tools.StreamDiag.snapshotLine(
          f"q=$name sec=$sec%.2f", s"gcDeltaMs=${graft.tools.StreamDiag.gcMillis - gc0}"))
        (sec, err)
      }
      val first = once()
      // sub-second queries get one EXTRA rep: min-of-n on them is the
      // flakiest (one scheduler hiccup doubles a 0.4s query and reads as a
      // 2x flag) and the extra pass costs ~noise in the suite total
      val nReps = if (first._1 < 1.0) reps + 1 else reps
      val best = (2 to nReps).foldLeft(first) { case (acc, _) =>
        // skip further reps only when THIS query's own expected cost would
        // blow the budget — the old flat `elapsed > budget` check cut off
        // every query after the threshold regardless of how cheap it was
        if (acc._2.isDefined || elapsed + acc._1 > budgetSec) acc
        else { val r = once(); if (r._1 < acc._1) r else acc }
      }
      (name, best._1, best._2)
    }
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    // ms precision: full-precision doubles made the line ~2.7 KB and the
    // driver's bounded stdout-tail capture truncated its head two rounds
    // running ("parsed": null). 3 decimals keeps the whole line inside the
    // tail window; ms resolution is far below run-to-run noise anyway.
    def sec(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"\"${esc(k)}\":\"${esc(e)}\"" }
      .mkString("{", ",", "}")
    results.foreach { case (k, _, e) =>
      e.foreach(m => System.err.println(s"[bench] FAILED $k: $m")) }
    val total = results.map(_._2).sum
    val json = s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(json)
    // ALSO print a SHORT final marker line: the driver records only the
    // last ~2KB of stdout, and the full line above (~25B x n queries)
    // outgrew that window at ~70 queries — its truncated head can't parse
    // ("parsed": null in BENCH_r0{5..8}). The marker is a complete JSON
    // object well under the window, carrying the totals, the 5 slowest
    // queries, error NAMES, and the path of the on-disk full result.
    // default under the untracked build directory: a local run must not
    // rewrite a committed file
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_last.json")
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v, _) => s"\"${esc(k)}\":" + sec(v) }.mkString("{", ",", "}")
    val errNames = results.collect { case (k, _, Some(_)) => s"\"${esc(k)}\"" }
      .take(10).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$slowest,"errors":$errNames,"n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"sf":"$sfDir","full":"$outPath"}""")
    // ALSO write to a file: the driver captures stdout with a bounded tail,
    // and round-5's capture truncated away the four heaviest queries plus
    // the total ("parsed": null). The on-disk copy is the durable record.
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARN: could not write $outPath: $e") }
    spark.stop()
  }
}
