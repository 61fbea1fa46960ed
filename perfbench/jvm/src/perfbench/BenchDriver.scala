package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Main
import graft.cind.CindEngine
import graft.rdf.TripleSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, max, sha2}

/** JVM side of the CIND discovery benchmark. One process is one cold run;
  * `run.py` launches these serially and reads the JSON each one writes.
  *
  * {{{
  * perfbench.BenchDriver oracle-sql OUT.json
  * perfbench.BenchDriver discover SPAWN_MS OUT.json -- <graft.Main flags>
  * perfbench.BenchDriver trace SPAWN_MS OUT.json -- <graft.Main flags>
  * }}}
  *
  * `SPAWN_MS` is the epoch millisecond at which the launcher started the
  * JVM, so set-up time covers JVM start as well as session creation.
  */
object BenchDriver {

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-sql" :: out :: Nil => writeOracleSql(out)
    case "discover" :: spawn :: out :: "--" :: flags =>
      withSession(spawn.toLong, flags) { (spark, meter, c, setupS) =>
        write(out, discover(spark, meter, c) ++ Seq("setup_s" -> setupS))
      }
    case "trace" :: spawn :: out :: "--" :: flags =>
      withSession(spawn.toLong, flags) { (spark, meter, c, setupS) =>
        write(out, trace(spark, meter, c) ++ Seq("setup_s" -> setupS))
      }
    case _ =>
      System.err.println("usage: see perfbench/jvm/src/perfbench/BenchDriver.scala")
      sys.exit(2)
  }

  /** The oracle body the output check reuses, plus the triple CTE it opens
    * with, so the checker can swap in the generated triples. */
  private def writeOracleSql(out: String): Unit =
    write(out, Seq("cte" -> TripleSource.DUCKDB_CTE,
      "cind_all" -> graft.SparkEntry.oracleSql("cind_all")))

  /** The session exactly as `graft.Main.main` builds it, plus the meter. */
  private def withSession(spawnMs: Long, flags: List[String])(
      body: (SparkSession, TaskMeter, Main.Config, Double) => Unit): Unit = {
    val c = Main.parseArgs(flags)
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(c.master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new TaskMeter
    spark.sparkContext.addSparkListener(meter)
    val setupS = (System.currentTimeMillis() - spawnMs) / 1e3
    // Nothing is measured after the result file is written. Halting skips
    // the session's orderly stop (seconds per run), and a failure cannot
    // leave the JVM waiting on Spark's threads; the session's scratch space
    // lives in the run directory, which the launcher removes.
    val status =
      try { body(spark, meter, c, setupS); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    Runtime.getRuntime.halt(status)
  }

  /** Untraced cold run: the CLI path, timed from the discovery call to the
    * written output. */
  private def discover(spark: SparkSession, meter: TaskMeter,
      c: Main.Config): Seq[(String, Any)] = {
    val sc = spark.sparkContext
    val s0 = meter.snap(sc)
    val t0 = System.nanoTime()
    Main.run(spark, c)
    val wallS = (System.nanoTime() - t0) / 1e9
    val d = meter.snap(sc) - s0
    val rssMb = peakRssMb()
    Seq("wall_s" -> wallS, "cpu_s" -> d.cpuS, "shuffle_mb" -> d.shuffleMb,
      "spill_mb" -> d.spillMb, "jobs" -> d.jobs, "gc_s" -> d.gcMs / 1e3,
      "idle_s" -> meter.idleMs(s0.atMs, s0.atMs + d.atMs) / 1e3,
      "peak_rss_mb" -> rssMb, "control_s" -> control(spark))
  }

  /** A fixed shuffle-plus-CPU job whose input never changes: its time moves
    * only with the machine. */
  private def control(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 600000L, 1L, spark.sparkContext.defaultParallelism)
      .select((col("id") % 4099).as("k"), sha2(col("id").cast("string"), 256).as("h"))
      .groupBy("k").agg(max("h"), count(lit(1)))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** This JVM's resident-set high-water mark (Linux VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong * 1024 / 1e6
  }

  /** `encloses` names the span whose work this span re-runs first. */
  final case class Span(name: String, parent: String, encloses: String,
      start: Snap, end: Snap) {
    def d: Snap = end - start
    def seconds: Double = d.atMs / 1e3
  }

  /** Layer chain of one count-match discovery, as nested cumulative
    * actions: each layer's span re-runs the layers below it from a cleared
    * cache, so its self time is its span minus the span it encloses. The
    * output write reads the cached CINDs. Off the CLI path, for the
    * layers the other strategies and flags use: minimality, association
    * rules, the Bloom variant of condition pruning and the hybrid evidence
    * step, each after the output so that it cannot disturb it. */
  private def chain(spark: SparkSession, meter: TaskMeter, c: Main.Config,
      output: String, countCaptures: Boolean): (Seq[Span], Map[String, Double]) = {
    require(c.strategy == "count-match" && !c.useArs && !c.useBloom && !c.cleanImplied,
      "the traced chain follows the default count-match CLI path")
    val sc = spark.sparkContext
    val sup = c.support
    val spans = ArrayBuffer.empty[Span]
    val facts = scala.collection.mutable.Map.empty[String, Double]
    def span[A](name: String, parent: String, encloses: String = "")(body: => A): A = {
      val s0 = meter.snap(sc)
      val a = body
      spans += Span(name, parent, encloses, s0, meter.snap(sc))
      a
    }
    def fresh() = { spark.catalog.clearCache(); TripleSource.readTriples(spark, c.inputs) }

    var triples = fresh()
    facts("triples") = span("rdf.parse", "cind.prune") { triples.count() }.toDouble
    triples = fresh()
    facts("kept") = span("cind.prune", "cind.lines", "rdf.parse") {
      CindEngine.prunedCaptureInstances(triples, sup).count()
    }.toDouble
    triples = fresh()
    val hist = span("cind.lines", "cind.evidence", "cind.prune") {
      CindEngine.joinLineHistogram(triples, sup).collect()
    }.map(r => (r.getInt(0).toLong, r.getLong(1)))
    facts("max_width") = if (hist.isEmpty) 0.0 else hist.map(_._1).max.toDouble
    facts("pairs") = hist.map { case (w, n) => n * w * (w - 1) / 2 }.sum.toDouble
    if (countCaptures) facts("captures") = CindEngine.frequentCaptures(
      CindEngine.prunedCaptureInstances(triples, sup), sup).count().toDouble
    triples = fresh()
    val cinds = span("cind.evidence", "run", "cind.lines") {
      CindEngine.allCinds(triples, sup)
    }
    facts("cinds") = cinds.count().toDouble
    import spark.implicits._
    span("main.output", "run") {
      cinds.orderBy("dep_code", "dep_v1", "dep_v2", "ref_code", "ref_v1", "ref_v2")
        .map(Main.formatCind).coalesce(1)
        .write.mode("overwrite").text(output)
    }

    // minimalCinds releases its input's cache: it goes after the output
    facts("minimal") = span("cind.minimal", "off-path") {
      CindEngine.minimalCinds(cinds.toDF()).count()
    }.toDouble
    facts("rules") = span("cind.ars", "off-path") {
      CindEngine.associationRules(triples, sup).count()
    }.toDouble
    triples = fresh()
    span("cind.prune.bloom", "off-path", "rdf.parse") {
      CindEngine.bloomPrunedCaptureInstances(triples, sup).count()
    }
    triples = fresh()
    facts("hybrid_cinds") = span("cind.evidence.hybrid", "off-path", "cind.lines") {
      CindEngine.allCindsHybrid(triples, sup).count()
    }.toDouble
    require(facts("hybrid_cinds") == facts("cinds"), "hybrid and count-match CINDs differ")
    spark.catalog.clearCache()
    (spans.toSeq, facts.toMap)
  }

  /** Traced run: the chain three times on the same input. The first pass
    * only warms up (class loading, code generation, JIT compilation of the
    * hot loops); of the other two, each span keeps its shorter reading, so
    * a layer's self time is not a difference of one cold and one warm
    * span. */
  private def trace(spark: SparkSession, meter: TaskMeter,
      c: Main.Config): Seq[(String, Any)] = {
    val out = c.output.getOrElse(throw new IllegalArgumentException("trace needs --output"))
    val passes = (1 to 3).map(i =>
      chain(spark, meter, c, if (i == 3) out else s"$out.$i", countCaptures = i == 3))
    val kept = passes.tail
    val f = kept.last._2
    val spans = kept.flatMap(_._1).groupBy(_.name).values.map(_.minBy(_.d.atMs)).toSeq
      .sortBy(_.start.atMs)
    val byName = spans.map(s => s.name -> s).toMap
    def self(name: String): Snap = {
      val s = byName(name)
      if (s.encloses.isEmpty) s.d else s.d - byName(s.encloses).d
    }
    def sec(s: Snap) = s.atMs / 1e3
    val cores = spark.sparkContext.defaultParallelism
    // one discovery's worth: the cumulative evidence span and the output
    val onPath = spans.filter(_.parent == "run")
    val ev = self("cind.evidence")
    val metrics = Seq(
      "rdf.parse.self_s" -> sec(self("rdf.parse")),
      "rdf.parse.cpu_s" -> self("rdf.parse").cpuS,
      "rdf.parse.triples" -> f("triples"),
      "cind.prune.self_s" -> sec(self("cind.prune")),
      "cind.prune.cpu_s" -> self("cind.prune").cpuS,
      "cind.prune.shuffle_mb" -> self("cind.prune").shuffleMb,
      // every triple fans out to 3 capture shapes per projected attribute
      "cind.prune.keep_ratio" -> f("kept") / (f("triples") * 3 * c.projections.length),
      "cind.prune.bloom_self_s" -> sec(self("cind.prune.bloom")),
      "cind.lines.self_s" -> sec(self("cind.lines")),
      "cind.lines.cpu_s" -> self("cind.lines").cpuS,
      "cind.lines.shuffle_mb" -> self("cind.lines").shuffleMb,
      "cind.lines.jobs" -> self("cind.lines").jobs.toDouble,
      "cind.lines.captures" -> f("captures"),
      "cind.lines.max_width" -> f("max_width"),
      "cind.lines.pairs" -> f("pairs"),
      "cind.evidence.self_s" -> sec(ev),
      "cind.evidence.cpu_s" -> ev.cpuS,
      // a self time is a difference of two spans; where the layer costs
      // less than the noise of its child's span it can read <= 0
      "cind.evidence.busy_frac" -> (if (ev.atMs > 0) ev.cpuS / (sec(ev) * cores) else 0.0),
      "cind.evidence.shuffle_mb" -> ev.shuffleMb,
      "cind.evidence.spill_mb" -> ev.spillMb,
      "cind.evidence.jobs" -> ev.jobs.toDouble,
      "cind.evidence.yield" -> f("cinds") / math.max(1.0, f("pairs")),
      "cind.evidence.hybrid_self_s" -> sec(self("cind.evidence.hybrid")),
      "cind.evidence.hybrid_cpu_s" -> self("cind.evidence.hybrid").cpuS,
      "cind.ars.self_s" -> sec(self("cind.ars")),
      "cind.ars.rules" -> f("rules"),
      "cind.minimal.self_s" -> sec(self("cind.minimal")),
      "cind.minimal.kept_ratio" -> f("minimal") / math.max(1.0, f("cinds")),
      "main.output.self_s" -> sec(self("main.output")),
      "driver.idle_s" -> onPath.map(s => meter.idleMs(s.start.atMs, s.end.atMs)).sum / 1e3,
      "driver.jobs" -> onPath.map(_.d.jobs).sum.toDouble,
      "jvm.gc_s" -> onPath.map(_.d.gcMs).sum / 1e3)
    val spanRecords = kept.flatMap(_._1).map { s =>
      Seq("name" -> s.name, "parent" -> s.parent, "encloses" -> s.encloses,
        "start_ms" -> s.start.atMs, "end_ms" -> s.end.atMs,
        "cpu_s" -> s.d.cpuS, "shuffle_mb" -> s.d.shuffleMb, "jobs" -> s.d.jobs,
        "kept" -> spans.contains(s).toString)
    }
    Seq("metrics" -> metrics, "spans" -> spanRecords,
      "traced_s" -> onPath.map(_.seconds).sum, "cores" -> cores,
      "peak_rss_mb" -> peakRssMb(), "control_s" -> control(spark))
  }

  private def write(path: String, fields: Seq[(String, Any)]): Unit =
    Files.write(Paths.get(path), json(fields).getBytes(StandardCharsets.UTF_8))

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
        case ch => ch.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      kv.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
