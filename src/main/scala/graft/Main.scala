package graft

import graft.cind.{CindEngine, CindRow}
import graft.core.ConditionCodes
import graft.rdf.{TripleSource, TripleStats}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The runnable program surface (reference programs/RDFind.scala:196-580,
  * 635-721): triple files in, discovered CINDs (and optionally association
  * rules) as text out, with the reference's default pipeline semantics.
  *
  * Flags mirror the reference CLI where the concept carries over:
  *
  * {{{
  * graft.Main [flags] <input paths (.nt/.nq[.gz], globs, dirs)>
  *   --output PATH         write CINDs as text (reference data/Cind.scala:31-34 format)
  *   --ar-output PATH      write association rules as text
  *   --support N           minimum support (default 10)
  *   --strategy S          count-match | intersect | tworound | small-to-large
  *                         | hybrid | auto, accepted for reference-CLI
  *                         compatibility (traversal strategies 0 / 1 / 2-3
  *                         and the hybrid merge). Every value runs
  *                         count-match: on the PairCounts kernel the other
  *                         evidence steps were slower or tied at every
  *                         measured width and scale (BASELINE.md "One
  *                         evidence step")
  *   --merge-window-size N accepted for reference-CLI compatibility
  *                         (BulkMergeDependencies' memory-adaptive merge
  *                         window) and ignored: the PairCounts kernel sorts
  *                         a fixed-size key buffer per map task and merges
  *                         under Spark's external sort, so there is no
  *                         window to size
  *   --use-ars             association-rule pruning (reference --use-ars)
  *   --use-bloom           Bloom-filtered frequent-condition pruning, the
  *                         filter sized by a sampled triple-count estimate
  *                         (reference --use-fis sizing rule; results
  *                         identical). Captures take no flag: the join lines
  *                         always come from one shape, and the shuffle-regime
  *                         encode always probes a frequent-capture filter
  *   --projection ATTRS    which of s/p/o to project (reference --projection,
  *                         default spo)
  *   --clean-implied       minimality pruning (reference --clean-implied)
  *   --debug-counts        print per-stage row counters (reference
  *                         accumulator counters, operators/CountItems.scala)
  *   --distinct-triples    dedup triples first
  *   --asciify-triples     7-bit-fold non-ASCII values
  *   --apply-hash          replace terms by short hashes
  *   --prefixes PATH       @prefix file(s) -> URL shortening (reference --prefixes)
  *   --master M            Spark master (default local[*])
  * }}}
  */
object Main {

  final case class Config(
      inputs: Vector[String] = Vector.empty,
      output: Option[String] = None,
      arOutput: Option[String] = None,
      support: Int = CindEngine.DefaultMinSupport,
      strategy: String = "count-match",
      mergeWindowSize: Option[Int] = None,
      useArs: Boolean = false,
      useBloom: Boolean = false,
      projections: String = "spo",
      cleanImplied: Boolean = false,
      distinctTriples: Boolean = false,
      asciify: Boolean = false,
      applyHash: Boolean = false,
      prefixFiles: Vector[String] = Vector.empty,
      debugCounts: Boolean = false,
      master: String = "local[*]")

  def parseArgs(args: Seq[String]): Config = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "--output" :: v :: t       => loop(t, c.copy(output = Some(v)))
      case "--ar-output" :: v :: t    => loop(t, c.copy(arOutput = Some(v)))
      case "--support" :: v :: t      => loop(t, c.copy(support = v.toInt))
      case "--strategy" :: v :: t     => loop(t, c.copy(strategy = v))
      case "--merge-window-size" :: v :: t =>
        loop(t, c.copy(mergeWindowSize = Some(v.toInt)))
      case "--use-ars" :: t           => loop(t, c.copy(useArs = true))
      case "--use-bloom" :: t         => loop(t, c.copy(useBloom = true))
      case "--projection" :: v :: t   => loop(t, c.copy(projections = v))
      case "--clean-implied" :: t     => loop(t, c.copy(cleanImplied = true))
      case "--distinct-triples" :: t  => loop(t, c.copy(distinctTriples = true))
      case "--asciify-triples" :: t   => loop(t, c.copy(asciify = true))
      case "--apply-hash" :: t        => loop(t, c.copy(applyHash = true))
      case "--prefixes" :: v :: t     => loop(t, c.copy(prefixFiles = c.prefixFiles :+ v))
      case "--debug-counts" :: t      => loop(t, c.copy(debugCounts = true))
      case "--master" :: v :: t       => loop(t, c.copy(master = v))
      case flag :: _ if flag.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown flag $flag")
      case path :: t                  => loop(t, c.copy(inputs = c.inputs :+ path))
    }
    val c = loop(args.toList, Config())
    require(c.inputs.nonEmpty, "at least one input path is required")
    require(Set("count-match", "intersect", "tworound", "small-to-large", "hybrid",
      "auto")(c.strategy), s"unknown strategy ${c.strategy}")
    require(c.projections.nonEmpty && c.projections.forall("spo".contains(_)),
      s"--projection must be a non-empty subset of spo, got ${c.projections}")
    c
  }

  /** Reference CIND text format (data/Cind.scala:31-34):
    * `s[p=a,o=b] < o[p=c] (support=4)`. */
  def formatCind(r: CindRow): String =
    s"${ConditionCodes.prettyPrint(r.dep_code, r.dep_v1, r.dep_v2)} < " +
      s"${ConditionCodes.prettyPrint(r.ref_code, r.ref_v1, r.ref_v2)} " +
      s"(support=${r.support})"

  /** Reference association-rule text format (data/AssociationRule.scala:15-19);
    * discovered rules always have confidence 1.0. */
  def formatRule(anteCode: Int, anteVal: String, consCode: Int, consVal: String,
      support: Long): String =
    s"${ConditionCodes.prettyPrint(anteCode, anteVal)} -> " +
      s"${ConditionCodes.prettyPrint(consCode, consVal)} " +
      s"(support=$support,confidence=100.00%)"

  /** The full input pipeline: read/parse -> prefix shortening -> transforms. */
  def loadTriples(spark: SparkSession, c: Config): DataFrame = {
    var triples = TripleSource.readTriples(spark, c.inputs)
    if (c.prefixFiles.nonEmpty) {
      // prefix table is tiny by nature — collected and trie-compiled once
      val prefixes = TripleSource
        .parseRdfPrefixes(spark.read.textFile(c.prefixFiles: _*))
        .collect().toSeq
        .map { case (pfx, url) => (url, pfx + ":") }
      if (prefixes.nonEmpty) triples = TripleStats.shortenTriples(triples, prefixes)
    }
    if (c.asciify) triples = TripleStats.asciifyTriples(triples)
    if (c.distinctTriples) triples = triples.distinct()
    if (c.applyHash) triples = TripleStats.applyHash(triples)
    triples
  }

  /** Discovery, whatever `--strategy` names (see the CLI doc).
    * `--projection`, `--use-ars` and `--use-bloom` compose freely (the
    * reference composes them the same way, programs/RDFind.scala:639-721):
    * AR rules feed the shared fan-out anti-join + output filter, the Bloom
    * filters are sized from a sampled triple-count estimate (estTriples /
    * minSupport, reference FrequentConditionPlanner.scala:34-38), and the
    * projection restriction narrows the capture fan-out at the source. */
  def discover(triples: DataFrame, c: Config): Dataset[CindRow] = {
    val rules =
      if (c.useArs) Some(CindEngine.associationRules(triples, c.support)) else None
    val expected =
      if (c.useBloom) {
        val est = graft.rdf.TripleSource
          .estimateTripleCount(triples.sparkSession, c.inputs)
        math.max(1000L, est / math.max(1, c.support))
      } else 10000000L
    val cinds = CindEngine.allCinds(triples, c.support,
      bloomConditions = c.useBloom,
      expectedFrequentKeys = expected, projections = c.projections,
      arRules = rules)
    if (c.cleanImplied) {
      import triples.sparkSession.implicits._
      CindEngine.minimalCinds(cinds.toDF()).as[CindRow]
    } else cinds
  }

  /** Per-stage row counters behind `--debug-counts` (reference S9 — the
    * Flink accumulator counters of operators/CountItems.scala:11-33, here
    * first-class Spark counts over the same relations the pipeline uses). */
  def printDebugCounts(triples: DataFrame, c: Config): Unit = {
    println(s"[counts] triples: ${triples.count()}")
    val inst = CindEngine.prunedCaptureInstances(triples, c.support, c.projections)
    println(s"[counts] condition-frequent capture instances: ${inst.count()}")
    println(s"[counts] frequent captures: " +
      s"${CindEngine.frequentCaptures(inst, c.support).count()}")
    if (c.useArs)
      println(s"[counts] association rules: " +
        s"${CindEngine.associationRules(triples, c.support).count()}")
  }

  def run(spark: SparkSession, c: Config): Unit = {
    import spark.implicits._
    val triples = loadTriples(spark, c)
    if (c.debugCounts) printDebugCounts(triples, c)
    val cinds = discover(triples, c)
    c.output match {
      case Some(path) =>
        // single sorted text file, like the reference's parallelism-1 local
        // sink (programs/RDFind.scala:506-521) — output size is CINDs, not data
        cinds.orderBy("dep_code", "dep_v1", "dep_v2", "ref_code", "ref_v1", "ref_v2")
          .map(formatCind).coalesce(1)
          .write.mode("overwrite").text(path)
        println(s"Outputting CINDs to $path.")
      case None =>
        println(s"Discovered ${cinds.count()} CINDs (no --output given).")
    }
    c.arOutput.foreach { path =>
      CindEngine.associationRules(triples, c.support)
        .orderBy("ante_code", "ante_val", "cons_code", "cons_val")
        .map(r => formatRule(r.getInt(0), r.getString(1), r.getInt(2),
          r.getString(3), r.getLong(4)))
        .coalesce(1).write.mode("overwrite").text(path)
      println(s"Outputting association rules to $path.")
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args.toIndexedSeq)
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(c.master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, c) finally spark.stop()
  }
}
