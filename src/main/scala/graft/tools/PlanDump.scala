package graft.tools
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named declared queries to files —
  * the r13+ optimization-round evidence trail (plans/rNN/<query>_before/
  * _after.txt). Usage:
  *   tools/run_main.sh graft.tools.PlanDump <outDir> <suffix> q1,q2,...
  * The plan printed is the FINAL adaptive plan (each query is executed
  * once with a count() first), so join strategies and AQE reads reflect
  * what actually ran, not pre-runtime placeholders. Runs at the bench's
  * core count / shuffle-partition config so plans match bench conditions.
  * Plans are written normalised (see [[normalise]]) so that before/after
  * dumps of an unchanged plan diff to empty.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, qlist) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    qlist.split(",").filter(_.nonEmpty).foreach { name =>
      spark.catalog.clearCache()
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.count() // finalize the adaptive plan
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), normalise(txt))
        System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }

  /** Strips what differs between two runs of an unchanged plan:
    * expression ids (`code#123`), exchange plan ids, whole-stage-codegen
    * and adaptive query-stage ids (numbered in materialization order,
    * which parallel broadcasts race), RDD and broadcast-variable ids
    * (session-wide counters, shifted by every earlier query), call-site
    * line numbers, lambda class names and object hash codes, and the
    * numeric suffix of lambda variable names (`lambda x_5#L`: the Scala
    * API's fresh-name counter is JVM-wide, so it counts every lambda an
    * earlier query built; the name before it is kept). */
  def normalise(plan: String): String = Seq(
    "#\\d+" -> "#",
    "(lambda [A-Za-z]\\w*?)_\\d+#" -> "$1_#",
    "plan_id=\\d+" -> "plan_id=",
    "codegen id : \\d+" -> "codegen id : ",
    "(?m)^Arguments: \\d+$" -> "Arguments: ",
    "RDD\\[\\d+\\] at (\\S+) at (\\S+)\\.scala:\\d+" -> "RDD[] at $1 at $2.scala",
    "Broadcast\\(\\d+\\)" -> "Broadcast()",
    "\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$Lambda",
    "@[0-9a-f]{4,}\\b" -> "@")
    .foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }
}
