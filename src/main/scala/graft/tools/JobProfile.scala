package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Job-level timeline of one declared query: per-job wall, the GAPS between
  * jobs (driver-side planning / collects-in-flight / broadcast builds show
  * up there), and the heaviest stages (wall, shuffle read/write, tasks).
  * Stages only account for executor time; at small scale the driver-side
  * slices between jobs are where fixed per-query cost hides. Usage:
  *   tools/run_main.sh graft.tools.JobProfile <query> [sfDir] [reps]
  * The profiled rep is the LAST one (warm JIT / warm pages); earlier reps
  * print totals only. Env: SPARK_GRAFT_CPUS (default 32).
  */
object JobProfile {
  private case class Job(id: Int, t0: Long, var t1: Long = 0L,
      var desc: String = "", var site: String = "")

  def main(args: Array[String]): Unit = {
    val query = if (args.nonEmpty) args(0) else "cind_all"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long, Long, Int)]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (record) {
        val j = Job(js.jobId, js.time)
        j.desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        j.site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.put(js.jobId, j)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (record) {
        val j = jobs.get(je.jobId); if (j != null) j.t1 = je.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (record) {
        val si = sc.stageInfo; val m = si.taskMetrics
        stages.add((si.stageId, si.name.split("\n").head.take(70),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          si.numTasks))
      }
    })

    val fn = graft.SparkEntry.queries(query)
    for (r <- 1 to reps) {
      spark.catalog.clearCache()
      StreamDiag.unloadProviders()
      if (r == reps) record = true
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"rep $r: $wall%.2f s")
    }
    record = false
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.toSeq.filter(_.t1 > 0).sortBy(_.t0)
    if (js.nonEmpty) {
      val base = js.head.t0
      println(f"%njobs (t=offset ms, dur ms, gap-before ms):")
      var prevEnd = base
      var totalGap = 0L
      js.foreach { j =>
        val gap = math.max(0L, j.t0 - prevEnd)
        totalGap += gap
        println(f"  job ${j.id}%3d t=${j.t0 - base}%6d dur=${j.t1 - j.t0}%6d gap=$gap%6d  ${j.site.take(44)}%-44s ${j.desc.take(40)}")
        prevEnd = math.max(prevEnd, j.t1)
      }
      val span = js.map(_.t1).max - base
      println(f"  ${js.size} jobs, span=${span} ms, sum(gaps)=${totalGap} ms")
    }
    println(f"%nheaviest stages (last rep):")
    println(f"${"stage"}%6s ${"ms"}%8s ${"shufR MB"}%9s ${"shufW MB"}%9s ${"tasks"}%6s  name")
    stages.asScala.toSeq.sortBy(-_._3).take(20).foreach { case (id, name, ms, sr, sw, nt) =>
      println(f"$id%6d $ms%8d ${sr / 1e6}%9.1f ${sw / 1e6}%9.1f $nt%6d  $name")
    }
    spark.stop()
  }
}
