package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Cumulative scheduler counters at one instant. Differences of two
  * snapshots give a span's figures. */
final case class Snap(atMs: Long, cpuNs: Long, shuffleBytes: Long,
    spillBytes: Long, jobs: Long, gcMs: Long) {
  def -(o: Snap): Snap = Snap(atMs - o.atMs, cpuNs - o.cpuNs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    jobs - o.jobs, gcMs - o.gcMs)
  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = shuffleBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
}

/** The benchmark's one Spark listener: executor CPU, shuffle bytes
  * written, spill, job count and the task intervals the driver-idle figure
  * is computed from. Local mode runs every task in this JVM, so the GC
  * total of this JVM's collectors is the executors' GC too. */
final class TaskMeter extends SparkListener {
  private var cpuNs, shuffleBytes, spillBytes, jobs = 0L
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  /** Counters as of now, after every event already posted is delivered. */
  def snap(sc: SparkContext): Snap = {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    synchronized {
      Snap(System.currentTimeMillis(), cpuNs, shuffleBytes, spillBytes, jobs, gc)
    }
  }

  /** Milliseconds of [from, to) during which no task was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .toArray.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) busy += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) busy += curB - curA
    (to - from) - busy
  }
}
