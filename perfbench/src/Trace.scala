package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** What Spark's listener reported between two [[Tracer.take]] calls. */
final case class Window(jobs: Long, stages: Long, tasks: Long,
                        runMs: Long, cpuMs: Double, taskGcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long,
                        fetchWaitMs: Long, spill: Long,
                        stageIntervals: Seq[(Long, Long)],
                        jobIntervals: Seq[(Long, Long)])

/** Per-execution collector on Spark's public `SparkListener` hook. It
  * only accumulates; [[take]] drains the listener bus first so the tail
  * tasks of one execution never land in the next one's window. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks, runMs, cpuNs, taskGcMs = 0L
  private var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  private val intervals, jobIntervals = ArrayBuffer[(Long, Long)]()
  private val jobStarts = scala.collection.mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) intervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      taskGcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def take(): Window = {
    org.apache.spark.graft.BusFlush.flush(sc, 5000)
    synchronized {
      val w = Window(jobs, stages, tasks, runMs, cpuNs / 1e6, taskGcMs,
        shuffleWrite, shuffleRead, fetchWaitMs, spill, intervals.toList, jobIntervals.toList)
      jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; taskGcMs = 0
      shuffleWrite = 0; shuffleRead = 0; fetchWaitMs = 0; spill = 0
      intervals.clear(); jobIntervals.clear()
      w
    }
  }
}

/** JVM-wide counters read around each execution. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Codegen compile nanoseconds and compile count since JVM start. */
  def codegen: (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Live heap after a full collection, in MiB. Collections repeat,
    * with pauses in which Spark's ContextCleaner can drop the broadcast
    * and shuffle state the previous one made unreachable, until the
    * heap stops shrinking. */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = prev
    var rounds = 0
    while ({ Thread.sleep(150); cur = collect(); rounds += 1; prev - cur > 1.0 && rounds < 8 })
      prev = cur
    cur
  }
}
