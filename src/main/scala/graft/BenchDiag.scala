package graft

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query bench diagnostics (r4 verdict item 6): task-metric
  * aggregation (spill, shuffle, task GC) plus JVM-level counters
  * (collector time, JIT code-cache occupancy), so interference between
  * bench entries is diagnosable from the round artifact alone instead
  * of needing a re-run with profiling attached.
  *
  * The listener bus delivers events asynchronously; [[snapshotDelta]]
  * flushes it (via [[org.apache.spark.graft.BusFlush]]) before reading,
  * so deltas attribute to the query that just ran.
  */
final class BenchDiag extends SparkListener {
  // task-metric totals since JVM start (monotonic; readers take deltas)
  private var memSpill = 0L
  private var diskSpill = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var taskGcMs = 0L
  private var peakExecMem = 0L

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) {
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      taskGcMs += m.jvmGCTime
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  /** JVM-wide GC time (ms) across all collectors. */
  private def jvmGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Used bytes across the segmented JIT code-cache pools — if this
    * saturates its max, HotSpot stops compiling and every codegen'd
    * stage runs interpreted (the classic late-suite slowdown). */
  def codeCacheUsed: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed).sum

  def codeCacheMax: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getMax).sum

  case class Snap(memSpill: Long, diskSpill: Long, shuffleWrite: Long,
                  shuffleRead: Long, taskGcMs: Long, jvmGcMs: Long,
                  peakExecMem: Long, codeCache: Long = 0L) {
    /** This snapshot's `bench_diag.json` object, in key order. */
    def toJson: ListMap[String, Long] = ListMap(
      "spill_mem" -> memSpill, "spill_disk" -> diskSpill,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "task_gc_ms" -> taskGcMs, "jvm_gc_ms" -> jvmGcMs,
      "peak_exec_mem" -> peakExecMem, "code_cache" -> codeCache)
  }

  private def snap(): Snap = synchronized {
    Snap(memSpill, diskSpill, shuffleWrite, shuffleRead, taskGcMs,
      jvmGcMs, peakExecMem)
  }

  private var last: Snap = snap()

  /** Flush the listener bus, then return the delta since the previous
    * snapshot (bytes / ms) — structured, so the caller can both
    * serialize it (bench_diag.json) and feed the contention classifier
    * ([[BenchEnv]]) without re-parsing its own output. */
  def snapshotDelta(sc: org.apache.spark.SparkContext): Snap = {
    try org.apache.spark.graft.BusFlush.flush(sc, 2000)
    catch { case _: Throwable => () }
    val s = snap()
    val d = Snap(s.memSpill - last.memSpill, s.diskSpill - last.diskSpill,
      s.shuffleWrite - last.shuffleWrite, s.shuffleRead - last.shuffleRead,
      s.taskGcMs - last.taskGcMs, s.jvmGcMs - last.jvmGcMs, s.peakExecMem,
      codeCacheUsed)
    last = s
    resetPeak()
    d
  }

  private def resetPeak(): Unit = synchronized { peakExecMem = 0L }
}
