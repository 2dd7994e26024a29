package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.engine.Tables

/** Streaming twin of the batch `evt9_anomaly` gate: per-event-type
  * hourly rate-spike detection with O(1) state per type.
  *
  * The batch gate flags a window against the type's GLOBAL window
  * stats; a live monitor cannot see the future, so the streaming rule
  * is the deployable PREFIX variant: a window that closes is flagged
  * against the stats of the windows closed BEFORE it — the same
  * division-free integer inequality
  *   n·x > S  ∧  (n·x − S)² > 9·(n·Q − S²)
  * with (n, S, Q) the count / sum / sum-of-squares of prior closed
  * windows (flag suppressed while n < 2, variance undefined). State
  * per type is exactly (open window, its count, n, S, Q) — five longs
  * regardless of stream length, the CmsStream bounded-state contract.
  *
  * A window closes when a later-hour event for the type arrives
  * (events are sorted within each micro-batch; cross-batch order is
  * the file-source's event-time order, the staging contract of the
  * `results/r11_streaming/` scale runs). The final open window per
  * type stays in state — the sessionizer's open-session semantics.
  * `CurationSpec`'s streaming test reconciles the emitted flags
  * against a plain-Scala prefix recompute over the same corpus.
  */
object AnomalyStream {

  case class AEvent(event_type: String, ts: Long)
  /** openWin/openCnt: the window being filled; n/s/q: closed-window
    * prefix stats. */
  case class AState(openWin: Long, openCnt: Long, n: Long, s: Long, q: Long)
  case class AOut(event_type: String, win: Long, cnt: Long, is_anomaly: Long)

  private val HourMicros = 3600L * 1000000L

  private def flag(n: Long, s: Long, q: Long, x: Long): Long =
    if (n >= 2 && n * x > s &&
      (n * x - s) * (n * x - s) > 9L * (n * q - s * s)) 1L else 0L

  // PERSISTED state is five longs per type, but the per-CALL cost
  // buffers and sorts this micro-batch's events for the type
  // (events.toSeq.sortBy below) — one hot type in one unthrottled
  // batch concentrates on a single task. In practice the batch size
  // is bounded by the source's maxFilesPerTrigger staging, which is
  // the knob to keep this per-batch, not per-stream.
  def updateWindows(eventType: String, events: Iterator[AEvent],
                    state: GroupState[AState]): Iterator[AOut] = {
    var st = state.getOption.getOrElse(AState(Long.MinValue, 0L, 0L, 0L, 0L))
    val out = scala.collection.mutable.ArrayBuffer[AOut]()
    events.toSeq.sortBy(_.ts).foreach { e =>
      val w = e.ts - java.lang.Math.floorMod(e.ts, HourMicros)
      if (w == st.openWin) st = st.copy(openCnt = st.openCnt + 1)
      else if (w > st.openWin) {
        if (st.openWin != Long.MinValue) {
          out += AOut(eventType, st.openWin, st.openCnt,
            flag(st.n, st.s, st.q, st.openCnt))
          st = AState(w, 1L, st.n + 1, st.s + st.openCnt,
            st.q + st.openCnt * st.openCnt)
        } else st = AState(w, 1L, 0L, 0L, 0L)
      }
      // w < openWin: a cross-batch late event for an already-closed
      // window — dropped, the standard streaming-monitor approximation
      // (within a batch the sort prevents this)
    }
    state.update(st)
    out.iterator
  }

  /** Streaming per-type hourly windows over an events directory. */
  def anomalies(spark: SparkSession, sfDir: String, eventsDir: String,
                maxFilesPerTrigger: Option[Int] = None): Dataset[AOut] = {
    import spark.implicits._
    Tables.readEventsStream(spark, eventsDir,
        maxFilesPerTrigger = maxFilesPerTrigger, fallbackSfDir = Some(sfDir))
      .select(col("event_type"), unix_micros(col("ts")).as("ts"))
      .as[AEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(updateWindows)
  }
}
