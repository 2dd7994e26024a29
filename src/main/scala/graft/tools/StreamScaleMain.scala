package graft.tools

import org.apache.spark.sql.functions._

import graft.engine.{GraftSession, Tables}
import graft.pipeline.Dedup
import graft.streaming.{BotFilterStream, FunnelStream, IngestDedupStream,
  SessionizeStream}

/** Scale certification for the streaming twins (r10 verdict #4): the
  * batch gates are certified at sf1 (`results/r9_sf1`, r10 additions),
  * but the streaming twins were only drained at test scale while the
  * 100 TB/day story cites them. This main drives two twins against an
  * arbitrary (possibly ScaleUp-derived) data directory split into N
  * micro-batches and records, per micro-batch, the numbers the scale
  * claim actually rests on:
  *
  *  - `BotFilterStream` (mapGroupsWithState): rows/s per trigger and
  *    the STATE STORE trajectory (rows + bytes). The claim is O(users)
  *    state — rows processed grow 10× from sf0.1 to sf1 while state
  *    rows plateau at the user population and bytes stay flat per
  *    user.
  *  - `IngestDedupStream` (foreachBatch vs a history index): rows/s
  *    per trigger and the pair output. The claim is zero streaming
  *    state (the history index lives outside the state store) and
  *    per-trigger cost bounded by the micro-batch, not the corpus.
  *  - `SessionizeStream` (flatMapGroupsWithState + event-time
  *    timeout): the claim is O(OPEN sessions) state — the watermark
  *    EVICTS closed sessions, so unlike the bot filter the state
  *    rows must stay BELOW the user population while the stream is
  *    mid-history and drop as sessions close, not grow with events.
  *  - `FunnelStream` (mapGroupsWithState, one record per user): the
  *    bot-filter shape — state rows plateau at the user population
  *    with flat bytes per user.
  *
  * Usage: runMain graft.tools.StreamScaleMain <dataDir> <outFile>
  *          [nBatches]
  * Writes one JSON object with a section per twin; commit the output
  * under `results/r11_streaming/` next to SCALE.md §Streaming.
  */
object StreamScaleMain {
  /** Locale-fixed decimal rendering: the output is committed
    * machine-readable JSON, and the default-locale `f` interpolator
    * renders `12,34` under e.g. de_DE — malformed JSON. */
  private def num2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StreamScaleMain <dataDir> <outFile> [nBatches]")
    val dataDir = args(0)
    val outFile = args(1)
    val nBatches = if (args.length > 2) args(2).toInt else 10
    // keep every micro-batch's progress object (default cap is 100)
    val spark = GraftSession.create(
      _.config("spark.sql.streaming.numRecentProgressUpdates", (nBatches + 16).toString))

    val sb = new StringBuilder
    sb ++= s"""{"data_dir":"$dataDir","n_batches":$nBatches"""

    // Shared drain-and-record harness for every noop-sink twin
    // (the ingest twin stays hand-rolled: foreachBatch with a pair
    // counter and history-index fields the progress API can't see).
    // `extraBatchFields` appends twin-specific per-batch metrics.
    def drainAndRecord(label: String,
                       start: () => org.apache.spark.sql.streaming.StreamingQuery,
                       extraBatchFields:
                         org.apache.spark.sql.streaming.StreamingQueryProgress
                           => String = _ => ""): Unit = {
      val t0 = System.nanoTime()
      val q = start()
      val drained = q.awaitTermination(1800000)
      val wallSec = (System.nanoTime() - t0) / 1e9
      require(drained, s"$label stream did not drain in 30min")
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      q.stop()
      val batches = prog.map { p =>
        val so = p.stateOperators.headOption
        val dur = p.durationMs.getOrDefault("triggerExecution", 0L).toLong
        s"""{"rows":${p.numInputRows},"trigger_ms":$dur,""" +
          s""""rows_per_sec":${if (dur > 0) p.numInputRows * 1000 / dur else 0},""" +
          s""""state_rows":${so.map(_.numRowsTotal).getOrElse(-1L)},""" +
          s""""state_bytes":${so.map(_.memoryUsedBytes).getOrElse(-1L)},""" +
          s""""late_dropped":${so.map(_.numRowsDroppedByWatermark).getOrElse(-1L)}""" +
          extraBatchFields(p) + "}"
      }
      val totalRows = prog.map(_.numInputRows).sum
      val totalDropped = prog
        .flatMap(_.stateOperators.headOption.map(_.numRowsDroppedByWatermark))
        .sum
      sb ++= s""","$label":{"total_rows":$totalRows,""" +
        s""""late_dropped_total":$totalDropped,""" +
        s""""wall_sec":${num2(wallSec)},""" +
        s""""rows_per_sec_overall":${(totalRows / wallSec).toLong},""" +
        s""""batches":[${batches.mkString(",")}]}"""
    }

    // ---- BotFilterStream: stateful twin ----
    {
      val stage = java.nio.file.Files.createTempDirectory("scale_bot_in")
      try {
        // repartition → nBatches part files; maxFilesPerTrigger=1
        // turns each into one micro-batch
        Tables.load(spark, dataDir, "events")
          .repartition(nBatches)
          .write.mode("overwrite").parquet(stage.toString)
        drainAndRecord("bot_filter", () =>
          BotFilterStream.bots(spark, dataDir, stage.toString,
              maxFilesPerTrigger = Some(1))
            .writeStream.format("noop")
            .outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(),
          extraBatchFields = p => p.stateOperators.headOption
            .map(so => s""","state_rows_updated":${so.numRowsUpdated}""")
            .getOrElse(""))
      } finally deleteRec(stage)
    }

    // ---- IngestDedupStream: stateless-probe twin ----
    {
      val docs = Tables.load(spark, dataDir, "documents")
      // mirror the spec/dd7 shape: history = 90%, stream = 10%
      val hist = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      val histSets = Dedup.shingleSetsOf(hist).persist()
      val histBanded = Dedup.bandedSignatures(
        histSets.select(col("doc_id"), explode(col("hs")).as("h")))
        .persist()
      val histDocs = hist.count() // also materializes both indexes
      histBanded.count()
      val stage = java.nio.file.Files.createTempDirectory("scale_ingest_in")
      try {
        val streamBatches = math.max(2, nBatches / 2)
        fresh.repartition(streamBatches)
          .write.mode("overwrite").parquet(stage.toString)
        val pairCounts = new java.util.concurrent.atomic.AtomicLong
        val t0 = System.nanoTime()
        val q = IngestDedupStream.run(spark, stage.toString, docs.schema,
          histBanded, histSets,
          pairs => { pairCounts.addAndGet(pairs.count()); () },
          maxFilesPerTrigger = 1)
        val drained = q.awaitTermination(1800000)
        val wallSec = (System.nanoTime() - t0) / 1e9
        require(drained, "ingest stream did not drain in 30min")
        val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        q.stop()
        val batches = prog.map { p =>
          val dur = p.durationMs.getOrDefault("triggerExecution", 0L).toLong
          s"""{"rows":${p.numInputRows},"trigger_ms":$dur,""" +
            s""""rows_per_sec":${if (dur > 0) p.numInputRows * 1000 / dur else 0},""" +
            s""""state_operators":${p.stateOperators.length}}"""
        }
        val totalRows = prog.map(_.numInputRows).sum
        sb ++= s""","ingest_dedup":{"history_docs":$histDocs,""" +
          s""""stream_docs":$totalRows,"pairs":${pairCounts.get},""" +
          s""""wall_sec":${num2(wallSec)},""" +
          s""""docs_per_sec_overall":${(totalRows / wallSec).toLong},""" +
          s""""batches":[${batches.mkString(",")}]}"""
      } finally {
        histSets.unpersist(); histBanded.unpersist(); deleteRec(stage)
      }
    }

    // ---- Sessionize + Funnel: the other two stateful twins ----
    {
      val stage = java.nio.file.Files.createTempDirectory("scale_sess_in")
      try {
        // Stage micro-batches in EVENT-TIME ORDER (range-partitioned on
        // ts, files listed and consumed in range order by AvailableNow):
        // a round-robin split would let batch 1 race the 1-hour
        // watermark to global-max and LATE-DROP nearly every event of
        // batches 2..N before the stateful operator — certifying a
        // degenerate stream. Time-ordered arrival is also the honest
        // simulation: a real firehose delivers time in order, which is
        // exactly what makes watermark eviction (the property under
        // test) work.
        Tables.load(spark, dataDir, "events")
          .repartitionByRange(nBatches, col("ts"))
          .sortWithinPartitions(col("ts"))
          .write.mode("overwrite").parquet(stage.toString)
        // FileStreamSource orders by file MODIFICATION TIME, and the
        // parallel write stamps every part file with the same second —
        // force distinct ascending mtimes in range (= name) order so
        // the triggers actually consume time in order. The base is
        // derived from the file count so the last stamp always stays
        // in the past (a fixed -3600s base would push stamps past
        // "now" once nFiles > 3600, re-mixing them with unrelated
        // activity), and a failed setLastModified aborts the run —
        // silently keeping the writer's identical mtimes would
        // re-introduce exactly the watermark late-drop degeneracy
        // this staging exists to rule out.
        val stageFiles = new java.io.File(stage.toString).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val mtimeBase =
          System.currentTimeMillis() / 1000 - stageFiles.length - 60
        stageFiles.zipWithIndex.foreach { case (f, i) =>
          require(f.setLastModified((mtimeBase + i) * 1000),
            s"setLastModified failed for $f — cannot certify " +
              "event-time-ordered consumption on this filesystem")
        }

        drainAndRecord("sessionize", () =>
          SessionizeStream.sessions(spark, dataDir, stage.toString,
              maxFilesPerTrigger = Some(1))
            .writeStream.format("noop").outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        drainAndRecord("funnel", () =>
          FunnelStream.funnel(spark, dataDir, stage.toString,
              maxFilesPerTrigger = Some(1))
            .writeStream.format("noop").outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        // AnomalyStream (r13): same time-ordered staging contract —
        // the prefix-stats monitor closes a window when a later-hour
        // event arrives, so out-of-order batches would silently drop
        // whole windows; certified claims are throughput and that
        // state stays at ONE row per event type (five longs each)
        // regardless of volume.
        drainAndRecord("anomaly", () =>
          graft.streaming.AnomalyStream.anomalies(spark, dataDir,
              stage.toString, maxFilesPerTrigger = Some(1))
            .writeStream.format("noop").outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
      } finally deleteRec(stage)
    }

    // ---- CmsStream: the sketch twin ----
    // No mtime/event-time staging needed: the sketch's element-wise-
    // sum merge is associative + commutative, so ANY micro-batch
    // order yields the identical final state — the certified claims
    // here are throughput and that state stays ONE buffer (a single
    // state row, constant bytes) as volume grows.
    {
      val stage = java.nio.file.Files.createTempDirectory("scale_cms_in")
      try {
        Tables.load(spark, dataDir, "documents")
          .repartition(nBatches)
          .write.mode("overwrite").parquet(stage.toString)
        drainAndRecord("cms_sketch", () =>
          graft.streaming.CmsStream.sketchStream(spark, dataDir,
              stage.toString)
            .writeStream.format("noop").outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
      } finally deleteRec(stage)
    }

    sb ++= "}"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outFile).toAbsolutePath.getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      sb.toString + "\n")
    println(sb.toString)
    spark.stop()
  }

  private def deleteRec(dir: java.nio.file.Path): Unit =
    graft.pipeline.CorpusIO.deleteRec(dir.toFile)
}
