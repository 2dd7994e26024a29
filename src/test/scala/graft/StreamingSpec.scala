package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Structured Streaming spec: the streaming flavor of the windowed
  * aggregate must produce exactly the batch result when drained with
  * an available-now trigger into a memory sink. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    graft.pipeline.CorpusIO.deleteRec(dir.toFile)

  test("streaming windowed agg equals batch windowed agg") {
    val batch = SparkEntry.queries("evt1_window_agg")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // stage the events file into a directory (file sources tail dirs)
    val dir = java.nio.file.Files.createTempDirectory("evt_stream_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.streamingWindowedAgg(spark, sf, dir.toString)
      .writeStream
      .format("memory")
      .queryName("evt_stream_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM evt_stream_test").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming count-min sketch drains to the bit-identical batch sketch") {
    import org.apache.spark.sql.functions._
    // batch ground truth: one-pass sketch over the whole corpus
    val batchRow = graft.pipeline.TextAnalysis.termStream(
        graft.engine.Tables.load(spark, sf, "documents"))
      .select(xxhash64(col("term")).as("k"))
      .agg(expr(s"graft_cms(k, ${graft.pipeline.TextAnalysis.CmsDepth}, " +
        s"${graft.pipeline.TextAnalysis.CmsWidth})").as("cms"),
        count(lit(1)).as("n_total")).head()
    val (batchCms, batchN) = (batchRow.getSeq[Long](0), batchRow.getLong(1))
    // stream the same corpus one file per trigger: 4 micro-batches,
    // each updating the ONE sketch buffer in the state store
    val dir = java.nio.file.Files.createTempDirectory("cms_stream_in")
    try {
      graft.engine.Tables.load(spark, sf, "documents").repartition(4)
        .write.mode("overwrite").parquet(dir.toString)
      val q = graft.streaming.CmsStream.sketchStream(spark, sf, dir.toString)
        .writeStream.format("memory").queryName("cms_stream_test")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
      val got = spark.sql("SELECT * FROM cms_stream_test").head()
      // element-wise-sum merge is associative+commutative, so ANY
      // micro-batch slicing must produce the bit-identical sketch
      assert(got.getLong(1) == batchN, "term count diverged")
      assert(got.getSeq[Long](0) == batchCms, "sketch arrays diverged")
    } finally deleteRecursively(dir)
  }

  test("stateful streaming sessionization matches batch session counts") {
    import graft.streaming.SessionizeStream
    graft.engine.Tables.registerAll(spark, sf)
    // batch truth: total sessions per user via the evt3 window-lag rule
    // (no LIMIT — compare totals)
    val batchTotal = spark.sql(
      """SELECT CAST(count(*) AS BIGINT) FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS ns
        |  FROM events) WHERE ns = 1""".stripMargin)
      .head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("evt_sess_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = SessionizeStream.sessions(spark, sf, dir.toString)
      .writeStream.format("memory").queryName("sess_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = spark.sql(
      "SELECT count(*), sum(n_events) FROM sess_stream_test").head()
    val closedSessions = streamed.getLong(0)
    // a single available-now pass closes all sessions whose gap has
    // passed within the data's time range; the final open session per
    // user stays in state. So: closed + (#users with an open session)
    // == batch total. Open sessions per user <= 1.
    val nUsers = spark.sql(
      "SELECT count(DISTINCT user_id) FROM events").head().getLong(0)
    assert(closedSessions >= batchTotal - nUsers && closedSessions <= batchTotal,
      s"closed=$closedSessions batch=$batchTotal users=$nUsers")
    assert(closedSessions > 0)
  }

  test("streaming anomaly monitor equals a plain-scala prefix recompute") {
    import graft.streaming.AnomalyStream
    val dir = java.nio.file.Files.createTempDirectory("evt_anom_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = AnomalyStream.anomalies(spark, sf, dir.toString)
      .writeStream.format("memory").queryName("anom_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = spark.sql("SELECT * FROM anom_stream_test").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // prefix-rule recompute: windows in event-time order per type;
    // each CLOSED window flagged against stats of the ones before it
    // (the final open window per type stays in state — not emitted)
    val evs = graft.engine.Tables.load(spark, sf, "events")
      .selectExpr("event_type", "unix_micros(ts) AS ts")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val hourUs = 3600L * 1000000L
    val want = evs.groupBy(_._1).toSeq.flatMap { case (t, es) =>
      val wins = es.map(e => e._2 - Math.floorMod(e._2, hourUs))
        .groupBy(identity).toSeq.sortBy(_._1)
        .map { case (w, xs) => (w, xs.length.toLong) }
      var (n, s, qq) = (0L, 0L, 0L)
      wins.dropRight(1).map { case (w, c) =>
        val f = if (n >= 2 && n * c > s &&
          (n * c - s) * (n * c - s) > 9L * (n * qq - s * s)) 1L else 0L
        n += 1; s += c; qq += c * c
        (t, w, c, f)
      }
    }.toSet
    deleteRecursively(dir)
    assert(streamed.nonEmpty && streamed == want)
    assert(streamed.exists(_._4 == 1L), "no window ever flagged — inert monitor")
  }

  test("stateful streaming funnel equals the batch funnel counts") {
    import graft.streaming.FunnelStream
    val batch = SparkEntry.queries("evt4_funnel")(spark, sf).head()
    val dir = java.nio.file.Files.createTempDirectory("evt_funnel_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = FunnelStream.funnel(spark, sf, dir.toString)
      .writeStream.format("memory").queryName("funnel_stream_test")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    // stage is monotone per user — max() is the final stage even if
    // several triggers emitted intermediate rows
    val streamed = spark.sql(
      """SELECT sum(CASE WHEN st >= 1 THEN 1 ELSE 0 END),
        |       sum(CASE WHEN st >= 2 THEN 1 ELSE 0 END),
        |       sum(CASE WHEN st >= 3 THEN 1 ELSE 0 END)
        |FROM (SELECT max(stage) AS st FROM funnel_stream_test
        |      GROUP BY user_id)""".stripMargin).head()
    assert(streamed.getLong(0) == batch.getAs[Long]("reached_view"))
    assert(streamed.getLong(1) == batch.getAs[Long]("reached_click"))
    assert(streamed.getLong(2) == batch.getAs[Long]("reached_purchase"))
    assert(streamed.getLong(2) > 0, "fixture has no full-funnel user")
  }

  test("stream-stream interval join emits exactly the batch pair set") {
    val batch = EventStreams
      .viewClickPairs(graft.engine.Tables.load(spark, sf, "events"))
      .select("c_id", "v_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("evt_join_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.streamingViewClickJoin(spark, sf, dir.toString)
      .writeStream.format("memory").queryName("vc_join_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = spark.sql("SELECT c_id, v_id FROM vc_join_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture has no view->click pair")
    assert(streamed == batch)
  }

  test("left-outer stream-stream join flushes expired unmatched clicks") {
    import org.apache.spark.sql.functions._
    val e = graft.engine.Tables.load(spark, sf, "events")
    // batch truth
    val pairs = EventStreams.viewClickPairs(e)
      .select("c_id", "v_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val matchedClicks = pairs.map(_._1)
    val allClicks = e.filter(col("event_type") === "click")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val unmatchedClicks = allClicks -- matchedClicks
    // stage TWO time-split chunks so the second micro-batch carries a
    // watermark past most of the first chunk's clicks and flushes
    // their unmatched state (one chunk = one batch = watermark never
    // applied to anything)
    val Array(tMin, tMax) = e.agg(min(col("ts")).cast("long"),
      max(col("ts")).cast("long")).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val tSplit = tMin + ((tMax - tMin) * 0.8).toLong
    val dir = java.nio.file.Files.createTempDirectory("evt_louter_in")
    val rawNanos = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sf/events.parquet")
    }
    def stage(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = dir.resolve(s"tmp_$name")
      rawNanos.filter(cond).coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(s"$name.parquet"))
    }
    // tSplit is epoch SECONDS (cast(timestamp as long)); the raw file
    // column is epoch NANOS in the old testdata shape (long under
    // nanosAsLong) or a native timestamp in the current one — pick
    // the comparison that matches what the footer gave us
    val splitCond = rawNanos.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") <= tSplit * 1000000000L
      case _ => col("ts").cast("long") <= tSplit
    }
    stage(splitCond, "batch_0")
    stage(!splitCond, "batch_1")
    dir.resolve("batch_1.parquet").toFile.setLastModified(
      dir.resolve("batch_0.parquet").toFile.lastModified() + 60000)
    val q = EventStreams.streamingViewClickJoin(spark, sf, dir.toString,
      joinType = "leftOuter", maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("vc_louter_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    q.stop()
    val rows = spark.sql("SELECT c_id, v_id FROM vc_louter_test").collect()
    val streamedMatched = rows.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamedNulls = rows.filter(_.isNullAt(1)).map(_.getLong(0))
    // every match emits eagerly, independent of the watermark
    assert(streamedMatched == pairs)
    // flushed rows must be REAL unmatched clicks, each at most once;
    // clicks still inside the final watermark horizon legitimately
    // stay in state, so subset (not equality) is the contract
    assert(streamedNulls.toSet.subsetOf(unmatchedClicks),
      "a flushed click had a matching view")
    assert(streamedNulls.length == streamedNulls.toSet.size,
      "an unmatched click flushed twice")
    assert(streamedNulls.nonEmpty,
      "watermark advance across batches flushed nothing")
  }

  test("a stream can be defined on an EMPTY directory via the canonical-schema fallback") {
    // A file source is routinely created before its first file lands;
    // the footer probe then has nothing to read and readEventsStream
    // must fall back to the canonical table's post-conversion schema
    // (r9 review finding: the shared reader had dropped this).
    val empty = java.nio.file.Files.createTempDirectory("evt_empty_in")
    val df = EventStreams.streamingWindowedAgg(spark, sf, empty.toString)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSet ==
      Set("hour_start", "event_type", "n_events", "total_value"))
    // without the fallback the definition itself must fail loudly
    val err = intercept[Exception] {
      graft.engine.Tables.readEventsStream(spark, empty.toString)
    }
    assert(err.getMessage.contains("no files"), err.getMessage)
  }

  test("empty-dir fallback: files seeded AFTER definition in a drifted ts " +
      "shape fail the first batch loudly — never a silent misread") {
    import org.apache.spark.sql.functions._
    val events = graft.engine.Tables.load(spark, sf, "events")

    // (a) decodable drift: physical TIMESTAMP(MICROS) whose VALUES are
    // nanosecond counts (the misread shape — decodes fine, lands
    // ~50,000 years out). The in-plan guard must raise OUR footer-
    // drift message on the first batch.
    val dirA = java.nio.file.Files.createTempDirectory("evt_drift_us")
    try {
      val streamA = graft.engine.Tables.readEventsStream(
        spark, dirA.toString, fallbackSfDir = Some(sf)) // dir EMPTY here
      events.withColumn("ts", timestamp_micros(expr("unix_micros(ts) * 1000")))
        .coalesce(1).write.mode("append").parquet(dirA.toString)
      val qa = streamA.select(col("event_id"), col("ts"))
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val ea = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qa.awaitTermination(120000)
      }
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(messages(ea).exists(_.contains("footer drift")),
        s"expected the drift message, got: ${messages(ea).mkString(" | ")}")
    } finally deleteRecursively(dirA)

    // (b) undecodable drift: the OLD nanos-as-long physical shape
    // (INT64 column) under the assumed timestamp schema — the parquet
    // reader itself must reject the file at the first batch (schema
    // convert error), not decode garbage.
    val dirB = java.nio.file.Files.createTempDirectory("evt_drift_i64")
    try {
      val streamB = graft.engine.Tables.readEventsStream(
        spark, dirB.toString, fallbackSfDir = Some(sf)) // dir EMPTY here
      events.withColumn("ts", expr("unix_micros(ts) * 1000")) // bigint nanos
        .coalesce(1).write.mode("append").parquet(dirB.toString)
      val qb = streamB.select(col("event_id"), col("ts"))
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qb.awaitTermination(120000)
      }
    } finally deleteRecursively(dirB)
  }

  test("streaming dedup removes exact duplicates within the watermark") {
    // stage TWO copies of the events file: every event is duplicated
    val dir = java.nio.file.Files.createTempDirectory("evt_dedup_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    val q = EventStreams.streamingDedup(spark, sf, dir.toString)
      .writeStream.format("memory").queryName("evt_dedup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    val deduped = spark.sql(
      "SELECT count(*), count(DISTINCT event_id) FROM evt_dedup_test").head()
    val original = graft.engine.Tables.load(spark, sf, "events").count()
    assert(deduped.getLong(0) == original, // 2N in, N out
      s"streamed ${deduped.getLong(0)} vs original $original")
    assert(deduped.getLong(1) == original)
  }

  test("evt8 bot filter: planted bot flagged, no organic user flagged, bot set broadcasts") {
    val out = SparkEntry.queries("evt8_bot_filter")(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    // the bot SET is the bounded side — it must broadcast into the
    // corpus pass, never shuffle the event stream to be classified
    assert(plan.contains("BroadcastHashJoin"),
      s"bot-set join is not broadcast:\n$plan")
    val rows = out.collect()
    // two-sided: exactly ONE bot user (the planted 9_999_999 burst)
    // across all event types — organic traffic peaks at 2
    // events/user/minute, 5x under the threshold
    assert(rows.map(_.getLong(4)).max == 1L,
      s"expected exactly the planted bot user, got ${rows.toSeq}")
    val botEvents = rows.map(_.getLong(2)).sum
    val planted = graft.engine.Tables.load(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.col("event_id") % 83 === 0)
      .count()
    assert(botEvents == planted,
      s"bot events $botEvents != planted clone count $planted")
    // accounting: bot + human = total per type
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), r.toString)
    }
  }

  test("streaming bot filter: cross-batch burst accumulation; drain equals batch bot set") {
    import graft.streaming.{BotFilterStream, EventStreams}
    import graft.streaming.BotFilterStream.{BEvent, BotState}
    // unit: a burst minute SPLIT across micro-batches keeps
    // accumulating (state carries the open minute), and the flag is
    // sticky once set
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val st = TestGroupState.create[BotState](
      optionalState = Optional.empty[BotState](), timeoutConf =
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = Optional.empty[java.lang.Long]()
        .asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    val half1 = BotFilterStream.updateBot(7L,
      Iterator.fill(6)(BEvent(7L, 100L)), st)
    assert(!half1.is_bot, "flagged below threshold")
    // a LATE event between the two halves must not reset the live
    // minute's count (the updateBot guard — without it the burst
    // below would escape the flag)
    val stale = BotFilterStream.updateBot(7L,
      Iterator.single(BEvent(7L, 50L)), st)
    assert(!stale.is_bot, "stale event should not flag")
    val half2 = BotFilterStream.updateBot(7L,
      Iterator.fill(6)(BEvent(7L, 100L)), st)
    assert(half2.is_bot,
      "cross-batch accumulation failed to flag (late-event reset?)")
    val later = BotFilterStream.updateBot(7L,
      Iterator.single(BEvent(7L, 999L)), st)
    assert(later.is_bot, "bot flag is not sticky")

    // E2E: the evt8 corpus (organic + planted burst) staged as two
    // micro-batches; the drained flag set must equal the batch rule's
    val corpus = EventStreams.evt8Corpus(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("evt_bot_in")
    corpus.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.resolve("a").toString)
    corpus.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.parquet(dir.resolve("b").toString)
    val walk = java.nio.file.Files.walk(dir)
    val staged =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p)).toList
      } finally walk.close()
    staged.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.move(p, dir.resolve(s"batch_$i.parquet"))
    }
    // maxFilesPerTrigger is a SOURCE option — passed through bots()
    // so the two staged files genuinely arrive as two micro-batches
    // and the drain exercises the cross-batch state path
    try {
      val q = BotFilterStream.bots(spark, sf, dir.toString,
          maxFilesPerTrigger = Some(1))
        .writeStream.format("memory").queryName("bot_stream_test")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // a drain that exceeds the timeout must fail AS a timeout, not
      // as a confusing set-mismatch on a half-drained table
      val drained = q.awaitTermination(120000)
      q.stop()
      assert(drained, "bot stream did not drain within 120s")
      // the flag is monotone — max per user is the final verdict
      val bots = spark.sql(
        """SELECT user_id FROM (SELECT user_id, max(CAST(is_bot AS INT)) b
          |FROM bot_stream_test GROUP BY user_id) WHERE b = 1""".stripMargin)
        .collect().map(_.getLong(0)).toSet
      assert(bots == Set(9999999L),
        s"streaming bot set $bots != batch planted bot")
    } finally deleteRecursively(dir)
  }

  test("sessionization counts are sane") {
    val rows = SparkEntry.queries("evt3_sessions")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getLong(1) >= 1))
  }

  test("streaming ingest dedup over micro-batches equals the exact ground truth") {
    import graft.pipeline.Dedup
    import graft.streaming.IngestDedupStream
    import org.apache.spark.sql.functions._
    // history = 90% of the corpus; the stream delivers the other 10%
    // split across micro-batches (maxFilesPerTrigger=1 over 2 files)
    val docs = graft.engine.Tables.load(spark, sf, "documents")
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val histSets = Dedup.shingleSetsOf(hist).persist()
    val histBanded = Dedup.bandedSignatures(
      histSets.select(col("doc_id"), explode(col("hs")).as("h")))
    val dir = java.nio.file.Files.createTempDirectory("ingest_stream_in")
    fresh.filter(col("doc_id") % 20 === 0).coalesce(1)
      .write.parquet(dir.resolve("chunk_a").toString)
    fresh.filter(col("doc_id") % 20 =!= 0).coalesce(1)
      .write.parquet(dir.resolve("chunk_b").toString)
    // file source tails one flat dir: move the part files up.
    // Snapshot the walk BEFORE moving (moving into the directory
    // being walked could surface the moved entries again) and close
    // the stream.
    val walk = java.nio.file.Files.walk(dir)
    val staged =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p)).toList
      } finally walk.close()
    staged.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.move(p, dir.resolve(s"batch_$i.parquet"))
    }
    assert(staged.length == 2, s"expected 2 staged files, got $staged")
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    var batches = 0
    val q = IngestDedupStream.run(spark, dir.toString, docs.schema,
      histBanded, histSets,
      pairs => {
        got.synchronized {
          got ++= pairs.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          batches += 1
        }
      })
    try assert(q.awaitTermination(180000), "stream did not drain in time")
    finally q.stop()
    // ground truth: unrestricted exact-jaccard pairs with exactly one
    // side in the stream, oriented (new, hist)
    val allEx = Dedup.shingleSetsOf(docs)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val expected = Dedup.exactPairsGroundTruth(allEx, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b, j) => if (a % 10 == 0) (a, b, j) else (b, a, j) }
      .toSet
    val (gotSet, nBatches) = got.synchronized((got.toSet, batches))
    assert(nBatches == 2, s"expected 2 micro-batches, saw $nBatches")
    assert(expected.nonEmpty, "fixture must contain stream-vs-history pairs")
    assert(gotSet == expected)
    // at-least-once replay: re-probing docs ALREADY in the history
    // index must neither self-match nor duplicate legitimate rows
    val replay = IngestDedupStream
      .probeBatch(hist.filter(col("doc_id") < 250), histBanded, histSets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(replay.forall { case (n, h, _) => n != h }, "self-pairs on replay")
    assert(replay.length == replay.toSet.size, "duplicated rows on replay")
    histSets.unpersist(); histBanded.unpersist()
  }

  test("streaming semantic dedup over micro-batches equals the sdd2 " +
    "batch gate and sdd1's union-corpus drop set") {
    import graft.pipeline.Clustering
    import graft.streaming.SemDedupStream
    import org.apache.spark.sql.functions.col
    val emb = graft.engine.Tables.load(spark, sf, "embeddings")
    // frozen index over the base corpus; the planted copies arrive as
    // the ingest, split across two micro-batches by vec_id parity
    val (centroids, membersRaw) = Clustering.semanticIndex(spark, emb)
    val members = membersRaw.persist()
    val batch = Clustering.ingestBatch(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("sdd2_stream_in")
    batch.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.resolve("chunk_a").toString)
    batch.filter(col("vec_id") % 2 =!= 0).coalesce(1)
      .write.parquet(dir.resolve("chunk_b").toString)
    val walk = java.nio.file.Files.walk(dir)
    val staged =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p)).toList
      } finally walk.close()
    staged.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.move(p, dir.resolve(s"batch_$i.parquet"))
    }
    assert(staged.length == 2, s"expected 2 staged files, got $staged")
    val got = scala.collection.mutable.Set[(Long, Long, Long)]()
    var batches = 0
    val q = SemDedupStream.run(spark, dir.toString, batch.schema,
      centroids, members,
      verdicts => {
        got.synchronized {
          got ++= verdicts.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          batches += 1
        }
      })
    try assert(q.awaitTermination(180000), "stream did not drain in time")
    finally q.stop()
    val (gotSet, nBatches) = got.synchronized((got.toSet, batches))
    assert(nBatches == 2, s"expected 2 micro-batches, saw $nBatches")
    // 1. stream == the sdd2 batch gate, row for row (the micro-batch
    //    split is immaterial on this fixture: every copy's verdict
    //    comes from its PERSISTED source at cosine 1, never from a
    //    batch mate in the other trigger)
    val gateRows = SparkEntry.queries("sdd2_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSet == gateRows)
    // 2. the streamed drop set == batch sdd1's drop set on the union
    //    corpus (sdd1 pins dropped == exactly the planted copies, and
    //    the incremental probe must agree despite clustering the base
    //    corpus instead of the union)
    val sdd1Drops = SparkEntry.queries("sdd1_semantic_dedup")(spark, sf)
      .filter(col("is_dup") === 1L)
      .collect().map(_.getLong(0)).toSet
    val streamDrops = gotSet.filter(_._3 == 1L).map(_._1)
    assert(streamDrops == sdd1Drops)
    assert(streamDrops.nonEmpty && streamDrops.forall(_ >= 100000L))
    members.unpersist()
    deleteRecursively(dir)
  }
}
