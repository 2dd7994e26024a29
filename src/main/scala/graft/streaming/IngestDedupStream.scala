package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.CheckpointBlocks
import graft.pipeline.Dedup

/** Streaming ingest dedup — the streaming twin of dd7's incremental
  * batch dedup: a document stream is near-dup-checked against the
  * HISTORICAL corpus as it arrives.
  *
  * Shape: `foreachBatch`. Stream orchestration stays in Structured
  * Streaming; the per-trigger work is the same deterministic batch
  * operators dd7 uses, probing a history index (banded MinHash
  * signatures + shingle sets) that is built ONCE outside the stream —
  * in production, loaded from the persisted index artifact — so each
  * trigger costs a micro-batch-sized probe, never a corpus pass. This
  * is the standard production pattern for stateful-against-history
  * logic that Structured Streaming's stateless stream-static joins
  * can't express alone (the post-join distinct + threshold filter
  * would need arbitrary stateful aggregation on the stream side).
  *
  * State story at 100 TB/day: the only state is the history index,
  * which lives OUTSIDE the streaming state store (a bucketed table /
  * parquet artifact, appended per batch out-of-band); the stream
  * itself carries zero watermark state because every trigger is a
  * self-contained probe.
  */
object IngestDedupStream {

  /** One micro-batch probe: near-dup pairs (new_id, hist_id, jaccard)
    * between the batch's documents (doc_id, text, ...) and the
    * history index, exact-verified at `tau` — candidate generation is
    * the banded equi-join, verification the merge-count over sorted
    * shingle sets, both shared with dd3/dd7 so stream and batch can
    * never diverge on semantics.
    *
    * Per-trigger cost discipline: the batch's shingle sets and the
    * candidate-touched slice of the history sets are materialized
    * once via eager `localCheckpoint` (both micro-batch-bounded;
    * blocks are reclaimed by the ContextCleaner when the trigger's
    * frames go out of scope) — verifiedPairs references its `sets`
    * frame four times, which would otherwise re-shingle the batch
    * and re-scan the corpus-sized history per reference. The only
    * full history pass per trigger is the single semi-join that
    * extracts the touched slice.
    *
    * The `a.doc_id =!= b.doc_id` guard matters under foreachBatch's
    * at-least-once semantics: a replayed micro-batch whose docs were
    * already appended to the history index would otherwise match
    * itself and report every doc as its own duplicate.
    */
  def probeBatch(newDocs: DataFrame, histBanded: DataFrame,
                 histSets: DataFrame, tau: Double = 0.8): DataFrame =
    probeBatchTracked(newDocs, histBanded, histSets, tau)._1

  /** [[probeBatch]] plus the trigger-scoped checkpoint RDDs the caller
    * must unpersist once the result is consumed. */
  private[graft] def probeBatchTracked(
      newDocs: DataFrame, histBanded: DataFrame,
      histSets: DataFrame, tau: Double = 0.8)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val newSets = Dedup.shingleSetsOf(newDocs).localCheckpoint(true)
    val newEx = newSets.select(col("doc_id"), explode(col("hs")).as("h"))
    val newBanded = Dedup.bandedSignatures(newEx, cache = false)
    // checkpointed: `cand` feeds both the touched-slice extraction and
    // verification — unmaterialized, the banded probe join (the most
    // expensive per-trigger shuffle) would run twice
    val cand = newBanded.as("a").join(histBanded.as("b"),
        Dedup.bandMatch && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .localCheckpoint(true)
    val touched = histSets
      .join(cand.select(col("b_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      // a replayed doc present on BOTH sides must contribute one
      // shingle row, not two — duplicates in `sets` would fan
      // verifiedPairs' joins into duplicated output rows
      .join(newSets.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val result = Dedup.verifiedPairs(newSets.union(touched), cand, tau)
      .withColumnRenamed("a_id", "new_id")
      .withColumnRenamed("b_id", "hist_id")
      // output contract: one row per (new, hist) pair even if the
      // out-of-band history APPEND was itself replayed (duplicate
      // doc_id rows in histSets fan the verify joins); the result is
      // probe-sized, so this dedup shuffle is negligible
      .dropDuplicates("new_id", "hist_id")
    (result, Seq(newSets, cand, touched).flatMap(CheckpointBlocks.persistedRdds))
  }

  /** Wire a parquet document stream through [[probeBatch]], handing
    * each trigger's verified pairs to `sink`. Caller owns the
    * history-index lifetime and the query's termination. Default
    * trigger drains what exists and stops (backfill / testing); a
    * long-running ingest service passes e.g.
    * `Trigger.ProcessingTime("1 minute")`. */
  def run(spark: SparkSession, docsDir: String,
          schema: org.apache.spark.sql.types.StructType,
          histBanded: DataFrame, histSets: DataFrame,
          sink: DataFrame => Unit,
          maxFilesPerTrigger: Int = 1,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // free the trigger's localCheckpoint blocks once the sink has
        // consumed the result: in a long-running ProcessingTime
        // service the ContextCleaner (GC-driven) may not run for
        // hours, and per-trigger blocks would otherwise accumulate.
        // Only the probe's OWN checkpoint RDDs are unpersisted —
        // never a context-global diff, which would drop caches a
        // concurrent query or the sink itself created this trigger.
        val (result, ckpts) = probeBatchTracked(batch, histBanded, histSets)
        try sink(result)
        finally ckpts.foreach(_.unpersist(blocking = false))
      }
      .trigger(trigger)
      .start()
}
