package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.pipeline.TextAnalysis

/** Streaming twin of cms1's SKETCH pass: the same `graft_cms`
  * aggregate running as a streaming global aggregation over a
  * document stream.
  *
  * No new operator code exists here on purpose — a
  * TypedImperativeAggregate's (serialize, deserialize, merge) IS
  * Structured Streaming's state contract, so the batch sketch
  * aggregate is streaming-capable by construction: each trigger
  * updates the 256 KiB buffer held in the state store, and because
  * merge is an element-wise sum (associative + commutative), any
  * micro-batch slicing of the corpus yields the bit-identical
  * sketch (`StreamingSpec` drains the corpus one file per trigger
  * and asserts array equality against the batch build).
  *
  * State story at 100 TB/day: streaming state is ONE sketch buffer
  * (depth·width longs) regardless of corpus size or stream length —
  * the whole point of sketch-backed frequency monitoring; the
  * heavy-hitter probe side stays the bounded batch query (cms1) run
  * against the latest emitted sketch.
  */
object CmsStream {

  /** The streaming sketch build over a directory of document parquet
    * files (schema taken from the batch table at `sfDir`, same
    * nanos-migration handling). Complete-mode global aggregate: one
    * row per trigger carrying the running sketch + term count. */
  def sketchStream(spark: SparkSession, sfDir: String,
                   docsDir: String): DataFrame = {
    val schema = Tables.load(spark, sfDir, "documents").schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(docsDir)
    TextAnalysis.termStream(docs)
      .select(xxhash64(col("term")).as("k"))
      .agg(expr(s"graft_cms(k, ${TextAnalysis.CmsDepth}, " +
        s"${TextAnalysis.CmsWidth})").as("cms"),
        count(lit(1)).as("n_total"))
  }
}
