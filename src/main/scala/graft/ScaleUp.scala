package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.GraftSession

/** Scale-up derivation tool: replicate a driver-generated testdata
  * directory K× with disjoint key spaces, producing an sf≈K×source
  * dataset for scale-cliff testing (the round-8 sf1 run: K=10 over
  * sf0.1). NOT used by any gate — the driver's sf0.01 correctness and
  * sf0.1 bench contracts are untouched; this exists so the full gate
  * suite and bench can be exercised at 10× bench scale locally.
  *
  * Derivation rules (everything is a deterministic function of the
  * source data + replica index k, so results are reproducible):
  *  - every key/foreign-key column is offset by k*1e10 (1e10 is
  *    divisible by the mod-N splits the pipeline gates use, so
  *    replica membership in e.g. the decontamination eval split is
  *    preserved);
  *  - `nation`/`region` are TPC-H-style fixed dimensions — copied
  *    once, referenced by all replicas;
  *  - `documents.text` goes through a k-rotated alphabet substitution
  *    (length-preserving, so `n_chars` stays consistent): replicas of
  *    a document are NOT near-duplicates of each other, keeping the
  *    dedup pair-graph density realistic instead of planting a
  *    10-clique on every document;
  *  - `events.ts` shifts by k seconds (distinct sessions, preserved
  *    ordering);
  *  - `embeddings.embedding` is circular-shifted by k positions — a
  *    permutation is an orthogonal transform, so cosines WITHIN a
  *    replica are preserved exactly (the original near-dup pair set
  *    appears once per replica: linear growth), while cross-replica
  *    cosines drop to background noise. The r8 sf1 run exposed why
  *    this matters: keeping vectors identical planted a factor-sized
  *    clique of cos=1.0 pairs on every embedding, which made the
  *    TRUE near-dup output (and therefore every correct engine's
  *    cost) quadratic in the factor — a fixture artifact, not an
  *    engine cliff.
  */
object ScaleUp {
  private val KeyOffset = 10000000000L // 1e10

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Per-replica alphabet substitution. k < 26 keeps the original
    * ROTATION (bit-compatible with the committed sf1 artifacts, which
    * were generated at factor 10); k ≥ 26 would wrap — replicas k and
    * k+26 would carry IDENTICAL text, planting cross-replica exact
    * duplicates the dedup contracts would mistake for engine cost —
    * so larger k switches to a k-seeded Fisher–Yates PERMUTATION of
    * the alphabet (deterministic, length-preserving, period far
    * beyond any realistic factor). */
  private def rotAlpha(k: Int): (String, String) = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    if (k < 26) {
      val r = k % 26
      val rl = lower.drop(r) + lower.take(r)
      val ru = upper.drop(r) + upper.take(r)
      (lower + upper, rl + ru)
    } else {
      val perm = lower.toCharArray
      val rnd = new scala.util.Random(0x5ca1eab1eL + k)
      var i = perm.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = perm(i); perm(i) = perm(j); perm(j) = t
        i -= 1
      }
      val pl = new String(perm)
      (lower + upper, pl + pl.toUpperCase)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp srcDir destDir [factor]")
    val (src, dest) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    // events.ts is parquet TIMESTAMP(NANOS); read it as a raw long and
    // keep it int64 in the output (Tables.load handles both identically
    // once nanosAsLong is set)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // match Tables.load's read-side setting so ms timestamps round-trip
    // as LTZ rather than being re-inferred NTZ
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    new java.io.File(dest).mkdirs()

    // the shift wraps at k = dim — read the actual fixture dim once
    // rather than hardcoding it (see the embeddings branch below)
    lazy val embDim: Int = spark.read.parquet(s"$src/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0)

    def replica(df: DataFrame, table: String, k: Int): DataFrame = {
      var out = df
      keyCols.getOrElse(table, Nil).foreach { c =>
        out = out.withColumn(c, col(c) + lit(k * KeyOffset))
      }
      if (table == "documents" && k > 0) {
        val (from, to) = rotAlpha(k)
        out = out.withColumn("text", translate(col("text"), from, to))
      }
      if (table == "events" && k > 0)
        // shift each replica by k seconds; ts arrives as raw
        // epoch-NANOS long (old testdata shape under nanosAsLong) or
        // as a native timestamp (current shape) — same adaptive
        // branch as Tables.load, and the output keeps whichever
        // physical shape came in (Tables.load handles both)
        out = out.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            out.withColumn("ts", col("ts") + lit(k * 1000000000L))
          case _ =>
            out.withColumn("ts", col("ts") + expr(s"INTERVAL $k SECOND"))
        }
      if (table == "embeddings" && k > 0) {
        // circular shift by (k mod dim): orthogonal, norm- and
        // in-replica-cosine-preserving, cross-replica-decorrelating
        // (see header). The shift alone wraps at k = dim (64): replica
        // k and k+dim would carry IDENTICAL vectors — a planted
        // cos=1.0 clique per embedding, the exact r8 fixture artifact
        // the header recounts — so k ≥ dim replicas ADDITIONALLY apply
        // a k-seeded deterministic sign-flip pattern. A sign flip is a
        // diagonal orthogonal transform: within-replica cosines are
        // preserved EXACTLY (the d_i² terms cancel), while
        // cross-replica cosines of differing patterns drop to
        // background noise; 2^dim patterns never wrap.
        val dimExpr = "size(embedding)"
        out = out.withColumn("embedding", expr(
          s"concat(slice(embedding, pmod($k, $dimExpr) + 1, " +
            s"$dimExpr - pmod($k, $dimExpr)), " +
            s"slice(embedding, 1, pmod($k, $dimExpr)))"))
        if (k >= embDim)
          out = out.withColumn("embedding", expr(
            "transform(embedding, (x, i) -> " +
              s"IF(pmod(hash($k, i), 2) = 0, x, -x))"))
      }
      out
    }

    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val scaled =
        if (t == "region" || t == "nation") base
        else (0 until factor).map(k => replica(base, t, k))
          .reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dest/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
