package graft.tools


import graft.engine.GraftSession
import graft.pipeline.Similarity

/** Diagnostic: measures dd10's adaptive-banding claim at a given
  * scale — candidate-pair volume under the ADAPTIVE plan (bits from
  * the corpus count) vs under a FIXED plan pinned at a smaller
  * corpus's derivation — so SCALE.md's sub-quadratic numbers are
  * artifact-backed rather than analytic only.
  *
  * Usage: AdaptiveScaleMain <sfDir> [fixedBits fixedBands [replicate]]
  * (default fixed plan: the sf0.1 derivation (7, 17) — what a
  * deployment that never re-derived its plan would still be running
  * at 10× the data). `replicate` > 1 derives a K×-bigger corpus
  * in-plan from decorrelated replicas (per-replica deterministic sign
  * flips preserve norms but scramble hyperplane sides — the
  * PipelineSpec fixture, scaled), so the adaptive curve can be
  * measured beyond the biggest on-disk corpus with zero extra
  * storage. fixed_cand is skipped (-1) when its expected candidate
  * volume exceeds 1e9 pairs — counting the quadratic blow-up whole
  * is the cost the adaptive plan exists to avoid.
  *
  * Prints one JSON line:
  * {"n":…,"bits":…,"bands":…,"adaptive_cand":…,
  *  "fixed_bits":…,"fixed_bands":…,"fixed_cand":…}
  */
object AdaptiveScaleMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: AdaptiveScaleMain <sfDir> [fixedBits fixedBands [replicate]]")
    val sfDir = args(0)
    val (fixedBits, fixedBands) =
      if (args.length >= 3) (args(1).toInt, args(2).toInt) else (7, 17)
    val replicate = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = GraftSession.create()

    import org.apache.spark.sql.functions.{col, expr, lit}
    val base = Similarity.plantedVecs(spark, sfDir)
    val e = if (replicate <= 1) base
      else (0 until replicate).map { r =>
        base.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
          expr(s"transform(v, (x, i) -> if(pmod(xxhash64($r, i), 2) = 0, x, -x))")
            .as("v"))
      }.reduce(_ unionByName _)
    val n = e.count()
    val (cand, sig, bits, bands) = Similarity.adaptiveCandidates(spark, e)
    val adaptiveCand = try cand.count() finally sig.unpersist()
    // the fixed plan a never-re-derived deployment would still run;
    // expected volume ~ C(n,2)·bands/2^bits — skip the count when it
    // would itself be the quadratic blow-up being demonstrated
    val expectedFixed =
      n.toDouble * (n - 1) / 2 * fixedBands / math.pow(2, fixedBits)
    val fixedCand = if (expectedFixed > 1e9) -1L else {
      val sigF = Similarity.srpSignatures(spark, e, fixedBands, fixedBits)
        .persist()
      try sigF.as("x").join(sigF.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.vec_id") < col("y.vec_id"))
        .count()
      finally sigF.unpersist()
    }
    println(s"""{"n":$n,"bits":$bits,"bands":$bands,""" +
      s""""adaptive_cand":$adaptiveCand,"fixed_bits":$fixedBits,""" +
      s""""fixed_bands":$fixedBands,"fixed_cand":$fixedCand}""")
    spark.stop()
  }
}
