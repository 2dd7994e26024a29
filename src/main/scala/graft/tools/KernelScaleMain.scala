package graft.tools

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.pipeline.Clustering

/** Measures the r14 verdict-#2 claim that motivates the
  * centroid-assignment kernel: at k ≥ 10³ the literal-inlined
  * assignment expression (k·dim numeric literals in ONE expr string)
  * stops being plannable/executable in reasonable time, while the
  * broadcast-matrix kernel runs fine — so the [[Clustering.LiteralKMax]]
  * dispatch is evidence-backed, not a guess. The two paths are
  * bit-identical where both run (CurationSpec pins that); this tool
  * measures the regime where only one of them does.
  *
  * The corpus is synthesized in-plan (deterministic, seed-free:
  * vec_id-derived values through the same quantization as clu1), so
  * the measurement needs no testdata and scales to any n.
  *
  * Usage: KernelScaleMain [k] [nRows] [literalTimeoutSec] [outJson]
  * Writes one JSON object with the kernel wall time, the literal
  * path's outcome (completed sec / error class / timeout), and the
  * literal expression's source size.
  */
object KernelScaleMain {
  def main(args: Array[String]): Unit = {
    val k = args.lift(0).map(_.toInt).getOrElse(1024)
    val nRows = args.lift(1).map(_.toInt).getOrElse(20000)
    val timeoutSec = args.lift(2).map(_.toInt).getOrElse(300)
    val outJson = args.lift(3).getOrElse("results/r15_kernel/kernel_scale.json")
    val dim = 64
    val spark = GraftSession.create()

    // synthetic corpus with the clu1 column contract (qvd exact-int
    // doubles, qn = |q|²): values in clu1's quantized range
    val q = spark.range(nRows.toLong).toDF("vec_id")
      .withColumn("qv", expr(
        s"transform(sequence(1, $dim), i -> " +
          "(vec_id * 2654435761 + i * 40503) % 2000000 - 1000000)"))
      .withColumn("qvd", expr("transform(qv, x -> cast(x as double))"))
      .withColumn("qn", expr("graft_dot(qvd, qvd)"))
      .persist()
    q.count()
    // synthetic centroids in the same range, ids 1..k
    val centroids = (1 to k).map { c =>
      (c.toLong, Array.tabulate(dim)(i =>
        ((c.toLong * 97003 + i * 13007) % 2000000) - 1000000L))
    }

    def time[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // KERNEL path at full n
    val (kernelSec, kernelRows) = time {
      Clustering.withAssignment(q, centroids)
        .agg(count(lit(1)), sum(col("cluster")), sum(col("distd")))
        .collect()
      nRows.toLong
    }
    println(f"kernel: k=$k n=$nRows -> $kernelSec%.1fs")

    // PRUNED vs FULL scan on a CLUSTERED corpus — the regime the
    // two-level bounds target: after any Lloyd round rows sit near
    // their centroid (that is what k-means assignment is FOR), so a
    // realistic assignment pass sees exactly this shape. Row i =
    // centroid (i % k + 1) plus hash noise 3 orders of magnitude
    // below the value range. Both paths aggregate to the same sums
    // (bit-identity is spec-pinned; this asserts it at measurement k
    // too) — the uniform corpus above stays as the adversarial bound.
    val qc = spark.range(nRows.toLong).toDF("vec_id")
      .withColumn("qv", expr(
        s"transform(sequence(1, $dim), i -> " +
          s"((vec_id % $k + 1) * 97003 + i * 13007) % 2000000 - 1000000" +
          " + (vec_id * 2654435761 + i * 40503) % 2000 - 1000)"))
      .withColumn("qvd", expr("transform(qv, x -> cast(x as double))"))
      .withColumn("qn", expr("graft_dot(qvd, qvd)"))
      .persist()
    qc.count()
    // sum(distd) is cast to LONG PER ROW before aggregation: distd
    // values are exact integers by construction, so the long sum is
    // exact and order-independent at any nRows/dim — a Double sum is
    // already order-dependent/lossy before any driver-side truncation,
    // and truncating the totals would additionally mask ulp-level
    // divergence between the two arms instead of detecting it
    def sums(prune: Boolean): (Double, Seq[Any]) = time {
      Clustering.kernelAssign(qc, centroids, prune = Some(prune))
        .agg(count(lit(1)), sum(col("cluster")),
          sum(col("distd").cast("long")))
        .collect().head.toSeq
    }
    val (fullSec, fullSums) = sums(prune = false)
    val (prunedSec, prunedSums) = sums(prune = true)
    require(fullSums == prunedSums,
      s"pruned/full divergence: $prunedSums vs $fullSums")
    qc.unpersist() // free both corpora before the heap-hungry
    q.unpersist()  // literal-path Janino compile below
    println(f"clustered corpus: full scan $fullSec%.2fs, " +
      f"pruned $prunedSec%.2fs (identical aggregates)")

    // LITERAL path, bounded: run in a worker thread with a hard
    // timeout. Even "success" after minutes is the point — the
    // expression source grows as k*dim literals. timeoutSec=0 skips
    // the phase entirely (an interrupted Janino compile of a
    // megabyte-scale expression is NOT cancellable and keeps churning
    // the heap, so a prune-measurement-only run shouldn't start it;
    // the timeout evidence is committed separately).
    val exprChars = (k.toLong * dim * 10) // rough source size, chars
    val literalOutcome: (String, Double) =
      if (timeoutSec == 0) ("skipped", -1.0)
      else {
        val pool = Executors.newSingleThreadExecutor()
        val litQ = q.limit(2000) // planning is the bottleneck, not rows
        val fut = pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = time {
            Clustering.literalAssign(litQ, centroids)
              .agg(count(lit(1)), sum(col("cluster")))
              .collect()
          }._1
        })
        val out =
          try { ("completed", fut.get(timeoutSec.toLong, TimeUnit.SECONDS)) }
          catch {
            case _: TimeoutException =>
              fut.cancel(true)
              (s"timeout>${timeoutSec}s", -1.0)
            case e: java.util.concurrent.ExecutionException =>
              val c = Option(e.getCause).getOrElse(e)
              (s"error:${c.getClass.getSimpleName}:" +
                Option(c.getMessage).getOrElse("").replaceAll("[\"\n]", " ")
                  .take(160), -1.0)
          }
        pool.shutdownNow()
        out
      }
    println(s"literal: ${literalOutcome._1} " +
      (if (literalOutcome._2 >= 0) f"${literalOutcome._2}%.1fs" else ""))

    val json =
      s"""{"k":$k,"dim":$dim,"n_rows":$nRows,""" +
        f""""kernel_sec":$kernelSec%.2f,"kernel_rows":$kernelRows,""" +
        f""""clustered_full_scan_sec":$fullSec%.2f,""" +
        f""""clustered_pruned_sec":$prunedSec%.2f,""" +
        s""""pruned_equals_full":true,""" +
        s""""literal_n_rows":2000,""" +
        s""""literal_outcome":"${literalOutcome._1}",""" +
        f""""literal_sec":${literalOutcome._2}%.2f,""" +
        s""""literal_expr_chars_approx":$exprChars,""" +
        s""""literal_k_max_dispatch":${Clustering.LiteralKMax}}"""
    val p = java.nio.file.Paths.get(outJson)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, json + "\n")
    println(json)
    spark.stop()
    // a literal path that ran to completion faster than the kernel at
    // this k would falsify the dispatch rationale — exit nonzero so a
    // scripted run surfaces it
    if (literalOutcome._1 == "completed" && literalOutcome._2 < kernelSec)
      sys.exit(2)
  }
}
