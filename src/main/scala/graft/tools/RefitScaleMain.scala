package graft.tools

import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.pipeline.Clustering

/** Measures the r15 verdict-#2 claim that motivates the chunked
  * k-means fit: at k ≥ 10⁵ the collect-based Lloyd round holds the
  * whole problem on the driver twice over — the refit `collect()`
  * returns k·dim (cluster, pos, cv) rows (8.4M Row objects at
  * k = 131072, dim 64) and the centroid Seq it rebuilds is another
  * k·dim longs resident for the next round's broadcast — while the
  * chunked round ([[Clustering.chunkedAssign]] +
  * [[Clustering.kmeansFitChunked]]'s distributed refit) never
  * materializes more than ONE [[Clustering.CentroidChunk]]-bounded
  * chunk on the driver. With k = n/625 ∝ n, the collect path's driver
  * state grows linearly with corpus size; the chunked path's is
  * constant. The two produce bit-identical refits (asserted here AT
  * the measurement k, and spec-pinned at 5-chunk k in CurationSpec).
  *
  * The corpus is synthesized in-plan, CLUSTERED (each row near
  * centroid (vec_id % k) + 1 — the post-Lloyd shape the two-level
  * pruning targets), so both arms' assignment passes engage pruning
  * and the measured delta is refit mechanics, not scan asymptotics.
  *
  * Usage: RefitScaleMain [k] [nRows] [outJson]
  */
object RefitScaleMain {
  def main(args: Array[String]): Unit = {
    val k = args.lift(0).map(_.toInt).getOrElse(131072)
    val nRows = args.lift(1).map(_.toInt).getOrElse(262144)
    val outJson = args.lift(2).getOrElse("results/r16_kernel/refit_scale.json")
    val dim = 64
    val spark = GraftSession.create()

    // clustered corpus (KernelScaleMain's qc shape): centroid term
    // plus hash noise three orders of magnitude below the value range
    val q = spark.range(nRows.toLong).toDF("vec_id")
      .withColumn("qv", expr(
        s"transform(sequence(1, $dim), i -> " +
          s"((vec_id % $k + 1) * 97003 + i * 13007) % 2000000 - 1000000" +
          " + (vec_id * 2654435761 + i * 40503) % 2000 - 1000)"))
      .withColumn("qvd", expr("transform(qv, x -> cast(x as double))"))
      .withColumn("qn", expr("graft_dot(qvd, qvd)"))
      .persist()
    q.count()

    // round-0 centroids: the pure centers, ids 1..k — built BOTH as a
    // distributed frame (chunked arm) and as the driver Seq the
    // legacy arm requires (that requirement IS the finding)
    val centroidDf = spark.range(1L, k + 1L).toDF("cluster")
      .withColumn("qv", expr(
        s"transform(sequence(1, $dim), i -> " +
          s"(cluster * 97003 + i * 13007) % 2000000 - 1000000)"))
      .persist()
    centroidDf.count()
    val centroidSeq = (1 to k).map { c =>
      (c.toLong, Array.tabulate(dim)(i =>
        ((c.toLong * 97003 + (i + 1) * 13007) % 2000000) - 1000000L))
    }

    def time[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // LEGACY round: kernel assignment against the driver Seq, then
    // the k·dim-row refit collect + driver-side regroup (kmeansModel's
    // loop body verbatim)
    val (legacySec, legacy) = time {
      val assigned = Clustering.withAssignment(q, centroidSeq)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
      val rows = assigned
        .groupBy(col("cluster"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cv"))
        .collect()
      val regrouped = rows
        .groupBy(_.getLong(0))
        .map { case (c, rs) =>
          val byPos = new Array[Long](rs.length)
          rs.foreach(r => byPos(r.getInt(1)) = r.getLong(2))
          (c, byPos)
        }.toSeq.sortBy(_._1)
      (rows.length, regrouped)
    }
    val (collectedRows, legacyCentroids) = legacy
    println(f"legacy round: $legacySec%.1fs, refit collect = " +
      f"$collectedRows%d rows, driver-resident centroids = " +
      f"${k.toLong * dim * 8 / (1 << 20)}%d MiB flat")

    // CHUNKED round: same assignment semantics from the FRAME, refit
    // stays a distributed aggregate; driver transients are one chunk
    val (chunkedSec, refitDf) = time {
      val assigned = Clustering.chunkedAssign(q, centroidDf, k.toLong)
        .select(col("qv"), col("cluster"))
      val refit = assigned
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cv"))
        .groupBy(col("cluster"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv)))," +
          " s -> s.cv)").as("qv"))
        .persist()
      refit.count()
      refit
    }
    println(f"chunked round: $chunkedSec%.1fs, max driver transient = " +
      f"${Clustering.CentroidChunk}%d centroid rows/chunk")

    // bit-equality of the two refits at the measurement k — the
    // chunked result collects k array rows HERE, in the measurement
    // tool, purely to verify; the pipeline itself never does this
    val got = refitDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    val want = legacyCentroids.map { case (c, cv) => (c, cv.toSeq) }
    require(got.length == want.length &&
      got.zip(want).forall { case (a, b) => a._1 == b._1 && a._2 == b._2 },
      "chunked refit diverged from the collect-based refit")
    println(s"refits identical across ${got.length} centroids")

    val json =
      s"""{"k":$k,"n_rows":$nRows,"dim":$dim,
         |"legacy":{"sec":${f"$legacySec%.1f"},
         |  "refit_collect_rows":$collectedRows,
         |  "driver_centroid_mib":${k.toLong * dim * 8 / (1 << 20)}},
         |"chunked":{"sec":${f"$chunkedSec%.1f"},
         |  "max_driver_transient_rows":${Clustering.CentroidChunk},
         |  "max_driver_transient_mib":${Clustering.CentroidChunk * dim * 8 / (1 << 20)}},
         |"refits_bit_identical":true}""".stripMargin.replace("\n", "")
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json + "\n")
    println(s"wrote $outJson")
    spark.stop()
  }
}
