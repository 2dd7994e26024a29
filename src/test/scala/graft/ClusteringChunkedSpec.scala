package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Live pin of the refit-scale bit-identity contract (r16 verdict #7):
  * `results/r16_kernel/refit_scale.json` measured that ONE Lloyd
  * refit round through the legacy collect-based path and through the
  * chunked distributed path produce bit-identical centroids at
  * k = 131072 — but a golden file goes stale as the code evolves.
  * This spec re-runs the measurement's exact comparison (same
  * clustered synthetic corpus shape, same refit SQL on both arms) at
  * CI size with chunking ENGAGED (k an order of magnitude past the
  * chunk height, so the assignment walks many chunks and the
  * cross-chunk carry rule is on the compared path). CurationSpec pins
  * the multi-round FIT end to end; this pins the single-round REFIT
  * the measurement certifies, so a refit regression localizes here.
  * The test name keeps the name of the main that took the measurement
  * (`RefitScaleMain`, removed; git history has it).
  */
class ClusteringChunkedSpec extends AnyFunSuite {
  import SparkTestSession._

  test("one chunked Lloyd refit round is bit-identical to the legacy " +
    "collect-based refit at an engaged k (RefitScaleMain's contract)") {
    import graft.pipeline.Clustering
    val k = 256
    val nRows = 2048
    val dim = 8
    val chunk = 32L // 8 chunks — chunking genuinely engaged

    // the clustered corpus of results/r16_kernel/refit_scale.json:
    // centroid term (vec_id % k) plus hash noise three orders of
    // magnitude below the value range
    val q = spark.range(nRows.toLong).toDF("vec_id")
      .withColumn("qv", expr(
        s"transform(sequence(1, $dim), i -> " +
          s"((vec_id % $k + 1) * 97003 + i * 13007) % 2000000 - 1000000" +
          " + (vec_id * 2654435761 + i * 40503) % 2000 - 1000)"))
      .withColumn("qvd", expr("transform(qv, x -> cast(x as double))"))
      .withColumn("qn", expr("graft_dot(qvd, qvd)"))
      .persist()
    q.count()

    // round-0 centroids: the pure centers, ids 1..k — as a frame for
    // the chunked arm and as the driver Seq the legacy arm requires
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

    // LEGACY refit: kernel assignment against the driver Seq, k·dim
    // refit collect + driver-side regroup (kmeansModel's loop body)
    val legacy = {
      val rows = Clustering.withAssignment(q, centroidSeq)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cv"))
        .collect()
      rows.groupBy(_.getLong(0)).map { case (c, rs) =>
        val byPos = new Array[Long](rs.length)
        rs.foreach(r => byPos(r.getInt(1)) = r.getLong(2))
        (c, byPos.toSeq)
      }.toSeq.sortBy(_._1)
    }

    // CHUNKED refit: same semantics from the frame, refit stays a
    // distributed aggregate (kmeansFitChunked's loop body)
    val chunked = Clustering.chunkedAssign(q, centroidDf, k.toLong, chunk)
      .select(col("qv"), col("cluster"))
      .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cv"))
      .groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv)))," +
        " s -> s.cv)").as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq

    assert(legacy.map(_._1) == chunked.map(_._1),
      "refit cluster id sets diverged")
    assert(legacy == chunked,
      "chunked refit diverged from the collect-based refit " +
        "(refits_bit_identical broken)")
    // every row moved somewhere sensible: k clusters survived (the
    // clustered fixture keeps all centroids populated)
    assert(chunked.length == k)
    q.unpersist()
    centroidDf.unpersist()
  }
}
