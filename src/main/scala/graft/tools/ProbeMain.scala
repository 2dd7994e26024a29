package graft.tools

import org.apache.spark.sql.DataFrame

/** Timing probe for named queries; not part of any gate, writes no
  * files. Median-of-N single-JVM repetitions per named query (the
  * r18 protocol — isolated single-run timings are noise-bound ±30-50%
  * on a shared 4-core box; contention is additive so the MEDIAN of
  * many same-JVM reps is the stable estimator).
  * Usage: runMain graft.tools.ProbeMain [sfDir] [reps] q1,q2,...
  */
object ProbeMain {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(11)
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("pr2_pagerank_converged"))
    val spark = graft.engine.GraftSession.create()
    graft.engine.Tables.registerAll(spark, sfDir)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { i =>
        graft.engine.GraftSession.clearCaches(spark)
        System.gc()
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        val s = (System.nanoTime() - t0) / 1e9
        println(f"  $name rep$i $s%.3f")
        s
      }
      val sorted = times.sorted
      println(f"MEDIAN $name ${sorted(reps / 2)}%.3f s  " +
        f"(min ${sorted.head}%.3f max ${sorted.last}%.3f, first ${times.head}%.3f)")
    }
    spark.stop()
  }
}
