package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch probe for ad-hoc SQL variants — rewritten per
  * investigation; not part of any gate. r19: x18/x19 exact-vs-sketch
  * aggregate formulations, median-of-N per variant. */
object StatsProbe {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(9)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = graft.engine.ScratchDir.resolve()
      .fold(builder)(d => builder.config("spark.local.dir", d)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.registerAll(spark, sfDir)

    val variants: Seq[(String, String)] = Seq(
      "x18_current" ->
        """SELECT l_returnflag,
          |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_cnt,
          |  CAST(abs(approx_count_distinct(l_partkey, 0.02) -
          |           count(DISTINCT l_partkey))
          |       <= 0.05 * count(DISTINCT l_partkey) AS BIGINT) AS approx_ok
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "x18_predistinct" ->
        """SELECT l_returnflag,
          |  CAST(count(l_partkey) AS BIGINT) AS exact_cnt,
          |  CAST(abs(approx_count_distinct(l_partkey, 0.02) -
          |           count(l_partkey))
          |       <= 0.05 * count(l_partkey) AS BIGINT) AS approx_ok
          |FROM (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "x19_current" ->
        """SELECT l_returnflag,
          |  round(percentile(l_extendedprice, 0.5), 4) AS p50_exact,
          |  CAST(abs(approx_percentile(l_extendedprice, 0.5, 10000) -
          |           percentile(l_extendedprice, 0.5))
          |       <= 0.01 * percentile(l_extendedprice, 0.5) AS BIGINT)
          |    AS approx_ok
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "x19_exact_only" ->
        """SELECT l_returnflag, round(percentile(l_extendedprice, 0.5), 4) p
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "x19_approx_only" ->
        """SELECT l_returnflag,
          |  approx_percentile(l_extendedprice, 0.5, 10000) p
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "x19_weighted" ->
        """SELECT g.l_returnflag,
          |  round(percentile(g.v, 0.5, g.c), 4) AS p50_exact
          |FROM (SELECT l_returnflag, l_extendedprice v,
          |        CAST(count(*) AS INT) c
          |      FROM lineitem GROUP BY 1, 2) g
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "x19_window_full" ->
        """WITH g AS (SELECT l_returnflag f, l_extendedprice v,
          |             CAST(count(*) AS BIGINT) c
          |           FROM lineitem GROUP BY 1, 2),
          |w AS (SELECT f, v,
          |        sum(c) OVER (PARTITION BY f ORDER BY v) cum,
          |        sum(c) OVER (PARTITION BY f) n
          |      FROM g),
          |e AS (SELECT f, max(0.5 * CAST(n - 1 AS DOUBLE)) pos,
          |        min(CASE WHEN cum >= CAST(floor(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN v END) vlo,
          |        min(CASE WHEN cum >= CAST(ceil(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN v END) vhi
          |      FROM w GROUP BY f),
          |x AS (SELECT f,
          |        CASE WHEN vlo = vhi THEN vlo
          |             ELSE (CAST(CAST(ceil(pos) AS BIGINT) AS DOUBLE) - pos) * vlo
          |                + (pos - CAST(CAST(floor(pos) AS BIGINT) AS DOUBLE)) * vhi
          |        END p50
          |      FROM e)
          |SELECT x.f AS l_returnflag, round(x.p50, 4) AS p50_exact,
          |  CAST(abs(a.ap - x.p50) <= 0.01 * x.p50 AS BIGINT) AS approx_ok
          |FROM x JOIN (SELECT l_returnflag f,
          |               approx_percentile(l_extendedprice, 0.5, 10000) ap
          |             FROM lineitem GROUP BY 1) a
          |ON x.f = a.f
          |ORDER BY x.f""".stripMargin,
      "x19_weighted_full" ->
        """SELECT e.l_returnflag, e.p50_exact,
          |  CAST(abs(a.ap - e.p50_raw) <= 0.01 * e.p50_raw AS BIGINT) approx_ok
          |FROM (SELECT l_returnflag,
          |        round(percentile(v, 0.5, c), 4) AS p50_exact,
          |        percentile(v, 0.5, c) AS p50_raw
          |      FROM (SELECT l_returnflag, l_extendedprice v,
          |              CAST(count(*) AS INT) c
          |            FROM lineitem GROUP BY 1, 2) g
          |      GROUP BY 1) e
          |JOIN (SELECT l_returnflag,
          |        approx_percentile(l_extendedprice, 0.5, 10000) ap
          |      FROM lineitem GROUP BY 1) a
          |ON e.l_returnflag = a.l_returnflag
          |ORDER BY e.l_returnflag""".stripMargin
    )

    variants.foreach { case (name, sql) =>
      val times = (1 to reps).map { i =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        noop(spark.sql(sql))
        (System.nanoTime() - t0) / 1e9
      }
      val s = times.sorted
      println(f"MEDIAN $name ${s(reps / 2)}%.3f (min ${s.head}%.3f first ${times.head}%.3f)")
    }
    // value agreement between formulations
    println("x18 current:    " + spark.sql(variants(0)._2).collect().mkString(" "))
    println("x18 predistinct:" + spark.sql(variants(1)._2).collect().mkString(" "))
    println("x19 current:    " + spark.sql(variants(2)._2).collect().mkString(" "))
    val winSql = variants.find(_._1 == "x19_window_full").get._2
    println("x19 window:     " + spark.sql(winSql).collect().mkString(" "))
    // raw (unrounded) agreement check between percentile() and the
    // window derivation
    val raw1 = spark.sql(
      "SELECT l_returnflag, percentile(l_extendedprice, 0.5) FROM lineitem " +
        "GROUP BY 1 ORDER BY 1").collect().map(_.getDouble(1))
    val raw2 = spark.sql(winSql.replace("round(x.p50, 4)", "x.p50"))
      .collect().map(_.getDouble(1))
    println("raw bits equal: " + raw1.zip(raw2).map { case (a, b) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
    }.mkString(","))
    spark.stop()
  }
}
