package graft.workload

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.Json
import graft.engine.{GraftSession, Tables}

/** Workload-scale parity artifact (r13 verdict #5): the reference
  * ships 20k-query pools (`create_sql.py:96` num_sql=20000;
  * `data/train_pool.txt`) — this main runs the M24–M26 generator at
  * that scale once and commits the pool plus DISTRIBUTION-MATCH
  * evidence:
  *
  *  1. `train_pool.txt` — 20,000 generated COUNT(*) queries (the
  *     reference pool-file shape, one query per line);
  *  2. `pool_stats.json` — per-query (#joins, #filters) histograms
  *     RE-DERIVED from the emitted SQL text (parsed back through
  *     `Harvester.separateConditions`, not read off the generator's
  *     internals) against the harvested empirical distributions the
  *     generator sampled from (`create_sql.py:12-92` analog), with
  *     total-variation distances; plus the template-matcher
  *     acceptance sweep (`sql_template.py:198-226` analog): every
  *     query must be STRUCTURALLY accepted by the matcher against
  *     the pool's own template classes — a parse→extract→compare
  *     round trip over all 20k generated strings.
  *
  * The run SELF-GATES (exit 1) on: acceptance < 100%, joins-TV >
  * 0.05 (the joins histogram is a direct sample of the harvested
  * dist — only graph truncation can bend it), or filters-TV > 0.25
  * vs the TRANSFORMED expectation (the generator targets
  * floor(0.5·f)+1 filters and loses some to exhausted equivalence
  * classes / unfilterable ranges, so the tolerance is looser and the
  * histogram itself is the committed evidence).
  *
  * Usage: runMain graft.workload.PoolMain [sfDir] [numSql] [outDir]
  */
object PoolMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val numSql = args.lift(1).map(_.toInt).getOrElse(20000)
    val outDir = args.lift(2).getOrElse("results/r14_pool")
    val spark = GraftSession.create()
    Tables.registerAll(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // the same seed workload StableMain harvests from (kept in sync
    // by WorkloadSpec's shared-seed assertion)
    val seedSql = StableSeeds.seedSql
    val h = WorkloadGen.harvest(spark, seedSql)
    val rd = Harvester.rangeDict(spark, sfDir)
    val pool = WorkloadGen.generateRandomSql(
      h, rd, Harvester.revAliasMap, numSql = numSql, seed = 42L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/train_pool.txt"),
      pool.mkString("\n") + "\n")
    println(s"wrote $outDir/train_pool.txt ($numSql queries)")

    val stats = PoolStats.compute(spark, pool, h)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/pool_stats.json"), Json.write(stats.toJson))
    println(s"wrote $outDir/pool_stats.json")
    println(f"joins TV=${stats.joinsTv}%.4f filters TV=${stats.filtersTv}%.4f " +
      s"accepted=${stats.accepted}/${stats.n} templates=${stats.nTemplates} " +
      s"fullMatches=${stats.fullMatches}")
    val ok = stats.accepted == stats.n &&
      stats.joinsTv <= 0.05 && stats.filtersTv <= 0.25
    if (!ok) {
      System.err.println("POOL GATE FAILED (acceptance/TV bounds)")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}

/** The seed workload shared by StableMain's harvest and the pool
  * artifact — join-bearing shapes spanning the schema's tail. */
object StableSeeds {
  val seedSql: Seq[String] = Seq(
    """SELECT count(*) FROM orders o, customer c
      |WHERE o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'""".stripMargin,
    """SELECT count(*) FROM lineitem l, orders o, customer c, supplier s, nation n
      |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      |  AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
      |  AND c.c_acctbal > 0 AND l.l_quantity < 30""".stripMargin,
    """SELECT count(*) FROM lineitem l, orders o, customer c, supplier s,
      |  nation n, region r, part p
      |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      |  AND l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey
      |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'ASIA' AND p.p_size BETWEEN 1 AND 25""".stripMargin)
}

/** Distribution-match + matcher-acceptance computation over a
  * generated pool — factored out of [[PoolMain]] so WorkloadSpec can
  * assert the same gates on a smaller pool in-suite. */
object PoolStats {
  final case class Stats(n: Int, joinsHist: Map[Int, Int],
                         filtersHist: Map[Int, Int],
                         expectedJoins: Map[Int, Double],
                         expectedFilters: Map[Int, Double],
                         joinsTv: Double, filtersTv: Double,
                         nTemplates: Int, accepted: Int, fullMatches: Int) {
    /** The `pool_stats.json` object, in key order; distributions and
      * distances at 6 decimals. */
    def toJson: ListMap[String, Any] = {
      def byKey(m: Map[Int, Any]) =
        ListMap.from(m.toSeq.sortBy(_._1).map { case (k, v) => k.toString -> v })
      def dist(m: Map[Int, Double]) = byKey(m.map { case (k, p) => k -> Json.fixed(p, 6) })
      ListMap("n" -> n, "joins_hist" -> byKey(joinsHist), "filters_hist" -> byKey(filtersHist),
        "expected_joins_dist" -> dist(expectedJoins),
        "expected_filters_dist" -> dist(expectedFilters),
        "joins_tv" -> Json.fixed(joinsTv, 6), "filters_tv" -> Json.fixed(filtersTv, 6),
        "n_templates" -> nTemplates, "accepted" -> accepted,
        "full_matches" -> fullMatches)
    }
  }

  /** Total variation distance between an observed histogram and an
    * expected probability distribution. */
  private def tv(hist: Map[Int, Int], expected: Map[Int, Double]): Double = {
    val n = hist.values.sum.toDouble
    val keys = hist.keySet ++ expected.keySet
    keys.toSeq.map { k =>
      math.abs(hist.getOrElse(k, 0) / n - expected.getOrElse(k, 0.0))
    }.sum / 2.0
  }

  def compute(spark: SparkSession, pool: Seq[String],
              h: WorkloadGen.Harvest): Stats = {
    // re-derive per-query counts from the emitted SQL (independent of
    // the generator's bookkeeping); a parse failure — in EITHER parse
    // (component extraction or condition separation) — is a REJECTED
    // query, not a crash: the query drops out of `comps`, so the
    // acceptance gate (accepted == n) reports it
    val parsed = pool.map(q =>
      scala.util.Try(WorkloadGen.extractComponents(spark, q)))
    val sepParsed = pool.map(q =>
      scala.util.Try(Harvester.separateConditions(spark, q)))
    val comps = pool.indices.flatMap(i =>
      if (sepParsed(i).isSuccess) parsed(i).toOption else None)
    val perQuery = sepParsed.flatMap(_.toOption)
      .map { case (j, f) => (j.length, f.length) }
    val joinsHist = perQuery.groupBy(_._1).view.mapValues(_.size).toMap
    val filtersHist = perQuery.groupBy(_._2).view.mapValues(_.size).toMap
    // the generator SAMPLES numJoins from the harvested dist (BFS can
    // only truncate, which the joins-TV bound polices)...
    val jw = h.numJoinsDist.weights.sum.toDouble
    val expectedJoins = h.numJoinsDist.values.zip(h.numJoinsDist.weights)
      .map { case (v, w) => v -> w / jw }.toMap
    // ...and targets floor(0.5·f)+1 filters for f ~ the harvested
    // filter dist (create_sql.py:171's halving) — the transformed dist
    val fw = h.numFiltersDist.weights.sum.toDouble
    val expectedFilters = h.numFiltersDist.values.zip(h.numFiltersDist.weights)
      .groupBy { case (v, _) => (v * 0.5).toInt + 1 }
      .view.mapValues(_.map(_._2).sum / fw).toMap.toMap
    // template classes = distinct structural signatures in the pool,
    // represented by their FIRST query's components; acceptance runs
    // the matcher's compareQueries (sql_template.py:153-175) of every
    // query against its class representative — the non-trivial claims
    // are (a) all 20k generated strings PARSE, and (b) extraction is
    // stable: two queries the generator built from one structure
    // normalize to matcher-equal components. `full` additionally
    // requires the filter-COLUMN set to equal the representative's
    // (the matcher's strict mode — a fraction, since filters land on
    // random columns within a structure). Components are precomputed
    // once: the library's findMatchingTemplate re-extracts per
    // template, quadratic at 20k.
    def sig(c: WorkloadGen.Components) = (c.tables, c.select, c.joins)
    val reps = scala.collection.mutable.LinkedHashMap[
      (Set[String], Seq[String], Set[String]), WorkloadGen.Components]()
    comps.foreach(c => reps.getOrElseUpdate(sig(c), c))
    var accepted = 0
    var full = 0
    comps.foreach { c =>
      val (structural, fullMatch) = WorkloadGen.compareQueries(reps(sig(c)), c)
      if (structural) accepted += 1
      if (fullMatch) full += 1
    }
    Stats(pool.size, joinsHist, filtersHist, expectedJoins, expectedFilters,
      tv(joinsHist, expectedJoins), tv(filtersHist, expectedFilters),
      reps.size, accepted, full)
  }
}
