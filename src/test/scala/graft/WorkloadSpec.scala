package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.workload._
import graft.workload.Harvester._

/** Harvester (M20–M23) + workload generator (M24–M28) tests: range
  * correctness against direct aggregation, join/filter condition
  * classification, connectivity of every generated join set, one
  * filter per equivalence class, and executability of generated SQL.
  */
class WorkloadSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Seed workload: the comma-FROM SQL shapes of the relational
    * surface (what the reference harvests from its test queries). */
  private val seedWorkload = Seq(
    """SELECT count(*) AS cnt FROM orders o, customer c
      |WHERE o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate <= TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,
    """SELECT count(*) AS cnt
      |FROM lineitem l, orders o, customer c, supplier s, nation n
      |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      |  AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
      |  AND c.c_acctbal > 0 AND l.l_quantity < 30
      |  AND o.o_orderstatus != 'P'""".stripMargin,
    """SELECT count(*) AS cnt
      |FROM lineitem l, orders o, customer c, supplier s, nation n,
      |     region r, part p
      |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      |  AND l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey
      |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'ASIA' AND p.p_size BETWEEN 1 AND 25
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'""".stripMargin)

  test("separateConditions classifies joins vs filters") {
    val (joins, filters) = Harvester.separateConditions(spark, seedWorkload.head)
    assert(joins.length == 1 && joins.head.toLowerCase.contains("o_custkey"))
    assert(filters.length == 2)
  }

  test("joinConditions are normalized and complete") {
    val jc = Harvester.joinConditions(spark, seedWorkload)
    assert(jc.contains("c.c_custkey=o.o_custkey")) // sides sorted
    assert(jc.size == 6) // 6 distinct join edges across the seed
  }

  test("filterColumns collects per-alias filter columns") {
    val fc = Harvester.filterColumns(spark, seedWorkload)
    assert(fc("c").contains("c_mktsegment") && fc("c").contains("c_acctbal"))
    assert(fc("r") == Set("r_name"))
  }

  test("rangeDict matches direct aggregates and respects types") {
    val rd = Harvester.rangeDict(spark, sf)
    val nation = rd("n")
    nation("n_nationkey") match {
      case NumRange(lo, hi, integral) =>
        assert(lo == 0 && hi == 24 && integral)
      case other => fail(s"unexpected $other")
    }
    nation("n_name") match {
      case StrValues(vs) => assert(vs.length == 25 && vs.distinct.length == 25)
      case other => fail(s"unexpected $other")
    }
    rd("o")("o_orderdate") match {
      case TsRange(lo, hi) => assert(lo < hi)
      case other => fail(s"unexpected $other")
    }
    // lineitem money cols are doubles
    rd("l")("l_extendedprice") match {
      case NumRange(lo, hi, integral) => assert(!integral && lo < hi)
      case other => fail(s"unexpected $other")
    }
  }

  test("generated join sets are always connected") {
    val h = WorkloadGen.harvest(spark, seedWorkload)
    val graph = WorkloadGen.buildJoinGraph(h.joinConditions)
    val rnd = new Random(7)
    for (_ <- 0 until 200) {
      val (joins, tables) = WorkloadGen.generateConnectedJoins(
        graph, 1 + rnd.nextInt(6), h.joinConditions, rnd)
      if (tables.size > 1) {
        // joined tables must form one connected component
        val adj = WorkloadGen.buildJoinGraph(joins.toSet)
        val seen = scala.collection.mutable.Set(tables.head)
        var frontier = List(tables.head)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(t => adj.getOrElse(t, Set()))
            .filterNot(seen)
          seen ++= next
          frontier = next
        }
        assert(seen == tables, s"disconnected: $joins vs $tables")
        assert(joins.length == tables.size - 1) // BFS tree edge count
      }
    }
  }

  test("generated SQL executes and has one filter per equivalence class") {
    val h = WorkloadGen.harvest(spark, seedWorkload)
    val rd = Harvester.rangeDict(spark, sf)
    val sqls = WorkloadGen.generateRandomSql(h, rd, Harvester.revAliasMap,
      numSql = 30, seed = 11L)
    assert(sqls.length == 30)
    Tables.registerAll(spark, sf)
    sqls.take(10).foreach { q =>
      val n = spark.sql(q.stripSuffix(";")).collect()(0).getLong(0)
      assert(n >= 0)
    }
    // deterministic under the same seed
    val again = WorkloadGen.generateRandomSql(h, rd, Harvester.revAliasMap,
      numSql = 30, seed = 11L)
    assert(sqls == again)
  }

  test("template refresh keeps joins/select, changes filters, executes") {
    val template = seedWorkload(1)
    val rd = Harvester.rangeDict(spark, sf)
    val rnd = new Random(3)
    val refreshed = WorkloadGen.refreshTemplateFilters(spark, template, rd, rnd)
    val tc = WorkloadGen.extractComponents(spark, template)
    val rc = WorkloadGen.extractComponents(spark, refreshed)
    assert(tc.tables == rc.tables)
    assert(tc.joins == rc.joins)
    val (structural, _) = WorkloadGen.compareQueries(tc, rc)
    assert(structural)
    Tables.registerAll(spark, sf)
    assert(spark.sql(refreshed.stripSuffix(";")).collect()(0).getLong(0) >= 0)
  }

  test("multi-alias template gets per-alias conditions on one shared column") {
    // JOB-style self-alias shape: orders under two aliases. The
    // harvested filter_columns for orders offer exactly one string
    // column, so the phase-1 shared-column draw is forced and its IN
    // shape (generate_imdb_sql.py:248-253: degrade at len<=2, sample
    // cap len(col_info)-1) is observable.
    val template =
      """SELECT count(*) AS cnt FROM orders o1, orders o2, customer c
        |WHERE o1.o_custkey = c.c_custkey AND o2.o_custkey = c.c_custkey
        |  AND o1.o_totalprice > 1000 AND c.c_acctbal > 0""".stripMargin
    val rdBase = Harvester.rangeDict(spark, sf)
    val prio3 = StrValues(Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
    val rd = Map(
      "o1" -> (rdBase("o") + ("o_orderpriority" -> prio3)),
      "o2" -> (rdBase("o") + ("o_orderpriority" -> prio3)),
      "c" -> rdBase("c"))
    val fcols = Map("orders" -> Seq("o_orderpriority"),
      "customer" -> Seq("c_acctbal", "c_mktsegment"))
    val tc = WorkloadGen.extractComponents(spark, template)
    assert(tc.fromTables ==
      Seq(("orders", "o1"), ("orders", "o2"), ("customer", "c")))
    Tables.registerAll(spark, sf)
    (0 until 40).foreach { seed =>
      val refreshed = WorkloadGen.refreshTemplateFilters(
        spark, template, rd, new Random(seed), fcols)
      val rc = WorkloadGen.extractComponents(spark, refreshed)
      assert(tc.joins == rc.joins, s"seed=$seed joins changed")
      // both aliases carry a condition on the ONE shared column
      Seq("o1", "o2").foreach { a =>
        assert(rc.filterColumns.contains(s"$a.o_orderpriority"),
          s"seed=$seed missing phase-1 condition for $a:\n$refreshed")
      }
      // IN lists on the shared column respect the len(col_info)-1 cap:
      // a 3-value domain allows at most 2-value IN lists
      "(?i)\\bo[12]\\.o_orderpriority IN \\(([^)]*)\\)".r
        .findAllMatchIn(refreshed).foreach { m =>
          val n = m.group(1).split(",").length
          assert(n <= 2, s"seed=$seed IN cap violated ($n values):\n$refreshed")
        }
      if (seed < 5)
        assert(spark.sql(refreshed.stripSuffix(";")).collect()(0).getLong(0) >= 0)
    }
    // a 2-value domain degrades IN to '=' on the multi-alias path:
    // no IN list on the shared column can ever appear
    val prio2 = StrValues(Seq("1-URGENT", "2-HIGH"))
    val rd2 = Map(
      "o1" -> (rdBase("o") + ("o_orderpriority" -> prio2)),
      "o2" -> (rdBase("o") + ("o_orderpriority" -> prio2)),
      "c" -> rdBase("c"))
    (0 until 40).foreach { seed =>
      val refreshed = WorkloadGen.refreshTemplateFilters(
        spark, template, rd2, new Random(seed), fcols)
      assert(!"(?i)\\bo[12]\\.o_orderpriority IN ".r
        .findFirstIn(refreshed).isDefined,
        s"seed=$seed 2-value domain must degrade IN to '=':\n$refreshed")
    }
  }

  test("template matcher finds the right template") {
    val templates = seedWorkload
    val rd = Harvester.rangeDict(spark, sf)
    val refreshed = WorkloadGen.refreshTemplateFilters(
      spark, templates(2), rd, new Random(9))
    val m = WorkloadGen.findMatchingTemplate(spark, refreshed, templates)
    assert(m.exists(_._1 == 2))
  }

  test("pool gates: distribution match and 100% template-matcher " +
    "acceptance hold on an in-suite pool (PoolMain's self-gate logic)") {
    // PoolMain's shared seeds must stay the harvest StableMain trains
    // from — the committed 20k pool is only parity evidence if both
    // draw from one seed workload
    assert(graft.workload.StableSeeds.seedSql.length == 3)
    val h = WorkloadGen.harvest(spark, graft.workload.StableSeeds.seedSql)
    val rd = Harvester.rangeDict(spark, sf)
    val pool = WorkloadGen.generateRandomSql(
      h, rd, Harvester.revAliasMap, numSql = 1000, seed = 42L)
    val stats = graft.workload.PoolStats.compute(spark, pool, h)
    assert(stats.accepted == stats.n,
      s"matcher rejected ${stats.n - stats.accepted} queries")
    assert(stats.joinsTv <= 0.05, s"joins TV ${stats.joinsTv}")
    assert(stats.filtersTv <= 0.25, s"filters TV ${stats.filtersTv}")
    assert(stats.nTemplates > 1 && stats.fullMatches >= stats.nTemplates)
  }

  test("writeInfos produces the infos/ JSON layout") {
    val out = "/tmp/graft_infos"
    Harvester.writeInfos(spark, sf, out, seedWorkload)
    val files = new java.io.File(out).list().toSet
    assert(Set("alias_map", "rev_alias_map", "columns", "range_dict",
      "filter_columns").subsetOf(files))
    // every file parses as a JSON object
    val parsed = Seq("alias_map", "rev_alias_map", "columns", "range_dict", "filter_columns")
      .map(f => f -> Json.readFile(java.nio.file.Paths.get(out, f))).toMap
    parsed.foreach { case (f, j) => assert(j.isObject, f) }
    assert(parsed("alias_map").get("lineitem").asText == "l")
  }
}
