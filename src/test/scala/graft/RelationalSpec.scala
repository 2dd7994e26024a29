package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftExtensions, GraftSession, Tables}
import graft.plans.PlanChoice
import graft.queries.Relational

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.create()
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` on the session `build` makes on the shared context
    * (active and default for the duration); the shared session is the
    * active and default one again afterwards. */
  def withSession[T](build: => SparkSession)(body: SparkSession => T): T = {
    spark // force the shared session (and its SparkContext) first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(build)
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  /** A learned-planner session, as a user configures one with
    * `spark.sql.extensions=graft.engine.GraftExtensions`: AQE off to pin
    * plans for deterministic assertions, and the input-size bypass off,
    * because sf0.001 inputs are far below its default 4 MB (the bypass
    * has its own test). Shuffle partitions stay at 4 whatever the core
    * count: a hash exchange prints its partition count, and the plan
    * hashes in `planchoice/pool_choices.tsv` were pinned at 4. */
  def withExtensionSession[T](body: SparkSession => T): T =
    withSession(GraftSession.create(_.config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config(PlanChoice.MinInputBytesKey, "0")
      .withExtensions(new GraftExtensions)))(body)
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query has an oracle and runs non-empty") {
    assert(Relational.oracle.keySet == Relational.defs.keySet)
    Relational.defs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      assert(df.count() > 0, name) // every query returns >=1 row at sf0.001
    }
  }

  test("driver contract: SparkEntry.entry returns rows (smoke)") {
    // the driver smoke-checks entry() rows>0 each round; pin it here
    // so a breakage surfaces in the suite, not in the round report
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("s1 full-scan count equals direct parquet count") {
    val expect = Tables.load(spark, sf, "lineitem").count()
    val got = Relational.defs("s1_full_scan_count")(spark, sf)
      .collect()(0).getLong(0)
    assert(got == expect)
  }

  test("filters are consistent subsets") {
    val total = Tables.load(spark, sf, "lineitem").count()
    val f5 = Relational.defs("f5_between")(spark, sf).collect()(0).getLong(0)
    assert(f5 > 0 && f5 < total)
  }

  test("2-way join count equals manual join") {
    import org.apache.spark.sql.functions._
    val o = Tables.load(spark, sf, "orders")
    val c = Tables.load(spark, sf, "customer")
    val expect = o.join(c, o("o_custkey") === c("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING" &&
        col("o_orderdate") <= to_timestamp(lit("1998-01-01 00:00:00")))
      .count()
    val got = Relational.defs("j1_join_2way")(spark, sf).collect()(0).getLong(0)
    assert(got == expect)
  }

  test("10-way full-schema join count equals manual DataFrame join") {
    import org.apache.spark.sql.functions._
    val l = Tables.load(spark, sf, "lineitem").filter(col("l_quantity") < 10)
    val o = Tables.load(spark, sf, "orders").filter(col("o_orderstatus") === "F")
    val c = Tables.load(spark, sf, "customer")
    val s = Tables.load(spark, sf, "supplier")
    val n = Tables.load(spark, sf, "nation")
    val r = Tables.load(spark, sf, "region")
    val p = Tables.load(spark, sf, "part").filter(col("p_size").between(1, 40))
    val e = Tables.load(spark, sf, "events").filter(col("event_type") === "purchase")
    val d = Tables.load(spark, sf, "documents").filter(col("lang") === "en")
    val v = Tables.load(spark, sf, "embeddings").filter(col("label") < 8)
    val expect = l
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(n, s("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
      .join(e, e("user_id") === c("c_custkey"))
      .join(d, d("doc_id") === e("user_id"))
      .join(v, v("vec_id") === d("doc_id"))
      .count()
    val got = Relational.defs("j1_join_10way")(spark, sf).collect()(0).getLong(0)
    assert(got == expect && got > 0, s"10-way: got $got expect $expect")
  }

  test("17-relation multi-alias join count equals manual DataFrame join") {
    import org.apache.spark.sql.functions._
    val l = Tables.load(spark, sf, "lineitem").filter(col("l_quantity") < 10)
    val o = Tables.load(spark, sf, "orders").filter(col("o_orderstatus") === "F")
    val c = Tables.load(spark, sf, "customer")
    val s = Tables.load(spark, sf, "supplier")
    val n1 = Tables.load(spark, sf, "nation")
    val r1 = Tables.load(spark, sf, "region")
    val p = Tables.load(spark, sf, "part").filter(col("p_size").between(1, 40))
    val e = Tables.load(spark, sf, "events").filter(col("event_type") === "purchase")
    val d = Tables.load(spark, sf, "documents").filter(col("lang") === "en")
    val v = Tables.load(spark, sf, "embeddings").filter(col("label") < 8)
    // the seven alias repeats: fresh loads = fresh attribute ids
    val n2 = Tables.load(spark, sf, "nation")
    val r2 = Tables.load(spark, sf, "region")
    val s2 = Tables.load(spark, sf, "supplier").filter(col("s_acctbal") > 0)
    val n3 = Tables.load(spark, sf, "nation")
    val c2 = Tables.load(spark, sf, "customer").filter(col("c_acctbal") > 0)
    val d2 = Tables.load(spark, sf, "documents").filter(col("n_chars") > 0)
    val v2 = Tables.load(spark, sf, "embeddings").filter(col("label") >= 0)
    val expect = l
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(n1, s("s_nationkey") === n1("n_nationkey"))
      .join(r1, n1("n_regionkey") === r1("r_regionkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
      .join(e, e("user_id") === c("c_custkey"))
      .join(d, d("doc_id") === e("user_id"))
      .join(v, v("vec_id") === d("doc_id"))
      .join(n2, c("c_nationkey") === n2("n_nationkey"))
      .join(r2, n2("n_regionkey") === r2("r_regionkey"))
      .join(s2, l("l_suppkey") === s2("s_suppkey"))
      .join(n3, s2("s_nationkey") === n3("n_nationkey"))
      .join(c2, c2("c_custkey") === e("user_id"))
      .join(d2, d2("doc_id") === v("vec_id"))
      .join(v2, v2("vec_id") === d("doc_id"))
      .filter(r1("r_name") =!= r2("r_name") ||
        n2("n_nationkey").isin(1, 2, 3))
      .count()
    val got = Relational.defs("j1_join_17rel")(spark, sf).collect()(0).getLong(0)
    assert(got == expect && got > 0, s"17-rel: got $got expect $expect")
  }

  test("17-relation join is alias-repeat lookup-only: no fan-out vs 10-way") {
    // every relation past the j10way core is attached by a key-lookup
    // or 1:1 edge, so the 17-rel count can never EXCEED the 10-way
    // count filtered by the extra predicates — i.e. it is bounded by
    // the 10-way count itself (the r1!=r2/IN disjunction and alias
    // filters only shrink it)
    val c17 = Relational.defs("j1_join_17rel")(spark, sf).collect()(0).getLong(0)
    val c10 = Relational.defs("j1_join_10way")(spark, sf).collect()(0).getLong(0)
    assert(c17 <= c10, s"alias tail fanned out: 17rel=$c17 > 10way=$c10")
  }

  test("q1 group agg is deterministic and grouped correctly") {
    val rows = Relational.defs("q1_group_agg")(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 6)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("salted skew join equals plain join and avoids broadcast") {
    import graft.queries.Extended
    val plain = Tables.sql(spark, sf,
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers
        |FROM supplier s, nation n WHERE s.s_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = Extended.defs("x6_salted_skew_join")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(salted == plain)
    // the salted path must actually run as a shuffle join on the
    // composite (key, salt) — broadcast would defeat the demonstration
    val plan = Extended.defs("x6_salted_skew_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("as-of join compiles to a single window pass, not a join") {
    import graft.queries.Extended
    import org.apache.spark.sql.functions.{col, unix_micros}
    val df = Extended.defs("x7_asof_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), s"as-of should be join-free:\n$plan")
    // row-level semantics: every as-of click is at-or-before its
    // purchase (joining back to events is test-side only)
    val purchaseTs = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("p_us"))
    val joined = df.join(purchaseTs, "event_id")
      .select(col("asof_us"), col("p_us")).collect()
    assert(joined.length > 100)
    assert(joined.forall(r => r.getLong(0) <= r.getLong(1)),
      "an as-of click is later than its purchase")
  }

  test("range join runs as an equi-join on bins, never a nested loop") {
    import graft.queries.Extended
    val df = Extended.defs("x8_range_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // bands partition the quantity domain: totals must equal row count
    val total = Tables.load(spark, sf, "lineitem").count()
    assert(rows.values.sum == total, s"$rows vs $total")
  }

  test("events table loads with microsecond timestamps") {
    val e = Tables.load(spark, sf, "events")
    assert(e.schema("ts").dataType.typeName == "timestamp")
    assert(e.count() > 0)
  }
}
