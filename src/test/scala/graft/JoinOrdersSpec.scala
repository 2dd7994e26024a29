package graft

import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite

import graft.planopt.{Candidates, JoinOrders}
import graft.queries.Relational

/** Unit contract of the join-order variant generator
  * ([[graft.planopt.JoinOrders]]): connected-only rebuilds (no cross
  * products, no residual Filter from unplaced conditions), original
  * always first, degenerate shapes left alone, schema pinned. */
class JoinOrdersSpec extends AnyFunSuite {
  import SparkTestSession._

  private def optimized(name: String): LogicalPlan =
    Relational.defs(name)(spark, sf).queryExecution.optimizedPlan

  private def joinsOf(p: LogicalPlan): Seq[Join] =
    p.collect { case j: Join => j }

  test("2-way joins return only the original (no order freedom)") {
    val vs = JoinOrders.variants(optimized("j1_join_2way"))
    assert(vs.size == 1)
  }

  test("7-way joins produce alternative orders, original first") {
    val q = optimized("j1_join_7way")
    val vs = JoinOrders.variants(q)
    assert(vs.head eq q, "variant 0 must be the original plan")
    assert(vs.size >= 2)
    // each rewrite is a genuinely different tree from the original
    vs.tail.foreach(v => assert(v.canonicalized != q.canonicalized))
  }

  test("rebuilt orders are connected: every join has a condition, no residual filter") {
    val q = optimized("j1_join_7way")
    JoinOrders.variants(q).tail.foreach { v =>
      joinsOf(v).foreach { j =>
        assert(j.condition.isDefined,
          s"cross product introduced:\n${j.simpleString(3)}")
      }
      // the rebuild parks unplaceable conditions in a Filter directly
      // above a Join — connected orders must never need one (filters
      // above other operators, e.g. scan predicates, are fine)
      v.foreach {
        case Filter(_, _: Join) =>
          fail("residual join condition left as a Filter on a Join")
        case _ => ()
      }
    }
  }

  test("variants keep the query schema (output order pinned)") {
    val q = optimized("j1_join_7way")
    JoinOrders.variants(q).foreach { v =>
      assert(v.output.map(a => (a.name, a.dataType)) ==
        q.output.map(a => (a.name, a.dataType)))
    }
  }

  test("7-way joins carry >=3 distinct trees including a BUSHY shape") {
    val q = optimized("j1_join_7way")
    val vs = JoinOrders.variants(q)
    // >=3 genuinely distinct join trees (original + rewrites)
    assert(vs.size >= 3)
    assert(vs.map(_.canonicalized).distinct.size == vs.size,
      "variants must be canonically distinct")
    // at least one variant is bushy: some join's RIGHT child contains
    // another join (left-deep trees only ever nest on the left)
    def isBushy(p: LogicalPlan): Boolean =
      joinsOf(p).exists(j => j.right.collectFirst { case jj: Join => jj }.isDefined)
    assert(!isBushy(q) || vs.size >= 3, "baseline sanity")
    assert(vs.tail.exists(isBushy),
      "no bushy variant among the 7-way rewrites")
    // bushy variants stay connected: every join has a condition
    vs.tail.filter(isBushy).foreach { v =>
      joinsOf(v).foreach(j => assert(j.condition.isDefined,
        s"bushy rewrite introduced a cross product:\n${j.simpleString(3)}"))
    }
  }

  test("10-way full-schema joins produce >=2 connected alternative orders") {
    // the reference's join tail reaches 17 tables (create_sql.py
    // samples connected subgraphs of the whole JOB graph); the 10-way
    // gate is our schema's upper tail — the enumerator must still
    // find genuinely different connected orders there
    val q = optimized("j1_join_10way")
    val vs = JoinOrders.variants(q)
    assert(vs.head eq q, "variant 0 must be the original plan")
    assert(vs.size >= 2, s"only ${vs.size} variants on the 10-way join")
    assert(vs.map(_.canonicalized).distinct.size == vs.size)
    vs.tail.foreach { v =>
      assert(v.canonicalized != q.canonicalized)
      joinsOf(v).foreach(j => assert(j.condition.isDefined,
        s"10-way rewrite introduced a cross product:\n${j.simpleString(3)}"))
      assert(v.output.map(a => (a.name, a.dataType)) ==
        q.output.map(a => (a.name, a.dataType)))
    }
  }

  test("17-relation multi-alias joins still enumerate connected orders") {
    // the reference's measured maximum is 17 relations (JOB multi-
    // alias queries); repeated aliases of the same table must not
    // confuse the enumerator's connectivity test (distinct attribute
    // ids per alias keep the edges distinct)
    val q = optimized("j1_join_17rel")
    val vs = JoinOrders.variants(q)
    assert(vs.head eq q, "variant 0 must be the original plan")
    assert(vs.size >= 2, s"only ${vs.size} variants on the 17-rel join")
    assert(vs.map(_.canonicalized).distinct.size == vs.size)
    vs.tail.foreach { v =>
      assert(v.canonicalized != q.canonicalized)
      joinsOf(v).foreach(j => assert(j.condition.isDefined,
        s"17-rel rewrite introduced a cross product:\n${j.simpleString(3)}"))
      assert(v.output.map(a => (a.name, a.dataType)) ==
        q.output.map(a => (a.name, a.dataType)))
    }
  }

  test("variant generation is deterministic (cache reconstruction contract)") {
    val q = optimized("j1_join_5way")
    val a = JoinOrders.variants(q).map(_.canonicalized.toString)
    val b = JoinOrders.variants(q).map(_.canonicalized.toString)
    assert(a == b)
  }

  test("variant shapes are pinned for the 5-, 7-, 10-way and 17-relation joins") {
    // SHA-256 of every variant's canonical key, joined by newlines: a
    // change to the enumerator that moves ANY variant (a losing or
    // declined one included) shows here, not only a routed winner
    def shapes(name: String): String = {
      val keys = JoinOrders.variants(optimized(name)).map(Candidates.canonicalKey)
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(keys.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val pinned = Seq(
      "j1_join_5way" -> "8374c8c65797fc2fb0a4ae0b67f8e964dfb042164bbadb07e76a5f5b4599867f",
      "j1_join_7way" -> "09e4bf3738f00196a09b57d2023c03168b6831eadae0949ab4053a28b18f4a5e",
      "j1_join_10way" -> "f7c4630d55320c7837a119faa097e4fefad777168dc6ccd65636c1f007fad430",
      "j1_join_17rel" -> "9f2bdb43682ccc23bc0138de5521fad85624d3b85fbc25d639e5c8b626c2b5c8")
    pinned.foreach { case (name, want) => assert(shapes(name) == want, name) }
  }

  test("plans without inner joins are untouched") {
    val q = optimized("s1_full_scan_count")
    val vs = JoinOrders.variants(q)
    assert(vs.size == 1 && (vs.head eq q))
  }
}
