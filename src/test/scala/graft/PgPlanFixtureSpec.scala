package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.planopt.{PgPlanImporter, Pipelines, PlanFeatures}
import graft.planopt.PlanFeatures.PlanNode

/** Hermetic twin of [[RefCorpusSpec]]: the same `PgPlanImporter`
  * paths, driven by a small hand-written PG EXPLAIN-JSON file in the
  * corpus format (`src/test/resources/pgplans/explain_fixture.txt`,
  * one query per line, candidates separated by `#####`, a leading qid
  * field). Its lines, by index:
  *  - 0: a 2-way join with hash / nested-loop / merge candidates;
  *  - 1: a 3-input `Append` (outside the PG vocabulary) and a node
  *    without a `Node Type`;
  *  - 2: a bare-object candidate, one without `Execution Time`, and an
  *    array candidate;
  *  - 3: SQL text only (no plan); 4: empty; 5: a single candidate.
  */
class PgPlanFixtureSpec extends AnyFunSuite {

  private lazy val qs = PgPlanImporter.loadCorpus(
    getClass.getResource("/pgplans/explain_fixture.txt").getPath)

  private def byQid(qid: String) = qs.find(_.qid == qid).get

  test("fixture: parses every plan-bearing line into labeled candidates") {
    assert(qs.map(_.qid) == Seq("ref0", "ref1", "ref2", "ref5"))
    assert(qs.map(_.plans.size) == Seq(3, 2, 2, 1))
    // labels are each candidate's Execution Time, in candidate order;
    // the candidate without one is skipped, the rest of its line kept
    assert(qs.map(_.latenciesMs) ==
      Seq(Seq(41.5, 12.0, 88.25), Seq(30.0, 19.5), Seq(5.0, 0.75), Seq(2.5)))
    val hashJoin = byQid("ref0").plans.head
    assert(hashJoin.opType == "Aggregate")
    val join = hashJoin.children.head
    assert(join.opType == "Hash Join" && join.rowsEst == 1200.0 && join.width == 8)
    assert(join.allNodes.flatMap(_.relation) == Seq("posts", "users"))
  }

  test("fixture: multi-input nodes are binarized left-deep") {
    val append = byQid("ref1").plans.head.children.head
    // Append(c, v, b) -> Append(Append(c, v), b)
    assert(append.opType == "Append" && append.children.size == 2)
    assert(append.children.head.opType == "Append")
    assert(append.allNodes.count(_.opType == "Append") == 2)
    assert(append.allNodes.flatMap(_.relation) == Seq("comments", "votes", "badges"))
    assert(qs.flatMap(_.plans).flatMap(_.allNodes).forall(_.children.size <= 2))
  }

  test("fixture: PG op vocabulary, with Unknown for ops outside it") {
    val nodes = qs.flatMap(_.plans).flatMap(_.allNodes)
    val outside = nodes.map(_.opType).distinct.filterNot(PlanFeatures.PgOpTypes.contains)
    assert(outside == Seq("Append"))
    // a node without a Node Type imports as Unknown
    val untyped = byQid("ref1").plans(1).children.head.children(1)
    assert(untyped.opType == PlanFeatures.UnknownOp && untyped.rowsEst == 250.0)

    val fg = PlanFeatures.FeatureGenerator.fit(qs.flatMap(_.plans),
      qs.flatMap(_.latenciesMs), PlanFeatures.PgOpTypes)
    def opIndex(p: PlanNode) = fg.transform(p).feature.take(fg.opTypes.size).indexOf(1.0)
    val unknown = PlanFeatures.PgOpTypes.indexOf(PlanFeatures.UnknownOp)
    assert(opIndex(byQid("ref1").plans.head.children.head) == unknown) // Append
    assert(opIndex(untyped) == unknown)
    assert(opIndex(byQid("ref0").plans(1).children.head) ==
      PlanFeatures.PgOpTypes.indexOf("Nested Loop"))
  }

  test("fixture: featurize -> train -> evaluate round trip") {
    val (fg, model) = Pipelines.train(qs, epochs = 20, seed = 17L,
      opTypes = PlanFeatures.PgOpTypes)
    assert(fg.opTypes == PlanFeatures.PgOpTypes)
    assert(fg.inputRelations == Vector("badges", "comments", "posts", "users", "votes"))
    assert(fg.featureDim == PlanFeatures.PgOpTypes.size + fg.inputRelations.size + 1 + 2)
    val res = Pipelines.evaluate(fg, model, qs)
    assert(res.rankingLoss.exists(l => l >= 0.0 && l <= 2.0), res.rankingLoss)
    // single-candidate queries are neither trained nor scored
    assert(res.leroDict.keySet == Set("ref0", "ref1", "ref2"))
    res.leroDict.foreach { case (qid, sec) =>
      assert(byQid(qid).latenciesMs.map(_ / 1000.0).contains(sec), qid)
    }
    assert(math.abs(res.defaultTotalSec - (41.5 + 30.0 + 5.0) / 1000.0) < 1e-12)
  }
}
