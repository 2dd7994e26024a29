package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.planopt.{Candidates, LeroModelPairWise, PlanFeatures}
import graft.plans.PlanChoice
import graft.queries.Relational

/** In-engine learned plan choice (SURVEY §7.4): a session built with
  * GraftExtensions must TRANSPARENTLY execute the physical variant the
  * pairwise comparator scores best — same user code, model-chosen
  * plan — and the results must equal the base session's. */
class PlannerInjectionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("extension session executes the model-chosen physical variant") {
    // train-side artifacts from the BASE session (no extensions — the
    // strategy must not fire during the labeling sweep)
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    assert(cands.size >= 2, "need plan diversity for a meaningful choice")
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    val model = new LeroModelPairWise(gen.featureDim, seed = 29)
    val baseResult = build(spark).collect()(0).getLong(0)

    PlanChoice.install(model, gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      PlanChoice.lastChoice.set(None)
      val df = Relational.defs("j1_join_2way")(s2, sf)
      val got = df.collect()(0).getLong(0)
      // 1) transparent correctness: same result as the base session
      assert(got == baseResult)
      // 2) the strategy actually fired and scored multiple candidates
      val choice = PlanChoice.lastChoice.get()
      assert(choice.isDefined, "LearnedPlanStrategy never fired")
      assert(choice.get.nCandidates >= 2)
      assert(choice.get.scores.size == choice.get.nCandidates)
      // 3) the EXECUTED plan is the argmin candidate, provably: its
      // canonical form equals the recorded chosen canonical
      val executedCanonical =
        Candidates.canonicalKey(df.queryExecution.executedPlan)
      assert(executedCanonical == choice.get.canonical,
        s"executed plan is not the chosen candidate:\n$executedCanonical\nvs\n${choice.get.canonical}")
      // 4) argmin semantics (lero_test.py:97): chosen index minimizes score
      val scores = choice.get.scores
      assert(scores.indices.minBy(scores) ==
        scores.indexOf(scores.min))
      // 5) steady state: the repeat query hits the choice cache —
      // same knob choice, single planning (nCandidates == 1), and the
      // executed plan still equals the originally chosen candidate
      PlanChoice.lastChoice.set(None)
      val df2 = Relational.defs("j1_join_2way")(s2, sf)
      assert(df2.collect()(0).getLong(0) == baseResult)
      val cachedChoice = PlanChoice.lastChoice.get()
      assert(cachedChoice.isDefined)
      assert(cachedChoice.get.nCandidates == 1, "expected choice-cache hit")
      assert(cachedChoice.get.knobLabel == choice.get.knobLabel)
      assert(Candidates.canonicalKey(df2.queryExecution.executedPlan)
        == choice.get.canonical)
    } finally PlanChoice.uninstall()
  }

  test("write commands route the query subtree, never the command") {
    // regression: firing on a v2 write root made the nested planning
    // EXECUTE the write per knob and featurize the constant
    // CommandResult (identical scores for every candidate)
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 41), gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      PlanChoice.lastChoice.set(None)
      Relational.defs("j1_join_2way")(s2, sf)
        .write.format("noop").mode("overwrite").save()
      val choice = PlanChoice.lastChoice.get()
      assert(choice.isDefined, "strategy did not fire for the write's query subtree")
      // the chosen plan is the QUERY (has a join), not a command shell
      assert(choice.get.canonical.contains("Join"), choice.get.canonical)
      assert(!choice.get.canonical.contains("OverwriteByExpression") &&
        !choice.get.canonical.contains("noop-table"),
        s"swept the write command itself: ${choice.get.canonical.linesIterator.next()}")
      // a repeated identical write must hit the choice cache — the
      // command's canonical embeds raw exprIds that change per run, so
      // caching under it (the original bug) could never hit
      PlanChoice.lastChoice.set(None)
      Relational.defs("j1_join_2way")(s2, sf)
        .write.format("noop").mode("overwrite").save()
      val second = PlanChoice.lastChoice.get()
      assert(second.isDefined)
      assert(second.get.nCandidates == 1,
        "second write of the same query re-swept instead of hitting the cache")
    } finally PlanChoice.uninstall()
  }

  test("size bypass skips the sweep for tiny inputs and is conf-tunable") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 7), gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      // restore the default bypass threshold: sf0.001 inputs (<1 MB)
      // are far below 4 MB, so the strategy must decline
      s2.conf.set(PlanChoice.MinInputBytesKey,
        PlanChoice.DefaultMinInputBytes.toString)
      PlanChoice.lastChoice.set(None)
      val before = PlanChoice.bypassCount.get()
      val n = Relational.defs("j1_join_2way")(s2, sf).collect()(0).getLong(0)
      assert(n > 0)
      assert(PlanChoice.lastChoice.get().isEmpty,
        "tiny query was routed despite the size bypass")
      assert(PlanChoice.bypassCount.get() == before + 1,
        "bypass not counted once for the query")
      // drop the threshold: the same query now routes
      s2.conf.set(PlanChoice.MinInputBytesKey, "0")
      PlanChoice.lastChoice.set(None)
      Relational.defs("j1_join_2way")(s2, sf).collect()
      assert(PlanChoice.lastChoice.get().isDefined,
        "query did not route with the bypass disabled")
    } finally PlanChoice.uninstall()
  }

  test("installFrom loads a saved model directory and routes with it") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    val model = new LeroModelPairWise(gen.featureDim, seed = 61)
    val dir = java.nio.file.Files.createTempDirectory("graft_install").toString
    graft.planopt.ModelIO.save(dir, model, gen)
    PlanChoice.uninstall()
    PlanChoice.installFrom(dir) // deployment path: no retraining
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      PlanChoice.lastChoice.set(None)
      val df = Relational.defs("j1_join_2way")(s2, sf)
      df.collect()
      val choice = PlanChoice.lastChoice.get()
      assert(choice.isDefined, "loaded model did not route")
      // the loaded net is bit-identical to the saved one: same scores
      val expected = model.predict(cands.map(c => gen.transform(c.plan)))
      val loaded = PlanChoice.current.get
      val got = loaded._1.predict(cands.map(c => loaded._2.transform(c.plan)))
      assert(expected.sameElements(got))
    } finally PlanChoice.uninstall()
  }

  test("strategy is dormant without an installed model") {
    PlanChoice.uninstall()
    withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      PlanChoice.lastChoice.set(None)
      val n = Relational.defs("j1_join_2way")(s2, sf).collect()(0).getLong(0)
      assert(n > 0)
      assert(PlanChoice.lastChoice.get().isEmpty, "strategy fired with no model")
    }
  }

  test("kill-switch conf disables routing even with a model installed") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 3), gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      s2.conf.set(PlanChoice.EnabledKey, "false")
      PlanChoice.lastChoice.set(None)
      val n = Relational.defs("j1_join_2way")(s2, sf).collect()(0).getLong(0)
      assert(n > 0)
      assert(PlanChoice.lastChoice.get().isEmpty, "kill-switch ignored")
    } finally PlanChoice.uninstall()
  }

  test("join-order variants give the comparator a real order choice on the 7-way family") {
    // unit level: the variant generator finds >=2 connected orders of
    // the optimized plan's join region (r4 verdict item 8)
    val optimized = Relational.defs("j1_join_7way")(spark, sf)
      .queryExecution.optimizedPlan
    val vs = graft.planopt.JoinOrders.variants(optimized)
    assert(vs.size >= 2, "no alternative connected join order generated")

    // integration level: routing the 7-way query scores candidates
    // drawn from >=2 distinct join orders, and the rewritten orders
    // preserve semantics
    val build = (s: SparkSession) => Relational.defs("j1_join_7way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 13), gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      val base = build(spark).collect()(0).getLong(0)
      PlanChoice.lastChoice.set(None)
      val got = build(s2).collect()(0).getLong(0)
      assert(got == base, "order-rewritten candidate changed the result")
      val choice = PlanChoice.lastChoice.get()
      assert(choice.isDefined, "strategy did not fire on the 7-way join")
      assert(choice.get.nOrders >= 2,
        s"only ${choice.get.nOrders} join order(s) among ${choice.get.nCandidates} candidates")
      // repeat hits the choice cache and still returns the same result
      PlanChoice.lastChoice.set(None)
      assert(build(s2).collect()(0).getLong(0) == base)
      assert(PlanChoice.lastChoice.get().exists(_.nCandidates == 1),
        "expected choice-cache hit on the repeated 7-way query")
    } finally PlanChoice.uninstall()
  }

  test("a fresh sweep leaves the live conf and no sweep thread behind; hit plan = cold plan") {
    val build = (s: SparkSession) => Relational.defs("j1_join_7way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 13), gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      val confBefore = s2.conf.getAll
      PlanChoice.lastChoice.set(None)
      val cold = build(s2).queryExecution.executedPlan
      val choice = PlanChoice.lastChoice.get()
      assert(choice.exists(_.nCandidates > 1), "no fresh sweep ran")
      assert(s2.conf.getAll == confBefore, "the sweep changed the live session's conf")
      val sweepThreads = Thread.getAllStackTraces.keySet.toArray
        .collect { case t: Thread if t.getName.startsWith("graft-sweep-") && t.isAlive => t.getName }
      assert(sweepThreads.isEmpty, s"sweep threads outlived planning: ${sweepThreads.mkString(",")}")
      PlanChoice.lastChoice.set(None)
      val hit = build(s2).queryExecution.executedPlan
      assert(PlanChoice.lastChoice.get().exists(_.nCandidates == 1), "expected a choice-cache hit")
      assert(Candidates.canonicalKey(hit) == Candidates.canonicalKey(cold))
      assert(Candidates.canonicalKey(cold) == choice.get.canonical)
    } finally PlanChoice.uninstall()
  }

  test("non-join queries bypass the strategy") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 5), gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      PlanChoice.lastChoice.set(None)
      val n = Relational.defs("s1_full_scan_count")(s2, sf).collect()(0).getLong(0)
      assert(n > 0)
      assert(PlanChoice.lastChoice.get().isEmpty, "fired on a scan-only query")
    } finally PlanChoice.uninstall()
  }
}
