package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.planopt._
import graft.queries.{JoinVariants, Relational}

/** Candidate-plan generator + labeler tests (SURVEY §7.4 "done"
  * criteria): multiple distinct physical plans per join query, result
  * equality across variants; the deployed argmin chooser is pinned
  * by PlannerInjectionSpec. */
class CandidatesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def build(name: String)(s: org.apache.spark.sql.SparkSession) =
    Relational.defs(name)(s, sf)

  test("knob sweep yields >=2 distinct physical plans for joins") {
    for (q <- Seq("j1_join_2way", "j1_join_5way", "j1_join_7way")) {
      val cands = Candidates.enumerate(spark, build(q))
      assert(cands.size >= 2, s"$q produced ${cands.size} distinct plans")
      // canonical strings really differ
      assert(cands.map(_.canonical).distinct.size == cands.size)
    }
  }

  test("every candidate returns identical results") {
    val q = "j1_join_2way"
    val cands = Candidates.enumerate(spark, build(q))
    val counts = cands.map { c =>
      val (n, _) = Candidates.execute(spark, build(q), c.knobs)
      n
    }
    assert(counts.distinct.size == 1, s"variant results differ: $counts")
  }

  test("hint-steered J2 variants agree with the base join") {
    val base = Relational.defs("j1_join_2way")(spark, sf).collect()(0).getLong(0)
    JoinVariants.defs.foreach { case (name, fn) =>
      val got = fn(spark, sf).collect()(0).getLong(0)
      assert(got == base, s"$name: $got != $base")
    }
  }

  test("hints actually change the physical join operator") {
    def joinOps(name: String): Set[String] =
      PlanFeatures.fromSparkPlan(
        JoinVariants.defs(name)(spark, sf).queryExecution.executedPlan)
        .allNodes.map(_.opType)
        .filter(_.contains("Join")).toSet
    assert(joinOps("j2_variant_merge").contains("SortMergeJoin"))
    assert(joinOps("j2_variant_broadcast").contains("BroadcastHashJoin"))
    assert(joinOps("j2_variant_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("labeling produces positive wall-clock times") {
    val cands = Candidates.enumerate(spark, build("j1_join_2way")).take(2)
    val labeled = Candidates.labelCandidatesOrdered(spark, build("j1_join_2way"), cands)
    assert(labeled.forall(_._2 > 0))
  }

  test("candidate cap keeps the default plan first and spreads across " +
    "order variants") {
    val cands = Candidates.enumerateOrdered(spark, build("j1_join_5way"))
    assert(cands.size > Pipelines.MaxLabeledPerQuery,
      s"fixture too small (${cands.size}) to engage the cap")
    val capped = Candidates.capCandidates(cands, Pipelines.MaxLabeledPerQuery)
    assert(capped.size == Pipelines.MaxLabeledPerQuery)
    // element 0 stays the engine-default candidate (the evaluate
    // baseline contract: latenciesMs.head is the default plan)
    assert(capped.head == cands.head)
    assert(capped.head.variantIdx == 0)
    assert(capped.head.knobs == Candidates.knobGrid.head)
    // round-robin: every order variant that exists is represented
    // before any variant contributes a second plan
    val variantsAll = cands.map(_.variantIdx).distinct.sorted
    val variantsKept = capped.map(_.variantIdx).distinct.sorted
    assert(variantsKept == variantsAll.take(Pipelines.MaxLabeledPerQuery),
      s"cap lost order diversity: kept $variantsKept of $variantsAll")
    // no duplicates, all members of the original space
    assert(capped.distinct.size == capped.size)
    assert(capped.forall(cands.contains))
    // under-cap lists pass through untouched
    assert(Candidates.capCandidates(cands.take(3), 6) == cands.take(3))
  }

  test("a shrunk variant list drops the candidate instead of " +
    "mislabeling the knob plan") {
    val cands = Candidates.enumerateOrdered(spark, build("j1_join_5way"))
    val variantCand = cands.find(_.variantIdx > 0).get
    // simulate session-state drift: the re-derived variant list no
    // longer reaches this candidate's index
    assert(Candidates.executeOrdered(spark, build("j1_join_5way"),
      variantCand, variants = Nil).isEmpty)
    // a labeling pass over [default, drifted] keeps only the default
    val drifted = Seq(cands.head.copy(variantIdx = 99), cands.head)
    val labeled = Candidates.labelCandidatesOrdered(
      spark, build("j1_join_5way"), drifted)
    assert(labeled.map(_._1) == Seq(cands.head))
  }

  test("order-aware enumeration widens the tail joins beyond the knob " +
    "sweep and every order variant returns identical results") {
    // the r13 verdict item: 10-way/17-rel joins labeled only 2
    // knob-distinct plans while the in-engine strategy scored
    // JoinOrders variants the comparator never trained on
    for (q <- Seq("j1_join_10way", "j1_join_17rel")) {
      val knobOnly = Candidates.enumerate(spark, build(q))
      val ordered = Candidates.enumerateOrdered(spark, build(q))
      assert(ordered.size > knobOnly.size,
        s"$q: ordered ${ordered.size} <= knob-only ${knobOnly.size}")
      assert(ordered.size > 2, s"$q: only ${ordered.size} candidates")
      assert(ordered.map(_.variantIdx).distinct.size >= 2,
        s"$q: no order variant survived dedupe")
      assert(ordered.map(_.canonical).distinct.size == ordered.size)
      // variant 0 candidates are EXACTLY the knob sweep (same space,
      // same order) — the ordered path only ever widens
      assert(ordered.filter(_.variantIdx == 0).map(_.canonical) ==
        knobOnly.map(_.canonical))
    }
    // result equality across order variants (correctness of the
    // rewrite + pinned re-plan), on the cheaper 5-way
    val cands = Candidates.enumerateOrdered(spark, build("j1_join_5way"))
    val variants = Candidates.orderVariants(spark, build("j1_join_5way"))
    val counts = cands.map(c =>
      Candidates.executeOrdered(spark, build("j1_join_5way"), c, variants).get._1)
    assert(counts.distinct.size == 1, s"variant results differ: $counts")
    assert(cands.exists(_.variantIdx > 0), "5-way produced no order variant")
  }

  test("planCost discriminates physical variants of one logical plan") {
    // the point of the analytic cost: same logical plan, different
    // physical operators → different costs (row counts alone tie)
    val cands = Candidates.enumerate(spark, build("j1_join_5way"))
    assert(cands.size >= 2)
    val costs = cands.map(c => Pipelines.planCost(c.plan))
    assert(costs.forall(c => c > 0 && java.lang.Double.isFinite(c)))
    assert(costs.distinct.size > 1, s"costs degenerate: $costs")
  }

  test("cost-pretrained comparator beats random init on runtime-labeled held-out") {
    // lero_train.py:91-94 semantics: before ANY runtime labels exist,
    // train the pairwise comparator on optimizer-cost labels
    // (planning only, nothing executed); it must already rank
    // runtime-labeled held-out candidates better than chance.
    val log = new Pipelines.Logger(None)
    val trainNames = Seq("j1_join_5way", "a2_min_join", "q2_join_group_topn")
    val costLabeled = Pipelines.costWorkload(spark,
      trainNames.map(n => n -> build(n) _), log)
    val (fg, pretrained) = Pipelines.train(costLabeled, epochs = 60, seed = 5L)

    // held-out on the KNOB space the cost labels cover (see
    // costWorkload's comment: order variants are runtime-label
    // territory — the analytic cost cannot rank them at gate SF)
    val testNames = Seq("j1_join_2way", "j1_join_7way")
    val runtimeLabeled = testNames.map { n =>
      val cands = Candidates.enumerate(spark, build(n))
      val labeled = Candidates.labelCandidatesOrdered(spark, build(n), cands)
      Pipelines.LabeledQuery(n, labeled.map(_._1.plan), labeled.map(_._2))
    }
    def lossOf(m: LeroModelPairWise): Double =
      Ranking.rankingLoss(
        runtimeLabeled.map(q => m.predict(q.plans.map(fg.transform)).toSeq),
        runtimeLabeled.map(_.latenciesMs)).get
    val pre = lossOf(pretrained)
    val rand = lossOf(new LeroModelPairWise(fg.featureDim, seed = 5L))
    assert(pre <= rand,
      f"cost-pretrained loss $pre%.4f worse than random-init $rand%.4f")
  }

  test("finetune: frozen-featurizer refresh learns new labels through the artifact") {
    // the reference's tuning_model_path mode, composed with pretrain:
    // cost-pretrain (no execution) → save → deploy → fine-tune on the
    // first runtime labels → save again. Assertions are deterministic
    // by construction (no cross-run wall-clock comparisons — measured
    // latencies only define the fixed labels both passes share):
    //  1. fine-tuning strictly improves the model's ranking of its
    //     own fine-tuning labels;
    //  2. the artifact lifecycle is lossless — a model loaded from
    //     disk fine-tunes to bit-identical scores, and re-saving the
    //     fine-tuned net round-trips bit-identically.
    val log = new Pipelines.Logger(None)
    val costLabeled = Pipelines.costWorkload(spark,
      Seq("j1_join_5way", "a2_min_join", "q2_join_group_topn")
        .map(n => n -> build(n) _), log)
    val (fg, pretrained) = Pipelines.train(costLabeled, epochs = 60, seed = 5L)
    val dir = java.nio.file.Files.createTempDirectory("graft_pretrained").toString
    ModelIO.save(dir, pretrained, fg)

    val runtimeFew = Pipelines.labelWorkload(spark,
      Seq("j1_join_2way", "j1_join_7way").map(n => n -> build(n) _), log)
    def lossOn(m: LeroModelPairWise, set: Seq[Pipelines.LabeledQuery]): Double =
      Ranking.rankingLoss(
        set.map(q => m.predict(q.plans.map(fg.transform)).toSeq),
        set.map(_.latenciesMs)).get

    val (loaded, fg2) = ModelIO.load(dir)
    val before = lossOn(loaded, runtimeFew)
    Pipelines.finetune(fg2, loaded, runtimeFew, epochs = 40)
    val after = lossOn(loaded, runtimeFew)
    assert(after <= before,
      f"finetune worsened its own labels: $before%.4f -> $after%.4f")

    // loaded-then-finetuned ≡ finetuned-in-memory: ModelIO.load is
    // bit-exact and fit is deterministic per (weights, seed), but the
    // rng STATE differs (fresh model vs advanced) — so compare via a
    // second load instead: finetune the same loaded state twice
    val (loaded2, _) = ModelIO.load(dir)
    Pipelines.finetune(fg2, loaded2, runtimeFew, epochs = 40)
    val probe = runtimeFew.head.plans.map(fg2.transform)
    assert(loaded.predict(probe).sameElements(loaded2.predict(probe)),
      "identical loaded states diverged under identical finetuning")

    // re-save the fine-tuned model: round-trip must be bit-exact
    val dir2 = java.nio.file.Files.createTempDirectory("graft_finetuned").toString
    ModelIO.save(dir2, loaded, fg2)
    val (reloaded, _) = ModelIO.load(dir2)
    assert(loaded.predict(probe).sameElements(reloaded.predict(probe)))
  }

  test("pointwise rank-score pretraining orders candidates by cost rank") {
    val names = Seq("j1_join_5way", "j1_join_7way", "a2_min_join")
    val costLabeled = Pipelines.costWorkload(spark, names.map(n => n -> build(n) _))
    val (fg, model) = Pipelines.trainPointwiseRankScore(
      costLabeled, scoreType = 0, epochs = 80, seed = 11L)
    // on its own training queries the pointwise net must reproduce the
    // cost ordering's argmin (the cold-start chooser contract)
    val agree = costLabeled.count { q =>
      val scores = model.predict(q.plans.map(fg.transform))
      scores.indices.minBy(scores) == q.latenciesMs.indices.minBy(q.latenciesMs)
    }
    assert(agree >= names.size - 1, s"argmin agreement $agree/${names.size}")
  }
}
