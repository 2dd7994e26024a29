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
      val cands = Candidates.ofQuery(spark, build(q))
      val knobOnly = cands.filter(_.variantIdx == 0)
      assert(knobOnly.size >= 2, s"$q produced ${knobOnly.size} distinct plans")
      // canonical strings really differ
      assert(cands.map(_.canonical).distinct.size == cands.size)
    }
  }

  test("every candidate returns identical results") {
    val q = "j1_join_2way"
    val cands = Candidates.ofQuery(spark, build(q))
    val counts = cands.map(c => Candidates.onCandidate(spark, c)(_.count()))
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
    val cands = Candidates.ofQuery(spark, build("j1_join_2way")).take(2)
    val Seq(labeled) = Candidates.label(spark, cands)
    assert(labeled.map(_._1) == cands)
    assert(labeled.forall(_._2 > 0))
  }

  test("candidate cap keeps the default plan first and spreads across " +
    "order variants") {
    val cands = Candidates.ofQuery(spark, build("j1_join_5way"))
    assert(cands.size > Pipelines.MaxLabeledPerQuery,
      s"fixture too small (${cands.size}) to engage the cap")
    val capped = Candidates.capCandidates(cands, Pipelines.MaxLabeledPerQuery)
    assert(capped.size == Pipelines.MaxLabeledPerQuery)
    // element 0 stays the session-native candidate (the evaluate
    // baseline contract: latenciesMs.head is the default plan)
    assert(capped.head == cands.head)
    assert(capped.head.variantIdx == 0)
    assert(capped.head.knobs.isEmpty)
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

  test("order-aware enumeration widens the tail joins beyond the knob " +
    "sweep and every order variant returns identical results") {
    // the r13 verdict item: 10-way/17-rel joins labeled only 2
    // knob-distinct plans while the in-engine strategy scored
    // JoinOrders variants the comparator never trained on
    for (q <- Seq("j1_join_10way", "j1_join_17rel")) {
      val ordered = Candidates.ofQuery(spark, build(q))
      val knobOnly = ordered.filter(_.variantIdx == 0)
      assert(ordered.size > knobOnly.size,
        s"$q: ordered ${ordered.size} <= knob-only ${knobOnly.size}")
      assert(ordered.size > 2, s"$q: only ${ordered.size} candidates")
      assert(ordered.map(_.variantIdx).distinct.size >= 2,
        s"$q: no order variant survived dedupe")
      assert(ordered.map(_.canonical).distinct.size == ordered.size)
      // variant 0 candidates are the native plan plus the physical
      // grid (same space, same order), each planned here from scratch
      // under its confs — the order variants only ever widen
      val native = Candidates.withConfs(spark, Seq("spark.sql.adaptive.enabled" -> "false")) {
        Candidates.canonicalKey(build(q)(spark).queryExecution.executedPlan)
      }
      val grid = Candidates.knobGrid.map(k => Candidates.withConfs(spark, k.confs) {
        Candidates.canonicalKey(build(q)(spark).queryExecution.executedPlan)
      })
      val expected = (native +: grid).distinct
      assert(knobOnly.map(_.canonical) == expected)
      assert(knobOnly.head.knobs.isEmpty)
      assert(knobOnly.tail.map(_.knobs.get) ==
        knobOnly.tail.map(c => Candidates.knobGrid(grid.indexOf(c.canonical))))
    }
    // result equality across order variants (correctness of the
    // rewrite + pinned re-plan), on the cheaper 5-way
    val cands = Candidates.ofQuery(spark, build("j1_join_5way"))
    val counts = cands.map(c => Candidates.onCandidate(spark, c)(_.count()))
    assert(counts.distinct.size == 1, s"variant results differ: $counts")
    assert(cands.exists(_.variantIdx > 0), "5-way produced no order variant")
  }

  test("labeling labels what serving scores: same candidates, same executed plans") {
    // Lero trains on the candidates its plan explorer produces and
    // ranks candidates from that same explorer: the labeling sweep
    // must reproduce the strategy's scored set, and every labeled
    // candidate must execute as the plan that was scored
    graft.engine.Tables.registerAll(spark, sf)
    val pool7 = graft.plans.PoolChoices.queries.find(_._1.startsWith("7way")).get._2
    val queries = Seq[(String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
      "j1_join_5way" -> build("j1_join_5way"), "pool_7way" -> (s => s.sql(pool7)))
    val gen = PlanFeatures.FeatureGenerator.fit(
      queries.flatMap { case (_, b) => Candidates.ofQuery(spark, b).map(_.plan) })
    graft.plans.PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 13), gen)
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      // a hash exchange prints its partition count
      val partitions = Seq("spark.sql.shuffle.partitions" -> s2.conf.get("spark.sql.shuffle.partitions"))
      queries.foreach { case (name, b) =>
        graft.plans.PlanChoice.lastChoice.set(None)
        b(s2).queryExecution.executedPlan
        val scored = graft.plans.PlanChoice.lastChoice.get().map(_.keys)
        assert(scored.exists(_.size >= 2), s"$name: the strategy did not sweep")
        Candidates.withConfs(spark, partitions) {
          val labeled = Candidates.ofQuery(spark, b)
          assert(labeled.map(_.canonical) == scored.get, s"$name: labeled set != scored set")
          labeled.foreach { c =>
            val executed = Candidates.onCandidate(spark, c)(df =>
              Candidates.canonicalKey(df.queryExecution.executedPlan))
            assert(executed == c.canonical,
              s"$name: [${c.knobLabel}] variant ${c.variantIdx} executes a different plan")
          }
          // cost labels train on the join-order-free part of the same
          // set: the scored variant-0 candidates, in order
          if (name == "j1_join_5way") {
            val costCands = Pipelines.costCandidates(spark, b)
            assert(costCands.forall(_.variantIdx == 0), s"$name: cost labels sweep a join-order variant")
            assert(costCands.map(_.canonical) == labeled.filter(_.variantIdx == 0).map(_.canonical),
              s"$name: cost-labeled set != scored variant-0 set")
            assert(Pipelines.costWorkload(spark, Seq(name -> b)).head.plans == costCands.map(_.plan))
          }
        }
      }
    } finally graft.plans.PlanChoice.uninstall()
  }

  test("planCost discriminates physical variants of one logical plan") {
    // the point of the analytic cost: same logical plan, different
    // physical operators → different costs (row counts alone tie)
    val cands = Candidates.ofQuery(spark, build("j1_join_5way")).filter(_.variantIdx == 0)
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
      val cands = Candidates.ofQuery(spark, build(n)).filter(_.variantIdx == 0)
      val Seq(labeled) = Candidates.label(spark, cands)
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
      Seq("j1_join_2way", "j1_join_7way").map(n => n -> build(n) _), log).head
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
