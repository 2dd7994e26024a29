package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.planopt._
import graft.plans.PlanChoice
import graft.queries.Relational

/** r18: the calibrated Bayesian margin gate (route only when the
  * comparator's predicted gain clears its own uncertainty — the r17
  * verdict's fix for the stock-conf E2E routing tax) and the adaptive
  * label-escalation band (the r17 verdict's floor lever). */
class MarginGateSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- pure pieces ----

  /** A calibration's chosen (z threshold, score-gap threshold, net
    * gain) — the triple the calibrator cases assert on. */
  private def chosen(c: Pipelines.GateCalibration) =
    (c.threshold, c.scoreGapThreshold, c.netGainMs)

  private val DeployedDir = "results/r18_stable_1000/stable_model"

  /** The bit-pinned fixture: the native sort-merge plan, its
    * broadcast rewrite, and a 3-way join. */
  private def threeJoinPlans: Seq[PlanFeatures.PlanNode] = {
    import PlanFeatures.PlanNode
    def scan(rel: String, rows: Double, width: Int) = PlanNode("FileScan", rows, width, Some(rel), Nil)
    def op(name: String, rows: Double, width: Int, kids: PlanNode*) = PlanNode(name, rows, width, None, kids)
    def shuffle(c: PlanNode) = op("ShuffleExchange", c.rowsEst, c.width, c)
    def sorted(c: PlanNode) = op("Sort", c.rowsEst, c.width, shuffle(c))
    val orders = op("Filter", 7500, 16, scan("orders", 15000, 16))
    val customer = scan("customer", 1500, 8)
    val smj = op("HashAggregate", 1, 8, op("HashAggregate", 1, 8,
      op("SortMergeJoin", 7500, 24, sorted(orders), sorted(customer))))
    val bhj = op("HashAggregate", 1, 8, op("HashAggregate", 1, 8,
      op("BroadcastHashJoin", 7500, 24, orders, op("BroadcastExchange", 1500, 8, customer))))
    val threeWay = op("HashAggregate", 1, 8, op("HashAggregate", 1, 8,
      op("BroadcastHashJoin", 30000, 32,
        op("SortMergeJoin", 30000, 24, sorted(scan("lineitem", 60000, 16)), sorted(orders)),
        op("BroadcastExchange", 10, 8, scan("supplier", 10, 8)))))
    Seq(smj, bhj, threeWay)
  }

  test("ambiguousIdxs flags exactly the candidates in the gap band") {
    // gaps: (100,110) ~9% in-band; (100,150)=33% out; (100,102)=2% under
    val amb = Candidates.ambiguousIdxs(Seq(100.0, 110.0, 150.0), 0.04, 0.25)
    assert(amb == Set(0, 1))
    assert(Candidates.ambiguousIdxs(Seq(100.0, 102.0), 0.04, 0.25).isEmpty)
    assert(Candidates.ambiguousIdxs(Seq(100.0, 400.0), 0.04, 0.25).isEmpty)
    // 4/104 ≈ 0.0385 < lo → not flagged; a lower lo flags it
    assert(Candidates.ambiguousIdxs(Seq(100.0, 104.0), 0.04, 0.25).isEmpty)
    assert(Candidates.ambiguousIdxs(Seq(100.0, 104.0), 0.03, 0.25) ==
      Set(0, 1))
    // the band is exclusive at both edges: gap == lo (4/100) and
    // gap == hi (25/100) are not flagged
    assert(Candidates.ambiguousIdxs(Seq(96.0, 100.0), 0.04, 0.25).isEmpty)
    assert(Candidates.ambiguousIdxs(Seq(75.0, 100.0), 0.04, 0.25).isEmpty)
  }

  test("calibrateThreshold maximizes realized net gain, ties to larger t") {
    // two confident wins (z=3, gain +100), one confident loss (z=0.5,
    // gain -80): the best thresholds exclude the loss
    val mixed = Seq((3.0, 0.3, 100.0), (3.0, 0.3, 100.0), (0.5, 0.05, -80.0))
    val (zm, gm, netm) = chosen(Pipelines.calibrateThreshold(mixed))
    assert(netm == 200.0)
    assert(!(0.5 > zm && 0.05 > gm) && 3.0 > zm && 0.3 > gm,
      s"thresholds (zt=$zm gt=$gm) should route both wins and exclude the loss")
    // ties pick the more conservative pair: routing everything and
    // routing only the first triple both net 100, so the larger
    // thresholds that drop the zero-gain triple win
    assert(chosen(Pipelines.calibrateThreshold(Seq((3.0, 0.3, 100.0), (1.0, 0.1, 0.0)))) ==
      (1.0, 0.1, 100.0))
    // all-negative: route nothing
    val losers = Seq((1.0, 0.1, -5.0), (2.0, 0.2, -5.0))
    val (zl, gl, netl) = chosen(Pipelines.calibrateThreshold(losers))
    assert(netl == 0.0 && losers.forall { case (z, g, _) => !(z > zl && g > gl) },
      s"an all-negative set routed something (zt=$zl gt=$gl)")
    // empty: conservative default
    assert(chosen(Pipelines.calibrateThreshold(Nil)) == (0.0, 0.0, 0.0))
    // z < 0 never routes: the z threshold is never negative, so a
    // sub-coin-flip winner stays declined however large its gain
    val (zn, _, netn) = chosen(Pipelines.calibrateThreshold(Seq((-1.0, 0.5, 50.0))))
    assert(zn >= 0.0 && netn == 0.0)
  }

  test("calibrateThreshold separates gain axis from uncertainty axis") {
    // stock-conf shape: small-gap small-gain pairs lose once overhead
    // is charged; one defensive-conf-shaped pair (moderate z, BIG
    // predicted gap, big gain) must survive — a z-only threshold
    // can't express that
    val triples = Seq(
      (2.0, 0.005, 20.0), (2.5, 0.004, 15.0), (1.8, 0.006, 25.0), // small wins
      (0.6, 0.090, 400.0))                                        // broadcast win
    val (zt, gt, net) = chosen(Pipelines.calibrateThreshold(triples, overheadMs = 40.0))
    // routing only the big-gap pair nets 360; routing everything nets
    // 300; routing none nets 0
    assert(net == 360.0, s"net=$net (zt=$zt gt=$gt)")
    assert(zt < 0.6 && gt >= 0.006 && gt < 0.09,
      s"thresholds (zt=$zt gt=$gt) should route only the big-gap pair")
    // empty: conservative default
    assert(chosen(Pipelines.calibrateThreshold(Nil)) == (0.0, 0.0, 0.0))
  }

  test("snapResolutionTies merges sub-resolution groups, keeps resolved order") {
    // (100, 102) within 3% -> tie group; 150 stays apart; transitive
    // closure chains 100-102-104 into one group
    val (a, b) = Ranking.snapResolutionTies(
      Seq(100.0, 102.0, 150.0), Seq(101.0, 99.0, 160.0), eps = 0.03)
    assert(a(0) == a(1) && b(0) == b(1), "tie group not snapped")
    assert(a(2) == 150.0 && b(2) == 160.0, "resolved candidate touched")
    // snapped group value is the per-vector mean
    assert(a(0) == 101.0 && b(0) == 100.0)
    val (c, d) = Ranking.snapResolutionTies(
      Seq(100.0, 102.0, 104.0), Seq(100.0, 102.0, 104.0), eps = 0.03)
    assert(c.distinct.size == 1 && d.distinct.size == 1,
      "transitive closure not applied")
    // a snapped tie removes the flip penalty from the floor metric
    val rawFloor = Ranking.rankingLoss(
      Seq(Seq(100.0, 102.0)), Seq(Seq(101.0, 99.0))).get
    val (s1, s2) = Ranking.snapResolutionTies(Seq(100.0, 102.0), Seq(101.0, 99.0))
    val snapFloor = Ranking.rankingLoss(Seq(s2), Seq(s1))
    assert(rawFloor == 2.0, "a flipped 2-candidate query costs full loss")
    assert(snapFloor.isEmpty || snapFloor.get == 0.0,
      "snapped tie still penalized")
  }

  // ---- the one route rule ----

  test("the route rule is strict on both axes and a failing gap never evaluates z") {
    assert(Gate.clears(0.3, 2.0, threshold = 1.0, scoreGapThreshold = 0.2))
    assert(!Gate.clears(0.2, 2.0, 1.0, 0.2), "gap == gapThr must decline")
    assert(!Gate.clears(0.3, 1.0, 1.0, 0.2), "z == thr must decline")
    assert(!Gate.clears(0.2, sys.error("z evaluated"), 1.0, 0.2))
    assert(!Gate.clears(-0.1, sys.error("z evaluated"), 1.0, 0.2))
    // the calibrator's net gain counts exactly the pairs that route:
    // only the first clears both axes (the second sits at thr, the
    // third at gapThr)
    val pairs = Seq((2.0, 0.3, 50.0), (1.0, 0.3, 70.0), (2.0, 0.2, 90.0))
    assert(Gate.netGainMs(pairs, 1.0, 0.2, overheadMs = 10.0) == 40.0)
  }

  test("serving declines a native argmin and a failing gap without the Bayesian forward") {
    // picks without trees: evaluating z would throw on the missing
    // native tree, so a decline that returns proves z was not reached
    def pickOf(scores: Double*) = new Gate.Pick(Nil, scores.toArray)
    val bm = new BayesianModelPairWise(8)
    val permissive = Gate(bm, -1e9, -1e9)
    assert(pickOf(1.0, 2.0, 1.0).best == 0, "ties go to the first index")
    assert(!permissive.routes(pickOf(1.0, 2.0, 1.0)), "a native argmin must decline")
    assert(pickOf(3.0, 1.0, 1.0).best == 1)
    assert(!Gate(bm, -1e9, 2.0).routes(pickOf(3.0, 1.0)), "gap == gapThr must decline")
    // a gap that clears does reach z
    intercept[NoSuchElementException](permissive.routes(pickOf(3.0, 1.0)))
  }

  test("serving's argmin, gap and z are the calibrator's, bit for bit, on the deployed gate") {
    val (model, gen) = ModelIO.load(DeployedDir)
    val gate = ModelIO.loadGate(DeployedDir).get
    val pick = Gate.pick(model, gen, threeJoinPlans)
    val Seq((z, gap, gainMs)) = Pipelines.gatePairs(
      Seq(Pipelines.LabeledQuery("q", threeJoinPlans, Seq(30.0, 20.0, 10.0))), gen, model, gate.bm)
    val bits = java.lang.Double.doubleToLongBits _
    assert(pick.best == 1 && gainMs == 10.0)
    assert(bits(pick.gap) == bits(gap) && bits(pick.z(gate.bm)) == bits(z))
    // ...and both are the pinned numbers of the test below: the
    // scores' gap and z of the (smj, bhj) pair's (p, v)
    val d = java.lang.Double.longBitsToDouble _
    assert(bits(gap) == bits(d(0x3ff52cb5fab7f476L) - d(0xc00d712c0682436dL)))
    assert(bits(z) == bits((d(0x3fef8a5f75b493bdL) - 0.5) / math.sqrt(d(0x3ff0000006870cb5L))))
    assert(gate.routes(pick), s"the deployed gate (thr ${gate.threshold}) declined z=$z gap=$gap")
  }

  // ---- the deployed gate's numbers ----

  test("deployed r18 gate and comparator score three join trees bit for bit") {
    val (model, gen) = ModelIO.load(DeployedDir)
    val bm = ModelIO.loadGate(DeployedDir).get.bm
    val trees = threeJoinPlans.map(gen.transform)
    val scores = model.predict(trees).toSeq
    val pairs = Seq(bm.predictPair(trees(0), trees(1)), bm.predictPair(trees(0), trees(2)))
    val got = (scores ++ pairs.flatMap(pv => Seq(pv._1, pv._2))).map(java.lang.Double.doubleToLongBits)
    // captured while predictPair still ran a separate per-tree
    // forward; the order is the three scores, then (p, v) of
    // (smj, bhj) and of (smj, threeWay)
    val expected = Seq(0x3ff52cb5fab7f476L, 0xc00d712c0682436dL, 0x3fef79558b495002L,
      0x3fef8a5f75b493bdL, 0x3ff0000006870cb5L, 0x3f7631539b643747L, 0x3ff0000000e2e523L)
    assert(got == expected, got.map(b => f"0x$b%016xL").mkString(", "))
  }

  // ---- gate persistence ----

  test("ModelIO gate roundtrip is bit-exact and optional") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    val bm = new BayesianModelPairWise(gen.featureDim, seed = 77)
    val t1 = gen.transform(cands.head.plan)
    val t2 = gen.transform(cands.last.plan)
    val dir = java.nio.file.Files.createTempDirectory("graft_gate").toString
    assert(ModelIO.loadGate(dir).isEmpty, "missing gate files must load as None")
    ModelIO.saveGate(dir, bm,
      Pipelines.GateCalibration(1.25, 10, 4, 123.0, 100.0, 0.017))
    val Gate(bm2, thr, gapThr) = ModelIO.loadGate(dir).get
    assert(thr == 1.25 && gapThr == 0.017)
    val (p1, v1) = bm.predictPair(t1, t2)
    val (p2, v2) = bm2.predictPair(t1, t2)
    assert(p1 == p2 && v1 == v2, "persisted gate must score bit-identically")
  }

  // ---- in-engine behavior ----

  test("gate declines routing below threshold, routes above, caches declines") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    // find a model seed whose ungated pick is NOT the session-native
    // plan, so the permissive-gate arm genuinely exercises routing
    val seed = (1 to 40).find { s =>
      PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = s), gen)
      try withExtensionSession { s2 =>
        graft.engine.Tables.registerAll(s2, sf)
        PlanChoice.lastChoice.set(None)
        build(s2).collect()
        PlanChoice.lastChoice.get().exists(_.knobLabel != "session-default")
      } finally PlanChoice.uninstall()
    }
    assert(seed.isDefined, "no seed picked a non-native plan — test setup broken")
    val model = new LeroModelPairWise(gen.featureDim, seed = seed.get)
    val bm = new BayesianModelPairWise(gen.featureDim, seed = 5)

    // (a) prohibitive threshold: every query declines, decline is cached
    PlanChoice.install(model, gen)
    PlanChoice.installGate(Gate(bm, 1e9, 0.0))
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      PlanChoice.lastChoice.set(None)
      val before = PlanChoice.gateDeclineCount.get()
      val n = build(s2).collect()(0).getLong(0)
      assert(n > 0)
      assert(PlanChoice.lastChoice.get().isEmpty,
        "routed despite a prohibitive gate threshold")
      assert(PlanChoice.gateDeclineCount.get() > before, "decline not counted")
      // repeat: the decline is cached (no re-sweep, still native)
      val cached = PlanChoice.gateDeclineCount.get()
      assert(build(s2).collect()(0).getLong(0) == n)
      assert(PlanChoice.gateDeclineCount.get() > cached,
        "cached decline not taken")
      // re-installing the same model without a gate drops the cached
      // decline, and the query routes ungated
      val key = Candidates.canonicalKey(build(s2).queryExecution.optimizedPlan)
      assert(PlanChoice.choiceCache.get(key) == PlanChoice.Remembered.Declined)
      PlanChoice.install(model, gen)
      assert(!PlanChoice.choiceCache.containsKey(key), "the cached decline survived re-install")
      PlanChoice.lastChoice.set(None)
      build(s2).collect()
      assert(PlanChoice.lastChoice.get().isDefined, "the ungated model did not route")
    } finally PlanChoice.uninstall()

    // (b) permissive threshold: the non-native pick routes
    PlanChoice.install(model, gen)
    PlanChoice.installGate(Gate(bm, -1e9, 0.0))
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      PlanChoice.lastChoice.set(None)
      build(s2).collect()
      val choice = PlanChoice.lastChoice.get()
      assert(choice.isDefined, "permissive gate still declined")
      assert(choice.get.knobLabel != "session-default")
    } finally PlanChoice.uninstall()
  }

  test("a gate decline plans the whole query natively, once per query") {
    val build = (s: SparkSession) => Relational.defs("j1_join_7way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    val base = build(spark).collect()(0).getLong(0)
    // prohibitive threshold: the gate declines every query
    PlanChoice.install(new LeroModelPairWise(gen.featureDim, seed = 13), gen)
    PlanChoice.installGate(Gate(new BayesianModelPairWise(gen.featureDim, seed = 5), 1e9, 0.0))
    try withExtensionSession { s2 =>
      graft.engine.Tables.registerAll(s2, sf)
      s2.conf.set(PlanChoice.EnabledKey, "false")
      val native = Candidates.canonicalKey(build(s2).queryExecution.executedPlan)
      s2.conf.unset(PlanChoice.EnabledKey)
      // first sight: one sweep, decided once at the root — no fragment
      // is offered to the strategy, so no fragment entry or decline
      val (entries, declines) = (PlanChoice.choiceCache.size, PlanChoice.gateDeclineCount.get())
      PlanChoice.lastChoice.set(None)
      val cold = build(s2)
      assert(cold.collect()(0).getLong(0) == base)
      assert(PlanChoice.lastChoice.get().isEmpty, "routed despite a prohibitive gate threshold")
      assert(PlanChoice.choiceCache.size == entries + 1, "first sight must cache one entry")
      assert(PlanChoice.gateDeclineCount.get() == declines + 1, "first sight must decline once")
      // repeat: the cached decline, again once, and no new entry
      val hit = build(s2)
      assert(hit.collect()(0).getLong(0) == base)
      assert(PlanChoice.choiceCache.size == entries + 1, "the repeat added a cache entry")
      assert(PlanChoice.gateDeclineCount.get() == declines + 2, "the repeat must decline once")
      // the declined query runs the kill-switched session's plan
      assert(Candidates.canonicalKey(cold.queryExecution.executedPlan) == native)
      assert(Candidates.canonicalKey(hit.queryExecution.executedPlan) == native)
      // ...which is the native candidate the gate scored
      assert(Candidates.ofQuery(s2, build).head.canonical == native)
    } finally PlanChoice.uninstall()
  }

  test("installFrom restores the gate alongside the model") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build)
    val gen = PlanFeatures.FeatureGenerator.fit(cands.map(_.plan))
    val model = new LeroModelPairWise(gen.featureDim, seed = 13)
    val bm = new BayesianModelPairWise(gen.featureDim, seed = 9)
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_art").toString
    ModelIO.save(dir, model, gen)
    ModelIO.saveGate(dir, bm, Pipelines.GateCalibration(0.5, 1, 1, 1.0, 1.0, 0.0))
    PlanChoice.uninstall()
    PlanChoice.installFrom(dir)
    try {
      assert(PlanChoice.gate.isDefined, "installFrom dropped the gate")
      assert(PlanChoice.gate.get.threshold == 0.5)
    } finally PlanChoice.uninstall()
  }

  test("adaptive dual labeling keeps vector shape and respects kMax") {
    val build = (s: SparkSession) => Relational.defs("j1_join_2way")(s, sf)
    val cands = Candidates.ofQuery(spark, build).take(2)
    val Seq(l1, l2) = Candidates.label(spark, cands, vectors = 2,
      repeats = 1, adaptiveMaxRepeats = 2)
    assert(l1.map(_._1) == cands && l2.map(_._1) == cands)
    assert(l1.forall(_._2 > 0) && l2.forall(_._2 > 0))
  }
}
