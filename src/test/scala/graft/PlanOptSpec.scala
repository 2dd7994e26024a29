package graft

import breeze.linalg.DenseVector
import org.scalatest.funsuite.AnyFunSuite

import graft.planopt._
import graft.planopt.PlanFeatures._
import graft.planopt.TreeConv._

/** Featurizer + tree-conv comparator tests, mirroring the reference's
  * TreeConvolution test invariants
  * (`/root/reference/Lero/TreeConvolution/test/test_utils.py:8-47`
  * shapes, `:49-89` malformed-tree rejection;
  * `test_tree_conv.py:10-64` forward smoke) plus gradient checks the
  * reference gets for free from torch autograd.
  */
class PlanOptSpec extends AnyFunSuite {

  private def leaf(v: Double*) = FeatTree(v.toArray, None, None)
  private def node(f: Seq[Double], l: FeatTree, r: FeatTree) =
    FeatTree(f.toArray, Some(l), Some(r))

  // the two example trees of test_utils.py (features = 2-d)
  private val tree1 = node(Seq(0, 1),
    node(Seq(1, 2), leaf(0, 1), leaf(-1, 0)),
    node(Seq(-3, 0), leaf(2, 3), leaf(1, 2)))
  private val tree2 = node(Seq(16, 3),
    node(Seq(0, 1), leaf(5, 3), leaf(2, 6)),
    leaf(2, 9))

  test("prepare_trees layout matches the reference (shapes + triples)") {
    val p = prepareTrees(Seq(tree1, tree2))
    assert(p.batchSize == 2)
    // tree1: 7 nodes -> 8 rows with sentinel; tree2 padded 5->7(+1)
    assert(p.nodes(0).rows == 8 && p.nodes(0).cols == 2)
    assert(p.nodes(1).rows == 8)
    // sentinel zero row at index 0
    assert(p.nodes(0)(0, 0) == 0.0 && p.nodes(0)(0, 1) == 0.0)
    // preorder: tree1 root at row 1 = (0,1), its left at row 2 = (1,2)
    assert(p.nodes(0)(1, 0) == 0.0 && p.nodes(0)(1, 1) == 1.0)
    assert(p.nodes(0)(2, 0) == 1.0 && p.nodes(0)(2, 1) == 2.0)
    // index triples (util.py:84-111): tree1 = 7 triples
    assert(p.idxes(0).toSeq == Seq(1, 2, 5, 2, 3, 4, 3, 0, 0, 4, 0, 0, 5, 6, 7, 6, 0, 0, 7, 0, 0))
    // tree2 = 5 triples padded to 7 with zeros
    assert(p.idxes(1).toSeq == Seq(1, 2, 5, 2, 3, 4, 3, 0, 0, 4, 0, 0, 5, 0, 0, 0, 0, 0, 0, 0, 0))
  }

  test("malformed (one-sided) trees are rejected") {
    // the type itself enforces binarization — a one-sided node cannot
    // be constructed (reference raises TreeConvolutionError instead)
    intercept[IllegalArgumentException] {
      FeatTree(Array(1.0), Some(leaf(1)), None)
    }
  }

  test("LeroNet forward: finite score + 64-d pooled feature") {
    val net = new LeroNet(2, seed = 7)
    val (scores, feats, _) = net.forwardTrees(Seq(tree1, tree2))
    assert(!scores(0).isNaN && !scores(1).isNaN && scores(0) != scores(1))
    assert(feats(0).length == 64 && feats(1).length == 64)
    // deterministic under fixed seed
    val net2 = new LeroNet(2, seed = 7)
    assert(net2.forwardTrees(Seq(tree1, tree2))._1.sameElements(scores))
  }

  test("a 2-tree batch equals two single-tree batches: scores, pooled features, grads") {
    val net = new LeroNet(2, seed = 13)
    val dScores = Array(0.7, -0.3)
    val extra = Array(DenseVector.fill(64)(0.3), DenseVector.fill(64)(-0.2))
    net.zeroGrad()
    val (scores, feats, cache) = net.forwardTrees(Seq(tree1, tree2))
    net.backwardBatch(dScores, cache, Some(extra))
    val batchedGrads = net.paramGrads.map(_._2.clone())
    net.zeroGrad()
    Seq(tree1, tree2).zipWithIndex.foreach { case (t, i) =>
      val (s, f, c) = net.forwardTrees(Seq(t))
      assert(math.abs(s(0) - scores(i)) < 1e-9, s"score mismatch on tree $i")
      assert(breeze.linalg.norm(f(0) - feats(i)) < 1e-9, s"pooled mismatch on tree $i")
      net.backwardBatch(Array(dScores(i)), c, Some(Array(extra(i))))
    }
    batchedGrads.zip(net.paramGrads.map(_._2)).foreach { case (bg, sg) =>
      bg.indices.foreach { i =>
        assert(math.abs(bg(i) - sg(i)) < 1e-9, s"grad mismatch at $i")
      }
    }
  }

  test("backprop matches finite differences") {
    // objective over a 2-tree batch: a weighted sum of both scores
    // plus a linear term on each pooled feature, so the dPooledExtra
    // path the Bayesian head drives is checked as well
    val net = new LeroNet(2, seed = 11)
    val trees = Seq(tree1, tree2)
    val dScores = Array(1.0, -0.5)
    val extra = Array(DenseVector.tabulate(64)(i => 0.01 * (i % 7 - 3)),
      DenseVector.tabulate(64)(i => 0.02 * (i % 5 - 2)))
    def objective(): Double = {
      val (s, f, _) = net.forwardTrees(trees)
      trees.indices.map(i => dScores(i) * s(i) + (extra(i) dot f(i))).sum
    }
    net.zeroGrad()
    val (_, _, cache) = net.forwardTrees(trees)
    net.backwardBatch(dScores, cache, Some(extra)) // grads = dObjective/dParam
    val eps = 1e-6
    val rng = new scala.util.Random(3)
    for ((param, grad) <- net.paramGrads; _ <- 0 until 3) {
      val i = rng.nextInt(param.length)
      val orig = param(i)
      param(i) = orig + eps; val up = objective()
      param(i) = orig - eps; val dn = objective()
      param(i) = orig
      val numeric = (up - dn) / (2 * eps)
      assert(math.abs(numeric - grad(i)) <= 1e-4 * math.max(1.0, math.abs(numeric)),
        s"grad mismatch: numeric=$numeric analytic=${grad(i)}")
    }
  }

  test("pairwise training separates slow from fast plans") {
    // synthetic corpus: "slow" plans have a high-rows deep shape,
    // "fast" plans a low-rows shallow shape
    val rng = new scala.util.Random(5)
    def fast() = node(Seq(0.1 + rng.nextDouble() * 0.05, 0.1),
      leaf(0.1, 0.05), leaf(0.05, 0.1))
    def slow() = node(Seq(0.9 + rng.nextDouble() * 0.05, 0.9),
      node(Seq(0.8, 0.9), leaf(0.9, 0.8), leaf(0.8, 0.85)),
      leaf(0.9, 0.95))
    val n = 40
    val x1 = IndexedSeq.fill(n)(slow())
    val x2 = IndexedSeq.fill(n)(fast())
    val y1 = IndexedSeq.fill(n)(0.9) // slower
    val y2 = IndexedSeq.fill(n)(0.1)
    val model = new LeroModelPairWise(2, seed = 13)
    val losses = model.fit(x1, x2, y1, y2, epochs = 30, batchSize = 16)
    assert(losses.last < losses.head, s"loss did not decrease: $losses")
    // lower score = faster: fast plan must score below slow plan
    val sSlow = model.predict(Seq(slow()))(0)
    val sFast = model.predict(Seq(fast()))(0)
    assert(sFast < sSlow, s"fast=$sFast slow=$sSlow")
    // selection is the argmin score (lero_test.py:97)
    val scores = model.predict(Seq(slow(), fast(), slow()))
    assert(scores.indices.minBy(scores) == 1)
  }

  test("pointwise MSE training regresses toward targets (M10)") {
    val rng = new scala.util.Random(5)
    def fast() = node(Seq(0.1 + rng.nextDouble() * 0.05, 0.1),
      leaf(0.1, 0.05), leaf(0.05, 0.1))
    def slow() = node(Seq(0.9 + rng.nextDouble() * 0.05, 0.9),
      node(Seq(0.8, 0.9), leaf(0.9, 0.8), leaf(0.8, 0.85)),
      leaf(0.9, 0.95))
    val n = 30
    val x = IndexedSeq.fill(n)(slow()) ++ IndexedSeq.fill(n)(fast())
    val y = IndexedSeq.fill(n)(0.9) ++ IndexedSeq.fill(n)(0.1)
    val model = new LeroModelPointWise(2, seed = 37)
    val losses = model.fit(x, y, epochs = 40, batchSize = 16)
    assert(losses.last < losses.head)
    val ps = model.predict(Seq(slow(), fast()))
    assert(ps(0) > ps(1)) // higher predicted latency for the slow plan
  }

  test("bayesian pairwise head trains and orders probabilities") {
    val rng = new scala.util.Random(5)
    def fast() = node(Seq(0.1 + rng.nextDouble() * 0.05, 0.1),
      leaf(0.1, 0.05), leaf(0.05, 0.1))
    def slow() = node(Seq(0.9 + rng.nextDouble() * 0.05, 0.9),
      node(Seq(0.8, 0.9), leaf(0.9, 0.8), leaf(0.8, 0.85)),
      leaf(0.9, 0.95))
    val n = 30
    val model = new BayesianModelPairWise(2, seed = 19)
    val losses = model.fit(
      IndexedSeq.fill(n)(slow()), IndexedSeq.fill(n)(fast()),
      IndexedSeq.fill(n)(0.9), IndexedSeq.fill(n)(0.1),
      epochs = 30, batchSize = 16)
    assert(losses.last < losses.head)
    val (pSlowFirst, v1) = model.predictPair(slow(), fast())
    val (pFastFirst, _) = model.predictPair(fast(), slow())
    assert(pSlowFirst > pFastFirst) // P(plan1 slower) higher when plan1 IS slower
    assert(v1 > 0)
  }

  test("spearman + ranking loss match scipy semantics") {
    assert(Ranking.spearman(Seq(1, 2, 3), Seq(1, 2, 3)) == 1.0)
    assert(Ranking.spearman(Seq(1, 2, 3), Seq(3, 2, 1)) == -1.0)
    assert(math.abs(Ranking.spearman(Seq(1, 2, 2, 3), Seq(1, 2, 3, 4)) - 0.9486832980505139) < 1e-12)
    assert(math.abs(Ranking.spearman(Seq(3, 1, 2), Seq(10, 20, 30)) - (-0.5)) < 1e-12)
    assert(Ranking.spearman(Seq(1, 1, 1), Seq(1, 2, 3)).isNaN)
    // ranking loss: perfect prediction -> 0; constant rows skipped
    val rl = Ranking.rankingLoss(
      Seq(Seq(1.0, 2, 3), Seq(5.0, 5, 5)),
      Seq(Seq(10.0, 20, 30), Seq(1.0, 2, 3)))
    assert(rl.contains(0.0))
    assert(Ranking.trainingPairs(Seq("a", "b", "c")).length == 3)
    assert(Ranking.rankScore(3, 0) == 9.0 && Ranking.rankScore(2, 1) == 16.0)
  }

  test("ranking-loss noise floor: one near-tie flip on a 2-candidate query moves loss by 2/n") {
    // The stable pipeline's metric is 1 − mean Spearman per query. A
    // 2-candidate query only ever contributes ρ = ±1, so re-measuring
    // labels and flipping ONE near-tie order (e.g. 136 ms vs 140 ms,
    // inside measurement noise) moves the loss by 2/n — with n = 32
    // test queries that is 0.0625 PER FLIP. This is why run-to-run
    // loss deltas of ~0.2 (r7 0.0875 → r8 0.2688 → r9 0.0750 on
    // byte-identical code/queries/seed) need a label-noise reading,
    // not a model explanation: StableMain measures the relabel floor
    // each run (r7-vs-r8 label sets of the same queries: 0.15–0.20).
    val truth = Seq(Seq(100.0, 200.0), Seq(136.0, 140.0), Seq(50.0, 90.0),
      Seq(10.0, 30.0))
    val perfect = Ranking.rankingLoss(truth, truth)
    assert(perfect.contains(0.0))
    // relabel pass flips only the near-tie query (index 1)
    val relabel = Seq(Seq(101.0, 198.0), Seq(141.0, 137.0), Seq(52.0, 88.0),
      Seq(11.0, 29.0))
    val floor = Ranking.rankingLoss(relabel, truth)
    assert(floor.isDefined && math.abs(floor.get - 2.0 / 4) < 1e-12,
      s"one flip over 4 two-candidate queries must cost 2/4: $floor")
  }

  test("feature generator: binarization + normalization invariants") {
    val scan1 = PlanNode("FileScan", 1000, 32, Some("lineitem"), Nil)
    val scan2 = PlanNode("FileScan", 50, 16, Some("orders"), Nil)
    val join = PlanNode("SortMergeJoin", 800, 48, None, Seq(scan1, scan2))
    val agg = PlanNode("HashAggregate", 10, 8, None, Seq(join)) // unary
    val gen = FeatureGenerator.fit(Seq(agg), Seq(120.0))
    val t = gen.transform(agg)
    // unary agg binarized: right child is a zero Unknown leaf
    val right = t.right.get
    assert(right.left.isEmpty && right.right.isEmpty)
    assert(right.feature(0) == 1.0) // Unknown one-hot at index 0
    assert(right.feature.drop(1).forall(_ == 0.0))
    // feature dim = |ops| + tables+1 + 2
    assert(gen.featureDim == PlanFeatures.OpTypes.length + 2 + 1 + 2)
    assert(t.feature.length == gen.featureDim)
    // normalized rows within [0,1] for in-corpus values
    val rowsIdx = gen.featureDim - 1
    assert(t.feature(rowsIdx) >= 0.0 && t.feature(rowsIdx) <= 1.0)
    // join node accumulates both tables (multiset encoding)
    val joinFea = t.left.get.feature
    val tblBase = PlanFeatures.OpTypes.length
    assert(joinFea(tblBase) == 1.0 && joinFea(tblBase + 1) == 1.0)
    // labels round-trip through the normalizer
    val y = gen.normLabel(120.0)
    assert(math.abs(gen.inverseLabel(y) - 120.0) < 1e-9)
  }

  test("model save/load round-trips a trained comparator bit-identically") {
    // trained model + fitted featurizer → directory → back, with the
    // reference's saved-model semantics (model.py:100-126: weights +
    // feature_generator + input_feature_dim) but JSON/binary, no pickle
    val scanA = PlanNode("FileScan", 1000, 32, Some("lineitem"), Nil)
    val scanB = PlanNode("FileScan", 50, 16, Some("orders"), Nil)
    val join = PlanNode("SortMergeJoin", 800, 48, None, Seq(scanA, scanB))
    val agg = PlanNode("HashAggregate", 10, 8, None, Seq(join))
    val deep = PlanNode("Sort", 900, 48, None, Seq(join))
    val gen = FeatureGenerator.fit(Seq(agg, deep), Seq(120.0, 480.0))
    val tA = gen.transform(agg)
    val tB = gen.transform(deep)

    val model = new LeroModelPairWise(gen.featureDim, seed = 13)
    model.fit(IndexedSeq(tB, tB), IndexedSeq(tA, tA),
      IndexedSeq(0.9, 0.9), IndexedSeq(0.1, 0.1), epochs = 5, batchSize = 2)
    val before = model.predict(Seq(tA, tB))

    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    ModelIO.save(dir, model, gen)
    val (m2, g2) = ModelIO.load(dir)

    assert(g2.featureDim == gen.featureDim)
    assert(g2.opTypes == gen.opTypes)
    assert(g2.inputRelations == gen.inputRelations)
    assert(g2.normalizer.mins == gen.normalizer.mins) // exact doubles
    assert(g2.normalizer.maxs == gen.normalizer.maxs)
    // re-featurize through the LOADED generator and re-score through
    // the LOADED net: scores must be bit-identical
    val after = m2.predict(Seq(g2.transform(agg), g2.transform(deep)))
    assert(before.sameElements(after),
      s"${before.toSeq} vs ${after.toSeq}")
    // weight arrays are bit-identical too
    model.net.paramGrads.zip(m2.net.paramGrads).foreach {
      case ((p1, _), (p2, _)) => assert(p1.sameElements(p2))
    }
  }

  test("model load rejects a dim-mismatched weights file") {
    val scan = PlanNode("FileScan", 10, 8, Some("lineitem"), Nil)
    val gen = FeatureGenerator.fit(Seq(scan), Seq(1.0))
    val model = new LeroModelPairWise(gen.featureDim, seed = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_model_bad").toString
    ModelIO.save(dir, model, gen)
    // truncate the weights file: load must fail loudly, not corrupt
    val wf = java.nio.file.Paths.get(dir, "nn_weights.bin")
    val bytes = java.nio.file.Files.readAllBytes(wf)
    java.nio.file.Files.write(wf, bytes.take(bytes.length / 2))
    intercept[Exception] { ModelIO.load(dir) }
  }

  test("SparkPlan walker featurizes a real join plan") {
    import SparkTestSession._
    val df = graft.queries.Relational.defs("j1_join_2way")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val node = PlanFeatures.fromSparkPlan(plan)
    val all = node.allNodes
    assert(all.exists(_.opType == "FileScan"))
    val rels = all.flatMap(_.relation)
    assert(rels.toSet.subsetOf(Set("orders", "customer")) && rels.nonEmpty)
    // featurize + prepare: full path must run
    val gen = FeatureGenerator.fit(Seq(node))
    val ft = gen.transform(node)
    val p = prepareTrees(Seq(ft))
    assert(p.nodes(0).rows == ft.size + 1)
    assert(p.idxes(0).length == 3 * ft.size)
  }
}
