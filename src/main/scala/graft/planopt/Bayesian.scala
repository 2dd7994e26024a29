package graft.planopt

import breeze.linalg.DenseVector

import graft.planopt.PlanFeatures.FeatTree
import graft.planopt.TreeConv.LinearLayer

/** Uncertainty-aware pairwise comparator (SURVEY.md §2.2 M15) — the
  * Bayesian head of `/root/reference/Lero/model.py:361-520`,
  * reimplemented cleanly (the reference class hierarchy is dead code:
  * `BayesianNet.__init__` calls `super(LeroNet, ...)` and
  * `BayesianHead` extends a typo'd `nn.Modeule`, `model.py:363,400`
  * — SURVEY §2.2 says port the semantics, not the bugs).
  *
  * Head (`model.py:400-412`): Linear(128→32) → LeakyReLU →
  * Linear(32→2) → sigmoid on both outputs; input is the concatenated
  * 64-d pooled features of the two candidate plans; output[0] =
  * P(plan1 slower), output[1] = "log variance" (sigmoid-squashed, as
  * in the reference).
  *
  * Loss (`custom_nll_loss`, `model.py:392-398`): heteroscedastic
  * α·(½·logσ² + (y−p)²/2σ²) with σ² = exp(logvar); α down-weights
  * near-tie pairs: γ (default 0.2) when |Y1−Y2| < 0.1 else 1
  * (`model.py:415,449`).
  */
final class BayesianHead(seed: Long = 23L) {
  private val rng = new scala.util.Random(seed)
  val fc1 = new LinearLayer(128, 32, rng)
  val fc2 = new LinearLayer(32, 2, rng)

  final case class Cache(x: DenseVector[Double], h1: DenseVector[Double],
                         a1: DenseVector[Double], out: DenseVector[Double])

  /** (prob, logVar, cache) from concatenated pooled features. */
  def forward(fea1: DenseVector[Double], fea2: DenseVector[Double]): (Double, Double, Cache) = {
    val x = DenseVector.vertcat(fea1, fea2)
    val h1 = fc1.forward(x)
    val a1 = h1.map(v => if (v > 0) v else TreeConv.LeakyReLU.Slope * v)
    val z = fc2.forward(a1)
    val out = z.map(v => 1.0 / (1.0 + math.exp(-v)))
    (out(0), out(1), Cache(x, h1, a1, out))
  }

  /** Backward from (dProb, dLogVar); returns (dFea1, dFea2). */
  def backward(dProb: Double, dLogVar: Double, c: Cache): (DenseVector[Double], DenseVector[Double]) = {
    // sigmoid backward on both outputs
    val dZ = DenseVector(
      dProb * c.out(0) * (1 - c.out(0)),
      dLogVar * c.out(1) * (1 - c.out(1)))
    val dA1 = fc2.backward(c.a1, dZ)
    val dH1 = DenseVector.tabulate(dA1.length)(i =>
      if (c.h1(i) > 0) dA1(i) else TreeConv.LeakyReLU.Slope * dA1(i))
    val dX = fc1.backward(c.x, dH1)
    (dX(0 until 64), dX(64 until 128))
  }

  def zeroGrad(): Unit = { fc1.zeroGrad(); fc2.zeroGrad() }

  def paramGrads: Seq[(Array[Double], Array[Double])] = Seq(
    (fc1.w.data, fc1.dW.data), (fc1.b.data, fc1.dB.data),
    (fc2.w.data, fc2.dW.data), (fc2.b.data, fc2.dB.data))
}

object Bayesian {

  /** `custom_nll_loss` (`model.py:392-398`): α·(½·lv + (y−p)²/2e^lv).
    * Returns (loss, dLoss/dProb, dLoss/dLogVar). */
  def nllLoss(prob: Double, logVar: Double, target: Double, alpha: Double): (Double, Double, Double) = {
    val variance = math.exp(logVar)
    val loss = alpha * (0.5 * logVar + (target - prob) * (target - prob) / (2 * variance))
    val dProb = alpha * (prob - target) / variance
    val dLogVar = alpha * (0.5 - (target - prob) * (target - prob) / (2 * variance))
    (loss, dProb, dLogVar)
  }

  /** Pair weight α (`model.py:449`): γ for near-ties. */
  def pairAlpha(y1: Double, y2: Double, gamma: Double = 0.2,
                deltaThreshold: Double = 0.1): Double =
    if (math.abs(y1 - y2) < deltaThreshold) gamma else 1.0
}

/** Pairwise trainer with the Bayesian head on a shared LeroNet trunk
  * (`BayesianModelPairWise.fit`, `model.py:415-520`). */
final class BayesianModelPairWise(val featureDim: Int, seed: Long = 23L,
                                  gamma: Double = 0.2, deltaThreshold: Double = 0.1) {
  val net = new LeroNet(featureDim, seed)
  val head = new BayesianHead(seed)
  private val shuffleRng = new scala.util.Random(seed ^ 0xbee5)

  def fit(x1: IndexedSeq[FeatTree], x2: IndexedSeq[FeatTree],
          y1: IndexedSeq[Double], y2: IndexedSeq[Double],
          epochs: Int = 100, batchSize: Int = 64): Seq[Double] = {
    require(x1.length == x2.length && x1.length == y1.length && y1.length == y2.length)
    val labels = y1.indices.map(i => if (y1(i) >= y2(i)) 1.0 else 0.0)
    val alphas = y1.indices.map(i => Bayesian.pairAlpha(y1(i), y2(i), gamma, deltaThreshold))
    val opt = new Adam(net.paramGrads ++ head.paramGrads)
    val losses = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 0 until epochs) {
      val order = shuffleRng.shuffle(x1.indices.toVector)
      var lossAccum = 0.0; var nBatches = 0
      order.grouped(batchSize).foreach { batch =>
        net.zeroGrad(); head.zeroGrad()
        val bSize = batch.length
        // both pair sides through ONE batched trunk pass (same scheme
        // as LeroModelPairWise.fit)
        val (_, feats, bcache) = net.forwardTrees(batch.flatMap(i => Seq(x1(i), x2(i))))
        var batchLoss = 0.0
        val dPooled = new Array[DenseVector[Double]](2 * bSize)
        batch.zipWithIndex.foreach { case (i, j) =>
          val (prob, logVar, hc) = head.forward(feats(2 * j), feats(2 * j + 1))
          val (loss, dProb, dLogVar) = Bayesian.nllLoss(prob, logVar, labels(i), alphas(i))
          batchLoss += loss
          val scale = 1.0 / bSize
          val (dFea1, dFea2) = head.backward(dProb * scale, dLogVar * scale, hc)
          dPooled(2 * j) = dFea1; dPooled(2 * j + 1) = dFea2
        }
        net.backwardBatch(new Array[Double](2 * bSize), bcache, Some(dPooled))
        opt.step()
        lossAccum += batchLoss / bSize
        nBatches += 1
      }
      losses += lossAccum / math.max(1, nBatches)
    }
    losses.toSeq
  }

  /** (P(plan1 slower), predictive variance) for a pair. Each side
    * runs in its own one-tree forward: a stacked pair past
    * `ParGemm.SliceRows` rows would be sliced differently, and the
    * deployed gate's z could move in the last bit. */
  def predictPair(t1: FeatTree, t2: FeatTree): (Double, Double) = {
    val fea1 = net.forwardTrees(Seq(t1))._2(0)
    val fea2 = net.forwardTrees(Seq(t2))._2(0)
    val (prob, logVar, _) = head.forward(fea1, fea2)
    (prob, math.exp(logVar))
  }
}

/** The calibrated margin gate a model artifact carries (r17 verdict
  * #2) and the one route rule that serving
  * (`plans.LearnedPlanStrategy`), calibration
  * ([[Pipelines.calibrateThreshold]]) and recalibration
  * ([[GateRecalMain]]) share, so the guard that is calibrated is the
  * guard that serves. `threshold` is on the Bayesian z-score,
  * `scoreGapThreshold` on the comparator's predicted gain — see
  * [[Pipelines.GateCalibration]]. */
final case class Gate(bm: BayesianModelPairWise, threshold: Double,
                      scoreGapThreshold: Double) {

  /** Whether serving routes to `pick`'s argmin: never when it IS the
    * native plan, else only when its gap and then its z clear the
    * thresholds. The Bayesian forward runs only once the gap clears. */
  def routes(pick: Gate.Pick): Boolean =
    pick.best != 0 && Gate.clears(pick.gap, pick.z(bm), threshold, scoreGapThreshold)
}

object Gate {

  /** The comparator's pick among one query's candidate trees (the
    * native plan first) under its `scores`: the argmin, lowest score
    * and first index on ties (`lero_test.py:97`). */
  final class Pick(val trees: Seq[FeatTree], val scores: Array[Double]) {
    val best: Int = scores.indices.minBy(scores)

    /** Predicted gain of routing: score(native) − score(best). */
    def gap: Double = scores(0) - scores(best)

    /** z = (P(native slower) − 0.5)/σ of (native, best) under `bm`. */
    def z(bm: BayesianModelPairWise): Double = {
      val (p, v) = bm.predictPair(trees.head, trees(best))
      (p - 0.5) / math.sqrt(math.max(v, 1e-12))
    }
  }

  /** Featurize `plans` (the native plan first) and score them in one
    * stacked forward of `model`. */
  def pick(model: LeroModelPairWise, gen: PlanFeatures.FeatureGenerator,
           plans: Seq[PlanFeatures.PlanNode]): Pick = {
    val trees = plans.map(gen.transform)
    new Pick(trees, model.predict(trees))
  }

  /** The route predicate, strict on both axes: a gap or z AT its
    * threshold declines. `z` is by name, so a gap that declines never
    * pays the Bayesian forward. */
  def clears(gap: Double, z: => Double, threshold: Double,
             scoreGapThreshold: Double): Boolean =
    gap > scoreGapThreshold && z > threshold

  /** Realized net gain of routing exactly the (z, scoreGap, gainMs)
    * `pairs` that clear the thresholds, `overheadMs` charged per
    * routed pair. */
  def netGainMs(pairs: Seq[(Double, Double, Double)], threshold: Double,
                scoreGapThreshold: Double, overheadMs: Double): Double =
    pairs.collect {
      case (z, g, gain) if clears(g, z, threshold, scoreGapThreshold) => gain - overheadMs
    }.sum
}
