package graft.planopt

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.planopt.PlanFeatures.FeatTree
import graft.planopt.TreeConv._

/** The plan-comparator network (SURVEY.md §2.2 M9–M12) and its
  * pairwise trainer (M11) — the model the reference repo exists to
  * train (`/root/reference/Lero/model.py:322-358` LeroNet,
  * `:220-305` LeroModelPairWise.fit).
  *
  * Architecture (`model.py:329-347`): TreeConv D→256→128→64 with
  * TreeLayerNorm + LeakyReLU between convs, LayerNorm + DynamicPooling
  * after the last, then FC 64→32→1 with LeakyReLU. `forwardTrees` returns
  * (score, 64-d pooled feature) — the intermediate feature feeds the
  * Bayesian head (M15).
  *
  * Training semantics preserved exactly (`model.py:244,262-305`;
  * SURVEY §2.2 note): pair label = 1.0 iff latency(x1) >= latency(x2);
  * loss = BCE(sigmoid(score1 − score2), label); so the net learns
  * P(plan1 slower) and LOWER score = faster plan → selection is
  * argmin of score (`lero_test.py:97`). Adam, batch 64, shuffled each
  * epoch (seeded here for reproducibility).
  */
final class LeroNet(val inputFeatureDim: Int, seed: Long = 17L) {
  private val rng = new scala.util.Random(seed)

  val conv1 = new ConvLayer(inputFeatureDim, 256, rng)
  val conv2 = new ConvLayer(256, 128, rng)
  val conv3 = new ConvLayer(128, 64, rng)
  val fc1 = new LinearLayer(64, 32, rng)
  val fc2 = new LinearLayer(32, 1, rng)

  /** Forward `trees`; returns (score, interFea64) per tree and a
    * cache for [[backwardBatch]]. Each tree is prepared ON ITS OWN:
    * padding rows take part in layer norm and pooling, so trees
    * padded together would score differently from the same trees
    * scored apart. Every caller goes through here. */
  def forwardTrees(trees: Seq[FeatTree])
  : (Array[Double], Array[DenseVector[Double]], LeroNet.BatchCache) = {
    val ps = trees.map(t => TreeConv.prepareTrees(Seq(t)))
    forwardBatch(ps.map(_.nodes(0)).toArray, ps.map(_.idxes(0)).toArray)
  }

  /** Batched forward over prepared trees: the three conv layers run
    * as ONE gemm per layer over the whole batch's stacked gather rows
    * (`ConvLayer.forwardBatch`); the per-tree pieces (layer norm,
    * pooling, FCs — all O(K·C) with no matmul) stay per-tree. */
  private def forwardBatch(nodesArr: Array[DenseMatrix[Double]], idxesArr: Array[Array[Int]])
  : (Array[Double], Array[DenseVector[Double]], LeroNet.BatchCache) = {
    val nT = nodesArr.length
    // per-tree loops write disjoint slot i and read only shared
    // immutable state (fc weights), so they run via parTrees —
    // identical results at any thread count
    val (c1s, bc1) = conv1.forwardBatch(nodesArr, idxesArr)
    val n1s = new Array[DenseMatrix[Double]](nT)
    val ln1s = new Array[LNCache](nT)
    val a1s = new Array[DenseMatrix[Double]](nT)
    ParGemm.parTrees(nT) { i =>
      val (n1, ln1) = LayerNorm.forward(c1s(i))
      n1s(i) = n1; ln1s(i) = ln1; a1s(i) = LeakyReLU.forward(n1)
    }
    val (c2s, bc2) = conv2.forwardBatch(a1s, idxesArr)
    val n2s = new Array[DenseMatrix[Double]](nT)
    val ln2s = new Array[LNCache](nT)
    val a2s = new Array[DenseMatrix[Double]](nT)
    ParGemm.parTrees(nT) { i =>
      val (n2, ln2) = LayerNorm.forward(c2s(i))
      n2s(i) = n2; ln2s(i) = ln2; a2s(i) = LeakyReLU.forward(n2)
    }
    val (c3s, bc3) = conv3.forwardBatch(a2s, idxesArr)
    val ln3s = new Array[LNCache](nT)
    val argmaxs = new Array[Array[Int]](nT)
    val n3rows = new Array[Int](nT)
    val pooleds = new Array[DenseVector[Double]](nT)
    val h1s = new Array[DenseVector[Double]](nT)
    val a3s = new Array[DenseVector[Double]](nT)
    val scores = new Array[Double](nT)
    ParGemm.parTrees(nT) { i =>
      val (n3, ln3) = LayerNorm.forward(c3s(i))
      val (pooled, argmax) = DynamicPooling.forward(n3)
      val h1 = fc1.forward(pooled)
      val a3 = h1.map(v => if (v > 0) v else LeakyReLU.Slope * v)
      scores(i) = fc2.forward(a3)(0)
      ln3s(i) = ln3; argmaxs(i) = argmax; n3rows(i) = n3.rows
      pooleds(i) = pooled; h1s(i) = h1; a3s(i) = a3
    }
    (scores, pooleds,
      LeroNet.BatchCache(bc1, bc2, bc3, n1s, ln1s, n2s, ln2s, ln3s,
        argmaxs, n3rows, pooleds, h1s, a3s))
  }

  /** Batched backward from per-tree dScores (+ optional per-tree
    * gradients on the pooled features, for the Bayesian head);
    * accumulates grads. */
  def backwardBatch(dScores: Array[Double], cache: LeroNet.BatchCache,
                    dPooledExtra: Option[Array[DenseVector[Double]]] = None): Unit = {
    val nT = dScores.length
    val dC3s = new Array[DenseMatrix[Double]](nT)
    // the fc head accumulates SHARED dW/dB per tree, so that part
    // stays a sequential loop (tree order — same accumulation bits as
    // ever); the per-tree pooling/LN backward below it is disjoint
    val dPooleds = new Array[DenseVector[Double]](nT)
    var i = 0
    while (i < nT) {
      val dA3 = fc2.backward(cache.a3s(i), DenseVector(dScores(i)))
      val dH1 = DenseVector.tabulate(dA3.length)(j =>
        if (cache.h1s(i)(j) > 0) dA3(j) else LeakyReLU.Slope * dA3(j))
      var dPooled = fc1.backward(cache.pooleds(i), dH1)
      dPooledExtra.foreach(extra => dPooled = dPooled + extra(i))
      dPooleds(i) = dPooled
      i += 1
    }
    ParGemm.parTrees(nT) { j =>
      val dN3 = DynamicPooling.backward(dPooleds(j), cache.argmaxs(j), cache.n3rows(j))
      dC3s(j) = LayerNorm.backward(dN3, cache.ln3s(j))
    }
    val dA2s = conv3.backwardBatch(dC3s, cache.bc3)
    val dC2s = new Array[DenseMatrix[Double]](nT)
    ParGemm.parTrees(nT) { j =>
      val dN2 = LeakyReLU.backward(dA2s(j), cache.n2s(j))
      dC2s(j) = LayerNorm.backward(dN2, cache.ln2s(j))
    }
    val dA1s = conv2.backwardBatch(dC2s, cache.bc2)
    val dC1s = new Array[DenseMatrix[Double]](nT)
    ParGemm.parTrees(nT) { j =>
      val dN1 = LeakyReLU.backward(dA1s(j), cache.n1s(j))
      dC1s(j) = LayerNorm.backward(dN1, cache.ln1s(j))
    }
    conv1.backwardBatch(dC1s, cache.bc1) // dNodes discarded
  }

  def zeroGrad(): Unit = {
    conv1.zeroGrad(); conv2.zeroGrad(); conv3.zeroGrad()
    fc1.zeroGrad(); fc2.zeroGrad()
  }

  /** (param, grad) pairs for the optimizer, vectors viewed as 1-col
    * matrices. */
  def paramGrads: Seq[(Array[Double], Array[Double])] = Seq(
    (conv1.w.data, conv1.dW.data), (conv1.b.data, conv1.dB.data),
    (conv2.w.data, conv2.dW.data), (conv2.b.data, conv2.dB.data),
    (conv3.w.data, conv3.dW.data), (conv3.b.data, conv3.dB.data),
    (fc1.w.data, fc1.dW.data), (fc1.b.data, fc1.dB.data),
    (fc2.w.data, fc2.dW.data), (fc2.b.data, fc2.dB.data))
}

object LeroNet {
  final case class BatchCache(bc1: BatchConvCache, bc2: BatchConvCache,
                              bc3: BatchConvCache,
                              n1s: Array[DenseMatrix[Double]], ln1s: Array[LNCache],
                              n2s: Array[DenseMatrix[Double]], ln2s: Array[LNCache],
                              ln3s: Array[LNCache], argmaxs: Array[Array[Int]],
                              n3rows: Array[Int],
                              pooleds: Array[DenseVector[Double]],
                              h1s: Array[DenseVector[Double]],
                              a3s: Array[DenseVector[Double]])
}

/** Adam (torch defaults: lr 1e-3, β 0.9/0.999, eps 1e-8) over flat
  * parameter arrays. */
final class Adam(paramGrads: Seq[(Array[Double], Array[Double])],
                 lr: Double = 1e-3) {
  private val m = paramGrads.map { case (p, _) => new Array[Double](p.length) }
  private val v = paramGrads.map { case (p, _) => new Array[Double](p.length) }
  private var t = 0

  def step(): Unit = {
    t += 1
    val b1 = 0.9; val b2 = 0.999; val eps = 1e-8
    val bc1 = 1 - math.pow(b1, t)
    val bc2 = 1 - math.pow(b2, t)
    paramGrads.zipWithIndex.foreach { case ((p, g), k) =>
      val mk = m(k); val vk = v(k)
      var i = 0
      while (i < p.length) {
        mk(i) = b1 * mk(i) + (1 - b1) * g(i)
        vk(i) = b2 * vk(i) + (1 - b2) * g(i) * g(i)
        p(i) -= lr * (mk(i) / bc1) / (math.sqrt(vk(i) / bc2) + eps)
        i += 1
      }
    }
  }
}

/** Pointwise regression model (M10, `model.py:128-197`): MSE on the
  * normalized latency (or a rank-score target, M13), Adam, batch 64.
  * The pairwise model below is the shipped mode; pointwise backs the
  * rank-score training variants (`lero_train.py:108-135`). */
final class LeroModelPointWise(val featureDim: Int, seed: Long = 17L) {
  val net = new LeroNet(featureDim, seed)
  private val shuffleRng = new scala.util.Random(seed ^ 0x9019)

  /** Batched MSE fit: one forward/backward per batch, d MSE / d sᵢ =
    * 2·(sᵢ − yᵢ)/|batch|. Returns per-epoch mean losses. */
  def fit(x: IndexedSeq[FeatTree], y: IndexedSeq[Double],
          epochs: Int = 100, batchSize: Int = 64): Seq[Double] = {
    require(x.length == y.length && x.nonEmpty)
    val opt = new Adam(net.paramGrads)
    val losses = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 0 until epochs) {
      val order = shuffleRng.shuffle(x.indices.toVector)
      var lossAccum = 0.0; var nBatches = 0
      order.grouped(batchSize).foreach { batch =>
        net.zeroGrad()
        val (scores, _, cache) = net.forwardTrees(batch.map(x))
        val diffs = batch.indices.map(j => scores(j) - y(batch(j)))
        net.backwardBatch(diffs.map(2.0 * _ / batch.length).toArray, cache)
        opt.step()
        lossAccum += diffs.map(d => d * d).sum / batch.length
        nBatches += 1
      }
      losses += lossAccum / math.max(1, nBatches)
    }
    losses.toSeq
  }

  def predict(trees: Seq[FeatTree]): Array[Double] =
    if (trees.isEmpty) Array.empty else net.forwardTrees(trees)._1
}

/** Pairwise comparator model (M11/M12): fit on (plan1, plan2, y1, y2)
  * tuples, predict scores. */
final class LeroModelPairWise(val featureDim: Int, seed: Long = 17L) {
  val net = new LeroNet(featureDim, seed)
  private val shuffleRng = new scala.util.Random(seed ^ 0x5eed)

  /** BCE(sigmoid(s1-s2), label) pairwise fit (`model.py:220-305`).
    * Both sides of every pair in a batch go through ONE batched
    * forward/backward (one gemm per conv layer — the per-tree matmuls
    * were overhead-bound). Returns per-epoch mean losses. */
  def fit(x1: IndexedSeq[FeatTree], x2: IndexedSeq[FeatTree],
          y1: IndexedSeq[Double], y2: IndexedSeq[Double],
          epochs: Int = 100, batchSize: Int = 64): Seq[Double] = {
    require(x1.length == x2.length && y1.length == y2.length && x1.length == y1.length)
    val labels = y1.indices.map(i => if (y1(i) >= y2(i)) 1.0 else 0.0)
    val losses = scala.collection.mutable.ArrayBuffer[Double]()
    val opt = new Adam(net.paramGrads)
    for (_ <- 0 until epochs) {
      val order = shuffleRng.shuffle(x1.indices.toVector)
      var lossAccum = 0.0
      var nBatches = 0
      order.grouped(batchSize).foreach { batch =>
        net.zeroGrad()
        val bSize = batch.length
        // interleave (x1_i, x2_i) so one batched call covers both sides
        val (scores, _, bcache) = net.forwardTrees(batch.flatMap(i => Seq(x1(i), x2(i))))
        var batchLoss = 0.0
        val dScores = new Array[Double](2 * bSize)
        batch.zipWithIndex.foreach { case (i, j) =>
          val prob = 1.0 / (1.0 + math.exp(-(scores(2 * j) - scores(2 * j + 1))))
          val y = labels(i)
          val pc = math.min(1 - 1e-12, math.max(1e-12, prob))
          batchLoss += -(y * math.log(pc) + (1 - y) * math.log(1 - pc))
          val dS = (prob - y) / bSize // d BCE/d s1; d/d s2 = -dS
          dScores(2 * j) = dS; dScores(2 * j + 1) = -dS
        }
        net.backwardBatch(dScores, bcache)
        opt.step()
        lossAccum += batchLoss / bSize
        nBatches += 1
      }
      losses += lossAccum / math.max(1, nBatches)
    }
    losses.toSeq
  }

  /** Batch score (M12, `model.py:199-213`): lower = predicted faster;
    * selection is the argmin (`lero_test.py:97`). */
  def predict(trees: Seq[FeatTree]): Array[Double] =
    if (trees.isEmpty) Array.empty else net.forwardTrees(trees)._1

  /** Pooled 64-d intermediate features (for the Bayesian head). */
  def interFeatures(trees: Seq[FeatTree]): Array[DenseVector[Double]] =
    if (trees.isEmpty) Array.empty else net.forwardTrees(trees)._2
}
