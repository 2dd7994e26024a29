package graft.planopt

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.planopt.PlanFeatures.FeatTree

/** Tree-convolution data layout and layers (SURVEY.md §2.2 M6–M8),
  * with manual backprop (no torch in this environment; the net is
  * tiny, so plain Breeze matmuls — which ship with Spark — are
  * plenty).
  *
  * Layout mirrors `/root/reference/Lero/TreeConvolution/util.py`
  * exactly, so the reference's unit-test invariants port 1:1:
  *  - preorder flatten with a sentinel zero row at index 0
  *    (`util.py:19-54`);
  *  - per-node (self, left, right) preorder-index triples, leaves →
  *    (id, 0, 0) (`util.py:56-111`);
  *  - batch padded to the max node count with zero rows / zero index
  *    triples (`util.py:113-136`) — padding participates in layer
  *    norm and pooling exactly as in torch;
  *  - one-sided nodes raise [[TreeConvolutionError]]
  *    (`util.py:8-16`).
  *
  * The convolution itself is the stride-3 Conv1d over gather-expanded
  * triples of `tcnn.py:4-26`: a dense (3·C_in → C_out) layer dragged
  * across the tree, zero vector re-prepended after each layer so
  * index 0 keeps meaning "absent child".
  */
object TreeConv {

  final class TreeConvolutionError(msg: String) extends RuntimeException(msg)

  /** Flattened batch: per-tree node matrices ((maxN+1) × C, row 0 =
    * sentinel zero) and index triples (3·maxK, zero-padded). */
  final case class PreparedTrees(nodes: Array[DenseMatrix[Double]],
                                 idxes: Array[Array[Int]]) {
    def batchSize: Int = nodes.length
  }

  /** `prepare_trees` (`util.py:138-157`): flatten + index + pad. */
  def prepareTrees(trees: Seq[FeatTree]): PreparedTrees = {
    val flats = trees.map(flatten)
    val idx = trees.map(treeConvIndexes)
    val maxRows = flats.map(_.length).max
    val dim = flats.head.head.length
    require(flats.forall(_.head.length == dim),
      throw new TreeConvolutionError("feature dims differ across trees"))
    val nodeMats = flats.map { f =>
      val m = DenseMatrix.zeros[Double](maxRows, dim)
      f.zipWithIndex.foreach { case (row, i) =>
        var j = 0; while (j < dim) { m(i, j) = row(j); j += 1 }
      }
      m
    }.toArray
    val maxIdx = idx.map(_.length).max
    val idxArrs = idx.map { a =>
      if (a.length == maxIdx) a else a ++ Array.fill(maxIdx - a.length)(0)
    }.toArray
    PreparedTrees(nodeMats, idxArrs)
  }

  /** `_flatten` (`util.py:19-54`): preorder features with zero row 0.
    * A node with exactly one child is malformed. */
  private[planopt] def flatten(t: FeatTree): Array[Array[Double]] = {
    val acc = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    def rec(x: FeatTree): Unit = {
      acc += x.feature
      (x.left, x.right) match {
        case (Some(l), Some(r)) => rec(l); rec(r)
        case (None, None) => ()
        case _ => throw new TreeConvolutionError(
          "All nodes must have both a left and a right child or no children")
      }
    }
    rec(t)
    (Array.fill(acc.head.length)(0.0) +: acc).toArray
  }

  /** `_tree_conv_indexes` (`util.py:84-111`): flattened (self, left,
    * right) preorder-index triples; leaves → (id, 0, 0). */
  private[planopt] def treeConvIndexes(t: FeatTree): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    // returns (myIdx, nextFreeIdx)
    def rec(x: FeatTree, idx: Int): Int = {
      (x.left, x.right) match {
        case (Some(l), Some(r)) =>
          val insertAt = out.length
          out ++= Seq(idx, -1, -1) // placeholders
          val afterLeft = rec(l, idx + 1)
          out(insertAt + 1) = idx + 1
          val afterRight = rec(r, afterLeft)
          out(insertAt + 2) = afterLeft
          afterRight
        case (None, None) =>
          out ++= Seq(idx, 0, 0)
          idx + 1
        case _ => throw new TreeConvolutionError(
          "All nodes must have both a left and a right child or no children")
      }
    }
    rec(t, 1)
    out.toArray
  }

  // --- layers (forward + backward) ------------------------------------

  /** One tree-conv layer: weights (3·inC → outC) + bias, as the dense
    * layer of `tcnn.py:10-12`. */
  final class ConvLayer(val inC: Int, val outC: Int, rng: scala.util.Random) {
    // torch Conv1d default init: U(±1/sqrt(fan_in)), fan_in = 3*inC
    private val bound = 1.0 / math.sqrt(3.0 * inC)
    val w: DenseMatrix[Double] = DenseMatrix.fill(3 * inC, outC)(
      (rng.nextDouble() * 2 - 1) * bound)
    val b: DenseVector[Double] = DenseVector.fill(outC)(
      (rng.nextDouble() * 2 - 1) * bound)
    val dW: DenseMatrix[Double] = DenseMatrix.zeros(3 * inC, outC)
    val dB: DenseVector[Double] = DenseVector.zeros(outC)

    def zeroGrad(): Unit = { dW := 0.0; dB := 0.0 }

    // every tree's gather rows are stacked into ONE matrix, so each
    // layer costs one gemm per batch instead of one tiny matmul per
    // tree (K≈15 rows each). A one-tree batch of at most
    // ParGemm.SliceRows nodes is one plain `g * w` on that tree's own
    // gather matrix.

    /** nodes ((P × inC) per tree, row 0 sentinel) + idx (3K per tree)
      * → per-tree (K+1 × outC) with a fresh zero row 0
      * (`tcnn.py:14-26`); the cache records each tree's row offset
      * into the stacked gather matrix. */
    def forwardBatch(nodesArr: Array[DenseMatrix[Double]],
                     idxesArr: Array[Array[Int]]): (Array[DenseMatrix[Double]], BatchConvCache) = {
      val nT = nodesArr.length
      val ks = idxesArr.map(_.length / 3)
      val offsets = ks.scanLeft(0)(_ + _) // length nT+1
      val g = DenseMatrix.zeros[Double](offsets(nT), 3 * inC)
      // per-tree fills write disjoint row ranges of g — parallel-safe
      ParGemm.parTrees(nT) { bi =>
        val nodes = nodesArr(bi); val idx = idxesArr(bi)
        val off = offsets(bi); val k = ks(bi)
        var t = 0
        while (t < k) {
          var s = 0
          while (s < 3) {
            val src = idx(3 * t + s)
            var c = 0
            while (c < inC) { g(off + t, s * inC + c) = nodes(src, c); c += 1 }
            s += 1
          }
          t += 1
        }
      }
      val conv = ParGemm.mul(g, w) // ONE gemm for the whole batch
      val outs = new Array[DenseMatrix[Double]](nT)
      ParGemm.parTrees(nT) { bi => // disjoint slots of outs
        val off = offsets(bi); val k = ks(bi)
        val out = DenseMatrix.zeros[Double](k + 1, outC)
        var r = 0
        while (r < k) {
          var c = 0
          while (c < outC) { out(r + 1, c) = conv(off + r, c) + b(c); c += 1 }
          r += 1
        }
        outs(bi) = out
      }
      (outs, BatchConvCache(g, idxesArr, offsets, nodesArr.map(_.rows)))
    }

    /** Batched backward; accumulates dW/dB, returns per-tree dNodes. */
    def backwardBatch(dOuts: Array[DenseMatrix[Double]],
                      cache: BatchConvCache): Array[DenseMatrix[Double]] = {
      val nT = dOuts.length
      val offsets = cache.offsets
      val dConv = DenseMatrix.zeros[Double](offsets(nT), outC)
      // per-tree dConv fills write disjoint row ranges — parallel; the
      // SHARED dB accumulator is hoisted into the sequential pass
      // below, which walks (row, c) in exactly the order the old
      // interleaved loop did (trees in offset order, rows ascending, c
      // inner), so the accumulation bits are unchanged
      ParGemm.parTrees(nT) { bi =>
        val off = offsets(bi)
        val k = cache.idxes(bi).length / 3
        val dOut = dOuts(bi)
        var r = 0
        while (r < k) {
          var c = 0
          while (c < outC) {
            dConv(off + r, c) = dOut(r + 1, c) // drop sentinel row grad
            c += 1
          }
          r += 1
        }
      }
      var r = 0
      val totalRows = offsets(nT)
      while (r < totalRows) {
        var c = 0
        while (c < outC) { dB(c) += dConv(r, c); c += 1 }
        r += 1
      }
      dW += ParGemm.mulTA(cache.gather, dConv) // ONE gemm
      val dG = ParGemm.mul(dConv, w.t) // ONE gemm
      val dNodesArr = new Array[DenseMatrix[Double]](nT)
      ParGemm.parTrees(nT) { bi => // disjoint slots of dNodesArr
        val off = offsets(bi)
        val idx = cache.idxes(bi)
        val k = idx.length / 3
        val dNodes = DenseMatrix.zeros[Double](cache.inRows(bi), inC)
        var t = 0
        while (t < k) {
          var s = 0
          while (s < 3) {
            val src = idx(3 * t + s)
            var c = 0
            while (c < inC) { dNodes(src, c) += dG(off + t, s * inC + c); c += 1 }
            s += 1
          }
          t += 1
        }
        dNodesArr(bi) = dNodes
      }
      dNodesArr
    }
  }

  /** Batched conv cache: stacked gather matrix + per-tree layout. */
  final case class BatchConvCache(gather: DenseMatrix[Double],
                                  idxes: Array[Array[Int]],
                                  offsets: Array[Int], inRows: Array[Int])

  /** TreeLayerNorm (`tcnn.py:36-42`): per-tree mean/std over ALL
    * entries (channels × positions, padding included), torch `std`
    * semantics (Bessel-corrected), eps added to std. */
  object LayerNorm {
    val Eps = 1e-5

    def forward(x: DenseMatrix[Double]): (DenseMatrix[Double], LNCache) = {
      val n = x.rows * x.cols
      val mean = breeze.linalg.sum(x) / n
      var ss = 0.0
      x.foreachValue { v => ss += (v - mean) * (v - mean) }
      val std = math.sqrt(ss / math.max(1, n - 1))
      val out = (x - mean) / (std + Eps)
      (out, LNCache(x, mean, std))
    }

    def backward(dOut: DenseMatrix[Double], c: LNCache): DenseMatrix[Double] = {
      val n = c.x.rows * c.x.cols
      val denom = c.std + Eps
      val sumDy = breeze.linalg.sum(dOut)
      var sumDyXc = 0.0
      var i = 0
      val xd = c.x.data; val dd = dOut.data
      while (i < xd.length) { sumDyXc += dd(i) * (xd(i) - c.mean); i += 1 }
      val out = DenseMatrix.zeros[Double](c.x.rows, c.x.cols)
      val od = out.data
      val stdTerm =
        if (c.std > 1e-12) sumDyXc / ((n - 1) * c.std * denom * denom) else 0.0
      i = 0
      while (i < xd.length) {
        od(i) = dd(i) / denom - sumDy / (n * denom) - (xd(i) - c.mean) * stdTerm
        i += 1
      }
      out
    }
  }
  final case class LNCache(x: DenseMatrix[Double], mean: Double, std: Double)

  /** LeakyReLU (torch default negative slope 0.01). */
  object LeakyReLU {
    val Slope = 0.01
    def forward(x: DenseMatrix[Double]): DenseMatrix[Double] =
      x.map(v => if (v > 0) v else Slope * v)
    def backward(dOut: DenseMatrix[Double], x: DenseMatrix[Double]): DenseMatrix[Double] = {
      val out = dOut.copy
      var i = 0
      while (i < out.data.length) {
        if (x.data(i) <= 0) out.data(i) *= Slope
        i += 1
      }
      out
    }
  }

  /** DynamicPooling (`tcnn.py:44-46`): max over positions per channel. */
  object DynamicPooling {
    def forward(x: DenseMatrix[Double]): (DenseVector[Double], Array[Int]) = {
      val out = DenseVector.zeros[Double](x.cols)
      val argmax = new Array[Int](x.cols)
      var c = 0
      while (c < x.cols) {
        var best = Double.NegativeInfinity; var bi = 0
        var r = 0
        while (r < x.rows) {
          if (x(r, c) > best) { best = x(r, c); bi = r }
          r += 1
        }
        out(c) = best; argmax(c) = bi
        c += 1
      }
      (out, argmax)
    }
    def backward(dOut: DenseVector[Double], argmax: Array[Int],
                 rows: Int): DenseMatrix[Double] = {
      val dX = DenseMatrix.zeros[Double](rows, dOut.length)
      var c = 0
      while (c < dOut.length) { dX(argmax(c), c) += dOut(c); c += 1 }
      dX
    }
  }

  /** Fully-connected layer (torch Linear semantics + init). */
  final class LinearLayer(val inC: Int, val outC: Int, rng: scala.util.Random) {
    private val bound = 1.0 / math.sqrt(inC)
    val w: DenseMatrix[Double] = DenseMatrix.fill(inC, outC)(
      (rng.nextDouble() * 2 - 1) * bound)
    val b: DenseVector[Double] = DenseVector.fill(outC)(
      (rng.nextDouble() * 2 - 1) * bound)
    val dW: DenseMatrix[Double] = DenseMatrix.zeros(inC, outC)
    val dB: DenseVector[Double] = DenseVector.zeros(outC)

    def forward(x: DenseVector[Double]): DenseVector[Double] = w.t * x + b

    /** accumulates grads; returns dX. */
    def backward(x: DenseVector[Double], dOut: DenseVector[Double]): DenseVector[Double] = {
      dW += x * dOut.t
      dB += dOut
      w * dOut
    }
    def zeroGrad(): Unit = { dW := 0.0; dB := 0.0 }
  }
}
