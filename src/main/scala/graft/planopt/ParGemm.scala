package graft.planopt

import java.util.concurrent.{Callable, Executors, ThreadFactory}

import breeze.linalg.DenseMatrix

/** Deterministic slice-parallel GEMM for the comparator net.
  *
  * Training and scoring funnel ~95% of their flops through three
  * batched matmuls per conv layer (`TreeConv.ConvLayer.forwardBatch` /
  * `backwardBatch`); Breeze executes each as one single-threaded BLAS
  * call, which left a 32-core box 31/32 idle during the 45-minute
  * r15 stable train. This helper splits the INDEPENDENT dimension of
  * each product — output rows — into contiguous slices and runs the
  * same Breeze gemm per slice concurrently.
  *
  * Determinism is structural, not statistical — but NOT free: the
  * BLAS kernel's per-element accumulation order depends on the row
  * count it is handed (measured: a row-slice of a product differs
  * from the full product in the last ulp), so "parallel slices
  * bit-equal the unsliced serial product" does NOT hold. What does
  * hold is slice-for-slice determinism: the same (slice, operand)
  * pair always produces the same bits. The canonical computation is
  * therefore DEFINED as the fixed-height slicing ([[SliceRows]] rows
  * per slice, independent of thread count) — serial mode computes the
  * same slices sequentially that parallel mode computes concurrently,
  * each output element is produced by exactly one slice gemm, and the
  * result is bit-identical at any thread count (ParGemmSpec pins this
  * on the exact shapes the net uses, plus a full-fit equality check).
  *
  * A product of at most [[SliceRows]] rows is ONE plain gemm — a
  * one-tree forward of a plan of ≤ 128 nodes (the deployed margin
  * gate scores each side that way) multiplies exactly that tree's
  * gather matrix.
  *
  * `threads` defaults to 1 (same bits, sequential); long-running
  * trainer mains opt in via the SPARK_GRAFT_TRAIN_THREADS env var.
  */
object ParGemm {

  /** Fixed slice height — part of the numeric contract, never derived
    * from the thread count. */
  val SliceRows = 128

  @volatile var threads: Int =
    sys.env.get("SPARK_GRAFT_TRAIN_THREADS") match {
      case Some(v) => v.trim.toIntOption match {
        case Some(n) => n
        case None =>
          // a malformed value must degrade to sequential, not throw
          // NumberFormatException inside the object initializer (an
          // ExceptionInInitializerError at first ParGemm touch points
          // nowhere near the bad setting)
          System.err.println(s"[graft] unparsable train-thread count " +
            s"'$v' (SPARK_GRAFT_TRAIN_THREADS); falling back to 1 (sequential)")
          1
      }
      case None => 1
    }

  // shared daemon pool: folds train concurrently, so their slice
  // tasks interleave here; sized to the box, not to `threads`, which
  // only controls HOW MANY slices each product is cut into
  private lazy val pool = Executors.newFixedThreadPool(
    math.max(1, Runtime.getRuntime.availableProcessors() - 2),
    new ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"pargemm-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })

  private def sliceRanges(n: Int): Seq[(Int, Int)] =
    (0 until n by SliceRows).map(r0 => (r0, math.min(n, r0 + SliceRows)))

  /** Run every slice — concurrently at threads > 1, sequentially (in
    * range order, same slices, same bits) otherwise. */
  private def runSlices(ranges: Seq[(Int, Int)])(f: (Int, Int) => Unit): Unit =
    if (threads <= 1) ranges.foreach { case (r0, r1) => f(r0, r1) }
    else {
      val futs = ranges.map { case (r0, r1) =>
        pool.submit(new Callable[Unit] { def call(): Unit = f(r0, r1) })
      }
      futs.foreach(_.get()) // propagate the first failure
    }

  /** a * b, row-sliced over a in fixed [[SliceRows]] chunks. */
  def mul(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    if (a.rows <= SliceRows) return a * b
    val out = DenseMatrix.zeros[Double](a.rows, b.cols)
    runSlices(sliceRanges(a.rows)) { (r0, r1) =>
      out(r0 until r1, ::) := a(r0 until r1, ::) * b
    }
    out
  }

  /** a.t * b without materializing the transpose, sliced over a's
    * columns (= the output's rows) in fixed [[SliceRows]] chunks. */
  def mulTA(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    if (a.cols <= SliceRows) return a.t * b
    val out = DenseMatrix.zeros[Double](a.cols, b.cols)
    runSlices(sliceRanges(a.cols)) { (c0, c1) =>
      out(c0 until c1, ::) := a(::, c0 until c1).t * b
    }
    out
  }

  /** Parallel per-tree loop for the batched layers: f(i) for
    * i ∈ [0, nT). SAFE ONLY when each f(i) writes a region no other
    * f(j) touches (slot i of an output array, tree i's row range of a
    * stacked matrix) and reads only shared immutable state — then the
    * result is identical for any schedule, and serial mode (threads
    * ≤ 1) is the plain loop. Shared-accumulator work (dB, fc dW) must
    * stay OUTSIDE f: the callers hoist it into a sequential pass with
    * the same accumulation order as the original interleaved loop. */
  def parTrees(nT: Int)(f: Int => Unit): Unit = {
    val t = threads
    if (t <= 1 || nT < 2) {
      var i = 0
      while (i < nT) { f(i); i += 1 }
    } else {
      val chunk = math.max(1, (nT + 4 * t - 1) / (4 * t))
      val futs = (0 until nT by chunk).map { i0 =>
        val i1 = math.min(nT, i0 + chunk)
        pool.submit(new Callable[Unit] {
          def call(): Unit = { var i = i0; while (i < i1) { f(i); i += 1 } }
        })
      }
      futs.foreach(_.get())
    }
  }
}
