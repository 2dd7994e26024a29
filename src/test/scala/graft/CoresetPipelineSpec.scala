package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import org.scalatest.funsuite.AnyFunSuite

import graft.planopt._
import graft.queries.Relational

/** Coreset (M16–M18) + pipeline (M19/M30) tests. */
class CoresetPipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  private def rowNormalize(m: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = m.copy
    for (r <- 0 until out.rows) {
      val nrm = math.sqrt((0 until out.cols).map(c => out(r, c) * out(r, c)).sum)
      if (nrm > 0) (0 until out.cols).foreach(c => out(r, c) /= nrm)
    }
    out
  }

  test("lsh partition groups identical binarization patterns together") {
    // two clear clusters in binarization space: positive in first half
    // of dims vs second half
    val n = 40; val d = 16
    val u = DenseMatrix.zeros[Double](n, d)
    for (i <- 0 until n; j <- 0 until d) {
      val inFirst = i < n / 2
      u(i, j) = if ((j < d / 2) == inFirst) 0.5 + 0.01 * ((i + j) % 5) else -0.5
    }
    val groups = Coreset.lshPartition(u, numGroups = 8)
    assert(groups.length == 8)
    val nonEmpty = groups.filter(_.nonEmpty)
    assert(nonEmpty.map(_.size).sum == n)
    // no group mixes the two clusters
    nonEmpty.foreach { g =>
      assert(g.forall(_ < n / 2) || g.forall(_ >= n / 2), s"mixed group: $g")
    }
  }

  test("greedy selection prefers points far from the labeled set") {
    // labeled set sits at e1; unlabeled: one point near e1, one at e2
    val l = rowNormalize(DenseMatrix((1.0, 0.0, 0.0)))
    val ug = rowNormalize(DenseMatrix(
      (0.99, 0.1, 0.0), // ~ e1, well covered
      (0.0, 1.0, 0.0))) // far from L — must be picked first
    val sel = Coreset.greedySelection(l, Seq(ug), perGroup = 1)
    assert(sel == Seq(Seq(1)))
  }

  test("coreset end-to-end returns distinct global indices") {
    val rng = new scala.util.Random(2)
    val u = rowNormalize(DenseMatrix.fill(60, 8)(rng.nextGaussian()))
    val l = rowNormalize(DenseMatrix.fill(10, 8)(rng.nextGaussian()))
    val picked = Coreset.select(u, l, numGroups = 6, perGroup = 3)
    assert(picked.nonEmpty && picked.distinct.length == picked.length)
    assert(picked.forall(i => i >= 0 && i < 60))
  }

  test("standardize+normalize: unit rows, zero-std guarded (ref bug fixed)") {
    val u = DenseMatrix((1.0, 5.0, 2.0), (3.0, 5.0, 4.0))
    val l = DenseMatrix((5.0, 5.0, 6.0))
    val (un, ln) = Coreset.standardizeAndNormalize(u, l)
    assert(un.rows == 2 && ln.rows == 1)
    for (r <- 0 until un.rows) {
      val nrm = math.sqrt((0 until un.cols).map(c => un(r, c) * un(r, c)).sum)
      // unit norm, or an exactly-zero row (point at the feature means
      // — zero-norm guard divides by 1, reference semantics)
      assert(math.abs(nrm - 1.0) < 1e-9 || nrm == 0.0)
    }
    assert(un.toArray.count(_ != 0.0) > 0)
    // constant feature (col 1, std 0) contributes 0, not NaN
    assert(!un.toArray.exists(_.isNaN) && !ln.toArray.exists(_.isNaN))
    assert(un(0, 1) == 0.0)
  }

  test("createTrainingFile strips the qid field") {
    val in = java.nio.file.Files.createTempFile("plans", ".txt")
    java.nio.file.Files.writeString(in, "q0#####planA#####planB\nq1#####planC\n")
    val out = java.nio.file.Files.createTempFile("train", ".txt")
    Pipelines.createTrainingFile(in.toString, out.toString)
    val lines = scala.io.Source.fromFile(out.toString).getLines().toSeq
    assert(lines == Seq("planA#####planB", "planC"))
  }

  test("stable pipeline end-to-end: label, train, evaluate, write dict") {
    val qs = Seq("j1_join_2way", "j1_join_5way", "j1_join_7way",
      "a2_min_join", "q2_join_group_topn", "f1_numeric_cmp")
      .map(n => n -> ((s: org.apache.spark.sql.SparkSession) =>
        Relational.defs(n)(s, sf)))
    val res = Pipelines.stable(spark, qs.take(4), qs.drop(4),
      epochs = 8, seed = 31).result
    // ranking loss defined (at least one test query with >=2 cands)
    assert(res.rankingLoss.forall(l => l >= 0.0 && l <= 2.0))
    assert(res.leroDict.nonEmpty)
    assert(res.selectedTotalSec > 0 && res.defaultTotalSec > 0)
    val path = "/tmp/graft_results/lero_dict.json"
    Pipelines.writeLeroDict(res, path)
    val dict = Json.readFile(java.nio.file.Paths.get(path))
    assert(dict.get("sum").asDouble == res.selectedTotalSec)
  }

  test("deployment loop retrains per batch") {
    // synthetic labeled batches (no Spark needed): deep/slow vs
    // shallow/fast plans with consistent latencies
    def plan(rows: Double) = PlanFeatures.PlanNode("HashAggregate", rows, 8, None,
      Seq(PlanFeatures.PlanNode("FileScan", rows * 10, 32, Some("lineitem"), Nil)))
    def q(qid: String, f: Double) = Pipelines.LabeledQuery(qid,
      Seq(plan(100 * f), plan(5 * f)), Seq(900.0 * f, 80.0 * f))
    val batches = Seq(
      (1 to 4).map(i => q(s"a$i", 1.0 + i * 0.1)),
      (1 to 3).map(i => q(s"b$i", 1.2 + i * 0.1)),
      (1 to 3).map(i => q(s"c$i", 0.9 + i * 0.1)))
    val sums = Pipelines.deploymentLoop(batches, epochs = 10, seed = 41).map(_._1.selectedTotalSec)
    assert(sums.length == 2 && sums.forall(_ > 0))
  }

  test("accumulating deployment loop trains on all prior batches") {
    // Two plan shapes with OPPOSITE labels across the stream: batch 0
    // (6 queries) says the deep plan is FAST; batch 1 (2 queries) says
    // it is slow; batch 2 (eval) agrees with batch 0. Scratch mode
    // trains model_2 on batch 1 alone and picks the shallow plan
    // (slow on batch 2); accumulating mode trains on batches 0+1 —
    // majority deep-fast — and picks the deep plan. The selected
    // latency gap on the final eval is the observable proof that the
    // accumulate flag actually widens the training corpus.
    def plan(rows: Double) = PlanFeatures.PlanNode("HashAggregate", rows, 8, None,
      Seq(PlanFeatures.PlanNode("FileScan", rows * 10, 32, Some("lineitem"), Nil)))
    def q(qid: String, deepFast: Boolean, f: Double) = Pipelines.LabeledQuery(qid,
      Seq(plan(100 * f), plan(5 * f)),
      if (deepFast) Seq(80.0 * f, 900.0 * f) else Seq(900.0 * f, 80.0 * f))
    val batches = Seq(
      (1 to 6).map(i => q(s"a$i", deepFast = true, 1.0 + i * 0.05)),
      (1 to 2).map(i => q(s"b$i", deepFast = true, 1.1 + i * 0.05)).map(x =>
        x.copy(latenciesMs = x.latenciesMs.reverse)), // deep slow here
      (1 to 2).map(i => q(s"c$i", deepFast = true, 1.0 + i * 0.05)))
    val scratch = Pipelines.deploymentLoop(batches, epochs = 40, seed = 41).map(_._1)
    val accum = Pipelines.deploymentLoop(batches, epochs = 40, seed = 41,
      accumulate = true).map(_._1)
    assert(scratch.length == 2 && accum.length == 2)
    // batch-1 evals are identical (both train on batch 0 only)
    assert(math.abs(scratch.head.selectedTotalSec - accum.head.selectedTotalSec) < 1e-9)
    // final eval: accumulating (majority deep-fast) must beat scratch
    // (trained only on the contrarian batch 1)
    assert(accum.last.selectedTotalSec < scratch.last.selectedTotalSec,
      s"accum=${accum.last.selectedTotalSec} vs scratch=${scratch.last.selectedTotalSec}")
  }
}
