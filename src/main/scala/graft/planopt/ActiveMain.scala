package graft.planopt

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{GraftSession, Tables}
import graft.queries.Relational
import graft.workload.{Harvester, WorkloadGen}

/** Active-learning driver — the "active" in active_query_optimizer,
  * end-to-end: from a pool of unlabeled queries, select WHICH to
  * execute/label, comparing THREE acquisition arms at the same budget:
  *
  *  1. coreset — MinHash-LSH + greedy-k-center (M16–M18) over
  *     model-derived query features (`coreset.py` consuming
  *     `model.get_inter_fea`'s 64-d pooled features);
  *  2. random — the control;
  *  3. uncertainty — the Bayesian pairwise head (M15,
  *     `Lero/model.py:361-520`): label the queries whose
  *     candidate-pair outcome the seed model is LEAST certain about
  *     (highest predictive variance σ² = exp(logvar)).
  *
  * Query features are the pooled 64-d tree-conv features of each
  * query's default candidate plan under a seed-trained model.
  *
  * Usage: runMain graft.planopt.ActiveMain [sfDir] [poolSize] [budget]
  *        [epochs] [outDir] [poolFile]
  *
  * With `poolFile` (r16 — the same pool-sampling treatment the stable
  * and dynamic pipelines got): the unlabeled pool and held-out test
  * set come from the active pipeline's [[PoolSlices]] stripe of the
  * committed 20k distribution-gated pool — structurally disjoint from
  * the stable and dynamic draws (one canonical shuffle partitioned by
  * index residue; the previous independent seeded draws overlapped in
  * expectation despite distinct seeds).
  */
object ActiveMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    // pool scaled with StableMain's r7 workload (was 45/16): a bigger
    // unlabeled pool separates the acquisition arms more clearly
    val poolSize = args.lift(1).map(_.toInt).getOrElse(100)
    val budget = args.lift(2).map(_.toInt).getOrElse(24)
    val epochs = args.lift(3).map(_.toInt).getOrElse(60)
    val outDir = args.lift(4).getOrElse("results/r7_active")
    val poolFile = args.lift(5)
    val spark = GraftSession.create()
    val log = new Pipelines.Logger(Some(s"$outDir/log.txt"))
    Tables.registerAll(spark, sfDir)

    // pool + test workload (same generator/seed family as StableMain)
    val seedSql = Seq(
      """SELECT count(*) FROM orders o, customer c
        |WHERE o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'""".stripMargin,
      """SELECT count(*) FROM lineitem l, orders o, customer c, supplier s, nation n
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |  AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
        |  AND c.c_acctbal > 0 AND l.l_quantity < 30""".stripMargin,
      """SELECT count(*) FROM lineitem l, orders o, customer c, supplier s,
        |  nation n, region r, part p
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |  AND l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey
        |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey""".stripMargin)
    val h = WorkloadGen.harvest(spark, seedSql)
    val rd = Harvester.rangeDict(spark, sfDir)
    val gen = poolFile match {
      case Some(pf) => PoolSlices.sample(pf, "active", poolSize + 10, log)
      case None => WorkloadGen.generateRandomSql(
        h, rd, Harvester.revAliasMap, numSql = poolSize + 10, seed = 99L)
    }
    def q(sql: String): SparkSession => DataFrame =
      s => s.sql(sql.stripSuffix(";"))
    val pool = gen.take(poolSize).zipWithIndex.map { case (s, i) => s"pool$i" -> q(s) }
    // held-out set includes the join upper tail (10-way full schema,
    // multi-alias, and the 17-relation JOB-maximum) so the
    // uncertainty-sampled model is evaluated where join-order search
    // space actually bites
    val testQ = gen.drop(poolSize).zipWithIndex.map { case (s, i) => s"test$i" -> q(s) } ++
      Seq("j1_join_5way", "j1_join_7way", "j1_join_10way",
        "j1_join_alias", "j1_join_17rel").map(n =>
        n -> ((s: SparkSession) => Relational.defs(n)(s, sfDir)))

    // seed labeled set: first 5 pool queries
    val (seedQ, unlabeled) = pool.splitAt(5)
    log.info(s"pool=${pool.length} seed=${seedQ.length} budget=$budget test=${testQ.length}")
    val seedLabeled = Pipelines.labelWorkload(spark, seedQ, log).head
    val (fg0, m0) = Pipelines.train(seedLabeled, epochs = epochs / 2, seed = 53L)

    // sweep candidates once per unlabeled query (planning only)
    val uCands = unlabeled.map { case (_, b) => Candidates.ofQuery(spark, b) }

    // 64-d query features: pooled tree-conv feature of the DEFAULT
    // candidate plan under the seed model (get_inter_fea analog).
    // ONE batched forward per pool — per-tree calls are exactly the
    // overhead-bound shape ConvLayer.forwardBatch exists to amortize
    val uFeats =
      m0.interFeatures(uCands.map(c => fg0.transform(c.head.plan)))
        .map(_.toArray)
    val lFeats =
      m0.interFeatures(seedLabeled.map(lq => fg0.transform(lq.plans.head)))
        .map(_.toArray)
    def toMat(rows: Array[Array[Double]]) = {
      val m = DenseMatrix.zeros[Double](rows.length, rows.head.length)
      rows.zipWithIndex.foreach { case (r, i) =>
        r.indices.foreach(j => m(i, j) = r(j))
      }
      m
    }
    val (uNorm, lNorm) = Coreset.standardizeAndNormalize(toMat(uFeats), toMat(lFeats))

    // arm 1: coreset-selected labeling
    val perGroup = math.max(1, budget / 8)
    val picked = Coreset.select(uNorm, lNorm, numGroups = 8, perGroup = perGroup)
      .take(budget)
    log.info(s"coreset picked ${picked.length}: ${picked.sorted.mkString(",")}")
    val coresetLabeled = Pipelines.labelWorkload(
      spark, picked.map(unlabeled), log).head
    val (fgC, mC) = Pipelines.train(seedLabeled ++ coresetLabeled, epochs, seed = 53L)

    // arm 2: random labeling at the same budget
    val rnd = new scala.util.Random(7)
    val randomIdx = rnd.shuffle(unlabeled.indices.toVector).take(picked.length)
    val randomLabeled = Pipelines.labelWorkload(
      spark, randomIdx.map(unlabeled), log).head
    val (fgR, mR) = Pipelines.train(seedLabeled ++ randomLabeled, epochs, seed = 53L)

    // arm 3: uncertainty sampling via the Bayesian pairwise head
    // (M15): train the heteroscedastic comparator on the seed labels,
    // then label the queries whose first-vs-second candidate pair has
    // the highest predictive variance (model.py:361-520 acquisition)
    val bay = new BayesianModelPairWise(fg0.featureDim, seed = 53L)
    locally {
      val bx1 = scala.collection.mutable.ArrayBuffer[PlanFeatures.FeatTree]()
      val bx2 = scala.collection.mutable.ArrayBuffer[PlanFeatures.FeatTree]()
      val by1 = scala.collection.mutable.ArrayBuffer[Double]()
      val by2 = scala.collection.mutable.ArrayBuffer[Double]()
      seedLabeled.filter(_.plans.length >= 2).foreach { lq =>
        val trees = lq.plans.map(fg0.transform)
        val labels = lq.latenciesMs.map(fg0.normLabel)
        Ranking.trainingPairs(trees.indices).foreach { case (i, j) =>
          bx1 += trees(i); bx2 += trees(j); by1 += labels(i); by2 += labels(j)
        }
      }
      bay.fit(bx1.toIndexedSeq, bx2.toIndexedSeq, by1.toIndexedSeq,
        by2.toIndexedSeq, epochs = epochs / 2)
    }
    val variance = uCands.map { cands =>
      if (cands.size >= 2)
        bay.predictPair(fg0.transform(cands(0).plan), fg0.transform(cands(1).plan))._2
      else 0.0 // single-plan query: nothing to disambiguate
    }
    val uncertainIdx = variance.zipWithIndex.sortBy(-_._1)
      .map(_._2).take(picked.length)
    log.info(s"uncertainty picked ${uncertainIdx.length}: " +
      s"${uncertainIdx.sorted.mkString(",")} " +
      f"(var range ${variance.min}%.4f..${variance.max}%.4f)")
    val uncertainLabeled = Pipelines.labelWorkload(
      spark, uncertainIdx.map(unlabeled), log).head
    val (fgU, mU) = Pipelines.train(seedLabeled ++ uncertainLabeled, epochs, seed = 53L)

    // evaluate all arms on the same held-out test set
    val testLabeled = Pipelines.labelWorkload(spark, testQ, log).head
    val resC = Pipelines.evaluate(fgC, mC, testLabeled)
    val resR = Pipelines.evaluate(fgR, mR, testLabeled)
    val resU = Pipelines.evaluate(fgU, mU, testLabeled)
    Pipelines.writeLeroDict(resC, s"$outDir/lero_dict_coreset.json")
    Pipelines.writeLeroDict(resR, s"$outDir/lero_dict_random.json")
    Pipelines.writeLeroDict(resU, s"$outDir/lero_dict_uncertainty.json")
    log.info(s"CORESET:     loss=${resC.rankingLoss} " +
      f"selected=${resC.selectedTotalSec}%.3fs default=${resC.defaultTotalSec}%.3fs")
    log.info(s"RANDOM:      loss=${resR.rankingLoss} " +
      f"selected=${resR.selectedTotalSec}%.3fs default=${resR.defaultTotalSec}%.3fs")
    log.info(s"UNCERTAINTY: loss=${resU.rankingLoss} " +
      f"selected=${resU.selectedTotalSec}%.3fs default=${resU.defaultTotalSec}%.3fs")
    log.close()
    spark.stop()
  }
}
