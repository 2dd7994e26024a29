package graft.planopt

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Json
import graft.engine.{GraftSession, Tables}
import graft.workload.{Harvester, WorkloadGen}

/** End-to-end dynamic/deployment-loop driver — the reference's
  * `Lero/dynamic.py:23-53` / `Lero/deployment.py:16-46` entry point,
  * Spark-native: a query stream arrives in BATCHES over time; for
  * each consecutive (batch i, batch i+1) pair the comparator is
  * retrained on labeled plans and evaluated on batch i+1, in BOTH
  * protocol variants (r9 verdict #5):
  *   - scratch: train on batch i alone — drift-tolerant (a workload
  *     shift ages out after one batch), label-starved;
  *   - accumulating (`Lero/deployment.py:16-46` style): train on
  *     batches 0..i — label-rich, drift-naive.
  * Labels (the expensive step: candidate enumeration + timed
  * execution) are paid once per batch and shared by both variants.
  * Each batch's labels are collected as TWO same-pass interleaved
  * vectors (Candidates.label) and the run1-vs-run2
  * ranking loss logged as that batch's noise floor — a batch loss is
  * a model statement only when it exceeds its floor.
  * Reports the reference's lero_latency_list (per-batch selected-plan
  * totals) plus the per-batch default totals and ranking losses the
  * reference logs separately.
  *
  * Usage: runMain graft.planopt.DynamicMain [sfDir] [numGenerated]
  *        [batchSize] [epochs] [outDir] [poolFile]
  *
  * With `poolFile` (r15 verdict #6 — the same pool-sampling treatment
  * StableMain got in r15): the stream is sampled from the dynamic
  * pipeline's [[PoolSlices]] stripe of the committed 20k
  * distribution-gated pool instead of freshly generated — structurally
  * disjoint from the stable training corpus and the active pool (one
  * canonical shuffle partitioned by index residue, not independent
  * seeded draws, which overlap in expectation).
  */
object DynamicMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val numGen = args.lift(1).map(_.toInt).getOrElse(60)
    val batchSize = args.lift(2).map(_.toInt).getOrElse(12)
    val epochs = args.lift(3).map(_.toInt).getOrElse(60)
    val outDir = args.lift(4).getOrElse("results/r10_dynamic")
    val poolFile = args.lift(5)
    val spark = GraftSession.create()
    val log = new Pipelines.Logger(Some(s"$outDir/log.txt"))
    Tables.registerAll(spark, sfDir)

    // same seed-workload family as StableMain; a DIFFERENT generator
    // seed so the dynamic stream is not the stable pipeline's corpus
    val seedSql = Seq(
      """SELECT count(*) FROM orders o, customer c
        |WHERE o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'""".stripMargin,
      """SELECT count(*) FROM lineitem l, orders o, customer c, supplier s, nation n
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |  AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
        |  AND c.c_acctbal > 0 AND l.l_quantity < 30""".stripMargin)
    val h = WorkloadGen.harvest(spark, seedSql)
    val rd = Harvester.rangeDict(spark, sfDir)
    val generated = poolFile match {
      case Some(pf) => PoolSlices.sample(pf, "dynamic", numGen, log)
      case None => WorkloadGen.generateRandomSql(
        h, rd, Harvester.revAliasMap, numSql = numGen, seed = 123L)
    }
    val queries: Seq[(String, SparkSession => DataFrame)] =
      generated.zipWithIndex.map { case (q, i) =>
        s"dyn$i" -> ((s: SparkSession) => s.sql(q.stripSuffix(";")))
      }
    val batches = queries.grouped(batchSize).toSeq
    log.info(s"dynamic stream: ${queries.length} queries in " +
      s"${batches.length} batches of $batchSize; epochs=$epochs; " +
      s"label_repeats=${Pipelines.LabelRepeats}")

    // label every batch once (candidate enumeration + timed execution
    // — the expensive step, paid per batch exactly once, as in the
    // reference where each batch's plans run against PG once), with
    // the SAME-PASS dual protocol (r17): each batch yields two
    // interleaved label vectors from one pass, so the per-batch noise
    // floor measures the labeling protocol's own reproducibility
    // instead of conflating it with cross-phase JVM drift (the pre-r17
    // relabel-later floors sat at 0.10–0.32 on 20-query batches partly
    // because of that drift).
    val labeledBoth = batches.zipWithIndex.map { case (b, i) =>
      log.info(s"labeling batch $i (${b.length} queries, dual-pass)")
      val Seq(l1, l2) = Pipelines.labelWorkload(spark, b, log, vectors = 2)
      (l1, l2)
    }
    val labeled = labeledBoth.map(_._1)
    // Per-batch SAME-PASS noise floor: a batch ranking loss above its
    // floor is a model statement, at-or-under is measurement noise.
    // The resolution-qualified twin (r18: measured ties within
    // Ranking.TieSnapEps snapped to equality) rides alongside — the
    // floor on RESOLVABLE order.
    val snappedBoth = labeledBoth.map { case (l1, l2) =>
      Pipelines.snapResolution(l1, l2)
    }
    val floors = labeledBoth.zipWithIndex.map { case ((l1, l2), i) =>
      val floor = graft.planopt.Ranking.rankingLoss(
        l2.map(_.latenciesMs), l1.map(_.latenciesMs))
      val (s1, s2) = snappedBoth(i)
      val snapFloor = graft.planopt.Ranking.rankingLoss(
        s2.map(_.latenciesMs), s1.map(_.latenciesMs))
      log.info(f"batch $i noise floor (same-pass interleaved " +
        f"run1-vs-run2): ${floor.getOrElse(Double.NaN)}%.4f " +
        s"over ${l1.size} queries (resolution-qualified " +
        f"eps=${graft.planopt.Ranking.TieSnapEps}: " +
        f"${snapFloor.getOrElse(Double.NaN)}%.4f)")
      floor.getOrElse(Double.NaN)
    }
    val snapFloors = snappedBoth.map { case (s1, s2) =>
      graft.planopt.Ranking.rankingLoss(
        s2.map(_.latenciesMs), s1.map(_.latenciesMs))
        .getOrElse(Double.NaN)
    }

    // bootstrap = the reference's model_0 entry (dynamic.py:28-38):
    // a 1-query model evaluated on batch 0, so the latency list has
    // one entry PER BATCH like lero_dynamic_latency_list. Both
    // protocol variants share the labels paid above.
    val modes = Seq(
      "scratch" -> Pipelines.deploymentLoop(labeled, epochs,
        seed = 17L, log = log, bootstrap = true),
      "accum" -> Pipelines.deploymentLoop(labeled, epochs,
        seed = 17L, log = log, bootstrap = true, accumulate = true))

    modes.foreach { case (mode, full) =>
      val results = full.map(_._1)
      full.zipWithIndex.foreach { case ((r, fg, model), i) =>
        // result index i evaluates on batch i (bootstrap evals batch 0)
        val floor = floors.lift(i).getOrElse(Double.NaN)
        val loss = r.rankingLoss.getOrElse(Double.NaN)
        val verdict =
          if (loss.isNaN || floor.isNaN) "n/a"
          else if (loss <= floor) "at-or-under floor (noise)"
          else "ABOVE floor (model statement)"
        // resolution-qualified twin: the SAME trained model re-scored
        // against the batch's tie-snapped labels, judged against the
        // tie-snapped floor — resolvable order only
        val sLoss = Pipelines.evaluate(fg, model, snappedBoth(i)._1)
          .rankingLoss.getOrElse(Double.NaN)
        val sFloor = snapFloors.lift(i).getOrElse(Double.NaN)
        val sVerdict =
          if (sLoss.isNaN || sFloor.isNaN) "n/a"
          else if (sLoss <= sFloor) "at-or-under" else "ABOVE"
        log.info(f"[$mode] batch eval $i: loss=$loss%.4f floor=$floor%.4f " +
          f"[$verdict] selected=${r.selectedTotalSec}%.3fs " +
          f"default=${r.defaultTotalSec}%.3fs " +
          f"(resolution-qualified: loss=$sLoss%.4f floor=$sFloor%.4f [$sVerdict])")
      }
      def fixed6(xs: Seq[Double]) = xs.map(Json.fixed(_, 6))
      val suffix = if (mode == "scratch") "" else "_accum"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/lero_latency_list$suffix.json"),
        Json.pretty(ListMap(
          "lero_latency_list" -> fixed6(results.map(_.selectedTotalSec)),
          "default_latency_list" -> fixed6(results.map(_.defaultTotalSec)),
          "mode" -> mode,
          // an undefined floor (no qids, or all-tie Spearman) is null
          "batch_noise_floors" -> fixed6(floors),
          "batch_noise_floors_snapped" -> fixed6(snapFloors),
          "tie_snap_eps" -> graft.planopt.Ranking.TieSnapEps)) + "\n")
      log.info(f"[$mode] totals: selected=${results.map(_.selectedTotalSec).sum}%.3fs " +
        f"default=${results.map(_.defaultTotalSec).sum}%.3fs " +
        s"over ${results.length} evaluation batches")
    }
    log.close()
    spark.stop()
  }
}
