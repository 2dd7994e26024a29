package graft.planopt

import graft.engine.{GraftSession, Tables}

/** Post-hoc OVERHEAD-AWARE recalibration of a saved margin gate
  * (r18): the golden's first calibration maximized label-time net
  * gain, which routes every ~20 ms-gain query and then pays the
  * ~40 ms/query replanning cost the E2E arm measures — the residual
  * stock-conf routing tax. Retraining nothing, this main rebuilds the
  * SAME pool-striped workload as the golden, relabels a calibration
  * subset of the train split (min-of-LabelRepeats — gains only, no
  * floor protocol needed), recomputes the (z, gain) pairs with the
  * SAVED main model + Bayesian head, recalibrates the threshold with
  * the measured per-routed-query overhead charged, and rewrites
  * `bayes_meta.json` in place. A clean [[StableE2EMain]] replay then
  * measures the recalibrated deployment.
  *
  * Usage: GateRecalMain [sfDir] [numGen] [artifactDir] [poolFile]
  *        [nCalib] [overheadMs]
  * — sfDir/numGen/poolFile must match the golden's invocation.
  */
object GateRecalMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val numGen = args.lift(1).map(_.toInt).getOrElse(1000)
    val artDir = args.lift(2).getOrElse("results/r18_stable_1000")
    val poolFile = args.lift(3).getOrElse("results/r14_pool/train_pool.txt")
    val nCalib = args.lift(4).map(_.toInt).getOrElse(200)
    val overheadMs = args.lift(5).map(_.toDouble).getOrElse(40.0)
    val spark = GraftSession.create()
    val log = new Pipelines.Logger(Some(s"$artDir/gate_recal.log"))
    Tables.registerAll(spark, sfDir)

    val modelDir = s"$artDir/stable_model"
    val (model, fg) = ModelIO.load(modelDir)
    val old = ModelIO.loadGate(modelDir)
      .getOrElse(sys.error(s"no gate artifact in $modelDir"))

    val (trainQ, _) = StableMain.assembleWorkload(sfDir,
      StableMain.poolSample(poolFile, numGen, log))
    val calib = trainQ.take(nCalib)
    log.info(s"recalibrating gate threshold (was ${old.threshold}) on " +
      s"${calib.size} train-split queries, overhead charge " +
      f"$overheadMs%.1fms/routed query " +
      s"(label_repeats=${Pipelines.LabelRepeats}, " +
      s"adaptive_max=${Pipelines.LabelAdaptiveMax})")
    val labeled = Pipelines.labelWorkload(spark, calib, log).head
    val pairs = Pipelines.gatePairs(labeled, fg, model, old.bm)
    val cal = Pipelines.calibrateThreshold(pairs, overheadMs)
    // evidence either way: what the OLD thresholds would net under the
    // same overhead charge, on the same fresh pairs
    val oldNet = Gate.netGainMs(pairs, old.threshold, old.scoreGapThreshold, overheadMs)
    log.info(f"recalibrated: z threshold=${cal.threshold}%.4f, score-gap " +
      f"threshold=${cal.scoreGapThreshold}%.5f routes " +
      f"${cal.nRouted}/${cal.nPairs} proposed deviations " +
      f"(overhead-charged net ${cal.netGainMs}%.1fms vs " +
      f"${oldNet}%.1fms at the old thresholds (${old.threshold}%.4f, ${old.scoreGapThreshold}%.5f); " +
      f"ungated label gain ${cal.gainAllMs}%.1fms)")
    ModelIO.saveGate(modelDir, old.bm, cal)
    log.info(s"rewrote $modelDir/bayes_meta.json; replay E2E with " +
      s"StableE2EMain $sfDir $numGen $artDir $poolFile")
    log.close()
    spark.stop()
  }
}
