package graft.planopt

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{GraftSession, Tables}
import graft.queries.Relational
import graft.workload.{Harvester, WorkloadGen}

/** End-to-end stable-pipeline driver (the reference's `stable.py`
  * entry point, Spark-native): harvest metadata → generate a workload
  * → enumerate + time-label candidate plans → train the pairwise
  * comparator → evaluate ranking loss + selected-vs-default latency
  * on held-out queries. Artifacts land in `results/` (log +
  * lero_dict.json), comparable in shape to the reference's committed
  * `results/stats/` goldens (BASELINE.md ranking loss 0.6132 on its
  * STATS corpus — different data, same metric).
  *
  * Usage: runMain graft.planopt.StableMain [sfDir] [numGenerated] [epochs] [outDir] [poolFile]
  *
  * With `poolFile` (r14 verdict #7 — scale the labeled workload toward
  * the reference's 1000-labeled-query regime): instead of generating a
  * fresh workload, sample `numGenerated` queries from the stable
  * pipeline's [[PoolSlices]] stripe of the committed 20k pool artifact
  * (`results/r14_pool/train_pool.txt`, the distribution-gated PoolMain
  * output) — the labeled set is then a cited subset of the same pool
  * whose template/join/filter distributions were mechanically matched
  * against the generator spec, structurally disjoint from the
  * dynamic/active pipelines' draws.
  *
  * Label quality knobs (r16 verdict #1 — the golden's ranking loss
  * converged onto its own relabel noise floor at sf0.001 labeling):
  *  - run against a LARGER sfDir (sf0.01 candidate latencies are ~10×
  *    timer/JIT jitter instead of ~1×);
  *  - SPARK_GRAFT_LABEL_REPEATS=k labels every candidate as the
  *    MIN of k timed executions (both passes of the noise-floor
  *    protocol use the same k, so the floor measures the deployed
  *    labeling protocol, not a cheaper one).
  */
object StableMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    // 100 generated + 5 fixed seeds -> 73/32 train/test at the 70%
    // split (r6 trained on 24 total; the reference's stable pipeline
    // ranks over 146-query test sets, so small pools left the
    // ranking-loss number seed-bound)
    val numGen = args.lift(1).map(_.toInt).getOrElse(100)
    val epochs = args.lift(2).map(_.toInt).getOrElse(60)
    val outDir = args.lift(3).getOrElse("results/r7_stable")
    val poolFile = args.lift(4)
    val spark = GraftSession.create()
    val log = new Pipelines.Logger(Some(s"$outDir/log.txt"))
    Tables.registerAll(spark, sfDir)

    // seed workload ([[SeedNames]]): the join-bearing relational
    // shapes, including the r11 upper-tail additions (10-way
    // full-schema, multi-alias, and the 17-relation JOB-maximum
    // multi-alias join) so the chooser is trained and evaluated where
    // join-order search space actually bites.
    // Harvest is shared with PoolMain so the committed 20k pool is
    // drawn from the same metadata this trainer uses.
    val seedSql = graft.workload.StableSeeds.seedSql

    // M20-M26: harvest + generate
    log.info(s"harvesting metadata from $sfDir")
    val h = WorkloadGen.harvest(spark, seedSql)
    val rd = Harvester.rangeDict(spark, sfDir)
    Harvester.writeInfos(spark, sfDir, s"$outDir/infos", seedSql)
    val generated = poolFile match {
      case Some(pf) => poolSample(pf, numGen, log)
      case None =>
        val g = WorkloadGen.generateRandomSql(
          h, rd, Harvester.revAliasMap, numSql = numGen, seed = 42L)
        log.info(s"generated $numGen workload queries")
        g
    }

    val (trainQ, testQ) = assembleWorkload(sfDir, generated)
    log.info(s"train=${trainQ.length} test=${testQ.length} queries; " +
      s"epochs=$epochs; label_repeats=${Pipelines.LabelRepeats} " +
      "(min-of-k timed executions per candidate, both floor passes included)")

    val art = Pipelines.stable(spark, trainQ, testQ, epochs = epochs,
      seed = 17L, log = log, dualTestFloor = true)
    val res = art.result
    Pipelines.writeLeroDict(res, s"$outDir/lero_dict.json")
    log.info(s"ranking_loss=${res.rankingLoss.getOrElse(Double.NaN)} " +
      f"selected=${res.selectedTotalSec}%.3fs default=${res.defaultTotalSec}%.3fs " +
      "(reference STATS golden: 0.6132 ranking loss, different corpus)")

    // SAME-PASS noise floor of the ranking-loss metric (the honest
    // bound a model loss is judged against): the test split's labels
    // were collected as TWO interleaved vectors in one pass
    // (Candidates.label with two vectors — both sample the same
    // JVM state), and the floor is the ranking loss of vector 2
    // scored as predictions of vector 1. A model at or under this
    // floor ranks as well as the labeling protocol reproduces itself.
    val samePassFloor = Ranking.rankingLoss(
      art.testFloorLabels.map(_.latenciesMs),
      art.testLabeled.map(_.latenciesMs))
    log.info(f"label-noise floor (SAME-PASS interleaved run1-vs-run2 " +
      f"of the test split): ${samePassFloor.getOrElse(Double.NaN)}%.4f " +
      s"over ${art.testLabeled.size} queries; model ranking_loss above " +
      "is judged RELATIVE to this floor")

    // RESOLUTION-QUALIFIED metric (r18): the raw Spearman floor
    // penalizes ordering of pairs that are measured TIES at the
    // protocol's resolution (the r18 floorprobe showed adaptive
    // escalation eliminated every >20%-gap flip while sub-4% flips —
    // genuine ties — were unchanged). Snap sub-resolution ties
    // (Ranking.TieSnapEps, protocol constant) and report BOTH the
    // floor and the model loss on the snapped labels: these measure
    // RESOLVABLE order only, and the model is judged on the same
    // metric as its floor. Raw numbers above stay the
    // round-over-round comparable series.
    val (testSnap, floorSnap) = Pipelines.snapResolution(
      art.testLabeled, art.testFloorLabels)
    val snapFloor = Ranking.rankingLoss(
      floorSnap.map(_.latenciesMs), testSnap.map(_.latenciesMs))
    val snapLoss = Pipelines.evaluate(art.fg, art.model, testSnap).rankingLoss
    log.info(f"resolution-qualified (eps=${Ranking.TieSnapEps}) metrics: " +
      f"model loss ${snapLoss.getOrElse(Double.NaN)}%.4f vs same-pass " +
      f"floor ${snapFloor.getOrElse(Double.NaN)}%.4f " +
      f"(resolvable gap ${snapLoss.getOrElse(Double.NaN) - snapFloor.getOrElse(Double.NaN)}%.4f; " +
      "raw-metric numbers above are the cross-round series)")

    // CROSS-PHASE drift diagnostic (the pre-r17 floor protocol, kept
    // because its r17 failure mode is instructive): relabel the test
    // split AFTER training and score run-1 labels against it. This
    // number conflates label noise with 60+ minutes of JVM drift —
    // the r17 golden measured the post-training relabel running ~30%
    // faster systematically, putting this number at 0.2397 while the
    // labels' own tie structure predicts ~0.05 — so it is NOT the
    // bound model quality is judged against; it documents how much
    // the deployment-time latency ORDERING drifts across JVM phases.
    val relabeled = Pipelines.labelWorkload(spark, testQ,
      new Pipelines.Logger(None)).head // second pass: no per-query log spam
    val byQid = relabeled.map(r => r.qid -> r.latenciesMs).toMap
    // Positional pairing: drop (and log) any qid whose re-enumeration
    // yielded a different candidate count — a diagnostic must never
    // kill the run (r9 advice).
    val floorPairs = art.testLabeled.filter { q =>
      byQid.get(q.qid) match {
        case Some(l2) if l2.length == q.latenciesMs.length => true
        case Some(l2) =>
          log.info(s"noise-floor: dropping qid=${q.qid} — relabel " +
            s"yielded ${l2.length} candidates vs ${q.latenciesMs.length} " +
            "on the first pass (positional pairing impossible)")
          false
        case None => false
      }
    }
    val floor = Ranking.rankingLoss(
      floorPairs.map(q => byQid(q.qid)), floorPairs.map(_.latenciesMs))
    log.info(f"cross-phase relabel drift (post-training re-label vs " +
      f"run-1 labels; NOT the model's floor): " +
      f"${floor.getOrElse(Double.NaN)}%.4f over ${floorPairs.size} queries")

    // Bayesian margin gate (r17 verdict #2): trained on the SAME train
    // labels and calibrated against the main model's own routing
    // proposals. Pure driver-side CPU like the CV folds, so it runs
    // CONCURRENTLY with them (the folds pool is bounded; one more
    // CPU-bound task costs nothing timed) — a failure is rethrown
    // after the folds so it can't be silently swallowed.
    val gateBox = new java.util.concurrent.atomic.AtomicReference[
      Either[Throwable, (BayesianModelPairWise, Pipelines.GateCalibration)]]()
    val gateThread = new Thread(() =>
      gateBox.set(
        try Right(Pipelines.trainBayesGate(art.trainLabeled, art.fg,
          art.model, epochs = epochs, seed = 23L, log = log))
        catch { case e: Throwable => Left(e) }), "graft-bayes-gate")
    gateThread.start()

    // split-independent ranking loss: 5-fold CV over the full labeled
    // corpus (labels already paid for above; folds only retrain)
    val foldLosses = Pipelines.cvRankingLosses(
      art.trainLabeled ++ art.testLabeled, folds = 5, epochs = epochs,
      seed = 17L, log = log)
    val cvMean = foldLosses.sum / foldLosses.size
    val cvSd = math.sqrt(foldLosses.map(l => (l - cvMean) * (l - cvMean)).sum /
      (foldLosses.size - 1))
    log.info(f"5-fold CV ranking loss: mean=$cvMean%.4f sd=$cvSd%.4f " +
      s"over ${art.trainLabeled.size + art.testLabeled.size} labeled queries")

    gateThread.join()
    val (gateModel, gateCal) = gateBox.get() match {
      case Right(g) => g
      case Left(e) => throw e
    }

    // ---- persist the trained artifact (the reference commits
    // saved_models/stats/stable_model/ — weights + feature_generator +
    // input_feature_dim; ModelIO is the Spark-native format) and
    // deploy FROM DISK: everything below this line could run in a
    // fresh JVM that never trained anything.
    val modelDir = s"$outDir/stable_model"
    ModelIO.save(modelDir, art.model, art.fg)
    ModelIO.saveGate(modelDir, gateModel, gateCal)
    log.info(s"saved model artifact (+ margin gate, threshold=" +
      f"${gateCal.threshold}%.4f) to $modelDir")
    E2EPhases.run(spark, sfDir, testQ, modelDir, log)
    log.close()
    spark.stop()
  }

  /** The workload-construction recipe shared by [[StableMain]] and
    * [[StableE2EMain]] — BOTH must see the identical query list and
    * 70% split, or the replay would time different held-out queries
    * than the golden trained against. */
  private[planopt] val SeedNames = Seq("j1_join_2way", "j1_join_5way",
    "j1_join_7way", "j1_join_10way", "j1_join_alias", "j1_join_17rel",
    "a2_min_join", "q2_join_group_topn")

  private[planopt] def poolSample(poolFile: String, numGen: Int,
      log: Pipelines.Logger): Seq[String] =
    PoolSlices.sample(poolFile, "stable", numGen, log)

  private[planopt] def assembleWorkload(sfDir: String, generated: Seq[String])
      : (Seq[(String, SparkSession => DataFrame)],
         Seq[(String, SparkSession => DataFrame)]) = {
    val genQueries: Seq[(String, SparkSession => DataFrame)] =
      generated.zipWithIndex.map { case (q, i) =>
        s"gen$i" -> ((s: SparkSession) => s.sql(q.stripSuffix(";")))
      }
    val fixedQueries: Seq[(String, SparkSession => DataFrame)] =
      SeedNames.map(n => n -> ((s: SparkSession) => Relational.defs(n)(s, sfDir)))
    val all = fixedQueries ++ genQueries
    all.splitAt((all.length * 0.7).toInt)
  }
}

/** The in-engine deployment timing protocol (SURVEY §7.4), shared by
  * StableMain (immediately after training) and [[StableE2EMain]]
  * (clean replay from the saved artifact in a fresh, otherwise-idle
  * JVM — the r14-verdict contention-attribution discipline applied to
  * the E2E numbers, not just the bench). */
private[planopt] object E2EPhases {
  def run(spark: SparkSession, sfDir: String,
          testQ: Seq[(String, SparkSession => DataFrame)],
          modelDir: String, log: Pipelines.Logger): Unit = {
    graft.plans.PlanChoice.installFrom(modelDir)
    log.info(graft.plans.PlanChoice.gate match {
      case Some(g) =>
        f"margin gate ACTIVE (z threshold=${g.threshold}%.4f, score-gap " +
          f"threshold=${g.scoreGapThreshold}%.5f): routing deviates from the " +
          "session-native plan only when predicted gain clears the " +
          "Bayesian head's uncertainty AND the comparator's own " +
          "predicted-gain margin"
      case None => "no margin gate in artifact (pre-r18 ungated routing)"
    })

    // ---- run the SAME held-out queries through a session wired with
    // GraftExtensions — the planner's LearnedPlanStrategy picks the
    // argmin physical variant transparently; no per-query
    // orchestration code.
    def extSession(extra: Seq[(String, String)]): SparkSession = {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      val s = GraftSession.create(_.config("spark.sql.adaptive.enabled", "false") // pin chosen plans
        .config(extra.toMap).withExtensions(new graft.engine.GraftExtensions))
      Tables.registerAll(s, sfDir)
      s
    }
    def timeAll(sess: SparkSession, label: String): Double = {
      var total = 0.0
      var routed = 0
      val bypassBefore = graft.plans.PlanChoice.bypassCount.get()
      val declBefore = graft.plans.PlanChoice.gateDeclineCount.get()
      testQ.foreach { case (name, build) =>
        graft.plans.PlanChoice.lastChoice.set(None)
        val t0 = System.nanoTime()
        build(sess).write.format("noop").mode("overwrite").save()
        val ms = (System.nanoTime() - t0) / 1e6
        total += ms
        val choice = graft.plans.PlanChoice.lastChoice.get()
        if (choice.isDefined) routed += 1
        val chosen = choice
          .map(c => s"chose [${c.knobLabel}] of ${c.nCandidates} " +
            s"(${c.nOrders} join order(s))").getOrElse("no routing")
        log.info(f"$label $name: $ms%.1fms ($chosen)")
      }
      val bypassed = graft.plans.PlanChoice.bypassCount.get() - bypassBefore
      val declined = graft.plans.PlanChoice.gateDeclineCount.get() - declBefore
      // bypass/decline count queries: the strategy decides once, at
      // the root, and plans the whole query
      log.info(s"$label: routed=$routed of ${testQ.size} queries; " +
        s"bypassed=$bypassed; gate declines=$declined")
      total
    }
    // Two passes each: the first pass on a fresh session pays one-time
    // JIT/codegen warmup, so the warm pass is the comparable number;
    // re-planning overhead is inside both injected passes. AQE is
    // pinned OFF on BOTH sides during timing — the extension sessions
    // disable it to keep chosen plans deterministic, and leaving it on
    // for the default side would confound the comparison with AQE's
    // own runtime re-planning. The plain side is the caller's session
    // (built WITHOUT the extension, so routing cannot fire there).

    // Timing protocol: the two sides run in ALTERNATING passes and
    // each side reports its best total (pass 1 doubles as that side's
    // JIT/codegen warmup). A sequential all-of-side-A-then-all-of-
    // side-B layout let background drift (GC of training garbage,
    // JIT) land asymmetrically — observed swinging a side 3× between
    // otherwise-identical runs.
    def bestOf(passes: Int)(sides: Int => (Double, Double)): (Double, Double) = {
      val runs = (1 to passes).map(sides)
      (runs.map(_._1).min, runs.map(_._2).min)
    }

    // (A) default broadcast settings, size bypass OFF: at sf0.001
    // every leaf sum is below any sane production threshold, so the
    // stock 4 MB bypass correctly skips ALL routing (that behavior is
    // spec-pinned in PlannerInjectionSpec); to measure routing itself
    // the E2E runs disable it, exactly like the spec. r3 finding:
    // routing was a pure ~30% tax on tiny queries; the choice cache's
    // direct-physical-planning fast path (repeats) must make
    // injected ≈ default even with the bypass off.
    val bypassOff = Seq(graft.plans.PlanChoice.MinInputBytesKey -> "0")
    val s2 = extSession(bypassOff)
    val (defA, injA) = bestOf(3) { k =>
      (Candidates.withConfs(spark,
        Seq("spark.sql.adaptive.enabled" -> "false")) {
        timeAll(spark, s"default-p$k")
      },
        timeAll(s2, s"injected-p$k"))
    }
    log.info(f"E2E(A) best-of-3, stock broadcast conf: injected ${injA}%.1fms vs default ${defA}%.1fms " +
      s"over ${testQ.size} held-out queries (size bypass disabled at this tiny SF)")

    // (B) defensive deployment: autoBroadcastJoinThreshold=-1 — the
    // common production guard against driver OOM from mis-estimated
    // broadcasts. The session default is then SMJ-everything; the
    // routed session's learned choice re-enables broadcast for the
    // joins where it wins (a NON-default knob), which is exactly the
    // plan diversity r3's E2E lacked. Same bypass: tiny queries skip
    // routing on the injected side and run the session default, so
    // any delta comes from the routed big joins.
    val noBcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val s3 = extSession(noBcast ++ bypassOff)
    val (defB, injB) = bestOf(3) { k =>
      (Candidates.withConfs(spark,
        noBcast :+ ("spark.sql.adaptive.enabled" -> "false")) {
        timeAll(spark, s"noBcast-default-p$k")
      },
        timeAll(s3, s"noBcast-injected-p$k"))
    }
    log.info(f"E2E(B) best-of-3, autoBroadcast=-1: injected ${injB}%.1fms vs default ${defB}%.1fms " +
      s"over ${testQ.size} held-out queries (routed choices re-enable broadcast)")
    graft.plans.PlanChoice.uninstall()
  }
}

/** Clean E2E replay from a SAVED stable artifact: reconstructs the
  * identical pool-sampled workload and 70% split as the StableMain
  * run that produced the artifact, installs the persisted model, and
  * re-times both deployment phases in an otherwise-idle JVM. Exists
  * because a golden's E2E numbers deserve the same contention
  * discipline as the bench (r14 verdict #6): the training run's own
  * E2E phase may share the machine with whatever else the session is
  * doing; this replay can be run alone.
  *
  * Usage: StableE2EMain [sfDir] [numGen] [artifactDir] [poolFile]
  * — artifactDir must contain stable_model/ from the StableMain run
  *   invoked with the same sfDir/numGen/poolFile.
  */
object StableE2EMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val numGen = args.lift(1).map(_.toInt).getOrElse(300)
    val artDir = args.lift(2).getOrElse("results/r15_stable_300")
    val poolFile = args.lift(3).getOrElse("results/r14_pool/train_pool.txt")
    val spark = GraftSession.create()
    val log = new Pipelines.Logger(Some(s"$artDir/e2e_clean.log"))
    Tables.registerAll(spark, sfDir)
    val (_, testQ) = StableMain.assembleWorkload(sfDir,
      StableMain.poolSample(poolFile, numGen, log))
    log.info(s"replaying E2E phases over ${testQ.size} held-out queries " +
      s"against $artDir/stable_model (clean JVM)")
    E2EPhases.run(spark, sfDir, testQ, s"$artDir/stable_model", log)
    log.close()
    spark.stop()
  }
}
