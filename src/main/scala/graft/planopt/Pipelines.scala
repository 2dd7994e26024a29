package graft.planopt

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Json
import graft.planopt.Candidates.Candidate
import graft.planopt.PlanFeatures.{FeatureGenerator, PlanNode}

/** End-to-end pipelines (SURVEY.md §2.2 M19/M30/M31): the Spark-
  * native counterparts of the reference's `stable.py:13-30` (train
  * once + test), `Lero/deployment.py:16-46` / `Lero/dynamic.py:23-53`
  * (batched retrain-from-scratch loops), `create_training_file`
  * (M19) and `setup_logger` (M31).
  *
  * Where the reference consumes pre-computed PostgreSQL plan files,
  * this pipeline GENERATES its own candidates (knob and join-order
  * sweep, `Candidates`) and labels them by timed execution — the step that
  * fans out to the cluster; everything else is driver-side model
  * work. Evaluation mirrors `lero_test.py:82-155`: Spearman ranking
  * loss over per-query candidate scores, argmin selection, and
  * lero_dict-shaped {qid → selected-plan latency s, "sum" → total}.
  */
object Pipelines {

  /** M31 `setup_logger` (`logger.py:5-33`): console + file. */
  final class Logger(path: Option[String]) {
    private val writer = path.map { p =>
      val f = new java.io.File(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      new java.io.PrintWriter(new java.io.FileWriter(f, true))
    }
    def info(msg: String): Unit = synchronized {
      // synchronized: CV folds log from a thread pool (r15); without
      // it two folds' lines could interleave mid-write in the file
      val line = s"[${java.time.Instant.now()}] $msg"
      println(line)
      writer.foreach { w => w.println(line); w.flush() }
    }
    def close(): Unit = writer.foreach(_.close())
  }

  /** M19 `create_training_file` (`create_training_file.py:4-15`):
    * strip the leading qid field from `#####`-separated plan lines. */
  def createTrainingFile(inPath: String, outPath: String): Unit = {
    val lines = scala.io.Source.fromFile(inPath).getLines().toSeq
    val out = lines.map { line =>
      val arr = line.split("#####")
      arr.drop(1).mkString("#####")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), out.mkString("\n") + "\n")
  }

  /** One query with its labeled candidate plans. */
  final case class LabeledQuery(qid: String, plans: Seq[PlanNode], latenciesMs: Seq[Double])

  /** Per-query labeled-candidate cap — see
    * [[Candidates.capCandidates]]. 6 keeps one knob-plan for each of
    * the ≤4 order variants plus two knob alternates of the default
    * order; pair volume per capped query is 30 vs the uncapped 90
    * that made an r14 CV fold cost 37 min. */
  val MaxLabeledPerQuery = 6

  /** Timed executions per candidate label, reduced by MIN (r16
    * verdict #1: single-sample labels pinned the golden's ranking
    * loss to its own relabel noise floor; latency noise is one-sided,
    * so min is the robust estimator — see Candidates.label).
    * Process-wide via SPARK_GRAFT_LABEL_REPEATS so BOTH passes of
    * every noise-floor protocol (stable and dynamic) label
    * identically — a floor measured under a cheaper protocol than the
    * labels would understate the labels' noise. */
  val LabelRepeats: Int =
    sys.env.get("SPARK_GRAFT_LABEL_REPEATS")
      .flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(1)

  /** Adaptive-escalation ceiling (r17 verdict #1 — push the same-pass
    * floor toward ≤0.15): candidates in an ambiguous pair (relative
    * gap inside Candidates.DefaultGapLo/Hi) are re-sampled up to this
    * many runs per label vector. Defaults to LabelRepeats (escalation
    * off); SPARK_GRAFT_LABEL_ADAPTIVE_MAX=k engages it. Process-wide
    * like LabelRepeats, and for the same reason: every pass of every
    * noise-floor protocol must label under the protocol it measures. */
  val LabelAdaptiveMax: Int =
    sys.env.get("SPARK_GRAFT_LABEL_ADAPTIVE_MAX")
      .flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(LabelRepeats)

  /** Sweep + label candidates for each query (the cluster-side
    * step; at 100 TB you run this at a sampled SF, like the reference
    * labels on a training DB), returning one labeled workload per label
    * vector (see [[Candidates.label]]): the first is the label set; a
    * second (`vectors` = 2) comes from the same interleaved pass and
    * exists ONLY for the same-pass noise floor. The candidates are
    * [[Candidates.sweep]]'s, so the comparator trains on exactly the
    * plans the in-engine strategy scores (join-order rewrites
    * included: 10-way/17-rel joins would otherwise label only 2
    * knob-distinct plans). */
  def labelWorkload(spark: SparkSession,
                    queries: Seq[(String, SparkSession => DataFrame)],
                    log: Logger, vectors: Int = 1): Seq[Seq[LabeledQuery]] = {
    val perQuery = queries.map { case (qid, build) =>
      val cands = Candidates.capCandidates(Candidates.ofQuery(spark, build), MaxLabeledPerQuery)
      val labeled = Candidates.label(spark, cands, vectors,
        repeats = LabelRepeats, adaptiveMaxRepeats = LabelAdaptiveMax)
      def ms(l: Seq[(Candidate, Double)]) = l.map(x => f"${x._2}%.1f").mkString(",")
      log.info(s"$qid: ${cands.length} candidates " +
        s"(${cands.map(_.variantIdx).distinct.length} order variant(s)), " +
        s"latencies=${ms(labeled.head)}ms" +
        labeled.tail.map(l => s" (floor pass: ${ms(l)}ms)").mkString)
      labeled.map(l => LabeledQuery(qid, l.map(_._1.plan), l.map(_._2)))
    }
    Seq.tabulate(vectors)(v => perQuery.map(_(v)))
  }

  /** All-ordered-pairs training tensors for `labeled` under a FIXED
    * featurizer (`lero_train.py:26-40` pairing). */
  private def trainingTensors(trainable: Seq[LabeledQuery], fg: FeatureGenerator):
      (IndexedSeq[PlanFeatures.FeatTree], IndexedSeq[PlanFeatures.FeatTree],
        IndexedSeq[Double], IndexedSeq[Double]) = {
    val x1 = scala.collection.mutable.ArrayBuffer[PlanFeatures.FeatTree]()
    val x2 = scala.collection.mutable.ArrayBuffer[PlanFeatures.FeatTree]()
    val y1 = scala.collection.mutable.ArrayBuffer[Double]()
    val y2 = scala.collection.mutable.ArrayBuffer[Double]()
    trainable.foreach { q =>
      val trees = q.plans.map(fg.transform)
      val labels = q.latenciesMs.map(fg.normLabel)
      Ranking.trainingPairs(trees.indices).foreach { case (i, j) =>
        x1 += trees(i); x2 += trees(j)
        y1 += labels(i); y2 += labels(j)
      }
    }
    (x1.toIndexedSeq, x2.toIndexedSeq, y1.toIndexedSeq, y2.toIndexedSeq)
  }

  /** Train a pairwise comparator on labeled queries
    * (`lero_train.py:76-106` flow: fit featurizer on all plans +
    * exec times, all-ordered-pairs per query, pairwise BCE). */
  def train(labeled: Seq[LabeledQuery], epochs: Int = 100,
            seed: Long = 17L,
            opTypes: Vector[String] = PlanFeatures.OpTypes): (FeatureGenerator, LeroModelPairWise) = {
    val trainable = labeled.filter(_.plans.length >= 2)
    require(trainable.nonEmpty, "no query has >=2 candidates")
    val allPlans = trainable.flatMap(_.plans)
    val allTimes = trainable.flatMap(_.latenciesMs)
    val fg = FeatureGenerator.fit(allPlans, allTimes, opTypes)
    val (x1, x2, y1, y2) = trainingTensors(trainable, fg)
    val model = new LeroModelPairWise(fg.featureDim, seed)
    model.fit(x1, x2, y1, y2, epochs = epochs)
    (fg, model)
  }

  /** Fine-tune an EXISTING comparator on new labels — the reference's
    * `tuning_model_path` mode (`lero_train.py:77-88`: load the saved
    * model, REUSE its feature_generator, continue `fit` from the
    * current weights). The featurizer is frozen deliberately: vocab
    * and normalizer bounds travel with the artifact ([[ModelIO]]),
    * so features stay comparable across refreshes. Combined with
    * [[costWorkload]] this is the full cold-start lifecycle: pretrain
    * on cost labels, deploy, then fine-tune as the first runtime
    * labels arrive — spec'd to beat training from scratch on the
    * same few runtime labels. Mutates and returns `model`. */
  def finetune(fg: FeatureGenerator, model: LeroModelPairWise,
               labeled: Seq[LabeledQuery], epochs: Int = 100): LeroModelPairWise = {
    val trainable = labeled.filter(_.plans.length >= 2)
    require(trainable.nonEmpty, "no query has >=2 candidates")
    require(model.featureDim == fg.featureDim,
      s"model dim ${model.featureDim} != featurizer dim ${fg.featureDim}")
    val (x1, x2, y1, y2) = trainingTensors(trainable, fg)
    model.fit(x1, x2, y1, y2, epochs = epochs)
    model
  }

  // ---- pretrain-on-cost (`lero_train.py:91-94`, pretrain=True) ----

  /** Analytic physical-plan cost — the Spark stand-in for the PG
    * `Plan.Total Cost` label the reference pretrains on BEFORE any
    * runtime labels exist (cold start). Physical variants of one
    * logical plan share every intermediate cardinality, so a pure
    * C_out (Σ rows) cannot rank them; the discriminating terms are
    * physical: shuffle exchanges move rows over the wire, sorts pay a
    * comparison log-factor, broadcast builds ship to every executor,
    * nested-loop/cartesian blow up. Each node contributes
    * rows·weight(op). Absolute magnitudes are irrelevant downstream —
    * labels are log-min-max normalized and the comparator only
    * consumes order. */
  def planCost(p: PlanNode): Double = {
    val rows = math.max(p.rowsEst, 1.0)
    val self = p.opType match {
      case "ShuffleExchange" => 3.0 * rows
      case "BroadcastExchange" => 2.0 * rows
      case "Sort" => rows * (math.log(rows + 1) / math.log(2))
      case "SortMergeJoin" | "ShuffledHashJoin" | "BroadcastHashJoin" => rows
      case "BroadcastNestedLoopJoin" | "CartesianProduct" => 100.0 * rows
      case _ => rows
    }
    self + p.children.map(planCost).sum
  }

  /** Sweep candidates and label them with [[planCost]] — planning
    * only, NO execution (the cluster never runs a query). The result
    * reuses [[LabeledQuery]] with cost units in `latenciesMs`, so
    * [[train]] and [[evaluate]] consume it unchanged — exactly the
    * reference's pretrain flow, where cost labels ride the same
    * pairwise loss as runtime labels. */
  def costWorkload(spark: SparkSession,
                   queries: Seq[(String, SparkSession => DataFrame)],
                   log: Logger = new Logger(None)): Seq[LabeledQuery] =
    queries.map { case (qid, build) =>
      val cands = costCandidates(spark, build)
      val costs = cands.map(c => planCost(c.plan))
      log.info(s"$qid: ${cands.length} candidates, " +
        s"costs=${costs.map(c => f"$c%.0f").mkString(",")}")
      LabeledQuery(qid, cands.map(_.plan), costs)
    }

  /** The candidates [[costWorkload]] labels: the [[Candidates.sweep]]
    * of `build`'s optimized plan alone, with AQE off as in
    * [[Candidates.ofQuery]]. DELIBERATELY knob-only (no join-order
    * variants): the analytic cost discriminates PHYSICAL operator
    * choice, but ranking join-ORDER variants is cardinality-driven and
    * the gate-SF estimates are too flat to order them (measured r14:
    * cost labels over order variants ANTI-correlate with runtime,
    * Spearman loss 1.4 — worse than random init). Cold-start covers
    * the knob axis; order discrimination is owned by the runtime-label
    * path (labelWorkload, order-aware). */
  private[graft] def costCandidates(spark: SparkSession,
                                    build: SparkSession => DataFrame): Seq[Candidate] =
    Candidates.withConfs(spark, Candidates.AqeOff) {
      Candidates.sweep(spark, Seq(build(spark).queryExecution.optimizedPlan))
    }

  /** Pointwise rank-score training (`training_with_rank_score`,
    * `lero_train.py:49-52` + M13 [[Ranking.rankScore]]): per query,
    * sort candidates by label (cost in pretrain mode, runtime
    * otherwise), regress `rankScore(rank)` with the pointwise net.
    * Rank scores are log-min-max normalized through the featurizer's
    * label path like every other label in this codebase. */
  def trainPointwiseRankScore(labeled: Seq[LabeledQuery],
                              scoreType: Int = 0, epochs: Int = 100,
                              seed: Long = 17L,
                              opTypes: Vector[String] = PlanFeatures.OpTypes): (FeatureGenerator, LeroModelPointWise) = {
    val trainable = labeled.filter(_.plans.length >= 2)
    require(trainable.nonEmpty, "no query has >=2 candidates")
    val ranked = trainable.map { q =>
      val order = q.latenciesMs.zipWithIndex.sortBy(_._1).map(_._2)
      val rankOf = order.zipWithIndex
        .map { case (cand, r) => cand -> Ranking.rankScore(r + 1, scoreType) }
        .toMap
      (q.plans, q.plans.indices.map(rankOf))
    }
    val allPlans = ranked.flatMap(_._1)
    val allScores = ranked.flatMap(_._2)
    val fg = FeatureGenerator.fit(allPlans, allScores, opTypes)
    val model = new LeroModelPointWise(fg.featureDim, seed)
    model.fit(allPlans.map(fg.transform).toIndexedSeq,
      allScores.map(fg.normLabel).toIndexedSeq, epochs = epochs)
    (fg, model)
  }

  /** [[Ranking.snapResolutionTies]] over positionally-paired dual
    * label sets (same queries, same candidate lists): returns both
    * sets with sub-resolution ties snapped to equality per query. The
    * SELECTED/DEFAULT latency totals must always be computed from the
    * RAW labels — snapping is an ordering-resolution statement, not a
    * latency correction. */
  def snapResolution(l1: Seq[LabeledQuery], l2: Seq[LabeledQuery],
                     eps: Double = Ranking.TieSnapEps)
      : (Seq[LabeledQuery], Seq[LabeledQuery]) = {
    require(l1.length == l2.length)
    val snapped = l1.zip(l2).map { case (a, b) =>
      require(a.qid == b.qid && a.latenciesMs.length == b.latenciesMs.length,
        s"dual label sets misaligned at ${a.qid}/${b.qid}")
      val (s1, s2) = Ranking.snapResolutionTies(a.latenciesMs, b.latenciesMs, eps)
      (a.copy(latenciesMs = s1), b.copy(latenciesMs = s2))
    }
    (snapped.map(_._1), snapped.map(_._2))
  }

  // ---- Bayesian margin gate (r17 verdict #2: the stock-conf E2E arm
  // paid a ~10.8% routing tax because the chooser deviates from the
  // session-native plan even when its predicted gain is inside its own
  // uncertainty) ----

  /** Calibration record for the route/decline gate. `threshold` is on
    * the z-score (P(native slower) − 0.5)/σ from the Bayesian head
    * (M15, `model.py:400-412` — the reference's uncertainty output,
    * dead code there, live here); `scoreGapThreshold` is on the main
    * comparator's score delta score(native) − score(best) — its
    * predicted GAIN MAGNITUDE in normalized-label units. Both must
    * clear for a route: z alone transfers badly across deployment
    * confs (r18 measured: an overhead-charged z-only threshold that
    * fixed the stock-conf tax also declined half the defensive-conf
    * broadcast wins, whose gains are 15× larger but whose z is
    * moderate); the gain axis is conf-invariant because the score
    * units are the model's own. The rest is the train-split evidence
    * the thresholds were chosen on. */
  final case class GateCalibration(threshold: Double, nPairs: Int,
                                   nRouted: Int, netGainMs: Double,
                                   gainAllMs: Double,
                                   scoreGapThreshold: Double)

  /** Gate calibration over (z, scoreGap, gainMs) triples: jointly
    * pick the (zThr, gapThr) maximizing the REALIZED net routing gain
    * of routing exactly the pairs clearing BOTH, on the train split.
    * `overheadMs` is charged per routed query — the engine-side cost
    * of routing itself (replan under the remembered choice on every
    * repeat; the r18 E2E(A) measured ~40 ms/routed query at sf0.1) —
    * so a pick whose predicted gain does not clear BOTH the model's
    * uncertainty and the routing cost declines. Candidate thresholds
    * are 0 plus the observed values on each axis, so neither is ever
    * negative and the gate never routes on a sub-coin-flip
    * prediction; ties prefer the more conservative (larger) pair —
    * route less, the no-lose direction. The gap axis is what
    * transfers across deployment confs — see [[GateCalibration]].
    * Each grid point is scored by [[Gate.netGainMs]], the serving
    * rule's own predicate; no triples calibrate to all zeros.
    * Pure; unit-tested. */
  private[graft] def calibrateThreshold(
      triples: Seq[(Double, Double, Double)], overheadMs: Double = 0.0)
      : GateCalibration = {
    val zCands = (0.0 +: triples.map(_._1).filter(_ > 0)).distinct
    val gCands = (0.0 +: triples.map(_._2).filter(_ > 0)).distinct
    val (thr, gapThr, net) = (for (zt <- zCands; gt <- gCands)
      yield (zt, gt, Gate.netGainMs(triples, zt, gt, overheadMs)))
      .maxBy { case (zt, gt, net) => (net, zt + gt) }
    GateCalibration(thr, triples.size,
      triples.count { case (z, g, _) => Gate.clears(g, z, thr, gapThr) },
      net, triples.map(_._3).sum, gapThr)
  }

  /** The (z, scoreGap, gainMs) calibration triples for the gate: for
    * each labeled query where `mainModel`'s argmin is NOT the default
    * plan, the Bayesian z-score of (default, proposed), the main
    * model's predicted-gain score delta, and the realized label gain
    * of routing. The argmin, gap and z are [[Gate.Pick]]'s, the
    * numbers serving acts on for the same plans. */
  def gatePairs(labeled: Seq[LabeledQuery], fg: FeatureGenerator,
                mainModel: LeroModelPairWise, bm: BayesianModelPairWise)
      : Seq[(Double, Double, Double)] =
    labeled.filter(_.plans.length >= 2).flatMap { q =>
      val pick = Gate.pick(mainModel, fg, q.plans)
      Option.when(pick.best != 0)((pick.z(bm), pick.gap,
        q.latenciesMs(0) - q.latenciesMs(pick.best)))
    }

  /** Train the uncertainty-aware pairwise comparator (M15) on the same
    * labeled corpus as the main model and calibrate the margin gate's
    * threshold against the main model's own routing proposals: for
    * each train query where the main comparator's argmin is NOT the
    * default plan, score the (default, proposed) pair with the
    * Bayesian head, form z = (P(default slower) − 0.5)/σ, and choose
    * the thresholds that maximize realized net gain, charging no
    * routing overhead (`GateRecalMain` re-calibrates with one).
    * Deployed via [[ModelIO.saveGate]] → `plans.PlanChoice`: the
    * in-engine strategy routes only when [[Gate.routes]], the rule
    * the thresholds were chosen under, otherwise it declines and the
    * session plans natively — the no-lose guarantee at stock conf
    * that the r17 E2E(A) arm lacked. */
  def trainBayesGate(labeled: Seq[LabeledQuery], fg: FeatureGenerator,
                     mainModel: LeroModelPairWise, epochs: Int = 60,
                     seed: Long = 23L, log: Logger = new Logger(None))
      : (BayesianModelPairWise, GateCalibration) = {
    val trainable = labeled.filter(_.plans.length >= 2)
    require(trainable.nonEmpty, "no query has >=2 candidates")
    val (x1, x2, y1, y2) = trainingTensors(trainable, fg)
    val bm = new BayesianModelPairWise(fg.featureDim, seed)
    bm.fit(x1, x2, y1, y2, epochs = epochs)
    val cal = calibrateThreshold(gatePairs(trainable, fg, mainModel, bm))
    log.info(f"bayes gate calibration: z threshold=${cal.threshold}%.4f, " +
      f"score-gap threshold=${cal.scoreGapThreshold}%.5f routes " +
      f"${cal.nRouted}/${cal.nPairs} proposed deviations on train " +
      f"(net gain ${cal.netGainMs}%.1fms gated vs ${cal.gainAllMs}%.1fms ungated)")
    (bm, cal)
  }

  /** Evaluation result (`lero_test.py:82-155`). */
  final case class EvalResult(rankingLoss: Option[Double],
                              leroDict: Map[String, Double],
                              selectedTotalSec: Double,
                              defaultTotalSec: Double)

  /** Evaluate on labeled queries: score candidates, Spearman ranking
    * loss, argmin selection vs candidate-0 default (the reference's
    * PG baseline, `lero_test.py:56-78`). The selection is
    * [[Gate.Pick]]'s argmin, UNGATED — the reference's test-time
    * semantics that `lero_dict.json` keeps; the gated counterpart on
    * the train split is [[GateCalibration.netGainMs]]. */
  def evaluate(fg: FeatureGenerator, model: LeroModelPairWise,
               testSet: Seq[LabeledQuery]): EvalResult = {
    val scored = testSet.filter(_.plans.length >= 2).map(q => (q, Gate.pick(model, fg, q.plans)))
    val loss = Ranking.rankingLoss(scored.map(_._2.scores.toSeq), scored.map(_._1.latenciesMs))
    val dict = scala.collection.mutable.LinkedHashMap[String, Double]()
    var sum = 0.0
    var defSum = 0.0
    scored.foreach { case (q, pick) =>
      val sec = q.latenciesMs(pick.best) / 1000.0
      dict(q.qid) = sec
      sum += sec
      defSum += q.latenciesMs.head / 1000.0
    }
    EvalResult(loss, dict.toMap, sum, defSum)
  }

  /** lero_dict.json writer (`lero_test.py:99-112` layout). */
  def writeLeroDict(result: EvalResult, path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, Json.pretty(
      ListMap.from(result.leroDict.toSeq :+ ("sum" -> result.selectedTotalSec))) + "\n")
  }

  /** Everything the stable pipeline produced — the result plus the
    * trained artifacts, so callers can deploy the model in-engine
    * (`plans.PlanChoice.install`). */
  final case class StableArtifacts(result: EvalResult, fg: FeatureGenerator,
                                   model: LeroModelPairWise,
                                   testLabeled: Seq[LabeledQuery],
                                   trainLabeled: Seq[LabeledQuery],
                                   testFloorLabels: Seq[LabeledQuery] = Nil)

  /** M30 stable pipeline (`stable.py:13-30`): label, train on the
    * train split, evaluate on the test split; returns the result with
    * the trained model for deployment. With `dualTestFloor` the test
    * split is labeled into two vectors by [[labelWorkload]] and the
    * second (same-pass) one rides in `testFloorLabels` so the caller
    * can state the labeling protocol's own noise floor. */
  def stable(spark: SparkSession,
             trainQueries: Seq[(String, SparkSession => DataFrame)],
             testQueries: Seq[(String, SparkSession => DataFrame)],
             epochs: Int = 100, seed: Long = 17L,
             log: Logger = new Logger(None),
             dualTestFloor: Boolean = false): StableArtifacts = {
    val trainLabeled = labelWorkload(spark, trainQueries, log).head
    val testVectors = labelWorkload(spark, testQueries, log, if (dualTestFloor) 2 else 1)
    val (testLabeled, testFloor) = (testVectors.head, testVectors.lift(1).getOrElse(Nil))
    val (fg, model) = train(trainLabeled, epochs, seed)
    val res = evaluate(fg, model, testLabeled)
    log.info(s"ranking loss: ${res.rankingLoss}")
    log.info(f"total latency: selected=${res.selectedTotalSec}%.3fs " +
      f"default=${res.defaultTotalSec}%.3fs")
    StableArtifacts(res, fg, model, testLabeled, trainLabeled, testFloor)
  }

  /** k-fold CV over an already-labeled corpus (labels are the
    * expensive part — execution — so folds only re-train/re-score):
    * per-fold held-out Spearman ranking losses. A single split's loss
    * is seed-cherry-pickable (r3 verdict: ±0.24 swing on 182
    * queries); the fold mean±sd is the split-independent number. */
  def cvRankingLosses(labeled: Seq[LabeledQuery], folds: Int = 5,
                      epochs: Int = 100, seed: Long = 17L,
                      log: Logger = new Logger(None)): Seq[Double] = {
    val eligible = new scala.util.Random(seed)
      .shuffle(labeled.filter(_.plans.length >= 2))
    val blocks = eligible.zipWithIndex.groupBy(_._2 % folds)
      .toSeq.sortBy(_._1).map(_._2.map(_._1))
    // Folds retrain on already-paid labels — pure driver-side CPU
    // (breeze math, per-instance state only), so they run CONCURRENTLY
    // on a bounded pool. Each fold's training is bit-deterministic
    // given (fold data, seed); parallelism changes only wall clock and
    // log interleaving (Logger.info is synchronized). At the r15
    // 300-query corpus a fold retrains in ~35 min — 5 sequential folds
    // would dominate the pipeline; 5 concurrent ones cost one fold.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(folds, Runtime.getRuntime.availableProcessors()))
    try {
      val futures = blocks.indices.map { i =>
        pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = {
            val (ffg, fm) = train(
              blocks.indices.filter(_ != i).flatMap(blocks), epochs, seed)
            val r = evaluate(ffg, fm, blocks(i))
            val loss = r.rankingLoss.getOrElse(Double.NaN)
            log.info(f"cv fold $i%d: held-out loss=$loss%.4f " +
              f"(test=${blocks(i).size}%d queries)")
            loss
          }
        })
      }
      try futures.map(_.get())
      catch { case e: Throwable =>
        // a failed fold must not leave the sibling folds (~minutes of
        // training each) running on non-daemon threads while the
        // exception propagates — cancel them and tear the pool down
        futures.foreach(_.cancel(true))
        pool.shutdownNow()
        throw e
      }
    } finally pool.shutdown()
  }

  /** M30 deployment/dynamic loop (`deployment.py:20-43`,
    * `dynamic.py:27-50`): per batch i, retrain FROM SCRATCH on batch
    * i and evaluate on batch i+1. Returns each batch's full evaluation
    * (loss and default totals alongside the selected totals — the
    * reference's lero_latency_list keeps only the selected sums) with
    * its trained artifacts, so a driver can re-score the batch under a
    * different evaluation metric (the r18 resolution-qualified loss)
    * without retraining.
    *
    * With `bootstrap = true` (the dynamic mode, `Lero/dynamic.py:27-38`)
    * the list additionally starts with a model_0 entry: a model trained
    * on ONLY THE FIRST labeled query of batch 0 (the reference writes
    * the first LINE of the first plan file as `train_0`) evaluated on
    * batch 0 itself — so the emitted list has exactly `batches.length`
    * entries and is shape-comparable with the reference's
    * `lero_dynamic_latency_list` artifact. The deployment mode
    * (`Lero/deployment.py:16-46`) has no bootstrap and emits
    * `batches.length - 1` entries.
    *
    * With `accumulate = true` (the deployment.py-style accumulating
    * mode, r9 verdict #5) model_i is trained on ALL labeled batches
    * 0..i rather than batch i alone — the training corpus grows with
    * the stream, trading drift-tolerance for label volume. The
    * reference's `train_{i}` harvest files are cumulative per
    * exploration run in that mode, so the Spark-native analog is a
    * growing flatten of the labeled batches (labels are still paid
    * once per batch; only training re-runs). */
  def deploymentLoop(batches: Seq[Seq[LabeledQuery]],
                     epochs: Int = 100, seed: Long = 17L,
                     log: Logger = new Logger(None),
                     bootstrap: Boolean = false,
                     accumulate: Boolean = false)
      : Seq[(EvalResult, FeatureGenerator, LeroModelPairWise)] = {
    val boot = if (bootstrap && batches.nonEmpty && batches.head.nonEmpty) {
      val (fg0, model0) = train(batches.head.take(1), epochs, seed)
      val res0 = evaluate(fg0, model0, batches.head)
      log.info(f"bootstrap model_0 (1-query train) eval on batch 0: " +
        f"loss=${res0.rankingLoss} sum=${res0.selectedTotalSec}%.3fs")
      Seq((res0, fg0, model0))
    } else Nil
    boot ++ batches.indices.drop(1).map { i =>
      val trainSet =
        if (accumulate) batches.take(i).flatten else batches(i - 1)
      val (fg, model) = train(trainSet, epochs, seed)
      val res = evaluate(fg, model, batches(i))
      log.info(f"batch eval (train=${trainSet.size} queries" +
        (if (accumulate) s", batches 0..${i - 1} accumulated" else "") +
        f"): loss=${res.rankingLoss} sum=${res.selectedTotalSec}%.3fs")
      (res, fg, model)
    }
  }
}
