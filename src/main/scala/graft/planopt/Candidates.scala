package graft.planopt

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CommandExecutionMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.graft.SparkInternals

import graft.engine.WorkerThreads
import graft.planopt.PlanFeatures.PlanNode

/** Candidate physical-plan generator + labeler (SURVEY.md
  * §7.4) — the Spark-native replacement for the Lero PostgreSQL patch
  * that produced plan variants by scaling cardinality estimates (that
  * component is absent from the reference repo; plans arrive
  * pre-computed in its data files, `lero_test.py:15-23`).
  *
  * Catalyst doesn't expose "give me k plans", but it re-plans under
  * session knobs. [[sweep]] varies exactly the decisions the learned
  * comparator is supposed to rank (SURVEY §2.1 J2 — physical join
  * variant choice, and join order):
  *  - `autoBroadcastJoinThreshold`: default / −1 (never broadcast) /
  *    huge (broadcast everything that fits);
  *  - `join.preferSortMergeJoin`: SMJ vs shuffled-hash;
  *  - join order: the [[JoinOrders.variants]] rewrites of the
  *    optimized plan.
  *
  * ONE sweep serves both sides of Lero: the in-engine strategy
  * ([[graft.plans.LearnedPlanStrategy]]) scores its candidates, and
  * labeling times the same candidates, so the comparator trains on
  * exactly the plans it will rank. Labeling sweeps and executes with
  * AQE off (SURVEY §7 risk note): the featurized static plan must be
  * the plan that runs, otherwise labels describe a different plan than
  * the one the model scored. Dedupe is by [[canonicalKey]], so knob
  * combinations that collapse to the same physical plan count once.
  *
  * Scale note: the sweep is driver-side planning only (no data
  * touched); labeling executes candidates — at 100 TB you label on a
  * sampled fraction or a smaller SF, exactly like the reference
  * labels on its training DB, not production.
  */
object Candidates {

  private[graft] val AqeOff = Seq("spark.sql.adaptive.enabled" -> "false")

  /** One physical-planning point of the sweep grid. Every point plans
    * a plan the optimizer has already join-reordered (CBO reorder is on
    * in every `Tables.registerAll` session), so the label keeps its
    * `reorder=true` suffix; join order itself is a candidate's
    * `variantIdx`, not a knob. */
  final case class Knobs(broadcastThreshold: String, preferSortMergeJoin: Boolean) {
    def confs: Seq[(String, String)] = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> broadcastThreshold,
      "spark.sql.join.preferSortMergeJoin" -> preferSortMergeJoin.toString) ++ AqeOff
    def label: String =
      s"bcast=$broadcastThreshold,smj=$preferSortMergeJoin,reorder=true"
  }

  /** The physical grid: 3 × 2 = 6 points. Join-order variants sweep
    * only its `preferSortMergeJoin` points (the broadcast axis), which
    * keeps the total planning cost bounded. */
  val knobGrid: Seq[Knobs] = for {
    bcast <- Seq("10485760", "-1", "536870912")
    smj <- Seq(true, false)
  } yield Knobs(bcast, smj)

  /** A deduped candidate: the knobs that plan it (None = the
    * session-native plan), the [[JoinOrders.variants]] index it is
    * planned from (0 is the optimizer's own order) with that variant's
    * logical plan, its canonical plan string and the featurizable plan
    * IR snapshot. Labeling executes `variant` under `knobs`. */
  final case class Candidate(knobs: Option[Knobs], variantIdx: Int, variant: LogicalPlan,
                             canonical: String, plan: PlanNode) {
    def knobLabel: String = knobs.fold("session-default")(_.label)
  }

  /** THE canonical-plan key used for candidate dedupe, the routing
    * choice cache, and the spec's executed-plan comparison — one
    * definition so the three can never diverge. `canonicalized`
    * normalizes exprIds but keeps per-planning `plan_id` counters;
    * strip them or identical plans from different plannings never
    * match. */
  def canonicalKey(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): String =
    p.canonicalized.toString.replaceAll("plan_id=\\d+", "plan_id=*")

  /** Run `body` with `confs` set, restoring previous values after. A
    * key that was not set is unset again (`getOption` would return its
    * default, and restoring that would leave the key set). */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val set = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every distinct candidate plan of the join-order `variants` of an
    * optimized query (`variants.head` is the query itself) on
    * `session`, in a fixed merge order:
    *  1. the query planned under the session's own confs (knobs None):
    *     the SESSION-NATIVE plan, the margin gate's baseline and the
    *     labels' default baseline (`Pipelines.evaluate` reads
    *     `latenciesMs.head`, like the reference's candidate 0 in
    *     `lero_test.py:56-78`). Under stock confs it dedupes the grid's
    *     default point; under a defensive deployment (e.g.
    *     autoBroadcastJoinThreshold=-1) it is the plan that conf
    *     produces, so a gate decline means "what the user configured",
    *     never "Spark's defaults";
    *  2. the query physically planned at each [[knobGrid]] point;
    *  3. each later variant, optimized once with the reorder rules
    *     pinned off (else the optimizer undoes the permutation), then
    *     physically planned per broadcast point.
    *
    * Every point is planned by [[planUnder]] and prepared the same
    * way, without AQE, so a candidate is the static plan its recipe
    * `(variant, knobs)` produces. The planning groups run on
    * short-lived `graft-sweep-<i>` threads, each on its own session
    * clone, so `session`'s conf is never touched. Variant 0 is planned
    * directly: a nested QueryExecution's re-analysis and
    * re-optimization of an optimized plan (the CBO join-reorder DP
    * alone cost ~60 ms per 7-way join) were most of each point's
    * time. */
  def sweep(session: SparkSession, variants: Seq[LogicalPlan]): Seq[Candidate] = {
    def planned(s: SparkSession, optimized: LogicalPlan, knobs: Option[Knobs], vIdx: Int) =
      planUnder(s, optimized, knobs) { p =>
        val executed = SparkInternals.prepareForExecution(s, p)
        Candidate(knobs, vIdx, variants(vIdx), canonicalKey(executed),
          PlanFeatures.fromSparkPlan(executed))
      }
    // groups run on several threads, so each plans its own clone of
    // the shared incoming plan
    val points = (None +: knobGrid.map(Some(_))).map(k => (s: SparkSession) =>
      Seq(planned(s, variants.head.clone(), k, 0)))
    val orderGrid = knobGrid.filter(_.preferSortMergeJoin).map(Some(_))
    val orders = variants.indices.drop(1).map { vIdx =>
      (s: SparkSession) => optimizePinned(s, variants(vIdx).clone()) { optimized =>
        orderGrid.map(planned(s, optimized, _, vIdx))
      }
    }
    val groups = points ++ orders
    // hand out the variant groups, the only ones that optimize, before
    // the single physical plannings
    val handOut = groups.indices.drop(points.size) ++ points.indices
    val results = new Array[Seq[Candidate]](groups.size)
    WorkerThreads.run("graft-sweep", session.sparkContext.defaultParallelism,
        groups.size) {
      // nested planning runs the clone's planner, whose strategies may
      // include the learned one
      graft.plans.PlanChoice.replanning.set(true)
      SparkInternals.cloneSession(session)
    } { (clone, i) =>
      val g = handOut(i)
      results(g) = SparkInternals.withActive(clone)(groups(g)(clone))
    }
    val seen = scala.collection.mutable.LinkedHashMap[String, Candidate]()
    results.iterator.flatten.foreach(c => if (!seen.contains(c.canonical)) seen(c.canonical) = c)
    seen.values.toIndexedSeq
  }

  /** [[sweep]] of `build`'s optimized plan and its
    * [[JoinOrders.variants]] as labeling plans them: with AQE off, so
    * every candidate is the static plan that runs. */
  def ofQuery(spark: SparkSession, build: SparkSession => DataFrame): Seq[Candidate] =
    withConfs(spark, AqeOff) {
      sweep(spark, JoinOrders.variants(build(spark).queryExecution.optimizedPlan))
    }

  private def classic(s: SparkSession) = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Physical planning of the optimized plan `optimized` on `s` under
    * `knobs`' confs (None: the session's own), handing the unprepared
    * plan to `f` while the confs are still set. */
  private[graft] def planUnder[T](s: SparkSession, optimized: LogicalPlan,
                                  knobs: Option[Knobs])(f: SparkPlan => T): T =
    withConfs(s, knobs.toSeq.flatMap(_.confs)) {
      f(SparkInternals.createSparkPlan(s, optimized))
    }

  /** Join-order variant `vq` analyzed and optimized once on `s` with the
    * reorder rules pinned off ([[JoinOrders.pinOrderConfs]]); `f` runs
    * while the pin is still set. */
  private[graft] def optimizePinned[T](s: SparkSession, vq: LogicalPlan)(
      f: LogicalPlan => T): T =
    withConfs(s, JoinOrders.pinOrderConfs) {
      f(new QueryExecution(classic(s), vq, new QueryPlanningTracker,
        CommandExecutionMode.SKIP).optimizedPlan)
    }

  /** Run `body` on the DataFrame that executes candidate `c`: its
    * variant under the confs that plan it (AQE off), with the join
    * order pinned so re-optimization keeps the order the sweep
    * planned. */
  private[graft] def onCandidate[T](spark: SparkSession, c: Candidate)(body: DataFrame => T): T =
    withConfs(spark, c.knobs.fold(AqeOff)(_.confs) ++ JoinOrders.pinOrderConfs) {
      body(SparkInternals.ofRows(spark, c.variant))
    }

  /** Label every candidate by timed execution into `vectors` (1 or 2)
    * label vectors, returned one per vector. Each execution runs the
    * candidate's own recipe ([[onCandidate]]) and times its `count()`
    * (the Spark-native stand-in for the reference's `Execution Time`
    * from EXPLAIN ANALYZE).
    *
    * Each vector labels a candidate as the MIN of its `repeats` timed
    * executions (r16 verdict #1 — single-sample labels at sub-second
    * latencies carry enough timer/JIT noise that the trained
    * comparator's ranking loss converged onto the relabel noise
    * floor). Min, not median: wall-clock noise on a fixed plan is
    * one-sided — descheduling, GC, code-cache misses only ever ADD
    * time — so the minimum is the standard robust estimator of the
    * plan's intrinsic latency, and it additionally discards the first
    * run's one-time codegen compile, which is not a property of the
    * plan being ranked.
    *
    * Two vectors serve the same-pass noise floor: each candidate runs
    * 2·`repeats` times with executions ASSIGNED ALTERNATELY to the two
    * vectors, so both sample the identical JVM state and the floor
    * computed between them measures the labeling protocol's own
    * reproducibility. The r17 golden measured why this matters: a
    * relabel pass taken 90 minutes later (post-training JVM) ran ~30%
    * faster systematically and put the cross-phase floor at 0.2397
    * while the labels' tie structure predicts ~0.05 — the old floor
    * was mostly JVM drift, not label noise. */
  def label(spark: SparkSession,
            candidates: Seq[Candidate],
            vectors: Int = 1,
            repeats: Int = 1,
            adaptiveMaxRepeats: Int = 0): Seq[Seq[(Candidate, Double)]] = {
    require(vectors == 1 || vectors == 2, s"vectors must be 1 or 2, got $vectors")
    val k = math.max(1, repeats)
    val kMax = math.max(k, adaptiveMaxRepeats)
    def run(c: Candidate): Double = onCandidate(spark, c) { df =>
      val t0 = System.nanoTime()
      df.count()
      (System.nanoTime() - t0) / 1e6
    }
    val base = candidates.map { c =>
      // with two vectors at k == 1 the alternate assignment is
      // systematic — run 0 (the one carrying one-time codegen/JIT
      // compile) always lands in vector 1 — so a single UNTIMED warmup
      // execution absorbs the compile cost first; at k >= 2 the
      // per-vector min discards the compile-bearing sample on its own
      // and the warmup would be wasted wall-clock.
      if (vectors == 2 && k == 1) run(c)
      val runs = IndexedSeq.fill(vectors * k)(run(c))
      (c, IndexedSeq.tabulate(vectors)(v =>
        scala.collection.mutable.ArrayBuffer(runs.indices.filter(_ % vectors == v).map(runs): _*)))
    }
    // ADAPTIVE ESCALATION (r17 verdict #1 — the same-pass floor's
    // residual flips live in pairs whose relative gap is small enough
    // that min-of-k samples still cross under scheduling variance):
    // any candidate participating in a pair whose gap falls inside
    // (DefaultGapLo, DefaultGapHi) gets one more timed run per vector
    // per round, up to kMax samples. Near-ties BELOW the band are left
    // alone (their flips are genuine ties no sample count resolves),
    // clear wins ABOVE it never flip — escalating only the ambiguous
    // band buys the floor reduction of min-of-kMax at a fraction of its
    // labeling cost. With two vectors the vector receiving the FIRST
    // of a round's executions alternates by round, so neither vector
    // systematically samples earlier JVM state than the other.
    var round = 0
    var changed = true
    while (changed && base.exists(_._2.head.length < kMax)) {
      changed = false
      val amb = ambiguousIdxs(base.map(_._2.map(_.min).min), DefaultGapLo, DefaultGapHi)
      base.zipWithIndex.foreach { case ((c, bufs), i) =>
        if (amb(i) && bufs.head.length < kMax) {
          (0 until vectors).foreach(j => bufs((j + round) % vectors) += run(c))
          changed = true
        }
      }
      round += 1
    }
    Seq.tabulate(vectors)(v => base.map { case (c, bufs) => (c, bufs(v).min) })
  }

  /** Lower/upper bounds of the "ambiguous gap" band the adaptive
    * escalation re-samples (relative gap between two candidates'
    * best-known minima). Judged against the r17 floorprobe: flips
    * concentrate in the 5–20% band; the defaults pad both edges. */
  val DefaultGapLo = 0.04
  val DefaultGapHi = 0.25

  /** Indices of candidates participating in at least one pair whose
    * relative latency gap |a−b|/max(a,b) lies inside (lo, hi) — the
    * pairs more sampling can still resolve. Pure; unit-tested. */
  private[graft] def ambiguousIdxs(mins: Seq[Double], lo: Double,
                                     hi: Double): Set[Int] = {
    val out = scala.collection.mutable.Set[Int]()
    for (i <- mins.indices; j <- (i + 1) until mins.length) {
      val gap = math.abs(mins(i) - mins(j)) /
        math.max(math.max(mins(i), mins(j)), 1e-9)
      if (gap > lo && gap < hi) { out += i; out += j }
    }
    out.toSet
  }

  /** Per-query labeled-candidate cap (the strategy's own bounded-grid
    * trick, SURVEY §7.4): labeling cost is execution and training cost
    * is all-ordered-pairs (a 10-candidate query contributes 90 pairs —
    * r14 measured 37 min per CV fold at 60 epochs; 6 candidates
    * contribute 30, a 3× fold speedup), so the labeled space is capped
    * ROUND-ROBIN ACROSS ORDER VARIANTS: variant diversity is what the
    * r14 widening bought (the comparator must train on the join-order
    * rewrites the in-engine strategy scores), so the cap keeps one
    * knob-plan per variant before a second of any. Candidate 0 (the
    * session-native plan, [[sweep]]'s first) always survives as
    * element 0: `Pipelines.evaluate` reads `latenciesMs.head` as the
    * default baseline. */
  def capCandidates(cands: Seq[Candidate], cap: Int): Seq[Candidate] =
    if (cands.size <= cap) cands
    else {
      val groups = cands.groupBy(_.variantIdx).toSeq.sortBy(_._1).map(_._2)
      val out = scala.collection.mutable.ArrayBuffer[Candidate]()
      var depth = 0
      while (out.size < cap) {
        groups.foreach { g =>
          if (out.size < cap && depth < g.size) out += g(depth)
        }
        depth += 1
      }
      out.toSeq
    }
}
