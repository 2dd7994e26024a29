package graft.planopt

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.planopt.PlanFeatures.PlanNode

/** Candidate physical-plan generator + labeler (SURVEY.md
  * §7.4) — the Spark-native replacement for the Lero PostgreSQL patch
  * that produced plan variants by scaling cardinality estimates (that
  * component is absent from the reference repo; plans arrive
  * pre-computed in its data files, `lero_test.py:15-23`).
  *
  * Catalyst doesn't expose "give me k plans", but it re-plans under
  * session knobs. The sweep varies exactly the decisions the learned
  * comparator is supposed to rank (SURVEY §2.1 J2 — physical join
  * variant choice, and join order):
  *  - `autoBroadcastJoinThreshold`: −1 (never broadcast) / default /
  *    huge (broadcast everything that fits);
  *  - `join.preferSortMergeJoin`: SMJ vs shuffled-hash;
  *  - `cbo.joinReorder.enabled`: stats-driven vs FROM-order joins.
  *
  * AQE is disabled during BOTH enumeration and candidate execution
  * (SURVEY §7 risk note): the featurized static plan must be the plan
  * that runs, otherwise labels describe a different plan than the one
  * the model scored. Dedupe is by the canonicalized plan string
  * (exprIds normalized), so knob combinations that collapse to the
  * same physical plan count once.
  *
  * Scale note: enumeration is driver-side planning only (no data
  * touched); labeling executes candidates — at 100 TB you label on a
  * sampled fraction or a smaller SF, exactly like the reference
  * labels on its training DB, not production.
  */
object Candidates {

  /** One knob assignment of the sweep grid. */
  final case class Knobs(broadcastThreshold: String, preferSortMergeJoin: Boolean,
                         joinReorder: Boolean) {
    def confs: Seq[(String, String)] = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> broadcastThreshold,
      "spark.sql.join.preferSortMergeJoin" -> preferSortMergeJoin.toString,
      "spark.sql.cbo.joinReorder.enabled" -> joinReorder.toString,
      "spark.sql.adaptive.enabled" -> "false")

    /** The physical-planning subset of [[confs]] — what the in-engine
      * strategy applies, only around the physical planning of an
      * ALREADY-OPTIMIZED plan (the incoming query or a pinned join-order
      * variant), where an optimizer-time conf like joinReorder would be
      * inert. Join order comes from [[JoinOrders.variants]] instead. */
    def physicalConfs: Seq[(String, String)] =
      confs.filterNot(_._1 == "spark.sql.cbo.joinReorder.enabled")
    def label: String =
      s"bcast=$broadcastThreshold,smj=$preferSortMergeJoin,reorder=$joinReorder"
  }

  /** The sweep grid: 3 × 2 × 2 = 12 assignments (typically 2–6
    * distinct plans after dedupe — the reference corpus runs 2–3
    * candidates per query, SURVEY §6).
    *
    * ORDER CONTRACT: the FIRST assignment is the engine-default
    * configuration (bcast=10 MB Spark default, preferSortMergeJoin
    * default true, joinReorder true as `Tables.registerAll` enables
    * it), so candidate 0 of every enumerated list IS the plan the
    * session would run natively. `Pipelines.evaluate` reports
    * `latenciesMs.head` as the default baseline exactly like the
    * reference's `get_pg_dict` reports candidate 0 (`lero_test.py:
    * 56-78`, where candidate 0 is PG's default plan) — with a
    * non-default assignment first (the pre-r10 "-1" ordering), every
    * selected-vs-default golden was benchmarked against the
    * never-broadcast plan instead of the engine's own choice,
    * overstating the win on broadcast-favorable workloads. */
  val knobGrid: Seq[Knobs] = for {
    bcast <- Seq("10485760", "-1", "536870912")
    smj <- Seq(true, false)
    reorder <- Seq(true, false)
  } yield Knobs(bcast, smj, reorder)

  /** A deduped candidate: the knobs that produce it, its canonical
    * plan string, the featurizable plan IR snapshot, and (for
    * order-aware enumeration) which [[JoinOrders.variants]] index it
    * was planned from — 0 is the optimizer's own order. */
  final case class Candidate(knobs: Knobs, canonical: String, plan: PlanNode,
                             variantIdx: Int = 0)

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

  /** Enumerate distinct physical plans for a query by re-planning
    * under the knob grid. Planning only — no execution. */
  def enumerate(spark: SparkSession, build: SparkSession => DataFrame): Seq[Candidate] = {
    val seen = scala.collection.mutable.LinkedHashMap[String, Candidate]()
    knobGrid.foreach { knobs =>
      withConfs(spark, knobs.confs) {
        val df = build(spark)
        val plan = df.queryExecution.executedPlan
        val canonical = canonicalKey(plan)
        if (!seen.contains(canonical)) {
          seen(canonical) = Candidate(knobs, canonical, PlanFeatures.fromSparkPlan(plan))
        }
      }
    }
    seen.values.toSeq
  }

  /** ORDER-AWARE enumeration (r14): the knob sweep above plus the
    * [[JoinOrders.variants]] rewrites, so the LABELED candidate space
    * matches what [[graft.plans.LearnedPlanStrategy]] routes over —
    * before this, the tail joins (10-way/17-relation) labeled only 2
    * knob-distinct plans while the strategy scored order variants the
    * comparator had never trained on. Variant 0 is [[enumerate]]'s
    * full knob sweep; later variants are planned with the reorder
    * rules pinned off and sweep the broadcast-threshold axis only
    * (the strategy's own bounded grid).
    * Variants are derived from the DEFAULT-knob optimized plan, which
    * is deterministic per session state — [[executeOrdered]] rebuilds
    * them identically. */
  def enumerateOrdered(spark: SparkSession,
                       build: SparkSession => DataFrame): Seq[Candidate] = {
    val seen = scala.collection.mutable.LinkedHashMap(
      enumerate(spark, build).map(c => c.canonical -> c): _*)
    orderVariants(spark, build).zipWithIndex.drop(1).foreach { case (vq, vIdx) =>
      knobGrid.filter(k => k.joinReorder && k.preferSortMergeJoin).foreach { knobs =>
        withConfs(spark, knobs.confs ++ JoinOrders.pinOrderConfs) {
          val plan = org.apache.spark.sql.execution.graft.SparkInternals.ofRows(spark, vq)
            .queryExecution.executedPlan
          val canonical = canonicalKey(plan)
          if (!seen.contains(canonical))
            seen(canonical) =
              Candidate(knobs, canonical, PlanFeatures.fromSparkPlan(plan), vIdx)
        }
      }
    }
    seen.values.toSeq
  }

  /** The join-order rewrites of the DEFAULT-knob optimized plan
    * (variant 0 = the plan itself) — shared by [[enumerateOrdered]]
    * and [[executeOrdered]] so both walk the same list. Exposed so a
    * labeling loop can derive the list ONCE per query instead of once
    * per candidate (each derivation is a full build + optimize +
    * rewrite — pure driver-side waste when repeated). */
  private[graft] def orderVariants(spark: SparkSession,
                                   build: SparkSession => DataFrame) =
    withConfs(spark, knobGrid.head.confs) {
      JoinOrders.variants(build(spark).queryExecution.optimizedPlan)
    }

  /** Execute an order-aware candidate: variant 0 re-plans the build
    * under its knobs (exactly [[execute]]); later variants execute the
    * rewritten logical plan with the order pinned. `variants` is the
    * per-query [[orderVariants]] list (derived once by the caller); a
    * list that SHRANK between enumerate and execute (session-state
    * drift) returns None — the knob-plan fallback would pair a
    * different tree's latency with the variant candidate's features,
    * silently mislabeling the training data. */
  def executeOrdered(spark: SparkSession, build: SparkSession => DataFrame,
                     c: Candidate,
                     variants: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
      : Option[(Long, Double)] =
    if (c.variantIdx == 0) Some(execute(spark, build, c.knobs))
    else if (c.variantIdx >= variants.size) None
    else {
      val vq = variants(c.variantIdx)
      withConfs(spark, c.knobs.confs ++ JoinOrders.pinOrderConfs) {
        val df = org.apache.spark.sql.execution.graft.SparkInternals.ofRows(spark, vq)
        val t0 = System.nanoTime()
        val n = df.count()
        Some((n, (System.nanoTime() - t0) / 1e6))
      }
    }

  /** Label every candidate by timed execution (optionally after one
    * untimed warmup run). The variant list is derived ONCE for the
    * query; a candidate whose variant index no longer resolves (drift)
    * is DROPPED from the labeled set (logged), never mislabeled with a
    * different plan's latency.
    *
    * `repeats` > 1 labels each candidate as the MIN of `repeats`
    * timed executions (r16 verdict #1 — single-sample labels at
    * sub-second latencies carry enough timer/JIT noise that the
    * trained comparator's ranking loss converged onto the relabel
    * noise floor). Min, not median: wall-clock noise on a fixed plan
    * is one-sided — descheduling, GC, code-cache misses only ever ADD
    * time — so the minimum is the standard robust estimator of the
    * plan's intrinsic latency, and it additionally discards the first
    * run's one-time codegen compile, which is not a property of the
    * plan being ranked. */
  def labelCandidatesOrdered(spark: SparkSession,
                             build: SparkSession => DataFrame,
                             candidates: Seq[Candidate],
                             warmup: Boolean = false,
                             repeats: Int = 1,
                             adaptiveMaxRepeats: Int = 0,
                             gapLo: Double = DefaultGapLo,
                             gapHi: Double = DefaultGapHi): Seq[(Candidate, Double)] = {
    val k = math.max(1, repeats)
    val kMax = math.max(k, adaptiveMaxRepeats)
    val variants =
      if (candidates.exists(_.variantIdx > 0)) orderVariants(spark, build)
      else Nil
    val base = candidates.flatMap { c =>
      if (warmup) executeOrdered(spark, build, c, variants)
      val runs = (1 to k).flatMap(_ =>
        executeOrdered(spark, build, c, variants).map(_._2))
      if (runs.length == k)
        Some((c, scala.collection.mutable.ArrayBuffer(runs: _*)))
      else {
        System.err.println(s"[graft] dropping candidate variantIdx=" +
          s"${c.variantIdx} [${c.knobs.label}]: variant list shrank to " +
          s"${variants.size} between enumerate and execute")
        None
      }
    }
    // ADAPTIVE ESCALATION (r17 verdict #1 — the same-pass floor's
    // residual flips live in pairs whose relative gap is small enough
    // that min-of-k samples still cross under scheduling variance):
    // any candidate participating in a pair whose gap falls inside
    // (gapLo, gapHi) gets one more timed run per round, up to kMax
    // samples. Near-ties BELOW gapLo are left alone (their flips are
    // genuine ties no sample count resolves), clear wins ABOVE gapHi
    // never flip — escalating only the ambiguous band buys the floor
    // reduction of min-of-kMax at a fraction of its labeling cost.
    var changed = true
    while (changed && base.exists(_._2.length < kMax)) {
      changed = false
      val amb = ambiguousIdxs(base.map(_._2.min), gapLo, gapHi)
      base.zipWithIndex.foreach { case ((c, buf), i) =>
        if (amb(i) && buf.length < kMax) {
          executeOrdered(spark, build, c, variants).foreach { r =>
            buf += r._2; changed = true
          }
        }
      }
    }
    base.map { case (c, buf) => (c, buf.min) }
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
    * engine-default plan — [[knobGrid]]'s ORDER CONTRACT) always
    * survives as element 0: `Pipelines.evaluate` reads
    * `latenciesMs.head` as the default baseline. */
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

  /** [[labelCandidatesOrdered]] producing TWO independent label
    * vectors from ONE pass, for the same-pass noise floor: each
    * candidate runs 2·`repeats` times with executions ASSIGNED
    * ALTERNATELY to the two vectors, each vector reduced by min — so
    * both vectors sample the identical JVM state and the floor
    * computed between them measures the labeling protocol's own
    * reproducibility. The r17 golden measured why this matters: a
    * relabel pass taken 90 minutes later (post-training JVM) ran ~30%
    * faster systematically and put the cross-phase floor at 0.2397
    * while the labels' tie structure predicts ~0.05 — the old floor
    * was mostly JVM drift, not label noise. */
  def labelCandidatesDual(spark: SparkSession,
                          build: SparkSession => DataFrame,
                          candidates: Seq[Candidate],
                          repeats: Int = 1,
                          adaptiveMaxRepeats: Int = 0,
                          gapLo: Double = DefaultGapLo,
                          gapHi: Double = DefaultGapHi)
      : (Seq[(Candidate, Double)], Seq[(Candidate, Double)]) = {
    val k = math.max(1, repeats)
    val kMax = math.max(k, adaptiveMaxRepeats)
    val variants =
      if (candidates.exists(_.variantIdx > 0)) orderVariants(spark, build)
      else Nil
    val both = candidates.flatMap { c =>
      // at k == 1 the alternate assignment is systematic — run 0 (the
      // one carrying one-time codegen/JIT compile) always lands in
      // vector 1 — so a single UNTIMED warmup execution absorbs the
      // compile cost first; at k >= 2 the per-vector min discards the
      // compile-bearing sample on its own and the warmup would be
      // wasted wall-clock.
      if (k == 1) executeOrdered(spark, build, c, variants)
      val runs = (0 until 2 * k).flatMap(_ =>
        executeOrdered(spark, build, c, variants).map(_._2))
      if (runs.length == 2 * k) {
        val (r1, r2) = runs.zipWithIndex.partition(_._2 % 2 == 0)
        Some((c,
          scala.collection.mutable.ArrayBuffer(r1.map(_._1): _*),
          scala.collection.mutable.ArrayBuffer(r2.map(_._1): _*)))
      } else {
        System.err.println(s"[graft] dropping candidate variantIdx=" +
          s"${c.variantIdx} [${c.knobs.label}]: variant list shrank to " +
          s"${variants.size} between enumerate and execute")
        None
      }
    }
    // Adaptive escalation, SYMMETRIC across the two vectors: each
    // escalation round appends one run to EACH vector of every
    // ambiguous candidate (see labelCandidatesOrdered for the band
    // rationale), with the vector receiving the FIRST of the two
    // executions alternating by round so neither vector systematically
    // samples earlier JVM state than the other.
    var round = 0
    var changed = true
    while (changed && both.exists(_._2.length < kMax)) {
      changed = false
      val amb = ambiguousIdxs(
        both.map(t => math.min(t._2.min, t._3.min)), gapLo, gapHi)
      both.zipWithIndex.foreach { case ((c, b1, b2), i) =>
        if (amb(i) && b1.length < kMax) {
          val r1 = executeOrdered(spark, build, c, variants).map(_._2)
          val r2 = executeOrdered(spark, build, c, variants).map(_._2)
          (r1, r2) match {
            case (Some(a), Some(b)) =>
              if (round % 2 == 0) { b1 += a; b2 += b } else { b1 += b; b2 += a }
              changed = true
            case _ => ()
          }
        }
      }
      round += 1
    }
    (both.map(t => (t._1, t._2.min)), both.map(t => (t._1, t._3.min)))
  }

  /** Execute the query under a candidate's knobs, returning (rowCount,
    * wallClockMs) — the labeling step (Spark-native stand-in for the
    * reference's `Execution Time` from EXPLAIN ANALYZE). */
  def execute(spark: SparkSession, build: SparkSession => DataFrame,
              knobs: Knobs): (Long, Double) =
    withConfs(spark, knobs.confs) {
      val df = build(spark)
      val t0 = System.nanoTime()
      val n = df.count()
      (n, (System.nanoTime() - t0) / 1e6)
    }
}
