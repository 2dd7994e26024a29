package graft.plans

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, Join, LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

import graft.planopt.{Candidates, Gate, JoinOrders, LeroModelPairWise, PlanFeatures}

/** In-engine learned plan choice (SURVEY §7.4; selection semantics of
  * the reference's test-time argmin, `Lero/lero_test.py:97`): a
  * planner `SparkStrategy` injected via
  * `spark.sql.extensions=graft.engine.GraftExtensions` that makes a
  * session *transparently* execute the model-chosen physical variant —
  * the user writes ordinary DataFrame/SQL code and the learned
  * comparator picks the plan. This object holds the installed model
  * and gate, the per-query choice cache and the observability
  * counters; [[LearnedPlanStrategy]] is the strategy itself.
  *
  * Scale note: a first-seen join query costs one optimization per
  * extra join-order variant (variant 0 is the incoming, already
  * optimized plan) and one physical planning per candidate point, the
  * session-native plan included — milliseconds against catalog stats,
  * independent of data size. The planning groups run in parallel on
  * session clones, and nothing here touches executors until the chosen
  * plan runs. A repeat plans only the remembered winner. That re-plan
  * of the winner, on the first sight and on repeats, temporarily sets
  * the knob confs on the live session (restored in a finally);
  * sessions running concurrent queries on the same SparkSession should
  * serialize planning or use `newSession()` per thread — the standard
  * caveat for any conf-sweeping extension.
  * The sweep itself never writes the live session's conf.
  * AQE can still refine the chosen plan's shuffles at runtime (its
  * runtime re-plan composes with — and can override — the static
  * choice; disable AQE for a strictly pinned plan, as the labeling
  * pipeline does).
  */
object PlanChoice {

  /** Session conf kill-switch; the strategy is active iff a model is
    * installed AND this is not "false". */
  val EnabledKey = "spark.graft.planChoice.enabled"

  /** Size-threshold bypass (r3 verdict: routing was a pure tax on
    * sub-100 ms queries): when the summed size estimate of the
    * query's leaf relations is below this many bytes, skip the sweep
    * entirely — the knob choice cannot buy back its own planning
    * cost on inputs this small. Leaf-input size, NOT the root's
    * output estimate (a count(*) over 100 TB estimates 1 output row).
    * Default 4 MB ≈ "everything fits in one task"; set 0 to route
    * everything (specs), raise it for interactive fleets. */
  val MinInputBytesKey = "spark.graft.planChoice.minInputBytes"
  val DefaultMinInputBytes: Long = 4L * 1024 * 1024

  /** Queries that skipped the sweep via the size bypass since the
    * last install — observability for the E2E logs and specs. */
  val bypassCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Query plannings the margin gate DECLINED (fresh sweeps and
    * cached declines both count) — the complement of `routed` in the
    * E2E logs. */
  val gateDeclineCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** What the strategy decided for the last matching query —
    * observability for specs and the E2E logs. On a choice-cache hit
    * `nCandidates` is 1 and `canonical`/`scores` are empty (computing
    * the prepared plan's canonical form just for observability would
    * double the fast path's cost). `nOrders` counts the distinct
    * join-ORDER variants that contributed surviving candidates (r4
    * verdict item 8: the comparator needs a real order choice, not
    * just exchange variants). `keys` are the scored candidates'
    * canonical keys in score order (empty on a hit). */
  final case class Choice(knobLabel: String, nCandidates: Int,
                          canonical: String, scores: Seq[Double],
                          nOrders: Int = 1, keys: Seq[String] = Nil)

  @volatile private var installed: Option[(LeroModelPairWise, PlanFeatures.FeatureGenerator)] = None
  @volatile private var gateInstalled: Option[Gate] = None
  val lastChoice = new AtomicReference[Option[Choice]](None)

  /** The strategy's decision for one query, remembered per canonical
    * logical plan: a repeat query plans ONCE under it instead of
    * sweeping the grid — routing overhead drops from |grid| plannings
    * to one for the steady-state (repeated-template) workload. Bounded
    * LRU; cleared on (un)install since decisions are model- and
    * gate-specific. */
  sealed trait Remembered
  object Remembered {

    /** The margin gate declined the query: it plans the whole query
      * natively, at the cost of one native planning per repeat. */
    case object Declined extends Remembered

    /** The query routes to join-order variant `variantIdx` (0 is the
      * optimizer's own order; the variant reconstructs
      * deterministically via [[graft.planopt.JoinOrders.variants]])
      * planned under `knobs` (None = the session's own confs). */
    final case class Routed(variantIdx: Int, knobs: Option[Candidates.Knobs]) extends Remembered
  }
  // One entry per distinct join query, routed or declined: every
  // decision plans the whole query at the root, so fragments never
  // add entries of their own. The bound keeps a large repeated-template
  // workload's ROUTED entries from being evicted (an evicted entry
  // re-pays the full sweep on its next repeat). Entries are a small
  // case class keyed by canonical plan strings; 16k of them is a few
  // MB.
  private val MaxChoiceCache = 16384
  private[graft] val choiceCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Remembered](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Remembered]): Boolean =
          size() > MaxChoiceCache
      })

  // guards against self-recursion while the strategy replans the same
  // query (nested planning runs the session's or a clone's planner,
  // whose strategies include this one); each sweep thread sets it too
  private[graft] val replanning: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Install the trained comparator + featurizer (JVM-global, like a
    * deployed model artifact). Sessions with GraftExtensions start
    * routing matching queries through it immediately. */
  def install(model: LeroModelPairWise, gen: PlanFeatures.FeatureGenerator): Unit = {
    installed = Some((model, gen))
    gateInstalled = None
    lastChoice.set(None)
    bypassCount.set(0)
    gateDeclineCount.set(0)
    choiceCache.clear()
  }

  /** Install the calibrated Bayesian margin gate (r17 verdict #2): a
    * routing deviation from the session-native plan fires only when
    * [[Gate.routes]] — the main comparator's predicted-gain score
    * delta exceeds `scoreGapThreshold` (the conf-invariant gain axis —
    * see Pipelines.GateCalibration) AND the gate's z-score
    * (P(native slower) − 0.5)/σ exceeds `threshold`, the rule the
    * thresholds were calibrated under. The gate applies exactly while
    * it is installed; [[install]] without this call serves the model
    * ungated. Choices are gate-specific, so the cache clears. */
  def installGate(g: Gate): Unit = {
    gateInstalled = Some(g)
    gateDeclineCount.set(0)
    choiceCache.clear()
  }

  /** Install from a persisted model directory
    * ([[graft.planopt.ModelIO]] — the deployment path: train once,
    * save, and any later JVM loads the artifact instead of
    * retraining; mirrors the reference's committed
    * `saved_models/stats/stable_model/`). Loads the margin gate too
    * when the artifact carries one (`bayes_meta.json`). */
  def installFrom(dir: String): Unit = {
    val (model, gen) = graft.planopt.ModelIO.load(dir)
    install(model, gen)
    graft.planopt.ModelIO.loadGate(dir).foreach(installGate)
  }

  def uninstall(): Unit = {
    installed = None; gateInstalled = None; choiceCache.clear()
  }

  def current: Option[(LeroModelPairWise, PlanFeatures.FeatureGenerator)] = installed

  def gate: Option[Gate] = gateInstalled
}

/** The planner strategy behind [[PlanChoice]]. Extra planning
  * strategies run BEFORE Catalyst's built-ins, so for a matching root
  * plan (contains a join, model installed) this strategy plans the
  * whole query itself: natively under the size bypass or a gate
  * decline, else the chosen candidate. Its fragments are never
  * offered to it.
  *
  * A first-seen query is swept by [[Candidates.sweep]] over its
  * [[JoinOrders.variants]] — the session-native plan, the physical
  * knob grid and the join-order rewrites, planned on session clones so
  * the live session's conf is never touched — and its candidates are
  * featurized from their prepared plans and scored by the pairwise
  * comparator; the margin gate may decline the argmin. Labeling
  * trains the comparator on the same sweep's candidates.
  *
  * The sweep only decides: it records a [[PlanChoice.Remembered]]
  * decision and hands it, with the winner's variant plan it already
  * holds, to the one planning function that also serves every
  * choice-cache hit (which re-derives the variant by index). The
  * executed plan is therefore planned exactly like the scored
  * candidate, on the first sight and on every repeat, and a first
  * sight derives the query's variants once. Returning a
  * fully-planned tree (no `planLater` placeholders) is the supported
  * way to take over whole-query planning; the outer `QueryExecution`
  * applies its preparations (EnsureRequirements, codegen collapse)
  * once, on that unprepared plan. */
case class LearnedPlanStrategy(session: SparkSession) extends SparkStrategy {
  import Candidates.{optimizePinned, planUnder}
  import PlanChoice.Remembered.{Declined, Routed}

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    val modelOpt = PlanChoice.current
    val enabled = modelOpt.isDefined &&
      session.conf.get(PlanChoice.EnabledKey, "true") != "false" &&
      !PlanChoice.replanning.get()
    // fire only for plans the knob sweep can actually vary (joins);
    // the root is always offered to strategies first, and every
    // outcome below (bypass, gate decline, routed choice) plans the
    // whole query, so fragments never reach us.
    //
    // NEVER fire on a Command (e.g. a v2 write): a nested
    // QueryExecution would EAGERLY EXECUTE the command during
    // "planning" — the write would run and the featurized plan would
    // be the constant CommandResult. Declining here is safe: the
    // built-in write strategy plans the command node with
    // planLater(query), so the planner re-enters with the bare query
    // subtree and the sweep runs on that.
    //
    // The Command check must run on the UNWRAPPED plan: the planner
    // offers ReturnAnswer(OverwriteByExpression(...)) for a v2 write,
    // and matching on the wrapper let the command through — the sweep
    // then cached under the COMMAND's canonical string, which embeds
    // its query field with raw (non-canonicalized) exprIds that
    // differ on every run, so the choice cache could never hit and
    // every repeat of a write-path query re-paid the full sweep.
    val query = plan match { // ReturnAnswer is a planning-only marker
      case ReturnAnswer(child) => child
      case p => p
    }
    if (!enabled || query.isInstanceOf[Command] ||
      !query.exists(_.isInstanceOf[Join])) return Nil

    // Size bypass: on tiny inputs the sweep's planning cost exceeds
    // any possible plan win. Leaf-relation sizes, not the root
    // estimate (aggregation roots estimate ~1 row regardless of
    // input scale).
    // byteStringAsBytes accepts both raw byte counts and the size
    // suffixes every other Spark size conf takes ("4m", "4MB")
    val minBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      session.conf.get(PlanChoice.MinInputBytesKey,
        PlanChoice.DefaultMinInputBytes.toString))
    val bypass = minBytes > 0 &&
      query.collectLeaves().map(_.stats.sizeInBytes).sum < minBytes

    val (model, gen) = modelOpt.get
    PlanChoice.replanning.set(true)
    try {
      // a bypassed root plans natively here, once: its fragments read
      // a subset of its leaves, so none of them could route either
      if (bypass) {
        PlanChoice.bypassCount.incrementAndGet()
        return Seq(planUnder(session, query, None)(p => p))
      }
      val cacheKey = Candidates.canonicalKey(query)
      Option(PlanChoice.choiceCache.get(cacheKey)).flatMap { d =>
        // a routed hit re-derives its join-order variant (deterministic
        // per query); a decline and variant 0 plan the query itself
        val variant = d match {
          case Routed(idx, _) if idx > 0 => JoinOrders.variants(query).lift(idx)
          case _ => Some(query)
        }
        variant.map(planDecision(d, _, None))
      }.getOrElse {
        val (d, variant, choice) = sweep(query, model, gen)
        PlanChoice.choiceCache.put(cacheKey, d)
        planDecision(d, variant, choice)
      }
    } finally PlanChoice.replanning.set(false)
  }

  /** Plan decision `d` on the live session from `variant`, the logical
    * plan of its join-order variant (the query itself for a decline or
    * variant 0): the session-native plan for a decline, else the
    * variant under its knobs — re-optimized with the order pinned when
    * it is a rewrite — exactly as the sweep planned the scored
    * candidate. The first sight and every hit plan through here, so
    * both execute the same plan. A routed planning records `swept`,
    * the sweep's choice on a first sight, or a 1-candidate choice on a
    * hit. */
  private def planDecision(d: PlanChoice.Remembered, variant: LogicalPlan,
                           swept: Option[PlanChoice.Choice]): Seq[SparkPlan] = Seq(d match {
    case Declined =>
      PlanChoice.gateDeclineCount.incrementAndGet()
      planUnder(session, variant, None)(p => p)
    case Routed(idx, knobs) =>
      PlanChoice.lastChoice.set(swept.orElse(Some(
        PlanChoice.Choice(knobs.fold("session-default")(_.label), 1, "", Nil))))
      if (idx == 0) planUnder(session, variant, knobs)(p => p)
      else optimizePinned(session, variant)(planUnder(session, _, knobs)(p => p))
  })

  /** Score every [[Candidates.sweep]] candidate of a first-seen
    * `query` and decide: the decision, the logical plan it plans from
    * (the winner's variant, which the sweep already holds) and, when
    * it routes, the observability record. */
  private def sweep(query: LogicalPlan, model: LeroModelPairWise,
                    gen: PlanFeatures.FeatureGenerator)
      : (PlanChoice.Remembered, LogicalPlan, Option[PlanChoice.Choice]) = {
    val cands = Candidates.sweep(session, JoinOrders.variants(query))
    val pick = Gate.pick(model, gen, cands.map(_.plan))
    val best = cands(pick.best)
    // MARGIN GATE (r17 verdict #2): with a calibrated gate installed,
    // deviate from the session-native plan only when the gate routes
    // the argmin. Otherwise DECLINE: cache the decision and plan the
    // session-native plan (repeats cost one cache lookup and one
    // native planning). Ungated, the argmin routes, native included.
    if (PlanChoice.gate.exists(!_.routes(pick))) (Declined, query, None)
    else (Routed(best.variantIdx, best.knobs), best.variant, Some(PlanChoice.Choice(
      best.knobLabel, cands.size, best.canonical, pick.scores.toSeq,
      nOrders = cands.map(_.variantIdx).distinct.size, keys = cands.map(_.canonical))))
  }
}
