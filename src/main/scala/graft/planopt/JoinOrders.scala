package graft.planopt

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}

/** Join-ORDER candidate generation (r4 verdict item 8): the injected
  * strategy sees the OPTIMIZED logical plan, where Catalyst has
  * already fixed one join order — so a knob sweep alone varies only
  * physical operator choice (broadcast/SMJ/SHJ), and the learned
  * comparator had no order choice to make. Lero's corpus has 2–3
  * genuinely different plans per query (reference
  * `Lero/lero_test.py:15-23`, plan variants produced by PG cardinality
  * scaling); this is the Spark-native equivalent: rewrite the plan's
  * topmost inner-join region into alternative CONNECTED left-deep
  * orders AND bushy splits (two independently-built halves joined at
  * the root — a shape Catalyst's left-deep-biased ReorderJoin never
  * emits), and let the comparator score those trees too.
  *
  * Mechanics: flatten consecutive `Inner` joins (no hints) into (base
  * relations, join conditions); enumerate connected orders greedily
  * from different starting relations (never introducing a cross
  * product — each appended base must share a join condition with the
  * prefix, the reference generator's own connectivity rule,
  * `create_sql.py:274-323`); rebuild each order as a left-deep join
  * tree with every condition attached at its earliest valid position;
  * pin the original output attribute ORDER with a Project so parent
  * operators and the query schema are untouched.
  *
  * The variant trees reuse the original base subtrees (same exprIds),
  * so conditions resolve unchanged and downstream featurization sees
  * real plans. When a variant is re-planned, the join-reorder rules
  * must be excluded ([[pinOrderConfs]]) or the optimizer would simply
  * restore its preferred order and every variant would dedupe away.
  *
  * Scale note: all driver-side plan surgery on ≤25-node join graphs —
  * no data touched until the chosen plan executes.
  */
object JoinOrders {

  /** Session confs that stop the optimizer from re-reordering a
    * variant's joins during nested planning. */
  val pinOrderConfs: Seq[(String, String)] = Seq(
    "spark.sql.cbo.joinReorder.enabled" -> "false",
    "spark.sql.optimizer.excludedRules" ->
      ("org.apache.spark.sql.catalyst.optimizer.ReorderJoin," +
        "org.apache.spark.sql.catalyst.optimizer.CostBasedJoinReorder"))

  /** Flatten a consecutive inner-join (hint-free) region into its base
    * plans (left-to-right) and the join conditions. Column-pruning
    * Projects (attribute-only, no computed columns) between joins are
    * looked through and dropped — the variant is re-optimized with
    * only the reorder rules excluded, so pruning is re-derived for the
    * new shape. */
  private def flatten(p: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
    p match {
      case Join(l, r, Inner, cond, JoinHint.NONE) =>
        val (lb, lc) = flatten(l)
        val (rb, rc) = flatten(r)
        (lb ++ rb, lc ++ rc ++ cond.toSeq)
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[Attribute]) &&
            child.isInstanceOf[Join] =>
        flatten(child)
      case other => (Seq(other), Nil)
    }

  /** Greedy connected re-sequencing of an index SUBSET (BFS from its
    * first element, then the first unused index in `idxs` order that
    * shares a condition fully inside the sequence so far plus itself).
    * None when the subset is not internally connected. */
  private def connectedSeq(bases: Seq[LogicalPlan], conds: Seq[Expression],
                           idxs: Seq[Int]): Option[Seq[Int]] = {
    if (idxs.size <= 1) return Some(idxs)
    val used = mutable.Set(idxs.head)
    val seq = mutable.ArrayBuffer(idxs.head)
    var acc = bases(idxs.head).outputSet
    while (seq.size < idxs.size) {
      idxs.find { i =>
        !used(i) && conds.exists { c =>
          val bi = bases(i).outputSet
          c.references.subsetOf(acc ++ bi) &&
            c.references.intersect(bi).nonEmpty &&
            c.references.intersect(acc).nonEmpty
        }
      } match {
        case Some(i) => used += i; seq += i; acc = acc ++ bases(i).outputSet
        case None => return None
      }
    }
    Some(seq.toSeq)
  }

  /** Left-deep join tree of `order`, attaching each of `conds` at the
    * earliest join where all its references are in scope; also returns
    * the conditions no join of the tree could take. */
  private def leftDeep(bases: Seq[LogicalPlan], order: Seq[Int],
                       conds: Seq[Expression]): (LogicalPlan, Seq[Expression]) =
    order.tail.foldLeft((bases(order.head), conds)) { case ((cur, remaining), i) =>
      val nxt = bases(i)
      val scope = AttributeSet(cur.output ++ nxt.output)
      val (app, rest) = remaining.partition(_.references.subsetOf(scope))
      (Join(cur, nxt, Inner, app.reduceOption(And), JoinHint.NONE), rest)
    }

  /** `tree` with each leftover condition as a Filter on top (impossible
    * for connected orders). */
  private def withFilters(tree: LogicalPlan, leftover: Seq[Expression]): LogicalPlan =
    leftover.foldLeft(tree)((p, c) => Filter(c, p))

  /** BUSHY rebuild: split a connected order into two internally
    * connected halves at the most balanced feasible point, build each
    * half left-deep, and join the halves at the root (the connecting
    * conditions land there — connectivity of the whole region
    * guarantees at least one, so no cross product). None when no
    * split yields an internally connected right half with >=2 bases
    * on each side (e.g. a pure star where every dimension touches
    * only the fact table and the fact sits at the order's head).
    *
    * Why bushy matters at scale: a left-deep chain forces each join
    * to wait on the previous one and drags the full intermediate row
    * width through every exchange; a bushy tree joins two REDUCED
    * subtrees (e.g. dim⋈dim and fact⋈dim shrink independently before
    * meeting), which can cut the dominant shuffle's row count — the
    * exact choice dimension the learned comparator is meant to score,
    * and one Catalyst's default left-deep-biased ReorderJoin never
    * offers it. */
  private def rebuildBushy(bases: Seq[LogicalPlan], order: Seq[Int],
                           conds: Seq[Expression]): Option[LogicalPlan] = {
    val n = order.size
    if (n < 4) return None
    val splits = (2 to n - 2).sortBy(k => math.abs(n - 2 * k))
    splits.iterator.flatMap { k =>
      for {
        lo <- connectedSeq(bases, conds, order.take(k))
        ro <- connectedSeq(bases, conds, order.drop(k))
      } yield (lo, ro)
    }.nextOption().map { case (lo, ro) =>
      val (left, afterLeft) = leftDeep(bases, lo, conds)
      val (right, afterRight) = leftDeep(bases, ro, afterLeft)
      val (app, rest) = afterRight.partition(
        _.references.subsetOf(AttributeSet(left.output ++ right.output)))
      withFilters(Join(left, right, Inner, app.reduceOption(And), JoinHint.NONE), rest)
    }
  }

  /** At most this many variants per query, the original included. */
  private val MaxVariants = 4

  /** Join-order variants of an optimized query plan. Index 0 is always
    * the original plan; later entries rewrite the topmost inner-join
    * region into a different connected order (output order pinned by a
    * Project). Queries with fewer than 3 inner-joined bases return
    * only the original. Deterministic, so a cached choice can be
    * reconstructed by index. */
  def variants(query: LogicalPlan): Seq[LogicalPlan] = {
    val topJoin = query.collectFirst {
      case j @ Join(_, _, Inner, _, JoinHint.NONE) => j
    }
    topJoin match {
      case None => Seq(query)
      case Some(j) =>
        val (bases, conds) = flatten(j)
        if (bases.size < 3) return Seq(query)
        // connected orders, one greedy attempt per starting base, the
        // first MaxVariants that complete without a cross product
        val orders = bases.indices.iterator.flatMap { start =>
          connectedSeq(bases, conds, start +: bases.indices.filter(_ != start))
        }.take(MaxVariants).toSeq
        // drop the in-order rebuild (it reproduces the original tree
        // shape for left-deep plans; for bushy originals it is still a
        // genuine variant, and canonical dedupe downstream is the
        // final arbiter either way)
        val reordered = orders.filterNot(_ == bases.indices.toSeq).map { ord =>
          val (t, rest) = leftDeep(bases, ord, conds)
          withFilters(t, rest)
        }
        // bushy shapes: one per enumerated order (incl. the original
        // in-order — its bushy split differs from the original tree
        // even when the left-deep rebuild would not)
        val bushy = orders.flatMap(ord => rebuildBushy(bases, ord, conds))
        // interleave so the MaxVariants cap still carries both a
        // reordered left-deep AND a bushy tree; dedupe canonically
        // (two orders can bushy-split into the same tree)
        val interleaved = {
          val buf = mutable.ArrayBuffer[LogicalPlan]()
          val it1 = reordered.iterator
          val it2 = bushy.iterator
          while (it1.hasNext || it2.hasNext) {
            if (it1.hasNext) buf += it1.next()
            if (it2.hasNext) buf += it2.next()
          }
          buf.toSeq
        }
        val seen = mutable.Set(j.canonicalized)
        val rebuilt = interleaved.filter(t => seen.add(t.canonicalized)).map { t =>
          query.transformDown {
            case node if node eq j => Project(j.output, t)
          }
        }
        (query +: rebuilt).take(MaxVariants)
    }
  }
}
