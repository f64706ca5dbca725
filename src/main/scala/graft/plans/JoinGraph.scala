package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}

/** Flattened n-way inner-join: leaf subplans + the conjunct pool.
  *
  * Mirrors the reference's query analysis (SkinnerDB `QueryInfo
  * .extractPredicates` / `partitionEquiJoinCols`, /root/reference/src/query/
  * QueryInfo.java:368-468): conjuncts are grouped by the set of leaves they
  * reference; binary column equalities across leaves become join-graph edges.
  */
final case class JoinGraph(
    leaves: IndexedSeq[LogicalPlan],
    conjuncts: Seq[Expression],
    originalOutput: Seq[Attribute]) {

  private val leafOutput: IndexedSeq[AttributeSet] =
    leaves.map(l => l.outputSet)

  def leafOf(a: Attribute): Int = leafOutput.indexWhere(_.contains(a))

  /** leaf-index pairs connected by any multi-leaf conjunct (Cartesian
    * avoidance, reference `UctNode.java:170-199`). */
  val edges: Set[(Int, Int)] = conjuncts.flatMap { c =>
    val ls = referencedLeaves(c).toSeq.sorted
    for (i <- ls; j <- ls if i < j) yield (i, j)
  }.toSet

  /** equi-join edges: (leafA, attrA, leafB, attrB) */
  val equiEdges: Seq[(Int, AttributeReference, Int, AttributeReference)] =
    conjuncts.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if leafOf(a) >= 0 && leafOf(b) >= 0 && leafOf(a) != leafOf(b) =>
        (leafOf(a), a, leafOf(b), b)
    }

  def referencedLeaves(e: Expression): Set[Int] =
    e.references.toSeq.map(leafOf).filter(_ >= 0).toSet

  def connected(bound: Set[Int], cand: Int): Boolean =
    bound.isEmpty || edges.exists { case (i, j) =>
      (bound.contains(i) && j == cand) || (bound.contains(j) && i == cand)
    }

  /** Leaf pairs linked by a hashable column equality, INCLUDING equalities
    * the analyzer wrapped in implicit Casts (mixed-type keys, e.g. an INT
    * FK against a BIGINT PK). Deliberately wider than [[equiEdges]]: the
    * probe/WCOJ machinery needs raw same-typed attributes (a cast-mismatched
    * boxed value never hash-matches a sample index), but for ORDER
    * CONNECTIVITY a cast equality is still a hash join at execution time
    * and must count — otherwise the theta-avoidance below silently
    * degrades to size-greedy on any plan with mixed-type keys. */
  private val equiConnectivityEdges: Set[(Int, Int)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    def strip(e: Expression): Expression = e match {
      case c: Cast => strip(c.child)
      case other => other
    }
    conjuncts.collect {
      case EqualTo(l, r) => (strip(l), strip(r))
    }.collect {
      case (a: AttributeReference, b: AttributeReference)
          if leafOf(a) >= 0 && leafOf(b) >= 0 && leafOf(a) != leafOf(b) =>
        val (i, j) = (leafOf(a), leafOf(b))
        (math.min(i, j), math.max(i, j))
    }.toSet
  }

  /** Connected through an EQUI edge specifically (cast-tolerant — see
    * [[equiConnectivityEdges]]). A theta-only conjunct (e.g. a pushed-down
    * similarity predicate referencing two leaves) makes a pair `connected`
    * but its join step is a cartesian-with-predicate — O(|L|·|R|)
    * predicate evaluations. Order builders that cannot MEASURE that cost
    * (the runtime greedy rule scores by sizes alone; the UCT playout does
    * measure it, via full-range enumeration in `simulate`) must prefer
    * equi-connected steps. */
  def equiConnected(bound: Set[Int], cand: Int): Boolean =
    bound.isEmpty || equiConnectivityEdges.exists { case (i, j) =>
      (bound.contains(i) && j == cand) || (bound.contains(j) && i == cand)
    }

  /** Rebuild a left-deep inner-join tree in `order`, attaching every conjunct
    * at the earliest position where all its leaves are bound (the reference's
    * `LeftDeepPlan` placement, /root/reference/src/joining/plan/
    * LeftDeepPlan.java:54-124). Output column order is preserved by the
    * caller via Project(originalOutput).
    */
  def buildLeftDeep(order: Seq[Int]): LogicalPlan = {
    require(order.sorted == leaves.indices.toSeq, s"bad order $order")
    var remaining = conjuncts
    var bound = Set(order.head)
    var plan = leaves(order.head)
    // single-leaf conjuncts should already be pushed into the leaves by the
    // core optimizer, but place any stragglers defensively
    val (first, rest0) = remaining.partition(c => referencedLeaves(c).subsetOf(bound))
    if (first.nonEmpty) plan = Filter(first.reduce(And), plan)
    remaining = rest0
    for (idx <- order.tail) {
      bound += idx
      val (applicable, rest) =
        remaining.partition(c => referencedLeaves(c).subsetOf(bound))
      plan = Join(plan, leaves(idx), Inner, applicable.reduceOption(And), JoinHint.NONE)
      remaining = rest
    }
    if (remaining.nonEmpty) plan = Filter(remaining.reduce(And), plan)
    plan
  }
}

object JoinGraph extends PredicateHelper {

  /** Hints the flattener may reorder THROUGH: the strategies AQE's own
    * DynamicJoinSelection stamps onto joins during runtime re-optimization
    * (demote-broadcast on mostly-empty build stages, prefer-shuffled-hash
    * on small ones). They constrain the JOIN STRATEGY of one position in
    * the tree, not the join ORDER — and they re-derive from stage stats at
    * every re-optimization, so dropping them from a rebuilt tree loses
    * nothing durable. Treating them as barriers (the pre-round-16 behavior)
    * made the runtime switch's visible graph width depend on WHICH stages
    * DynamicJoinSelection had annotated before the rule first ran — the
    * q154 "stage-completion race" was really this: on a warm JVM every
    * join is hinted by the first re-optimization and an 8-relation graph
    * collapsed to the 3–4 unhinted leaves. USER strategy hints (BROADCAST,
    * SHUFFLE_MERGE, SHUFFLE_HASH, SHUFFLE_REPLICATE_NL) remain opaque
    * barriers — a user pinned that shape deliberately. */
  private def reorderableHint(hint: JoinHint): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{NO_BROADCAST_AND_REPLICATION, NO_BROADCAST_HASH, PREFER_SHUFFLE_HASH}
    def ok(h: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo]) =
      h.forall(_.strategy.forall {
        case NO_BROADCAST_HASH | PREFER_SHUFFLE_HASH |
             NO_BROADCAST_AND_REPLICATION => true
        case _ => false
      })
    hint == JoinHint.NONE || (ok(hint.leftHint) && ok(hint.rightHint))
  }

  /** Flatten a tree of condition-bearing inner joins (no user hints) into
    * leaves + conjuncts. Returns None for anything else — outer/semi/anti
    * joins, user join hints — which the rule must leave untouched.
    * AQE-internal strategy annotations are reorderable (see
    * [[reorderableHint]]) and are dropped from any rebuilt tree.
    */
  def extract(root: Join): Option[JoinGraph] = {
    // mid-optimization, ColumnPruning interposes attribute-only Projects (and
    // predicate placement leaves Filters) between the joins of a chain; the
    // flattener must see through them or an n-way join degenerates to 2 leaves
    def seesJoinBelow(p: LogicalPlan): Boolean = p match {
      case Join(_, _, Inner, _, hint) => reorderableHint(hint)
      case Project(pl, c) if pl.forall(_.isInstanceOf[Attribute]) => seesJoinBelow(c)
      case Filter(_, c) => seesJoinBelow(c)
      case _ => false
    }
    def flatten(p: LogicalPlan): Option[(Seq[LogicalPlan], Seq[Expression])] = p match {
      case Join(l, r, Inner, cond, hint) if reorderableHint(hint) =>
        for ((ll, lc) <- flatten(l); (rl, rc) <- flatten(r)) yield
          (ll ++ rl, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      case Project(pl, c) if pl.forall(_.isInstanceOf[Attribute]) && seesJoinBelow(c) =>
        flatten(c) // a later ColumnPruning re-narrows the rebuilt tree
      case Filter(cond, c) if seesJoinBelow(c) =>
        flatten(c).map { case (ls, cs) => (ls, cs ++ splitConjunctivePredicates(cond)) }
      // anything else (incl. non-inner or hinted joins) is an opaque leaf
      case other => Some(Seq(other), Seq.empty)
    }
    flatten(root).collect {
      case (leaves, conjuncts)
          if leaves.size >= 3 && conjuncts.forall(_.deterministic) =>
        JoinGraph(leaves.toIndexedSeq, conjuncts, root.output)
    }
  }
}
