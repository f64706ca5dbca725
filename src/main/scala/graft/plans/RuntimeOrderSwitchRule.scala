package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage

/** Mid-query join-order switching — the runtime half of the reference's
  * adaptive execution (SkinnerDB switches the join order BETWEEN budgeted
  * episodes as measured progress comes in, /root/reference/src/joining/
  * JoinProcessor.java:75-152 + progress/ProgressTracker.java). Spark's
  * analog of an episode boundary is an AQE stage boundary: each time a
  * shuffle/broadcast stage materializes, AQE re-optimizes the REMAINING
  * logical plan with the finished stages replaced by `LogicalQueryStage`
  * leaves carrying EXACT observed statistics. This rule is injected into
  * that re-optimization (`injectRuntimeOptimizerRule`): when the observed
  * sizes show the not-yet-executed join prefix is misordered by at least
  * `switchFactor` (4×), it rebuilds the remaining joins
  * smallest-connected-first — measured cardinality replaces
  * the sample-based estimate the moment it exists, which is strictly better
  * information than another search episode.
  *
  * Idempotent by construction: a rebuilt tree IS in greedy order, so
  * re-entry finds nothing to switch (AQE re-optimizes after every stage).
  * Any failure leaves the plan untouched, like the planning-time rule.
  */
final class RuntimeOrderSwitchRule(spark: SparkSession)
    extends Rule[LogicalPlan] with Logging {

  import RuntimeOrderSwitchRule._

  private def enabled: Boolean =
    spark.conf.get("spark.graft.uct.runtimeSwitch", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case j: Join if j.resolved =>
        try switch(j).getOrElse(j)
        catch {
          case e: Exception =>
            logWarning(s"graft runtime order switch failed, keeping plan: $e")
            j
        }
    }
  }

  /** leaf size: exact runtime bytes for materialized stages, the planner's
    * estimate otherwise — one consistent unit for the greedy comparison.
    * BROADCAST stages are counted as free: their reported size is the
    * inflated hashed-relation buffer (~1 MB floor, not comparable with scan
    * estimates), and a broadcast side doesn't constrain the probe order
    * anyway — re-ordering one buys nothing and the inflated size would
    * wrongly evict it from its early slot. */
  private def sizeOf(p: LogicalPlan): BigInt = p match {
    case q: LogicalQueryStage
        if q.physicalPlan.collectFirst {
          case b: org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec => b
        }.isDefined =>
      BigInt(0)
    case _ => p.stats.sizeInBytes
  }

  /** LogicalQueryStage leaves only exist inside AQE re-optimization, i.e.
    * after at least one stage has materialized; their stats are the exact
    * observed statistics once materialized, the planner estimate before. */
  private def hasMaterializedStage(leaves: Seq[LogicalPlan]): Boolean =
    leaves.exists(_.exists {
      case _: LogicalQueryStage => true
      case _ => false
    })

  private def switch(root: Join): Option[LogicalPlan] = {
    JoinGraph.extract(root).flatMap { graph =>
      val nStages = graph.leaves.count(_.exists {
        case _: LogicalQueryStage => true
        case _ => false
      })
      def probe(decision: String): Unit =
        record(ProbeStats(graph.leaves.size, nStages, decision))
      if (!hasMaterializedStage(graph.leaves)) { probe("no-stage"); return None }
      val sizes = graph.leaves.map(sizeOf)
      val greedy = greedyOrder(graph, sizes)
      val identity = graph.leaves.indices
      if (greedy == identity) { probe("already-greedy"); return None }
      // never trade an all-equi order for one with a theta-only step: the
      // cartesian-with-predicate cost is invisible to the size score
      // (belt-and-braces — the equi-preferring greedy already avoids this
      // whenever the equi graph is connected)
      if (allEqui(graph, identity) && !allEqui(graph, greedy)) {
        probe("theta-guard"); return None
      }
      // score the WHOLE remaining order, not just the first divergent slot
      // (the reference re-scores the full order every episode): a sequence
      // of individually-sub-threshold misplacements whose product is a
      // disaster must still switch. The authored (possibly UCT-learned)
      // order is abandoned only when the greedy order's cumulative
      // prefix-product advantage exceeds `switchFactor`.
      if (!shouldSwitch(identity, greedy, sizes, switchFactor)) {
        probe("below-factor"); return None
      }
      probe("fired")
      record(SwitchStats(graph.leaves.size, greedy, sizes.map(_.toLong)))
      logInfo(s"graft runtime order switch over ${graph.leaves.size} leaves: " +
        s"$greedy (observed sizes ${sizes.mkString(", ")})")
      Some(Project(graph.originalOutput, graph.buildLeftDeep(greedy)))
    }
  }
}

object RuntimeOrderSwitchRule {

  /** Minimum cumulative advantage (see [[shouldSwitch]]) the greedy order
    * needs over the authored, possibly UCT-learned, order before the rule
    * abandons it; smaller advantages keep the authored order. */
  private val switchFactor = 4.0

  /** Greedy smallest-connected-first order over observed/estimated sizes —
    * the reference's intuition (start from the most selective relation)
    * applied to measured data.
    *
    * EQUI connectivity outranks size: a theta-only "connected" step is a
    * cartesian-with-predicate whose O(|L|·|R|) evaluation cost the size
    * score cannot see (found the hard way: the q55 verification chain at
    * 500k docs — cand(a_id)⋈sets(a)⋈sets(b) with the pushed-down jaccard
    * predicate linking the two sets legs — got greedily reordered
    * (sets, sets, cand) when the aggregate's planner estimate dwarfed the
    * observed leg sizes, turning an 8 s query into a 500k² predicate
    * scan). A bigger equi-joinable leaf always precedes a smaller
    * theta-only one; theta-only precedes fully disconnected. */
  private[graft] def greedyOrder(graph: JoinGraph, sizes: IndexedSeq[BigInt]): Seq[Int] = {
    val n = graph.leaves.size
    val order = collection.mutable.ArrayBuffer.empty[Int]
    val bound = collection.mutable.Set.empty[Int]
    while (order.size < n) {
      val cand0 = (0 until n).filterNot(bound)
      val equi = cand0.filter(i => graph.equiConnected(bound.toSet, i))
      val conn =
        if (equi.nonEmpty) equi
        else cand0.filter(i => graph.connected(bound.toSet, i))
      val cand = if (conn.nonEmpty) conn else cand0
      val next = cand.minBy(i => (sizes(i), i))
      order += next
      bound += next
    }
    order.toSeq
  }

  /** Every non-head step of `order` joins through at least one equi edge. */
  private[graft] def allEqui(graph: JoinGraph, order: Seq[Int]): Boolean =
    order.indices.drop(1).forall { d =>
      graph.equiConnected(order.take(d).toSet, order(d))
    }


  /** Σ over join prefixes of the prefix's log size-product — the same
    * monotone surrogate for cumulative intermediate volume on both sides,
    * so orders compare as geometric aggregates without BigInt overflow. */
  private[graft] def logScore(order: Seq[Int], sizes: IndexedSeq[BigInt]): Double = {
    var acc = 0.0
    var score = 0.0
    var k = 0
    while (k < order.length - 1) {
      acc += math.log(sizes(order(k)).doubleValue.max(1.0))
      score += acc
      k += 1
    }
    score
  }

  /** Switch when the greedy order's cumulative advantage over the authored
    * order exceeds `factor` (compared in log space). Strictly more
    * sensitive than the first-divergent-slot test this replaces: a single
    * `factor`× misplacement still trips it (the slot's advantage counts in
    * every later prefix), and a bad TAIL of sub-`factor` misplacements now
    * accumulates instead of hiding behind a small first divergence. */
  private[graft] def shouldSwitch(authored: Seq[Int], greedy: Seq[Int],
      sizes: IndexedSeq[BigInt], factor: Double): Boolean =
    logScore(authored, sizes) - logScore(greedy, sizes) >= math.log(factor)

  final case class SwitchStats(nrRelations: Int, order: Seq[Int], sizes: Seq[Long])

  /** One rule evaluation over an extracted join graph: width, how many
    * leaves are already AQE stages, and the decision taken. Bounded log,
    * cleared with [[clearLog]] — the q154-family gates read it to
    * diagnose a lost stage-completion race (was the graph ever seen
    * wide?) without a re-execution. */
  final case class ProbeStats(nrRelations: Int, nrStages: Int, decision: String)
  private val probeLog =
    new java.util.concurrent.ConcurrentLinkedQueue[ProbeStats]()
  private def record(p: ProbeStats): Unit = {
    probeLog.add(p)
    while (probeLog.size > 256) probeLog.poll()
  }
  def recentProbes: Seq[ProbeStats] = {
    import scala.jdk.CollectionConverters._
    probeLog.asScala.toSeq
  }

  /** Bounded log of recent switches, cleared with [[clearLog]]. A single
    * execution can legitimately switch several times — AQE folds each
    * finished join into a stage leaf, so later re-optimizations see
    * progressively NARROWER graphs; `recentSwitches.lastOption` is the final
    * (narrowest) fire, and gates that assert a wide switch scan the log. */
  private val log =
    new java.util.concurrent.ConcurrentLinkedQueue[SwitchStats]()

  private def record(s: SwitchStats): Unit = {
    log.add(s)
    while (log.size > 64) log.poll()
  }

  def recentSwitches: Seq[SwitchStats] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }

  def clearLog(): Unit = { log.clear(); probeLog.clear() }
}
