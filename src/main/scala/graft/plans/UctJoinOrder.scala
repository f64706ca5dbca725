package graft.plans

import scala.collection.mutable
import scala.util.Random

/** UCT/UCB1 search over left-deep join orders — the algorithmic core of the
  * reference engine (SkinnerDB's regret-bounded join ordering: selection/
  * expansion/playout in /root/reference/src/joining/uct/UctNode.java:208-383,
  * budgeted episodes in /root/reference/src/joining/join/OldJoin.java:198-289).
  *
  * Deviation from the reference, by design (SURVEY.md §7.2/§7.4): Spark's
  * stage-based execution cannot interleave episodes on the *real* data, so an
  * episode here runs a budget-capped multiway index-nested-loop join over
  * cached per-leaf samples; the learned order is then pinned into the logical
  * plan once and AQE supplies the remaining runtime adaptivity. Rewards are
  * measured progress per budget, as in the reference's reward function
  * (OldJoin.java:92-106), not a closed-form cost model.
  */
final class UctJoinOrder(
    graph: JoinGraph,
    samples: IndexedSeq[LeafSample],
    conf: UctConf) {

  private val n = graph.leaves.size
  private val rnd = new Random(conf.seed)

  /** per-leaf equi attrs applicable once a set of leaves is bound:
    * (thisLeafAttrKey, otherLeaf, otherAttrKey) */
  private val equiByLeaf: Map[Int, Seq[(String, Int, String)]] =
    graph.equiEdges.flatMap { case (la, aa, lb, ab) =>
      Seq(la -> (SampleStore.attrKey(aa), lb, SampleStore.attrKey(ab)),
          lb -> (SampleStore.attrKey(ab), la, SampleStore.attrKey(aa)))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private final class Node {
    var visits = 0
    var rewardSum = 0.0
    val children = mutable.Map.empty[Int, Node]
  }
  private val root = new Node
  var nodesCreated = 1
  var episodes = 0
  private val orderRewards = mutable.Map.empty[List[Int], (Double, Int)]

  private def candidates(bound: List[Int]): Seq[Int] = {
    val boundSet = bound.toSet
    val unbound = (0 until n).filterNot(boundSet)
    val conn = unbound.filter(i => graph.connected(boundSet, i))
    if (conn.nonEmpty) conn else unbound // Cartesian only as a last resort
  }

  /** UCB1 selection among fully-expanded children — the reference's default
    * selection policy (JoinConfig.DEFAULT_SELECTION). Only UCB1 is built:
    * the reference's epsilon-greedy/max/random menu and its tree forgetting
    * are a documented deviation (docs/COVERAGE.md). */
  private def select(parent: Node, cand: Seq[Int]): Int =
    cand.maxBy { c =>
      val ch = parent.children(c)
      ch.rewardSum / ch.visits + conf.explorationWeight *
        math.sqrt(math.log(parent.visits.toDouble) / ch.visits)
    }

  /** One episode: walk the tree by UCB1, expand one node, complete the order
    * with a random connected playout, execute the budgeted sample join,
    * backpropagate the measured reward.
    */
  private def episode(): Unit = {
    episodes += 1
    var node = root
    val path = mutable.ArrayBuffer(root)
    val order = mutable.ArrayBuffer.empty[Int]
    // selection, then one expansion (one new tree node per episode, as in the
    // reference), then random playout to a complete order
    var selecting = true
    while (selecting && order.length < n) {
      val cand = candidates(order.toList)
      val unvisited = cand.filterNot(node.children.contains)
      val c =
        if (unvisited.isEmpty) select(node, cand)
        else { selecting = false; unvisited(rnd.nextInt(unvisited.length)) }
      if (!node.children.contains(c)) { node.children(c) = new Node; nodesCreated += 1 }
      node = node.children(c)
      path += node
      order += c
    }
    while (order.length < n) {
      val pc = candidates(order.toList)
      order += pc(rnd.nextInt(pc.length))
    }
    val r = simulate(order.toIndexedSeq)
    orderRewards.updateWith(order.toList) {
      case Some((s, c)) => Some((s + r, c + 1))
      case None => Some((r, 1))
    }
    path.foreach { nd => nd.visits += 1; nd.rewardSum += r }
  }

  /** Budget-capped depth-first multiway index join over the samples.
    * Reward: 1 + spare budget share when the sample join completes, else the
    * consumed fraction of the outermost sample — measured progress, the
    * analog of OldJoin.reward.
    */
  def simulate(order: IndexedSeq[Int]): Double = {
    val outer = samples(order.head)
    if (outer.nRows == 0) return 2.0
    var steps = 0
    var results = 0
    val boundPos = Array.fill(n)(-1) // leaf -> chosen sample row
    // precompute, per depth, the applicable equi probes (attr of this leaf,
    // bound leaf, attr of bound leaf)
    val probes: IndexedSeq[Seq[(String, Int, String)]] = order.indices.map { d =>
      val before = order.take(d).toSet
      equiByLeaf.getOrElse(order(d), Seq.empty).filter { case (_, other, _) => before.contains(other) }
    }
    def recurse(depth: Int): Boolean = { // false = budget exhausted
      if (steps >= conf.budgetPerEpisode) return false
      if (depth == n) { results += 1; return true }
      val leaf = order(depth)
      val s = samples(leaf)
      val rows: Array[Int] =
        if (probes(depth).isEmpty) Array.range(0, s.nRows)
        else {
          // intersect candidate lists from all applicable equi probes
          var cur: Array[Int] = null
          probes(depth).foreach { case (myAttr, otherLeaf, otherAttr) =>
            val v = samples(otherLeaf).cols(otherAttr)(boundPos(otherLeaf))
            val m = if (v == null) Array.empty[Int] else s.matches(myAttr, v)
            cur = if (cur == null) m else cur.intersect(m)
          }
          cur
        }
      var i = 0
      while (i < rows.length) {
        steps += 1
        if (steps >= conf.budgetPerEpisode) return false
        boundPos(leaf) = rows(i)
        if (!recurse(depth + 1)) { boundPos(leaf) = -1; return false }
        i += 1
      }
      boundPos(leaf) = -1
      true
    }
    var outerRow = 0
    var done = true
    while (outerRow < outer.nRows && done) {
      steps += 1
      boundPos(order.head) = outerRow
      done = recurse(1)
      outerRow += 1
    }
    if (done) 1.0 + (conf.budgetPerEpisode - steps).toDouble / conf.budgetPerEpisode
    else outerRow.toDouble / outer.nRows
  }

  /** "converged" if the last search() halted because the incumbent survived
    * a full improvement window, "cap" if it hit the episode ceiling. */
  var stoppedBy: String = ""

  /** Run episodes until CONVERGENCE: rewards are deterministic for a fixed
    * sample set (simulate has no randomness), so an order's mean never moves
    * once visited — the search has converged when no episode has produced a
    * BETTER order than the incumbent for a full improvement window. Window
    * and episode ceiling both scale with the join width (a 17-relation
    * space needs more exploration than a 4-relation one; the fixed
    * conf.episodes cap alone ended q110's width-17 search with every episode
    * still expanding a new node). Returns the best order = highest mean
    * reward.
    */
  def search(): Seq[Int] = {
    val window = math.max(30, 10 * n)
    val maxEpisodes = math.max(conf.episodes, 30 * n)
    var sinceImproved = 0
    var bestMean = Double.NegativeInfinity
    while (episodes < maxEpisodes && sinceImproved < window) {
      episode()
      val (_, (s, c)) =
        orderRewards.maxBy { case (o, (rs, rc)) => (rs / rc, rc, orderKey(o)) }
      val mean = s / c
      if (mean > bestMean + 1e-12) { bestMean = mean; sinceImproved = 0 }
      else sinceImproved += 1
    }
    stoppedBy = if (sinceImproved >= window) "converged" else "cap"
    val (best, _) = orderRewards.maxBy { case (o, (s, c)) => (s / c, c, orderKey(o)) }
    best
  }

  private def orderKey(o: List[Int]): Double = -o.zipWithIndex.map {
    case (l, i) => l.toDouble * math.pow(n, n - 1 - i)
  }.sum

  /** Per-level visit/reward distribution of the (final) UCT tree — the
    * textual analog of the reference's TreePlotter rendering
    * (/root/reference/src/visualization/TreePlotter.java:1-88). Children are
    * sorted by visit count; only the first `maxDepth` levels are shown.
    */
  def treeSummary(maxDepth: Int = 2, maxChildren: Int = 8): String = {
    val sb = new StringBuilder
    def rec(node: Node, depth: Int, indent: String): Unit = {
      if (depth >= maxDepth) return
      node.children.toSeq.sortBy(-_._2.visits).take(maxChildren).foreach {
        case (leaf, ch) =>
          sb.append(f"$indent└ leaf $leaf%2d: ${ch.visits}%4d visits, " +
            f"mean reward ${ch.rewardSum / math.max(1, ch.visits)}%.3f\n")
          rec(ch, depth + 1, indent + "  ")
      }
    }
    rec(root, 0, "")
    sb.toString
  }
}

final case class UctConf(
    episodes: Int,
    budgetPerEpisode: Int,
    explorationWeight: Double,
    seed: Long)

object UctConf {
  /** Defaults: budget mirrors the reference's BUDGET_PER_EPISODE=500
    * (/root/reference/src/config/JoinConfig.java:22); the exploration weight
    * is larger than the reference's 1e-5 because sample-measured rewards live
    * in [0,2] rather than the reference's tuple-progress scale.
    */
  val default: UctConf = UctConf(
    episodes = 200, budgetPerEpisode = 500,
    explorationWeight = 0.7, seed = 42L)
}
