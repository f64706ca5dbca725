package graft.plans

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Optimizer rule that routes CYCLIC conjunctive join cores through the
  * worst-case-optimal Leapfrog operator — the planner integration the
  * reference centralizes in its join-implementation selection point
  * (`/root/reference/src/joining/JoinProcessor.java:65-68`, where the LFTJ
  * subsystem sits disabled behind the binary `OldJoin`). Before this rule,
  * `Leapfrog.join` only ran when a caller invoked the API directly; a user
  * writing the SAME triangle query as SQL text got the binary-join plan
  * whose intermediate (every wedge) exceeds the AGM bound the WCOJ never
  * materializes.
  *
  * Fires only when the rewrite is provably exact — the guards are
  * deliberately conservative, because Leapfrog computes SET semantics over
  * the variable columns:
  *
  *   1. the flattened inner-join graph has ≥3 leaves and every multi-leaf
  *      conjunct is deterministic (JoinGraph.extract);
  *   2. core-leaf columns split into COVERED (some plain `a = b` equi-edge
  *      consumes the column — dropping its null rows is then exact, because
  *      an inner equi-join on the column drops them too) and PAYLOAD (no
  *      edge). Payload-carrying leaves route via LATE MATERIALIZATION: the
  *      core joins the leaf's DISTINCT covered projection, and the full
  *      leaf is equi-joined back onto the bindings afterwards on those same
  *      covered columns — restoring both the payload columns and the
  *      leaf's exact bag multiplicity. The Spark analog of the reference's
  *      tuple-index design, where `JoinResult` keeps row indices and
  *      `Materialize` re-attaches the non-join columns afterwards
  *      (/root/reference/src/joining/result/JoinResult.java,
  *      src/operators/Materialize.java:95-146);
  *   3. fully-covered leaves PROVABLY duplicate-free (a distinct-shaped
  *      Aggregate, a Deduplicate, or Filter/permutation-Project above one)
  *      join as-is — set semantics equal bag semantics because an output
  *      binding fixes exactly one row per leaf. Every OTHER fully-covered
  *      leaf gets exact BAG handling: it is wrapped `GROUP BY *` + count,
  *      the count rides the core join as a share-1 singleton variable
  *      (functionally dependent on the leaf's columns, so the trie never
  *      branches on it), and the binding stream is replicated by the
  *      product of its roles' counts via `ReplicateRows` — the
  *      multiplicity mechanics of Spark's own INTERSECT ALL lowering;
  *   4. no leaf has two COVERED columns in the same equivalence class,
  *      classes are type-consistent across leaves (the joinTyped contract);
  *   5. the variable hypergraph {vars(leaf)} is CYCLIC under GYO reduction
  *      — acyclic graphs keep their left-deep plans (UCT already orders
  *      those well; WCOJ buys nothing there);
  *   6. the core shows GROWTH evidence: a traversal self-join — two roles
  *      sharing one canonicalized leaf plan, connected through DIFFERENT
  *      column positions (`e2.src = e1.dst`, where a many-to-many edge
  *      makes the cycle's output exceed its inputs) — or, failing that
  *      structural check, a SAMPLED m:n probe: every intra-core join
  *      column shows mean key multiplicity ≥ `mnThreshold` (1.5) in its
  *      leaf's cached bounded sample, which admits the symmetric/
  *      multi-table motifs the structural check misses (bipartite
  *      butterfly census, a cycle of distinct m:n edge tables). A key–FK
  *      loop always carries a unique-key side (TPC-H q05's c_nationkey =
  *      s_nationkey; q85's nation pair on n_name) whose result never
  *      exceeds the largest input: binary hash joins + UCT ordering stay
  *      optimal there, so both checks decline it.
  *
  * Only the GYO-STUCK residue (the cyclic core) is routed; the ears GYO
  * sheds — dimension legs, chains hanging off the cycle — are folded back
  * on top as ordinary binary joins (connected-first, each conjunct at its
  * earliest valid position), so a triangle census joined out to dimension
  * tables still gets the WCOJ for the cycle and hash joins for the rest.
  * Guards 2–4 apply to the core leaves only.
  *
  * The rewrite replaces the cyclic core with `Leapfrog.joinTyped` over the
  * leaf fragments, a Project restoring the original output attributes
  * (exprId-preserving aliases from the variable columns), the payload
  * join-backs, and a residual Filter for any intra-core conjunct that is
  * not a consumed equi-edge. Leaves that share a canonicalized plan
  * (self-joins — the common cyclic case) are planned ONCE and lazily
  * localCheckpoint'ed, so the distinct-edge shuffle runs a single time
  * however many join roles consume it.
  *
  * GRID SIZING is byte-budgeted and skew-aware. Each cell buffers its
  * input fragments as in-memory flat arrays, so the grid must be fine
  * enough that Σ_R |R| / Π_{v∈vars(R)} share(v) fits a per-cell budget
  * (`cellBudgetBytes`, 512 MB): the rule grows the cell count
  * from `maxCells` (32) up to `maxCellsHard` (1024) until the budget
  * holds, and DECLINES the route (keeping the spill-capable binary plan)
  * when even the hard cap cannot. The heavy-hitter probe runs BEFORE any
  * leaf is planned or checkpointed, on the bounded per-leaf samples
  * `SampleStore` caches for the UCT rule (self-join roles share one
  * sample; a declined route therefore costs only cached sample scans): a
  * variable whose top value exceeds `skewThreshold` (20%) of its sample is
  * pinned to share 1 so the cell budget is spent on dimensions that
  * actually spread load.
  *
  * The three limits default to the companion's constants of the same
  * names; tests build the rule with other values. Disable with
  * `spark.graft.wcoj.enabled=false`.
  */
final class WcojJoinRule(
    spark: SparkSession,
    mnThreshold: Double = WcojJoinRule.mnThreshold,
    cellBudgetBytes: Long = WcojJoinRule.cellBudgetBytes,
    joinBackBudgetBytes: Long = WcojJoinRule.joinBackBudgetBytes)
    extends Rule[LogicalPlan] with Logging {

  // the three limits come from the constructor, everything else from the
  // companion
  import WcojJoinRule.{mnThreshold => _, cellBudgetBytes => _,
    joinBackBudgetBytes => _, _}

  private def enabled: Boolean =
    spark.conf.get("spark.graft.wcoj.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case j: Join if j.getTagValue(PROCESSED).isEmpty && j.resolved =>
        try route(j).getOrElse { j.setTagValue(PROCESSED, true); j }
        catch {
          case NonFatal(e) =>
            logWarning(s"graft WCOJ route failed, keeping binary plan: $e")
            j.setTagValue(PROCESSED, true); j
        }
    }
  }

  /** Smallest grid (starting at `maxCells`, growing to `maxCellsHard`)
    * whose per-cell input load meets `cellBudgetBytes`; None when even the
    * hard cap cannot — the caller then declines the route. Returns
    * (shares over `vars`, per-cell load bytes, cells). */
  private def budgetedShares(
      relSizes: Seq[(Seq[String], Long)],
      vars: Seq[String]): Option[(Map[String, Int], Long, Int)] = {
    val restricted = relSizes.map { case (vs, sz) => (vs.filter(vars.contains), sz) }
    var cells = maxCells
    while (true) {
      val sh = Leapfrog.autoShares(restricted, vars, cells)
      val load = restricted.map { case (vs, sz) =>
        sz.toDouble / vs.map(v => sh.getOrElse(v, 1)).product }.sum
      if (load <= cellBudgetBytes)
        return Some((sh, load.toLong, sh.values.product))
      if (cells >= maxCellsHard) return None
      cells = math.min(cells.toLong * 4, maxCellsHard.toLong).toInt
    }
    None // unreachable
  }

  /** One core leaf's [[LeafProfile]], from its cached `SampleStore` sample
    * over the leaf's covered columns; None when a covered column is not a
    * plain attribute reference or the sample scan fails. */
  private def leafProfile(leaf: LogicalPlan,
      covered: Seq[Attribute]): Option[LeafProfile] = {
    val attrs = covered.collect { case a: AttributeReference => a }
    if (attrs.size != covered.size) return None
    try {
      val s = SampleStore.sample(spark, leaf, attrs)
      val meanMult = mutable.HashMap.empty[Long, Double]
      val topRatio = mutable.HashMap.empty[Long, Double]
      attrs.foreach { a =>
        s.index.get(SampleStore.attrKey(a)).filter(_.size > 0).foreach { idx =>
          var top = 0; var tot = 0
          idx.forEach((_, ps) => { top = math.max(top, ps.length); tot += ps.length })
          meanMult(a.exprId.id) = tot.toDouble / idx.size
          topRatio(a.exprId.id) = top.toDouble / tot
        }
      }
      val distinct = (0 until s.nRows).map(r =>
        attrs.map(a => s.cols(SampleStore.attrKey(a))(r)).toList).distinct.size
      Some(LeafProfile(meanMult.toMap, topRatio.toMap,
        if (s.nRows == 0) 1.0 else distinct.toDouble / s.nRows))
    } catch { case NonFatal(e) =>
      logInfo(s"graft WCOJ sample profile failed: $e"); None }
  }

  private def route(root: Join): Option[LogicalPlan] = {
    if (root.isStreaming) return None // no checkpoint/sample on a stream
    val graph = JoinGraph.extract(root).getOrElse(return None)
    if (graph.leaves.size > 12) return None

    // union-find over attribute exprIds connected by plain equi-edges
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = { val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb }
    val edgeAttrs = mutable.HashMap.empty[Long, AttributeReference]
    graph.equiEdges.foreach { case (_, a, _, b) =>
      edgeAttrs(a.exprId.id) = a; edgeAttrs(b.exprId.id) = b
      union(a.exprId.id, b.exprId.id)
    }

    // classes for EVERY leaf output column: equi-merged for edge
    // attributes, fresh (negative-id) singletons for the rest — the
    // singletons only exist so GYO sees the full hypergraph structure
    val leafOutputs: IndexedSeq[Seq[Attribute]] = graph.leaves.map(_.output)
    val classOfAttr = mutable.HashMap.empty[Long, Long]
    edgeAttrs.keys.foreach(id => classOfAttr(id) = find(id))
    var nextSingleton = -1L
    leafOutputs.flatten.foreach { a =>
      if (!classOfAttr.contains(a.exprId.id)) {
        classOfAttr(a.exprId.id) = nextSingleton; nextSingleton -= 1
      }
    }
    val leafClasses: IndexedSeq[Seq[Long]] =
      leafOutputs.map(_.map(a => classOfAttr(a.exprId.id)))

    // guard 5 first: the GYO-stuck residue IS the cyclic core; everything
    // else (dimension ears, chains) stays binary and is re-attached below
    val core: Set[Int] = gyoCore(leafClasses.map(_.toSet))
    if (core.size < 3) return None

    // PROFITABILITY guard: a cyclic core only grows past its inputs when
    // some join edge is many-to-many. The detectable signature is a graph
    // TRAVERSAL self-join: two core roles reading one canonicalized leaf
    // plan, connected through DIFFERENT column positions (e2.src = e1.dst
    // — the relation relates to itself via different columns, so one value
    // fans out). Without it the cycle is in practice a key–FK loop — TPC-H
    // q05's customer–orders–lineitem–supplier closed by c_nationkey =
    // s_nationkey, or a dimension self-joined symmetrically on ONE column
    // (q85's nation pair on n_name): the result never exceeds the largest
    // input, binary hash joins + UCT ordering are optimal, and HyperCube
    // input replication would only add cost. Hybrid binary/WCOJ routing on
    // a growth criterion is the published consensus (Freitag et al.,
    // "Adopting Worst-Case Optimal Joins in Relational Database Systems",
    // VLDB'20). Conservative by design — a multi-table or symmetric motif
    // (e.g. a bipartite butterfly census, where every self-join edge is
    // same-position) shows no traversal and routes only if the sampled m:n
    // probe below admits it.

    // compare roles modulo a distinct-shaped wrapper: `DISTINCT e` and a
    // raw `e` role traverse the same edge content, and the distinct
    // cannot REMOVE a many-to-many fan-out — only duplicate rows
    def growthBase(p: LogicalPlan): LogicalPlan = p match {
      case a: Aggregate if provablyDistinct(a) &&
          a.aggregateExpressions.forall(_.isInstanceOf[Attribute]) =>
        growthBase(a.child)
      case d: Deduplicate => growthBase(d.child)
      case _ => p
    }
    // …and modulo union-branch multiplicity: RemoveNoopUnion dedups the
    // branches under a DISTINCT role but not under a raw one, yet bag
    // copies of a branch never change WHETHER an m:n fan-out exists —
    // so the key is the distinct branch set, not the union itself. A
    // SINGLE-branch set collapses to the branch plan itself: that is
    // exactly what RemoveNoopUnion leaves behind under the DISTINCT role
    // (`DISTINCT (e UNION ALL e)` → `DISTINCT e`), so the raw
    // `e UNION ALL e` role and the collapsed role must land in ONE group
    // — a Set wrapper on one side and a bare plan on the other can never
    // compare equal.
    def growthKey(p: LogicalPlan): AnyRef = growthBase(p) match {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        val branches = u.children.map(_.canonicalized).distinct
        if (branches.size == 1) branches.head else branches.toSet
      case other => other.canonicalized
    }
    // each role column's position within its GROWTH BASE's output (-1 if
    // untraceable): the cross-position test must compare coordinates in
    // the one shared base space, or a DISTINCT wrapper that permutes or
    // projects its columns would flip the verdict both ways (a permuted
    // `DISTINCT dst, src` role both hides a real traversal and fakes one
    // out of a symmetric same-column join)
    def baseIndex(p: LogicalPlan): Seq[Int] = p match {
      case a: Aggregate if provablyDistinct(a) &&
          a.aggregateExpressions.forall(_.isInstanceOf[Attribute]) =>
        val childIdx = baseIndex(a.child)
        a.aggregateExpressions.map { e =>
          val ci = a.child.output.indexWhere(
            _.exprId == e.asInstanceOf[Attribute].exprId)
          if (ci >= 0) childIdx(ci) else -1
        }
      case d: Deduplicate => baseIndex(d.child) // output == child.output
      case other => other.output.indices
    }
    val byPlan = core.toSeq.sorted.groupBy(i => growthKey(graph.leaves(i)))
    val traversal = byPlan.values.exists { roles =>
      roles.combinations(2).exists { case Seq(i, j) =>
        val ci = leafClasses(i); val cj = leafClasses(j)
        val bi = baseIndex(graph.leaves(i)); val bj = baseIndex(graph.leaves(j))
        ci.indices.exists(p => cj.indices.exists(q =>
          bi(p) >= 0 && bj(q) >= 0 && bi(p) != bj(q) &&
            ci(p) == cj(q) && ci(p) >= 0))
      }
    }
    // no structural growth evidence → the sampled m:n probe (below) gets
    // the final say, but only AFTER the remaining cheap guards pass: a
    // core that guard 2/4a/4b or the byte floor would decline for free
    // must never pay the probe's sample scans. The probe's decline log
    // names the plan groups and leaves:
    def mnDeclineDetail: String =
      s"plan groups ${byPlan.values.map(_.size).toSeq.sorted.reverse}; " +
        s"leaves ${core.toSeq.sorted.map(i =>
          growthBase(graph.leaves(i)).treeString.linesIterator
            .map(_.trim.take(60)).take(3).mkString(" | ")).mkString(" ;; ")}"

    // guard 2: split each core leaf's columns into COVERED (consumed by a
    // plain equi-edge — these are the leaf's join variables) and PAYLOAD
    // (no edge — carried around the core by late materialization)
    val coveredOf: Map[Int, Seq[Attribute]] = core.map(i => i ->
      leafOutputs(i).filter(a => edgeAttrs.contains(a.exprId.id))).toMap
    val payloadOf: Map[Int, Seq[Attribute]] = core.map(i => i ->
      leafOutputs(i).filterNot(a => edgeAttrs.contains(a.exprId.id))).toMap
    val needPayload: Set[Int] = core.filter(i => payloadOf(i).nonEmpty)
    // a GYO-stuck leaf always shares >=2 classes; bail defensively otherwise
    if (core.exists(i => coveredOf(i).size < 2)) return None
    // guard 3: fully-covered leaves that are not provably duplicate-free
    // carry a GROUP-BY-* count through the core (payload leaves get their
    // multiplicity back from the join-back instead — no count needed)
    val needCount: Set[Int] =
      (core -- needPayload).filterNot(i => provablyDistinct(graph.leaves(i)))
    val coveredClasses: Map[Int, Seq[Long]] = core.map(i => i ->
      coveredOf(i).map(a => classOfAttr(a.exprId.id))).toMap
    // guard 4a: no two covered columns of one core leaf in the same class
    if (!core.forall(i =>
        coveredClasses(i).distinct.size == coveredClasses(i).size))
      return None
    // guard 4b: one type per class across the core (the joinTyped contract)
    val coreSeq = core.toSeq.sorted
    val coreAttrs = coreSeq.flatMap(coveredOf)
    val typesByClass = coreAttrs.groupBy(a => classOfAttr(a.exprId.id))
    if (!typesByClass.values.forall(_.map(_.dataType).distinct.size == 1))
      return None
    val coreClassIds: Seq[Long] =
      coreAttrs.map(a => classOfAttr(a.exprId.id)).distinct.sorted
    if (coreClassIds.size > maxVars) return None

    // variable order: highest-connectivity classes first (standard static
    // WCOJ heuristic); the per-cell DynamicLFTJ re-rank refines it locally.
    // Classes with one core occurrence (keys joining OUT to a dimension)
    // order last — they constrain nothing inside the core.
    val coreLeavesPerClass: Map[Long, Int] = coreClassIds.map(c =>
      c -> coreSeq.count(i => coveredClasses(i).contains(c))).toMap
    val orderedClasses: Seq[Long] =
      coreClassIds.sortBy(c => (-coreLeavesPerClass(c), c))
    val varName: Map[Long, String] =
      orderedClasses.zipWithIndex.map { case (c, i) => c -> s"__wcoj_v$i" }.toMap
    val classVarOrder = orderedClasses.map(varName)

    // sizes, skew probe, and grid feasibility all run BEFORE any leaf is
    // planned or checkpointed, so a declined route costs at most the
    // bounded (and SampleStore-cached) sample scans — no nested planning,
    // no registered checkpoint frames. There is no minimum core size: the
    // fixed overhead on a tiny core is sub-second, and a deterministic
    // rewrite is worth more than a heuristic skip.
    val relSizes: Seq[(Seq[String], Long)] = coreSeq.map { i =>
      val sz = graph.leaves(i).stats.sizeInBytes
      (coveredClasses(i).map(varName),
        if (sz > BigInt(Long.MaxValue)) Long.MaxValue else sz.toLong.max(1L))
    }

    // ONE SAMPLE PROFILE PER CORE LEAF feeds the three sample checks below
    // (m:n growth, skew pinning, join-back distinct ratio). It is computed
    // HERE, after every structural guard, so a core those guards decline
    // never pays a scan; it reads the bounded per-leaf sample SampleStore
    // caches for the UCT rule (keyed by canonicalized plan, so self-join
    // roles share ONE sample, a leaf the UCT rule already sampled costs
    // nothing, and repeat queries hit the cache). Profiles are built on
    // first use, so an m:n decline stops scanning at its first failing
    // leaf. None marks a leaf that is unsampleable or whose scan failed:
    // the m:n check then declines, skew proceeds unpinned, and the distinct
    // ratio reads 1.0.
    val profiles = mutable.HashMap.empty[Int, Option[LeafProfile]]
    def profile(i: Int): Option[LeafProfile] =
      profiles.getOrElseUpdate(i, leafProfile(graph.leaves(i), coveredOf(i)))

    // SAMPLED m:n PROBE — the deferred fallback for the structural growth
    // check's documented false negatives: a same-position symmetric motif
    // (the bipartite butterfly census) or a cycle of DISTINCT m:n edge
    // tables shows no traversal self-join yet genuinely grows. Growth needs
    // every hop of the cycle to fan out, so the probe demands every
    // INTRA-core join column (class held by ≥2 core leaves — columns
    // joining OUT to an ear constrain nothing inside the core) show mean
    // key multiplicity ≥ `mnThreshold` in its leaf's bounded sample. A
    // key–FK loop always carries a unique-key side (multiplicity ~1.0) —
    // TPC-H q05's c_custkey, the q85 nation pair's n_name — so those
    // decline; a sample diluted by a huge domain reads ~1 and errs toward
    // declining too.
    val mnProbed = !traversal // growth shown by the sampled probe, not structure
    if (mnProbed && !coreSeq.forall(i => profile(i).exists(p =>
        coveredOf(i).forall(a =>
          coreLeavesPerClass.getOrElse(classOfAttr(a.exprId.id), 0) < 2 ||
            p.meanMult.get(a.exprId.id).exists(_ >= mnThreshold))))) {
      logInfo(s"graft WCOJ route declined: no traversal self-join and the " +
        s"sampled m:n probe found a sub-$mnThreshold multiplicity column " +
        s"in the ${core.size}-leaf cyclic core; $mnDeclineDetail")
      return None
    }

    // skew probe: a variable pins when its top value reaches `skewThreshold`
    // of any core leaf's sampled values. The sample sees the RAW leaf rows —
    // for a bag leaf that can overstate a high-multiplicity hub relative to
    // the distinct rows the core actually joins, which errs toward pinning
    // (spending a grid dimension), never toward missing a hitter the sample
    // saw.
    val pinned: Seq[String] =
      if (coreSeq.exists(i => profile(i).isEmpty)) Nil
      else {
        val hot = coreSeq.flatMap(i => coveredOf(i)
          .filter(a => profile(i).get.topRatio.get(a.exprId.id).exists(_ >= skewThreshold))
          .map(a => varName(classOfAttr(a.exprId.id)))).toSet
        classVarOrder.filter(hot)
      }

    // one budget pass over the UNPINNED dimensions (pinned variables carry
    // share 1 and spread no load); decline — still checkpoint-free — when
    // even the hard-cap grid cannot meet the per-cell budget
    val (shares, perCellBytes) = {
      val free = classVarOrder.filterNot(pinned.contains)
      val budgeted =
        if (free.isEmpty) {
          // every variable skewed: the whole core lands one cell — route
          // only if it fits the budget outright
          val tot = relSizes.map(_._2).sum
          if (tot > cellBudgetBytes) None
          else Some((Map.empty[String, Int], tot, 1))
        } else budgetedShares(relSizes, free)
      budgeted match {
        case Some((sh, load, _)) => (sh ++ pinned.map(_ -> 1).toMap, load)
        case None =>
          logInfo(s"graft WCOJ route declined: per-cell input exceeds " +
            s"$cellBudgetBytes B even at $maxCellsHard cells " +
            s"(pinned $pinned)")
          return None
      }
    }

    // JOIN-BACK BUDGET (still checkpoint-free): each payload leaf appends a
    // sequential equi-join of the binding stream, and past the broadcast
    // ceiling each join-back is a full shuffle of that stream — output-side
    // cost the per-cell INPUT budget never sees. Estimate the stream with an
    // AGM bound over the core's DISTINCT covered projections: per-leaf rows
    // (stats rowCount, else bytes/width) × the sampled distinct ratio of the
    // covered projection, under a valid fractional edge cover (weight 1/2
    // everywhere a leaf's classes are all shared — every intra-core class
    // is then covered to ≥1 — raised to 1 for leaves holding a class no
    // other core leaf carries). Decline when stream bytes × payload-leaf
    // count exceed `joinBackBudgetBytes`: the binary plan pairwise-joins
    // the same output with spill, not k extra passes over it.
    if (needPayload.nonEmpty) {
      def leafRowEst(i: Int): Double = {
        val st = graph.leaves(i).stats
        st.rowCount.map(_.toDouble).getOrElse(
          st.sizeInBytes.toDouble / math.max(1, leafOutputs(i).size * 8))
      }
      def distinctRatio(i: Int): Double = profile(i).fold(1.0)(_.distinctRatio)
      val weight: Map[Int, Double] = coreSeq.map { i =>
        val solo = coveredClasses(i).exists(c => coreLeavesPerClass(c) < 2)
        i -> (if (solo) 1.0 else 0.5)
      }.toMap
      val streamRows = coreSeq.map(i =>
        math.pow(math.max(1.0, leafRowEst(i) * distinctRatio(i)), weight(i)))
        .product
      val streamBytes = streamRows * (orderedClasses.size + needCount.size) * 8.0
      if (streamBytes * needPayload.size > joinBackBudgetBytes.toDouble) {
        logInfo(f"graft WCOJ route declined: estimated binding stream " +
          f"$streamRows%.3g rows (~$streamBytes%.3g B) x ${needPayload.size} " +
          f"payload join-backs exceeds $joinBackBudgetBytes B budget")
        return None
      }
    }

    // plan each UNIQUE wrapped core input once; self-join roles share the
    // lazy checkpoint. Payload leaves materialize the FULL leaf once (the
    // join-back side, also consistent under any non-deterministic leaf
    // expression) and derive their distinct covered projection from it.
    val uniqueDf = mutable.HashMap.empty[LogicalPlan, DataFrame]
    def checkpointed(p: LogicalPlan): DataFrame =
      uniqueDf.getOrElseUpdate(p.canonicalized,
        GraftShims.ofRows(spark, p).localCheckpoint(false))
    var sharedCountBases = 0 // count roles reading a sibling's checkpoint
    def multVar(role: Int): String = s"__wcoj_m$role"
    // payload leaves: one shared base checkpoint per canonical leaf; the
    // role's attrs map to the base's by position (canonical equality fixes
    // the arity and order)
    val baseOf: Map[Int, DataFrame] =
      needPayload.toSeq.sorted.map(i => i -> checkpointed(graph.leaves(i))).toMap
    def baseAttr(i: Int, a: Attribute): Attribute =
      baseOf(i).queryExecution.analyzed.output(leafOutputs(i).indexOf(a))
    val rels: Seq[(DataFrame, Seq[String])] = coreSeq.map { i =>
      val names = coveredClasses(i).map(varName) ++
        (if (needCount(i)) Seq(multVar(i)) else Nil)
      val plan =
        if (needPayload(i)) {
          val basedCov = coveredOf(i).map(a => baseAttr(i, a))
          Aggregate(basedCov, basedCov, baseOf(i).queryExecution.analyzed)
        } else if (needCount(i)) {
          // a canonical PAYLOAD sibling already checkpointed this leaf in
          // baseOf (set/count verdicts are structural, so a count role's
          // only possible canonical twin with a checkpoint is a payload
          // base): aggregate over THAT checkpoint so the shared leaf is
          // planned and executed once — which also keeps mixed-coverage
          // roles of one non-deterministic leaf expression reading the same
          // materialized rows. A count role is fully covered, so the
          // checkpoint's output is position-aligned with the role's covered
          // order.
          val l = uniqueDf.get(graph.leaves(i).canonicalized)
            .map { df => sharedCountBases += 1; df.queryExecution.analyzed }
            .getOrElse(graph.leaves(i))
          Aggregate(l.output, l.output :+ Alias(
            org.apache.spark.sql.catalyst.expressions.aggregate.Count(
              org.apache.spark.sql.catalyst.expressions.Literal(1))
              .toAggregateExpression(), "__wcoj_mult")(), l)
        } else graph.leaves(i)
      (checkpointed(plan).toDF(names: _*), names)
    }

    // grid shares only size the class variables; the count variables are
    // share-1 trailers (functionally dependent, so they constrain nothing)
    val varOrder = classVarOrder ++ coreSeq.filter(needCount).map(multVar)

    // broadcast gate per ADVICE: a variable's dictionary unions distinct
    // values across ALL core relations carrying it, so the domain bound is
    // the SUM of their sizes, not the max single leaf
    val integralTypes: Set[org.apache.spark.sql.types.DataType] = {
      import org.apache.spark.sql.types._
      Set(ByteType, ShortType, IntegerType, LongType)
    }
    val dictDomainBytes: Seq[Long] = orderedClasses
      .filterNot(c => integralTypes.contains(typesByClass(c).head.dataType))
      .map { c =>
        val v = varName(c)
        relSizes.collect { case (vs, sz) if vs.contains(v) => sz }.sum
      }
    val broadcastOk =
      dictDomainBytes.isEmpty || dictDomainBytes.max <= broadcastDictMaxBytes

    val result =
      Leapfrog.joinTyped(spark, rels, varOrder, shares, dynamicOrder = true,
        broadcastDicts = broadcastOk)
    // hint elimination ran batches ago, so the dictionary joins' broadcast
    // ResolvedHints would otherwise reach the planner un-lowered
    val spliced = org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint(
      result.queryExecution.analyzed)
    val varAttr: Map[Long, Attribute] =
      orderedClasses.zip(spliced.output).toMap
    val multAttr: Map[Int, Attribute] =
      coreSeq.filter(needCount).zip(spliced.output.drop(orderedClasses.size)).toMap

    var plan: LogicalPlan =
      if (needCount.isEmpty) {
        // pure set semantics: restore the covered columns under their
        // original exprIds, so every conjunct and operator above stays
        // resolved
        val coreProj: Seq[NamedExpression] = coreAttrs.map { a =>
          Alias(varAttr(classOfAttr(a.exprId.id)), a.name)(
            exprId = a.exprId, qualifier = a.qualifier)
        }
        Project(coreProj, spliced)
      } else {
        // bag semantics: each distinct binding is replicated by the product
        // of its roles' multiplicities (exact — counts are per-leaf-row and
        // functionally dependent on the binding). The Long product cannot
        // wrap in any executable query: it equals that binding's output
        // multiplicity, so overflow implies a bag result past 2^63 rows —
        // unexecutable by the binary plan too.
        import org.apache.spark.sql.catalyst.expressions.{Multiply, ReplicateRows}
        val dataCols: Seq[Alias] = coreAttrs.map { a =>
          Alias(varAttr(classOfAttr(a.exprId.id)), a.name)()
        }
        val total = Alias(coreSeq.filter(needCount).map(multAttr)
          .map(_.asInstanceOf[Expression]).reduce(Multiply(_, _)), "__wcoj_total")()
        val genChild = Project(dataCols :+ total, spliced)
        val generator = ReplicateRows(
          (total.toAttribute +: dataCols.map(_.toAttribute)).map(_.asInstanceOf[Expression]))
        Generate(generator,
          unrequiredChildIndex = genChild.output.indices,
          outer = false, qualifier = None,
          generatorOutput = coreAttrs.map(_.toAttribute),
          genChild)
      }

    // LATE MATERIALIZATION: equi-join each payload-carrying leaf back onto
    // the binding stream by its covered columns — the very keys the core
    // consumed — restoring payload columns under their original exprIds AND
    // the leaf's bag multiplicity (one output row per matching leaf row).
    // The right side reads the shared base checkpoint, so the leaf executes
    // once however many roles and uses it has.
    needPayload.toSeq.sorted.foreach { i =>
      val freshCov: Seq[(Attribute, Alias)] = coveredOf(i).map { a =>
        a -> Alias(baseAttr(i, a), s"__wcoj_k_${a.name}")()
      }
      val payloadProj: Seq[NamedExpression] = payloadOf(i).map { a =>
        Alias(baseAttr(i, a), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      }
      val roleSide = Project(freshCov.map(_._2) ++ payloadProj,
        baseOf(i).queryExecution.analyzed)
      val cond = freshCov.map { case (orig, al) =>
        EqualTo(orig, al.toAttribute): Expression }.reduce(And(_, _))
      val j = Join(plan, roleSide, org.apache.spark.sql.catalyst.plans.Inner,
        Some(cond), org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
      j.setTagValue(PROCESSED, true)
      j.setTagValue(UctJoinReorderRule.PROCESSED, true)
      plan = j
    }

    // conjunct disposition: equi-edges BETWEEN covered core columns of one
    // class are consumed by the join itself; other intra-core conjuncts
    // (theta, null-safe, payload-referencing) filter the materialized core
    // result; everything touching a non-core leaf attaches while folding
    // the remainder back in
    val coveredIds = coreAttrs.map(_.exprId.id).toSet
    var remaining = graph.conjuncts.filterNot {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        coveredIds.contains(a.exprId.id) && coveredIds.contains(b.exprId.id) &&
          classOfAttr(a.exprId.id) == classOfAttr(b.exprId.id)
      case _ => false
    }
    val (coreResidual, rest0) =
      remaining.partition(c => graph.referencedLeaves(c).subsetOf(core))
    if (coreResidual.nonEmpty) plan = Filter(coreResidual.reduce(And), plan)
    remaining = rest0

    // fold the acyclic remainder back as ordinary binary joins, connected
    // leaves first and SMALLEST ESTIMATED SIZE first within each tier — a
    // selective ear joined early shrinks the stream every later ear joins
    // against, where index order could put a large dimension ahead of it
    // and inflate the intermediate above the core binding stream. (UCT is
    // skipped on these rebuilt joins — the core leaf is an RDD scan whose
    // sampling would EXECUTE the Leapfrog at plan time — but the AQE
    // runtime switch still reorders them from observed stats if the
    // size-estimate order turns out wrong)
    var bound = core
    while (bound.size < graph.leaves.size) {
      val cands = graph.leaves.indices.filterNot(bound)
      val conn = cands.filter(i => graph.connected(bound, i))
      val next = (if (conn.nonEmpty) conn else cands)
        .minBy(i => (graph.leaves(i).stats.sizeInBytes, i))
      bound += next
      val (applicable, rest) =
        remaining.partition(c => graph.referencedLeaves(c).subsetOf(bound))
      val j = Join(plan, graph.leaves(next), org.apache.spark.sql.catalyst.plans.Inner,
        applicable.reduceOption(And),
        org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
      j.setTagValue(PROCESSED, true)
      j.setTagValue(UctJoinReorderRule.PROCESSED, true)
      plan = j
      remaining = rest
    }
    if (remaining.nonEmpty) plan = Filter(remaining.reduce(And), plan)
    val rewritten: LogicalPlan = Project(graph.originalOutput, plan)

    val stats = RouteStats(core.size, orderedClasses.size,
      varOrder, shares, shares.values.product, graph.leaves.size,
      payloadLeaves = needPayload.size, pinnedVars = pinned,
      perCellBytes = perCellBytes,
      relVars = coreSeq.map(i => coveredClasses(i).map(varName)),
      grownByProbe = mnProbed, sharedCountBases = sharedCountBases)
    lastRoute = Some(stats)
    logInfo(s"graft WCOJ route: core ${core.size} of ${graph.leaves.size} " +
      s"leaves, ${orderedClasses.size} vars, shares $shares, " +
      s"${needPayload.size} payload leaves, pinned $pinned, " +
      s"~$perCellBytes B/cell")
    Some(rewritten)
  }

  /** Leaf shapes whose output rows are provably pairwise distinct. */
  private def provablyDistinct(p: LogicalPlan): Boolean = p match {
    case a: Aggregate =>
      // rows are unique per group; unique on the OUTPUT iff every grouping
      // expression survives into the output (covers SELECT DISTINCT, which
      // ReplaceDistinctWithAggregate lowers to grouping == output)
      val outExprs = a.aggregateExpressions.map {
        case Alias(c, _) => c
        case e => e
      }
      a.groupingExpressions.forall(g => outExprs.exists(_.semanticEquals(g)))
    case _: Deduplicate => true // unique on keys ⇒ unique as full rows
    case Filter(_, c) => provablyDistinct(c)
    case Project(pl, c)
        if pl.forall(_.isInstanceOf[Attribute]) &&
          c.outputSet.subsetOf(AttributeSet(pl.map(_.toAttribute))) =>
      provablyDistinct(c) // a permutation keeps distinctness; a drop may not
    case _ => false
  }

  /** GYO reduction over (leaf index → variable classes): repeatedly delete
    * variables private to one hyperedge and hyperedges contained in
    * another. Acyclic iff everything empties; the STUCK residue's leaf
    * indices are the cyclic core (triangle, k-cycle, clique) — the ears it
    * shed are the acyclic remainder that stays in binary joins. */
  private def gyoCore(hyper0: IndexedSeq[Set[Long]]): Set[Int] = {
    val hyper = mutable.LinkedHashMap.empty[Int, Set[Long]]
    hyper0.zipWithIndex.foreach { case (e, i) => if (e.nonEmpty) hyper(i) = e }
    var changed = true
    while (changed && hyper.nonEmpty) {
      changed = false
      val counts = mutable.HashMap.empty[Long, Int]
      hyper.values.foreach(_.foreach(v =>
        counts(v) = counts.getOrElse(v, 0) + 1))
      hyper.keys.toSeq.foreach { i =>
        val e = hyper(i)
        val e2 = e.filter(v => counts(v) > 1)
        if (e2 != e) {
          changed = true
          if (e2.isEmpty) hyper.remove(i) else hyper(i) = e2
        }
      }
      val keys = hyper.keys.toSeq
      keys.foreach { i =>
        if (hyper.contains(i)) {
          val e = hyper(i)
          val absorbed = keys.exists(j => j != i && hyper.contains(j) &&
            e.subsetOf(hyper(j)) && (hyper(j) != e || j < i))
          if (absorbed) { hyper.remove(i); changed = true }
        }
      }
    }
    hyper.keySet.toSet
  }
}

object WcojJoinRule {
  private[plans] val PROCESSED = TreeNodeTag[Boolean]("graft.wcoj.processed")

  /** Minimum sampled mean multiplicity (sample rows / distinct values) a
    * core join column needs before it counts as the "many" side of an m:n
    * edge. 1.0 is a unique key; real m:n motif columns measure well above
    * 2. A large domain can dilute the sample toward 1 (all-distinct), which
    * errs toward DECLINING — the conservative side. */
  val mnThreshold = 1.5

  /** Per-cell INPUT byte budget. A cell receives Σ_R |R| / Π_{v∈vars(R)}
    * share(v) bytes (Catalyst estimates) and buffers them as flat arrays,
    * so this must sit comfortably inside one executor task's memory. When
    * even the `maxCellsHard` grid cannot meet it, the route is DECLINED —
    * the binary plan shuffles more but spills instead of OOMing. */
  val cellBudgetBytes: Long = 512L << 20

  /** Ceiling on (estimated binding-stream bytes) × (payload-leaf count):
    * each payload leaf appends a sequential equi-join of the binding stream
    * to the plan, and past the broadcast threshold each such join-back is a
    * full shuffle of the stream — cost the per-cell INPUT budget never sees
    * because it gates cell input, not core output. The stream estimate is
    * an AGM-style bound over the core's distinct projections (sampled
    * distinct ratios × stats rows); when it × k exceeds this ceiling the
    * route declines to the binary plan, whose spill-capable pairwise joins
    * handle a huge output without k extra passes over it. */
  val joinBackBudgetBytes: Long = 256L << 30

  /** Cell count the budget-driven grid growth starts from. */
  private val maxCells = 32

  /** Upper bound for the budget-driven grid growth. At cluster scale this
    * belongs near the total core count; the discrete `autoShares`
    * enumeration stays sub-second through ~4096 cells at realistic variable
    * counts. */
  private val maxCellsHard = 1024

  /** Cores with more join variables than this keep their binary plans. */
  private val maxVars = 8

  /** Ceiling on a VARIABLE's estimated source bytes — the sum of the sizes
    * of every core relation carrying it, since its dictionary unions the
    * distinct values across all of them — for that variable's encode/decode
    * joins to carry a broadcast hint. Beyond it the dictionary joins fall
    * back to shuffle equi-joins instead of risking an executor-breaking
    * broadcast of a huge domain. */
  private val broadcastDictMaxBytes = 64L << 20

  /** Heavy-hitter pin threshold for the sampled skew probe (fraction of a
    * variable's sampled non-null values owned by its top value). */
  private val skewThreshold = 0.2

  /** What the route's sample checks read of one core leaf: per covered
    * column (by exprId; absent when the sample holds no non-null value)
    * the mean multiplicity and the top value's share of its sampled
    * non-null values, and the distinct fraction of the sampled rows of the
    * leaf's covered projection (1.0 on an empty sample). */
  private final case class LeafProfile(meanMult: Map[Long, Double],
      topRatio: Map[Long, Double], distinctRatio: Double)

  /** What the most recent route decided — the gate/spec observability
    * surface (same pattern as UctJoinReorderRule.RuleStats). nrRelations
    * counts the CORE leaves routed through Leapfrog; nrGraphLeaves the
    * whole flattened join (equal when the entire graph is the core).
    * payloadLeaves = core leaves re-attached by late materialization;
    * pinnedVars = variables the skew probe pinned to share 1;
    * perCellBytes = estimated per-cell input load under `shares`. */
  final case class RouteStats(nrRelations: Int, nrVars: Int,
      varOrder: Seq[String], shares: Map[String, Int], cells: Int,
      nrGraphLeaves: Int = 0, payloadLeaves: Int = 0,
      pinnedVars: Seq[String] = Nil, perCellBytes: Long = 0L,
      relVars: Seq[Seq[String]] = Nil,
      grownByProbe: Boolean = false,
      sharedCountBases: Int = 0)
  @volatile var lastRoute: Option[RouteStats] = None

  def clearStats(): Unit = lastRoute = None
}
