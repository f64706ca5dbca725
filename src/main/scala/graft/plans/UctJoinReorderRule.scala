package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Catalyst optimizer rule that replaces Spark's static join ordering with
  * the reference engine's runtime-learned ordering (SkinnerDB's UCT search,
  * see UctJoinOrder): for every ≥3-way inner-join tree it extracts the join
  * graph, samples the (already filter-pushed) leaves, learns a left-deep
  * order from budgeted sample-join episodes, and rebuilds the tree in that
  * order with each conjunct attached at its earliest valid position.
  *
  * Runs once, in the pre-CBO batch after the operator optimizations
  * (pushdown, pruning, filter inference) have shaped the leaves. Never fails
  * a query: any error keeps the original subtree. Joins a rebuild creates
  * carry a TreeNodeTag, so neither this pass nor a re-run searches them.
  */
final class UctJoinReorderRule(spark: SparkSession) extends Rule[LogicalPlan] with Logging {

  import UctJoinReorderRule._

  private def enabled: Boolean =
    spark.conf.get("spark.graft.uct.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case j: Join if j.getTagValue(PROCESSED).isEmpty && j.resolved =>
        try reorder(j).getOrElse(j)
        catch {
          case e: Exception =>
            logWarning(s"graft UCT join reorder failed, keeping original order: $e")
            j
        }
    }
  }

  /** A leaf worth sampling: Project/Filter chains over a physical leaf
    * (parquet relation, checkpointed RDD, local relation). Anything holding an
    * Aggregate/Window/Join/Generate below it would have to EXECUTE that whole
    * subplan just to yield 1024 sample rows — double work that can dwarf the
    * reordering benefit (the reference never faces this: SkinnerDB joins only
    * materialized base/temp tables, /root/reference/src/execution/
    * Master.java:46-60). Such trees keep Catalyst's order.
    */
  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => true
    case org.apache.spark.sql.catalyst.plans.logical.Project(_, c) => scanShaped(c)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(_, c) => scanShaped(c)
    case _ => false
  }

  private def reorder(root: Join): Option[LogicalPlan] = {
    JoinGraph.extract(root).filter(_.leaves.forall(scanShaped)).map { graph =>
      val c = UctConf.default
      // repeated query shapes (warm benchmarks, dashboards) skip the search:
      // the learned order is cached per canonicalized join subtree
      val cacheKey = root.canonicalized
      val order = Option(orderCache.get(cacheKey)).getOrElse {
        val keysPerLeaf: Map[Int, Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference]] =
          graph.equiEdges
            .flatMap { case (la, aa, lb, ab) => Seq(la -> aa, lb -> ab) }
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
        // collect the per-leaf samples CONCURRENTLY: each is its own small
        // Spark job, and at JOB width (12 leaves) sequential collection was
        // most of the planning cost. Each job runs under the planning
        // thread's local properties, so it carries the SQL execution id of
        // the query being planned (none outside an action)
        val tSample0 = System.nanoTime()
        val samples = {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration._
          val props = GraftShims.localProperties(spark.sparkContext)
          Await.result(Future.sequence(graph.leaves.indices.map { i =>
            Future(GraftShims.withLocalProperties(spark.sparkContext, props) {
              SampleStore.sample(spark, graph.leaves(i),
                keysPerLeaf.getOrElse(i, Seq.empty))
            })
          }), 300.seconds)
        }
        val tSearch0 = System.nanoTime()
        val search = new UctJoinOrder(graph, samples, c)
        val learned = search.search()
        val tEnd = System.nanoTime()
        logInfo(f"graft UCT timing: samples ${(tSearch0 - tSample0) / 1e3}%.0f us, " +
          f"search ${(tEnd - tSearch0) / 1e3}%.0f us over ${graph.leaves.size} leaves")
        // a query can reorder several separate join trees (e.g. one under an
        // aggregate subquery); report the widest one
        val stats = RuleStats(graph.leaves.size, learned, search.episodes,
          search.nodesCreated, search.treeSummary(),
          sampleMs = (tSearch0 - tSample0) / 1e6, searchMs = (tEnd - tSearch0) / 1e6)
        lastStats = Some(lastStats.filter(_.nrRelations > stats.nrRelations).getOrElse(stats))
        logInfo(s"graft UCT learned join order $learned over ${graph.leaves.size} relations " +
          s"(${search.episodes} episodes, ${search.nodesCreated} tree nodes)")
        orderCache.put(cacheKey, learned)
        learned
      }
      val rebuilt = graph.buildLeftDeep(order)
      // tag ONLY the joins this rebuild created — descending into opaque
      // leaves would mark independent join chains (e.g. under an aggregate
      // subquery) as processed and rob them of their own reorder
      val leafSet = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
      graph.leaves.foreach(leafSet.add)
      def tagRebuilt(p: LogicalPlan): Unit = if (!leafSet.contains(p)) {
        p match { case jj: Join => jj.setTagValue(PROCESSED, true); case _ => }
        p.children.foreach(tagRebuilt)
      }
      tagRebuilt(rebuilt)
      // reordering permutes join output columns; restore the original order
      Project(graph.originalOutput, rebuilt)
    }
  }
}

object UctJoinReorderRule {
  private[plans] val PROCESSED = TreeNodeTag[Boolean]("graft.uct.processed")

  /** Learned-order cache, bounded LRU: canonicalized plan keys embed literal
    * values, so a long-lived session issuing many distinct constants would
    * otherwise grow driver memory without limit. 256 entries ≈ the working
    * set of repeated dashboard/benchmark shapes. */
  private val maxOrderCacheEntries = 256
  private val orderCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[LogicalPlan, Seq[Int]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[LogicalPlan, Seq[Int]]): Boolean =
        size() > maxOrderCacheEntries
    })

  def cacheSize: Int = orderCache.size()

  def clearCache(): Unit = orderCache.clear()

  /** JoinStats-style counters for the most recent reorder (the vocabulary of
    * the reference's bench CSV, /root/reference/src/statistics/JoinStats.java). */
  final case class RuleStats(nrRelations: Int, order: Seq[Int], nrSamples: Int,
      nrUctNodes: Int, treeSummary: String = "",
      sampleMs: Double = 0.0, searchMs: Double = 0.0)
  @volatile var lastStats: Option[RuleStats] = None
}
