package graft

/** Plan inspector: prints the optimized logical plan + formatted physical
  * plan for one named query, plus the UCT rule's learned order and its
  * per-level tree summary — the textual analog of the reference engine's
  * `explain` command (src/console/SkinnerCmd.java:246-289).
  *
  * Usage: Explain <queryName> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q05_local_supplier_volume")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(s"=== $name: optimized logical plan ===")
    println(df.queryExecution.optimizedPlan.treeString)
    println(s"=== $name: physical plan ===")
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    graft.plans.UctJoinReorderRule.lastStats match {
      case Some(s) =>
        println(s"=== UCT: ${s.nrRelations} relations, learned order ${s.order.mkString("[", ",", "]")}, " +
          s"${s.nrSamples} episodes, ${s.nrUctNodes} tree nodes ===")
        if (s.treeSummary.nonEmpty) {
          println("=== UCT tree (visits / mean reward by level) ===")
          print(s.treeSummary)
        }
      case None => println("=== UCT: rule did not fire ===")
    }
    // runtime switching only shows itself on execution (AQE stage
    // boundaries), so run the query and report any mid-query re-order
    graft.plans.RuntimeOrderSwitchRule.clearLog()
    df.queryExecution.toRdd.foreach(_ => ())
    graft.plans.RuntimeOrderSwitchRule.recentSwitches.lastOption match {
      case Some(s) =>
        println(s"=== runtime switch: ${s.nrRelations} relations re-ordered " +
          s"mid-query to ${s.order.mkString("[", ",", "]")} " +
          s"(observed sizes ${s.sizes.mkString(", ")}) ===")
      case None => println("=== runtime switch: not needed (observed sizes " +
        "confirmed the planned order) ===")
    }
    spark.stop()
  }
}
