package graft

/** Plan inspector: prints the optimized logical plan + formatted physical
  * plan for one named query, plus the UCT rule's learned-order stats — the
  * textual analog of the reference's `explain` command
  * (/root/reference/src/console/SkinnerCmd.java:246-289).
  *
  * Usage: Explain <queryName> [sfDir] [dotDir]
  *
  * With a third argument, Graphviz DOT snapshots of the UCT tree are
  * written to that directory every 50 episodes DURING the search (the
  * reference's `explain <dir> <bound> <freq>` + TreePlotter rendering).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q05_local_supplier_volume")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val dotDir = if (args.length > 2) Some(args(2)) else None
    dotDir.foreach { d =>
      spark.conf.set("spark.graft.uct.explainDir", d)
      spark.conf.set("spark.graft.uct.explainFreq", "50")
    }
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
    dotDir.foreach(d => println(s"=== UCT DOT tree snapshots written under $d ==="))
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
