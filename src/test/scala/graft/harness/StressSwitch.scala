package graft

/** Scratch: stress the q154 runtime-order-switch gate (VERDICT r15 #1).
  * Runs the registry entry N times in one JVM (cold first execution,
  * then warm — the warm case is where the stage-completion race was
  * reported lost) and prints, per execution: wall seconds, how many
  * in-gate attempts the retry loop spent, the switch widths recorded,
  * and the rule's probe log (every evaluation's width / stage count /
  * decision) — the evidence for diagnosing WHERE the race is lost.
  * Usage: tools/run.sh graft.StressSwitch <sfDir> [n]
  */
object StressSwitch {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 20
    val spark = GraftSession.create()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val db = Db(spark, sfDir)
    Db.tableNames.foreach { nm => if (nm == "events") db.events else db.table(nm) }
    queries.OperatorGates.ensureFixtures(spark, sfDir)
    var failures = 0
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val r = try {
        SparkEntry.queries("q154_runtime_switch_wide")(spark, sfDir)
          .queryExecution.toRdd.foreach(_ => ())
        "ok"
      } catch { case e: Throwable => failures += 1; s"FAIL: ${e.getMessage.take(120)}" }
      val t = (System.nanoTime() - t0) / 1e9
      val widths = graft.plans.RuntimeOrderSwitchRule.recentSwitches
        .map(_.nrRelations).mkString(",")
      val probes = graft.plans.RuntimeOrderSwitchRule.recentProbes
        .map(p => s"${p.nrRelations}/${p.nrStages}:${p.decision}").mkString(" ")
      println(f"STRESS run=$i%02d $t%6.3f s widths=[$widths] $r")
      println(s"STRESS probes $probes")
    }
    println(s"STRESS total failures: $failures / $n")
    spark.stop()
  }
}
