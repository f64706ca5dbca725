package graft

import org.apache.spark.sql.functions.{col, count, lit}

/** Dev harness: measure the q116 shape (authored fan-out self-join first,
  * static UCT off, broadcast off) with the runtime order switch ON vs OFF —
  * the before/after evidence for PERF.md. Alternates variants twice and
  * reports warm passes. */
object DebugSwitch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val d = Db(spark, sfDir)
    Db.tableNames.foreach(n => if (n == "events") d.events else d.table(n))
    spark.conf.set("spark.graft.uct.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def run(): Long = {
      val l1 = d.lineitem.select(col("l_partkey"))
      val l2 = d.lineitem.select(col("l_partkey").as("l_partkey2"))
      val p = d.part.filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_brand"))
      val t0 = System.nanoTime()
      l1.join(l2, col("l_partkey") === col("l_partkey2"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
        .queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1000000
    }
    for (enabled <- Seq("true", "false", "true", "false", "true", "false")) {
      spark.conf.set("spark.graft.uct.runtimeSwitch", enabled)
      graft.plans.RuntimeOrderSwitchRule.clearLog()
      val ms = run()
      println(s"runtimeSwitch=$enabled ${ms} ms " +
        s"fired=${graft.plans.RuntimeOrderSwitchRule.recentSwitches.nonEmpty}")
    }
    spark.stop()
  }
}
