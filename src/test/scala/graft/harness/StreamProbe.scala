package graft

import graft.queries.{GovernanceOps, OperatorGates, ScaleOps, StatsOps, VectorOps}
import graft.streaming.HarnessClock
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Scratch: profile ONE streaming gate end-to-end — run its registry entry
  * (resolved from the family objects, as perfbench's Workloads does) and
  * split the wall into harness (feed collect, query start and stop) and
  * Spark's own per-batch progress breakdown (durationMs: addBatch,
  * getBatch, queryPlanning, walCommit, commitOffsets, triggerExecution;
  * stateOperators: commit times), so state-store commit vs incremental
  * planning vs operator work is separable without guessing.
  * Usage: tools/run.sh graft.StreamProbe <sfDir> <gate> [reps]
  * where gate is the q-number of a MicroBatchGate entry, e.g. q229
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val gate = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val entry = (OperatorGates.all ++ ScaleOps.all ++ StatsOps.all ++
        GovernanceOps.all ++ VectorOps.all)
      .find(_.name.startsWith(gate + "_"))
      .getOrElse(sys.error(s"unknown gate $gate"))
    val spark = GraftSession.create()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val db = Db(spark, sfDir)
    Db.tableNames.foreach { n => if (n == "events") db.events else db.table(n) }

    // onQueryStarted runs on the query's thread inside start(), while the
    // query is registered as active; its handle keeps the progress and the
    // last execution after the gate stops it
    @volatile var started: Option[StreamingQuery] = None
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started = Option(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

    def dumpProgress(q: StreamingQuery): Unit = {
      q.recentProgress.foreach { p =>
        System.err.println(s"PROBE progress batch=${p.batchId} " +
          s"durationMs=${p.durationMs} " +
          s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
          s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).mkString(",")}")
      }
      // the last batch's plan below the sink's write node (never shipped to
      // executors), each node serialized as a closure or task binary
      // carries it
      val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val bytes = plan.children.flatMap(_.collect { case n => ser.serialize(n).limit() })
      System.err.println(s"PROBE planNodeBytes max=${bytes.max} sum=${bytes.sum} " +
        s"nodes=${bytes.size}")
    }

    (1 to reps).foreach { r =>
      System.err.println(s"PROBE ===== rep $r =====")
      started = None
      val (t0, harness0) = (System.nanoTime(), HarnessClock.millis)
      entry.fn(spark, sfDir).collect()
      System.err.println(f"PROBE run ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      System.err.println(f"PROBE harness ${(HarnessClock.millis - harness0).toDouble}%.1f ms")
      dumpProgress(started.getOrElse(sys.error(s"${entry.name} started no stream")))
    }
    spark.stop()
  }
}
