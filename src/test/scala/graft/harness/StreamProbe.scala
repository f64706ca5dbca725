package graft

/** Scratch: profile ONE streaming gate end-to-end (VERDICT r15 #3) —
  * split the wall into feed collect / query start / per-micro-batch
  * execution / stop, and dump Spark's own per-batch progress breakdown
  * (durationMs: addBatch, getBatch, queryPlanning, walCommit,
  * commitOffsets, triggerExecution; stateOperators: commit times) so
  * state-store commit vs incremental planning vs operator work is
  * separable without guessing.
  * Usage: tools/run.sh graft.StreamProbe <sfDir> <gate> [reps]
  * where gate ∈ q229 | q224 | q214 | q195 | q230
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val gate = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.create()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val db = Db(spark, sfDir)
    Db.tableNames.foreach { n => if (n == "events") db.events else db.table(n) }
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ms[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"PROBE $label ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      r
    }

    def dumpProgress(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
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

    def ckptOpts[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T]) =
      sys.env.get("PROBE_CKPT") match {
        case Some(base) => w.option("checkpointLocation",
          s"$base/probe_${System.nanoTime()}")
        case None => w
      }

    def run(): Unit = gate match {
      case "q229" =>
        val rows = ms("feed")(db.events
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("event_id"),
            Db.dec(col("value")).cast("double").as("value"),
            when(col("event_type") === "purchase", "D").otherwise("U").as("op"))
          .as[(Long, Long, Long, Double, String)].collect().toSeq)
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Long, Double, String)]
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val q = ms("start")(
          try ckptOpts(graft.streaming.EventStreams.cdcLatest(
              input.toDS().toDF("user_id", "us", "tie", "value", "op")
                .withColumn("ts", timestamp_micros(col("us"))
                  .cast("timestamp_ntz")),
              Seq("user_id"))
            .writeStream.format("memory").queryName(s"probe_${System.nanoTime()}"))
            .outputMode("complete").start()
          finally spark.conf.set("spark.sql.shuffle.partitions", prev))
        val (b1, rest) = rows.splitAt(rows.size / 3)
        val (b2, b3) = rest.splitAt(rest.size / 2)
        for ((b, i) <- Seq(b1, b2, b3).zipWithIndex if b.nonEmpty)
          ms(s"batch$i")({ input.addData(b); q.processAllAvailable() })
        dumpProgress(q)
        ms("stop")(q.stop())
      case "q224" =>
        val rows = ms("feed")(db.events
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .as[(Long, String, Long)].collect().toSeq)
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, Long)]
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val q = ms("start")(
          try input.toDS().toDF("user_id", "event_type", "us")
            .withColumn("ts", timestamp_micros(col("us")))
            .withWatermark("ts", "40 days")
            .dropDuplicatesWithinWatermark("user_id", "event_type")
            .select("user_id", "event_type")
            .writeStream.format("memory").queryName(s"probe_${System.nanoTime()}")
            .outputMode("append").start()
          finally spark.conf.set("spark.sql.shuffle.partitions", prev))
        val (b1, rest) = rows.splitAt(rows.size / 3)
        val (b2, b3) = rest.splitAt(rest.size / 2)
        for ((b, i) <- Seq(b1, b2, b3).zipWithIndex if b.nonEmpty)
          ms(s"batch$i")({ input.addData(b); q.processAllAvailable() })
        dumpProgress(q)
        ms("stop")(q.stop())
      case "q214" =>
        val rows = ms("feed")(db.events
          .select(col("event_type"), col("user_id"))
          .as[(String, Long)].collect().toSeq)
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Long)]
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val q = ms("start")(
          try graft.streaming.EventStreams.hllRegisters(
              input.toDS().toDF("event_type", "user_id"),
              Seq("event_type"), col("user_id"), m = 64)
            .writeStream.format("memory").queryName(s"probe_${System.nanoTime()}")
            .outputMode("complete").start()
          finally spark.conf.set("spark.sql.shuffle.partitions", prev))
        val (b1, rest) = rows.splitAt(rows.size / 3)
        val (b2, b3) = rest.splitAt(rest.size / 2)
        for ((b, i) <- Seq(b1, b2, b3).zipWithIndex if b.nonEmpty)
          ms(s"batch$i")({ input.addData(b); q.processAllAvailable() })
        dumpProgress(q)
        ms("stop")(q.stop())
      case "q195" =>
        val rows = ms("feed")(db.events
          .filter(col("event_id") < 20000)
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            floor(col("value") * 100).cast("long").as("cents"))
          .orderBy("us")
          .as[(Long, Long, Long)].collect().toSeq)
        val sentinel = (-1L, rows.map(_._2).max + 86400L * 1000000, 0L)
        val sentinel2 = (-1L, sentinel._2 + 86400L * 1000000, 0L)
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Long)]
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        val prevNoData =
          spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        val q = ms("start")(
          try ckptOpts(graft.streaming.EventStreams.userSessions(
              input.toDS().toDF("user_id", "us", "cents")
                .select(col("user_id"),
                  timestamp_micros(col("us")).as("ts"), col("cents")))
            .writeStream.format("memory").queryName(s"probe_${System.nanoTime()}"))
            .outputMode("append").start()
          finally {
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
              prevNoData)
          })
        val (b1, rest) = rows.splitAt(rows.size / 3)
        val (b2, b3) = rest.splitAt(rest.size / 2)
        for ((b, i) <- Seq(b1, b2, b3 :+ sentinel, Seq(sentinel2)).zipWithIndex
             if b.nonEmpty)
          ms(s"batch$i")({ input.addData(b); q.processAllAvailable() })
        dumpProgress(q)
        ms("stop")(q.stop())
      case other => sys.error(s"unknown gate $other")
    }

    (1 to reps).foreach { r =>
      System.err.println(s"PROBE ===== rep $r =====")
      run()
    }
    spark.stop()
  }
}
