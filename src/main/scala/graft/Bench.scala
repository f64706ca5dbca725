package graft

import org.apache.spark.sql.functions.{col, count, lit, udaf}

/** Timing main: runs the SparkEntry registry (or only the entry names given
  * as arguments) on SPARK_GRAFT_SF_DIR and prints ONE JSON line, the
  * engine-side analog of the reference's `bench` command
  * (`SkinnerCmd.java:67-99`).
  *
  * Each entry runs twice after a warm-up and reports the faster pass. The
  * line holds the per-entry seconds and their total over the entries that
  * ran; each entry also gets a `BENCH <name> <best>` line on stderr. An
  * entry whose first pass fails reads -1, never fast. Nothing is written to
  * disk.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sfDir> tools/run.sh graft.Bench [entry...]`
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registry entries: ${unknown.mkString(" ")}")
    val spark = GraftSession.create()
    // warm the JVM/codegen/parquet/join/agg paths so the first timed entry
    // isn't charged several seconds of one-time startup cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    val db = Db(spark, sfDir)
    // load the catalog once up front, as the reference does at startup
    // (BufferManager.loadDB)
    Db.tableNames.foreach { n => if (n == "events") db.events else db.table(n) }
    // broadcast join, decimal sum, typed UDAF, pivot and streaming state:
    // each a codegen/class-loading path whose one-time cost would otherwise
    // land on whichever entry hits it first
    db.region.join(db.nation, col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name").count().collect()
    db.supplier.agg(Db.moneySum(Db.dec(col("s_acctbal")))).collect()
    val wavg = udaf(graft.functions.WeightedAvg)
    db.region.agg(wavg(col("r_regionkey").cast("double"), lit(1.0))).collect()
    db.nation.groupBy("n_regionkey")
      .pivot("n_regionkey", Seq(0, 1)).agg(count(lit(1))).collect()
    locally {
      import spark.implicits._
      streaming.MicroBatchGate.run(spark, "warmup", Seq(Seq(1, 2, 3)), "complete")(
        _.toDF().groupBy("value").count()).collect()
    }
    // one-time fixture setup (synthesized IMDB schema, augmented TPC-H
    // views, gate tables), so entries time the query, not a parquet write
    if (queries.ImdbQueries.all.nonEmpty) sources.Imdb.ensure(spark)
    if (queries.TpchQueries.all.nonEmpty) sources.Tpch.ensure(spark, sfDir)
    queries.OperatorGates.ensureFixtures(spark, sfDir)

    // one pass: materialize every output row (a bare .count() lets Catalyst
    // prune the projections of map-only entries) and re-plan from the scans
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"BENCH FAILURE $name: $e"); -1.0 }
    }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val results = names.map { name =>
      // a failed second pass keeps the first: the gates assert runtime
      // behaviour that can legitimately differ on a warm re-execution
      val t1 = once(name)
      val best = if (t1 < 0) t1 else {
        val t2 = once(name)
        if (t2 < 0) t1 else math.min(t1, t2)
      }
      System.err.println(f"BENCH $name%-28s $best%8.3f")
      name -> best
    }
    spark.stop()

    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = results.map(_._2).filter(_ >= 0).sum
    val perEntry = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val sfName = new java.io.File(sfDir).getName
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""sf":"$sfName","queries":$perEntry}"""
    // the real stdout fd: under sbt, System.out gains an "[info] " prefix
    val raw = new java.io.FileOutputStream(java.io.FileDescriptor.out)
    raw.write((line + "\n").getBytes("UTF-8"))
    raw.flush()
  }
}
