package graft

import graft.plans.{JoinGraph, UctJoinReorderRule}
import org.apache.spark.sql.catalyst.plans.logical.Join

/** The UCT join-order rule must (a) actually fire on multi-way inner joins,
  * (b) produce a valid left-deep order, and (c) never change results.
  */
class UctRuleSpec extends SparkSpec {

  test("rule fires on the 6-way snowflake join and learns a valid order") {
    UctJoinReorderRule.clearCache()
    UctJoinReorderRule.lastStats = None
    val df = run("q05_local_supplier_volume")
    df.queryExecution.optimizedPlan // force optimization
    val stats = UctJoinReorderRule.lastStats
    assert(stats.nonEmpty, "UCT rule did not fire")
    val s = stats.get
    assert(s.order.sorted == (0 until s.nrRelations).toList)
    assert(s.nrUctNodes > 1)
  }

  test("reordered plan returns identical results to the unreordered plan") {
    def resultSet(name: String) = run(name).collect().map(_.toString).sorted.toSeq
    val withRule = resultSet("q05_local_supplier_volume")
    spark.conf.set("spark.graft.uct.enabled", "false")
    try {
      val without = resultSet("q05_local_supplier_volume")
      assert(withRule == without)
    } finally spark.conf.set("spark.graft.uct.enabled", "true")
  }

  test("join graph extraction flattens a chain and finds equi edges") {
    val d = Db(spark, sf)
    val plan = d.customer
      .join(d.orders, org.apache.spark.sql.functions.col("c_custkey") ===
        org.apache.spark.sql.functions.col("o_custkey"))
      .join(d.lineitem, org.apache.spark.sql.functions.col("o_orderkey") ===
        org.apache.spark.sql.functions.col("l_orderkey"))
      .queryExecution.analyzed
    val root = plan.collectFirst { case j: Join => j }.get
    val g = JoinGraph.extract(root)
    assert(g.nonEmpty)
    assert(g.get.leaves.size == 3)
    assert(g.get.equiEdges.size == 2)
    // avoid-Cartesian: lineitem (leaf 2) is not connected to customer alone
    assert(!g.get.connected(Set(0), 2))
    assert(g.get.connected(Set(0), 1))
  }

  test("extraction reorders through AQE-internal hints, stops at user hints") {
    import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, JoinHint, NO_BROADCAST_HASH, SHUFFLE_MERGE}
    val d = Db(spark, sf)
    val plan = d.customer
      .join(d.orders, org.apache.spark.sql.functions.col("c_custkey") ===
        org.apache.spark.sql.functions.col("o_custkey"))
      .join(d.lineitem, org.apache.spark.sql.functions.col("o_orderkey") ===
        org.apache.spark.sql.functions.col("l_orderkey"))
      .queryExecution.analyzed
    val root = plan.collectFirst { case j: Join => j }.get
    // DynamicJoinSelection's runtime annotation must NOT collapse the graph
    // (the q154 "race": a hinted mid-tree join became an opaque leaf)
    def hintEverywhere(h: JoinHint) = root.transformDown {
      case j: Join => j.copy(hint = h)
    }.asInstanceOf[Join]
    val internal = hintEverywhere(
      JoinHint(None, Some(HintInfo(strategy = Some(NO_BROADCAST_HASH)))))
    assert(JoinGraph.extract(internal).map(_.leaves.size).contains(3),
      "internal no-broadcast hints must be reorderable")
    // a USER strategy hint pins the shape — the hinted join stays opaque
    val user = hintEverywhere(
      JoinHint(None, Some(HintInfo(strategy = Some(SHUFFLE_MERGE)))))
    assert(JoinGraph.extract(user).isEmpty,
      "user strategy hints must remain barriers")
  }

  test("adversarial JOB-shaped query is reordered selective-dims-first") {
    val plan = run("q47_job_chain").queryExecution.optimizedPlan
    // walk to the bottom-left leaf of the join tree: after reorder it must be
    // the region scan (1 qualifying row), not lineitem (authored outermost)
    var node: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      plan.collectFirst { case j: Join => j }.get
    var going = true
    while (going) node match {
      case j: Join => node = j.left
      case other if other.children.size == 1 => node = other.children.head
      case _ => going = false
    }
    val outCols = node.output.map(_.name).toSet
    assert(outCols.contains("r_regionkey") || outCols.contains("r_name"),
      s"expected region as outermost leaf, got columns $outCols")
  }

  test("rule fires at JOB width (12 relations) and learns a full order") {
    UctJoinReorderRule.clearCache()
    UctJoinReorderRule.lastStats = None
    val df = run("q83_job_wide12")
    df.queryExecution.optimizedPlan
    val s = UctJoinReorderRule.lastStats
    assert(s.nonEmpty, "UCT rule did not fire at width 12")
    assert(s.get.nrRelations >= 10, s"expected >=10 relations, got ${s.get.nrRelations}")
    assert(s.get.order.sorted == (0 until s.get.nrRelations).toList)
  }

  test("plan-time sample jobs carry the execution id of the query that planned them") {
    import graft.plans.SampleStore
    import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // an empty disk tier and cleared memory tiers make every query scan its
    // leaves, so each one starts sample jobs of its own
    val dir = java.nio.file.Files.createTempDirectory("graft-sample-props")
    def fresh(): Unit = {
      SampleStore.clear(); UctJoinReorderRule.clearCache()
      spark.conf.set("spark.graft.uct.sampleDiskCacheDir",
        java.nio.file.Files.createTempDirectory(dir, "tier").toString)
    }
    def sampleJobIds(es: Seq[SparkListenerEvent]): Seq[Option[String]] =
      es.collect {
        case j: SparkListenerJobStart
            if j.stageInfos.exists(_.name.contains("SampleStore")) =>
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      }
    try {
      val executions = Seq("q05_local_supplier_volume", "q47_job_chain").map { q =>
        fresh()
        val es = eventsDuring(run(q).collect())
        val top = es.collect {
          case s: SparkListenerSQLExecutionStart
              if s.rootExecutionId.forall(_ == s.executionId) => s.executionId.toString
        }
        assert(top.size == 1, s"$q: expected one top-level execution, got $top")
        val ids = sampleJobIds(es)
        assert(ids.nonEmpty, s"$q started no sample job")
        assert(ids.forall(_.contains(top.head)),
          s"$q ran as execution ${top.head}; its sample jobs carried ${ids.distinct}")
        top.head
      }
      assert(executions.distinct.size == 2)
      // planning outside an action: no execution to charge
      fresh()
      val outside = sampleJobIds(
        eventsDuring(run("q05_local_supplier_volume").queryExecution.optimizedPlan))
      assert(outside.nonEmpty, "optimization started no sample job")
      assert(outside.forall(_.isEmpty),
        s"sample jobs planned outside an action carried ${outside.flatten.distinct}")
    } finally {
      spark.conf.unset("spark.graft.uct.sampleDiskCacheDir")
      SampleStore.clear(); UctJoinReorderRule.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  private def graphAndSamples(q: String) = {
    import graft.plans.{SampleStore, UctJoinOrder, UctConf}
    val analyzed = run(q).queryExecution.analyzed
    val root = analyzed.collectFirst { case j: Join => j }.get
    val g = JoinGraph.extract(root).get
    val keys = g.equiEdges
      .flatMap { case (la, aa, lb, ab) => Seq(la -> aa, lb -> ab) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val samples = g.leaves.indices.map { i =>
      SampleStore.sample(spark, g.leaves(i), keys.getOrElse(i, Seq.empty).toSeq)
    }.toIndexedSeq
    (g, samples)
  }

  test("learned order beats the authored fact-first order on episode reward") {
    import graft.plans.{UctJoinOrder, UctConf}
    val (g, samples) = graphAndSamples("q83_job_wide12")
    assert(g.leaves.size == 12)
    val conf = UctConf.default.copy(episodes = 400, budgetPerEpisode = 3000)
    val search = new UctJoinOrder(g, samples, conf)
    val learned = search.search()
    val authored = g.leaves.indices // the order the query was written in
    assert(search.simulate(learned.toIndexedSeq) > search.simulate(authored.toIndexedSeq),
      s"learned $learned must out-progress the authored fact-first order")
  }

  test("learned order lands in the top decile of ALL connected left-deep orders") {
    import graft.plans.{UctJoinOrder, UctConf}
    // 5-relation chain: small enough to enumerate the ENTIRE left-deep
    // search space (connected orders, the same avoid-Cartesian space the
    // search explores) and rank the learned order inside it — evidence the
    // search finds near-optimal orders, not merely better-than-authored
    val (g, samples) = graphAndSamples("q47_job_chain")
    val n = g.leaves.size
    assert(n == 5)
    val adj: Map[Int, Set[Int]] = g.equiEdges
      .flatMap { case (la, _, lb, _) => Seq(la -> lb, lb -> la) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def orders(prefix: List[Int]): Iterator[List[Int]] =
      if (prefix.length == n) Iterator(prefix.reverse)
      else {
        val cand =
          if (prefix.isEmpty) (0 until n).iterator
          else (0 until n).iterator.filter(i => !prefix.contains(i) &&
            prefix.exists(b => adj.getOrElse(b, Set.empty).contains(i)))
        cand.flatMap(i => orders(i :: prefix))
      }
    val search = new UctJoinOrder(g, samples, UctConf.default)
    val all = orders(Nil).map(o => search.simulate(o.toIndexedSeq)).toVector.sorted
    val learned = search.search()
    val reward = search.simulate(learned.toIndexedSeq)
    val p90 = all(math.min((all.size * 9) / 10, all.size - 1))
    assert(all.size > 10, s"expected a nontrivial order space, got ${all.size}")
    assert(reward >= p90,
      s"learned reward $reward ranks below the top decile ($p90) of ${all.size} connected orders")
  }

  test("cyclic join graphs keep every edge (q85 shape)") {
    val analyzed = run("q85_job_cycle8").queryExecution.analyzed
    val root = analyzed.collectFirst { case j: Join => j }.get
    val g = JoinGraph.extract(root).get
    assert(g.leaves.size == 8)
    // a tree over 8 leaves has 7 edges; the cn-sn name equality closes a cycle
    assert(g.edges.size >= 8, s"expected a cyclic graph, got edges ${g.edges}")
  }

  test("rule respects user broadcast hints (hinted tree left untouched)") {
    import org.apache.spark.sql.functions.{broadcast, col}
    UctJoinReorderRule.clearCache()
    UctJoinReorderRule.lastStats = None
    val d = Db(spark, sf)
    val df = d.lineitem
      .join(broadcast(d.orders), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(d.customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
    df.queryExecution.optimizedPlan
    assert(UctJoinReorderRule.lastStats.isEmpty, "hinted joins must not be reordered")
    df.collect() // and the query still runs
  }

  test("rule fires on SQL-authored multiway joins through the facade") {
    UctJoinReorderRule.clearCache()
    UctJoinReorderRule.lastStats = None
    val df = GraftSession.execute(spark, sf, """
      SELECT n_name, count(*) AS n
      FROM lineitem, orders, customer, nation
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n_nationkey AND o_orderpriority = '1-URGENT'
      GROUP BY n_name""")
    df.queryExecution.optimizedPlan
    assert(UctJoinReorderRule.lastStats.nonEmpty)
    assert(df.count() > 0)
  }

  test("rule leaves outer joins untouched") {
    UctJoinReorderRule.lastStats = None
    val df = run("q10_outer_join")
    df.queryExecution.optimizedPlan
    // 2-relation outer join: extract must not fire
    assert(UctJoinReorderRule.lastStats.isEmpty)
  }

  test("rule fires at the reference corpus's maximum width (17 relations)") {
    import graft.plans.SampleStore
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    UctJoinReorderRule.clearCache()
    UctJoinReorderRule.lastStats = None
    SampleStore.clear()
    SampleStore.resetStats()
    // sf0.1: at sf0.001 a second search over a rebuilt sub-join learns the
    // same order as the first, so the executed-order pin could not catch it
    val df = SparkEntry.queries("q110_job_wide17")(spark, "/root/testdata/sf0.1")
    val optimized = df.queryExecution.optimizedPlan
    val stats = UctJoinReorderRule.lastStats
    assert(stats.exists(_.nrRelations == 17),
      s"expected a 17-relation reorder, got $stats")
    assert(stats.get.order.sorted == (0 until 17),
      s"learned order must be a full permutation, got ${stats.get.order}")
    // one search per join tree: a second search over a rebuilt sub-join
    // would add its own order-cache entry
    assert(UctJoinReorderRule.cacheSize == 1,
      s"expected one learned order, the cache holds ${UctJoinReorderRule.cacheSize}")
    // the rule's input is the same analyzed plan optimized with the rule
    // off: no later batch reorders joins (CBO is off)
    spark.conf.set("spark.graft.uct.enabled", "false")
    val unordered =
      try spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
      finally spark.conf.set("spark.graft.uct.enabled", "true")
    def widest(p: LogicalPlan): JoinGraph =
      p.collect { case j: Join => JoinGraph.extract(j) }.flatten.maxBy(_.leaves.size)
    val (in, out) = (widest(unordered), widest(optimized))
    assert(in.leaves.size == 17 && out.leaves.size == 17)
    // each distinct canonical leaf is sampled once: the filtered leaves the
    // search sees, not also their bare pre-inference forms
    val distinctLeaves = in.leaves.map(_.canonicalized).distinct.size
    assert(SampleStore.scanCount + SampleStore.diskHitCount == distinctLeaves,
      s"${SampleStore.scanCount} scans + ${SampleStore.diskHitCount} disk hits " +
        s"for $distinctLeaves distinct leaves")
    // the executed order is the reported one: leaves are told apart by the
    // exprIds of their relations (self-join roles get their own)
    def role(l: LogicalPlan) = l.collectLeaves().flatMap(_.output.map(_.exprId))
    assert(out.leaves.map(role) == stats.get.order.map(i => role(in.leaves(i))),
      s"the optimized join does not follow the reported order ${stats.get.order}")
  }

  test("width-17 search halts by convergence, not the episode cap, and beats greedy-by-size") {
    import graft.plans.{UctJoinOrder, UctConf}
    val (g, samples) = graphAndSamples("q110_job_wide17")
    assert(g.leaves.size == 17)
    val search = new UctJoinOrder(g, samples, UctConf.default)
    val learned = search.search()
    assert(search.stoppedBy == "converged",
      s"width-17 search must halt because the incumbent plateaued, not by cap " +
        s"(${search.episodes} episodes, ${search.nodesCreated} nodes)")
    // greedy-by-size baseline: start from the smallest filtered sample, then
    // repeatedly append the smallest CONNECTED unbound leaf — the textbook
    // heuristic the learned order has to justify itself against
    val sizes = samples.map(_.nRows)
    val order = scala.collection.mutable.ArrayBuffer(sizes.zipWithIndex.min._2)
    while (order.length < g.leaves.size) {
      val bound = order.toSet
      val cand = g.leaves.indices.filterNot(bound)
      val conn = cand.filter(i => g.connected(bound, i))
      order += (if (conn.nonEmpty) conn else cand).minBy(sizes)
    }
    val (lr, gr) =
      (search.simulate(learned.toIndexedSeq), search.simulate(order.toIndexedSeq))
    assert(lr > gr,
      s"learned $learned (reward $lr) must out-progress greedy-by-size $order (reward $gr)")
  }

  test("runtime order switch re-orders a misordered chain from observed stats") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val d = Db(spark, sf)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // static UCT off → the authored fact-first order survives planning;
    // broadcast off → every join shuffles, so AQE materializes stages and
    // re-optimizes between them with EXACT observed sizes
    spark.conf.set("spark.graft.uct.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.plans.RuntimeOrderSwitchRule.clearLog()
    val got =
      try {
        d.lineitem
          .join(d.orders, col("l_orderkey") === col("o_orderkey"))
          .join(d.customer, col("o_custkey") === col("c_custkey"))
          .join(d.nation, col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      } finally {
        spark.conf.set("spark.graft.uct.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      }
    val switch = graft.plans.RuntimeOrderSwitchRule.recentSwitches.lastOption
    assert(switch.nonEmpty, "runtime switch did not fire on the misordered chain")
    assert(switch.get.order.head != 0,
      s"expected a dimension outermost, got ${switch.get.order}")
    // and results are identical to the normal (static-UCT, broadcast) path
    val expected = d.lineitem
      .join(d.orders, col("l_orderkey") === col("o_orderkey"))
      .join(d.customer, col("o_custkey") === col("c_custkey"))
      .join(d.nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expected)
  }

  test("q116 gate: the switch fires during the registry query's execution") {
    graft.plans.RuntimeOrderSwitchRule.clearLog()
    val rows = run("q116_runtime_switch").collect()
    assert(rows.nonEmpty)
    assert(graft.plans.RuntimeOrderSwitchRule.recentSwitches.nonEmpty,
      "q116 must execute with a mid-query order switch")
  }

  test("leaf samples interleave across partitions instead of head-biasing") {
    import org.apache.spark.sql.functions.col
    // sorted/clustered layout — the common shape at scale: 8 range files,
    // file i holds keys [i*1000, i*1000+999]
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString + "/t"
    spark.range(8000).select(col("id").as("k"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    // at scale each file exceeds maxPartitionBytes, so scan partitions are
    // contiguous key ranges; model that here (tiny fixture files would
    // otherwise be packed into one partition and hide the bias)
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
    val df = spark.read.parquet(dir)
    val attr = df.queryExecution.analyzed.output.head
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]
    val sample = graft.plans.SampleStore.sample(spark,
      df.queryExecution.analyzed, Seq(attr))
    assert(sample.nRows == 1024)
    val keys = sample.cols(graft.plans.SampleStore.attrKey(attr))
      .map(_.asInstanceOf[Long])
    val rangesSeen = keys.map(_ / 1000).distinct.sorted
    // a head sample (the old limit(n)) would see ONLY range 0; the
    // interleaved sample must cover most of the key space
    assert(rangesSeen.length >= 6,
      s"sample covers only key ranges ${rangesSeen.mkString(",")} — head-biased")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevCost)
    }
  }

  test("plan-time sampling schedules at most samplePartitions partitions") {
    // a 512-partition leaf whose partitions record their index the moment
    // their task starts (static set — local mode shares the JVM): the
    // reservoir must prune the SCAN to ≤64 seeded partitions, not merely
    // bound the collect, or plan-time IO grows with the leaf
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rdd = spark.sparkContext.parallelize(0L until 51200L, 512)
      .mapPartitionsWithIndex { (i, it) =>
        PartitionTouchCounter.touched.add(i); it
      }.map(Row(_))
    val df = spark.createDataFrame(rdd,
      StructType(Seq(StructField("k", LongType))))
    val attr = df.queryExecution.analyzed.output.head
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]
    PartitionTouchCounter.touched.clear()
    val sample = graft.plans.SampleStore.sample(spark,
      df.queryExecution.analyzed, Seq(attr))
    assert(sample.nRows == 1024)
    val n = PartitionTouchCounter.touched.size
    assert(n <= 64, s"sampling scheduled $n of 512 partitions (bound is 64)")
    assert(n >= 32, s"only $n partitions scheduled — subset too small to " +
      "cover a sorted layout")
    // cross-range coverage must survive the pruning: the 512 partitions
    // are contiguous key ranges, so the sampled keys should span many
    val keys = sample.cols(graft.plans.SampleStore.attrKey(attr))
      .map(_.asInstanceOf[Long])
    val ranges = keys.map(_ / 6400).distinct // eighths of the key space
    assert(ranges.length >= 6,
      s"pruned sample covers only key ranges ${ranges.sorted.mkString(",")}")
  }

  test("seeded reservoir defeats sorted-parquet head bias the prefix sample inherits") {
    // A fixture where the partition HEAD inverts the true selectivities:
    // f's first 5000 rows all match d1 (a=1) and never match d2, the other
    // 95000 rows never match d1 and always match d2. Truth: joining d1
    // first touches 5% of f (good), d2 first 95% (bad). A prefix sample
    // sees only the head -> d1 looks expensive, d2 looks FREE (zero
    // matches) -> the search picks the bad order. The per-partition
    // reservoir sees the whole distribution and finds the good one.
    import org.apache.spark.sql.functions._
    val dir = graft.Scratch.root + "/uct_bias"
    val headRows = 5000
    spark.range(100000).select(
        when(col("id") < headRows, lit(1L))
          .otherwise(col("id") + 2000000L).as("a"),
        when(col("id") < headRows, col("id") + 1000000L)
          .otherwise(pmod(col("id"), lit(50L))).as("b"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f")
    spark.range(1, 2).select(col("id").as("k1"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/d1")
    spark.range(0, 50).select(col("id").as("k2"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/d2")

    val q = spark.read.parquet(s"$dir/f").as("f")
      .join(spark.read.parquet(s"$dir/d1").as("d1"),
        col("f.a") === col("d1.k1"))
      .join(spark.read.parquet(s"$dir/d2").as("d2"),
        col("f.b") === col("d2.k2"))
      .agg(count(lit(1)).as("n"))
    graft.plans.SampleStore.clear()
    UctJoinReorderRule.clearCache()
    UctJoinReorderRule.lastStats = None
    q.queryExecution.optimizedPlan // force optimization
    val stats = UctJoinReorderRule.lastStats
    assert(stats.nonEmpty, "UCT did not fire")
    // leaves flatten in authoring order: 0=f, 1=d1, 2=d2
    val res = stats.get.order
    assert(res.indexOf(1) < res.indexOf(2),
      s"reservoir sample should learn the selective d1 first, got $res")

    // negative control: the same search over prefix samples (the first 1024
    // rows of each leaf) must fall for the inversion
    import graft.plans.{LeafSample, SampleStore, UctConf, UctJoinOrder}
    val g = JoinGraph.extract(
      q.queryExecution.analyzed.collectFirst { case j: Join => j }.get).get
    val keys = g.equiEdges
      .flatMap { case (la, aa, lb, ab) => Seq(la -> aa, lb -> ab) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val headSamples = g.leaves.indices.map { i =>
      val attrs = keys(i)
      val rows = org.apache.spark.sql.GraftShims.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.Project(attrs, g.leaves(i)))
        .limit(1024).collect()
      val cols = attrs.zipWithIndex.map { case (a, c) =>
        SampleStore.attrKey(a) -> rows.map(r => r.get(c): Any) }.toMap
      val index = cols.map { case (k, vs) =>
        val m = new java.util.HashMap[Any, Array[Int]]()
        vs.zipWithIndex.groupBy(_._1).foreach { case (v, ps) => m.put(v, ps.map(_._2)) }
        k -> m
      }
      LeafSample(rows.length, cols, index)
    }
    val hd = new UctJoinOrder(g, headSamples, UctConf.default).search()
    assert(hd.indexOf(2) < hd.indexOf(1),
      s"head sample should fall for the inversion (d2 first), got $hd — " +
        "if this starts passing, the fixture no longer inverts and the " +
        "reservoir assertion above proves nothing")
    graft.plans.SampleStore.clear()
    UctJoinReorderRule.clearCache()
  }

  test("a leaf whose filter matches no rows still gets a valid order and the same result") {
    // `k2 > 1000` over keys 0..49 is empty at run time but not provably
    // false, so PropagateEmptyRelation keeps the join and the rule samples
    // an empty leaf (a lit(false) filter would remove the join before UCT)
    import org.apache.spark.sql.functions._
    val dir = graft.Scratch.root + "/uct_empty"
    spark.range(2000).select((col("id") % 10).as("a"), (col("id") % 50).as("b"))
      .write.mode("overwrite").parquet(s"$dir/f")
    spark.range(10).select(col("id").as("k1"))
      .write.mode("overwrite").parquet(s"$dir/d1")
    spark.range(50).select(col("id").as("k2"))
      .write.mode("overwrite").parquet(s"$dir/d2")
    def q = spark.read.parquet(s"$dir/f")
      .join(spark.read.parquet(s"$dir/d1"), col("a") === col("k1"))
      .join(spark.read.parquet(s"$dir/d2").where(col("k2") > 1000),
        col("b") === col("k2"))
      .groupBy(col("k1")).agg(count(lit(1)).as("n"))
    UctJoinReorderRule.clearCache()
    UctJoinReorderRule.lastStats = None
    val df = q
    df.queryExecution.optimizedPlan
    val stats = UctJoinReorderRule.lastStats
    assert(stats.exists(_.nrRelations == 3), s"UCT did not fire: $stats")
    assert(stats.get.order.sorted == Seq(0, 1, 2), s"not a permutation: $stats")
    val got = df.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.uct.enabled", "false")
    val want = try q.collect().map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.graft.uct.enabled", "true")
    assert(got == want)
  }

  test("runtime switch scores the full remaining prefix, not just the first divergence") {
    import graft.plans.RuntimeOrderSwitchRule.{logScore, shouldSwitch}
    // a bad TAIL behind a sub-threshold first divergence: authored
    // [30,10,9,8] vs greedy [8,9,10,30] — the first divergent slot is only
    // 30/8 = 3.75x (< the 4x factor, so the old first-slot test kept the
    // bad order), but the misplacement repeats in every prefix and the
    // cumulative advantage is ~e^4.1, well past the threshold
    val sizes = IndexedSeq(BigInt(30), BigInt(10), BigInt(9), BigInt(8))
    val authored = Seq(0, 1, 2, 3)
    val greedy = Seq(3, 2, 1, 0)
    assert(BigDecimal(30) < BigDecimal(8) * 4.0,
      "fixture drift: first divergence no longer below the 4x factor")
    assert(shouldSwitch(authored, greedy, sizes, factor = 4.0),
      s"full-prefix scoring must switch: advantage=" +
        s"${logScore(authored, sizes) - logScore(greedy, sizes)}")
    // a genuinely close order must NOT switch (no thrash on noise)
    val close = IndexedSeq(BigInt(10), BigInt(9), BigInt(11), BigInt(10))
    assert(!shouldSwitch(Seq(0, 1, 2, 3), Seq(1, 0, 3, 2), close, factor = 4.0))
    // and a single factor-sized misplacement still trips it (the old
    // test's sensitivity is preserved)
    val single = IndexedSeq(BigInt(100), BigInt(10), BigInt(10), BigInt(10))
    assert(shouldSwitch(Seq(0, 1, 2, 3), Seq(1, 2, 3, 0), single, factor = 4.0))
  }

  test("runtime greedy order prefers equi steps over smaller theta-only ones") {
    // the q55-verification shape that turned an 8 s query into a 500k^2
    // cartesian predicate scan: two big legs linked only by a pushed-down
    // theta predicate, a small(er)-looking aggregate linking both by equi
    // keys — but with the aggregate's (unmaterialized) planner ESTIMATE
    // inflated past the observed legs, so size-greedy orders the theta
    // pair adjacently
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.LongType
    import graft.plans.{JoinGraph, RuntimeOrderSwitchRule}
    val ax = AttributeReference("ax", LongType)()
    val av = AttributeReference("av", LongType)()
    val bx = AttributeReference("bx", LongType)()
    val bv = AttributeReference("bv", LongType)()
    val c1 = AttributeReference("c1", LongType)()
    val c2 = AttributeReference("c2", LongType)()
    val graph = JoinGraph(
      IndexedSeq(LocalRelation(ax, av), LocalRelation(bx, bv),
        LocalRelation(c1, c2)),
      Seq(EqualTo(ax, c1), EqualTo(bx, c2), GreaterThan(av, bv)),
      Seq(ax, bx))
    val sizes = IndexedSeq(BigInt(100), BigInt(100), BigInt(1000000000L))
    val order = RuntimeOrderSwitchRule.greedyOrder(graph, sizes)
    assert(order == Seq(0, 2, 1),
      s"must take the huge-but-equi aggregate before the theta leg: $order")
    assert(RuntimeOrderSwitchRule.allEqui(graph, order))
    assert(!RuntimeOrderSwitchRule.allEqui(graph, Seq(0, 1, 2)),
      "fixture drift: the theta-adjacent order no longer models the bug")

    // cast tolerance: mixed-type keys get analyzer Casts wrapped around
    // the equality — connectivity must still see the equi edge, or the
    // preference silently degrades to size-greedy on those plans
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.IntegerType
    val ai = AttributeReference("ai", IntegerType)()
    val graphCast = JoinGraph(
      IndexedSeq(LocalRelation(ai, av), LocalRelation(bx, bv),
        LocalRelation(c1, c2)),
      Seq(EqualTo(Cast(ai, LongType), c1), EqualTo(bx, c2),
        GreaterThan(av, bv)),
      Seq(ai, bx))
    val orderCast = RuntimeOrderSwitchRule.greedyOrder(graphCast, sizes)
    assert(orderCast == Seq(0, 2, 1),
      s"cast-wrapped equi edge must count for connectivity: $orderCast")
  }
}

/** Records which partitions of the instrumented fixture actually started a
  * task — local mode shares the JVM, so the executor-side closure and the
  * asserting test read the same static set. */
object PartitionTouchCounter {
  val touched: java.util.Set[Int] =
    java.util.Collections.synchronizedSet(new java.util.HashSet[Int]())
}
