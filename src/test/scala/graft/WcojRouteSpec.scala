package graft

import graft.plans.WcojJoinRule
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The WCOJ routing rule (plans/WcojJoinRule): a cyclic conjunctive core
  * written as SQL TEXT must be detected and routed through the Leapfrog
  * operator — with parity against the binary plan, conservative refusal on
  * every shape where the rewrite is not provably exact, and a measured win
  * on a densified fixture (where any binary plan materializes the wedge
  * intermediate that exceeds the AGM output bound).
  */
class WcojRouteSpec extends SparkSpec {

  private def routed(plan: LogicalPlan): Boolean =
    plan.exists {
      case l: LogicalRDD => l.output.exists(_.name.startsWith("__wcoj_"))
      case _ => false
    }

  private def routed(df: org.apache.spark.sql.DataFrame): Boolean =
    routed(df.queryExecution.optimizedPlan)

  /** Whether `rule` routes `sql`: the query is optimized with the injected
    * rule switched off, then `rule` is applied to that plan. The seam for
    * building the rule with limits other than the companion's constants. */
  private def routedBy(rule: WcojJoinRule, sql: String): Boolean = {
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val plan = try spark.sql(sql).queryExecution.optimizedPlan
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    routed(rule(plan))
  }

  /** n-node ascending random graph at pct% density, deterministic. */
  private def denseGraph(n: Int, pct: Int): org.apache.spark.sql.DataFrame =
    spark.range(0, n.toLong * n)
      .select((col("id") / n).cast("long").as("src"),
        (col("id") % n).cast("long").as("dst"))
      .where(col("src") < col("dst") &&
        pmod(hash(col("src"), col("dst")), lit(100)) < pct)

  private val triangleSql = """
    WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g)
    SELECT e1.src AS a, count(*) AS tri_cnt
    FROM e e1
    JOIN e e2 ON e2.src = e1.dst
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    GROUP BY 1 ORDER BY 1"""

  test("SQL-text triangle is routed through Leapfrog, with binary parity") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    WcojJoinRule.clearStats()
    val df = spark.sql(triangleSql)
    assert(routed(df), "optimized plan lacks the Leapfrog scan:\n" +
      df.queryExecution.optimizedPlan.treeString)
    val r = WcojJoinRule.lastRoute
    assert(r.exists(s => s.nrRelations == 3 && s.nrVars == 3), s"stats: $r")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(triangleSql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("typed variables: a STRING-keyed cyclic core routes and matches") {
    denseGraph(150, 20)
      .select(concat(lit("n"), col("src")).as("src"),
        concat(lit("n"), col("dst")).as("dst"))
      .createOrReplaceTempView("wcoj_g")
    WcojJoinRule.clearStats()
    val df = spark.sql(triangleSql)
    assert(routed(df), "string-typed core was not routed")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(triangleSql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("a 4-cycle core routes too (4 relations, 4 variables)") {
    denseGraph(120, 25).createOrReplaceTempView("wcoj_g")
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g)
      SELECT e1.src AS a, count(*) AS cyc
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e2.dst
      JOIN e e4 ON e4.src = e1.src AND e4.dst = e3.dst
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "4-cycle core was not routed")
    assert(WcojJoinRule.lastRoute.exists(s => s.nrRelations == 4 && s.nrVars == 4),
      s"stats: ${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("a 5-clique census routes (10 relations, 5 variables, GYO-irreducible)") {
    denseGraph(60, 30).createOrReplaceTempView("wcoj_g")
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g)
      SELECT count(*) AS k5
      FROM e e1
      JOIN e e2 ON e2.src = e1.src
      JOIN e e3 ON e3.src = e1.src
      JOIN e e4 ON e4.src = e1.src
      JOIN e e5 ON e5.src = e1.dst AND e5.dst = e2.dst
      JOIN e e6 ON e6.src = e1.dst AND e6.dst = e3.dst
      JOIN e e7 ON e7.src = e1.dst AND e7.dst = e4.dst
      JOIN e e8 ON e8.src = e2.dst AND e8.dst = e3.dst
      JOIN e e9 ON e9.src = e2.dst AND e9.dst = e4.dst
      JOIN e e10 ON e10.src = e3.dst AND e10.dst = e4.dst"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "5-clique core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    assert(WcojJoinRule.lastRoute.exists(s => s.nrRelations == 10 && s.nrVars == 5),
      s"stats: ${WcojJoinRule.lastRoute}")
    val got = df.collect()(0).getLong(0)
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect()(0).getLong(0)
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want, s"k5 counts diverge: $got vs $want")
  }

  test("cyclic core + acyclic ear: the triangle routes, the dimension stays a binary join") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    // d is an acyclic ear carrying a payload column (grp has no equi-edge):
    // unroutable as part of a core, perfectly fine folded back on top
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g),
           d AS (SELECT DISTINCT src AS node, src % 10 AS grp FROM wcoj_g)
      SELECT d.grp AS g, count(*) AS tri
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      JOIN d ON d.node = e1.src
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "triangle core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    val r = WcojJoinRule.lastRoute
    assert(r.exists(s => s.nrRelations == 3 && s.nrGraphLeaves == 4),
      s"expected core 3 of 4 leaves, got $r")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("residual theta predicate survives on top of the routed core") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g)
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
                AND e3.dst > e1.src + 3
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "theta-carrying cyclic core was not routed")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("PAYLOAD-referencing residual theta filters after the join-backs") {
    // w has no equi-edge (payload), and the theta predicate compares two
    // roles' w values — it can only be evaluated AFTER late
    // materialization restores both attributes, so the residual Filter
    // must attach above the join-backs, not above the bare core
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst, (src * 7 + dst) % 13 AS w FROM wcoj_g)
      SELECT e1.src AS a, sum(e1.w + e2.w) AS ws, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst AND e2.w > e1.w
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "payload-theta core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    assert(WcojJoinRule.lastRoute.exists(_.payloadLeaves >= 2),
      s"stats: ${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("acyclic chains keep their binary plans") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    // acyclic: a 3-hop chain (GYO-reducible) — must NOT route
    val chain = spark.sql("""
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g)
      SELECT count(*) AS n
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e2.dst""")
    assert(!routed(chain), "acyclic chain was wrongly routed")
  }

  test("key–FK cycles keep their binary plans (structural + sampled m:n growth guard)") {
    // a faithful TPC-H-q05-shaped loop: four relations closed into a cycle
    // where every hop carries a UNIQUE-KEY side. No two core roles share a
    // plan (no structural traversal), and the sampled m:n probe reads mean
    // multiplicity ~1.0 on the key columns (ckey, okey, skey) — both
    // growth checks decline, because the result cannot exceed the largest
    // input and binary hash joins + UCT ordering stay optimal.
    val n = 400
    spark.range(n).select(col("id").as("ckey"), (col("id") % 10).as("cnkey"))
      .createOrReplaceTempView("kfk_cust")
    spark.range(4L * n).select(col("id").as("okey"), (col("id") % n).as("ockey"))
      .createOrReplaceTempView("kfk_ord")
    spark.range(16L * n).select((col("id") % (4 * n)).as("lokey"),
        (col("id") % 50).as("lskey"))
      .createOrReplaceTempView("kfk_li")
    spark.range(50).select(col("id").as("skey"), (col("id") % 10).as("snkey"))
      .createOrReplaceTempView("kfk_supp")
    val sql = """
      SELECT count(*) AS n
      FROM kfk_cust c
      JOIN kfk_ord o ON o.ockey = c.ckey
      JOIN kfk_li l ON l.lokey = o.okey
      JOIN kfk_supp s ON s.skey = l.lskey AND s.snkey = c.cnkey"""
    assert(!routed(spark.sql(sql)), "key–FK loop was wrongly routed")

    // the UCT rule samples each of the 4 leaves once, under its inferred
    // filters; the declined m:n probe runs before filter inference, on the
    // bare leaves, so the two share no sample and their scans add up
    def sampleScans(wcoj: Boolean, uct: Boolean): Long = {
      spark.conf.set("spark.graft.wcoj.enabled", wcoj.toString)
      spark.conf.set("spark.graft.uct.enabled", uct.toString)
      try {
        graft.plans.UctJoinReorderRule.clearCache()
        graft.plans.SampleStore.clear()
        graft.plans.SampleStore.resetStats()
        assert(!routed(spark.sql(sql)), "key–FK loop was wrongly routed")
        graft.plans.SampleStore.scanCount
      } finally {
        spark.conf.set("spark.graft.wcoj.enabled", "true")
        spark.conf.set("spark.graft.uct.enabled", "true")
      }
    }
    val probeOnly = sampleScans(wcoj = true, uct = false)
    val uctOnly = sampleScans(wcoj = false, uct = true)
    val both = sampleScans(wcoj = true, uct = true)
    assert(probeOnly >= 1, "the m:n probe sampled nothing")
    assert(uctOnly == 4, s"the UCT rule took $uctOnly scans for 4 leaves")
    assert(both == uctOnly + probeOnly,
      s"both rules took $both scans; the probe alone $probeOnly, the UCT rule alone $uctOnly")
  }

  test("bipartite butterfly census routes via the sampled m:n probe") {
    // every connection is same-position (u↔u, v↔v), so the structural
    // traversal check cannot see growth — the documented false negative.
    // The sampled probe reads mean multiplicity ~avg-degree on every
    // intra-core column and admits the route.
    spark.range(0, 37L * 31)
      .select((col("id") / 31).cast("long").as("u"),
        (col("id") % 31 + 1000).as("v"))
      .where(pmod(hash(col("u"), col("v")), lit(100)) < 30)
      .createOrReplaceTempView("wcoj_bip")
    val sql = """
      WITH e AS (SELECT DISTINCT u, v FROM wcoj_bip)
      SELECT e1.u AS a, count(*) AS bf
      FROM e e1
      JOIN e e2 ON e2.u = e1.u
      JOIN e e3 ON e3.v = e1.v
      JOIN e e4 ON e4.u = e3.u AND e4.v = e2.v
      WHERE e2.v > e1.v AND e3.u > e1.u
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "butterfly core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    assert(WcojJoinRule.lastRoute.exists(s =>
        s.nrRelations == 4 && s.grownByProbe),
      s"expected a 4-leaf core admitted by the m:n probe: " +
        s"${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
    // an unreachable threshold turns the probe off and the decline returns
    assert(routedBy(new WcojJoinRule(spark), sql),
      "the default threshold should route the optimized plan too")
    assert(!routedBy(new WcojJoinRule(spark, mnThreshold = 1e18), sql),
      "sub-threshold multiplicity must keep the binary plan")
  }

  test("a raw UNION ALL role groups with its collapsed-DISTINCT sibling (growth key)") {
    // RemoveNoopUnion collapses `DISTINCT (e UNION ALL e)` to `DISTINCT e`
    // while the raw e2 role keeps its two-branch Union: the growth key
    // must land both in ONE group, so the cross-position e2.src = e1.dst
    // edge counts as STRUCTURAL traversal evidence (no probe involved).
    denseGraph(150, 20).createOrReplaceTempView("wcoj_g")
    val sql = """
      WITH u AS (SELECT src, dst FROM wcoj_g
                 UNION ALL SELECT src, dst FROM wcoj_g)
      SELECT e1.src AS a, count(*) AS tri
      FROM (SELECT DISTINCT src, dst FROM u) e1
      JOIN u e2 ON e2.src = e1.dst
      JOIN (SELECT DISTINCT src, dst FROM u) e3
        ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "union/collapsed-DISTINCT core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    assert(WcojJoinRule.lastRoute.exists(s =>
        s.nrRelations == 3 && !s.grownByProbe),
      s"expected STRUCTURAL growth via the union key: ${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("ears fold smallest-estimated-size first, not in FROM order") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    spark.range(100000)
      .select(col("id").as("bnode"), (col("id") % 7).as("bgrp"))
      .createOrReplaceTempView("wcoj_ear_big")
    spark.range(10).select(col("id").as("snode"), col("id").as("sgrp"))
      .createOrReplaceTempView("wcoj_ear_small")
    // the big ear is listed FIRST: FROM-order folding would join it before
    // the selective ear and inflate every later intermediate
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g)
      SELECT count(*) AS n, sum(b.bgrp) AS sb, sum(s.sgrp) AS ss
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      JOIN wcoj_ear_big b ON b.bnode = e1.src
      JOIN wcoj_ear_small s ON s.snode = e2.dst"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "core with two ears was not routed")
    assert(WcojJoinRule.lastRoute.exists(s =>
        s.nrRelations == 3 && s.nrGraphLeaves == 5),
      s"stats: ${WcojJoinRule.lastRoute}")
    // the OUTERMOST fold join's right side must be the LARGE ear (folded
    // last); the selective ear sits deeper, shrinking the stream first
    val outerFold = df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.get
    assert(outerFold.right.output.exists(_.name == "bgrp"),
      "large ear should fold LAST (outermost join):\n" +
        df.queryExecution.optimizedPlan.treeString)
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("payload join-back budget declines to binary when exceeded") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst, src + dst AS w FROM wcoj_g)
      SELECT sum(e1.w + e2.w + e3.w) AS n, count(*) AS tri
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
    assert(!routedBy(new WcojJoinRule(spark, joinBackBudgetBytes = 1L), sql),
      "an over-ceiling payload core must keep its binary plan")
    // default ceiling: the same core still routes
    assert(routedBy(new WcojJoinRule(spark), sql),
      "default budget should route the optimized plan")
    WcojJoinRule.clearStats()
    assert(routed(spark.sql(sql)), "default budget should route the core")
    assert(WcojJoinRule.lastRoute.exists(_.payloadLeaves == 3),
      s"stats: ${WcojJoinRule.lastRoute}")
  }

  test("mixed payload+count roles of one canonical leaf share its checkpoint") {
    // e1/e2 carry w as PAYLOAD (no edge), e3/e4 are fully covered COUNT
    // roles (their w closes a join edge) — all four roles read ONE
    // canonical full-width leaf. The count aggregates must consume the
    // payload roles' base checkpoint, not re-plan the raw leaf: asserted
    // via the route's sharedCountBases stat, with full result parity
    // proving the shared read changes nothing semantically.
    denseGraph(120, 25)
      .withColumn("w", pmod(col("src") * 31 + col("dst"), lit(5)))
      .createOrReplaceTempView("wcoj_mixed")
    val sql = """
      SELECT sum(e1.w + e2.w) AS ws, count(*) AS cyc
      FROM wcoj_mixed e1
      JOIN wcoj_mixed e2 ON e2.src = e1.dst
      JOIN wcoj_mixed e3 ON e3.src = e2.dst
      JOIN wcoj_mixed e4 ON e4.src = e3.dst AND e4.dst = e1.src
                        AND e4.w = e3.w"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "mixed payload+count core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    assert(WcojJoinRule.lastRoute.exists(s =>
        s.payloadLeaves == 2 && s.sharedCountBases == 2),
      s"both count roles should read the shared base checkpoint: " +
        s"${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("payload-carrying cores route via late materialization, with parity") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    // w has no equi-edge: each leaf's distinct covered projection joins the
    // core, and the full leaf is equi-joined back on (src, dst) afterwards
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst, src + dst AS w FROM wcoj_g)
      SELECT sum(e1.w + e2.w + e3.w) AS n, count(*) AS tri
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "payload-carrying core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    assert(WcojJoinRule.lastRoute.exists(s =>
        s.nrRelations == 3 && s.payloadLeaves == 3),
      s"stats: ${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("BAG payload: non-distinct payload leaves restore exact multiplicities") {
    // edge multiset with a weight column: the join-back must multiply each
    // binding by the number of matching leaf ROWS, each with its own w
    val base = denseGraph(150, 20)
      .withColumn("w", pmod(col("src") * 31 + col("dst"), lit(97)))
    base.union(base.where(pmod(col("src") + col("dst"), lit(3)) === 0))
      .createOrReplaceTempView("wcoj_bag_w")
    val sql = """
      SELECT e1.src AS a, sum(e1.w + e2.w) AS ws, count(*) AS tri
      FROM wcoj_bag_w e1
      JOIN wcoj_bag_w e2 ON e2.src = e1.dst
      JOIN wcoj_bag_w e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "bag payload core was not routed")
    // e3.w is never referenced, so column pruning strips it and e3 becomes a
    // fully-covered COUNT leaf — the mixed shape: two payload join-backs AND
    // a ReplicateRows multiplicity trailer in one core
    assert(WcojJoinRule.lastRoute.exists(s =>
        s.payloadLeaves == 2 && s.varOrder.exists(_.startsWith("__wcoj_m"))),
      s"stats: ${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)
  }

  test("grid grows under a tight per-cell budget and declines under an impossible one") {
    denseGraph(200, 20).createOrReplaceTempView("wcoj_g")
    WcojJoinRule.clearStats()
    assert(routedBy(new WcojJoinRule(spark), triangleSql))
    val base = WcojJoinRule.lastRoute.get
    // a budget below the unconstrained per-cell load forces a finer grid
    val tight = math.max(1L, base.perCellBytes / 2)
    WcojJoinRule.clearStats()
    assert(routedBy(new WcojJoinRule(spark, cellBudgetBytes = tight), triangleSql),
      "tight-budget core should still route with a finer grid")
    val r1 = WcojJoinRule.lastRoute.get
    assert(r1.cells > base.cells,
      s"grid did not grow: ${base.cells} -> ${r1.cells}")
    assert(r1.perCellBytes <= tight,
      s"per-cell load ${r1.perCellBytes} exceeds the budget")
    // an impossible budget: even the hard-cap grid cannot comply — the
    // rule must DECLINE and keep the spill-capable binary plan
    assert(!routedBy(new WcojJoinRule(spark, cellBudgetBytes = 1L), triangleSql),
      "route should decline when no grid meets the budget")
  }

  test("skew probe pins heavy-hitter variables and keeps per-cell load balanced") {
    // hub fixture: node 0 owns most of the src column — the one documented
    // HyperCube weakness (a heavy VALUE pins to one slice of its dimension)
    val hub = spark.range(1, 2000).select(lit(0L).as("src"), col("id").as("dst"))
    hub.union(denseGraph(200, 5).where(col("src") > 0))
      .createOrReplaceTempView("wcoj_hub")
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_hub)
      SELECT count(*) AS tri FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "hub core was not routed")
    val r = WcojJoinRule.lastRoute.get
    assert(r.pinnedVars.nonEmpty, s"skew probe pinned nothing: $r")
    r.pinnedVars.foreach(v => assert(r.shares(v) == 1,
      s"pinned variable $v must have share 1: ${r.shares}"))
    val got = df.collect()(0).getLong(0)
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect()(0).getLong(0)
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want, s"counts diverge: $got vs $want")

    // replay the HyperCube assignment over the real edges for a grid and
    // return per-cell input-tuple counts, replicas included
    val edges = spark.sql("SELECT DISTINCT src, dst FROM wcoj_hub")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val classVars = r.varOrder.take(r.nrVars)
    def cellLoads(shares: Map[String, Int]): Array[Long] = {
      val shareArr = classVars.map(v => shares.getOrElse(v, 1)).toArray
      val stride = new Array[Int](classVars.length)
      var accum = 1
      for (d <- classVars.indices.reverse) { stride(d) = accum; accum *= shareArr(d) }
      val loads = new Array[Long](accum)
      for (rv <- r.relVars; (src, dst) <- edges) {
        val posOf = rv.map(v => classVars.indexOf(v))
        val vals = Array(src, dst)
        var basePos = 0
        for (j <- rv.indices)
          basePos += graft.plans.Leapfrog.coordOf(vals(j), shareArr(posOf(j))) * stride(posOf(j))
        val freeDims = classVars.indices.filterNot(posOf.contains)
        def spread(dims: List[Int], cell: Int): Unit = dims match {
          case Nil => loads(cell) += 1
          case d :: rest =>
            for (c <- 0 until shareArr(d)) spread(rest, cell + c * stride(d))
        }
        spread(freeDims.toList, basePos)
      }
      loads
    }
    def imbalance(loads: Array[Long]): Double =
      loads.max / (loads.sum.toDouble / loads.length)

    // fixture-drift guard: with nothing pinned, the load-minimizing grid
    // over the same roles splits the hub's dimensions and concentrates its
    // edges. Sized at 64 cells (4x4x4): at the route's 32 cells the
    // unpinned grid gives one hub dimension only 2 slices, which caps the
    // concentration near 2x
    val unpinned = graft.plans.Leapfrog.autoShares(
      r.relVars.map(vs => (vs, 1L)), classVars, 64)
    assert(imbalance(cellLoads(unpinned)) > 2.0,
      f"fixture drift: unpinned grid $unpinned imbalance " +
        f"${imbalance(cellLoads(unpinned))}%.2f not > 2x")
    // the pinned grid still spreads over the free variables…
    val freeCells = classVars.filterNot(r.pinnedVars.contains)
      .map(v => r.shares.getOrElse(v, 1)).product
    assert(freeCells > 1, s"no cells spent on the free variables: ${r.shares}")
    // …and keeps max per-cell input within 2x of the mean
    val loads = cellLoads(r.shares)
    val mean = loads.sum.toDouble / loads.length
    assert(loads.max <= 2 * mean + 1,
      f"per-cell imbalance: max ${loads.max} vs mean $mean%.0f " +
        s"(shares ${r.shares}, pinned ${r.pinnedVars})")
  }

  test("bag semantics: non-distinct leaves route with exact multiplicities") {
    // an edge MULTISET: every edge once, a third of them twice more, a
    // seventh three more times — the bag triangle count multiplies the
    // per-edge duplicities, which the routed plan must reproduce exactly
    // (distinct core + count variables + ReplicateRows)
    val base = denseGraph(150, 20)
    base.union(base.where(pmod(col("src") + col("dst"), lit(3)) === 0))
      .union(base.where(pmod(col("src") + col("dst"), lit(3)) === 0))
      .union(base.where(pmod(col("src") + col("dst"), lit(7)) === 0))
      .union(base.where(pmod(col("src") + col("dst"), lit(7)) === 0))
      .union(base.where(pmod(col("src") + col("dst"), lit(7)) === 0))
      .createOrReplaceTempView("wcoj_bag")
    val sql = """
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM wcoj_bag e1
      JOIN wcoj_bag e2 ON e2.src = e1.dst
      JOIN wcoj_bag e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val df = spark.sql(sql)
    assert(routed(df), "bag cyclic core was not routed:\n" +
      df.queryExecution.optimizedPlan.treeString)
    assert(WcojJoinRule.lastRoute.exists(_.nrRelations == 3),
      s"stats: ${WcojJoinRule.lastRoute}")
    val got = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val want = try spark.sql(sql).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(got == want)

    // mixed core: one provably-distinct leaf joins as-is, the two bag
    // leaves carry counts — multiplicity = 1 x m2 x m3 per binding
    val mixed = """
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM (SELECT DISTINCT src, dst FROM wcoj_bag) e1
      JOIN wcoj_bag e2 ON e2.src = e1.dst
      JOIN wcoj_bag e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""
    WcojJoinRule.clearStats()
    val mdf = spark.sql(mixed)
    assert(routed(mdf), "mixed distinct+bag core was not routed")
    val mGot = mdf.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.wcoj.enabled", "false")
    val mWant = try spark.sql(mixed).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.graft.wcoj.enabled", "true")
    assert(mGot == mWant)
  }

  test("densified fixture: the routed plan shuffles >=2x fewer records than binary") {
    // n=2500 at 15% density: ~470k edges, ~9M triangles; every binary plan
    // shuffles the full wedge set (~1e8 rows), the HyperCube replicates
    // only the inputs. The assertion is on shuffle RECORDS — deterministic
    // and load-independent (the wall-clock ratio, ~3.5-7.5x on this host,
    // is reported as info but can flake on a contended CI box).
    denseGraph(2500, 15).createOrReplaceTempView("wcoj_g")
    val sql = """
      WITH e AS (SELECT DISTINCT src, dst FROM wcoj_g)
      SELECT count(*) AS tri FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    // listener events drain asynchronously: poll until the counter is
    // stable for two consecutive reads before trusting it
    def settled(): Long = {
      var prev = -1L
      var cur = shuffled.get
      while (cur != prev) { Thread.sleep(250); prev = cur; cur = shuffled.get }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    def measured(enabled: Boolean): (Long, Long, Double) = {
      spark.conf.set("spark.graft.wcoj.enabled", enabled.toString)
      shuffled.set(0)
      val t0 = System.nanoTime()
      val c = spark.sql(sql).collect()(0).getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      (c, settled(), secs)
    }
    try {
      val (cw, sw, tw) = measured(enabled = true)
      val (cb, sb, tb) = measured(enabled = false)
      assert(cw == cb, s"counts diverge: $cw vs $cb")
      assert(sw * 2 <= sb,
        s"WCOJ shuffled $sw records, not >=2x fewer than binary's $sb")
      info(f"dense triangle: wcoj $sw records/$tw%.2f s, " +
        f"binary $sb records/$tb%.2f s (${sb.toDouble / sw}%.1fx records, " +
        f"${tb / tw}%.1fx wall)")
    } finally {
      spark.conf.set("spark.graft.wcoj.enabled", "true")
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
