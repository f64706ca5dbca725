package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.Db
import graft.GraftSession.withConf
import graft.streaming.HarnessClock.FeedOps
import graft.Db.{dec, moneySum}
import graft.operators.SkewJoin
import graft.streaming.{EventStreams, MicroBatchGate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle gates for operators that previously had spec-only coverage: the
  * CSV source (custom separator + null representation), the salted skew
  * join (must be output-identical to the plain join), and the
  * mapGroupsWithState running-totals stream (final state must equal the
  * batch aggregate).
  */
object OperatorGates {

  private val csvPath = s"$scratchRoot/csv/nation_pipe.csv"
  private[queries] val counter = new AtomicInteger(0)

  /** Deterministic pipe-separated CSV derived from the (SF-invariant) nation
    * table: 25 rows, 'NA' as the null token for every third balance. Written
    * driver-side so the DuckDB oracle reads the byte-identical file. */
  private def writeCsv(rows: Seq[(Long, String, Long)]): Unit = {
    val lines = rows.sortBy(_._1).map { case (k, name, rk) =>
      val bal = if (k % 3 == 0) "NA" else s"${k * 100}.25"
      s"$k|$name|$rk|$bal"
    }
    val p = java.nio.file.Paths.get(csvPath)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private val jsonPath = s"$scratchRoot/json/documents"

  // one-time fixture builds per (process, sf dir): fixture I/O must never sit
  // inside a timed query body (Bench calls ensureFixtures in warmup; a cold
  // Verify run builds them lazily on first touch)
  private val fixtureDir = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def once(key: String, dir: String)(build: => Unit): Unit =
    if (fixtureDir.get(key) != dir) fixtureDir.synchronized {
      if (fixtureDir.get(key) != dir) { build; fixtureDir.put(key, dir) }
    }

  private def ensureJson(s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    once("json", dir) {
      graft.sources.Json.save(
        Db(s, dir).documents.select("doc_id", "lang", "text"), jsonPath)
    }

  private def ensureCsv(s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    once("csv", dir) {
      writeCsv(Db(s, dir).nation
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq)
    }

  /** Build every driver-side fixture the gates read — called from Bench
    * warmup so q75/q88 time the source read, not the fixture write. */
  def ensureFixtures(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    ensureJson(s, dir); ensureCsv(s, dir)
  }

  /** The runtime-switch gates' session: planning-time UCT off and
    * broadcasts off, so every join shuffles and the order the switch
    * starts from is the authored one. */
  private val switchGateConf = Seq(
    "spark.graft.uct.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  val all: Seq[Q] = Seq(
    // --- q88: JSONL source roundtrip — write the documents as
    //     newline-delimited JSON, read back with an explicit schema,
    //     aggregate; oracle reads the same files via DuckDB read_json
    Q("q88_json_source", Some(s"""
      SELECT lang, count(*) AS n,
             CAST(sum(length(text)) AS BIGINT) AS sum_len,
             min(doc_id) AS min_id
      FROM read_json('$jsonPath/*.json', format='newline_delimited',
        columns={'doc_id':'BIGINT','lang':'VARCHAR','text':'VARCHAR'})
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        ensureJson(s, dir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("text", StringType)))
        graft.sources.Json.load(s, jsonPath, schema)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).as("sum_len"),
            min(col("doc_id")).as("min_id"))
          .orderBy("lang")
      }),

    // --- q89: typed UDAF (Aggregator[IN,BUF,OUT]) — weighted average with
    //     exact-decimal accumulation, so the oracle reproduces it bit-exactly
    Q("q89_weighted_avg_udaf", Some(s"""
      SELECT l_returnflag,
        CAST(sum(${DEC("l_extendedprice")} * CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE)
          / CAST(sum(CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS wavg_price
      FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val wavg = udaf(graft.functions.WeightedAvg)
        Db(s, dir).lineitem
          .groupBy("l_returnflag")
          .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("wavg_price"))
          .orderBy("l_returnflag")
      }),

    // --- q90: composite corpus-cleaning pipeline (exact dedup winners +
    //     quality threshold) — the end-to-end operator composition
    Q("q90_corpus_clean", Some("""
      WITH w AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
      q AS (SELECT doc_id,
          least(1.0, len(string_split(text,' ')) / 100.0)
            * (len(list_distinct(string_split(text,' '))) / len(string_split(text,' '))) AS quality
        FROM w)
      SELECT doc_id, round(quality, 4) AS quality
      FROM q WHERE quality >= 0.2 ORDER BY doc_id"""),
      (s, dir) => graft.operators.Corpus
        .clean(Db(s, dir).documents, "doc_id", "text", 0.2)
        .select(col("doc_id"), round(col("quality"), 4).as("quality"))
        .orderBy("doc_id")),

    // --- q75: CSV load with explicit schema, custom separator, null token
    //     (the reference's LoadCSV semantics: /root/reference/src/diskio/
    //     LoadCSV.java:96-185), aggregated so null handling is visible
    Q("q75_csv_source", Some(s"""
      SELECT n_regionkey, count(*) AS n, count(bal) AS n_bal,
             CAST(sum(bal) AS DOUBLE) AS sum_bal
      FROM read_csv('$csvPath', delim='|', header=false, nullstr='NA',
        columns={'n_nationkey':'BIGINT','n_name':'VARCHAR',
                 'n_regionkey':'BIGINT','bal':'DECIMAL(12,2)'})
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        ensureCsv(s, dir)
        val schema = StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_name", StringType),
          StructField("n_regionkey", LongType),
          StructField("bal", DecimalType(12, 2))))
        graft.sources.Csv.load(s, csvPath, schema,
            separator = "|", nullRepresentation = "NA")
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n"), count(col("bal")).as("n_bal"),
            sum(col("bal")).cast("double").as("sum_bal"))
          .orderBy("n_regionkey")
      }),

    // --- q76: salted skew join — oracle is the PLAIN join (salting must not
    //     change results, only spread the hot build keys)
    Q("q76_skew_salted_join", Some(s"""
      SELECT s_nationkey, count(*) AS n, ${MSUM(DEC("l_extendedprice"))} AS revenue
      FROM lineitem, supplier WHERE l_suppkey = s_suppkey
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val d = Db(s, dir)
        SkewJoin.saltedEquiJoin(d.lineitem, d.supplier, "l_suppkey", "s_suppkey")
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            moneySum(dec(col("l_extendedprice"))).as("revenue"))
          .orderBy("s_nationkey")
      }),

    // --- q79: stream-stream interval join (clicks ⋈ purchases of the same
    //     user within 1 hour), batch twin as the oracle; the incremental
    //     micro-batch form is asserted equal in StreamingSpec
    Q("q79_stream_interval_join", Some("""
      SELECT c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts,
             CAST(floor(p.value * 100) AS BIGINT) AS purchase_cents
      FROM events c, events p
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        AND c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY 1, 2, 3"""),
      (s, dir) => {
        val ev = Db(s, dir).events
        EventStreams.clickPurchaseJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"))
          .select(col("user_id"), col("click_ts"), col("purchase_ts"),
            floor(col("purchase_value") * 100).cast("long").as("purchase_cents"))
          .orderBy("user_id", "click_ts", "purchase_ts")
      }),

    // --- q77: mapGroupsWithState running totals, run INCREMENTALLY through a
    //     MicroBatchGate in three batches; the final state per user must equal
    //     the batch aggregate (integer cents: exact, order-independent)
    Q("q77_stream_running_totals", Some("""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events WHERE event_id < 20000 GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        import s.implicits._
        // deterministic bounded slice: the gate exercises incremental state,
        // not bulk throughput, so don't stream the whole fact at high SF
        val rows = Db(s, dir).events
          .filter(col("event_id") < 20000)
          .select(col("user_id"),
            floor(col("value") * 100).cast("long").as("cents"))
          .as[(Long, Long)].collectFeed()
        // update-mode sink keeps every state revision; the final state per
        // user is the one with the highest event count
        MicroBatchGate.run(s, "q77", MicroBatchGate.split(rows, 3), "update")(
            EventStreams.runningUserCents(_).toDF())
          .groupBy("user_id")
          .agg(max(struct(col("n_events"), col("total_cents"))).as("m"))
          .select(col("user_id"), col("m.n_events").as("n_events"),
            col("m.total_cents").as("total_cents"))
          .orderBy("user_id")
      }),

    // --- q115: console-driven DDL → SELECT INTO → query, the full facade
    //     path (SURVEY §2.1 DDL / INTO / console print, previously
    //     spec-only): a temp view is CREATEd through Console.eval, a join
    //     over it is materialized under a relation name (the reference's
    //     SELECT … INTO target-relation plumbing, /root/reference/src/
    //     execution/Master.java:46-60), and the verified result reads the
    //     MATERIALIZED relation. Oracle = the equivalent plain SQL.
    Q("q115_console_ddl_into", Some(s"""
      WITH eu AS (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1)
      SELECT n_name, count(*) AS n,
             CAST(sum(${DEC("s_acctbal")}) AS DOUBLE) AS sum_bal
      FROM eu, supplier WHERE n_nationkey = s_nationkey
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val view = s"graft_q115_eu_${counter.incrementAndGet()}"
        val target = s"graft_q115_bal_${counter.incrementAndGet()}"
        // DDL through the console surface; a failed statement prints
        // "error: …", which must fail the gate, not pass silently
        val out = graft.Console.eval(s, dir,
          s"CREATE OR REPLACE TEMPORARY VIEW $view AS " +
            s"SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1;")
        require(!out.startsWith("error:"), s"console DDL failed: $out")
        // SELECT … INTO: materialize the join under a relation name
        graft.GraftSession.materialize(
          graft.GraftSession.execute(s, dir,
            s"""SELECT n_name, count(*) AS n,
                       CAST(sum(${DEC("s_acctbal")}) AS DOUBLE) AS sum_bal
                FROM $view, supplier WHERE n_nationkey = s_nationkey
                GROUP BY 1"""), target)
        // the verified frame reads the materialized relation (console print
        // path over the same relation is exercised too)
        val printed = graft.Console.eval(s, dir,
          s"SELECT * FROM $target ORDER BY n_name;")
        require(!printed.startsWith("error:"), s"console SELECT failed: $printed")
        s.table(target).orderBy("n_name")
      }),

    // --- q116: mid-query order switching, end-to-end — the engine's analog
    //     of the reference's ProgressTracker-driven order changes
    //     (/root/reference/src/joining/progress/ProgressTracker.java). The
    //     join is AUTHORED with the fan-out lineitem⋈lineitem self-join
    //     FIRST (an 18M-row intermediate at sf0.1) and the selective part
    //     filter last, planning-time UCT disabled and broadcasts off, so
    //     every join shuffles; when the leaf stages materialize, AQE
    //     re-optimizes and RuntimeOrderSwitchRule rebuilds the remaining
    //     prefix from the OBSERVED sizes — filtered part first, shrinking
    //     the intermediate ~50× (before/after timings in docs/PERF.md). The
    //     gate requires the switch to actually fire during execution — and
    //     the result to match the plain-SQL oracle exactly.
    Q("q116_runtime_switch", Some("""
      SELECT p_brand, count(*) AS n
      FROM part, lineitem l1, lineitem l2
      WHERE p_partkey = l1.l_partkey AND l1.l_partkey = l2.l_partkey
        AND p_size = 1
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val d = Db(s, dir)
        val l1 = d.lineitem.select(col("l_partkey"))
        val l2 = d.lineitem.select(col("l_partkey").as("l_partkey2"))
        val p = d.part.filter(col("p_size") === 1)
          .select(col("p_partkey"), col("p_brand"))
        graft.plans.RuntimeOrderSwitchRule.clearLog()
        // execute INSIDE withConf (localCheckpoint is eager): AQE reads the
        // conf at execution, and the result frame the driver writes must
        // not replan under restored settings
        val result = withConf(s, switchGateConf: _*)(
          l1.join(l2, col("l_partkey") === col("l_partkey2"))
            .join(p, col("l_partkey") === col("p_partkey"))
            .groupBy("p_brand").agg(count(lit(1)).as("n"))
            .orderBy("p_brand")
            .localCheckpoint(true))
        require(graft.plans.RuntimeOrderSwitchRule.recentSwitches.nonEmpty,
          "runtime order switch did not fire on the misordered self-join")
        result
      }),

    // --- q154: runtime order switching at JOB width — q116 proves the
    //     mechanism on an authored 3-relation misorder; this gate runs the
    //     8-relation double snowflake (q80's shape) authored FACT-FIRST with
    //     planning-time UCT off and broadcasts off, so the decision to
    //     rebuild the remaining prefix comes from the OBSERVED sizes of
    //     materialized AQE stages, not from plan construction. The gate
    //     requires the switch to fire over >= 8 leaves AND the result to
    //     match the plain-SQL oracle exactly.
    Q("q154_runtime_switch_wide", Some(s"""
      SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
             count(*) AS n, ${MSUM(DEC("l_extendedprice"))} AS revenue
      FROM lineitem, orders, customer, nation cn, region cr,
           supplier, nation sn, region sr
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = cn.n_nationkey AND cn.n_regionkey = cr.r_regionkey
        AND l_suppkey = s_suppkey AND s_nationkey = sn.n_nationkey
        AND sn.n_regionkey = sr.r_regionkey
        AND cr.r_name = 'AMERICA' AND sr.r_name = 'ASIA'
        AND o_orderpriority = '2-HIGH'
      GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val d = Db(s, dir)
        def pfx(df: org.apache.spark.sql.DataFrame, p: String) =
          df.select(df.columns.toIndexedSeq.map(c => col(c).as(p + c)): _*)
        val cn = pfx(d.nation, "cn_")
        val sn = pfx(d.nation, "sn_")
        val cr = pfx(d.region, "cr_")
        val sr = pfx(d.region, "sr_")
        def attempt() = {
          graft.plans.RuntimeOrderSwitchRule.clearLog()
          d.lineitem
              .join(d.orders.filter(col("o_orderpriority") === "2-HIGH"),
                col("l_orderkey") === col("o_orderkey"))
              .join(d.customer, col("o_custkey") === col("c_custkey"))
              .join(cn, col("c_nationkey") === col("cn_n_nationkey"))
              .join(cr.filter(col("cr_r_name") === "AMERICA"),
                col("cn_n_regionkey") === col("cr_r_regionkey"))
              .join(d.supplier, col("l_suppkey") === col("s_suppkey"))
              .join(sn, col("s_nationkey") === col("sn_n_nationkey"))
              .join(sr.filter(col("sr_r_name") === "ASIA"),
                col("sn_n_regionkey") === col("sr_r_regionkey"))
              .groupBy(col("cn_n_name").as("cust_nation"),
                col("sn_n_name").as("supp_nation"))
              .agg(count(lit(1)).as("n"),
                moneySum(dec(col("l_extendedprice"))).as("revenue"))
              .orderBy("cust_nation", "supp_nation")
              .localCheckpoint(true)
        }
        // The gate requires the switch to have rebuilt a >=7-leaf prefix
        // from observed sizes (fact demoted, filtered region promoted to
        // front). What looked like a stage-completion race (r13–r15: whole
        // retry windows lost under load, 14/20 stress failures warm) was
        // really AQE's DynamicJoinSelection stamping internal
        // no-broadcast-hash hints onto joins during re-optimization, which
        // JoinGraph.extract treated as opaque barriers — the visible graph
        // width depended on WHICH joins were annotated before the rule
        // first ran. With those hints made reorderable (JoinGraph
        // .reorderableHint, round 16) the first re-optimization sees the
        // full 8-leaf graph and fires at width 8 deterministically (20/20
        // stress executions, zero re-executions). The retry loop is kept
        // at a 2-attempt bound as a belt against an unforeseen
        // environmental loss — it no longer papers over a known race.
        withConf(s, switchGateConf: _*) {
          var result: org.apache.spark.sql.DataFrame = null
          var tries = 0
          while ({
            result = attempt()
            tries += 1
            val ok = graft.plans.RuntimeOrderSwitchRule.recentSwitches
              .exists(_.nrRelations >= 7)
            // 2 attempts (was 5 in r15 when the loss was believed to be an
            // environmental race): with the hint fix the first execution
            // fires at full width deterministically; a single retry remains
            // as the belt. The assertion itself is unchanged — the property
            // under test still must hold at ≥7 of 8 leaves.
            require(ok || tries < 2,
              "runtime order switch did not fire at JOB width in " +
                s"$tries attempts: ${graft.plans.RuntimeOrderSwitchRule.recentSwitches}")
            // a discarded attempt leaves its localCheckpoint blocks in
            // executor storage; free them before re-trying
            if (!ok) result.queryExecution.analyzed.foreach {
              case l: org.apache.spark.sql.execution.LogicalRDD =>
                l.rdd.unpersist(false)
              case _ => ()
            }
            !ok
          }) ()
          result
        }
      }),

    // --- q155: worst-case-optimal triangle join — Leapfrog Triejoin over a
    //     HyperCube (Shares) shuffle, the reference's disabled LFTJ
    //     subsystem re-expressed for a cluster (see plans/Leapfrog.scala).
    //     The edge set is derived portably from lineitem (mod-211 node ids,
    //     canonical src<dst, distinct), so the DuckDB oracle recomputes the
    //     identical triangle census with three binary self-joins — the plan
    //     shape whose intermediate exceeds the AGM bound that the WCOJ
    //     operator never materializes.
    Q("q155_wcoj_triangle", Some("""
      WITH e AS (
        SELECT DISTINCT
          LEAST(l_partkey % 211, l_suppkey % 211) AS src,
          GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
      )
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        // materialize the edge derivation once: Leapfrog consumes the frame
        // through three separate lineages (one per relation role), which
        // would otherwise recompute the distinct() shuffle three times
        val edges = triangleEdges(Db(s, dir).lineitem).localCheckpoint(false)
        graft.plans.Leapfrog.join(s,
            Seq((edges.toDF("a", "b"), Seq("a", "b")),
              (edges.toDF("b", "c"), Seq("b", "c")),
              (edges.toDF("a", "c"), Seq("a", "c"))),
            Seq("a", "b", "c"),
            Map("a" -> 4, "b" -> 4, "c" -> 2))
          .groupBy("a").agg(count(lit(1)).as("tri_cnt"))
          .orderBy("a")
      }),

    // --- q158: ascending-4-cycle census through the DynamicLFTJ path —
    //     same WCOJ operator, but every grid cell derives its OWN
    //     elimination order from observed per-cell cardinalities (ref
    //     DynamicLFTJ.java:1-71), over the canonical (src<dst) edge set so
    //     every undirected 4-cycle is counted once at its ascending
    //     traversal a<b<c<d (the symmetrized closed-walk variant explodes
    //     to ~4e8 bindings at sf0.1 — fine to stream, wrong for a bench
    //     gate). The grid itself comes from Leapfrog.autoShares — the
    //     load-minimizing Shares sizing — fed with the observed edge
    //     count. Oracle = the equivalent chain of binary self-joins.
    Q("q158_wcoj_dynamic", Some("""
      WITH u AS (
        SELECT DISTINCT
          LEAST(l_partkey % 101, l_suppkey % 101) AS src,
          GREATEST(l_partkey % 101, l_suppkey % 101) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 101) <> (l_suppkey % 101)
      )
      SELECT e1.src AS a, count(*) AS cycle_cnt
      FROM u e1
      JOIN u e2 ON e2.src = e1.dst
      JOIN u e3 ON e3.src = e2.dst
      JOIN u e4 ON e4.src = e1.src AND e4.dst = e3.dst
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val l = Db(s, dir).lineitem
        val p = (col("l_partkey") % 101).cast("long")
        val q = (col("l_suppkey") % 101).cast("long")
        val edges = l.where(col("l_quantity") <= 2 && p =!= q)
          .select(least(p, q).as("src"), greatest(p, q).as("dst"))
          .distinct().localCheckpoint(false)
        val m = edges.count()
        val rels = Seq(
          (edges.toDF("a", "b"), Seq("a", "b")),
          (edges.toDF("b", "c"), Seq("b", "c")),
          (edges.toDF("c", "d"), Seq("c", "d")),
          (edges.toDF("a", "d"), Seq("a", "d")))
        val shares = graft.plans.Leapfrog.autoShares(
          rels.map { case (_, vs) => (vs, m) }, Seq("a", "b", "c", "d"), 16)
        graft.plans.Leapfrog.join(s, rels, Seq("a", "b", "c", "d"),
            shares, dynamicOrder = true)
          .groupBy("a").agg(count(lit(1)).as("cycle_cnt"))
          .orderBy("a")
      }),

    // --- q165: WCOJ over NON-integral variables — the same triangle census
    //     on STRING node ids, through Leapfrog.joinTyped's dictionary
    //     encode -> Long-domain HyperCube LFTJ -> decode wrapper (distinct
    //     values get distributed surrogate codes via zipWithUniqueId; no
    //     hashing, so no collision risk). Oracle: identical string-keyed
    //     binary self-joins in DuckDB.
    Q("q165_wcoj_typed", Some("""
      WITH e AS (
        SELECT DISTINCT
          'n' || LEAST(l_partkey % 211, l_suppkey % 211) AS src,
          'n' || GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
      )
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val edges = triangleEdges(Db(s, dir).lineitem)
          .select(concat(lit("n"), col("src")).as("src"),
            concat(lit("n"), col("dst")).as("dst"))
          .localCheckpoint(false)
        graft.plans.Leapfrog.joinTyped(s,
            Seq((edges.toDF("a", "b"), Seq("a", "b")),
              (edges.toDF("b", "c"), Seq("b", "c")),
              (edges.toDF("a", "c"), Seq("a", "c"))),
            Seq("a", "b", "c"),
            Map("a" -> 2, "b" -> 2, "c" -> 2))
          .groupBy("a").agg(count(lit(1)).as("tri_cnt"))
          .orderBy("a")
      }),

    // --- q166: STREAMING triangle detection (GraphStreams.triangles — two
    //     cascaded stream-stream joins with watermark + event-time range
    //     constraints, the streaming face of the WCOJ gates). Batch twin as
    //     the oracle, q79-style: the same transformation over the same
    //     timestamped edge set, where the 1-hour join window genuinely
    //     prunes (edge times spread over 3 hours by portable arithmetic);
    //     the incremental micro-batch form — triangles closing across
    //     micro-batches — is asserted in StreamingSpec.
    Q("q166_stream_triangles", Some("""
      WITH e AS (
        SELECT DISTINCT
          LEAST(l_partkey % 211, l_suppkey % 211) AS src,
          GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
      ), t AS (
        SELECT src, dst, (src * 211 + dst) % 10800 AS sec FROM e
      )
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM t e1
      JOIN t e2 ON e2.src = e1.dst AND abs(e2.sec - e1.sec) <= 3600
      JOIN t e3 ON e3.src = e1.src AND e3.dst = e2.dst
              AND abs(e3.sec - e1.sec) <= 3600
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        // materialized once: triangles() consumes the frame as three join
        // legs (same reason q155/q165 checkpoint their edge sets)
        val edges = triangleEdges(Db(s, dir).lineitem).localCheckpoint(false)
          .withColumn("ts", timestamp_seconds(
            lit(1704067200L) + (col("src") * 211 + col("dst")) % 10800))
        graft.streaming.GraphStreams.triangles(edges)
          .groupBy("a").agg(count(lit(1)).as("tri_cnt"))
          .orderBy("a")
      }),

    // --- q167: the WCOJ as a PLANNER decision — the same triangle census as
    //     q155, but fed through GraftSession.execute as SQL TEXT, the path a
    //     real user takes. plans.WcojJoinRule detects the cyclic equi-join
    //     core (GYO-irreducible variable hypergraph over provably-distinct
    //     leaves) and routes it through Leapfrog.joinTyped with autoShares —
    //     the join-implementation selection point the reference centralizes
    //     in JoinProcessor.java:65-68 (where upstream leaves LFTJ disabled).
    //     The gate asserts the route actually fired AND the optimized plan
    //     carries the Leapfrog scan in place of the binary joins; parity +
    //     the >=2x win over the binary plan on a densified fixture are
    //     asserted in WcojRouteSpec.
    Q("q167_wcoj_sql_routed", Some("""
      WITH e AS (
        SELECT DISTINCT
          LEAST(l_partkey % 211, l_suppkey % 211) AS src,
          GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
      )
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        graft.plans.WcojJoinRule.clearStats()
        val df = graft.GraftSession.execute(s, dir, """
          WITH e AS (
            SELECT DISTINCT
              LEAST(l_partkey % 211, l_suppkey % 211) AS src,
              GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
            FROM lineitem
            WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
          )
          SELECT e1.src AS a, count(*) AS tri_cnt
          FROM e e1
          JOIN e e2 ON e2.src = e1.dst
          JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
          GROUP BY 1 ORDER BY 1""")
        val optimized = df.queryExecution.optimizedPlan
        val routed = optimized.exists {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.output.exists(_.name.startsWith("__wcoj_"))
          case _ => false
        }
        require(routed, "optimized plan lacks the Leapfrog scan:\n" +
          optimized.treeString)
        require(graft.plans.WcojJoinRule.lastRoute.exists(r =>
            r.nrRelations == 3 && r.nrVars == 3),
          s"WCOJ route did not fire: ${graft.plans.WcojJoinRule.lastRoute}")
        df
      }),

    // --- q168: cyclic CORE + acyclic EAR through the SQL path — the
    //     triangle census of q167 joined out to a payload-carrying
    //     dimension. WcojJoinRule must route ONLY the 3-leaf cycle through
    //     Leapfrog (GYO sheds the dimension as an ear) and fold the
    //     dimension back as an ordinary binary join — the mixed plan shape
    //     a real analytics query over a cyclic motif produces.
    Q("q168_wcoj_core_plus_ear", Some("""
      WITH e AS (
        SELECT DISTINCT
          LEAST(l_partkey % 211, l_suppkey % 211) AS src,
          GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
      ), d AS (
        SELECT DISTINCT l_partkey % 211 AS node, (l_partkey % 211) % 7 AS grp
        FROM lineitem
      )
      SELECT d.grp AS g, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      JOIN d ON d.node = e1.src
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        graft.plans.WcojJoinRule.clearStats()
        val df = graft.GraftSession.execute(s, dir, """
          WITH e AS (
            SELECT DISTINCT
              LEAST(l_partkey % 211, l_suppkey % 211) AS src,
              GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
            FROM lineitem
            WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
          ), d AS (
            SELECT DISTINCT l_partkey % 211 AS node, (l_partkey % 211) % 7 AS grp
            FROM lineitem
          )
          SELECT d.grp AS g, count(*) AS tri_cnt
          FROM e e1
          JOIN e e2 ON e2.src = e1.dst
          JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
          JOIN d ON d.node = e1.src
          GROUP BY 1 ORDER BY 1""")
        val optimized = df.queryExecution.optimizedPlan
        val routed = optimized.exists {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.output.exists(_.name.startsWith("__wcoj_"))
          case _ => false
        }
        require(routed, "optimized plan lacks the Leapfrog scan:\n" +
          optimized.treeString)
        require(graft.plans.WcojJoinRule.lastRoute.exists(r =>
            r.nrRelations == 3 && r.nrGraphLeaves == 4),
          s"expected a 3-of-4-leaf core route: ${graft.plans.WcojJoinRule.lastRoute}")
        df
      }),

    // --- q169: BAG-semantics WCOJ routing — the q167 triangle census over
    //     the edge MULTISET (no DISTINCT: each (src,dst) residue pair
    //     occurs once per qualifying lineitem). The router wraps each
    //     non-distinct leaf GROUP BY * + count, runs the distinct core
    //     through Leapfrog with the counts as functionally-dependent
    //     trailing variables, and replicates bindings by the product of
    //     counts (ReplicateRows) — so the bag triangle count, duplicities
    //     multiplied through, matches DuckDB's plain bag joins exactly.
    Q("q169_wcoj_bag_routed", Some("""
      WITH e AS (
        SELECT
          LEAST(l_partkey % 211, l_suppkey % 211) AS src,
          GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
      )
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        graft.plans.WcojJoinRule.clearStats()
        val df = graft.GraftSession.execute(s, dir, """
          WITH e AS (
            SELECT
              LEAST(l_partkey % 211, l_suppkey % 211) AS src,
              GREATEST(l_partkey % 211, l_suppkey % 211) AS dst
            FROM lineitem
            WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
          )
          SELECT e1.src AS a, count(*) AS tri_cnt
          FROM e e1
          JOIN e e2 ON e2.src = e1.dst
          JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
          GROUP BY 1 ORDER BY 1""")
        val optimized = df.queryExecution.optimizedPlan
        val routed = optimized.exists {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.output.exists(_.name.startsWith("__wcoj_"))
          case _ => false
        }
        require(routed, "optimized plan lacks the Leapfrog scan:\n" +
          optimized.treeString)
        require(graft.plans.WcojJoinRule.lastRoute.exists(_.nrRelations == 3),
          s"WCOJ route did not fire: ${graft.plans.WcojJoinRule.lastRoute}")
        df
      }),

    // --- q170: PAYLOAD-carrying cyclic core through the SQL path — the
    //     weighted triangle census (every edge carries w, the aggregate
    //     sums all three roles' weights) that round 7 still sent to the
    //     binary plan because Leapfrog emits only join variables. The
    //     router now LATE-MATERIALIZES: each role's DISTINCT (src, dst)
    //     projection joins the core, and the full weighted edge set is
    //     equi-joined back onto the binding stream afterwards — restoring
    //     both w and the bag multiplicity (the edge multiset has no
    //     DISTINCT). The Spark analog of the reference's tuple-index
    //     design (JoinResult row indices + Materialize re-attach,
    //     /root/reference/src/operators/Materialize.java:95-146).
    Q("q170_wcoj_payload_routed", Some("""
      WITH e AS (
        SELECT
          LEAST(l_partkey % 211, l_suppkey % 211) AS src,
          GREATEST(l_partkey % 211, l_suppkey % 211) AS dst,
          CAST(l_linenumber AS BIGINT) AS w
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
      )
      SELECT e1.src AS a, CAST(sum(e1.w + e2.w + e3.w) AS BIGINT) AS wsum, count(*) AS tri_cnt
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        graft.plans.WcojJoinRule.clearStats()
        val df = graft.GraftSession.execute(s, dir, """
          WITH e AS (
            SELECT
              LEAST(l_partkey % 211, l_suppkey % 211) AS src,
              GREATEST(l_partkey % 211, l_suppkey % 211) AS dst,
              CAST(l_linenumber AS BIGINT) AS w
            FROM lineitem
            WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)
          )
          SELECT e1.src AS a, CAST(sum(e1.w + e2.w + e3.w) AS BIGINT) AS wsum, count(*) AS tri_cnt
          FROM e e1
          JOIN e e2 ON e2.src = e1.dst
          JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
          GROUP BY 1 ORDER BY 1""")
        val optimized = df.queryExecution.optimizedPlan
        val routed = optimized.exists {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.output.exists(_.name.startsWith("__wcoj_"))
          case _ => false
        }
        require(routed, "optimized plan lacks the Leapfrog scan:\n" +
          optimized.treeString)
        require(graft.plans.WcojJoinRule.lastRoute.exists(r =>
            r.nrRelations == 3 && r.payloadLeaves == 3),
          s"expected a 3-payload-leaf route: ${graft.plans.WcojJoinRule.lastRoute}")
        df
      }),

    // --- q171: SKEW-PINNED routing through the SQL path. The edge set is
    //     a hub-and-ring graph derived from lineitem where node 0 owns
    //     ~40% of all DISTINCT edges at every scale factor (the hub
    //     spokes, ring, and chord families all saturate together, so the
    //     ratio is SF-stable) — the one documented HyperCube weakness: a
    //     heavy VALUE hashes to a single slice of its grid dimension. The
    //     router's bounded sample probe must detect the hub on the
    //     src-side variables, pin them to share 1, and spend the grid on
    //     the dimensions that actually spread load; the DuckDB oracle
    //     checks the routed result exactly.
    Q("q171_wcoj_skew_routed", Some(SkewTriangleSql),
      (s, dir) => {
        graft.plans.WcojJoinRule.clearStats()
        val df = graft.GraftSession.execute(s, dir, SkewTriangleSql)
        val optimized = df.queryExecution.optimizedPlan
        val routed = optimized.exists {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.output.exists(_.name.startsWith("__wcoj_"))
          case _ => false
        }
        require(routed, "optimized plan lacks the Leapfrog scan:\n" +
          optimized.treeString)
        val route = graft.plans.WcojJoinRule.lastRoute
        require(route.exists(_.pinnedVars.nonEmpty),
          s"skew probe pinned nothing on the hub fixture: $route")
        require(route.get.pinnedVars.forall(v => route.get.shares(v) == 1),
          s"pinned variables must carry share 1: $route")
        df
      }),

    // --- q175: fixed-iteration PageRank (operators/Graph.scala) over the
    //     directed mod-211 lineitem graph — bulk-iterative compute as a
    //     finite declarative join chain, in EXACT fixed-point integer
    //     arithmetic so the result is partition-order-independent and the
    //     oracle replays all three rounds term for term (BIGINT sums cast
    //     back from DuckDB's HUGEINT promotion — the q170 lesson).
    Q("q175_pagerank", Some(PageRankSql),
      (s, dir) => {
        val p = (col("l_partkey") % 211).cast("long")
        val q = (col("l_suppkey") % 211).cast("long")
        val edges = Db(s, dir).lineitem
          .where(col("l_quantity") <= 5 && p =!= q)
          .select(p.as("src"), q.as("dst"))
        graft.operators.Graph.pageRankFixed(edges, iters = 3)
          .select(col("node"), col("rank").as("pr"))
          .orderBy("node")
      }),

    // --- q182: neighborhood-overlap link features — per edge, the number
    //     of common neighbors and the neighborhood-union size (the
    //     Jaccard numerator/denominator of link prediction), over the
    //     bounded mod-211 undirected graph. Shape: adjacency self-joins on
    //     node keys + one (src,dst) aggregation — all hash-partitioned; the
    //     ratio stays EXACT integers (cross-engine float division on the
    //     two columns is left to the caller).
    Q("q182_neighbor_overlap", Some("""
      WITH e AS (
        SELECT DISTINCT least(l_partkey % 211, l_suppkey % 211) AS src,
                        greatest(l_partkey % 211, l_suppkey % 211) AS dst
        FROM lineitem
        WHERE l_quantity <= 2 AND (l_partkey % 211) <> (l_suppkey % 211)),
      adj AS (SELECT src AS u, dst AS w FROM e
              UNION ALL SELECT dst, src FROM e),
      deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1),
      com AS (
        SELECT e.src, e.dst, count(*) AS common
        FROM e JOIN adj a ON a.u = e.src JOIN adj b ON b.u = e.dst
        WHERE a.w = b.w GROUP BY 1, 2)
      SELECT e.src, e.dst,
        coalesce(c.common, 0) AS common,
        da.d + db.d - coalesce(c.common, 0) AS uni
      FROM e
      JOIN deg da ON da.u = e.src
      JOIN deg db ON db.u = e.dst
      LEFT JOIN com c ON c.src = e.src AND c.dst = e.dst
      ORDER BY e.src, e.dst"""),
      (s, dir) => graft.operators.Graph.neighborOverlap(
          triangleEdges(Db(s, dir).lineitem).localCheckpoint(false))
        .orderBy("src", "dst")),

    // --- q185: portable HyperLogLog registers (operators/Hll) — the
    //     approximate-distinct sketch as a mergeable (group, bucket,
    //     register) TABLE, replayed register-for-register by DuckDB from
    //     the same md5-derived 60-bit hash (vs q73, which can only bound
    //     the built-in opaque sketch). m = 64 buckets over distinct
    //     l_partkey per return flag.
    Q("q185_hll_registers", Some("""
      WITH h AS (
        SELECT l_returnflag,
          ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM lineitem),
      b AS (SELECT l_returnflag, h % 64 AS bucket, h // 64 AS w FROM h)
      SELECT l_returnflag, bucket,
        max(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END) AS register
      FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => graft.operators.Hll.registers(
          Db(s, dir).lineitem, Seq("l_returnflag"), col("l_partkey"), m = 64)
        .orderBy("l_returnflag", "bucket")),

    // --- q178: fixed-round k-core peeling (operators/Graph.kCoreFixed)
    //     over a sparse mod-997 undirected lineitem graph — per-round
    //     degree aggregation + survivor semi-joins, integer-only, so the
    //     oracle unrolls all three rounds as plain CTEs.
    Q("q178_kcore", Some(KCoreSql),
      (s, dir) => {
        val p = (col("l_partkey") % 997).cast("long")
        val q = (col("l_suppkey") % 997).cast("long")
        val edges = Db(s, dir).lineitem
          .where(col("l_quantity") <= 2 && p =!= q)
          .select(least(p, q).as("src"), greatest(p, q).as("dst"))
        graft.operators.Graph.kCoreFixed(edges, k = 3, rounds = 3)
          .orderBy("node")
      })
  )

  /** Three unrolled peel rounds mirroring Graph.kCoreFixed: degrees over
    * the surviving edge set, drop nodes under k=3, restrict edges to
    * survivors; output = degrees in the final restricted graph. */
  private def KCoreSql: String = """
    WITH e0 AS (
      SELECT DISTINCT least(l_partkey % 997, l_suppkey % 997) AS src,
                      greatest(l_partkey % 997, l_suppkey % 997) AS dst
      FROM lineitem
      WHERE l_quantity <= 2 AND (l_partkey % 997) <> (l_suppkey % 997)),
    d0 AS (SELECT node, count(*) AS deg FROM (
        SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0) u GROUP BY 1),
    k0 AS (SELECT node FROM d0 WHERE deg >= 3),
    e1 AS (SELECT e.src, e.dst FROM e0 e
           JOIN k0 a ON a.node = e.src JOIN k0 b ON b.node = e.dst),
    d1 AS (SELECT node, count(*) AS deg FROM (
        SELECT src AS node FROM e1 UNION ALL SELECT dst FROM e1) u GROUP BY 1),
    k1 AS (SELECT node FROM d1 WHERE deg >= 3),
    e2 AS (SELECT e.src, e.dst FROM e1 e
           JOIN k1 a ON a.node = e.src JOIN k1 b ON b.node = e.dst),
    d2 AS (SELECT node, count(*) AS deg FROM (
        SELECT src AS node FROM e2 UNION ALL SELECT dst FROM e2) u GROUP BY 1),
    k2 AS (SELECT node FROM d2 WHERE deg >= 3),
    e3 AS (SELECT e.src, e.dst FROM e2 e
           JOIN k2 a ON a.node = e.src JOIN k2 b ON b.node = e.dst)
    SELECT node, count(*) AS deg FROM (
        SELECT src AS node FROM e3 UNION ALL SELECT dst FROM e3) u
    GROUP BY 1 ORDER BY node"""

  /** Three unrolled PageRank rounds in integer fixed-point, mirroring
    * Graph.pageRankFixed: r0 = scale div N, each round adds the teleport
    * term (15·r0) div 100 to (85·Σ in-contributions) div 100. */
  private def PageRankSql: String = """
    WITH e AS (
      SELECT DISTINCT (l_partkey % 211) AS src, (l_suppkey % 211) AS dst
      FROM lineitem
      WHERE l_quantity <= 5 AND (l_partkey % 211) <> (l_suppkey % 211)),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    od AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
    p AS (SELECT 1000000000000 // count(*) AS r0 FROM nodes),
    r1 AS (
      SELECT n.node,
        (SELECT (15 * r0) // 100 FROM p)
          + (85 * coalesce(c.s, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
          CAST(sum((SELECT r0 FROM p) // od.d) AS BIGINT) AS s
        FROM e JOIN od ON od.src = e.src GROUP BY 1) c ON c.node = n.node),
    r2 AS (
      SELECT n.node,
        (SELECT (15 * r0) // 100 FROM p)
          + (85 * coalesce(c.s, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(r1.rank // od.d) AS BIGINT) AS s
        FROM e JOIN r1 ON r1.node = e.src
               JOIN od ON od.src = e.src GROUP BY 1) c ON c.node = n.node),
    r3 AS (
      SELECT n.node,
        (SELECT (15 * r0) // 100 FROM p)
          + (85 * coalesce(c.s, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(r2.rank // od.d) AS BIGINT) AS s
        FROM e JOIN r2 ON r2.node = e.src
               JOIN od ON od.src = e.src GROUP BY 1) c ON c.node = n.node)
    SELECT node, rank AS pr FROM r3 ORDER BY node"""

  /** Hub-and-ring triangle census: spokes (0, v+1) for every node, ring
    * (v+1, v+2), chords (v+1, v+3) for even v — hub triangles close as
    * (0, v+1, v+2) on consecutive nodes, ring triangles as
    * (v+1, v+2, v+3) under the chord. */
  private def SkewTriangleSql: String = """
    WITH nodes AS (
      SELECT DISTINCT l_orderkey % 4001 AS v FROM lineitem WHERE l_quantity <= 4
    ),
    e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT 0 AS src, v + 1 AS dst FROM nodes
        UNION ALL
        SELECT v + 1 AS src, v + 2 AS dst FROM nodes
        UNION ALL
        SELECT v + 1 AS src, v + 3 AS dst FROM nodes WHERE v % 2 = 0
      ) u
    )
    SELECT e1.src AS a, count(*) AS tri_cnt
    FROM e e1
    JOIN e e2 ON e2.src = e1.dst
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    GROUP BY 1 ORDER BY 1"""

  /** Canonical undirected edge set for the WCOJ gates: node ids are mod-211
    * residues of (partkey, suppkey) on low-quantity lineitems — portable
    * arithmetic both engines compute bit-identically, density bounded by
    * the 211-node universe at every SF. */
  private[queries] def triangleEdges(lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = (col("l_partkey") % 211).cast("long")
    val q = (col("l_suppkey") % 211).cast("long")
    lineitem.where(col("l_quantity") <= 2 && p =!= q)
      .select(least(p, q).as("src"), greatest(p, q).as("dst"))
      .distinct()
  }
}
