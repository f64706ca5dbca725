package graft.queries

import graft.Db
import graft.streaming.HarnessClock.FeedOps
import graft.streaming.MicroBatchGate
import graft.operators.{Audit, Hll, Incremental, Privacy, Profile, Robust,
  Stats, Temporal}
import org.apache.spark.sql.functions._

/** Round-12 governance/quality gates: privacy release audits
  * (k-anonymity, l-diversity, the generalization curve), functional-
  * dependency profiling, CEP-style ordered-funnel counting, robust
  * trimmed/winsorized means, and EWMA series baselines. As everywhere:
  * exact integer counting, sorted folds for the order-dependent floats,
  * single final divisions — the DuckDB oracle replays each bit-for-bit.
  */
object GovernanceOps {

  val all: Seq[Q] = Seq(

    // --- q263: k-anonymity + l-diversity release audit (Privacy.
    //     kAnonymity) — customer under QI (nation, market segment),
    //     sensitive = account-balance band: how many rows an attacker
    //     who knows the QI tuple can narrow below k=10 candidates, and
    //     how many QI groups are too homogeneous (< 5 distinct bands)
    //     to publish. One QI-keyed hash aggregation + one reduce.
    Q("q263_k_anonymity", Some("""
      WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n,
          count(DISTINCT floor(c_acctbal / 1000)) AS nd
        FROM customer GROUP BY 1, 2)
      SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_groups,
        min(n) AS min_group_n,
        count(*) FILTER (WHERE n < 10) AS groups_below_k,
        CAST(coalesce(sum(n) FILTER (WHERE n < 10), 0) AS BIGINT)
          AS rows_below_k,
        round(CAST(coalesce(sum(n) FILTER (WHERE n < 10), 0) AS DOUBLE)
          / CAST(sum(n) AS BIGINT), 6) AS pct_below_k,
        count(*) FILTER (WHERE nd < 5) AS groups_below_l
      FROM g"""),
      (s, dir) => Privacy.kAnonymity(Db(s, dir).customer,
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000), k = 10, l = 5)),

    // --- q264: generalization curve (Privacy.generalizationCurve) —
    //     documents under a 4-rung coarsening ladder, k=25: the
    //     re-identifiable mass at each detail level, i.e. how much
    //     quasi-identifier precision must be dropped before release.
    //     Four independent one-aggregation jobs over the same scan.
    Q("q264_generalization_curve", Some {
      val rungs = Seq(
        (0, "lang+source+len100", "lang, source, n_chars // 100"),
        (1, "lang+source", "lang, source"),
        (2, "lang", "lang"),
        (3, "any", ""))
      rungs.map { case (i, name, cols) =>
        val grouped =
          if (cols.isEmpty) "SELECT count(*) AS n FROM documents"
          else s"SELECT count(*) AS n FROM documents GROUP BY $cols"
        s"""SELECT $i AS rung, '$name' AS rung_name,
          count(*) AS n_groups, min(n) AS min_group_n,
          CAST(coalesce(sum(n) FILTER (WHERE n < 25), 0) AS BIGINT)
            AS rows_below_k,
          round(CAST(coalesce(sum(n) FILTER (WHERE n < 25), 0) AS DOUBLE)
            / CAST(sum(n) AS BIGINT), 6) AS pct_below_k
        FROM ($grouped)"""
      }.mkString("\n      UNION ALL\n      ") + "\n      ORDER BY rung"
    },
      (s, dir) => Privacy.generalizationCurve(Db(s, dir).documents,
        Seq(
          ("lang+source+len100",
            Seq(col("lang"), col("source"), expr("n_chars div 100"))),
          ("lang+source", Seq(col("lang"), col("source"))),
          ("lang", Seq(col("lang"))),
          ("any", Seq.empty)),
        k = 25).orderBy("rung")),

    // --- q265: functional-dependency audit (Profile.fdAudit) — exact
    //     g3 error (minimum row deletions for the FD to hold) for three
    //     candidate dependencies on orders; o_orderkey → o_custkey must
    //     hold (key), the two o_custkey dependencies must not. Two hash
    //     aggregations + one reduce per pair, map-side partial.
    Q("q265_fd_audit", Some(
      Seq(("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority"),
        ("o_custkey", "o_orderstatus")).map { case (lhs, rhs) =>
        s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs,
          CAST(sum(tot) AS BIGINT) AS n_rows, count(*) AS n_lhs,
          CAST(sum(tot - keep) AS BIGINT) AS violating_rows,
          CAST(sum(tot - keep) AS BIGINT) = 0 AS holds
        FROM (SELECT $lhs AS l, sum(c) AS tot, max(c) AS keep
              FROM (SELECT $lhs, $rhs, count(*) AS c FROM orders
                    GROUP BY 1, 2)
              GROUP BY 1)"""
      }.mkString("\n      UNION ALL\n      ") + "\n      ORDER BY lhs, rhs"),
      (s, dir) => Profile.fdAudit(Db(s, dir).orders,
          Seq(("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_custkey", "o_orderstatus")))
        .orderBy("lhs", "rhs")),

    // --- q266: ordered-subsequence funnel (Temporal.sequenceFunnel) —
    //     per user, greedy non-overlapping completions of
    //     view → click → purchase over the time-ordered event stream
    //     (MATCH_RECOGNIZE skip-to-next-row semantics), counted by a
    //     single packed-BIGINT fold the oracle's list_reduce replays.
    Q("q266_sequence_funnel", Some("""
      WITH u AS (SELECT user_id, count(*) AS n_events,
          -- steps pre-encoded as their pattern INDEX so the fold is a
          -- homogeneous BIGINT list (DuckDB 1.0 list_reduce has no
          -- separate init value — the prepended 0 is the initial
          -- accumulator): "x = a % 3" == "this event is the step the
          -- pointer wants"; non-pattern events encode -1, never matched
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(
              list_sort(list({t: epoch_us(ts), i: event_id, c: CAST(
                CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                  WHEN 'purchase' THEN 2 ELSE -1 END AS BIGINT)})),
              z -> z.c)),
            (a, x) -> a + CASE WHEN x = a % 3 THEN 1 ELSE 0 END) AS acc
        FROM events GROUP BY 1)
      SELECT user_id, n_events, acc // 3 AS completions, acc % 3 AS stage
      FROM u ORDER BY 1"""),
      (s, dir) => Temporal.sequenceFunnel(Db(s, dir).events,
          Seq("user_id"), unix_micros(col("ts").cast("timestamp")),
          col("event_id"), col("event_type"),
          Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // --- q267: trimmed + winsorized means (Robust.winsorizedStats) —
    //     order totals in exact cents per priority class, 5% off each
    //     tail by integer rank: the whale-resistant revenue location
    //     estimate. One rank window + one hash aggregation; DECIMAL(38)
    //     sums, two final double divisions.
    Q("q267_winsorized_stats", Some("""
      WITH v AS (SELECT o_orderpriority AS pri,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
          o_orderkey AS k FROM orders),
      r AS (SELECT pri, v,
          count(*) OVER (PARTITION BY pri) AS n,
          row_number() OVER (PARTITION BY pri ORDER BY v, k) AS rn
        FROM v),
      s AS (SELECT pri, max(n) AS n, max((n * 50) // 1000) AS t,
          max(CASE WHEN rn = (n * 50) // 1000 + 1 THEN v END) AS lo_cut,
          max(CASE WHEN rn = n - (n * 50) // 1000 THEN v END) AS hi_cut,
          sum(CASE WHEN rn > (n * 50) // 1000
                    AND rn <= n - (n * 50) // 1000
              THEN CAST(v AS HUGEINT) END) AS mid
        FROM r GROUP BY 1)
      SELECT pri AS o_orderpriority, n, CAST(2 * t AS BIGINT) AS n_trimmed,
        lo_cut, hi_cut,
        round(CAST(mid AS DOUBLE) / (n - 2 * t), 6) AS trimmed_mean,
        round(CAST(mid + CAST(t AS HUGEINT) * (lo_cut + hi_cut) AS DOUBLE)
          / n, 6) AS winsorized_mean
      FROM s ORDER BY 1"""),
      (s, dir) => Robust.winsorizedStats(Db(s, dir).orders,
          Seq("o_orderpriority"),
          (Db.dec(col("o_totalprice")) * 100).cast("long"),
          col("o_orderkey"), pctPermille = 50)
        .orderBy("o_orderpriority")),

    // --- q268: EWMA series baseline (Stats.ewmaBaseline) — the
    //     exponentially-smoothed daily event count per type (α = 1/8:
    //     exact halving steps), the anomaly-alert baseline. Recursive by
    //     definition, so it runs as one sorted-array fold per type —
    //     fixed float order, replayed term-for-term by list_reduce.
    Q("q268_ewma_baseline", Some("""
      WITH d AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          count(*) AS c
        FROM events GROUP BY 1, 2)
      SELECT event_type, count(*) AS n_points,
        round(list_reduce(list_prepend(CAST('NaN' AS DOUBLE),
          list_transform(list_sort(list({o: day, x: CAST(c AS DOUBLE)})),
            z -> z.x)),
          (a, x) -> CASE WHEN isnan(a) THEN x
                    ELSE a + (x - a) / 8.0 END), 6) AS ewma
      FROM d GROUP BY 1 ORDER BY 1"""),
      (s, dir) => Stats.ewmaBaseline(
          Db(s, dir).events.groupBy(col("event_type"),
              date_format(col("ts"), "yyyy-MM-dd").as("day"))
            .agg(count(lit(1)).as("c")),
          Seq("event_type"), col("day"), col("c"), alphaDen = 8)
        .orderBy("event_type")),

    // --- q269: sequence-completeness audit (Audit.sequenceGaps) — are
    //     per-key integer sequences contiguous (dropped offsets?
    //     duplicated line numbers?): lineitem line numbers must audit
    //     clean; per-user global event ids are legitimately gappy. One
    //     (key, value) aggregation + one lag window per audit,
    //     summarized to a row per audit.
    Q("q269_sequence_gaps", Some {
      def summary(detail: String) = s"""
        SELECT count(*) AS n_keys,
          count(*) FILTER (WHERE missing > 0) AS keys_incomplete,
          count(*) FILTER (WHERE dupes > 0) AS keys_duped,
          CAST(sum(missing) AS BIGINT) AS total_missing,
          CAST(sum(dupes) AS BIGINT) AS total_dupes,
          max(max_gap) AS max_gap
        FROM (
          SELECT k, max(s) - min(s) + 1 - count(*) AS missing,
            CAST(sum(c) AS BIGINT) - count(*) AS dupes,
            coalesce(max(gap), 0) AS max_gap
          FROM (
            SELECT k, s, c, s - lag(s) OVER (PARTITION BY k ORDER BY s) - 1
              AS gap
            FROM (SELECT k, s, count(*) AS c FROM ($detail) GROUP BY 1, 2))
          GROUP BY 1)"""
      val line = summary(
        "SELECT l_orderkey AS k, l_linenumber AS s FROM lineitem")
      val ev = summary(
        "SELECT user_id AS k, event_id AS s FROM events")
      s"""SELECT 'lineitem_lineno' AS audit, * FROM ($line)
      UNION ALL
      SELECT 'events_eventid_by_user', * FROM ($ev)
      ORDER BY audit"""
    },
      (s, dir) => {
        val db = Db(s, dir)
        def summarize(tag: String,
                      d: org.apache.spark.sql.DataFrame) = d.agg(
          count(lit(1)).as("n_keys"),
          count(when(col("missing") > 0, 1)).as("keys_incomplete"),
          count(when(col("dupes") > 0, 1)).as("keys_duped"),
          sum(col("missing")).as("total_missing"),
          sum(col("dupes")).as("total_dupes"),
          max(col("max_gap")).as("max_gap"))
          .select(lit(tag).as("audit") +: Seq("n_keys", "keys_incomplete",
            "keys_duped", "total_missing", "total_dupes", "max_gap")
            .map(col): _*)
        summarize("lineitem_lineno", Audit.sequenceGaps(db.lineitem,
            Seq("l_orderkey"), col("l_linenumber")))
          .unionAll(summarize("events_eventid_by_user",
            Audit.sequenceGaps(db.events, Seq("user_id"), col("event_id"))))
          .orderBy("audit")
      }),

    // --- q270: algebraic rollup merge (operators.Incremental + Hll) —
    //     hourly partial states (count/sum/min/max of exact cents + HLL
    //     user registers) merged to per-type totals WITHOUT re-reading
    //     raw data; the oracle aggregates raw DIRECTLY, so a pass proves
    //     the merge lossless — the incremental-view-maintenance
    //     contract that makes 100 TB rollups read state, not the lake.
    Q("q270_rollup_merge", Some("""
      WITH v AS (SELECT event_type, user_id,
          CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      st AS (SELECT event_type, count(*) AS n,
          CAST(sum(cents) AS BIGINT) AS sum_v,
          min(cents) AS min_v, max(cents) AS max_v
        FROM v GROUP BY 1),
      h AS (SELECT event_type,
          ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
            AS h
        FROM v),
      reg AS (SELECT event_type, h % 64 AS bucket,
          max(CASE WHEN h // 64 = 0 THEN 55
                   ELSE 55 - length(bin(h // 64)) END) AS register
        FROM h GROUP BY 1, 2),
      sums AS (SELECT event_type,
          CAST(sum(CAST(1 AS BIGINT) << CAST(greatest(0, 54 - register)
              AS INT)) +
            (64 - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
            AS sum_scaled
        FROM reg GROUP BY 1)
      SELECT st.event_type, n, sum_v, min_v, max_v, sum_scaled,
        round(0.709e0 * 4096e0 * 18014398509481984e0 / sum_scaled, 4)
          AS users_est
      FROM st JOIN sums ON sums.event_type = st.event_type
      ORDER BY 1"""),
      (s, dir) => {
        val ev = Db(s, dir).events.select(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("user_id"))
        // the ONLY raw scans: hourly states + hourly sketches
        val hourly = Incremental.aggState(ev, Seq("event_type", "hr"),
          col("cents"))
        val hregs = Hll.registers(ev, Seq("event_type", "hr"),
          col("user_id"), m = 64)
        // everything below reads partial state only
        val merged = Incremental.mergeState(hourly, Seq("event_type"))
        val est = Hll.estimate(
          Hll.merge(hregs.drop("hr"), Seq("event_type")),
          Seq("event_type"), m = 64)
        merged.join(est, "event_type")
          .select(col("event_type"), col("n"), col("sum_v"), col("min_v"),
            col("max_v"), col("sum_scaled"),
            round(col("estimate"), 4).as("users_est"))
          .orderBy("event_type")
      }),

    // --- q271: double-event detector (Audit.doubleEvents) — same user,
    //     same dollar amount, within 6 hours: the double-charge audit.
    //     Candidates meet ONLY inside their (user, amount, time-bucket)
    //     cell (left side exploded to self+next bucket — a pure equi
    //     shuffle, cost follows true collision mass, never n²).
    Q("q271_double_events", Some("""
      WITH e AS (SELECT user_id, CAST(floor(value) AS BIGINT) AS amount,
          epoch_us(ts) AS t, event_id FROM events)
      SELECT a.user_id, a.amount, a.event_id AS a_id, b.event_id AS b_id,
        b.t - a.t AS gap_micros
      FROM e a JOIN e b ON a.user_id = b.user_id AND a.amount = b.amount
        AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
        AND b.t - a.t <= 21600000000
      ORDER BY 1, 3, 4"""),
      (s, dir) => Audit.doubleEvents(Db(s, dir).events, Seq("user_id"),
          unix_micros(col("ts").cast("timestamp")), col("event_id"),
          floor(col("value")).cast("long"), windowMicros = 21600000000L)
        .orderBy("user_id", "a_id", "b_id")),

    // --- q272: declarative data-contract validation (Audit.
    //     expectations) — five named row-level rules over lineitem
    //     counted in ONE scan (one conditional-count aggregate per rule
    //     inside the same map-side-partial aggregation); a rule a row
    //     can't evaluate (NULL) counts as violated, never silently
    //     passed. The ingest gate every contract-checked pipeline runs.
    Q("q272_expectations", Some {
      val rules = Seq(
        ("qty_positive", "l_quantity > 0"),
        ("discount_le_8pct", "l_discount <= 0.08"),
        ("flag_domain", "l_returnflag IN ('A', 'N', 'R')"),
        ("price_covers_qty", "l_extendedprice >= l_quantity"),
        ("flag_present", "l_returnflag IS NOT NULL"))
      val counts = rules.zipWithIndex.map { case ((_, pred), i) =>
        s"count(*) FILTER (WHERE NOT coalesce($pred, false)) AS v$i"
      }.mkString(", ")
      val rows = rules.zipWithIndex.map { case ((name, _), i) =>
        s"""SELECT $i AS rule_no, '$name' AS rule, n_rows,
          v$i AS n_violations,
          CASE WHEN n_rows > 0
            THEN round(CAST(v$i AS DOUBLE) / n_rows, 6) END
            AS pct_violations,
          v$i = 0 AND n_rows > 0 AS passed FROM c"""
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH c AS (SELECT count(*) AS n_rows, $counts FROM lineitem)
      $rows
      ORDER BY rule_no"""
    },
      (s, dir) => Audit.expectations(Db(s, dir).lineitem, Seq(
          ("qty_positive", col("l_quantity") > 0),
          ("discount_le_8pct", col("l_discount") <= 0.08),
          ("flag_domain", col("l_returnflag").isin("A", "N", "R")),
          ("price_covers_qty",
            col("l_extendedprice") >= col("l_quantity")),
          ("flag_present", col("l_returnflag").isNotNull)))
        .orderBy("rule_no")),

    // --- q276: STREAMING data-contract expectations — the same
    //     Audit.expectations aggregation run incrementally over three
    //     micro-batches (complete mode): violation counters accumulate
    //     per batch with map-side partial merge, so the live ingest gate
    //     is the same code as the batch audit. Oracle = the batch
    //     equivalent over the streamed subset.
    Q("q276_stream_expectations", Some("""
      WITH c AS (SELECT count(*) AS n_rows,
        count(*) FILTER (WHERE NOT coalesce(l_quantity > 0, false)) AS v0,
        count(*) FILTER (WHERE NOT coalesce(l_discount <= 0.08, false))
          AS v1,
        count(*) FILTER (WHERE NOT coalesce(l_returnflag IN ('A', 'N', 'R'),
          false)) AS v2
        FROM lineitem WHERE l_orderkey % 3 = 0)
      SELECT 0 AS rule_no, 'qty_positive' AS rule, n_rows,
        v0 AS n_violations,
        CASE WHEN n_rows > 0 THEN round(CAST(v0 AS DOUBLE) / n_rows, 6) END
          AS pct_violations,
        v0 = 0 AND n_rows > 0 AS passed FROM c
      UNION ALL
      SELECT 1, 'discount_le_8pct', n_rows, v1,
        CASE WHEN n_rows > 0 THEN round(CAST(v1 AS DOUBLE) / n_rows, 6) END,
        v1 = 0 AND n_rows > 0 FROM c
      UNION ALL
      SELECT 2, 'flag_domain', n_rows, v2,
        CASE WHEN n_rows > 0 THEN round(CAST(v2 AS DOUBLE) / n_rows, 6) END,
        v2 = 0 AND n_rows > 0 FROM c
      ORDER BY rule_no"""),
      (s, dir) => {
        import s.implicits._
        val live = Db(s, dir).lineitem.where(col("l_orderkey") % 3 === 0)
          .select(col("l_quantity"), col("l_discount"), col("l_returnflag"))
          .as[(Double, Double, String)].collectFeed()
        MicroBatchGate.run(s, "q276", MicroBatchGate.split(live, 3), "complete")(
            input => Audit.expectations(
              input.toDF("l_quantity", "l_discount", "l_returnflag"),
              Seq(
                ("qty_positive", col("l_quantity") > 0),
                ("discount_le_8pct", col("l_discount") <= 0.08),
                ("flag_domain", col("l_returnflag").isin("A", "N", "R")))))
          .orderBy("rule_no")
      }),

    // --- q282: sample-ratio-mismatch audit (Stats.srmChi2) — is the
    //     80/10/10 md5 train/val/test assignment actually 80/10/10?
    //     χ² over the declared allocation, float terms summed as a
    //     name-sorted fold, undeclared splits raise. The first health
    //     check of every experiment/split pipeline.
    Q("q282_srm_check", Some("""
      WITH s AS (SELECT
          CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                    ::BIGINT % 100 < 80 THEN 'train'
               WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                    ::BIGINT % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM documents),
      c AS (SELECT split, count(*) AS c FROM s GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      j AS (SELECT split, c, n,
          CASE split WHEN 'train' THEN 800 WHEN 'val' THEN 100
            ELSE 100 END AS p
        FROM c CROSS JOIN tot)
      SELECT max(n) AS n, count(*) AS k,
        round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(list_sort(list({s: split, c: c, p: p, n: n})),
            z -> (CAST(z.c AS DOUBLE) - CAST(z.n * z.p AS DOUBLE) / 1000) *
                 (CAST(z.c AS DOUBLE) - CAST(z.n * z.p AS DOUBLE) / 1000) /
                 (CAST(z.n * z.p AS DOUBLE) / 1000))),
          (a, t) -> a + t), 6) AS chi2
      FROM j"""),
      (s, dir) => graft.operators.Stats.srmChi2(
        graft.operators.Corpus.hashSplit(Db(s, dir).documents,
          col("doc_id")),
        col("split"),
        Seq(("train", 800), ("val", 100), ("test", 100)))),

    // --- q285: MERGEABLE quantile sketch states (Robust.binState →
    //     mergeBinState → quantilesFromState) — the q270 incremental-
    //     view-maintenance pattern applied to percentiles: hourly bin
    //     states are the ONLY raw scan; the per-type p50/p90/p99 report
    //     reads ≤ nBins state rows per group. Bin counts are exactly
    //     algebraic (sum-merge), so the oracle scanning RAW through the
    //     same bin arithmetic proves the merge lossless bit-for-bit.
    Q("q285_quantiles_from_state", Some {
      val qs = Seq(500, 900, 990)
      val mins = qs.zipWithIndex.map { case (q, i) =>
        s"min(CASE WHEN cum >= (nn * $q + 999) // 1000 THEN b END) AS qb$i"
      }.mkString(",\n          ")
      val rows = qs.zipWithIndex.map { case (q, i) =>
        s"""SELECT g AS event_type, $q AS q_permille, n,
          0 + (qb$i * 51200 + 1023) // 1024 AS q_value FROM q"""
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH v AS (SELECT event_type AS g,
          CAST(floor(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
      b AS (SELECT g, (least(51199, greatest(0, v - 0)) * 1024) // 51200
            AS b, count(*) AS n
        FROM v GROUP BY 1, 2),
      c AS (SELECT g, b, n,
          sum(n) OVER (PARTITION BY g ORDER BY b ROWS UNBOUNDED PRECEDING)
            AS cum,
          sum(n) OVER (PARTITION BY g) AS nn
        FROM b),
      q AS (SELECT g, CAST(max(nn) AS BIGINT) AS n,
          $mins
        FROM c GROUP BY 1)
      $rows
      ORDER BY event_type, q_permille"""
    },
      (s, dir) => {
        import graft.operators.Robust
        val ev = Db(s, dir).events.select(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
          floor(col("value") * 100).cast("long").as("cents"))
        // the ONLY raw scan: hourly bin states
        val hourly = Robust.binState(ev, Seq("event_type", "hr"),
          col("cents"), loCents = 0L, hiCents = 51200L, nBins = 1024)
        // everything below reads partial state only
        val merged = Robust.mergeBinState(hourly.drop("hr"),
          Seq("event_type"))
        Robust.quantilesFromState(merged, Seq("event_type"),
            loCents = 0L, hiCents = 51200L, nBins = 1024,
            qsPermille = Seq(500, 900, 990))
          .orderBy("event_type", "q_permille")
      })
  )
}
