package graft.queries

import graft.Db
import graft.streaming.HarnessClock.FeedOps
import graft.streaming.MicroBatchGate
import graft.operators.{Corpus, Graph, Hll, Regress, Stats, Temporal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 structure/statistics gates: local clustering coefficient,
  * stratified weighted sampling, HLL set-algebra overlap estimation,
  * keyed snapshot diff, and per-group exact-arithmetic OLS trend fitting.
  * Counts and sufficient statistics are exact integers everywhere; each
  * gate's only floats are final single divisions, replayed verbatim by
  * the DuckDB oracle.
  */
object StatsOps {

  /** The q178 sparse undirected graph: mod-997 lineitem endpoints
    * (oracle side; [[edgesDf]] is the Spark twin — edit BOTH). */
  private def edgesSql = """
      SELECT DISTINCT least(l_partkey % 997, l_suppkey % 997) AS a,
                      greatest(l_partkey % 997, l_suppkey % 997) AS b
      FROM lineitem WHERE l_quantity <= 2
        AND (l_partkey % 997) <> (l_suppkey % 997)"""

  private def edgesDf(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame = {
    val p = (col("l_partkey") % 997).cast("long")
    val q = (col("l_suppkey") % 997).cast("long")
    Db(s, dir).lineitem
      .where(col("l_quantity") <= 2 && p =!= q)
      .select(least(p, q).as("src"), greatest(p, q).as("dst")).distinct()
  }

  val all: Seq[Q] = Seq(

    // --- q215: local clustering coefficient (Graph.localClusteringCoeff)
    //     — per-node triangle density on the q178 graph: exact wedge/
    //     triangle counts (hash-keyed wedge enumeration, no all-pairs),
    //     one division per node.
    Q("q215_clustering_coeff", Some(s"""
      WITH e AS ($edgesSql),
      adj AS (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e),
      deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
      wedge AS (SELECT x.v, x.w AS p, y.w AS q FROM adj x JOIN adj y
                ON x.v = y.v AND x.w < y.w),
      tri AS (SELECT w.v, count(*) AS tri FROM wedge w
              JOIN e ON e.a = w.p AND e.b = w.q GROUP BY 1)
      SELECT d.v AS node, d.deg, coalesce(t.tri, 0) AS tri,
        round(CAST(2 * coalesce(t.tri, 0) AS DOUBLE)
          / (d.deg * (d.deg - 1)), 6) AS cc
      FROM deg d LEFT JOIN tri t ON t.v = d.v
      WHERE d.deg >= 2 ORDER BY 1"""),
      (s, dir) => Graph.localClusteringCoeff(edgesDf(s, dir)).orderBy("node")),

    // --- q216: stratified weighted priority sampling — q180's integer
    //     Duffield–Lund–Thorup priorities capped PER SOURCE on the
    //     TopKPerKey bounded-heap operator (q174's shape, weighted by
    //     n_chars): the per-domain quality-weighted subsample of a
    //     pretraining mix. The oracle replays hash, priority, and the
    //     per-stratum rank.
    Q("q216_stratified_priority_sample", Some("""
      WITH p AS (SELECT source, doc_id, n_chars AS weight,
          (n_chars * 1048576) //
            ((('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT // 1048576) + 1)
            AS priority
        FROM documents),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY priority DESC, doc_id) AS rn FROM p)
      SELECT source, doc_id, weight, priority FROM r WHERE rn <= 5
      ORDER BY source, priority DESC, doc_id"""),
      (s, dir) => Corpus.prioritySamplePerKey(Db(s, dir).documents,
          Seq("source"), col("doc_id"), "doc_id", col("n_chars"), n = 5)
        .select("source", "doc_id", "weight", "priority")
        .orderBy(col("source"), col("priority").desc, col("doc_id"))),

    // --- q217: HLL set algebra — distinct-customer overlap between two
    //     order cohorts (1995 vs 2001 buyers) WITHOUT joining the raw
    //     sets: per-side register tables (q185's portable family),
    //     union = bucketwise max-merge, intersection by inclusion-
    //     exclusion on the estimates. sum_scaled stays an exact BIGINT;
    //     each estimate is one alpha·m²·2^K / sum division; n_exact
    //     rides along as the audit column.
    Q("q217_hll_overlap", Some("""
      WITH side AS (
        SELECT 'a' AS side, o_custkey AS k FROM orders
          WHERE year(o_orderdate) = 1995
        UNION ALL
        SELECT 'b', o_custkey FROM orders WHERE year(o_orderdate) = 2001),
      h AS (SELECT side,
          ('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM side),
      reg AS (SELECT side, h % 64 AS bucket,
          max(CASE WHEN h // 64 = 0 THEN 55
                   ELSE 55 - length(bin(h // 64)) END) AS register
        FROM h GROUP BY 1, 2),
      uni AS (SELECT 'union' AS side, bucket, max(register) AS register
              FROM reg GROUP BY 2),
      allreg AS (SELECT * FROM reg UNION ALL SELECT * FROM uni),
      sums AS (SELECT side,
          CAST(sum(CAST(1 AS BIGINT) << CAST(greatest(0, 54 - register)
              AS INT)) +
            (64 - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
            AS sum_scaled
        FROM allreg GROUP BY 1),
      est AS (SELECT side, sum_scaled,
          0.709e0 * 4096e0 * 18014398509481984e0 / sum_scaled AS est
        FROM sums),
      ex AS (SELECT side, count(DISTINCT k) AS n_exact FROM side GROUP BY 1
             UNION ALL
             SELECT 'union', count(DISTINCT k) FROM side),
      rows3 AS (SELECT e.side, e.sum_scaled, round(e.est, 4) AS estimate,
                  x.n_exact
                FROM est e JOIN ex x ON x.side = e.side),
      inter AS (SELECT 'inter' AS side, CAST(NULL AS BIGINT) AS sum_scaled,
          round((SELECT est FROM est WHERE side = 'a') +
                (SELECT est FROM est WHERE side = 'b') -
                (SELECT est FROM est WHERE side = 'union'), 4) AS estimate,
          (SELECT n_exact FROM ex WHERE side = 'a') +
          (SELECT n_exact FROM ex WHERE side = 'b') -
          (SELECT n_exact FROM ex WHERE side = 'union') AS n_exact)
      SELECT * FROM rows3 UNION ALL SELECT * FROM inter ORDER BY side"""),
      (s, dir) => {
        val orders = Db(s, dir).orders
        def cohort(tag: String, yr: Int) = orders
          .where(year(col("o_orderdate")) === yr)
          .select(lit(tag).as("side"), col("o_custkey").as("k"))
        val side = cohort("a", 1995).unionAll(cohort("b", 2001))
        val reg = Hll.registers(side, Seq("side"), col("k"), m = 64)
        val uni = Hll.merge(reg.drop("side"), Seq())
          .withColumn("side", lit("union"))
        val est = Hll.estimate(reg.unionByName(uni), Seq("side"), m = 64)
        val ex = side.groupBy("side").agg(countDistinct("k").as("n_exact"))
          .unionAll(side.select("k").distinct()
            .agg(count(lit(1)).as("n_exact")).select(lit("union").as("side"),
              col("n_exact")))
        val joined = est.join(ex, Seq("side"))
        val rows3 = joined
          .select(col("side"), col("sum_scaled"),
            round(col("estimate"), 4).as("estimate"), col("n_exact"))
        // inclusion–exclusion row from a single pivot-style 1-row aggregate
        // (never a crossJoin chain — plan-hygiene clean)
        def slot(t: String, c: String) = max(when(col("side") === t, col(c)))
        val inter = joined.agg(
            slot("a", "estimate").as("ea"), slot("b", "estimate").as("eb"),
            slot("union", "estimate").as("eu"),
            slot("a", "n_exact").as("xa"), slot("b", "n_exact").as("xb"),
            slot("union", "n_exact").as("xu"))
          .select(lit("inter").as("side"),
            lit(null).cast("long").as("sum_scaled"),
            round(col("ea") + col("eb") - col("eu"), 4).as("estimate"),
            (col("xa") + col("xb") - col("xu")).as("n_exact"))
        rows3.unionByName(inter).orderBy("side")
      }),

    // --- q218: keyed snapshot diff — CDC-latest purchase value per user
    //     at two cut timestamps, classified added/changed/unchanged by one
    //     full-outer join (Temporal.snapshotDiff); delta mass in exact
    //     decimal. The audit between two materializations of the same
    //     derived table.
    Q("q218_snapshot_diff", Some("""
      WITH sa AS (SELECT user_id, value, row_number() OVER
          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
          AND ts < TIMESTAMP '2024-01-02'),
      a AS (SELECT user_id, value FROM sa WHERE rn = 1),
      sb AS (SELECT user_id, value, row_number() OVER
          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
          AND ts < TIMESTAMP '2024-01-29'),
      b AS (SELECT user_id, value FROM sb WHERE rn = 1),
      d AS (SELECT CASE WHEN a.user_id IS NULL THEN 'added'
                        WHEN b.user_id IS NULL THEN 'removed'
                        WHEN a.value IS DISTINCT FROM b.value THEN 'changed'
                        ELSE 'unchanged' END AS status,
              coalesce(b.value, 0) - coalesce(a.value, 0) AS delta
            FROM a FULL OUTER JOIN b ON a.user_id = b.user_id)
      SELECT status, count(*) AS n,
        CAST(sum(CAST(delta AS DECIMAL(12,2))) AS DOUBLE) AS delta_mass
      FROM d GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val ev = Db(s, dir).events.where(col("event_type") === "purchase")
        def snap(cut: String) = {
          val w = Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)
          ev.where(col("ts") < Db.ts(cut))
            .withColumn("rn", row_number().over(w))
            .where(col("rn") === 1).select("user_id", "value")
        }
        Temporal.snapshotDiff(snap("2024-01-02"), snap("2024-01-29"),
            "user_id", "value")
          .select(col("status"),
            (coalesce(col("new_value"), lit(0.0)) -
              coalesce(col("old_value"), lit(0.0))).as("delta"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            sum(Db.dec(col("delta"))).cast("double").as("delta_mass"))
          .orderBy("status")
      }),

    // --- q219: per-segment OLS trend (Regress.olsByGroup) — value drift
    //     in cents/hour per event type, from five exact-BIGINT sufficient
    //     statistics in ONE aggregation; both coefficients are single
    //     integer-ratio divisions (products in DECIMAL(38,0) — Σy·Σx²
    //     passes 2^63 at cluster row counts).
    Q("q219_group_trend", Some("""
      WITH p AS (SELECT event_type,
          date_diff('hour', TIMESTAMP '2024-01-01', ts) AS x,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        FROM events),
      s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x*y) AS sxy, sum(x*x) AS sxx FROM p GROUP BY 1)
      SELECT event_type, n,
        round(CAST(CAST(n AS DECIMAL(38,0))*sxy - CAST(sx AS DECIMAL(38,0))*sy
            AS DOUBLE) /
          nullif(CAST(CAST(n AS DECIMAL(38,0))*sxx - CAST(sx AS DECIMAL(38,0))*sx
            AS DOUBLE), 0), 6) AS slope,
        round(CAST(CAST(sy AS DECIMAL(38,0))*sxx - CAST(sx AS DECIMAL(38,0))*sxy
            AS DOUBLE) /
          nullif(CAST(CAST(n AS DECIMAL(38,0))*sxx - CAST(sx AS DECIMAL(38,0))*sx
            AS DOUBLE), 0), 6) AS intercept
      FROM s ORDER BY 1"""),
      (s, dir) => Regress.olsByGroup(
          Db(s, dir).events.select(col("event_type"),
            ((unix_micros(col("ts").cast("timestamp")) -
              unix_micros(Db.ts("2024-01-01").cast("timestamp")))
              / lit(3600000000L)).cast("long").as("x"),
            (Db.dec(col("value")) * 100).cast("long").as("y")),
          Seq("event_type"), col("x"), col("y"))
        .orderBy("event_type")),

    // --- q220: PSI distribution drift (Histogram.psi) — per-type value
    //     distributions of the first vs second half of the month over 10
    //     exact-integer cent buckets; PSI summed as a bucket-sorted array
    //     fold (fixed float order), one-sided buckets reported, never an
    //     infinity.
    Q("q220_psi_drift", Some("""
      WITH b AS (SELECT event_type,
          CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS side,
          least(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000, 9)
            AS bucket
        FROM events),
      c AS (SELECT event_type, bucket,
              count(*) FILTER (WHERE side = 'a') AS na,
              count(*) FILTER (WHERE side = 'b') AS nb
            FROM b GROUP BY 1, 2),
      t AS (SELECT event_type, sum(na) AS ta, sum(nb) AS tb FROM c GROUP BY 1),
      term AS (SELECT c.event_type, c.bucket,
          CASE WHEN c.na > 0 AND c.nb > 0 THEN
            (CAST(c.na AS DOUBLE)/t.ta - CAST(c.nb AS DOUBLE)/t.tb) *
            ln((CAST(c.na AS DOUBLE)/t.ta) / (CAST(c.nb AS DOUBLE)/t.tb))
          END AS term
        FROM c JOIN t USING (event_type)),
      agg AS (SELECT event_type,
          count(*) FILTER (WHERE term IS NULL) AS n_onesided,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(
              list_sort(list({b: bucket, t: term}) FILTER (WHERE term IS NOT NULL)),
              x -> x.t)), (a, c2) -> a + c2) AS psi
        FROM term GROUP BY 1)
      SELECT event_type, n_onesided, round(psi, 6) AS psi
      FROM agg ORDER BY 1"""),
      (s, dir) => {
        val counts = Db(s, dir).events
          .select(col("event_type"),
            when(col("ts") < Db.ts("2024-01-16"), "a").otherwise("b").as("side"),
            least((Db.dec(col("value")) * 100).cast("long") / lit(1000L), lit(9L))
              .cast("long").as("bucket"))
          .groupBy("event_type", "bucket")
          .agg(count(when(col("side") === "a", 1)).as("na"),
            count(when(col("side") === "b", 1)).as("nb"))
        graft.operators.Histogram.psi(counts, Seq("event_type"))
          .select(col("event_type"), col("n_onesided"),
            round(col("psi"), 6).as("psi"))
          .orderBy("event_type")
      }),

    // --- q221: connected components (Graph.connectedComponents) over a
    //     block-structured lineitem graph (97 disjoint node-id blocks, so
    //     components are real, not one giant blob) — the guarded-hybrid
    //     min-label machinery behind q91's duplicate clusters surfaced as
    //     the generic graph operator. Output: component size census; the
    //     oracle closes the graph with a recursive CTE.
    Q("q221_connected_components", Some("""
      WITH RECURSIVE e AS (
        SELECT DISTINCT (l_partkey % 97) * 100 + (l_suppkey % 50) AS a,
               (l_partkey % 97) * 100 + 50 + (l_orderkey % 50) AS b
        FROM lineitem WHERE l_quantity <= 2),
      sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT sym.u, reach.lbl FROM sym JOIN reach ON reach.u = sym.v),
      cc AS (SELECT u AS node, min(lbl) AS component FROM reach GROUP BY 1)
      SELECT component, count(*) AS sz FROM cc
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val li = Db(s, dir).lineitem.where(col("l_quantity") <= 2)
        val edges = li.select(
            ((col("l_partkey") % 97) * 100 + (col("l_suppkey") % 50))
              .cast("long").as("src"),
            ((col("l_partkey") % 97) * 100 + 50 + (col("l_orderkey") % 50))
              .cast("long").as("dst"))
          .distinct()
        Graph.connectedComponents(edges)
          .groupBy("component").agg(count(lit(1)).as("sz"))
          .orderBy("component")
      }),

    // --- q222: fixed-round BFS (Graph.bfsFixed) — exact hop distances
    //     from the mod-100 source set on the q178 graph, three bulk-
    //     synchronous rounds (frontier join + min), unrolled by the
    //     oracle round-for-round. The reachability/radius primitive under
    //     graph-data curation.
    Q("q222_bfs_distances", Some(s"""
      WITH e AS ($edgesSql),
      sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      d0 AS (SELECT DISTINCT u AS node, 0 AS dist FROM sym WHERE u % 100 = 0),
      r1 AS (SELECT node, min(dist) AS dist FROM (
          SELECT * FROM d0 UNION ALL
          SELECT sym.v, d0.dist + 1 FROM sym JOIN d0 ON d0.node = sym.u)
        GROUP BY 1),
      r2 AS (SELECT node, min(dist) AS dist FROM (
          SELECT * FROM r1 UNION ALL
          SELECT sym.v, r1.dist + 1 FROM sym JOIN r1 ON r1.node = sym.u)
        GROUP BY 1),
      r3 AS (SELECT node, min(dist) AS dist FROM (
          SELECT * FROM r2 UNION ALL
          SELECT sym.v, r2.dist + 1 FROM sym JOIN r2 ON r2.node = sym.u)
        GROUP BY 1)
      SELECT node, dist FROM r3 ORDER BY 1"""),
      (s, dir) => {
        val edges = edgesDf(s, dir)
        val sources = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node")))
          .where(col("node") % 100 === 0).distinct()
        Graph.bfsFixed(edges, sources, rounds = 3).orderBy("node")
      }),

    // --- q228: Fellegi–Sunter record linkage (FuzzyJoin.linkageScores) —
    //     candidate part pairs from first-token blocking, scored by
    //     additive integer field weights (edit-distance band on the name,
    //     brand equality, size tolerance, type equality; disagreement
    //     counts NEGATIVELY — the evidence model q179's accept/reject
    //     matcher can't express). Fixed p_partkey < 500 slice keeps the
    //     Σ|block|² candidate volume constant at every SF; the oracle
    //     replays blocking, every levenshtein verdict, and all weights.
    Q("q228_record_linkage", Some("""
      WITH p AS (SELECT p_partkey, p_name, p_brand, p_type, p_size
                 FROM part WHERE p_partkey < 500),
      k AS (SELECT *, split_part(p_name, ' ', 1) AS bk FROM p),
      pr AS (SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
              (CASE WHEN levenshtein(a.p_name, b.p_name) <= 2
                    THEN 8 ELSE -4 END) +
              (CASE WHEN a.p_brand = b.p_brand THEN 6 ELSE -2 END) +
              (CASE WHEN abs(a.p_size - b.p_size) <= 2 THEN 3 ELSE -3 END) +
              (CASE WHEN a.p_type = b.p_type THEN 4 ELSE -1 END) AS score
             FROM k a JOIN k b
               ON a.bk = b.bk AND a.p_partkey < b.p_partkey)
      SELECT score, score >= 12 AS is_match, count(*) AS n_pairs
      FROM pr GROUP BY 1, 2 ORDER BY 1"""),
      (s, dir) => {
        val parts = Db(s, dir).part.where(col("p_partkey") < 500)
          .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        graft.operators.FuzzyJoin.linkageScores(parts, "p_partkey",
            split(col("p_name"), " ").getItem(0)) { (a, b) =>
            when(levenshtein(a("p_name"), b("p_name")) <= 2, 8).otherwise(-4) +
            when(a("p_brand") === b("p_brand"), 6).otherwise(-2) +
            when(abs(a("p_size") - b("p_size")) <= 2, 3).otherwise(-3) +
            when(a("p_type") === b("p_type"), 4).otherwise(-1)
          }
          .groupBy(col("score"), (col("score") >= 12).as("is_match"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("score")
      }),

    // --- q231: Pearson correlation matrix (Stats.corrMatrix) — the
    //     feature-audit pass over four lineitem measures as exact
    //     integers (quantity, cents, pct): ONE full-width aggregation
    //     computes all 15 sufficient statistics as DECIMAL(38,0) sums
    //     (map-side partial, one shuffle to a single row), then each of
    //     the 6 coefficients is a closed-form double division. The
    //     oracle replays every sum in HUGEINT and the same
    //     factor-by-factor sqrt order.
    Q("q231_corr_matrix", Some(corrMatrixSql),
      (s, dir) => Stats.corrMatrix(Db(s, dir).lineitem, Seq(
          "qty" -> col("l_quantity"),
          "price" -> (Db.dec(col("l_extendedprice")) * 100),
          "disc" -> (Db.rate(col("l_discount")) * 100),
          "tax" -> (Db.rate(col("l_tax")) * 100)))
        .orderBy("col_a", "col_b")),

    // --- q232: χ² vocabulary selection (Stats.chi2TopItems) — the
    //     language-discriminative term heads: 2×2 presence contingency
    //     per (term, lang), exact-BIGINT determinant a·N − tc·lc, fixed
    //     double parenthesization for the statistic, bounded TopKPerKey
    //     heaps per language. N is the distinct ids IN the presence set
    //     (token-less docs don't exist for either engine).
    Q("q232_chi2_terms", Some("""
      WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS item
                   FROM documents),
      pres AS (SELECT DISTINCT doc_id, lang, item FROM tok WHERE item <> ''),
      byitem AS (SELECT item, count(*) AS tc FROM pres
                 GROUP BY 1 HAVING count(*) >= 20),
      byic AS (SELECT item, lang AS cls, count(*) AS a FROM pres GROUP BY 1, 2),
      ids AS (SELECT DISTINCT doc_id, lang FROM pres),
      bycls AS (SELECT lang AS cls, count(*) AS lc FROM ids GROUP BY 1),
      tot AS (SELECT count(*) AS n_total FROM ids),
      sc AS (SELECT b.cls, b.item, b.a,
          round(CAST(n_total AS DOUBLE) *
              (CAST(a*n_total - tc*lc AS DOUBLE) *
               CAST(a*n_total - tc*lc AS DOUBLE)) /
            nullif((CAST(tc AS DOUBLE) * CAST(n_total - tc AS DOUBLE)) *
                   (CAST(lc AS DOUBLE) * CAST(n_total - lc AS DOUBLE)), 0), 4)
            AS chi2
        FROM byic b JOIN byitem USING (item) JOIN bycls USING (cls)
        CROSS JOIN tot),
      r AS (SELECT *, row_number() OVER (PARTITION BY cls
              ORDER BY chi2 DESC, item) AS rn
            FROM sc WHERE chi2 IS NOT NULL)
      SELECT cls, item, a, chi2 FROM r WHERE rn <= 5
      ORDER BY cls, chi2 DESC, item"""),
      (s, dir) => {
        val pres = Db(s, dir).documents
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("item"))
          .where(col("item") =!= "")
        Stats.chi2TopItems(pres, "doc_id", "lang", "item",
            minDf = 20, k = 5)
          .orderBy(col("cls"), col("chi2").desc, col("item"))
      }),

    // --- q233: lag-1 autocorrelation of the daily value series per
    //     event type (Stats.corrByGroup) — seasonality/drift detection:
    //     aggregate-first (the daily cent totals shrink the stream before
    //     any window), window-lag pairing within each tiny per-key
    //     series, then the exact-sufficient-statistics Pearson closed
    //     form. One agg shuffle + one window shuffle on event_type.
    Q("q233_autocorr", Some("""
      WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
          sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2),
      p AS (SELECT event_type, cents,
          lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM d),
      q AS (SELECT * FROM p WHERE prev IS NOT NULL),
      s AS (SELECT event_type, count(*) AS n,
          sum(CAST(cents AS HUGEINT)) AS sx, sum(CAST(prev AS HUGEINT)) AS sy,
          sum(CAST(cents AS HUGEINT) * prev) AS sxy,
          sum(CAST(cents AS HUGEINT) * cents) AS sxx,
          sum(CAST(prev AS HUGEINT) * prev) AS syy
        FROM q GROUP BY 1)
      SELECT event_type, n,
        round(CAST(n*sxy - sx*sy AS DOUBLE) /
          nullif(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                 sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0), 6) AS corr
      FROM s ORDER BY 1"""),
      (s, dir) => {
        val daily = Db(s, dir).events
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(sum((Db.dec(col("value")) * 100).cast("long")).as("cents"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val paired = daily
          .select(col("event_type"), col("cents"),
            lag("cents", 1).over(w).as("prev"))
          .where(col("prev").isNotNull)
        Stats.corrByGroup(paired, Seq("event_type"), col("cents"),
            col("prev"))
          .orderBy("event_type")
      }),

    // --- q234: sequential path mining (Temporal.pathNgrams) — the top-20
    //     three-step event-type paths across per-user ordered journeys:
    //     n−1 LEADs over ONE sorted window (single exchange on user_id,
    //     single sort), hash path counts, deterministic global top-k. The
    //     multi-step view q192's single-step transition matrix can't
    //     answer.
    Q("q234_path_ngrams", Some("""
      WITH w AS (SELECT user_id, event_type AS e0,
          lead(event_type, 1) OVER win AS e1,
          lead(event_type, 2) OVER win AS e2
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      p AS (SELECT concat_ws('>', e0, e1, e2) AS path FROM w
            WHERE e2 IS NOT NULL)
      SELECT path, count(*) AS n FROM p GROUP BY 1
      ORDER BY n DESC, path LIMIT 20"""),
      (s, dir) => Temporal.pathNgrams(Db(s, dir).events, Seq("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"), n = 3, k = 20)),

    // --- q235: streaming z-score anomaly monitor (EventStreams
    //     .anomalyCounts) — per-type reference moments (μ, σ) computed
    //     batch-side from the first half of the month in exact integer
    //     sufficient statistics, then the second half arrives AS A STREAM
    //     and is flagged via a stream-static broadcast join; state is one
    //     counter per type. The sink equals the batch replay bit-for-bit.
    Q("q235_stream_anomaly", Some("""
      WITH c AS (SELECT event_type, ts,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
      st AS (SELECT event_type, count(*) AS n,
          sum(CAST(cents AS HUGEINT)) AS sx,
          sum(CAST(cents AS HUGEINT) * cents) AS sxx
        FROM c WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
      m AS (SELECT event_type, CAST(sx AS DOUBLE) / n AS mu,
          sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) / n AS sigma FROM st)
      SELECT c.event_type, count(*) AS n_anom
      FROM c JOIN m USING (event_type)
      WHERE c.ts >= TIMESTAMP '2024-01-16'
        AND abs(CAST(cents AS DOUBLE) - mu) > 2 * sigma
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        import s.implicits._
        val d38 = "decimal(38,0)"
        val ev = Db(s, dir).events.select(col("event_type"), col("ts"),
          (Db.dec(col("value")) * 100).cast("long").as("cents"))
        val cut = Db.ts("2024-01-16")
        val stats = ev.where(col("ts") < cut)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("cents").cast(d38)).as("sx"),
            sum(col("cents").cast(d38) * col("cents").cast(d38)).as("sxx"))
          .select(col("event_type"),
            (col("sx").cast("double") / col("n")).as("mu"),
            (sqrt((col("n").cast(d38) * col("sxx") -
              col("sx") * col("sx")).cast("double")) / col("n")).as("sigma"))
        val live = ev.where(col("ts") >= cut)
          .select(col("event_type"), col("cents"))
          .as[(String, Long)].collectFeed()
        MicroBatchGate.run(s, "q235", MicroBatchGate.split(live, 2), "complete")(
            input => graft.streaming.EventStreams.anomalyCounts(
              input.toDF("event_type", "cents"), stats))
          .orderBy("event_type")
      }),

    // --- q236: token-budget mixture sampling (Corpus.tokenBudgetMix) —
    //     per-source documents in deterministic md5 order until 3000
    //     tokens: the "N tokens per domain" mix-composition step a count
    //     cap (q216) can't express. One exchange + one cumulative-sum
    //     window per stratum; kept set overshoots by at most one doc.
    Q("q236_token_budget_mix", Some("""
      WITH t AS (SELECT source, doc_id,
          len(string_split(text, ' ')) AS tokens,
          md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      w AS (SELECT source, doc_id, tokens,
          sum(tokens) OVER (PARTITION BY source ORDER BY h, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM t)
      SELECT source, count(*) AS n_docs,
        CAST(sum(tokens) AS BIGINT) AS tokens,
        CAST(max(cum_tokens) AS BIGINT) AS max_cum
      FROM w WHERE cum_tokens - tokens < 3000
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => Corpus.tokenBudgetMix(Db(s, dir).documents, Seq("source"),
          "doc_id", size(split(col("text"), " ")), budget = 3000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens"),
          max(col("cum_tokens")).as("max_cum"))
        .orderBy("source")),

    // --- q237: fixed-round label propagation (Graph
    //     .labelPropagationFixed) — semi-supervised label spread on the
    //     q178 graph: ~10% seeded (node%10==0, label node%3), two
    //     synchronous rounds of clamped-seed majority voting with the
    //     argmax on bounded TopKPerKey heaps. The oracle unrolls both
    //     rounds with row_number argmax; the full (node, label)
    //     assignment is compared, not a summary.
    Q("q237_label_propagation", Some(s"""
      WITH e AS ($edgesSql),
      $lpaChainSql
      SELECT node, label FROM l2 ORDER BY node"""),
      (s, dir) => {
        val edges = edgesDf(s, dir)
        val nodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val seeds = nodes.where(col("node") % 10 === 0)
          .withColumn("label", col("node") % 3)
        Graph.labelPropagationFixed(edges, seeds, rounds = 2)
          .orderBy("node")
      }),

    // --- q238: shuffle-key skew audit (Profile.keySkew) — per candidate
    //     join/partition key: reducer cardinality, heaviest-key count,
    //     exact Σc² collision mass (the self-join size q204 sketches,
    //     exact here), and the top1·keys/rows skew ratio that decides
    //     salting (q76). One count aggregation + one 4-aggregate reduce
    //     per column, all map-side partial.
    Q("q238_key_skew", Some(
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag").map { c =>
        s"""SELECT '$c' AS col_name, CAST(sum(c) AS BIGINT) AS n_rows,
          count(*) AS n_keys, max(c) AS top1_n,
          CAST(sum(c*c) AS BIGINT) AS sum_sq,
          round(CAST(max(c) AS DOUBLE) * count(*) / CAST(sum(c) AS BIGINT), 4)
            AS skew
        FROM (SELECT count(*) AS c FROM lineitem GROUP BY $c)"""
      }.mkString("\n      UNION ALL\n      ") + "\n      ORDER BY col_name"),
      (s, dir) => graft.operators.Profile.keySkew(Db(s, dir).lineitem,
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"))
        .orderBy("col_name")),

    // --- q239: mutual information / entropy audit (Stats.mutualInfo) —
    //     "does source leak lang?" per train/val/test split: exact cell
    //     counts, every float sum an array_sort-then-fold (the q220 PSI
    //     discipline), replayed by DuckDB list_sort/list_reduce term for
    //     term. The categorical companion to q231 (numeric corr) and
    //     q232 (per-item χ²).
    Q("q239_mutual_info", Some("""
      WITH b AS (SELECT lang, source,
          CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                    % 100 < 80 THEN 'train'
               WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                    % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM documents),
      cells AS (SELECT split, lang, source, count(*) AS cxy
                FROM b GROUP BY 1, 2, 3),
      mx AS (SELECT split, lang, sum(cxy) AS cx FROM cells GROUP BY 1, 2),
      my AS (SELECT split, source, sum(cxy) AS cy FROM cells GROUP BY 1, 2),
      tot AS (SELECT split, sum(cxy) AS n FROM cells GROUP BY 1),
      term AS (SELECT c.split, c.lang, c.source,
          (CAST(c.cxy AS DOUBLE) / t.n) *
            ln((CAST(c.cxy AS DOUBLE) * t.n) /
               (CAST(mx.cx AS DOUBLE) * my.cy)) AS tm
        FROM cells c JOIN mx USING (split, lang)
        JOIN my USING (split, source) JOIN tot t USING (split)),
      mi AS (SELECT split, count(*) AS n_cells,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list({x: lang, y: source, t: tm})), z -> z.t)),
            (a, c2) -> a + c2) AS mi
        FROM term GROUP BY 1),
      hx AS (SELECT split,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list({x: lang,
              t: -(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n)})),
            z -> z.t)), (a, c2) -> a + c2) AS h_x
        FROM mx JOIN tot USING (split) GROUP BY 1),
      hy AS (SELECT split,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list({x: source,
              t: -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n)})),
            z -> z.t)), (a, c2) -> a + c2) AS h_y
        FROM my JOIN tot USING (split) GROUP BY 1)
      SELECT split, CAST(n AS BIGINT) AS n, n_cells, round(mi.mi, 6) AS mi,
        round(h_x, 6) AS h_x, round(h_y, 6) AS h_y
      FROM mi JOIN hx USING (split) JOIN hy USING (split)
        JOIN tot USING (split)
      ORDER BY split"""),
      (s, dir) => Stats.mutualInfo(
          Corpus.hashSplit(Db(s, dir).documents, col("doc_id")),
          Seq("split"), col("lang"), col("source"))
        .orderBy("split")),

    // --- q240: per-document n-gram novelty (Corpus.ngramNovelty) — the
    //     share of each doc's distinct 3-gram shingles it is the FIRST
    //     (min doc id) owner of: gram-keyed min election + join-back on
    //     8-byte portable hashes; the oracle replays ownership on the
    //     shingle STRINGS (hash ≡ string up to 60-bit collisions, the
    //     q107 equivalence).
    Q("q240_ngram_novelty", Some(s"""
      WITH t AS (SELECT doc_id, ${TextOps.shinglesSql} AS sh
                 FROM documents WHERE len(string_split(text, ' ')) >= 3),
      e AS (SELECT doc_id, unnest(sh) AS g FROM t),
      f AS (SELECT g, min(doc_id) AS first_id FROM e GROUP BY 1)
      SELECT e.doc_id, count(*) AS n_grams,
        count(*) FILTER (WHERE f.first_id = e.doc_id) AS n_novel,
        round(CAST(count(*) FILTER (WHERE f.first_id = e.doc_id) AS DOUBLE)
          / count(*), 4) AS novelty
      FROM e JOIN f USING (g) GROUP BY 1 ORDER BY 1"""),
      (s, dir) => Corpus.ngramNovelty(Db(s, dir).documents,
          "doc_id", "text")
        .orderBy("doc_id")),

    // --- q241: fixed-round 3-truss peeling (Graph.ktrussFixed) — edges
    //     must close a triangle with surviving edges, two peels: the
    //     cohesive-subgraph filter degree-based k-core (q178) can't
    //     express (hub spokes have degree, not triangles). Wedge
    //     enumeration per round is the q215 Σdeg² shape. The oracle
    //     unrolls both peels and compares the full surviving edge list
    //     with supports.
    Q("q241_ktruss", Some(s"""
      WITH e0 AS ($edgesSql),
      adj1 AS (SELECT a AS v, b AS w FROM e0 UNION ALL SELECT b, a FROM e0),
      wg1 AS (SELECT x.w AS a, y.w AS b FROM adj1 x JOIN adj1 y
              ON x.v = y.v AND x.w < y.w),
      s1 AS (SELECT w.a, w.b, count(*) AS support FROM wg1 w
             JOIN e0 USING (a, b) GROUP BY 1, 2),
      e1 AS (SELECT a, b FROM s1 WHERE support >= 1),
      adj2 AS (SELECT a AS v, b AS w FROM e1 UNION ALL SELECT b, a FROM e1),
      wg2 AS (SELECT x.w AS a, y.w AS b FROM adj2 x JOIN adj2 y
              ON x.v = y.v AND x.w < y.w),
      s2 AS (SELECT w.a, w.b, count(*) AS support FROM wg2 w
             JOIN e1 USING (a, b) GROUP BY 1, 2)
      SELECT a, b, support FROM s2 WHERE support >= 1 ORDER BY a, b"""),
      (s, dir) => Graph.ktrussFixed(edgesDf(s, dir), k = 3, rounds = 2)
        .orderBy("a", "b")),

    // --- q242: linear multi-touch attribution (Temporal
    //     .linearAttribution) — every purchase's 10^6 ppm of credit split
    //     equally over the user's click/view/signup touches in the prior
    //     3 days, integer-division remainder to the LATEST touch, so
    //     per-channel totals are exact partition-order-independent
    //     BIGINTs (no float 1/n merge drift); untouched purchases land in
    //     'direct'. The fair-split model q207's first/last-touch carries
    //     can't express.
    Q("q242_linear_attribution", Some("""
      WITH c AS (SELECT user_id, ts AS cts, event_id AS cid FROM events
                 WHERE event_type = 'purchase'),
      t AS (SELECT user_id, ts AS tts, event_id AS tid,
              event_type AS channel FROM events
            WHERE event_type IN ('click', 'view', 'signup')),
      p AS (SELECT c.user_id, c.cid, t.tts, t.tid, t.channel
            FROM c JOIN t USING (user_id)
            WHERE t.tts <= c.cts AND t.tts > c.cts - INTERVAL 3 DAY),
      n AS (SELECT *, count(*) OVER (PARTITION BY user_id, cid) AS n,
              row_number() OVER (PARTITION BY user_id, cid
                ORDER BY tts DESC, tid DESC) AS rn FROM p),
      cr AS (SELECT channel, user_id, cid,
              1000000 // n +
                CASE WHEN rn = 1 THEN 1000000 % n ELSE 0 END AS ppm
             FROM n),
      tc AS (SELECT channel, count(*) AS n_touches,
              count(DISTINCT cid) AS n_conversions,
              CAST(sum(ppm) AS BIGINT) AS credit_ppm FROM cr GROUP BY 1),
      d AS (SELECT 'direct' AS channel, CAST(0 AS BIGINT) AS n_touches,
              count(*) AS n_conversions,
              count(*) * 1000000 AS credit_ppm
            FROM c WHERE NOT EXISTS (SELECT 1 FROM p
              WHERE p.user_id = c.user_id AND p.cid = c.cid)
            HAVING count(*) > 0)
      SELECT * FROM tc UNION ALL SELECT * FROM d ORDER BY channel"""),
      (s, dir) => {
        val ev = Db(s, dir).events
        val conv = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("tie"))
        val tch = ev.where(col("event_type").isin("click", "view", "signup"))
          .select(col("user_id"), col("ts"), col("event_id").as("tie"),
            col("event_type").as("channel"))
        Temporal.linearAttribution(conv, tch, Seq("user_id"), "3 DAY")
          .orderBy("channel")
      }),

    // --- q244: two-sample Kolmogorov–Smirnov drift test (Stats
    //     .ksTwoSample) — does the document-length distribution drift
    //     between even and odd doc ids, per language? Exact cumulative
    //     counts over one sorted window; D is a MAX of fixed-form
    //     doubles, so there is no float-summation order to pin (the
    //     binning-free complement of q220's PSI).
    Q("q244_ks_drift", Some("""
      WITH b AS (SELECT lang,
          CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
          n_chars AS v FROM documents),
      c AS (SELECT lang, v,
              count(*) FILTER (WHERE side = 'a') AS na,
              count(*) FILTER (WHERE side = 'b') AS nb
            FROM b GROUP BY 1, 2),
      t AS (SELECT lang, CAST(sum(na) AS BIGINT) AS ta,
              CAST(sum(nb) AS BIGINT) AS tb FROM c GROUP BY 1),
      w AS (SELECT lang, v,
              sum(na) OVER (PARTITION BY lang ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS ca,
              sum(nb) OVER (PARTITION BY lang ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS cb
            FROM c),
      d AS (SELECT w.lang,
              abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb) AS d
            FROM w JOIN t USING (lang))
      SELECT d.lang, t.ta, t.tb, round(max(d.d), 6) AS ks
      FROM d JOIN t USING (lang) GROUP BY 1, 2, 3 ORDER BY 1"""),
      (s, dir) => Stats.ksTwoSample(Db(s, dir).documents, Seq("lang"),
          when(col("doc_id") % 2 === 0, "a").otherwise("b"),
          col("n_chars"))
        .orderBy("lang")),

    // --- q245: personalized PageRank (Graph.personalizedPageRankFixed)
    //     — q175's exact fixed-point discipline with the restart mass
    //     pinned to a seed set (the "similar to these" ranker): two
    //     rounds over the directed mod-997 part→supplier graph, ~2% of
    //     nodes seeded. The oracle unrolls both rounds term for term in
    //     HUGEINT; zero-rank nodes drop on both engines.
    Q("q245_personalized_pagerank", Some("""
      WITH e AS (SELECT DISTINCT l_partkey % 997 AS src,
                   l_suppkey % 997 AS dst
                 FROM lineitem WHERE (l_partkey % 997) <> (l_suppkey % 997)),
      od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      seeds AS (SELECT DISTINCT node FROM nodes WHERE node % 50 = 0),
      params AS (SELECT 1000000000000 // count(*) AS r0,
                   (15 * (1000000000000 // count(*))) // 100 AS tele
                 FROM seeds),
      rk0 AS (SELECT node, (SELECT r0 FROM params) AS rank FROM seeds),
      c1 AS (SELECT e.dst AS node, sum(r.rank // od.outdeg) AS s
             FROM rk0 r JOIN od ON od.src = r.node
             JOIN e ON e.src = r.node GROUP BY 1),
      r1 AS (SELECT coalesce(c.node, s.node) AS node,
               (CASE WHEN s.node IS NOT NULL
                     THEN (SELECT tele FROM params) ELSE 0 END)
                 + (85 * coalesce(c.s, 0)) // 100 AS rank
             FROM c1 c FULL OUTER JOIN seeds s ON s.node = c.node),
      rk1 AS (SELECT node, rank FROM r1 WHERE rank > 0),
      c2 AS (SELECT e.dst AS node, sum(r.rank // od.outdeg) AS s
             FROM rk1 r JOIN od ON od.src = r.node
             JOIN e ON e.src = r.node GROUP BY 1),
      r2 AS (SELECT coalesce(c.node, s.node) AS node,
               (CASE WHEN s.node IS NOT NULL
                     THEN (SELECT tele FROM params) ELSE 0 END)
                 + (85 * coalesce(c.s, 0)) // 100 AS rank
             FROM c2 c FULL OUTER JOIN seeds s ON s.node = c.node)
      SELECT node, CAST(rank AS BIGINT) AS rank FROM r2
      WHERE rank > 0 ORDER BY node"""),
      (s, dir) => {
        val p = (col("l_partkey") % 997).cast("long")
        val q = (col("l_suppkey") % 997).cast("long")
        val e = Db(s, dir).lineitem.where(p =!= q)
          .select(p.as("src"), q.as("dst")).distinct()
        val nodes = e.select(col("src").as("node"))
          .unionAll(e.select(col("dst").as("node"))).distinct()
        Graph.personalizedPageRankFixed(e,
            nodes.where(col("node") % 50 === 0), iters = 2)
          .orderBy("node")
      }),

    // --- q248: degree assortativity (Stats.corrMatrix over edge-endpoint
    //     degrees) — do high-degree nodes link to high-degree nodes? The
    //     one-number mixing audit (positive = social-like, negative =
    //     hub-and-spoke), computed as the exact-sufficient-statistics
    //     Pearson correlation over all 2m directed endpoint pairs: two
    //     degree join-backs, one full-width aggregation.
    Q("q248_assortativity", Some(s"""
      WITH e AS ($edgesSql),
      adj AS (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e),
      deg AS (SELECT v AS node, count(*) AS deg FROM adj GROUP BY 1),
      p AS (SELECT dx.deg AS x, dy.deg AS y FROM adj
            JOIN deg dx ON dx.node = adj.v
            JOIN deg dy ON dy.node = adj.w),
      s AS (SELECT count(*) AS n,
              sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
              sum(CAST(x AS HUGEINT) * y) AS sxy,
              sum(CAST(x AS HUGEINT) * x) AS sxx,
              sum(CAST(y AS HUGEINT) * y) AS syy FROM p)
      SELECT 'dx' AS col_a, 'dy' AS col_b, n,
        round(CAST(n*sxy - sx*sy AS DOUBLE) /
          nullif(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                 sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0), 6) AS corr
      FROM s"""),
      (s, dir) => {
        val edges = edgesDf(s, dir)
        val adj = edges.select(col("src").as("v"), col("dst").as("w"))
          .unionAll(edges.select(col("dst").as("v"), col("src").as("w")))
        val deg = adj.groupBy(col("v").as("node"))
          .agg(count(lit(1)).as("deg"))
        val pairs = adj
          .join(deg.select(col("node").as("v"), col("deg").as("dx")),
            Seq("v"))
          .join(deg.select(col("node").as("w"), col("deg").as("dy")),
            Seq("w"))
        Stats.corrMatrix(pairs, Seq("dx" -> col("dx"), "dy" -> col("dy")))
      }),

    // --- q249: community modularity (Graph.modularity) — Newman Q of
    //     the q237 label-propagation partition over the same graph
    //     (unlabeled nodes as singletons): exact-BIGINT e_c/d_c/m, the
    //     per-community float terms summed in a fixed-order fold. The
    //     quality number that decides whether a clustering is worth
    //     keeping.
    Q("q249_modularity", Some(s"""
      WITH e AS ($edgesSql),
      $lpaChainSql,
      fl AS (SELECT n.node,
               coalesce(l2.label, n.node + 1099511627776) AS c
             FROM n LEFT JOIN l2 ON l2.node = n.node),
      tag AS (SELECT e.a, e.b, fa.c AS ca, fb.c AS cb FROM e
              JOIN fl fa ON fa.node = e.a JOIN fl fb ON fb.node = e.b),
      m AS (SELECT count(*) AS m FROM tag),
      ec AS (SELECT ca AS c, count(*) AS e_c FROM tag
             WHERE ca = cb GROUP BY 1),
      dcc AS (SELECT c, count(*) AS d_c FROM
                (SELECT ca AS c FROM tag UNION ALL SELECT cb FROM tag)
              GROUP BY 1),
      t AS (SELECT dcc.c, coalesce(ec.e_c, 0) AS e_c, dcc.d_c, m.m
            FROM dcc LEFT JOIN ec USING (c) CROSS JOIN m),
      term AS (SELECT c,
                 CAST(e_c AS DOUBLE) / m -
                   (CAST(d_c AS DOUBLE) / (2*m)) *
                   (CAST(d_c AS DOUBLE) / (2*m)) AS tm
               FROM t)
      SELECT (SELECT m FROM m) AS m, count(*) AS n_comms,
        round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(
          list_sort(list({c: c, t: tm})), z -> z.t)), (a, b) -> a + b), 6)
          AS modularity
      FROM term"""),
      (s, dir) => {
        val edges = edgesDf(s, dir)
        val nodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val seeds = nodes.where(col("node") % 10 === 0)
          .withColumn("label", col("node") % 3)
        val lab = Graph.labelPropagationFixed(edges, seeds, rounds = 2)
          .withColumnRenamed("label", "community")
        Graph.modularity(edges, lab)
      }),

    // --- q250: CUPED experiment readout (Stats.cupedMeans) — per-arm
    //     post-period spend means with the pre-period-covariate variance
    //     reduction (Deng et al., WSDM'13): users hash-split 50/50, x =
    //     first-half cents, y = second-half cents, θ pooled. Two hash
    //     aggregations of exact DECIMAL(38,0) sums; θ and the means are
    //     the only floats, replayed term-for-term in HUGEINT by the
    //     oracle — the A/B readout every experimentation platform runs.
    Q("q250_cuped", Some("""
      WITH u AS (SELECT user_id,
          CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                    % 100 < 50 THEN 'a' ELSE 'b' END AS arm,
          sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
              THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
              ELSE 0 END) AS x,
          sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
              THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
              ELSE 0 END) AS y
        FROM events GROUP BY 1, 2),
      p AS (SELECT count(*) AS np, sum(CAST(x AS HUGEINT)) AS px,
              sum(CAST(y AS HUGEINT)) AS py,
              sum(CAST(x AS HUGEINT) * y) AS pxy,
              sum(CAST(x AS HUGEINT) * x) AS pxx FROM u),
      a AS (SELECT arm, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
              sum(CAST(y AS HUGEINT)) AS sy FROM u GROUP BY 1),
      t AS (SELECT CAST(np*pxy - px*py AS DOUBLE) /
                   nullif(CAST(np*pxx - px*px AS DOUBLE), 0) AS theta,
              CAST(px AS DOUBLE) / np AS xall FROM p)
      SELECT arm, n, round(CAST(sy AS DOUBLE) / n, 6) AS mean_y,
        round(CAST(sy AS DOUBLE) / n -
          theta * (CAST(sx AS DOUBLE) / n - xall), 6) AS adj_mean_y
      FROM a CROSS JOIN t ORDER BY arm"""),
      (s, dir) => {
        val cut = Db.ts("2024-01-16")
        val cents = (Db.dec(col("value")) * 100).cast("long")
        val units = Db(s, dir).events
          .groupBy(col("user_id"),
            when(Corpus.hashBucket(col("user_id")) < 50, "a").otherwise("b")
              .as("arm"))
          .agg(sum(when(col("ts") < cut, cents).otherwise(0L)).as("x"),
            sum(when(col("ts") >= cut, cents).otherwise(0L)).as("y"))
        Stats.cupedMeans(units, "arm", col("x"), col("y"))
          .orderBy("arm")
      }),

    // --- q251: clamped running balance (Temporal
    //     .clampedRunningBalance) — wallet-with-no-overdraft semantics
    //     per user (purchases debit, everything else credits): the
    //     recurrence max(0, prev + delta) that NO window frame computes
    //     (the clamp couples each step to the clamped previous one),
    //     run as the sorted-array struct fold with clamp/peak counters.
    //     DuckDB replays the identical fold in list_reduce.
    Q("q251_clamped_balance", Some("""
      WITH d AS (SELECT user_id, ts, event_id,
          CASE WHEN event_type = 'purchase'
               THEN -CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               ELSE CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
          END AS delta
        FROM events),
      l AS (SELECT user_id, count(*) AS n_events,
              list(delta ORDER BY ts, event_id) AS ds
            FROM d GROUP BY 1),
      -- DuckDB 1.0's list_reduce mis-binds struct-accumulator fields (a
      -- stale accumulator leaks into the SECOND field's expression —
      -- verified with {b:0,c:0} + [5,-3,-9] giving c=2 instead of 1), so
      -- the (counter, balance) pairs are packed into ONE BIGINT scalar
      -- accumulator instead: hi*2^32 + balance, sound while balances AND
      -- peaks stay under 2^31 cents (hi*2^32 must fit signed BIGINT;
      -- sf0.01 peaks are ~2*10^6)
      f AS (SELECT user_id, n_events,
              list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
                (a, x) -> (a // 4294967296 +
                    CASE WHEN a % 4294967296 + x < 0 THEN 1 ELSE 0 END)
                  * 4294967296 + greatest(0, a % 4294967296 + x)) AS accc,
              list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
                (a, x) -> greatest(a // 4294967296,
                    greatest(0, a % 4294967296 + x)) * 4294967296
                  + greatest(0, a % 4294967296 + x)) AS accp
            FROM l)
      SELECT user_id, n_events, accc % 4294967296 AS final_balance,
        accc // 4294967296 AS n_clamps, accp // 4294967296 AS peak_balance
      FROM f ORDER BY user_id"""),
      (s, dir) => {
        val cents = (Db.dec(col("value")) * 100).cast("long")
        val d = Db(s, dir).events.select(col("user_id"), col("ts"),
          col("event_id"),
          when(col("event_type") === "purchase", -cents).otherwise(cents)
            .as("delta"))
        Temporal.clampedRunningBalance(d, Seq("user_id"), col("ts"),
            col("event_id"), col("delta"))
          .orderBy("user_id")
      }),

    // --- q252: bitemporal AS-OF (Temporal.bitemporalAsOf) — "the value
    //     valid on Jan 20 as the system KNEW it on Jan 21", over a
    //     changelog whose records arrive up to 36 h late (recorded_ts =
    //     ts + (event_id mod 36) hours): the two-axis correction query
    //     q206's single-axis SCD2 can't answer. One bi-axis filter + one
    //     max_by argmax per key.
    Q("q252_bitemporal_asof", Some("""
      WITH c AS (SELECT user_id, ts AS valid_ts,
          ts + to_hours(event_id % 36) AS recorded_ts,
          event_id AS tie,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS value
        FROM events),
      f AS (SELECT * FROM c WHERE valid_ts <= TIMESTAMP '2024-01-20'
            AND recorded_ts <= TIMESTAMP '2024-01-21'),
      r AS (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY valid_ts DESC, recorded_ts DESC, tie DESC) AS rn
            FROM f)
      SELECT user_id, valid_ts, recorded_ts, value FROM r WHERE rn = 1
      ORDER BY user_id"""),
      (s, dir) => {
        val log = Db(s, dir).events.select(col("user_id"),
          col("ts").as("valid_ts"),
          (col("ts") + expr(
            "make_interval(0, 0, 0, 0, CAST(event_id % 36 AS INT), 0, 0)"))
            .as("recorded_ts"),
          col("event_id").as("tie"),
          (Db.dec(col("value")) * 100).cast("long").as("value"))
        Temporal.bitemporalAsOf(log, Seq("user_id"),
            Db.ts("2024-01-20"), Db.ts("2024-01-21"))
          .orderBy("user_id")
      }),

    // --- q254: rolling 7-day distinct users (trailing MAU/WAU) via HLL
    //     register ALGEBRA — the sketches are merged across the window,
    //     never the raw rows: per-day register tables (q185 portable
    //     family), each register EXPLODED to the 7 window-days it serves
    //     (≤ days·m·7 sketch rows however large the event stream — an
    //     EQUI shuffle on the window day, never a nested-loop band
    //     join), bucketwise max-merge, one estimate per day. n_exact
    //     rides along as the audit column. THE standard growth
    //     dashboard, at sketch cost.
    Q("q254_rolling_mau", Some("""
      WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id FROM events),
      h AS (SELECT day,
              ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                AS h FROM ev),
      reg AS (SELECT day, h % 64 AS bucket,
              max(CASE WHEN h // 64 = 0 THEN 55
                       ELSE 55 - length(bin(h // 64)) END) AS register
              FROM h GROUP BY 1, 2),
      days AS (SELECT DISTINCT day FROM reg),
      mg AS (SELECT d.day, r.bucket, max(r.register) AS register
             FROM days d JOIN reg r
               ON r.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
             GROUP BY 1, 2),
      sums AS (SELECT day,
              CAST(sum(CAST(1 AS BIGINT) << CAST(greatest(0, 54 - register)
                  AS INT)) +
                (64 - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
                AS sum_scaled
             FROM mg GROUP BY 1),
      est AS (SELECT day, sum_scaled,
              round(0.709e0 * 4096e0 * 18014398509481984e0 / sum_scaled, 4)
                AS estimate FROM sums),
      ex AS (SELECT d.day, count(DISTINCT e.user_id) AS n_exact
             FROM days d JOIN ev e
               ON e.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
             GROUP BY 1)
      SELECT day, sum_scaled, estimate, n_exact
      FROM est JOIN ex USING (day) ORDER BY day"""),
      (s, dir) => {
        val ev = Db(s, dir).events
          .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        val daily = Hll.registers(ev, Seq("day"), col("user_id"), m = 64)
        val days = daily.select(col("day").as("wday")).distinct()
        // register at day d serves window-days [d, d+6]: explode to an
        // equi key, semi-restrict to observed days
        def window7(d: org.apache.spark.sql.Column) = explode(
          sequence(d, d + expr("INTERVAL 6 DAY"), expr("INTERVAL 1 DAY")))
        val merged = daily
          .select(window7(col("day")).as("wday"), col("bucket"),
            col("register"))
          .join(days, Seq("wday"))
          .groupBy(col("wday").as("day"), col("bucket"))
          .agg(max(col("register")).as("register"))
        val est = Hll.estimate(merged, Seq("day"), m = 64)
          .select(col("day"), col("sum_scaled"),
            round(col("estimate"), 4).as("estimate"))
        val exact = ev
          .select(window7(col("day")).as("wday"), col("user_id"))
          .join(days, Seq("wday"))
          .groupBy(col("wday").as("day"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        est.join(exact, Seq("day")).orderBy("day")
      }),

    // --- q255: fact-to-detail reconciliation (Audit.reconcile) — does
    //     each order header's stated total equal its lineitem roll-up?
    //     The value-consistency companion to q201's key-only FK audit
    //     (orphan-free keys can still carry corrupted amounts), in exact
    //     integer cents: one detail aggregation + one join + one summary
    //     row. The synthetic headers do NOT reconcile — the audit's
    //     point is measuring that mass, not asserting zero.
    Q("q255_reconcile", Some("""
      WITH h AS (SELECT o_orderkey AS k,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS t
        FROM orders),
      d AS (SELECT l_orderkey AS k,
          CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
            AS BIGINT)) AS BIGINT) AS s2
        FROM lineitem GROUP BY 1),
      j AS (SELECT h.k, h.t, d.s2,
              CASE WHEN d.s2 IS NOT NULL THEN abs(h.t - d.s2) END AS diff
            FROM h LEFT JOIN d USING (k))
      SELECT count(*) AS n_headers,
        count(CASE WHEN s2 IS NULL THEN 1 END) AS n_headerless,
        count(CASE WHEN diff > 1 THEN 1 END) AS n_mismatched,
        CAST(coalesce(max(diff), 0) AS BIGINT) AS max_abs_diff_cents,
        CAST(coalesce(sum(diff), 0) AS BIGINT) AS sum_abs_diff_cents
      FROM j"""),
      (s, dir) => graft.operators.Audit.reconcile(
        Db(s, dir).orders, "o_orderkey",
        (Db.dec(col("o_totalprice")) * 100).cast("long"),
        Db(s, dir).lineitem, "l_orderkey",
        (Db.dec(col("l_extendedprice")) * 100).cast("long"))),

    // --- q256: time-decayed engagement counters (Stats.decayedCounts) —
    //     recency-weighted per-type activity: weights halve every full 7
    //     days of age (staircase decay = EXACT power-of-two weights, no
    //     libm pow whose last ulp could differ between engines), exact
    //     integer age bucketing, sorted-fold float sum. The freshness
    //     score every feed/dashboard ranks by.
    Q("q256_decayed_counts", Some("""
      WITH a AS (SELECT event_type,
          (epoch_us(TIMESTAMP '2024-02-01') - epoch_us(ts)) // 86400000000
            AS age
        FROM events),
      -- greatest(0, ·) mirrors the engine's negative-age clamp (any
      -- negative age lands at step 0 under BOTH floor // and trunc div)
      st AS (SELECT event_type, greatest(0, age // 7) AS step, count(*) AS c
             FROM a GROUP BY 1, 2),
      f AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
          round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list({s: step, c: c})),
            z -> CASE WHEN z.s > 62 THEN 0.0e0
                 ELSE CAST(z.c AS DOUBLE) /
                      CAST(CAST(1 AS BIGINT) << CAST(z.s AS INT) AS DOUBLE)
                 END)),
            (x, y) -> x + y), 6) AS decayed
        FROM st GROUP BY 1)
      SELECT event_type, n, decayed FROM f ORDER BY 1"""),
      (s, dir) => Stats.decayedCounts(
          Db(s, dir).events.select(col("event_type"),
            ((unix_micros(Db.ts("2024-02-01").cast("timestamp")) -
              unix_micros(col("ts").cast("timestamp"))) /
              lit(86400000000L)).cast("long").as("age")),
          Seq("event_type"), col("age"), halflifeDays = 7)
        .orderBy("event_type")),

    // --- q257: trending movers by rank delta — parts ranked by ship
    //     volume in 1995-04 vs 1995-03, top climbers first: the
    //     week-over-week "what's trending" report. Each month's ranking
    //     runs on Rank.atScale (two-phase range-partitioned rank — no
    //     Exchange SinglePartition over the item vocabulary; the
    //     VERDICT-r13 weak-gate fix), ranks identical to row_number()
    //     over the same total order, so the oracle is unchanged.
    Q("q257_rank_movers", Some("""
      WITH cur AS (SELECT l_partkey, count(*) AS n FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1995-04-01'
               AND l_shipdate < TIMESTAMP '1995-05-01' GROUP BY 1),
      prev AS (SELECT l_partkey, count(*) AS n FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1995-03-01'
               AND l_shipdate < TIMESTAMP '1995-04-01' GROUP BY 1),
      cr AS (SELECT l_partkey, n,
               row_number() OVER (ORDER BY n DESC, l_partkey) AS r FROM cur),
      pr AS (SELECT l_partkey,
               row_number() OVER (ORDER BY n DESC, l_partkey) AS r FROM prev),
      j AS (SELECT cr.l_partkey, cr.n AS cur_n, pr.r AS prev_rank,
              cr.r AS cur_rank, pr.r - cr.r AS rank_delta
            FROM cr JOIN pr USING (l_partkey))
      SELECT * FROM j ORDER BY rank_delta DESC, l_partkey LIMIT 15"""),
      (s, dir) => {
        val li = Db(s, dir).lineitem
        def month(from: String, until: String) = li
          .where(col("l_shipdate") >= Db.ts(from) &&
            col("l_shipdate") < Db.ts(until))
          .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        def ranked(m: org.apache.spark.sql.DataFrame) =
          graft.operators.Rank.atScale(m,
            Seq(col("n").desc, col("l_partkey")), out = "r")
        val cur = ranked(month("1995-04-01", "1995-05-01"))
        val prev = ranked(month("1995-03-01", "1995-04-01"))
        cur.as("c").join(prev.as("p"), Seq("l_partkey"))
          .select(col("l_partkey"), col("c.n").as("cur_n"),
            col("p.r").as("prev_rank"), col("c.r").as("cur_rank"),
            (col("p.r") - col("c.r")).as("rank_delta"))
          .orderBy(col("rank_delta").desc, col("l_partkey"))
          .limit(15)
      }),

    // --- q258: time-in-state telemetry — each user's event stream as a
    //     state machine (the event type holds until the next event):
    //     per-state total dwell microseconds, spell counts, and share of
    //     observed time. One lag/lead window per user (single exchange),
    //     exact integer microsecond arithmetic, one state aggregation;
    //     the session's last open spell is unbounded and excluded on
    //     both engines.
    Q("q258_time_in_state", Some("""
      WITH s AS (SELECT user_id, event_type AS state,
          epoch_us(lead(ts) OVER (PARTITION BY user_id
            ORDER BY ts, event_id)) - epoch_us(ts) AS dwell_us
        FROM events),
      d AS (SELECT state, count(*) AS n_spells,
              CAST(sum(dwell_us) AS BIGINT) AS dwell_us
            FROM s WHERE dwell_us IS NOT NULL GROUP BY 1),
      t AS (SELECT CAST(sum(dwell_us) AS BIGINT) AS total FROM d)
      SELECT state, n_spells, dwell_us,
        round(CAST(dwell_us AS DOUBLE) / total, 6) AS share
      FROM d CROSS JOIN t ORDER BY state"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val spells = Db(s, dir).events
          .select(col("event_type").as("state"),
            (unix_micros(lead(col("ts"), 1).over(w).cast("timestamp")) -
              unix_micros(col("ts").cast("timestamp"))).as("dwell_us"))
          .where(col("dwell_us").isNotNull)
        val d = spells.groupBy("state")
          .agg(count(lit(1)).as("n_spells"),
            sum(col("dwell_us")).as("dwell_us"))
        val t = d.agg(sum(col("dwell_us")).as("total"))
        d.crossJoin(broadcast(t))
          .select(col("state"), col("n_spells"), col("dwell_us"),
            round(col("dwell_us").cast("double") / col("total"), 6)
              .as("share"))
          .orderBy("state")
      }),

    // --- q259: fixed-round weighted shortest paths (Graph.ssspFixed) —
    //     Bellman–Ford relaxation over the q178 graph with integer edge
    //     weights ((a+b)%10+1), three rounds, ~1% of nodes as sources:
    //     exact BIGINT min-plus, every ≤3-edge shortest path exact. The
    //     weighted companion to q222's hop-count BFS; oracle unrolls all
    //     three relaxations.
    Q("q259_weighted_sssp", Some(s"""
      WITH e0 AS ($edgesSql),
      ew AS (SELECT a, b, (a + b) % 10 + 1 AS w FROM e0),
      sym AS (SELECT a AS u, b AS v, w FROM ew
              UNION ALL SELECT b, a, w FROM ew),
      n AS (SELECT DISTINCT u AS node FROM sym),
      d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM n
             WHERE node % 100 = 0),
      r1 AS (SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM d0
              UNION ALL
              SELECT s.v, d.dist + s.w FROM sym s JOIN d0 d ON d.node = s.u)
             GROUP BY 1),
      r2 AS (SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM r1
              UNION ALL
              SELECT s.v, d.dist + s.w FROM sym s JOIN r1 d ON d.node = s.u)
             GROUP BY 1),
      r3 AS (SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM r2
              UNION ALL
              SELECT s.v, d.dist + s.w FROM sym s JOIN r2 d ON d.node = s.u)
             GROUP BY 1)
      SELECT node, CAST(dist AS BIGINT) AS dist FROM r3 ORDER BY node"""),
      (s, dir) => {
        val e = edgesDf(s, dir)
          .withColumn("w", (col("src") + col("dst")) % 10 + 1)
        val nodes = e.select(col("src").as("node"))
          .unionAll(e.select(col("dst").as("node"))).distinct()
        Graph.ssspFixed(e, nodes.where(col("node") % 100 === 0),
            rounds = 3)
          .orderBy("node")
      }),

    // --- q260: value-tier migration matrix — users bucketed into spend
    //     quintiles in the first vs second half of the month (EXACT
    //     integer quintiles: bucket = (rank−1)·5 div n on cents with id
    //     tie-break — no ntile, whose remainder spread differs between
    //     engines' tie handling only if ordering is incomplete), then
    //     the (from, to) transition census: the cohort-movement report
    //     behind every retention deck. Users active in only one half
    //     land in tier −1 for the other. Each half's rank runs on
    //     Rank.atScale (two-phase range-partitioned rank, n from the
    //     same count aggregate) — no Exchange SinglePartition over the
    //     per-user aggregate (the VERDICT-r13 weak-gate fix); the tier
    //     arithmetic and the oracle are bit-for-bit unchanged.
    Q("q260_tier_migration", Some("""
      WITH sp AS (SELECT user_id,
          sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
              THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
              ELSE 0 END) AS a,
          sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
              THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
              ELSE 0 END) AS b
        FROM events GROUP BY 1),
      ra AS (SELECT user_id, ((row_number() OVER (ORDER BY a, user_id) - 1)
               * 5) // count(*) OVER () AS tier_a
             FROM sp WHERE a > 0),
      rb AS (SELECT user_id, ((row_number() OVER (ORDER BY b, user_id) - 1)
               * 5) // count(*) OVER () AS tier_b
             FROM sp WHERE b > 0),
      j AS (SELECT coalesce(ra.tier_a, -1) AS tier_a,
              coalesce(rb.tier_b, -1) AS tier_b
            FROM ra FULL OUTER JOIN rb USING (user_id))
      SELECT tier_a, tier_b, count(*) AS n FROM j
      GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val cut = Db.ts("2024-01-16")
        val cents = (Db.dec(col("value")) * 100).cast("long")
        val sp = Db(s, dir).events.groupBy("user_id")
          .agg(sum(when(col("ts") < cut, cents).otherwise(0L)).as("a"),
            sum(when(col("ts") >= cut, cents).otherwise(0L)).as("b"))
        def tiers(c: String, out: String) =
          graft.operators.Rank.atScale(
              sp.where(col(c) > 0).select(col("user_id"), col(c)),
              Seq(col(c), col("user_id")), out = "__r", totalOut = "__n")
            .select(col("user_id"),
              expr("((__r - 1) * 5) div __n").as(out))
        tiers("a", "tier_a").join(tiers("b", "tier_b"), Seq("user_id"),
            "full_outer")
          .select(coalesce(col("tier_a"), lit(-1L)).as("tier_a"),
            coalesce(col("tier_b"), lit(-1L)).as("tier_b"))
          .groupBy("tier_a", "tier_b").agg(count(lit(1)).as("n"))
          .orderBy("tier_a", "tier_b")
      }),

    // --- q261: Benford first-digit audit — does the leading digit of
    //     order totals follow log10(1+1/d)? The classic fabricated-data
    //     forensic: exact digit counts (string-free: d = cents div
    //     10^(width−1) via exact integer log bucketing is locale-proof,
    //     but leading-digit via text is identical cross-engine for
    //     positive integers and simpler), expected shares as fixed
    //     literals, χ²-style distance as a 9-term sorted fold.
    Q("q261_benford", Some("""
      WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                   AS BIGINT) AS cents FROM orders WHERE o_totalprice > 0),
      d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
              AS digit FROM c),
      o AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM o)
      SELECT o.digit, o.n,
        round(CAST(o.n AS DOUBLE) / t.total, 6) AS observed,
        round(log10(1e0 + 1e0 / o.digit), 6) AS expected
      FROM o CROSS JOIN t ORDER BY o.digit"""),
      (s, dir) => {
        val c = Db(s, dir).orders.where(col("o_totalprice") > 0)
          .select((Db.dec(col("o_totalprice")) * 100).cast("long")
            .as("cents"))
        val d = c.select(
          substring(col("cents").cast("string"), 1, 1).cast("long")
            .as("digit"))
        val o = d.groupBy("digit").agg(count(lit(1)).as("n"))
        val t = o.agg(sum(col("n")).as("total"))
        o.crossJoin(broadcast(t))
          .select(col("digit"), col("n"),
            round(col("n").cast("double") / col("total"), 6).as("observed"),
            round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
              .as("expected"))
          .orderBy("digit")
      }),

    // --- q262: Gini inequality coefficient (Stats.giniByGroup) — how
    //     concentrated is document mass across sources, per language?
    //     One sorted rank window per group, exact DECIMAL(38,0) Σi·xᵢ,
    //     a single closed-form double — the concentration audit that
    //     says whether a "diverse" corpus is actually three domains in
    //     a trench coat.
    Q("q262_gini", Some("""
      WITH m AS (SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS mass
                 FROM documents GROUP BY 1, 2),
      r AS (SELECT lang, mass,
              row_number() OVER (PARTITION BY lang
                ORDER BY mass, source) AS i FROM m),
      s AS (SELECT lang, count(*) AS n,
              sum(CAST(mass AS HUGEINT)) AS sx,
              sum(CAST(i AS HUGEINT) * mass) AS six FROM r GROUP BY 1)
      SELECT lang, n,
        round((2e0 * CAST(six AS DOUBLE)) /
            nullif(CAST(n * sx AS DOUBLE), 0) -
          CAST(n + 1 AS DOUBLE) / n, 6) AS gini
      FROM s ORDER BY 1"""),
      (s, dir) => {
        val m = Db(s, dir).documents.groupBy("lang", "source")
          .agg(sum(col("n_chars")).as("mass"))
        Stats.giniByGroup(m, Seq("lang"), col("mass"), col("source"))
          .orderBy("lang")
      })
  )

  /** The 2-round label-propagation oracle chain shared by q237 and q249
    * (expects an `e` CTE with (a, b) edges in scope) — ONE definition so
    * a tie-break/seed-rule fix can never leave one copy stale. */
  private def lpaChainSql = """adj AS (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e),
      n AS (SELECT DISTINCT v AS node FROM adj),
      seeds AS (SELECT node, node % 3 AS label FROM n WHERE node % 10 = 0),
      v1 AS (SELECT adj.v, l.label, count(*) AS cnt FROM adj
             JOIN seeds l ON l.node = adj.w GROUP BY 1, 2),
      p1 AS (SELECT v AS node, label FROM (
              SELECT *, row_number() OVER (PARTITION BY v
                ORDER BY cnt DESC, label) AS rn FROM v1)
             WHERE rn = 1 AND v NOT IN (SELECT node FROM seeds)),
      l1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM p1),
      v2 AS (SELECT adj.v, l.label, count(*) AS cnt FROM adj
             JOIN l1 l ON l.node = adj.w GROUP BY 1, 2),
      p2 AS (SELECT v AS node, label FROM (
              SELECT *, row_number() OVER (PARTITION BY v
                ORDER BY cnt DESC, label) AS rn FROM v2)
             WHERE rn = 1 AND v NOT IN (SELECT node FROM seeds)),
      l2 AS (SELECT * FROM seeds UNION ALL SELECT * FROM p2)"""

  /** q231's oracle, generated from the same measure list the Spark side
    * uses so the 15 sums and 6 pair formulas can't drift apart. */
  private def corrMatrixSql: String = {
    val ms = Seq("qty", "price", "disc", "tax")
    val pairs = ms.combinations(2).toSeq
    val sums =
      ms.map(m => s"sum(CAST($m AS HUGEINT)) AS s_$m") ++
        ms.map(m => s"sum(CAST($m AS HUGEINT) * $m) AS ss_$m") ++
        pairs.map { case Seq(a, b) =>
          s"sum(CAST($a AS HUGEINT) * $b) AS sp_${a}_$b" }
    val rows = pairs.map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
        round(CAST(n*sp_${a}_$b - s_$a*s_$b AS DOUBLE) /
          nullif(sqrt(CAST(n*ss_$a - s_$a*s_$a AS DOUBLE)) *
                 sqrt(CAST(n*ss_$b - s_$b*s_$b AS DOUBLE)), 0), 6) AS corr
      FROM s"""
    }
    s"""
      WITH p AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price,
          CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc,
          CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT) AS tax
        FROM lineitem),
      s AS (SELECT count(*) AS n, ${sums.mkString(",\n        ")} FROM p)
      ${rows.mkString("\n      UNION ALL\n      ")}
      ORDER BY col_a, col_b"""
  }
}
