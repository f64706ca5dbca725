package graft.queries

import graft.Db
import graft.streaming.HarnessClock.FeedOps
import graft.streaming.MicroBatchGate
import graft.operators.{Bloom, Cms}
import org.apache.spark.sql.functions._

/** Round-11 scale-technique gates: Bloom-filter semi-join pushdown and
  * count-min frequency sketching (the membership / frequency members of
  * the portable-sketch family beside q185's HLL distincts), skip-gram
  * training-pair generation, per-user event-transition counts, a
  * leakage-safe GROUP-level train/val/test split, and changelog
  * compaction (CDC upsert+delete apply). Every gate carries an exact
  * DuckDB oracle — the sketch gates replay the md5-derived hash families
  * word-for-word / counter-for-counter.
  */
object ScaleOps {

  private val BloomM = 16384 // bits
  private val BloomK = 4

  val all: Seq[Q] = Seq(

    // --- q189: Bloom-filter semi-join pushdown. Build the filter from the
    //     filtered dim side (customer/BUILDING keys) as a 32-bit word
    //     table, collect its ≤ m/32 words into a dense array literal, and
    //     probe orders with a pure codegen mightContain column — no join,
    //     no shuffle on the probe path, exactly how a 100 TB fact scan
    //     pre-filters before the shuffle. The gate quantifies the filter
    //     rather than trusting it: per order-priority, rows passing the
    //     filter (n_pass), true matches (n_match), false positives (n_fp);
    //     zero false negatives is structural (BloomSpec asserts it). The
    //     oracle replays h1/h2, all k bit positions, the word table, and
    //     the all-bits-set probe in DuckDB from the same md5 arithmetic.
    Q("q189_bloom_semijoin", Some(s"""
      WITH dim AS (SELECT DISTINCT c_custkey AS k FROM customer
                   WHERE c_mktsegment = 'BUILDING'),
      dh AS (SELECT
          ('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT AS h1,
          (('0x' || substring(md5(CAST(k AS VARCHAR)), 16, 15))::BIGINT
            % 2147483647) | 1 AS h2
        FROM dim),
      bits AS (SELECT DISTINCT ((h1 + d.i * h2) % $BloomM) AS bit
               FROM dh, (VALUES (0), (1), (2), (3)) d(i)),
      words AS (SELECT bit // 32 AS wi,
                  bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS w
                FROM bits GROUP BY 1),
      oh AS (SELECT o_orderkey, o_orderpriority, o_custkey,
          ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h1,
          (('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 16, 15))::BIGINT
            % 2147483647) | 1 AS h2
        FROM orders),
      ob AS (SELECT o_orderkey, o_orderpriority, o_custkey,
               ((h1 + d.i * h2) % $BloomM) AS bit
             FROM oh, (VALUES (0), (1), (2), (3)) d(i)),
      op AS (SELECT o_orderkey,
               any_value(o_orderpriority) AS o_orderpriority,
               any_value(o_custkey) AS o_custkey,
               count(*) FILTER (WHERE w IS NOT NULL AND
                 (w & (CAST(1 AS BIGINT) << CAST(bit % 32 AS INT))) <> 0) AS hits,
               count(*) AS total
             FROM ob LEFT JOIN words ON bit // 32 = wi
             GROUP BY o_orderkey),
      f AS (SELECT o_orderpriority, (hits = total) AS pass,
              o_custkey IN (SELECT k FROM dim) AS hit
            FROM op)
      SELECT o_orderpriority,
        count(*) FILTER (WHERE pass) AS n_pass,
        count(*) FILTER (WHERE hit) AS n_match,
        count(*) FILTER (WHERE pass AND NOT hit) AS n_fp
      FROM f GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val db = Db(s, dir)
        val dimKeys = db.customer.where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k")).distinct()
        val filter = Bloom.dense(
          Bloom.words(dimKeys, col("k"), BloomM, BloomK), BloomM)
        db.orders
          .withColumn("pass",
            Bloom.mightContain(col("o_custkey"), filter, BloomM, BloomK))
          .join(broadcast(dimKeys), col("o_custkey") === col("k"), "left")
          .withColumn("hit", col("k").isNotNull)
          .groupBy("o_orderpriority")
          .agg(
            sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("n_match"),
            sum(when(col("pass") && !col("hit"), 1L).otherwise(0L)).as("n_fp"))
          .orderBy("o_orderpriority")
      }),

    // --- q190: count-min sketch counters over the document token stream —
    //     depth 4 × width 256, every counter replayed cell-for-cell by the
    //     oracle (the permutation constants regenerate in-query from md5,
    //     as in q156's portable MinHash family).
    Q("q190_cms_counters", Some("""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      h AS (SELECT ('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483647 AS h
            FROM toks),
      perm AS (SELECT j,
          ('0x' || substring(md5('a' || j), 1, 7))::BIGINT * 2 + 1 AS pa,
          ('0x' || substring(md5('b' || j), 1, 7))::BIGINT AS pb
        FROM (VALUES (0), (1), (2), (3)) jj(j))
      SELECT j AS row, ((pa * h + pb) % 2147483647) % 256 AS col,
             count(*) AS c
      FROM h, perm GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => Cms.counters(
          Db(s, dir).documents.select(explode(split(col("text"), " ")).as("t")),
          col("t"), depth = 4, width = 256)
        .orderBy("row", "col")),

    // --- q191: skip-gram (center, context) pair counts, window ±2 — the
    //     word2vec-style training-pair generator. Pairs are produced
    //     INSIDE each row by codegen array lambdas (zero shuffles until
    //     the single count aggregation); the oracle unnests positions and
    //     unions the four (direction × distance) legs. Deterministic
    //     top-200 via the (cnt, center, context) total order.
    Q("q191_skipgram_pairs", Some("""
      WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      i AS (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM t),
      p AS (
        SELECT w[i] AS center, w[i+1] AS context FROM i WHERE i + 1 <= len(w)
        UNION ALL
        SELECT w[i], w[i+2] FROM i WHERE i + 2 <= len(w)
        UNION ALL
        SELECT w[i+1], w[i] FROM i WHERE i + 1 <= len(w)
        UNION ALL
        SELECT w[i+2], w[i] FROM i WHERE i + 2 <= len(w))
      SELECT center, context, count(*) AS cnt FROM p
      GROUP BY 1, 2 HAVING count(*) >= 5
      ORDER BY cnt DESC, center, context LIMIT 200"""),
      (s, dir) =>
        graft.operators.Corpus.skipgramPairs(Db(s, dir).documents, "text", 2)
          .groupBy("center", "context")
          .agg(count(lit(1)).as("cnt"))
          .where(col("cnt") >= 5)
          .orderBy(col("cnt").desc, col("center"), col("context"))
          .limit(200)),

    // --- q192: event-transition counts (first-order Markov statistics):
    //     per user, each event's successor by (ts, event_id) order via one
    //     per-user lead window — one shuffle however long the history —
    //     aggregated to (type, next_type) counts + exact integer gap sums.
    Q("q192_transition_matrix", Some("""
      WITH s AS (SELECT event_type,
          lead(event_type) OVER w AS next_type,
          epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_type, next_type, count(*) AS n,
        CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
      FROM s WHERE next_type IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Db(s, dir).events
          .select(col("event_type"),
            lead(col("event_type"), 1).over(w).as("next_type"),
            (unix_micros(lead(col("ts"), 1).over(w).cast("timestamp"))
              - unix_micros(col("ts").cast("timestamp"))).as("gap_us"))
          .where(col("next_type").isNotNull)
          .groupBy("event_type", "next_type")
          .agg(count(lit(1)).as("n"), sum(col("gap_us")).as("sum_gap_us"))
          .orderBy("event_type", "next_type")
      }),

    // --- q193: leakage-safe GROUP-level split — the same md5-bucket split
    //     as q98, but keyed on the document's SOURCE domain, so every
    //     document of a domain lands in the same split (near-duplicates
    //     cluster within domains; a row-level split would leak them across
    //     train/test). n_sources counts whole domains per split; no domain
    //     can straddle because split is a pure function of source.
    Q("q193_group_split", Some("""
      WITH b AS (
        SELECT *, ('0x' || substring(md5(source), 1, 6))::BIGINT % 100 AS bucket
        FROM documents),
      s AS (SELECT *, CASE WHEN bucket < 80 THEN 'train'
                           WHEN bucket < 90 THEN 'val'
                           ELSE 'test' END AS split FROM b)
      SELECT split, count(*) AS n_docs,
             count(DISTINCT source) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM s GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        graft.operators.Corpus.hashSplit(Db(s, dir).documents, col("source"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("split")),

    // --- q194: changelog compaction (CDC apply): treat the event stream as
    //     an upsert/delete log per user (purchase = delete for the gate's
    //     synthetic op mapping), keep each key's LATEST operation by the
    //     total (ts, event_id) order, and drop deleted keys — q113's
    //     dedup-latest extended with delete semantics. One per-key window
    //     shuffle; no compaction pass rereads history.
    Q("q194_cdc_apply", Some("""
      WITH log AS (SELECT user_id, ts, event_id, value,
          CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
        FROM events),
      r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn FROM log)
      SELECT user_id, ts AS last_ts,
             CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS last_value
      FROM r WHERE rn = 1 AND op = 'U'
      ORDER BY user_id"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        Db(s, dir).events
          .select(col("user_id"), col("ts"), col("event_id"), col("value"),
            when(col("event_type") === "purchase", "D").otherwise("U").as("op"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1 && col("op") === "U")
          .select(col("user_id"), col("ts").as("last_ts"),
            col("value").cast("decimal(12,2)").cast("double").as("last_value"))
          .orderBy("user_id")
      }),

    // --- q195: STREAMING gap-based sessionization (session_window +
    //     watermark, append mode — each session emitted exactly once when
    //     the watermark passes its end; state = open sessions only). The
    //     bounded event slice streams through MicroBatchGate in three
    //     ts-ordered micro-batches plus a far-future sentinel that closes
    //     every real session. Boundary semantics pinned by
    //     SessionWindowSpec: an event exactly `gap` after the previous one
    //     MERGES, so the oracle's new-session rule is STRICTLY > 30 min;
    //     session_end = last event + gap.
    Q("q195_stream_sessions", Some("""
      WITH e AS (SELECT user_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents
                 FROM events WHERE event_id < 20000),
      l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, cents)
                        AS prev FROM e),
      f AS (SELECT *, CASE WHEN prev IS NULL
                             OR ts - prev > INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS news FROM l),
      s AS (SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY ts, cents
                        ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""),
      (s, dir) => {
        import s.implicits._
        val rows = Db(s, dir).events
          .filter(col("event_id") < 20000)
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            floor(col("value") * 100).cast("long").as("cents"))
          // ts-ordered arrival (watermark discipline) — sorted driver-side:
          // 20k tuples sort in microseconds, where the Spark orderBy paid a
          // full sort exchange inside the timed feed (r16). Ties on us may
          // land in either batch; a tied row is never late (watermark is
          // strictly behind the previous batch's max) and the session table
          // is a function of the row multiset, so the result is unchanged.
          .as[(Long, Long, Long)].collectFeed().sortBy(_._2)
        val sentinel = (-1L, rows.map(_._2).max + 86400L * 1000000, 0L)
        // a second, one-day-later sentinel: with no-data micro-batches off
        // (below) the emission of sessions closed by a batch's watermark
        // advance happens in the NEXT DATA batch, so a final flush batch
        // replaces the eviction-only no-data batches — its own user -1
        // sessions are filtered from the result exactly like sentinel 1's
        val sentinel2 = (-1L, sentinel._2 + 86400L * 1000000, 0L)
        // no-data micro-batches OFF (r16, guide §1/§5): append-mode
        // session_window emits a closed session in the first batch whose
        // START watermark passes session_end + nothing here evicts early,
        // so the 4 data batches each trailed an eviction/emission no-data
        // batch (~8 batches total). With them off, the flush sentinel
        // above carries the final emissions in a DATA batch instead —
        // same sink table (oracle-verified), ~3 fewer micro-batches. The
        // 3 real-data batches that demonstrate incrementality are kept.
        // Sentinel 1 rides the last real batch (same rows, same final
        // table — the watermark advance it carries takes effect after the
        // batch either way); the flush batch then emits everything.
        val Seq(b1, b2, b3) = MicroBatchGate.split(rows, 3)
        MicroBatchGate.run(s, "q195", Seq(b1, b2, b3 :+ sentinel, Seq(sentinel2)),
            "append", noDataBatches = false)(input =>
          graft.streaming.EventStreams.userSessions(
            input.toDF("user_id", "us", "cents")
              // watermark insists on TIMESTAMP (not NTZ) in streaming;
              // the session timezone is pinned UTC, so the wall-clock
              // values match the NTZ oracle exactly
              .select(col("user_id"),
                timestamp_micros(col("us")).as("ts"), col("cents"))))
          .where(col("user_id") =!= -1L)
          .orderBy("user_id", "session_start")
      }),

    // --- q196: PMI-ranked collocations (phrase mining) over the skip-gram
    //     pair stream. The PMI ratio ranks in EXACT integer arithmetic
    //     ((c_xy·N·1000) div (c_x·c_y) — log is monotone, so the ratio
    //     orders identically), marginals come from the pair-count table
    //     itself, and N rides a one-row broadcast — so the oracle replays
    //     the whole computation including the ordering.
    Q("q196_pmi_collocations", Some("""
      WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      i AS (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM t),
      p AS (
        SELECT w[i] AS center, w[i+1] AS context FROM i WHERE i + 1 <= len(w)
        UNION ALL
        SELECT w[i], w[i+2] FROM i WHERE i + 2 <= len(w)
        UNION ALL
        SELECT w[i+1], w[i] FROM i WHERE i + 1 <= len(w)
        UNION ALL
        SELECT w[i+2], w[i] FROM i WHERE i + 2 <= len(w)),
      pc AS (SELECT center, context, count(*) AS c_xy FROM p GROUP BY 1, 2),
      cx AS (SELECT center, sum(c_xy) AS c_x FROM pc GROUP BY 1),
      cy AS (SELECT context, sum(c_xy) AS c_y FROM pc GROUP BY 1),
      n AS (SELECT sum(c_xy) AS n_pairs FROM pc)
      SELECT center, context, c_xy,
             CAST((c_xy * n_pairs * 1000) // (c_x * c_y) AS BIGINT) AS pmi_k
      FROM pc JOIN cx USING (center) JOIN cy USING (context), n
      WHERE c_xy >= 5
      ORDER BY pmi_k DESC, center, context LIMIT 100"""),
      (s, dir) => graft.operators.Corpus.pmiCollocations(
        Db(s, dir).documents, "text", window = 2, minCount = 5, k = 100)),

    // --- q197: portable equi-width histogram over order totals — the
    //     distribution sketch of the portable family (HLL distincts /
    //     Bloom membership / CMS frequencies): a mergeable (bucket, n)
    //     TABLE on fixed cent bounds, every bucket replayed by the oracle
    //     in the same exact BIGINT arithmetic. Quantile estimation from
    //     the table (error ≤ one bin width) is spec-checked against the
    //     exact percentile.
    Q("q197_histogram_bins", Some("""
      WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders WHERE o_totalprice IS NOT NULL)
      SELECT (least(59999999, greatest(0, cents)) * 1024) // 60000000 AS bucket,
             count(*) AS n
      FROM c GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.operators.Histogram.bins(
          Db(s, dir).orders, col("o_totalprice"),
          loCents = 0L, hiCents = 60000000L, nBins = 1024)
        .orderBy("bucket")),

    // --- q198: per-group top-k terms (per-language vocabulary heads) via
    //     the bounded-heap TopKPerKey operator — one (lang, term) count
    //     shuffle, then per-partition heaps; no global sort, no
    //     full-partition window however many languages or terms.
    Q("q198_group_top_terms", Some("""
      WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      g AS (SELECT lang, term, count(*) AS n FROM t WHERE term <> ''
            GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY lang
                        ORDER BY n DESC, term) AS rn FROM g)
      SELECT lang, term, n FROM r WHERE rn <= 5
      ORDER BY lang, n DESC, term"""),
      (s, dir) => {
        val counts = Db(s, dir).documents
          .select(col("lang"), explode(split(col("text"), " ")).as("term"))
          .where(col("term") =!= "")
          .groupBy("lang", "term").agg(count(lit(1)).as("n"))
        graft.plans.TopK.perKey(counts, Seq("lang"),
            Seq(("n", false), ("term", true)), 5)
          .orderBy(col("lang"), col("n").desc, col("term"))
      }),

    // --- q199: canonical-document selection — the step that turns q91's
    //     duplicate-cluster labelling into a deduplicated corpus: keep
    //     exactly one survivor per cluster (longest text, smallest id as
    //     the tie-break) through the bounded-heap TopKPerKey operator.
    //     The oracle replays the full chain: shingle Jaccard pairs,
    //     recursive min-label closure, then the same argmax pick.
    Q("q199_dedup_canonical", Some(s"""
      WITH RECURSIVE t AS (
        SELECT doc_id, ${TextOps.shinglesSql} AS sh
        FROM documents WHERE len(string_split(text,' ')) >= 3),
      e AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM t),
      p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) / (max(a.n) + max(b.n) - count(*)) >= 0.3),
      edges AS (SELECT a_id AS src, b_id AS dst FROM p
                UNION SELECT b_id, a_id FROM p),
      reach(id, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, r.m FROM edges e JOIN reach r ON e.dst = r.id),
      c AS (SELECT id AS doc_id, min(m) AS cluster FROM reach GROUP BY 1),
      j AS (SELECT c.cluster, c.doc_id, d.n_chars,
              row_number() OVER (PARTITION BY c.cluster
                ORDER BY d.n_chars DESC, c.doc_id) AS rn
            FROM c JOIN documents d USING (doc_id))
      SELECT cluster, doc_id, n_chars FROM j WHERE rn = 1 ORDER BY cluster"""),
      (s, dir) => {
        val docs = Db(s, dir).documents
        val clusters = graft.operators.TextDedup.duplicateClusters(docs,
          "doc_id", graft.operators.TextDedup.jaccardPairs(
            docs, "doc_id", "text", 0.3))
        graft.operators.TextDedup.canonicalPerCluster(clusters, docs,
            "doc_id", Seq(("n_chars", false)))
          .orderBy("cluster")
      }),

    // --- q200: data-quality column profiler — per-column null counts,
    //     exact distincts, min/max as one report row per column, all from
    //     ONE aggregation pass (Spark plans the multi-distinct as a single
    //     Expand + two-stage agg). The shard-health check a pipeline runs
    //     before ingesting a crawl; profiles of many shards union into a
    //     longitudinal drift table.
    Q("q200_profile", Some(
      Seq("doc_id", "text", "lang", "source", "n_chars").map { c => s"""
        SELECT '$c' AS col_name, count(*) AS n_rows,
               count(*) FILTER (WHERE $c IS NULL) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               CAST(min($c) AS VARCHAR) AS min_s,
               CAST(max($c) AS VARCHAR) AS max_s
        FROM documents"""
      }.mkString(" UNION ALL ") + " ORDER BY col_name"),
      (s, dir) => graft.operators.Profile.columns(Db(s, dir).documents,
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("col_name")),

    // --- q201: referential-integrity audit — per declared FK, child rows
    //     whose non-null key has no parent (downstream inner joins DROP
    //     those rows silently). Each FK is one aggregated left join
    //     against the parent's DISTINCT key set; NULL keys reported
    //     separately (unknown ≠ dangling).
    Q("q201_ref_integrity", Some(
      Seq(
        ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey")
      ).map { case (name, child, ck, parent, pk) => s"""
        SELECT '$name' AS fk, count(*) AS n_child,
               count(*) FILTER (WHERE $ck IS NULL) AS n_null_keys,
               count(*) FILTER (WHERE $ck IS NOT NULL AND NOT EXISTS
                 (SELECT 1 FROM $parent WHERE $pk = $ck)) AS n_orphans
        FROM $child"""
      }.mkString(" UNION ALL ") + " ORDER BY fk"),
      (s, dir) => {
        val db = Db(s, dir)
        import graft.operators.Audit.Fk
        graft.operators.Audit.refIntegrity(Seq(
          Fk("events.user_id->customer", db.events, "user_id",
            db.customer, "c_custkey"),
          Fk("lineitem.l_orderkey->orders", db.lineitem, "l_orderkey",
            db.orders, "o_orderkey"),
          Fk("lineitem.l_partkey->part", db.lineitem, "l_partkey",
            db.part, "p_partkey"),
          Fk("lineitem.l_suppkey->supplier", db.lineitem, "l_suppkey",
            db.supplier, "s_suppkey"),
          Fk("orders.o_custkey->customer", db.orders, "o_custkey",
            db.customer, "c_custkey")
        )).orderBy("fk")
      }),

    // --- q202: equi-DEPTH feature binning WITHOUT a global sort — the
    //     q197 equi-width bin table is reduced to a ≤ nBins-row bin→depth
    //     map by exact-integer NTILE arithmetic on the cumulative counts,
    //     then broadcast-joined back: two scans, zero wide shuffles,
    //     boundaries approximate to one equi-width bin. The oracle replays
    //     bins, cumulative map, and assignment in the same BIGINT math.
    Q("q202_equidepth_bins", Some("""
      WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      b AS (SELECT (least(59999999, greatest(0, cents)) * 1024) // 60000000
                     AS bucket, count(*) AS n
            FROM c GROUP BY 1),
      m AS (SELECT bucket,
              CAST(((sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                     - n) * 8) // (sum(n) OVER ()) + 1 AS BIGINT) AS depth
            FROM b),
      a AS (SELECT cents, (least(59999999, greatest(0, cents)) * 1024)
                     // 60000000 AS bucket FROM c)
      SELECT depth, count(*) AS n_orders, min(cents) AS lo_cents,
             max(cents) AS hi_cents
      FROM a JOIN m USING (bucket) GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.operators.Histogram.assignEquiDepth(
          Db(s, dir).orders.select(col("o_orderkey"), col("o_totalprice")),
          col("o_totalprice"), loCents = 0L, hiCents = 60000000L,
          nBins = 1024, nBuckets = 8)
        .groupBy("depth")
        .agg(count(lit(1)).as("n_orders"),
          min(floor(col("o_totalprice") * 100).cast("long")).as("lo_cents"),
          max(floor(col("o_totalprice") * 100).cast("long")).as("hi_cents"))
        .orderBy("depth")),

    // --- q203: bigram language-model fluency scoring — the perplexity-
    //     style quality filter, in exact integer arithmetic: corpus-level
    //     bigram counts, each doc scored by the mean scaled conditional
    //     frequency of its bigrams. The oracle replays counts, per-bigram
    //     scores, and the final integer mean bit-for-bit.
    // --- q205: STREAMING count-min sketch — the incremental face of q190:
    //     the portable (row, col, c) counter table maintained over a token
    //     stream in complete mode, so the aggregation STATE is the sketch
    //     and is bounded at depth×width rows however long the stream runs.
    //     Tokens arrive in three micro-batches; the final sink table must
    //     equal the batch sketch, which the oracle replays cell-for-cell
    //     from the same md5 hash family.
    Q("q205_stream_cms", Some("""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t
                    FROM documents WHERE doc_id < 2000),
      h AS (SELECT ('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483647 AS h
            FROM toks),
      perm AS (SELECT j,
          ('0x' || substring(md5('a' || j), 1, 7))::BIGINT * 2 + 1 AS pa,
          ('0x' || substring(md5('b' || j), 1, 7))::BIGINT AS pb
        FROM (VALUES (0), (1), (2), (3)) jj(j))
      SELECT j AS row, ((pa * h + pb) % 2147483647) % 256 AS col,
             count(*) AS c
      FROM h, perm GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        import s.implicits._
        val toks = Db(s, dir).documents.where(col("doc_id") < 2000)
          .select(explode(split(col("text"), " ")).as("t"))
          .as[String].collectFeed()
        // complete mode truncates the memory sink per batch: the table IS
        // the final (bounded, <= depth*width rows) sketch
        MicroBatchGate.run(s, "q205", MicroBatchGate.split(toks, 3), "complete")(
            input => graft.streaming.CorpusStreams.cmsCounters(
              input.toDF("t"), col("t"), depth = 4, width = 256))
          .orderBy("row", "col")
      }),

    // --- q204: sketch-algebra join-size estimation — the AMS/CMS inner
    //     product: per depth row, Σ_col cA·cB over the two sides' portable
    //     counter tables (q190's md5 hash family), min over rows = an
    //     always-over estimate of |A ⋈ B| without running the join. Both
    //     sides reduce to ≤ depth·width counters first, so the estimate
    //     costs a sketch-sized join however large the inputs. The oracle
    //     replays both counter tables and every product in exact BIGINT.
    Q("q204_join_size_sketch", Some("""
      WITH perm AS (SELECT j,
          ('0x' || substring(md5('a' || j), 1, 7))::BIGINT * 2 + 1 AS pa,
          ('0x' || substring(md5('b' || j), 1, 7))::BIGINT AS pb
        FROM (VALUES (0), (1), (2), (3)) jj(j)),
      ha AS (SELECT ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
                      % 2147483647 AS h FROM lineitem),
      ca AS (SELECT j AS row, ((pa * h + pb) % 2147483647) % 512 AS col,
               count(*) AS c
             FROM ha, perm GROUP BY 1, 2),
      hb AS (SELECT ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                      % 2147483647 AS h FROM orders),
      cb AS (SELECT j AS row, ((pa * h + pb) % 2147483647) % 512 AS col,
               count(*) AS c
             FROM hb, perm GROUP BY 1, 2)
      SELECT p.j AS row, CAST(coalesce(sum(ca.c * cb.c), 0) AS BIGINT) AS s
      FROM (SELECT DISTINCT j FROM perm) p
      LEFT JOIN ca ON ca.row = p.j
      LEFT JOIN cb ON cb.row = p.j AND cb.col = ca.col
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val db = Db(s, dir)
        graft.operators.Cms.joinSizeRows(
            graft.operators.Cms.counters(db.lineitem, col("l_orderkey"),
              depth = 4, width = 512),
            graft.operators.Cms.counters(db.orders, col("o_orderkey"),
              depth = 4, width = 512),
            depth = 4)
          .orderBy("row")
      }),

    Q("q203_lm_score", Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      i AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
      bg AS (SELECT doc_id, ws[i] AS x, ws[i+1] AS y FROM i),
      cxy AS (SELECT x, y, count(*) AS c_xy FROM bg GROUP BY 1, 2),
      cx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cxy GROUP BY 1),
      s AS (SELECT bg.doc_id,
              CAST((c.c_xy * 1000000) // m.c_x AS BIGINT) AS sc
            FROM bg JOIN cxy c USING (x, y) JOIN cx m USING (x))
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(sc) // count(*) AS BIGINT) AS lm_score
      FROM s GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.operators.Corpus.bigramLmScore(
          Db(s, dir).documents, "doc_id", "text")
        .orderBy("doc_id")),

    // --- q214: STREAMING HyperLogLog — q185's distinct-user register
    //     sketch maintained incrementally: the aggregation state IS the
    //     per-(event_type, bucket) max-rank table, bounded at groups×m
    //     rows however long the stream runs, and max-merge is order- and
    //     batch-boundary-independent, so the final sink table equals the
    //     batch sketch bit-for-bit — the oracle replays the q185 md5
    //     family over the same rows.
    Q("q214_stream_hll", Some("""
      WITH h AS (
        SELECT event_type,
          ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events),
      b AS (SELECT event_type, h % 64 AS bucket, h // 64 AS w FROM h)
      SELECT event_type, bucket,
        max(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END) AS register
      FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        import s.implicits._
        val rows = Db(s, dir).events
          .select(col("event_type"), col("user_id"))
          .as[(String, Long)].collectFeed()
        MicroBatchGate.run(s, "q214", MicroBatchGate.split(rows, 3), "complete")(
            input => graft.streaming.EventStreams.hllRegisters(
              input.toDF("event_type", "user_id"),
              Seq("event_type"), col("user_id"), m = 64))
          .orderBy("event_type", "bucket")
      }),

    // --- q224: STREAMING exact dedup at ingest — Spark's
    //     dropDuplicatesWithinWatermark over (user_id, event_type): the
    //     first arrival of a key is emitted exactly once (append mode)
    //     and later copies are dropped while the key's state lives; the
    //     watermark delay IS the declared dedup horizon, so state is
    //     bounded by the distinct keys of one horizon, not the stream's
    //     lifetime. Here the delay covers the whole 30-day fixture, so
    //     the sink must equal batch DISTINCT exactly — the oracle.
    Q("q224_stream_dedup", Some("""
      SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2"""),
      (s, dir) => {
        import s.implicits._
        val rows = Db(s, dir).events
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .as[(Long, String, Long)].collectFeed()
        // no-data micro-batches OFF for this query (r16, guide §1/§5):
        // they exist to advance the watermark so eviction/emission can
        // happen without new data, but dedup EMITS each first arrival in
        // its data batch and nothing evicts under the 40-day horizon —
        // the probe showed 3 eviction-only batches at ~220 ms each (a
        // third of the gate's wall) producing zero rows. The sink table
        // is bit-identical with them off.
        MicroBatchGate.run(s, "q224", MicroBatchGate.split(rows, 3), "append",
            noDataBatches = false)(input =>
          input.toDF("user_id", "event_type", "us")
            .withColumn("ts", timestamp_micros(col("us")))
            .withWatermark("ts", "40 days")
            .dropDuplicatesWithinWatermark("user_id", "event_type")
            .select("user_id", "event_type"))
          .orderBy("user_id", "event_type")
      }),

    // --- q229: STREAMING CDC-latest materialization — q194's delete-aware
    //     changelog compaction maintained incrementally: complete-mode
    //     max_by state of ONE struct per key under the (ts, event_id)
    //     total order, so the sink equals the batch window result however
    //     the stream is batched; a key whose newest op is a delete
    //     vanishes. The oracle is q194's SQL.
    Q("q229_stream_cdc_latest", Some("""
      WITH log AS (SELECT user_id, ts, event_id, value,
          CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
        FROM events),
      r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn FROM log)
      SELECT user_id, ts AS last_ts,
             CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS last_value
      FROM r WHERE rn = 1 AND op = 'U'
      ORDER BY user_id"""),
      (s, dir) => {
        import s.implicits._
        val rows = Db(s, dir).events
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("event_id"),
            Db.dec(col("value")).cast("double").as("value"),
            when(col("event_type") === "purchase", "D").otherwise("U").as("op"))
          .as[(Long, Long, Long, Double, String)].collectFeed()
        MicroBatchGate.run(s, "q229", MicroBatchGate.split(rows, 3), "complete")(
            input => graft.streaming.EventStreams.cdcLatest(
              input.toDF("user_id", "us", "tie", "value", "op")
                .withColumn("ts", timestamp_micros(col("us"))
                  .cast("timestamp_ntz")),
              Seq("user_id")))
          .orderBy("user_id")
      }),

    // --- q230: STREAMING top-k leaderboard — complete-mode token counts
    //     with a deterministic (count desc, token asc) total order and
    //     LIMIT: the live-ranking face of q64's word count; aggregation
    //     state is one counter per distinct token and the sink equals the
    //     batch top-20 bit-for-bit.
    Q("q230_stream_topk", Some("""
      SELECT w AS t, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id < 2000)
      GROUP BY 1 ORDER BY n DESC, t LIMIT 20"""),
      (s, dir) => {
        import s.implicits._
        val toks = Db(s, dir).documents.where(col("doc_id") < 2000)
          .select(explode(split(col("text"), " ")).as("t"))
          .as[String].collectFeed()
        MicroBatchGate.run(s, "q230", MicroBatchGate.split(toks, 3), "complete")(
            input => graft.streaming.EventStreams.topK(input.toDF("t"), "t", k = 20))
          .orderBy(col("n").desc, col("t"))
      }),

    // --- q247: STREAMING histogram maintenance — the distribution member
    //     of the portable-sketch family run incrementally (HLL q214, CMS
    //     q205, histogram HERE): q197's exact-BIGINT bucket arithmetic
    //     over an arriving price stream in complete mode; the aggregation
    //     state IS the bin table (≤ nBins counters), count-merge makes it
    //     batching-independent, and the sink equals the batch sketch over
    //     the same rows bit-for-bit.
    Q("q247_stream_histogram", Some("""
      WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders
                 WHERE o_totalprice IS NOT NULL AND o_orderkey % 2 = 1)
      SELECT (least(59999999, greatest(0, cents)) * 1024) // 60000000 AS bucket,
             count(*) AS n
      FROM c GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        import s.implicits._
        val live = Db(s, dir).orders
          .where(col("o_orderkey") % 2 === 1 && col("o_totalprice").isNotNull)
          .select(col("o_totalprice")).as[Double].collectFeed()
        MicroBatchGate.run(s, "q247", MicroBatchGate.split(live, 3), "complete")(
            input => graft.operators.Histogram.bins(input.toDF("price"), col("price"),
              loCents = 0L, hiCents = 60000000L, nBins = 1024))
          .orderBy("bucket")
      })
  )
}
