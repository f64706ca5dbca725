package graft.queries

import graft.Db
import graft.Db.dec
import graft.operators.Corpus
import org.apache.spark.sql.functions._

/** Training-data-pipeline operator gates, round 3: second columnar format
  * (ORC), reproducible hash-based splits and stratified sampling, regex
  * scrubbing, repetition-ratio quality scoring, power-of-two length
  * histograms, bucketed-table joins and hive-partitioned layouts. Every gate
  * carries an exact DuckDB oracle on the same inputs.
  */
object Pipeline {

  private val orcPath = s"$scratchRoot/orc/supplier"
  private val evoPath = s"$scratchRoot/evo/documents"
  private val partPath = s"$scratchRoot/part/documents"
  private val zPath = s"$scratchRoot/zorder/lineitem"
  private val fragPath = s"$scratchRoot/frag/documents"
  private val compactPath = s"$scratchRoot/compact/documents"
  private val pidTag = ProcessHandle.current().pid()

  val all: Seq[Q] = Seq(
    // --- q97: ORC sink + source roundtrip — values must survive the format
    //     change bit-exactly, so the oracle reads the original parquet
    Q("q97_orc_source", Some(s"""
      SELECT s_nationkey, count(*) AS n,
             CAST(sum(${DEC("s_acctbal")}) AS DOUBLE) AS sum_bal
      FROM supplier GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        graft.sources.Orc.save(Db(s, dir).supplier, orcPath)
        graft.sources.Orc.load(s, orcPath)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("s_acctbal"))).cast("double").as("sum_bal"))
          .orderBy("s_nationkey")
      }),

    // --- q253: schema-evolution read — a corpus written in two shard
    //     generations (v1: doc_id/text/lang; v2 adds source/n_chars,
    //     the real shape of a crawl that grew metadata) read back as ONE
    //     table via parquet mergeSchema: v1 rows surface the new columns
    //     as NULL, and the aggregate proves the union semantics. The
    //     oracle replays the generational split from the source table.
    Q("q253_schema_evolution", Some("""
      SELECT lang, count(*) AS n,
        count(CASE WHEN doc_id % 2 = 1 THEN source END) AS n_with_source,
        CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
          AS sum_chars
      FROM documents GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val docs = Db(s, dir).documents
        docs.where(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang")
          .write.mode("overwrite").parquet(s"$evoPath/gen=v1")
        docs.where(col("doc_id") % 2 === 1)
          .write.mode("overwrite").parquet(s"$evoPath/gen=v2")
        s.read.option("mergeSchema", "true").parquet(evoPath)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            count(col("source")).as("n_with_source"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      }),

    // --- q98: reproducible train/val/test split via content-stable md5
    //     buckets (NOT rand(): reruns, repartitions, and the oracle engine
    //     must all agree on every row's assignment)
    Q("q98_hash_split", Some("""
      WITH b AS (
        SELECT *, ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 AS bucket
        FROM documents),
      s AS (SELECT *, CASE WHEN bucket < 80 THEN 'train'
                           WHEN bucket < 90 THEN 'val'
                           ELSE 'test' END AS split FROM b)
      SELECT split, count(*) AS n, min(doc_id) AS min_id,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM s GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        Corpus.hashSplit(Db(s, dir).documents, col("doc_id"))
          .groupBy("split")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("split")),

    // --- q99: regex scrub (PII-redaction shape) over the events props JSON
    Q("q99_regex_scrub", Some("""
      SELECT regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
             count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
      FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        Corpus.scrub(Db(s, dir).events, "props", "[0-9]+", "#")
          .groupBy(col("props").as("scrubbed"))
          .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"))
          .orderBy("scrubbed")),

    // --- q100: repetition ratio (most-repeated-word share) — the cheap
    //     boilerplate/spam quality signal, exact per-doc values
    Q("q100_repetition_ratio", Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents WHERE doc_id < 300),
      f AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2)
      SELECT doc_id,
             round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 4) AS rep_ratio
      FROM f GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        Corpus.repetitionRatio(
            Db(s, dir).documents.filter(col("doc_id") < 300), "doc_id", "text")
          .select(col("doc_id"), round(col("rep_ratio"), 4).as("rep_ratio"))
          .orderBy("doc_id")),

    // --- q172: Gopher-style within-document repetition signals (Rae et al.
    //     2021 §A1.1 at word granularity): duplicate-word mass, heaviest
    //     word-2-gram character mass, and a keep verdict at the published
    //     0.30 / 0.20 thresholds via integer cross-multiplication (no float
    //     comparison on either engine). Map-only: per-row array lambdas in
    //     whole-stage codegen, zero shuffles at any corpus size. DuckDB's
    //     range(1, n) is already empty at n=1, so only the Spark side needs
    //     the sub-2-word guard (its sequence(0, -1) would descend).
    Q("q172_repetition_signals", Some("""
      WITH w AS (
        SELECT doc_id, length(text) AS len_chars,
               string_split(text, ' ') AS ws,
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1]) AS gs
        FROM documents)
      SELECT doc_id,
        CAST(len(ws) AS INT) AS n_words,
        CAST(len(ws) - len(list_distinct(ws)) AS INT) AS dup_words,
        CAST(coalesce(list_max(list_transform(list_distinct(gs),
          x -> len(list_filter(gs, y -> y = x)) * length(x))), 0) AS INT)
          AS top2_chars,
        CAST(len_chars AS INT) AS len_chars,
        (len(ws) - len(list_distinct(ws))) * 10 <= len(ws) * 3
          AND coalesce(list_max(list_transform(list_distinct(gs),
            x -> len(list_filter(gs, y -> y = x)) * length(x))), 0) * 5
            <= len_chars AS keep
      FROM w ORDER BY doc_id"""),
      (s, dir) =>
        Corpus.repetitionSignals(Db(s, dir).documents, "doc_id", "text")
          .orderBy("doc_id")),

    // --- q101: deterministic stratified sampling — per-stratum hash-bucket
    //     rates (20% of English docs, 10% of everything else)
    Q("q101_stratified_sample", Some("""
      SELECT lang, count(*) AS n, min(doc_id) AS min_id,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':' || lang), 1, 6))::BIGINT % 100
            < CASE WHEN lang = 'en' THEN 20 ELSE 10 END
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        Corpus.stratifiedSample(Db(s, dir).documents, "lang",
            concat(col("doc_id").cast("string"), lit(":"), col("lang")),
            Map("en" -> 20), defaultPct = 10)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")),

    // --- q102: power-of-two document-length histogram; the bucket is
    //     length(bin(n)) = floor(log2 n)+1, computed in INTEGER domain on
    //     both engines (float log2 at exact powers of two is an ulp trap)
    Q("q102_length_histogram", Some("""
      SELECT lang, CAST(length(bin(n_chars)) AS INT) AS len_bucket,
             count(*) AS n
      FROM documents WHERE n_chars > 0
      GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) =>
        Db(s, dir).documents.filter(col("n_chars") > 0)
          .groupBy(col("lang"), length(bin(col("n_chars"))).as("len_bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "len_bucket")),

    // --- q103: bucketed-table join — both sides pre-bucketed on the join
    //     key, so the join runs with NO shuffle exchange (the cluster-scale
    //     analog of the reference's hash index, /root/reference/src/indexing/
    //     Indexer.java:23-37; exchange-freeness asserted in SourcesSpec);
    //     results must equal the plain parquet join
    Q("q103_bucketed_join", Some(s"""
      SELECT n_name, count(*) AS n,
             CAST(sum(${DEC("s_acctbal")}) AS DOUBLE) AS sum_bal
      FROM nation, supplier WHERE n_nationkey = s_nationkey
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val d = Db(s, dir)
        graft.GraftSession.writeBucketed(
          d.nation.select("n_nationkey", "n_name"), s"graft_q103_nation_$pidTag",
          "n_nationkey", 8)
        graft.GraftSession.writeBucketed(
          d.supplier.select("s_nationkey", "s_acctbal"), s"graft_q103_supplier_$pidTag",
          "s_nationkey", 8)
        s.table(s"graft_q103_nation_$pidTag")
          .join(s.table(s"graft_q103_supplier_$pidTag"),
            col("n_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("s_acctbal"))).cast("double").as("sum_bal"))
          .orderBy("n_name")
      }),

    // --- q105: semantic dedup clusters — connected components over exact
    //     embedding-cosine near-dup pairs (the embedding-space twin of q91's
    //     text clusters; oracle = recursive-CTE reachability)
    Q("q105_semantic_clusters", Some(s"""
      WITH RECURSIVE p AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND ${VectorOps.cosineSql("a.embedding", "b.embedding")} >= 0.4),
      edges AS (SELECT a_id AS src, b_id AS dst FROM p
                UNION SELECT b_id, a_id FROM p),
      reach(id, m) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.src, r.m FROM edges e JOIN reach r ON e.dst = r.id)
      SELECT id AS vec_id, min(m) AS cluster FROM reach
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val emb = Db(s, dir).embeddings
        val pairs = graft.operators.Similarity
          .nearDupPairsExact(emb, "vec_id", "embedding", 0.4)
        graft.operators.TextDedup.duplicateClusters(emb, "vec_id", pairs)
          .orderBy("vec_id")
      }),

    // --- q106: sequence packing — concatenate-then-chunk documents into
    //     512-token context windows, then per-bin occupancy stats
    Q("q106_sequence_pack", Some("""
      WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, n_tok,
              sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS start_tok FROM t)
      SELECT CAST(floor(start_tok / 512.0) AS BIGINT) AS seq_bin,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc
      FROM c GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        // the GLOBAL single-tape packing, explicitly: the oracle packs one
        // global tape, and the guarded packSequences would silently switch
        // to sharded bins above its row guard
        Corpus.packSequencesGlobal(Db(s, dir).documents, "doc_id",
            size(split(col("text"), " ")), 512)
          .groupBy("seq_bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("n_tokens"),
            min(col("doc_id")).as("first_doc"))
          .orderBy("seq_bin")),

    // --- q114: shard-parallel sequence packing — the 100 TB path of q106:
    //     per-shard token tapes (content-stable md5 shard), window
    //     PARTITIONED on the shard (no single-partition global sort; plan
    //     asserted in PipelineSpec). Oracle packs each shard identically.
    Q("q114_sequence_pack_sharded", Some("""
      WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
                   ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 8 AS shard
                 FROM documents),
      c AS (SELECT doc_id, shard, n_tok,
              sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok AS start_tok
            FROM t)
      SELECT shard, CAST(floor(start_tok / 512.0) AS BIGINT) AS seq_bin,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc
      FROM c GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) =>
        Corpus.packSequencesSharded(Db(s, dir).documents, "doc_id",
            size(split(col("text"), " ")), 512, nShards = 8)
          .groupBy("shard", "seq_bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("n_tokens"),
            min(col("doc_id")).as("first_doc"))
          .orderBy("shard", "seq_bin")),

    // --- q107: train/eval contamination — docs outside src0 sharing a
    //     5-gram with the src0 "benchmark" slice; single-row summary so the
    //     gate stays meaningful at every SF (hash-shingle join on the Spark
    //     side ≡ string-shingle join in the oracle)
    Q("q107_contamination", Some("""
      WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS sp
                 FROM documents),
      e AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(range(1, len(sp) - 3),
                i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' ||
                     sp[i+3] || ' ' || sp[i+4]))) AS s
            FROM t),
      ev AS (SELECT DISTINCT s FROM e WHERE source = 'src0'),
      c AS (SELECT DISTINCT e.doc_id FROM e JOIN ev ON e.s = ev.s
            WHERE e.source <> 'src0')
      SELECT (SELECT count(*) FROM c) AS n_contaminated,
             (SELECT count(*) FROM documents WHERE source <> 'src0') AS n_train,
             (SELECT coalesce(min(doc_id), -1) FROM c) AS min_contaminated"""),
      (s, dir) => {
        val docs = Db(s, dir).documents
        val hits = graft.operators.TextDedup.contaminated(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text", n = 5)
        hits.agg(count(lit(1)).as("n_contaminated"))
          .crossJoin(docs.filter(col("source") =!= "src0")
            .agg(count(lit(1)).as("n_train")))
          .crossJoin(hits.agg(
            coalesce(min(col("doc_id")), lit(-1L)).as("min_contaminated")))
      }),

    // --- q176: STREAMING decontamination twin (CorpusStreams.contaminated)
    //     — the q107 check as it runs at ingest: stream-static semi-join of
    //     arriving docs' shingle hashes against the static benchmark set,
    //     emitted ids deduped by quarantine-list state. Here the operator
    //     runs on the batch frame (the plan degrades to exactly
    //     TextDedup.contaminated); the incremental micro-batch form —
    //     docs arriving across micro-batches, same final set — is asserted
    //     in StreamingSpec.
    Q("q176_stream_decontamination", Some("""
      WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS sp
                 FROM documents),
      e AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(range(1, len(sp) - 3),
                i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' ||
                     sp[i+3] || ' ' || sp[i+4]))) AS s
            FROM t),
      ev AS (SELECT DISTINCT s FROM e WHERE source = 'src0')
      SELECT DISTINCT e.doc_id FROM e JOIN ev ON e.s = ev.s
      WHERE e.source <> 'src0' ORDER BY doc_id"""),
      (s, dir) => {
        val docs = Db(s, dir).documents
        graft.streaming.CorpusStreams.contaminated(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"), "doc_id", "text", n = 5)
          .orderBy("doc_id")
      }),

    // --- q287: STREAMING shared-span decontamination
    //     (CorpusStreams.spanContaminated) — q284's anchor-hash family at
    //     ingest: every 8-token window of an arriving document semi-joined
    //     against a static quarantine anchor table (here built from the
    //     src0 benchmark via TextDedup.spanAnchorTable), flagging verbatim
    //     overlap BEFORE the document lands, with evidence: matched-window
    //     count and the longest consecutive matched run (+k−1 = longest
    //     verbatim span in tokens) from a sorted-positions fold — no
    //     per-pair window, state bounded by contamination mass. Batch
    //     frame here (the plan degrades to the batch sweep the oracle
    //     replays); the incremental micro-batch form is asserted in
    //     StreamingSpec.
    Q("q287_stream_span_decontamination", Some("""
      WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS w
        FROM documents),
      aw AS (SELECT doc_id, source, unnest(list_transform(range(1, len(w) - 6),
          i -> {p: i - 1,
                h: ('0x' || substring(md5(array_to_string(w[i:i+7], ' ')),
                    1, 15))::BIGINT})) AS a
        FROM tk WHERE len(w) >= 8),
      qa AS (SELECT DISTINCT a.h AS h FROM aw WHERE source = 'src0'),
      m AS (SELECT aw.doc_id, a.p AS p FROM aw JOIN qa ON qa.h = a.h
            WHERE source <> 'src0'),
      r AS (SELECT doc_id, p,
              p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS isl
            FROM m),
      g AS (SELECT doc_id, isl, count(*) AS run FROM r GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_anchors,
        CAST(max(run) + 7 AS BIGINT) AS max_span_tokens
      FROM g GROUP BY 1 ORDER BY doc_id"""),
      (s, dir) => {
        val docs = Db(s, dir).documents
        graft.streaming.CorpusStreams.spanContaminated(
            docs.filter(col("source") =!= "src0"),
            graft.operators.TextDedup.spanAnchorTable(
              docs.filter(col("source") === "src0"), "doc_id", "text", 8),
            "doc_id", "text", k = 8)
          .orderBy("doc_id")
      }),

    // --- q113: dedup-keep-latest — latest-record-wins per (user, type),
    //     executed on the TopKPerKey physical operator (bounded shuffle)
    Q("q113_dedup_latest", Some("""
      SELECT user_id, event_type, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts DESC, event_id) AS rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id, event_type"""),
      (s, dir) =>
        Corpus.keepLatest(Db(s, dir).events,
            Seq("user_id", "event_type"), "ts", "event_id")
          .select(col("user_id"), col("event_type"), col("event_id"),
            floor(col("value") * 100).cast("long").as("cents"))
          .orderBy("user_id", "event_type")),

    // --- q174: per-domain quota sampling — cap each source at k docs,
    //     chosen by a REPRODUCIBLE hash rank (md5 of the doc id), the
    //     standard pretraining-mix guard against one domain dominating the
    //     corpus. Runs on the TopKPerKey physical operator: a single
    //     hash-partitioned shuffle on source with per-partition bounded
    //     heaps — no global sort, no window materializing all rows per key,
    //     so a 100 TB corpus with a billion-doc domain still holds only
    //     k rows per key per partition in memory. Oracle: the equivalent
    //     row_number window over the same portable rank.
    Q("q174_domain_cap", Some("""
      SELECT source, doc_id, rk FROM (
        SELECT source, doc_id,
          ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS rk,
          row_number() OVER (PARTITION BY source
            ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
                     doc_id) AS rn
        FROM documents) t
      WHERE rn <= 10
      ORDER BY source, rk, doc_id"""),
      (s, dir) => graft.plans.TopK.perKey(
          Db(s, dir).documents.withColumn("rk",
            graft.operators.TextDedup.portableHash60(
              col("doc_id").cast("string"))),
          Seq("source"), Seq(("rk", true), ("doc_id", true)), 10)
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk", "doc_id")),

    // --- q179: blocked fuzzy name matching (operators/FuzzyJoin) — entity
    //     resolution on part names: candidates only meet inside a
    //     (first-token, length-bucket) block (Σ|block|², never n²), the
    //     levenshtein verifier runs on candidates alone, and both engines
    //     implement plain Levenshtein so the oracle replays verdicts
    //     exactly.
    Q("q179_fuzzy_match", Some("""
      WITH k AS (
        SELECT doc_id AS rid, substring(text, 1, 48) AS rname,
          split_part(substring(text, 1, 48), ' ', 1) || '#' ||
            split_part(substring(text, 1, 48), ' ', 2) || '#' ||
            CAST(length(substring(text, 1, 48)) // 8 AS VARCHAR) AS bk
        FROM documents)
      SELECT a.rid AS a_id, b.rid AS b_id,
             levenshtein(a.rname, b.rname) AS dist
      FROM k a JOIN k b ON a.bk = b.bk AND a.rid < b.rid
      WHERE levenshtein(a.rname, b.rname) <= 8
      ORDER BY a_id, b_id"""),
      (s, dir) => {
        // two-token blocking: 30x fewer candidates than the single-token
        // default at zero lost matches on this corpus (see FuzzyJoin doc)
        val prefix = substring(col("text"), 1, 48)
        graft.operators.FuzzyJoin.blockedNameMatch(
          Db(s, dir).documents.select(col("doc_id"), prefix.as("prefix")),
          "doc_id", "prefix", maxDist = 8,
          blockKey = concat_ws("#",
            split_part(col("prefix"), lit(" "), lit(1)),
            split_part(col("prefix"), lit(" "), lit(2)),
            (length(col("prefix")) / 8).cast("long").cast("string")))
        .orderBy("a_id", "b_id")
      }),

    // --- q180: deterministic weighted sampling (Corpus.prioritySample,
    //     Duffield–Lund–Thorup priority sampling) — the quality-weighted
    //     corpus subsample, integer-only so the md5-derived priorities and
    //     the top-n cut replay bit-for-bit in the oracle; executes as one
    //     map pass + TakeOrderedAndProject (per-partition heaps, no global
    //     sort).
    Q("q180_priority_sample", Some("""
      SELECT doc_id, weight, priority FROM (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
          (CAST(length(text) AS BIGINT) * 1048576)
            // ((('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                // 1048576) + 1) AS priority
        FROM documents) t
      ORDER BY priority DESC, doc_id LIMIT 200"""),
      (s, dir) => graft.operators.Corpus.prioritySample(
          Db(s, dir).documents, col("doc_id"), length(col("text")), n = 200)
        .select("doc_id", "weight", "priority")),

    // --- q181: passage-level exact dedup (Corpus.passageDedup) — the
    //     C4/GPT-3 recipe at sub-document granularity: drop repeated
    //     32-word passages corpus-wide (first (doc,pos) occurrence wins,
    //     integer winner key), reassemble documents from survivors. One
    //     passage-hash shuffle with map-side partial min; no windows, no
    //     UDFs.
    Q("q181_passage_dedup", Some("""
      WITH base AS (SELECT doc_id AS did, string_split(text, ' ') AS ws FROM documents),
      p0 AS (
        SELECT did,
          UNNEST(range(CAST(ceil(len(ws) / 32.0) AS BIGINT))) AS pos,
          UNNEST(list_transform(range(CAST(ceil(len(ws) / 32.0) AS BIGINT)),
            i -> array_to_string(ws[i*32+1 : i*32+32], ' '))) AS passage
        FROM base),
      p AS (SELECT did, pos, passage, did * 1048576 + pos AS wk FROM p0),
      w AS (SELECT passage, min(wk) AS minwk FROM p GROUP BY 1)
      SELECT did AS doc_id, count(*) AS n_passages,
        CAST(sum(CASE WHEN p.wk = w.minwk THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
        coalesce(string_agg(CASE WHEN p.wk = w.minwk THEN p.passage END,
                            ' ' ORDER BY p.pos), '') AS clean_text
      FROM p JOIN w USING (passage)
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.operators.Corpus.passageDedup(
          Db(s, dir).documents, "doc_id", "text", passageWords = 32)
        .orderBy("doc_id")),

    // --- q186: sliding-window chunking (Corpus.chunk) — the RAG/embedding
    //     ingest step: 16-word chunks every 8 words (50% overlap), chunk
    //     ids in document order. Map-only codegen; the oracle replays the
    //     same slicing arithmetic over DuckDB lists.
    Q("q186_chunking", Some("""
      WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               len(string_split(text, ' ')) AS n
        FROM documents),
      c AS (
        SELECT doc_id, n,
          UNNEST(range(CAST(ceil(greatest(n - 16, 0) / 8.0) AS BIGINT) + 1)) AS chunk_id,
          UNNEST(list_transform(
            range(CAST(ceil(greatest(n - 16, 0) / 8.0) AS BIGINT) + 1),
            i -> array_to_string(ws[i*8+1 : i*8+16], ' '))) AS chunk_text
        FROM base)
      SELECT doc_id, chunk_id,
        CAST(least(16, n - chunk_id * 8) AS BIGINT) AS n_words, chunk_text
      FROM c ORDER BY doc_id, chunk_id"""),
      (s, dir) => graft.operators.Corpus.chunk(
          Db(s, dir).documents, "doc_id", "text",
          chunkWords = 16, strideWords = 8)
        .orderBy("doc_id", "chunk_id")),

    // --- q111: end-to-end pipeline composition — the operators chained the
    //     way a training-data job actually runs them: scrub → exact-dedup
    //     winners → quality threshold → reproducible split → per-split stats
    Q("q111_e2e_pipeline", Some("""
      WITH scrubbed AS (
        SELECT doc_id, lang, regexp_replace(text, '[0-9]+', '#', 'g') AS text
        FROM documents),
      w AS (SELECT min(doc_id) AS doc_id, text FROM scrubbed GROUP BY text),
      q AS (SELECT doc_id,
          least(1.0, len(string_split(text,' ')) / 100.0)
            * (len(list_distinct(string_split(text,' '))) / len(string_split(text,' '))) AS quality
        FROM w),
      kept AS (SELECT doc_id FROM q WHERE quality >= 0.2),
      sp AS (
        SELECT k.doc_id, s.lang,
          CASE WHEN ('0x' || substring(md5(k.doc_id::VARCHAR), 1, 6))::BIGINT % 100 < 80
               THEN 'train'
               WHEN ('0x' || substring(md5(k.doc_id::VARCHAR), 1, 6))::BIGINT % 100 < 90
               THEN 'val' ELSE 'test' END AS split
        FROM kept k JOIN scrubbed s ON k.doc_id = s.doc_id)
      SELECT split, lang, count(*) AS n, min(doc_id) AS min_id
      FROM sp GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val docs = Db(s, dir).documents
        val scrubbed = Corpus.scrub(docs, "text", "[0-9]+", "#")
        val kept = Corpus.clean(scrubbed, "doc_id", "text", 0.2).select("doc_id")
        Corpus.hashSplit(
            kept.join(scrubbed.select("doc_id", "lang"), Seq("doc_id")),
            col("doc_id"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
          .orderBy("split", "lang")
      }),

    // --- q104: hive-partitioned layout — write partitioned by lang, read
    //     back with a partition filter (pruned directory scan), aggregate;
    //     the oracle runs the same filter over the original table
    Q("q104_partitioned_scan", Some("""
      SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE lang = 'en'
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        Db(s, dir).documents.write.mode("overwrite")
          .partitionBy("lang").parquet(partPath)
        s.read.parquet(partPath)
          .filter(col("lang") === "en")
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      }),

    // --- q123: z-order clustered layout — lineitem rewritten Morton-
    //     interleaved on (l_orderkey, l_partkey), then a 2-D box predicate
    //     over the clustered copy. Every output file carries a bounded
    //     min/max box in BOTH keys (LayoutSpec quantifies the file pruning
    //     vs a linear sort); the oracle runs the same box over the
    //     original table, since clustering must never change results
    Q("q123_zorder_scan", Some("""
      SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_partkey) AS BIGINT) AS sum_pk
      FROM lineitem
      WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_partkey BETWEEN 100 AND 400"""),
      (s, dir) => {
        graft.operators.Layout.writeZOrdered(
          Db(s, dir).lineitem.select("l_orderkey", "l_partkey", "l_quantity"),
          "l_orderkey", "l_partkey", zPath, nFiles = 16)
        s.read.parquet(zPath)
          .filter(col("l_orderkey").between(1000, 3000) &&
            col("l_partkey").between(100, 400))
          .agg(count(lit(1)).as("n"),
            sum(col("l_orderkey")).as("sum_ok"),
            sum(col("l_partkey")).as("sum_pk"))
      }),

    // --- q124: small-file compaction — a deliberately fragmented ingest
    //     (64 files) rewritten into ~target-byte files; content parity is
    //     the oracle (over the ORIGINAL table — compaction must be
    //     lossless), file-count reduction is asserted in LayoutSpec
    Q("q124_compact", Some("""
      SELECT count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents"""),
      (s, dir) => {
        Db(s, dir).documents.repartition(64)
          .write.mode("overwrite").parquet(fragPath)
        graft.operators.Layout
          .compact(s, fragPath, compactPath, targetBytes = 8L << 20)
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"),
            sum(col("n_chars")).as("sum_chars"))
      }),

    // --- q125: exact top-k heavy hitters via per-partition Misra-Gries
    //     candidate pruning + exact recount of candidates only (guarded
    //     fallback keeps it exact under any skew) — the oracle is the plain
    //     full aggregation the operator avoids shuffling at scale
    Q("q125_heavy_hitters", Some("""
      WITH t AS (SELECT unnest(string_split(text, ' ')) AS hh_key FROM documents),
      g AS (SELECT hh_key, count(*) AS n FROM t WHERE hh_key <> '' GROUP BY 1)
      SELECT hh_key, n FROM g ORDER BY n DESC, hh_key LIMIT 20"""),
      (s, dir) =>
        Corpus.heavyHitters(
          Db(s, dir).documents
            .select(explode(split(col("text"), " ")).as("tok"))
            .filter(col("tok") =!= ""),
          col("tok"), k = 20))
  )
}
