package graft.queries

import graft.Db
import graft.streaming.HarnessClock.FeedOps
import graft.streaming.MicroBatchGate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity: brute-force cosine top-k (baseline), cosine near-dup
  * pairs, random-hyperplane LSH ANN (scale path), per-label vector stats.
  *
  * Dot products promote float→double and fold left-to-right in BOTH engines
  * (Spark `aggregate` ≡ DuckDB `list_reduce`), so scores are bit-identical and
  * safe to round/compare. The LSH variant's buckets are hash-specific →
  * rows-only; its recall vs brute force is asserted in VectorOpsSpec.
  */
object VectorOps {

  // library operators (table-agnostic): graft.operators.Similarity
  def dot(a: Column, b: Column): Column = graft.operators.Similarity.dot(a, b)
  def norm(a: Column): Column = graft.operators.Similarity.norm(a)
  def cosine(a: Column, b: Column): Column = graft.operators.Similarity.cosine(a, b)

  /** DuckDB twin of `dot`: same element order, same double promotion. */
  private[queries] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)""".stripMargin

  private[queries] def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Exact L2 distance as the same left fold both engines run: Σ(aᵢ−bᵢ)²
    * accumulated element-by-element (self-multiply, not pow — pow(x,2) is
    * not guaranteed to be an exact IEEE multiply), then one sqrt. */
  private[queries] def l2(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v))

  private[queries] def l2Sql(a: String, b: String): String =
    s"""sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1),
       |        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |             * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), (x, y) -> x + y))""".stripMargin

  /** Execute an ANN query ONCE, register the re-rank verification oracle
    * over the ids it actually returned (%IDS% in `template`), and hand the
    * already-computed rows back as a local frame (so Verify's write does not
    * run the search twice). An empty result registers nothing — the driver
    * then records the weaker rows-only check instead of a vacuous pass. */
  private def rerankOracle(name: String,
                           out: DataFrame, template: String): DataFrame = {
    val rows = out.collect()
    val ids = rows.map(_.get(0).toString)
    if (ids.nonEmpty)
      DynamicOracles.put(name, template.replace("%IDS%", ids.mkString(", ")))
    out.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  val all: Seq[Q] = Seq(
    // --- q59: embedding-cosine near-dup pairs (block on nothing: exact O(n²),
    //     the verification baseline; LSH below is the scale path)
    Q("q59_embedding_neardup", Some(s"""
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos_sim
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND ${cosineSql("a.embedding", "b.embedding")} >= 0.4
      ORDER BY a_id, b_id"""),
      (s, dir) =>
        // the exact-oracle query calls the exact scan EXPLICITLY: the guarded
        // default (nearDupPairs) would silently switch to lossy LSH above its
        // row guard, breaking the oracle at a larger SF. The guarded routing
        // itself is asserted in VectorOpsSpec.
        graft.operators.Similarity
          .nearDupPairsExact(Db(s, dir).embeddings, "vec_id", "embedding", 0.4)
          .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
          .orderBy("a_id", "b_id")),

    // --- q74: LSH-bucketed near-dup pairs (the 100 TB path: bucket equi-join
    //     candidate generation + exact cosine re-rank; precision 1.0 by
    //     construction). Bucket membership is hash-specific, but every
    //     reported pair's score is an exact cosine — the re-rank oracle
    //     recomputes it in DuckDB for the returned pairs WITH the ≥ 0.4
    //     threshold re-applied, so a below-threshold emission fails on row
    //     count. Recall vs the exact scan stays asserted in VectorOpsSpec.
    Q("q74_embedding_neardup_lsh", None,
      (s, dir) => {
        val out = graft.operators.Similarity
          .nearDupPairsLsh(Db(s, dir).embeddings, "vec_id", "embedding", 0.4)
          .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
          .orderBy("a_id", "b_id")
        val rows = out.collect()
        if (rows.nonEmpty) {
          val rel = DynamicOracles.pairsRelation("q74_embedding_neardup_lsh",
            rows.map(r => (r.get(0), r.get(1))).toSeq)
          DynamicOracles.put("q74_embedding_neardup_lsh", s"""
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos_sim
            FROM embeddings a
            JOIN embeddings b ON a.vec_id < b.vec_id
            JOIN $rel p ON p.a_id = a.vec_id AND p.b_id = b.vec_id
            WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4
            ORDER BY a_id, b_id""")
        }
        out.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), out.schema)
      }),

    // --- q60: brute-force cosine top-k ANN baseline (query = vec_id 0)
    Q("q60_ann_bruteforce", Some(s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, round(${cosineSql("embedding", "qv")}, 4) AS cos_sim
      FROM embeddings, q WHERE vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val e = Db(s, dir).embeddings
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), norm(col("embedding")).as("qn"))
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(dot(col("embedding"), col("qv"))
              / (norm(col("embedding")) * col("qn")), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      }),

    // --- q61: random-hyperplane LSH ANN (multi-table bucketed candidate gen
    //     → exact re-rank). Buckets are engine-specific (xxhash64 planes),
    //     but the reported scores are EXACT cosines — so the query registers
    //     a re-rank verification oracle: DuckDB independently recomputes the
    //     exact cosine of every returned id and the driver diffs the full
    //     result (id set, scores, order).
    Q("q61_ann_lsh", None,
      (s, dir) => {
        val e = Db(s, dir).embeddings
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val qBuckets = lshBuckets(q.select(col("qv").as("embedding")),
          nTables = 8, planesPerTable = 6).select("table", "bucket")
        val cands = lshBuckets(e, nTables = 8, planesPerTable = 6)
          .join(broadcast(qBuckets), Seq("table", "bucket"))
          .filter(col("vec_id") =!= 0)
          .select("vec_id", "embedding").distinct()
        val out = cands.crossJoin(broadcast(q))
          .select(col("vec_id"), round(cosine(col("embedding"), col("qv")), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
        rerankOracle("q61_ann_lsh", out, s"""
          WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          SELECT vec_id, round(${cosineSql("embedding", "qv")}, 4) AS cos_sim
          FROM embeddings, q WHERE vec_id IN (%IDS%)
          ORDER BY cos_sim DESC, vec_id""")
      }),

    // --- q78: IVF ANN (coarse k-means quantizer + materialized inverted
    //     file + nProbe cell probe + exact re-rank) — the inverted-file
    //     scale path next to LSH (q61). The index is BUILT once (assign +
    //     partitionBy(ivf_cell) layout) and the probe reads only the probed
    //     cells' partitions — a PartitionFilters-pruned scan with no cell
    //     assignment on the query path (plan asserted in VectorOpsSpec).
    //     Codebook is data/float-order-specific → rows-only; recall vs brute
    //     force asserted in VectorOpsSpec.
    Q("q78_ann_ivf", None,
      (s, dir) => {
        val e = Db(s, dir).embeddings
        val idx = ivfIndexPath(dir)
        ivfBuilt.computeIfAbsent(idx, p => {
          graft.operators.Similarity.ivfBuild(
            e.filter(col("vec_id") =!= 0), "vec_id", "embedding", p, k = 16)
          java.lang.Boolean.TRUE
        })
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val out = graft.operators.Similarity
          .ivfProbeTopK(s, idx, "vec_id", "embedding", q, k = 10, nProbe = 4)
          .select(col("vec_id"), round(col("cos"), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        // probed cells are codebook-specific, but the reported scores are
        // exact cosines → DuckDB re-rank verification of the returned ids
        rerankOracle("q78_ann_ivf", out, s"""
          WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          SELECT vec_id, round(${cosineSql("embedding", "qv")}, 4) AS cos_sim
          FROM embeddings, q WHERE vec_id IN (%IDS%)
          ORDER BY cos_sim DESC, vec_id""")
      }),

    // --- q93: int8 symmetric quantization roundtrip error (per-vector scale
    //     = max|v|/127, floor-based quantize so every step is an exact IEEE
    //     op — no rounding-mode divergence between engines; max is an
    //     order-independent fold)
    Q("q93_embedding_quantize", Some("""
      WITH q AS (
        SELECT label,
          greatest(list_reduce(list_prepend(0.0,
            list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
            (a, b) -> greatest(a, b)), 1e-30) / 127 AS scale,
          embedding
        FROM embeddings),
      e AS (
        SELECT label, scale,
          list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding) + 1),
            i -> abs(CAST(embedding[i] AS DOUBLE)
                     - floor(CAST(embedding[i] AS DOUBLE) / scale) * scale))),
            (a, b) -> greatest(a, b)) AS err
        FROM q)
      SELECT label, round(max(err), 6) AS max_err, round(max(scale), 6) AS max_scale
      FROM e GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val amax = aggregate(
          transform(col("embedding"), e => abs(e.cast("double"))),
          lit(0.0), (a, b) => greatest(a, b))
        val err = aggregate(
          transform(col("embedding"), e =>
            abs(e.cast("double") - floor(e.cast("double") / col("scale")) * col("scale"))),
          lit(0.0), (a, b) => greatest(a, b))
        Db(s, dir).embeddings
          .select(col("label"), (greatest(amax, lit(1e-30)) / 127).as("scale"),
            col("embedding"))
          .select(col("label"), col("scale"), err.as("err"))
          .groupBy("label")
          .agg(round(max("err"), 6).as("max_err"),
            round(max("scale"), 6).as("max_scale"))
          .orderBy("label")
      }),

    // --- q63: per-label vector statistics
    Q("q63_vector_stats", Some(s"""
      SELECT label, count(*) AS n,
        round(avg(sqrt(${dotSql("embedding", "embedding")})), 4) AS avg_norm,
        round(min(sqrt(${dotSql("embedding", "embedding")})), 6) AS min_norm,
        round(max(sqrt(${dotSql("embedding", "embedding")})), 6) AS max_norm
      FROM embeddings GROUP BY label ORDER BY label"""),
      (s, dir) => {
        val norm = sqrt(dot(col("embedding"), col("embedding")))
        Db(s, dir).embeddings
          .withColumn("nrm", norm)
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(avg(col("nrm")), 4).as("avg_norm"),
            round(min(col("nrm")), 6).as("min_norm"),
            round(max(col("nrm")), 6).as("max_norm"))
          .orderBy("label")
      }),

    // --- q126: product-quantization ANN (16 sub-codebooks, ADC scoring) —
    //     the compact-code scale path that pairs with IVF: the top-k scan
    //     reads m ints per vector, never the floats. Selection is by the
    //     engine-specific ADC distance (codebooks are data/float-order
    //     bound), so the OUTPUT reports the exact L2 of the selected ids —
    //     recomputed from the raw floats with an engine-portable left fold —
    //     and registers the DuckDB re-rank oracle over the same ids. ADC
    //     recall vs exact L2 and the compression ratio stay asserted in
    //     VectorOpsSpec.
    Q("q126_pq_topk", None,
      (s, dir) => {
        val e = Db(s, dir).embeddings
        val books = graft.operators.Similarity
          .pqCodebooks(e, "vec_id", "embedding")
        val codes = graft.operators.Similarity
          .pqEncode(e.filter(col("vec_id") =!= 0), "vec_id", "embedding", books)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding")).collect()(0).getSeq[Any](0).map {
            case f: Float => f.toDouble
            case d: Double => d
            case null => 0.0
          }.toArray
        val picked = graft.operators.Similarity
          .pqTopK(codes, "vec_id", q, books, k = 10)
          .select("vec_id")
        val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val out = e.join(picked, Seq("vec_id")).crossJoin(broadcast(qv))
          .select(col("vec_id"), round(l2(col("embedding"), col("qv")), 4).as("l2_dist"))
          .orderBy("vec_id")
        rerankOracle("q126_pq_topk", out, s"""
          WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          SELECT vec_id, round(${l2Sql("embedding", "qv")}, 4) AS l2_dist
          FROM embeddings, q WHERE vec_id IN (%IDS%)
          ORDER BY vec_id""")
      }),

    // --- q177: distributed fixed-iteration k-means (operators/KMeans) —
    //     Lloyd assignment AND centroid update as shuffle joins over every
    //     row (vs the bounded-sample driver-side codebooks of IVF/PQ), in
    //     exact micro-unit integer arithmetic so both rounds replay
    //     term-for-term in the oracle: floor(x·10⁶) quantization, integer
    //     squared-L2, truncating centroid division (Spark `div` ≡ DuckDB
    //     `//` on BIGINT), argmin ties to the lowest centroid id.
    Q("q177_kmeans", Some(s"""
      $kmeansChainSql
      SELECT vec_id, cid AS cluster FROM a2 ORDER BY vec_id"""),
      (s, dir) => graft.operators.KMeans.lloydFixed(
          Db(s, dir).embeddings, "vec_id", "embedding", k = 8, iters = 2)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy("vec_id")),

    // --- q246: STREAMING nearest-centroid scoring (KMeans
    //     .nearestCentroid) — model inference at ingest: q177's trained
    //     centroids (k·d-bounded, driver-collected exact longs) become a
    //     MAP-ONLY argmin projection over the arriving embedding stream,
    //     so scoring needs zero streaming state beyond one counter per
    //     cluster; the sink equals the batch assignment census (q177's
    //     own oracle chain aggregated) bit-for-bit.
    Q("q246_stream_centroid_assign", Some(s"""
      $kmeansChainSql
      SELECT cid AS cluster, count(*) AS n FROM a2
      GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        import s.implicits._
        val emb = Db(s, dir).embeddings
        // train batch-side; collect the k·d-bounded quantized model
        val cent = graft.operators.KMeans.lloydModel(
            emb, "vec_id", "embedding", k = 8, iters = 2)._2
          .collect().groupBy(_.getInt(0))
          .map { case (cid, rows) =>
            (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
          }.toSeq
        val live = emb
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .as[(Long, Seq[Double])].collectFeed()
        MicroBatchGate.run(s, "q246", MicroBatchGate.split(live, 2), "complete")(
            input => input.toDF("vec_id", "embedding")
              .select(graft.operators.KMeans.nearestCentroid(
                col("embedding"), cent).as("cluster"))
              .groupBy("cluster").agg(count(lit(1)).as("n")))
          .orderBy("cluster")
      })
  )

  /** The 2-iteration exact-integer Lloyd oracle chain shared by q177 and
    * q246 — ONE definition so a seed/tie-break fix can never leave one
    * copy stale. Ends at a2 (final assignment) with c1 = the centroids
    * that assignment was scored against. */
  private def kmeansChainSql = """WITH v AS (
        SELECT vec_id, i AS dim,
          CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
        FROM embeddings, range(1, 65) t(i)),
      init AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
      c0 AS (SELECT init.cid, v.dim, v.x AS c FROM v JOIN init USING (vec_id)),
      d1 AS (SELECT v.vec_id, c0.cid,
               CAST(sum((v.x - c0.c) * (v.x - c0.c)) AS BIGINT) AS dist
             FROM v JOIN c0 ON v.dim = c0.dim GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid, row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cid) AS rn
               FROM d1) t WHERE rn = 1),
      c1 AS (SELECT a1.cid, v.dim, CAST(sum(v.x) AS BIGINT) // count(*) AS c
             FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2),
      d2 AS (SELECT v.vec_id, c1.cid,
               CAST(sum((v.x - c1.c) * (v.x - c1.c)) AS BIGINT) AS dist
             FROM v JOIN c1 ON v.dim = c1.dim GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid, row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cid) AS rn
               FROM d2) t WHERE rn = 1)"""

  def lshBuckets(df: DataFrame, nTables: Int, planesPerTable: Int, dim: Int = 64): DataFrame =
    graft.operators.Similarity.lshBuckets(df, "embedding", nTables, planesPerTable, dim)

  /** Index location per (process, sf dir); built at most once per process —
    * the build-once / probe-many split is the point of an inverted file. */
  private[queries] def ivfIndexPath(dir: String): String =
    s"$scratchRoot/ivf/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
  private val ivfBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
}
