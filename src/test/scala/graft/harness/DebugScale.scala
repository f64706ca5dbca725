package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-decade scaling measurement for the scale-critical operator family
  * (dedup + WCOJ): times each operator at sf0.1 and at a synthesized 10×
  * (sf1.0-equivalent) input and reports the observed scaling exponent
  * (log10 of the time ratio across the decade; 1.0 = linear). Results are
  * transcribed into docs/PERF.md.
  *
  * The 10× corpus is ten copies of sf0.1 documents with every token
  * suffixed per-copy, so copies share NO shingles: near-dup structure
  * replicates linearly instead of cross-linking the copies into a clique
  * (which would grow the OUTPUT ~45× and measure output size, not the
  * operator). The 10× graphs hold average degree constant while nodes ×10,
  * so edges, wedges and triangles all grow ×10 — linear workload growth by
  * construction.
  */
object DebugScale {
  /** /proc/stat (steal ticks, total ticks) from one read — the
    * shared-physical-host contention reading: a decade row taken in a
    * stolen window measures the hypervisor, not the operator, so every
    * SCALE line carries its own steal%. The total sums fields 1..8
    * (user..steal) only: guest/guest_nice are already folded into
    * user/nice. */
  private def stealSample(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      (f(8).toLong, f.slice(1, 9).map(_.toLong).sum)
    } catch { case _: Exception => (-1L, -1L) }

  /** Two timed runs of `f` (the SCALE protocol every decade table uses);
    * returns the min so one-time planning/JIT cost never lands in a row. */
  private def bestOf2(label: String)(f: => Long): Double = {
    def once(): Double = {
      val (s0, tt0) = stealSample()
      val t0 = System.nanoTime(); val c = f
      val t = (System.nanoTime() - t0) / 1e9
      val (s1, tt1) = stealSample()
      val st = if (s0 < 0 || tt1 <= tt0) -1.0 else 100.0 * (s1 - s0) / (tt1 - tt0)
      println(f"SCALE $label%-28s $t%8.2f s rows=$c steal=$st%.1f%%")
      t
    }
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.create()
    import graft.operators.TextDedup
    import graft.plans.Leapfrog
    if (args.length > 1 && args(1) == "second") {
      secondDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "routes") {
      routesDecade(spark); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "newops") {
      newOpsDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "text2") {
      textSecondDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "r11ops") {
      r11OpsDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "newops2") {
      newOps2Decade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "statsops") {
      statsOpsDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "sessops") {
      sessOpsDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "sessops2") {
      sessOps2Decade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "sessops3") {
      sessOps3Decade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "govops") {
      govOpsDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "govops2") {
      govOps2Decade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "r14ops") {
      r14OpsDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "denseops") {
      denseOpsDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "rankxover") {
      rankXoverDecade(spark, sfDir); spark.stop(); return
    }
    if (args.length > 1 && args(1) == "govops3") {
      govOps3Decade(spark, sfDir, args.drop(2).headOption.getOrElse("all"))
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "rankcmp") {
      rankCmpDecade(spark, sfDir); spark.stop(); return
    }

    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    val docs10 = (0 until 10).map { k =>
      docs1.select((col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " ").as("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    println(s"SCALE docs: ${docs1.count()} -> ${docs10.count()}")

    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    def ratePair(name: String, f: DataFrame => Long): Unit = {
      val t1 = bestOf2(s"$name @1x")(f(docs1))
      val t10 = bestOf2(s"$name @10x")(f(docs10))
      results += ((name, t1, t10))
    }
    ratePair("q55_jaccard",
      d => TextDedup.jaccardPairs(d, "doc_id", "text", 0.3).count())
    ratePair("q56_minhash_lsh",
      d => TextDedup.minhashLshPairs(d, "doc_id", "text", 0.3).count())
    ratePair("q57_simhash",
      d => TextDedup.simhashPairs(d, "doc_id", "text", 3).count())
    ratePair("q91_clusters",
      d => TextDedup.duplicateClusters(d, "doc_id",
        TextDedup.minhashLshPairs(d, "doc_id", "text", 0.3)).count())

    // graphs: ascending random, constant degree across the decade
    def graph(n: Int, per10k: Int): DataFrame = spark.range(0, n.toLong * n)
      .select((col("id") / n).cast("long").as("src"),
        (col("id") % n).cast("long").as("dst"))
      .where(col("src") < col("dst") &&
        pmod(hash(col("src"), col("dst")), lit(10000)) < per10k)
      .localCheckpoint(true)
    val g1 = graph(3000, 220)   // m ~ 99k, avg degree ~66
    val g10 = graph(30000, 22)  // m ~ 990k, avg degree ~66
    println(s"SCALE edges: ${g1.count()} -> ${g10.count()}")

    def triRels(e: DataFrame) = Seq(
      (e.toDF("a", "b"), Seq("a", "b")),
      (e.toDF("b", "c"), Seq("b", "c")),
      (e.toDF("a", "c"), Seq("a", "c")))
    def cycRels(e: DataFrame) = Seq(
      (e.toDF("a", "b"), Seq("a", "b")),
      (e.toDF("b", "c"), Seq("b", "c")),
      (e.toDF("c", "d"), Seq("c", "d")),
      (e.toDF("a", "d"), Seq("a", "d")))
    def graphPair(name: String, f: DataFrame => Long): Unit = {
      val t1 = bestOf2(s"$name @1x")(f(g1))
      val t10 = bestOf2(s"$name @10x")(f(g10))
      results += ((name, t1, t10))
    }
    graphPair("q155_wcoj_triangle", { e =>
      val m = e.count()
      val rels = triRels(e)
      Leapfrog.join(spark, rels, Seq("a", "b", "c"),
        Leapfrog.autoShares(rels.map { case (_, vs) => (vs, m) },
          Seq("a", "b", "c"), 32)).count()
    })
    graphPair("q158_wcoj_cycle4_dyn", { e =>
      val m = e.count()
      val rels = cycRels(e)
      Leapfrog.join(spark, rels, Seq("a", "b", "c", "d"),
        Leapfrog.autoShares(rels.map { case (_, vs) => (vs, m) },
          Seq("a", "b", "c", "d"), 32), dynamicOrder = true).count()
    })

    println("SCALE ===== exponent table (1.0 = linear across the decade) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
    spark.stop()
  }

  /** Decade rows for the round-11 token-stream operators: skip-gram pair
    * generation (the q191 shape — per-row codegen pair production, one
    * count aggregation) and the count-min counter build (q190 shape —
    * map-side-partial aggregation bounded at depth×width output). Corpus
    * scaling as everywhere: token-suffixed copies, so the 10× corpus has
    * 10× tokens AND 10× distinct (center, context) keys — workload grows
    * linearly, the CMS output stays fixed. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 r11ops`. */
  private def r11OpsDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.Cms
    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    val docs10 = (0 until 10).map { k =>
      docs1.select((col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " ").as("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    println(s"SCALE docs: ${docs1.count()} -> ${docs10.count()}")
    def skipgram(d: DataFrame): Long =
      graft.operators.Corpus.skipgramPairs(d, "text", 2)
        .groupBy("center", "context")
        .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 5).count()
    def cms(d: DataFrame): Long =
      Cms.counters(d.select(explode(split(col("text"), " ")).as("t")),
        col("t"), depth = 4, width = 1024).count()
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    results += (("q191_skipgram", bestOf2("q191_skipgram @1x")(skipgram(docs1)),
      bestOf2("q191_skipgram @10x")(skipgram(docs10))))
    results += (("q190_cms", bestOf2("q190_cms @1x")(cms(docs1)),
      bestOf2("q190_cms @10x")(cms(docs10))))
    println("SCALE ===== r11 ops decade exponents (1.0 = linear) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Decade rows (10×→100×, 50k→500k docs) for the heaviest round-11
    * additions: the FULL canonical-dedup chain (q199 — jaccard pairs →
    * cluster labels → per-cluster survivor via TopKPerKey) and bigram
    * LM scoring (q203 — pair counts, marginals, per-doc integer mean).
    * Token-suffixed copies as everywhere: workload replicates linearly,
    * no cross-copy shingles/bigrams. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 newops2`. */
  private def newOps2Decade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.{Corpus, TextDedup}
    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text", "n_chars").localCheckpoint(true)
    def copies(k: Int): DataFrame = (0 until k).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ").as("text"),
        col("n_chars"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val docs10 = copies(10)
    val docs100 = copies(100)
    println(s"SCALE docs: ${docs10.count()} -> ${docs100.count()}")
    def canonical(d: DataFrame): Long = {
      val clusters = TextDedup.duplicateClusters(d, "doc_id",
        TextDedup.jaccardPairs(d, "doc_id", "text", 0.3))
      TextDedup.canonicalPerCluster(clusters, d, "doc_id",
        Seq(("n_chars", false))).count()
    }
    def lm(d: DataFrame): Long =
      Corpus.bigramLmScore(d, "doc_id", "text").count()
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    results += (("q199_canonical", bestOf2("q199_canonical @10x")(canonical(docs10)),
      bestOf2("q199_canonical @100x")(canonical(docs100))))
    results += (("q203_lm_score", bestOf2("q203_lm_score @10x")(lm(docs10)),
      bestOf2("q203_lm_score @100x")(lm(docs100))))
    println("SCALE ===== new-ops second-decade exponents (1.0 = linear) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Constant-average-degree random graph shared by the session decade
    * harnesses: n nodes, ~n·per10k/10000·n/2 edges via a hash filter. */
  private def decadeGraph(spark: org.apache.spark.sql.SparkSession,
      n: Int, per10k: Int): DataFrame = spark.range(0, n.toLong * n)
    .select((col("id") / n).cast("long").as("src"),
      (col("id") % n).cast("long").as("dst"))
    .where(col("src") < col("dst") &&
      pmod(hash(col("src"), col("dst")), lit(10000)) < per10k)
    .localCheckpoint(true)

  /** Decade rows for the final closing-session shapes: Newman modularity
    * (two degree join-backs + two aggregations over constant-degree
    * graphs ×10) and the clamped-balance sorted-array fold (events ×10
    * via NEW user ids, so key count grows and per-key series stays
    * constant — the fold's documented contract; per-key series growth
    * is the caller's sharding responsibility). Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 sessops3`. */
  private def sessOps3Decade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.{Graph, Temporal}
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val g1 = decadeGraph(spark, 3000, 220)
    val g10 = decadeGraph(spark, 30000, 22)
    println(s"SCALE edges: ${g1.count()} -> ${g10.count()}")
    def mod(e: DataFrame): Long = {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
      val seeds = nodes.where(col("node") % 10 === 0)
        .withColumn("label", col("node") % 3)
      val lab = Graph.labelPropagationFixed(e, seeds, rounds = 2)
        .withColumnRenamed("label", "community")
      Graph.modularity(e, lab).count()
    }
    results += (("q249_modularity",
      bestOf2("q249_mod @1x")(mod(g1)),
      bestOf2("q249_mod @10x")(mod(g10))))

    val ev1 = Db(spark, sfDir).events
      .select("user_id", "ts", "event_id", "event_type", "value")
      .localCheckpoint(true)
    val ev10 = (0 until 10).map { i =>
      ev1.select((col("user_id") + lit(i.toLong * 100000000L)).as("user_id"),
        col("ts"), (col("event_id") + lit(i.toLong * (1L << 40)))
          .as("event_id"), col("event_type"), col("value"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    println(s"SCALE events: ${ev1.count()} -> ${ev10.count()}")
    def bal(d: DataFrame): Long = {
      val cents = (Db.dec(col("value")) * 100).cast("long")
      Temporal.clampedRunningBalance(
        d.select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", -cents).otherwise(cents)
            .as("delta")),
        Seq("user_id"), col("ts"), col("event_id"), col("delta")).count()
    }
    results += (("q251_clamped_balance",
      bestOf2("q251_bal @1x")(bal(ev1)),
      bestOf2("q251_bal @10x")(bal(ev10))))

    println("SCALE ===== session-ops-3 decade exponents =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Decade rows for the round-12 governance/quality operators — ONE
    * parameterized runner for both decades (govops = 1×→10×, govops2 =
    * 10×→100×) so the dataset builders and operator thunks cannot
    * drift between captures. Events grow via NEW user ids (key count
    * ×N, per-key history constant — the documented per-key bound for
    * the fold/window ops; the double-event collision cells also
    * replicate linearly this way, where densifying EXISTING users
    * would grow the OUTPUT quadratically and measure pair count, not
    * the operator). Orders grow inside the same 5 priority groups —
    * the rank window's per-group sort is the cost under test. Rollup
    * merge scans raw ×N into a CONSTANT state size (types × hours is
    * fixed). Runs:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 govops`
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 govops2`. */
  private def govOpsDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit =
    govDecade(spark, sfDir, lo = 1, hi = 10, full = true,
      label = "governance-ops")

  /** SECOND decade (10×→100×) for the heaviest governance ops (first
    * decades sit at the overhead floor — the r8 lesson). See
    * [[govOpsDecade]] for the growth construction. */
  private def govOps2Decade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit =
    govDecade(spark, sfDir, lo = 10, hi = 100, full = true,
      label = "governance-ops SECOND")

  /** Decade rows for the round-12/13 AT-SCALE sketch paths — the only
    * flagship scale operators without exponents in PERF.md (VERDICT r12
    * #3) plus this round's additions:
    *
    *  - q280/q267 CROSSOVER: winsorized mean, sketch path vs rank-window
    *    path, on the same orders ×10 and ×100 fixtures (5 fixed priority
    *    groups — the per-group one-reducer sort is q267's cost);
    *  - q280/q281 GROUP-CARDINALITY row: same total rows, groups ×10
    *    (the axis the sketch path exists for — q267's sort serializes
    *    per group, the sketch is one hash aggregation whatever G is);
    *  - q281 quantiles, q283 median+MAD on the row decades;
    *  - q282 SRM χ² over documents ×10 → ×100 (copies with fresh
    *    doc_ids: split counts grow, the χ² fold stays 3 terms);
    *  - q284 shared-span dedup over token-salted docs ×10 → ×100 (the
    *    q199/q209 shingle-join treatment: no cross-copy windows, anchor
    *    workload replicates linearly).
    *
    * Measurement discipline learned the hard way on the first captures:
    * thunks materialize through `queryExecution.toRdd.count()` — a bare
    * `.count()` over these aggregates lets Catalyst PRUNE the aggregate
    * functions, which drops the rank-window columns feeding them and
    * with them the per-group sort itself, timing a distinct instead of
    * the operator (q267 at 15M rows "in 0.48 s"); and each data family
    * runs in its OWN JVM (`govops3 orders|events|docs`) so one family's
    * accumulated checkpoint blocks can't GC-pressure the next family's
    * numbers.
    *
    * Run: `tools/run.sh graft.DebugScale /root/testdata/sf0.1 govops3
    * [orders|events|docs|all]`. */
  private def govOps3Decade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, family: String): Unit = {
    import graft.operators.{Robust, Stats, TextDedup}
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    // UNPRUNED materialization: execute the plan exactly as a consumer
    // draining every output row would (the Bench discipline)
    def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

    if (family == "orders" || family == "all") {
    val ord1 = Db(spark, sfDir).orders
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .localCheckpoint(true)
    def ordX(copies: Int): DataFrame = (0 until copies).map { i =>
      ord1.select((col("o_orderkey") + lit(i.toLong * (1L << 40)))
        .as("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val ord10 = ordX(10); val ord100 = ordX(100)
    println(s"SCALE orders: ${ord10.count()} -> ${ord100.count()}")

    def winsorSketch(d: DataFrame): Long = exec(Robust.winsorizedAtScale(
      d.select(col("o_orderpriority"),
        (Db.dec(col("o_totalprice")) * 100).cast("long").as("cents")),
      Seq("o_orderpriority"), col("cents"), loCents = 0L,
      hiCents = 60000000L, nBins = 4096, pctPermille = 50))
    def winsorSort(d: DataFrame): Long = exec(Robust.winsorizedStats(d,
      Seq("o_orderpriority"),
      (Db.dec(col("o_totalprice")) * 100).cast("long"),
      col("o_orderkey"), pctPermille = 50))
    results += (("q280_winsor_sketch",
      bestOf2("q280_sketch @10x")(winsorSketch(ord10)),
      bestOf2("q280_sketch @100x")(winsorSketch(ord100))))
    results += (("q267_winsor_sort(xover)",
      bestOf2("q267_sort @10x")(winsorSort(ord10)),
      bestOf2("q267_sort @100x")(winsorSort(ord100))))

    def quant(d: DataFrame): Long = exec(Robust.quantilesAtScale(
      d.select(col("o_orderpriority"),
        (Db.dec(col("o_totalprice")) * 100).cast("long").as("cents")),
      Seq("o_orderpriority"), col("cents"), loCents = 0L,
      hiCents = 60000000L, nBins = 4096, Seq(500, 900, 990)))
    results += (("q281_quantiles",
      bestOf2("q281_quant @10x")(quant(ord10)),
      bestOf2("q281_quant @100x")(quant(ord100))))

    // group-cardinality axis: same ord100 rows, priority replaced by a
    // G-way derived key — G 50 → 500 at constant total rows
    def withG(d: DataFrame, g: Int): DataFrame =
      d.select(pmod(col("o_orderkey"), lit(g)).cast("string")
        .as("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    results += (("q280_sketch_groupsx10",
      bestOf2("q280_sketch G=50")(winsorSketch(withG(ord100, 50))),
      bestOf2("q280_sketch G=500")(winsorSketch(withG(ord100, 500)))))
    results += (("q267_sort_groupsx10",
      bestOf2("q267_sort G=50")(winsorSort(withG(ord100, 50))),
      bestOf2("q267_sort G=500")(winsorSort(withG(ord100, 500)))))
    }

    if (family == "events" || family == "all") {
    val ev1 = Db(spark, sfDir).events
      .select("event_type", "value", "event_id").localCheckpoint(true)
    def evX(copies: Int): DataFrame = (0 until copies).map { i =>
      ev1.select(col("event_type"), col("value"),
        (col("event_id") + lit(i.toLong * (1L << 40))).as("event_id"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val ev10 = evX(10); val ev100 = evX(100)
    println(s"SCALE events: ${ev10.count()} -> ${ev100.count()}")
    def mad(d: DataFrame): Long = exec(Robust.medianMadAtScale(
      d.select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents")),
      Seq("event_type"), col("cents"), loCents = 0L, hiCents = 51200L,
      nBins = 1024))
    results += (("q283_median_mad",
      bestOf2("q283_mad @10x")(mad(ev10)),
      bestOf2("q283_mad @100x")(mad(ev100))))
    // q285 shape: raw scan ×N into per-(type, shard) bin states, merge +
    // quantile answer read STATE only (constant size: types × shards ×
    // ≤ nBins) — the rollup-merge decade construction (q270)
    def qstate(d: DataFrame): Long = {
      val fine = d.select(col("event_type"),
        pmod(col("event_id"), lit(24)).as("shard"),
        floor(col("value") * 100).cast("long").as("cents"))
      val st = Robust.binState(fine, Seq("event_type", "shard"),
        col("cents"), loCents = 0L, hiCents = 51200L, nBins = 1024)
      exec(Robust.quantilesFromState(
        Robust.mergeBinState(st.drop("shard"), Seq("event_type")),
        Seq("event_type"), 0L, 51200L, 1024, Seq(500, 900, 990)))
    }
    results += (("q285_quantiles_state",
      bestOf2("q285_state @10x")(qstate(ev10)),
      bestOf2("q285_state @100x")(qstate(ev100))))
    }

    if (family == "docs" || family == "all") {
    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    def docsX(copies: Int, salt: Boolean): DataFrame = (0 until copies)
      .map { i =>
        val t = if (salt)
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"~$i"))), " ")
        else col("text")
        docs1.select((col("doc_id") + lit(i.toLong * 10000000L))
          .as("doc_id"), t.as("text"))
      }.reduce(_ union _).repartition(32).localCheckpoint(true)
    def srm(d: DataFrame): Long = exec(Stats.srmChi2(
      graft.operators.Corpus.hashSplit(d, col("doc_id")), col("split"),
      Seq(("train", 800), ("val", 100), ("test", 100))))
    val srm10 = docsX(10, salt = false); val srm100 = docsX(100, salt = false)
    println(s"SCALE srm docs: ${srm10.count()} -> ${srm100.count()}")
    results += (("q282_srm_chi2",
      bestOf2("q282_srm @10x")(srm(srm10)),
      bestOf2("q282_srm @100x")(srm(srm100))))

    val sp10 = docsX(10, salt = true); val sp100 = docsX(100, salt = true)
    println(s"SCALE span docs: ${sp10.count()} -> ${sp100.count()}")
    def spans(d: DataFrame): Long =
      exec(TextDedup.sharedSpanPairs(d, "doc_id", "text", k = 8, maxDf = 16))
    results += (("q284_shared_spans",
      bestOf2("q284_spans @10x")(spans(sp10)),
      bestOf2("q284_spans @100x")(spans(sp100))))
    }

    println("SCALE ===== at-scale sketch-path decade exponents =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-26s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Decade rows for the round-14 operators:
    *
    *  - Rank.atScale over the q260 shape (per-user spend aggregate,
    *    users ×10 → ×100 via fresh ids — the RANKED AXIS is what grows;
    *    the retired global row_number would sort it on one reducer);
    *  - q286 linearScore over documents ×10 → ×100 (map-shaped: explode
    *    + (doc, idx) agg + measured-size weight join + per-doc fold —
    *    expect ≈ linear work, strongly sub-linear wall on 32 cores);
    *  - q287 spanContaminated over documents ×10 → ×100 (unsalted copies:
    *    every copy of a contaminated doc matches the STATIC quarantine
    *    anchor table, so matched volume — and the aggregation state —
    *    grows linearly by construction).
    *
    * Same discipline as [[govOps3Decade]]: toRdd.count() materialization,
    * steal-stamped bestOf2 rows.
    * Run: `tools/run.sh graft.DebugScale /root/testdata/sf0.1 r14ops`. */
  private def r14OpsDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.{Features, Rank, TextDedup}
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

    val ev1 = Db(spark, sfDir).events
      .select("user_id", "value").localCheckpoint(true)
    def evX(copies: Int): DataFrame = (0 until copies).map { i =>
      ev1.select((col("user_id") + lit(i.toLong * 100000000L)).as("user_id"),
        col("value"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val ev10 = evX(10); val ev100 = evX(100)
    println(s"SCALE events: ${ev10.count()} -> ${ev100.count()}")
    def rank(d: DataFrame): Long = {
      val sp = d.groupBy("user_id")
        .agg(sum(floor(col("value")).cast("long")).as("a"))
      exec(Rank.atScale(sp.where(col("a") > 0),
        Seq(col("a"), col("user_id")), out = "r", totalOut = "n"))
    }
    results += (("rank_at_scale(q260)",
      bestOf2("rank @10x")(rank(ev10)),
      bestOf2("rank @100x")(rank(ev100))))
    // per-group variant on the RAW event rows (few huge groups — the
    // one-reducer-per-group window's worst case): event types stay ~8
    // while rows grow ×10, so the window path would hand each reducer
    // 10× the rows; the two-phase rank spreads each group across the
    // range partitions
    def rankG(d: DataFrame): Long = exec(Rank.atScalePerGroup(
      d.where(col("value").isNotNull)
        .withColumn("g", pmod(col("user_id"), lit(8)).cast("string"))
        .withColumn("c", floor(col("value") * 100).cast("long")),
      Seq("g"), Seq(col("c"), col("user_id")), out = "r", totalOut = "n"))
    results += (("rank_per_group(q288)",
      bestOf2("rankG @10x")(rankG(ev10)),
      bestOf2("rankG @100x")(rankG(ev100))))

    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "source", "text").localCheckpoint(true)
    def docsX(copies: Int): DataFrame = (0 until copies).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        col("source"), col("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val dx10 = docsX(10); val dx100 = docsX(100)
    println(s"SCALE docs: ${dx10.count()} -> ${dx100.count()}")

    val weights = Features.portableWeights(spark, 256).localCheckpoint(true)
    def score(d: DataFrame): Long = exec(Features.linearScore(
      d, "doc_id", "text", dim = 256, weights = weights, bias = -0.05))
    results += (("q286_linear_score",
      bestOf2("q286_score @10x")(score(dx10)),
      bestOf2("q286_score @100x")(score(dx100))))

    val quarantine = TextDedup.spanAnchorTable(
      docs1.where(col("source") === "src0"), "doc_id", "text", k = 8)
      .localCheckpoint(true)
    def spanc(d: DataFrame): Long = exec(
      graft.streaming.CorpusStreams.spanContaminated(
        d.where(col("source") =!= "src0"), quarantine,
        "doc_id", "text", k = 8))
    results += (("q287_span_decontam",
      bestOf2("q287_spanc @10x")(spanc(dx10)),
      bestOf2("q287_spanc @100x")(spanc(dx100))))

    println("SCALE ===== round-14 operator decade exponents =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** q286 table path vs q291 fused dense path on the same doc decades —
    * the comparison PERF.md cites for "the fused projection wins and
    * the gap widens": the table path pays the feature explode + weight
    * join + fold aggregation (three exchanges), the dense path is one
    * codegen projection. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 denseops`. */
  private def denseOpsDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.Features
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()
    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    def docsX(copies: Int): DataFrame = (0 until copies).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        col("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val dx10 = docsX(10); val dx100 = docsX(100)
    println(s"SCALE docs: ${dx10.count()} -> ${dx100.count()}")
    val table = Features.portableWeights(spark, 256).localCheckpoint(true)
    val arr = Features.portableWeightsArray(256)
    def viaTable(d: DataFrame): Long = exec(Features.linearScore(
      d, "doc_id", "text", 256, table, bias = -0.05))
    def viaDense(d: DataFrame): Long = exec(Features.linearScoreDense(
      d, "doc_id", "text", 256, arr, bias = -0.05))
    results += (("q286_table_path",
      bestOf2("q286_table @10x")(viaTable(dx10)),
      bestOf2("q286_table @100x")(viaTable(dx100))))
    results += (("q291_dense_path",
      bestOf2("q291_dense @10x")(viaDense(dx10)),
      bestOf2("q291_dense @100x")(viaDense(dx100))))
    println("SCALE ===== dense-vs-table quality-filter decade =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Per-group rank: plain window vs Rank.atScalePerGroup on the SAME
    * fixtures (8 fixed groups, rows 1M → 10M) — the q267-vs-q280-style
    * crossover statement for the rank family: the window path hands
    * each of 8 reducers rows/8 to sort alone; the two-phase rank
    * spreads every group across all range partitions. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 rankxover`. */
  private def rankXoverDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.Rank
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()
    val ev1 = Db(spark, sfDir).events
      .select("user_id", "value").localCheckpoint(true)
    def evX(copies: Int): DataFrame = (0 until copies).map { i =>
      ev1.select((col("user_id") + lit(i.toLong * 100000000L)).as("user_id"),
        col("value"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val ev10 = evX(10); val ev100 = evX(100)
    println(s"SCALE events: ${ev10.count()} -> ${ev100.count()}")
    def fixture(d: DataFrame): DataFrame = d
      .where(col("value").isNotNull)
      .withColumn("g", pmod(col("user_id"), lit(8)).cast("string"))
      .withColumn("c", floor(col("value") * 100).cast("long"))
    def twoPhase(d: DataFrame): Long = exec(Rank.atScalePerGroup(
      fixture(d), Seq("g"), Seq(col("c"), col("user_id")),
      out = "r", totalOut = "n"))
    def window(d: DataFrame): Long = exec(fixture(d)
      .withColumn("r", row_number().over(
        Window.partitionBy("g").orderBy(col("c"), col("user_id")))
        .cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("g"))))
    results += (("rank_window_path",
      bestOf2("rank_window @1M")(window(ev10)),
      bestOf2("rank_window @10M")(window(ev100))))
    results += (("rank_two_phase",
      bestOf2("rank_2phase @1M")(twoPhase(ev10)),
      bestOf2("rank_2phase @10M")(twoPhase(ev100))))
    println("SCALE ===== per-group rank crossover (8 fixed groups) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  private def govDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, lo: Int, hi: Int, full: Boolean,
      label: String): Unit = {
    import graft.operators.{Audit, Hll, Incremental, Robust, Temporal}
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val ev1 = Db(spark, sfDir).events
      .select("user_id", "ts", "event_id", "event_type", "value")
      .localCheckpoint(true)
    def evX(copies: Int): DataFrame = (0 until copies).map { i =>
      ev1.select((col("user_id") + lit(i.toLong * 100000000L)).as("user_id"),
        col("ts"), (col("event_id") + lit(i.toLong * (1L << 40)))
          .as("event_id"), col("event_type"), col("value"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val evLo = evX(lo); val evHi = evX(hi)
    println(s"SCALE events: ${evLo.count()} -> ${evHi.count()}")
    def pair(name: String, short: String, f: DataFrame => Long,
             a: DataFrame, b: DataFrame): Unit =
      results += ((name,
        bestOf2(s"$short @${lo}x")(f(a)),
        bestOf2(s"$short @${hi}x")(f(b))))

    pair("q266_sequence_funnel", "q266_funnel",
      d => Temporal.sequenceFunnel(d, Seq("user_id"),
        unix_micros(col("ts").cast("timestamp")), col("event_id"),
        col("event_type"), Seq("view", "click", "purchase")).count(),
      evLo, evHi)
    pair("q271_double_events", "q271_double",
      d => Audit.doubleEvents(d, Seq("user_id"),
        unix_micros(col("ts").cast("timestamp")), col("event_id"),
        floor(col("value")).cast("long"),
        windowMicros = 21600000000L).count(),
      evLo, evHi)
    // the score is SALTED per copy (the user-id offset recovers the copy
    // index) so DISTINCT scores grow ×N with the data — the global
    // prefix-sum axis is the cost under test; unsalted copies would
    // collapse to the same ~100k distinct values and measure only the scan
    pair("q277_auc", "q277_auc",
      d => graft.operators.Eval.aucExact(d,
        col("value") +
          (expr("user_id div 100000000") * 1000).cast("double"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)).count(),
      evLo, evHi)
    if (full) {
      pair("q269_sequence_gaps", "q269_gaps",
        d => Audit.sequenceGaps(d, Seq("user_id"), col("event_id")).count(),
        evLo, evHi)
      pair("q270_rollup_merge", "q270_rollup", { d =>
        val ev = d.select(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("user_id"))
        val merged = Incremental.mergeState(
          Incremental.aggState(ev, Seq("event_type", "hr"), col("cents")),
          Seq("event_type"))
        val est = Hll.estimate(Hll.merge(
          Hll.registers(ev, Seq("event_type", "hr"), col("user_id"), m = 64)
            .drop("hr"), Seq("event_type")), Seq("event_type"), m = 64)
        merged.join(est, "event_type").count()
      }, evLo, evHi)
    }

    val ord1 = Db(spark, sfDir).orders
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .localCheckpoint(true)
    def ordX(copies: Int): DataFrame = (0 until copies).map { i =>
      ord1.select((col("o_orderkey") + lit(i.toLong * (1L << 40)))
        .as("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val ordLo = ordX(lo); val ordHi = ordX(hi)
    println(s"SCALE orders: ${ordLo.count()} -> ${ordHi.count()}")
    pair("q267_winsorized", "q267_winsor",
      d => Robust.winsorizedStats(d, Seq("o_orderpriority"),
        (Db.dec(col("o_totalprice")) * 100).cast("long"),
        col("o_orderkey"), pctPermille = 50).count(),
      ordLo, ordHi)

    println(s"SCALE ===== $label decade exponents =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** SECOND decade (10×→100×) for the closing-session operators whose
    * first decade sat at the overhead floor — the r8 lesson is that
    * first decades flatter. Token-salted 100× documents (10× distinct
    * grams/items per copy step) for novelty/χ²; 10×→100× constant-degree
    * graphs for k-truss and label propagation. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 sessops2`. */
  private def sessOps2Decade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.{Corpus, Graph, Stats}
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text", "lang").localCheckpoint(true)
    def copies(k: Int): DataFrame = (0 until k).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ").as("text"), col("lang"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val docs10 = copies(10)
    val docs100 = copies(100)
    println(s"SCALE docs: ${docs10.count()} -> ${docs100.count()}")
    def novelty(d: DataFrame): Long =
      Corpus.ngramNovelty(d, "doc_id", "text").count()
    results += (("q240_novelty",
      bestOf2("q240_novelty @10x")(novelty(docs10)),
      bestOf2("q240_novelty @100x")(novelty(docs100))))
    def chi2(d: DataFrame): Long = {
      val pres = d.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("item"))
        .where(col("item") =!= "")
      Stats.chi2TopItems(pres, "doc_id", "lang", "item", 20, 5).count()
    }
    results += (("q232_chi2",
      bestOf2("q232_chi2 @10x")(chi2(docs10)),
      bestOf2("q232_chi2 @100x")(chi2(docs100))))

    val g10 = decadeGraph(spark, 30000, 22)
    val g100 = decadeGraph(spark, 300000, 2) // m ~ 9M, avg degree ~60
    println(s"SCALE edges: ${g10.count()} -> ${g100.count()}")
    def lpa(e: DataFrame): Long = {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
      val seeds = nodes.where(col("node") % 10 === 0)
        .withColumn("label", col("node") % 3)
      Graph.labelPropagationFixed(e, seeds, rounds = 2).count()
    }
    results += (("q237_label_prop",
      bestOf2("q237_lpa @10x")(lpa(g10)),
      bestOf2("q237_lpa @100x")(lpa(g100))))
    def truss(e: DataFrame): Long =
      Graph.ktrussFixed(e.toDF("src", "dst"), k = 3, rounds = 2).count()
    results += (("q241_ktruss",
      bestOf2("q241_truss @10x")(truss(g10)),
      bestOf2("q241_truss @100x")(truss(g100))))

    println("SCALE ===== session-ops SECOND-decade exponents =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Decade rows for the round-11 closing-session operators: the
    * correlation matrix and key-skew audit over 10× lineitem copies
    * (pure-aggregation shapes — expect near-zero incremental cost beyond
    * the scan), χ²/novelty/MI over token-salted 10× document copies
    * (salting multiplies distinct items/grams linearly), token-budget
    * mixing (the per-stratum cumsum window pays the full sort even past
    * the budget cut — the measured cost of that contract), and 2-round
    * label propagation on the constant-degree 10× graph. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 sessops`. */
  private def sessOpsDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.{Corpus, Graph, Profile, Stats}
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]

    val li1 = Db(spark, sfDir).lineitem
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .localCheckpoint(true)
    val li10 = (0 until 10).map { i =>
      li1.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * (1L << 40)))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    println(s"SCALE lineitem: ${li1.count()} -> ${li10.count()}")
    def corr(d: DataFrame): Long = Stats.corrMatrix(d, Seq(
      "qty" -> col("l_quantity"),
      "price" -> (Db.dec(col("l_extendedprice")) * 100),
      "disc" -> (Db.rate(col("l_discount")) * 100),
      "tax" -> (Db.rate(col("l_tax")) * 100))).count()
    results += (("q231_corr_matrix",
      bestOf2("q231_corr @1x")(corr(li1)),
      bestOf2("q231_corr @10x")(corr(li10))))
    def skew(d: DataFrame): Long = Profile.keySkew(d,
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")).count()
    results += (("q238_key_skew",
      bestOf2("q238_skew @1x")(skew(li1)),
      bestOf2("q238_skew @10x")(skew(li10))))

    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text", "lang", "source").localCheckpoint(true)
    val docs10 = (0 until 10).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ").as("text"),
        col("lang"), col("source"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    println(s"SCALE docs: ${docs1.count()} -> ${docs10.count()}")
    def chi2(d: DataFrame): Long = {
      val pres = d.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("item"))
        .where(col("item") =!= "")
      Stats.chi2TopItems(pres, "doc_id", "lang", "item", 20, 5).count()
    }
    results += (("q232_chi2_terms",
      bestOf2("q232_chi2 @1x")(chi2(docs1)),
      bestOf2("q232_chi2 @10x")(chi2(docs10))))
    def novelty(d: DataFrame): Long =
      Corpus.ngramNovelty(d, "doc_id", "text").count()
    results += (("q240_ngram_novelty",
      bestOf2("q240_novelty @1x")(novelty(docs1)),
      bestOf2("q240_novelty @10x")(novelty(docs10))))
    def mi(d: DataFrame): Long =
      Stats.mutualInfo(Corpus.hashSplit(d, col("doc_id")),
        Seq("split"), col("lang"), col("source")).count()
    results += (("q239_mutual_info",
      bestOf2("q239_mi @1x")(mi(docs1)),
      bestOf2("q239_mi @10x")(mi(docs10))))
    def mix(d: DataFrame): Long =
      Corpus.tokenBudgetMix(d, Seq("source"), "doc_id",
        size(split(col("text"), " ")), budget = 3000L).count()
    results += (("q236_token_budget",
      bestOf2("q236_mix @1x")(mix(docs1)),
      bestOf2("q236_mix @10x")(mix(docs10))))

    val g1 = decadeGraph(spark, 3000, 220)
    val g10 = decadeGraph(spark, 30000, 22)
    println(s"SCALE edges: ${g1.count()} -> ${g10.count()}")
    def lpa(e: DataFrame): Long = {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
      val seeds = nodes.where(col("node") % 10 === 0)
        .withColumn("label", col("node") % 3)
      Graph.labelPropagationFixed(e, seeds, rounds = 2).count()
    }
    results += (("q237_label_prop",
      bestOf2("q237_lpa @1x")(lpa(g1)),
      bestOf2("q237_lpa @10x")(lpa(g10))))

    println("SCALE ===== session-ops decade exponents (1.0 = linear) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Decade rows for the round-11 statistics/structure gates: asymmetric
    * containment dedup (q209 — shingle-join-shaped like q199, so it gets
    * the 10×→100× 50k→500k treatment), local clustering coefficient
    * (q215 — constant-degree graphs, wedges ×10) and the MAD outlier
    * screen (q213 — events rows ×10 under 5 fixed groups: the window
    * sorts are the workload). Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 statsops`. */
  private def statsOpsDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.{Graph, Robust, TextDedup}
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]

    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    def copies(k: Int): DataFrame = (0 until k).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ").as("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val docs10 = copies(10)
    val docs100 = copies(100)
    println(s"SCALE docs: ${docs10.count()} -> ${docs100.count()}")
    def containment(d: DataFrame): Long =
      TextDedup.containmentPairs(d, "doc_id", "text", 0.5).count()
    results += (("q209_containment",
      bestOf2("q209_containment @10x")(containment(docs10)),
      bestOf2("q209_containment @100x")(containment(docs100))))

    def graph(n: Int, per10k: Int): DataFrame = spark.range(0, n.toLong * n)
      .select((col("id") / n).cast("long").as("src"),
        (col("id") % n).cast("long").as("dst"))
      .where(col("src") < col("dst") &&
        pmod(hash(col("src"), col("dst")), lit(10000)) < per10k)
      .localCheckpoint(true)
    val g1 = graph(3000, 220)
    val g10 = graph(30000, 22)
    println(s"SCALE edges: ${g1.count()} -> ${g10.count()}")
    results += (("q215_clustering",
      bestOf2("q215_clustering @1x")(Graph.localClusteringCoeff(g1).count()),
      bestOf2("q215_clustering @10x")(Graph.localClusteringCoeff(g10).count())))

    val ev1 = Db(spark, sfDir).events
      .select("event_type", "value", "event_id").localCheckpoint(true)
    val ev10 = (0 until 10).map { i =>
      ev1.select(col("event_type"), col("value"),
        (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    println(s"SCALE events: ${ev1.count()} -> ${ev10.count()}")
    def mad(d: DataFrame): Long =
      Robust.madOutliers(d, Seq("event_type"), col("value"),
        col("event_id")).count()
    results += (("q213_mad",
      bestOf2("q213_mad @1x")(mad(ev1)),
      bestOf2("q213_mad @10x")(mad(ev10))))

    println("SCALE ===== stats-ops decade exponents (1.0 = linear) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Decade rows for the round-10 beyond-parity operators: cross-corpus
    * LSH decontamination (docs split into synthetic train/eval halves,
    * tokens salted per copy so the 10× corpus has 10× distinct shingles)
    * and fixed-point PageRank (constant-average-degree random digraph,
    * 3 rounds, full rank vector materialized). Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 newops`. */
  private def newOpsDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.TextDedup

    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]

    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    val docs10 = (0 until 10).map { k =>
      docs1.select((col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " ").as("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    println(s"SCALE docs: ${docs1.count()} -> ${docs10.count()}")
    def cross(d: DataFrame): Long =
      TextDedup.crossCorpusLshPairsPortable(
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
        "doc_id", "text", 0.3).count()
    val c1 = bestOf2("q173_cross_lsh @1x")(cross(docs1))
    val c10 = bestOf2("q173_cross_lsh @10x")(cross(docs10))
    results += (("q173_cross_lsh", c1, c10))

    def digraph(n: Int, per10k: Int): DataFrame = spark.range(0, n.toLong * n)
      .select((col("id") / n).cast("long").as("src"),
        (col("id") % n).cast("long").as("dst"))
      .where(col("src") =!= col("dst") &&
        pmod(hash(col("src"), col("dst")), lit(10000)) < per10k)
      .localCheckpoint(true)
    val g1 = digraph(3000, 220)   // m ~ 198k, avg out-degree ~66
    val g10 = digraph(30000, 22)  // m ~ 1.98M, avg out-degree ~66
    println(s"SCALE edges: ${g1.count()} -> ${g10.count()}")
    def pr(e: DataFrame): Long =
      operators.Graph.pageRankFixed(e, iters = 3)
        .agg(sum(col("rank"))).collect()(0).getLong(0)
    val p1 = bestOf2("q175_pagerank3 @1x")(pr(g1))
    val p10 = bestOf2("q175_pagerank3 @10x")(pr(g10))
    results += (("q175_pagerank3", p1, p10))

    // second decade (10× → 100×) via the direct pair sampler (the n² range
    // generator cannot reach 300k nodes) — constant average degree,
    // internally consistent across the step
    def pairDigraph(n: Long, m: Long): DataFrame = spark.range(0, 2L * m)
      .select(pmod(hash(col("id"), lit(1)), lit(n)).cast("long").as("src"),
        pmod(hash(col("id"), lit(2)), lit(n)).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    val h10 = pairDigraph(30000L, 1980000L)
    val h100 = pairDigraph(300000L, 19800000L)
    println(s"SCALE edges2: ${h10.count()} -> ${h100.count()}")
    val p2a = bestOf2("q175_pagerank3 @10x'")(pr(h10))
    val p2b = bestOf2("q175_pagerank3 @100x'")(pr(h100))
    results += (("q175_pagerank3 10x->100x", p2a, p2b))

    println("SCALE ===== exponent table (1.0 = linear across the decade) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-24s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** SECOND measured decade (10× → 100×) for the two worst round-7
    * exponents: the dynamic-order WCOJ 4-cycle (0.62–0.66) and SimHash
    * (0.48). The n² range-filter graph generator cannot reach 300k nodes
    * (9×10^10 candidate pairs), so this decade uses a direct uniform
    * pair sampler at BOTH endpoints — constant average degree, internally
    * consistent across the step. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 second`. */
  /** Second decade (10×→100×, 0.5M→5M docs) for the two heaviest
    * single-query text operators whose only decade rows were first-decade
    * (r7 exponents 0.27/0.33 — r8's lesson was that first decades flatter:
    * SimHash went 0.48→0.91): q55's prefix-filtered PPJoin and q91's
    * cluster propagation over LSH pairs. Token-suffixed copies as in
    * `secondDecade` — no cross-copy shingles, workload replicates
    * linearly. Run with a large heap:
    * `SPARK_DRIVER_MEM=48g tools/run.sh graft.DebugScale /root/testdata/sf0.1 text2`. */
  private def textSecondDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.TextDedup
    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    def copies(k: Int): DataFrame = (0 until k).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ").as("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val docs10 = copies(10)
    val docs100 = copies(100)
    println(s"SCALE docs: ${docs10.count()} -> ${docs100.count()}")
    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val j1 = bestOf2("q55_jaccard @10x")(
      TextDedup.jaccardPairs(docs10, "doc_id", "text", 0.3).count())
    val j10 = bestOf2("q55_jaccard @100x")(
      TextDedup.jaccardPairs(docs100, "doc_id", "text", 0.3).count())
    results += (("q55_jaccard 10x->100x", j1, j10))
    val k1 = bestOf2("q91_clusters @10x")(
      TextDedup.duplicateClusters(docs10, "doc_id",
        TextDedup.minhashLshPairs(docs10, "doc_id", "text", 0.3)).count())
    val k10 = bestOf2("q91_clusters @100x")(
      TextDedup.duplicateClusters(docs100, "doc_id",
        TextDedup.minhashLshPairs(docs100, "doc_id", "text", 0.3)).count())
    results += (("q91_clusters 10x->100x", k1, k10))
    println("SCALE ===== text second-decade exponents (1.0 = linear) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-28s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  private def secondDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.TextDedup
    import graft.plans.Leapfrog

    // corpus at 10× and 100×: token-suffixed copies (no cross-copy
    // shingles — workload grows, output structure replicates linearly)
    val docs1 = Db(spark, sfDir).documents
      .select("doc_id", "text").localCheckpoint(true)
    def copies(k: Int): DataFrame = (0 until k).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ").as("text"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val docs10 = copies(10)
    val docs100 = copies(100)
    println(s"SCALE docs: ${docs10.count()} -> ${docs100.count()}")

    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val s1 = bestOf2("q57_simhash @10x")(
      TextDedup.simhashPairs(docs10, "doc_id", "text", 3).count())
    val s10 = bestOf2("q57_simhash @100x")(
      TextDedup.simhashPairs(docs100, "doc_id", "text", 3).count())
    results += (("q57_simhash 10x->100x", s1, s10))

    // graphs: ~1.5m distinct edges over n nodes (3m candidate pairs, half
    // survive src<dst), average degree ~99 at both endpoints — denser than
    // the first decade's degree-66 fixture, so compare exponents only
    // WITHIN this decade, not across the two tables
    def pairGraph(n: Long, m: Long): DataFrame = spark.range(0, 3L * m)
      .select(pmod(hash(col("id"), lit(1)), lit(n)).cast("long").as("src"),
        pmod(hash(col("id"), lit(2)), lit(n)).cast("long").as("dst"))
      .where(col("src") < col("dst"))
      .distinct().localCheckpoint(true)
    val g10 = pairGraph(30000L, 990000L)
    val g100 = pairGraph(300000L, 9900000L)
    println(s"SCALE edges: ${g10.count()} -> ${g100.count()}")
    def cyc(e: DataFrame): Long = {
      val m = e.count()
      val rels = Seq(
        (e.toDF("a", "b"), Seq("a", "b")),
        (e.toDF("b", "c"), Seq("b", "c")),
        (e.toDF("c", "d"), Seq("c", "d")),
        (e.toDF("a", "d"), Seq("a", "d")))
      Leapfrog.join(spark, rels, Seq("a", "b", "c", "d"),
        Leapfrog.autoShares(rels.map { case (_, vs) => (vs, m) },
          Seq("a", "b", "c", "d"), 32), dynamicOrder = true).count()
    }
    val c1 = bestOf2("q158_cycle4_dyn @10x")(cyc(g10))
    val c10 = bestOf2("q158_cycle4_dyn @100x")(cyc(g100))
    results += (("q158_cycle4_dyn 10x->100x", c1, c10))

    println("SCALE ===== second-decade exponents (1.0 = linear) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-28s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Decade measurement for the two SQL-ROUTED families the first two
    * decades never exercised (round-8 item #6, round-9 Missing #4): the
    * PAYLOAD route (q170's shape — Leapfrog emits join variables, the
    * weighted edge set is late-materialized back onto the binding stream,
    * one sequential equi-join per payload leaf) and the SKEW-PINNED route
    * (q171's shape — a hub value owning a constant FRACTION of all edges
    * forces the sample probe to pin the hub-side variables to share 1).
    * Both go through the full WcojJoinRule SQL path, not direct
    * Leapfrog.join calls, so plan-time sampling, routing guards, and
    * join-back construction are all inside the measured time; the route is
    * asserted to have actually fired (payloadLeaves / pinnedVars) so a
    * silent binary fallback cannot masquerade as a scaling row. Constant
    * average degree (payload) / constant hub FRACTION (skew) across the
    * decade keeps workload growth linear by construction. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 routes`. */
  private def routesDecade(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.plans.WcojJoinRule

    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]

    // payload fixture: ~m distinct undirected edges over n nodes (average
    // degree ~66 at both endpoints), weight derived from the DISTINCT
    // (src, dst) pair so the decade step changes scale, not content shape
    def wGraph(n: Long, m: Long): DataFrame = spark.range(0, 3L * m)
      .select(pmod(hash(col("id"), lit(1)), lit(n)).cast("long").as("src"),
        pmod(hash(col("id"), lit(2)), lit(n)).cast("long").as("dst"))
      .where(col("src") < col("dst")).distinct()
      .withColumn("w", pmod(hash(col("src"), col("dst")), lit(97)).cast("long"))
      .repartition(32).localCheckpoint(true)
    val payloadSql = """
      SELECT e1.src AS a, CAST(sum(e1.w + e2.w + e3.w) AS BIGINT) AS wsum,
             count(*) AS tri_cnt
      FROM wcoj_pay e1
      JOIN wcoj_pay e2 ON e2.src = e1.dst
      JOIN wcoj_pay e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1"""
    def payloadRun(g: DataFrame): Long = {
      g.createOrReplaceTempView("wcoj_pay")
      WcojJoinRule.clearStats()
      // materialize through the SAME queryExecution the route check reads:
      // a bare .count() re-optimizes with wsum pruned from the inner
      // aggregate, which both routes the cheaper COUNT-style plan (no w →
      // no payload) and clobbers lastRoute — it would time the wrong plan
      val qe = spark.sql(payloadSql).queryExecution
      qe.optimizedPlan
      require(WcojJoinRule.lastRoute.exists(_.payloadLeaves == 3),
        s"payload route did not fire: ${WcojJoinRule.lastRoute}")
      qe.toRdd.count()
    }
    val p1 = wGraph(3000L, 99000L)
    val p10 = wGraph(30000L, 990000L)
    println(s"SCALE payload edges: ${p1.count()} -> ${p10.count()}")
    val pt1 = bestOf2("payload_route @1x")(payloadRun(p1))
    val pt10 = bestOf2("payload_route @10x")(payloadRun(p10))
    results += (("payload_route", pt1, pt10))

    // skew fixture: hub-and-ring (q171's shape) — node 0 owns the spoke
    // family, a constant ~40% of all distinct edges at every n, so the
    // hub FRACTION (what the probe pins on) is decade-invariant
    def hubGraph(n: Long): DataFrame = {
      val v = spark.range(0, n)
      val spokes = v.select(lit(0L).as("src"), (col("id") + 1).as("dst"))
      val ring = v.select((col("id") + 1).as("src"), (col("id") + 2).as("dst"))
      val chords = v.where(col("id") % 2 === 0)
        .select((col("id") + 1).as("src"), (col("id") + 3).as("dst"))
      spokes.union(ring).union(chords).distinct()
        .repartition(32).localCheckpoint(true)
    }
    val skewSql = """
      SELECT e1.src AS a, count(*) AS tri_cnt
      FROM wcoj_skew e1
      JOIN wcoj_skew e2 ON e2.src = e1.dst
      JOIN wcoj_skew e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY 1"""
    def skewRun(g: DataFrame): Long = {
      g.createOrReplaceTempView("wcoj_skew")
      WcojJoinRule.clearStats()
      val qe = spark.sql(skewSql).queryExecution
      qe.optimizedPlan
      // pinnedVars → share 1 is the rule's own construction (shares ++
      // pinned.map(_ -> 1)), so asserting it here would be tautological;
      // nonEmpty is the actual evidence that the probe saw the hub
      require(WcojJoinRule.lastRoute.exists(_.pinnedVars.nonEmpty),
        s"skew route did not pin the hub: ${WcojJoinRule.lastRoute}")
      qe.toRdd.count()
    }
    val s1 = hubGraph(40000L)
    val s10 = hubGraph(400000L)
    println(s"SCALE skew edges: ${s1.count()} -> ${s10.count()}")
    val st1 = bestOf2("skew_route @1x")(skewRun(s1))
    val st10 = bestOf2("skew_route @10x")(skewRun(s10))
    results += (("skew_route", st1, st10))

    println("SCALE ===== SQL-route decade exponents (1.0 = linear) =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-28s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }

  /** Old (localCheckpoint-pinned) vs new (sampled-boundary) two-phase
    * rank, back to back in ONE window so the comparison is
    * noise-fair — the r15 de-checkpoint evidence (VERDICT r14
    * #2). The old implementation is inlined verbatim from the r14
    * operators/Rank.scala. Run:
    * `tools/run.sh graft.DebugScale /root/testdata/sf0.1 rankcmp`. */
  private def rankCmpDecade(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import graft.operators.Rank
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

    def oldAtScale(df: DataFrame, orderCols: Seq[Column], out: String,
                   totalOut: String = ""): DataFrame = {
      val p = df.sparkSession.sessionState.conf.numShufflePartitions
      val ranged = df.repartitionByRange(p, orderCols: _*)
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(false)
      val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      val offsets = counts
        .withColumn("__off", coalesce(sum(col("__cnt")).over(
          Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("__tot", sum(col("__cnt")).over(
          Window.orderBy(lit(1)).rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .select("__pid", "__off", "__tot")
      val local = Window.partitionBy("__pid").orderBy(orderCols: _*)
      val ranked = ranged.join(broadcast(offsets), Seq("__pid"))
        .withColumn(out, row_number().over(local).cast("long") + col("__off"))
      (if (totalOut.nonEmpty) ranked.withColumnRenamed("__tot", totalOut)
       else ranked.drop("__tot"))
        .drop("__pid", "__off")
    }
    def oldAtScalePerGroup(df: DataFrame, groupCols: Seq[String],
        orderCols: Seq[Column], out: String, totalOut: String = ""): DataFrame = {
      val p = df.sparkSession.sessionState.conf.numShufflePartitions
      val ranged = df
        .repartitionByRange(p, (groupCols.map(col) ++ orderCols): _*)
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(false)
      val counts = ranged
        .groupBy((col("__pid") +: groupCols.map(col)): _*)
        .agg(count(lit(1)).as("__cnt"))
      val wg = Window.partitionBy(groupCols.map(col): _*)
      val offsets = counts
        .withColumn("__off", coalesce(sum(col("__cnt")).over(
          wg.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("__tot", sum(col("__cnt")).over(wg))
        .select((col("__pid").as("__opid") +:
          groupCols.map(c => col(c).as(s"__g_$c"))) ++
          Seq(col("__off"), col("__tot")): _*)
      val joinCond = (col("__pid") === col("__opid")) +:
        groupCols.map(c => col(c) <=> col(s"__g_$c"))
      val local = Window.partitionBy((col("__pid") +: groupCols.map(col)): _*)
        .orderBy(orderCols: _*)
      val ranked = ranged.join(offsets, joinCond.reduce(_ && _))
        .withColumn(out, row_number().over(local).cast("long") + col("__off"))
      (if (totalOut.nonEmpty) ranked.withColumnRenamed("__tot", totalOut)
       else ranked.drop("__tot"))
        .drop(("__pid" +: "__opid" +: "__off" +:
          groupCols.map(c => s"__g_$c")): _*)
    }

    val ev1 = Db(spark, sfDir).events
      .select("user_id", "value").localCheckpoint(true)
    def evX(copies: Int): DataFrame = (0 until copies).map { i =>
      ev1.select((col("user_id") + lit(i.toLong * 100000000L)).as("user_id"),
        col("value"))
    }.reduce(_ union _).repartition(32).localCheckpoint(true)
    val ev10 = evX(10); val ev100 = evX(100)
    println(s"SCALE events: ${ev10.count()} -> ${ev100.count()}")

    def spOf(d: DataFrame): DataFrame = d.groupBy("user_id")
      .agg(sum(floor(col("value")).cast("long")).as("a"))
      .where(col("a") > 0)
    def gOf(d: DataFrame): DataFrame = d.where(col("value").isNotNull)
      .withColumn("g", pmod(col("user_id"), lit(8)).cast("string"))
      .withColumn("c", floor(col("value") * 100).cast("long"))

    val results = collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    results += (("OLD rank_at_scale",
      bestOf2("old rank @10x")(exec(oldAtScale(spOf(ev10),
        Seq(col("a"), col("user_id")), "r", "n"))),
      bestOf2("old rank @100x")(exec(oldAtScale(spOf(ev100),
        Seq(col("a"), col("user_id")), "r", "n")))))
    results += (("NEW rank_at_scale",
      bestOf2("new rank @10x")(exec(Rank.atScale(spOf(ev10),
        Seq(col("a"), col("user_id")), out = "r", totalOut = "n"))),
      bestOf2("new rank @100x")(exec(Rank.atScale(spOf(ev100),
        Seq(col("a"), col("user_id")), out = "r", totalOut = "n")))))
    results += (("OLD rank_per_group",
      bestOf2("old rankG @10x")(exec(oldAtScalePerGroup(gOf(ev10),
        Seq("g"), Seq(col("c"), col("user_id")), "r", "n"))),
      bestOf2("old rankG @100x")(exec(oldAtScalePerGroup(gOf(ev100),
        Seq("g"), Seq(col("c"), col("user_id")), "r", "n")))))
    results += (("NEW rank_per_group",
      bestOf2("new rankG @10x")(exec(Rank.atScalePerGroup(gOf(ev10),
        Seq("g"), Seq(col("c"), col("user_id")), out = "r", totalOut = "n"))),
      bestOf2("new rankG @100x")(exec(Rank.atScalePerGroup(gOf(ev100),
        Seq("g"), Seq(col("c"), col("user_id")), out = "r", totalOut = "n")))))

    println("SCALE ===== old-vs-new two-phase rank decade =====")
    results.foreach { case (name, t1, t10) =>
      val exp = math.log10(t10 / t1)
      println(f"SCALE $name%-28s ${t1}%7.2f s -> ${t10}%7.2f s  exponent=$exp%.2f")
    }
  }
}
