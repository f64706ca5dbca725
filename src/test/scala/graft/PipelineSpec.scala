package graft

import graft.operators.Corpus
import org.apache.spark.sql.functions._

/** Round-3 pipeline operators: ORC roundtrip, hash split/sampling
  * determinism, regex scrub, repetition ratio, partition pruning, and the
  * registry hygiene of the new gates.
  */
class PipelineSpec extends SparkSpec {

  private def docs = Db(spark, sf).documents

  test("ORC roundtrip preserves schema and values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = Db(spark, sf).nation
    graft.sources.Orc.save(src, s"$dir/nation_orc")
    val back = graft.sources.Orc.load(spark, s"$dir/nation_orc")
    assert(back.schema == src.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("hash split partitions every row exactly once, stably across reruns") {
    val n = docs.count()
    val split1 = Corpus.hashSplit(docs, col("doc_id"))
    val counts = split1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == n)
    assert(Set("train", "val", "test").subsetOf(counts.keySet))
    // train share of an 80/10/10 split should be near 80%
    assert(math.abs(counts("train").toDouble / n - 0.8) < 0.1)
    // identical assignment on recomputation (content-stable, not rand())
    val again = Corpus.hashSplit(docs.repartition(7), col("doc_id"))
    assert(split1.select("doc_id", "split").exceptAll(
      again.select("doc_id", "split")).count() == 0)
  }

  test("stratified sample is a subset honoring per-stratum rates") {
    val sampled = Corpus.stratifiedSample(docs, "lang",
      concat(col("doc_id").cast("string"), lit(":"), col("lang")),
      Map("en" -> 50), defaultPct = 10)
    assert(sampled.count() > 0)
    assert(sampled.exceptAll(docs).count() == 0) // strict subset
    val langTotals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langSampled = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = langSampled.getOrElse("en", 0L).toDouble / langTotals("en")
    assert(math.abs(enRate - 0.5) < 0.25, s"en sampled at $enRate, wanted ~0.5")
  }

  test("regex scrub redacts every digit run") {
    val scrubbed = Corpus.scrub(Db(spark, sf).events, "props", "[0-9]+", "#")
    assert(scrubbed.filter(col("props").rlike("[0-9]")).count() == 0)
    assert(scrubbed.count() == Db(spark, sf).events.count())
  }

  test("repetition ratio is in (0,1] and catches a degenerate document") {
    val sess = spark
    import sess.implicits._
    val d = Seq((1L, "a a a a"), (2L, "w x y z")).toDF("id", "text")
    val rr = Corpus.repetitionRatio(d, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rr(1L) == 1.0)
    assert(rr(2L) == 0.25)
    val all = Corpus.repetitionRatio(docs, "doc_id", "text")
    assert(all.filter(col("rep_ratio") <= 0 || col("rep_ratio") > 1).count() == 0)
  }

  test("partitioned write prunes non-matching partitions at scan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/docs")
    val scan = spark.read.parquet(s"$dir/docs").filter(col("lang") === "en")
    val pruned = scan.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.partitionFilters
    }
    assert(pruned.exists(_.nonEmpty), "expected partition filters on the scan")
    assert(scan.count() == docs.filter(col("lang") === "en").count())
  }

  test("sequence packing fills windows in order without overflow gaps") {
    val sess = spark
    import sess.implicits._
    val d = Seq((1L, 300), (2L, 300), (3L, 100), (4L, 600))
      .toDF("id", "n")
    val packed = Corpus.packSequences(d, "id", col("n"), 512)
      .select("id", "seq_bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // tape offsets: 0, 300, 600, 700 → bins 0, 0, 1, 1
    assert(packed == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
    // bins are a non-decreasing function of the order column
    val bins = Corpus.packSequences(docs, "doc_id",
        size(split(col("text"), " ")), 512)
      .orderBy("doc_id").select("seq_bin").collect().map(_.getLong(0))
    assert(bins.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("domain cap keeps exactly k per source, stable across reruns") {
    val rows = run("q174_domain_cap").collect()
    val perSource = rows.groupBy(_.getAs[String]("source"))
    // every sf ships 25 docs per source, so the k=10 cap binds everywhere
    assert(perSource.nonEmpty)
    perSource.foreach { case (_, g) => assert(g.length == 10) }
    // reproducible: the hash rank makes the kept set a pure function of ids
    val again = run("q174_domain_cap").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the cap runs on the TopKPerKey operator, not a full window sort
    val plan = SparkEntry.queries("q174_domain_cap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected TopKPerKey in:\n$plan")
  }

  test("contamination finds exactly the planted cross-corpus overlap") {
    val sess = spark
    import sess.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares a 5-gram
      (2L, "one two three four five six"),           // disjoint
      (3L, "too short")                              // under 5 words
    ).toDF("id", "text")
    val benchmark = Seq(
      (100L, "alpha beta gamma delta epsilon theta") // 5-gram: alpha..epsilon
    ).toDF("id", "text")
    val hits = graft.operators.TextDedup
      .contaminated(train, benchmark, "id", "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L))
  }

  test("distributed propagation equals driver union-find clustering") {
    val sess = spark
    import sess.implicits._
    // chain 1-2-3-4, pair (10,11), singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    def result(guard: Long) = graft.operators.TextDedup
      .duplicateClusters(nodes, "id", pairs, driverMaxEdges = guard)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    assert(result(1000000L) == expected) // driver union-find path
    assert(result(0L) == expected)       // distributed propagation path
  }

  test("PNG codec: encode → ImageIO decode returns exact dimensions and pixels") {
    val bytes = graft.operators.Multimodal.encodePngGray(5, 3, (x, y) => x * 10 + y)
    val (w, h, sum) = graft.operators.Multimodal.imageFeatures(bytes)
    val expected = (for { x <- 0 until 5; y <- 0 until 3 } yield x * 10 + y).sum
    assert((w, h, sum) == (5, 3, expected.toLong))
    // PNG magic bytes — this is a real PNG file, not a fake container
    assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
  }

  test("nearest-neighbor resize keeps corner pixels and target dimensions") {
    val src = graft.operators.Multimodal.encodePngGray(8, 8, (x, y) => x * 8 + y)
    val resized = graft.operators.Multimodal.resizeNearest(src, 4, 4)
    val (w, h, sum) = graft.operators.Multimodal.imageFeatures(resized)
    // nearest picks src pixel (2x, 2y): sum over x,y in 0..3 of (2x*8 + 2y)
    val expected = (for { x <- 0 until 4; y <- 0 until 4 } yield 16 * x + 2 * y).sum
    assert((w, h, sum) == (4, 4, expected.toLong))
  }

  test("frame container: header-only count; sampling decodes only chosen frames") {
    val frames = (0 until 5).map(f =>
      graft.operators.Multimodal.encodePngGray(3, 3, (x, y) => f * 10 + x + y))
    val payload = graft.operators.Multimodal.encodeFrames(frames)
    assert(graft.operators.Multimodal.frameCount(payload) == 5)
    val sampled = graft.operators.Multimodal.sampleFrames(payload, every = 2)
    assert(sampled.length == 3) // frames 0, 2, 4
    assert(sampled.map(_.toSeq) == Seq(frames(0), frames(2), frames(4)).map(_.toSeq))
  }

  test("WAV codec: RIFF chunk walk recovers rate, count, and energy") {
    val samples = Array[Short](100, -200, 300, -400, 500)
    val bytes = graft.operators.Multimodal.encodeWavPcm16(8000, samples)
    val (rate, n, sumSq) = graft.operators.Multimodal.wavFeatures(bytes)
    assert(rate == 8000 && n == 5)
    assert(sumSq == samples.map(s => s.toLong * s).sum)
  }

  private def assertRegistered(names: Seq[String]): Unit =
    names.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"$n missing from registry")
      assert(SparkEntry.oracleSql.contains(n), s"$n missing oracle SQL")
      assert(run(n).count() > 0, s"$n returned no rows")
    }

  test("new gates are registered with oracle SQL") {
    assertRegistered(Seq("q97_orc_source", "q98_hash_split", "q99_regex_scrub",
      "q100_repetition_ratio", "q101_stratified_sample",
      "q102_length_histogram", "q103_bucketed_join", "q104_partitioned_scan",
      "q105_semantic_clusters", "q106_sequence_pack", "q107_contamination",
      "q108_image_features", "q109_audio_features", "q110_job_wide17",
      "q111_e2e_pipeline", "q112_frame_sample", "q113_dedup_latest"))
  }

  test("round-4 gates are registered with oracle SQL and return rows") {
    assertRegistered(Seq("q114_sequence_pack_sharded", "q115_console_ddl_into",
      "q116_runtime_switch"))
  }

  test("round-4 IMDB reference entries are registered with oracle SQL and return rows") {
    // q117-q120 run the reference's JOB SQL files, which ImdbQueries only
    // registers when the reference workload is present
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(graft.sources.Imdb.queriesDir)))
    assertRegistered(Seq("q117_imdb_06d", "q118_imdb_10a", "q119_imdb_17a",
      "q120_imdb_33c"))
  }

  test("sharded sequence packing: every window is partitioned (no global sort)") {
    val packed = Corpus.packSequencesSharded(docs, "doc_id",
      size(split(col("text"), " ")), 512, nShards = 8)
    val windows = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected a Window node in the packed plan")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "partition-less Window = one task sorts the whole corpus"))
    // the shards genuinely split the corpus, and bins restart per shard
    val rows = packed.select("shard", "seq_bin").collect()
    assert(rows.map(_.getLong(0)).distinct.length > 1)
    assert(rows.count { r => r.getLong(0) != 0L && r.getLong(1) == 0L } > 0,
      "every shard should restart its bin numbering at 0")
  }

  test("sequence packing hybrid: small inputs stay one global tape, large route to shards") {
    val toks = size(split(col("text"), " "))
    val small = Corpus.packSequences(docs, "doc_id", toks, 512)
    assert(small.select("shard").distinct().collect().map(_.getLong(0)).toSet
      == Set(0L), "under the guard the corpus is a single exact tape")
    val routed = Corpus.packSequences(docs, "doc_id", toks, 512,
      globalMaxRows = 10, nShards = 8)
    assert(routed.select("shard").distinct().count() > 1,
      "over the guard packing must shard")
  }

  test("heavy hitters are exact on both the sketch path and the fallback path") {
    import org.apache.spark.sql.functions.{concat, count => cnt, lit => l, when}
    // heavy skew: one hot key (5000), 5000 singletons
    val skew = spark.range(10000).toDF("id")
      .select(when(col("id") % 2 === 0, l("hot"))
        .otherwise(concat(l("k"), col("id").cast("string"))).as("k"))
    val expected = skew.groupBy("k").agg(cnt(l(1)).as("n"))
      .orderBy(col("n").desc, col("k")).limit(5).collect().toSeq
    // generous capacity: the Misra-Gries guarantee holds -> sketch path
    val sketch = Corpus.heavyHitters(skew, col("k"), 5, capacity = 512)
      .collect().toSeq
    // capacity 2 cannot clear the decrement bound -> exact fallback path
    val fallback = Corpus.heavyHitters(skew, col("k"), 5, capacity = 2)
      .collect().toSeq
    assert(sketch.map(r => (r.getString(0), r.getLong(1))) ==
      expected.map(r => (r.getString(0), r.getLong(1))))
    assert(fallback.map(r => (r.getString(0), r.getLong(1))) ==
      expected.map(r => (r.getString(0), r.getLong(1))))
  }

  test("repetition signals: hand-computed values, sub-2-word guard, no shuffle") {
    import SparkSpec.session.implicits._
    // 'a b a b a' — words 5, distinct 2 → dup 3; 2-grams [a b, b a, a b, b a]:
    // 'a b'×2 ×len3 = 6 = 'b a'; dup frac 0.6 > 0.3 → keep false.
    // 'x y z' — all distinct, each 2-gram once ×len3 = 3; 3*5=15 ≤ 5 ≥ false?
    // 15 > 5 → top2 fraction 0.6 > 0.2 → keep false (short docs are all
    // boilerplate by this signal — correct behavior at tiny lengths).
    // 'solo' — ONE word: the Spark guard must produce an empty gram list
    // (sequence(0,-1) would DESCEND and index words[-1]); top2 0, keep true.
    // '' — split('') = [''] on both engines: 1 word, 0 dups, keep true.
    val df = Seq(
      (1L, "a b a b a"), (2L, "x y z"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val out = Corpus.repetitionSignals(df, "doc_id", "text")
    val rows = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getBoolean(5)))
    assert(rows(0) == ((1L, 5, 3, 6, 9, false)))
    assert(rows(1) == ((2L, 3, 0, 3, 5, false)))
    assert(rows(2) == ((3L, 1, 0, 0, 4, true)))
    assert(rows(3) == ((4L, 1, 0, 0, 0, true)))
    // map-only at any corpus size: the operator's physical plan (before any
    // caller-added sort) must contain no exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetition signals shuffled:\n$plan")
  }

  test("blocked fuzzy match finds near-identical names, never off-block pairs") {
    val sess = SparkSpec.session
    import sess.implicits._
    val df = Seq(
      (1L, "acme widget corp"),
      (2L, "acme widgets corp"),   // dist 1 from #1, same block
      (3L, "acme holdings intl"),  // same first token, different lengths/words
      (4L, "zenith widget corp"))  // near #1 in suffix but different block
      .toDF("rid", "name")
    val got = graft.operators.FuzzyJoin
      .blockedNameMatch(df, "rid", "name", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1)),
      s"expected exactly the (1,2) near-dup at distance 1, got $got")
    // the skew guard refuses a quadratic block instead of running it
    val hot = (0L until 50L).map(i => (i, "same name entirely")).toDF("rid", "name")
    val err = intercept[IllegalArgumentException] {
      graft.operators.FuzzyJoin.blockedNameMatch(hot, "rid", "name",
        maxDist = 1, maxBlock = 10)
    }
    assert(err.getMessage.contains("block"))
  }

  test("passage dedup drops repeats corpus-wide, first (doc,pos) wins, docs reassemble in order") {
    val sess = SparkSpec.session
    import sess.implicits._
    val docs = Seq(
      (1L, "a b c d"),  // owns both its passages
      (2L, "a b x y"),  // "a b" already owned by doc 1
      (3L, "c d"),      // its only passage owned by doc 1 → empty clean_text
      (4L, "z z z z"))  // self-repetition: pos 0 wins over pos 1
      .toDF("doc_id", "text")
    def runIt(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Corpus.passageDedup(d, "doc_id", "text", passageWords = 2)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val got = runIt(docs)
    assert(got == Map(
      1L -> (2L, 0L, "a b c d"),
      2L -> (2L, 1L, "x y"),
      3L -> (1L, 1L, ""),
      4L -> (2L, 1L, "z z")), s"got $got")
    assert(runIt(docs.repartition(5)) == got,
      "partitioning must not change winner election")
  }

  test("sliding-window chunking covers documents with the configured overlap") {
    val sess = SparkSpec.session
    import sess.implicits._
    val docs = Seq(
      (1L, (1 to 10).map("w" + _).mkString(" ")),  // 10 words, w=4 s=3
      (2L, "solo")).toDF("doc_id", "text")
    val got = graft.operators.Corpus.chunk(docs, "doc_id", "text",
        chunkWords = 4, strideWords = 3)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 4L, "w1 w2 w3 w4"),
      (1L, 1L, 4L, "w4 w5 w6 w7"),
      (1L, 2L, 4L, "w7 w8 w9 w10"),
      (2L, 0L, 1L, "solo")), s"got ${got.toSeq}")
  }

  test("portable HLL registers merge losslessly and estimate within the m=64 envelope") {
    val sess = SparkSpec.session
    import sess.implicits._
    import graft.operators.Hll
    val a = (0L until 6000L).map(i => ("g", i)).toDF("grp", "v")
    val b = (4000L until 10000L).map(i => ("g", i)).toDF("grp", "v")  // overlap 4000–6000
    val whole = Hll.registers(a.union(b), Seq("grp"), col("v"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // sketch-level mergeability: union of shard sketches == sketch of union
    val merged = Hll.merge(
        Hll.registers(a, Seq("grp"), col("v"))
          .union(Hll.registers(b, Seq("grp"), col("v"))), Seq("grp"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(merged == whole, "merged shard sketches differ from the union's sketch")
    assert(Hll.registers(a.union(b).repartition(11), Seq("grp"), col("v"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap == whole)
    // 10k true distincts, m=64 (rsd ~13%): deterministic hash, so the
    // measured error is fixed — assert the 3-sigma envelope
    val est = Hll.estimate(
        Hll.registers(a.union(b), Seq("grp"), col("v")), Seq("grp"))
      .head.getAs[Double]("estimate")
    assert(math.abs(est - 10000.0) <= 4000.0,
      s"HLL estimate $est strayed outside 10000 +- 40%")
  }

  test("priority sample is deterministic, weight-sensitive, and heap-planned") {
    val sess = SparkSpec.session
    import sess.implicits._
    val df = (0L until 1000L).map(i => (i, if (i < 100) 900L else 30L))
      .toDF("id", "w")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Corpus.prioritySample(d, col("id"), col("w"), n = 100)
    val a = sample(df).collect().map(_.getLong(0)).toSeq
    val b = sample(df.repartition(13)).collect().map(_.getLong(0)).toSeq
    assert(a == b, "partitioning must not change the sample")
    // 100 heavy rows at weight 900 vs 900 light at 30: the heavy tenth of
    // the population must be strongly over-represented in the top-100
    val heavy = a.count(_ < 100L)
    assert(heavy >= 60, s"only $heavy of 100 winners are heavy-weight rows — " +
      "priorities are not tracking weights")
    // top-n must plan as TakeOrderedAndProject (per-partition heaps), not a
    // global sort of the corpus
    val plan = sample(df).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"priority sample lost the heap-based top-n plan:\n$plan")
  }
}
