package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.streaming.{EventStreams, MicroBatchGate}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

/** Structured Streaming surface: the same transformations must produce the
  * batch answer when run incrementally (complete mode over a memory sink).
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample: Seq[(Long, Timestamp, String, Double)] = Seq(
    (1L, ts("2024-01-01 10:05:00"), "click", 1.0),
    (2L, ts("2024-01-01 10:20:00"), "click", 2.0),
    (3L, ts("2024-01-01 10:45:00"), "purchase", 10.0),
    (4L, ts("2024-01-01 11:05:00"), "click", 3.0),
    (5L, ts("2024-01-01 11:30:00"), "purchase", 20.0),
    (6L, ts("2024-01-01 12:00:00"), "view", 0.5))

  test("windowed aggregation: incremental result equals batch result") {
    val session = spark
    import session.implicits._
    val batchDf = sample.toDF("event_id", "ts", "event_type", "value")
    val expected = EventStreams.hourlyByType(batchDf)
      .collect().map(_.toString).sorted.toSeq

    val got = MicroBatchGate.run(spark, "hourly_test",
        Seq(sample.take(3), sample.drop(3)), "complete")(input =>
      EventStreams.hourlyByType(input.toDF("event_id", "ts", "event_type", "value")))
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("a restarted query resumes from its checkpoint files with Spark's checksums") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 7 keys, updates spread over 3 batches, every fifth change a delete
    val changes = (0 until 30).map { i =>
      (i % 7L, ts("2024-01-01 10:00:00").getTime * 1000 + i * 60000000L,
        i.toLong, i * 1.5, if (i % 5 == 4) "D" else "U")
    }
    def latest(df: org.apache.spark.sql.DataFrame) = EventStreams.cdcLatest(
      df.toDF("user_id", "us", "tie", "value", "op")
        .withColumn("ts", timestamp_micros(col("us"))), Seq("user_id"))
    val expected = latest(changes.toDF()).collect().map(_.toString).sorted.toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[(Long, Long, Long, Double, String)]
    def start() = latest(input.toDF()).writeStream.format("memory")
      .queryName("cdc_restart").option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    val q1 = start()
    try for (b <- changes.grouped(10).take(2)) {
      input.addData(b); q1.processAllAvailable()
    } finally q1.stop()
    // unload the state stores so the restarted query reads its state back
    // from the checkpoint's delta files
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    val q2 = start()
    try {
      input.addData(changes.drop(20)); q2.processAllAvailable()
      assert(q2.lastProgress.batchId == 2, "the restart must resume at batch 2")
      val got = spark.table("cdc_restart").collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty && got == expected)
    } finally q2.stop()
    val stateFiles = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state")))(
      _.iterator().asScala.map(_.getFileName.toString).toList)
    assert(stateFiles.exists(_.matches("\\d+\\.delta\\.crc")),
      s"no checkpoint checksum file among ${stateFiles.distinct.sorted.mkString(", ")}")
  }

  test("a micro-batch plan carries none of its input rows") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ~1 MB of rows: a plan node that holds them serializes far past the bound
    val rows = (0 until 20000).map(i => (i % 97L, i.toLong, f"payload-$i%08d"))
    def totals(df: org.apache.spark.sql.DataFrame) = df.toDF("k", "v", "s")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
    val expected = totals(rows.toDF()).collect().map(_.toString).sorted.toSeq
    val input = MemoryStream[(Long, Long, String)]
    val q = totals(input.toDF()).writeStream.format("memory")
      .queryName("lean_scan").outputMode("complete").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      // the sink's write node (the root) is never shipped to executors;
      // every node of the query below it can travel in a closure or task
      // binary
      val sizes = plan.children.flatMap(_.collect { case n =>
        n.nodeName -> ser.serialize(n).limit() })
      assert(sizes.forall(_._2 < 64 * 1024), s"serialized plan nodes: ${sizes.mkString(", ")}")
      assert(q.lastProgress.numInputRows == rows.size)
      assert(spark.table("lean_scan").collect().map(_.toString).sorted.toSeq == expected)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates running per-user totals across batches") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val q = EventStreams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("running_test")
      .outputMode("update").start()
    try {
      input.addData(Seq((1L, 5.0), (2L, 1.0)))
      q.processAllAvailable()
      input.addData(Seq((1L, 7.0)))
      q.processAllAvailable()
      val byUser = spark.table("running_test").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_._1) }
      assert(byUser(1L) == ((2L, 12.0)))
      assert(byUser(2L) == ((1L, 1.0)))
    } finally q.stop()
  }

  test("file source: readStream -> transform -> parquet writeStream roundtrip") {
    val session = spark
    import session.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    sample.take(3).toDF("event_id", "ts", "event_type", "value")
      .write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val q = spark.readStream.schema(schema).parquet(inDir)
      .filter(col("event_type") === "click")
      .withColumn("value_x2", col("value") * 2)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // late-arriving second batch of files
      sample.drop(3).toDF("event_id", "ts", "event_type", "value")
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val out = spark.read.parquet(outDir)
      assert(out.count() == sample.count(_._3 == "click"))
      assert(out.columns.contains("value_x2"))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    import graft.streaming.EventStreams.SessionEvent
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      // batch 1: open session for user 1; user 99 drives the watermark
      input.addData(Seq(
        SessionEvent(1L, ts("2024-01-01 10:00:00")),
        SessionEvent(1L, ts("2024-01-01 10:10:00")),
        SessionEvent(99L, ts("2024-01-01 10:00:00"))))
      q.processAllAvailable()
      assert(spark.table("sessions_test").filter(col("user_id") === 1).count() == 0)
      // batch 2: a user-1 event past the gap closes session 1 inline
      input.addData(Seq(SessionEvent(1L, ts("2024-01-01 12:00:00"))))
      q.processAllAvailable()
      // batch 3: watermark moves far ahead; user-1's open session times out
      input.addData(Seq(SessionEvent(99L, ts("2024-01-01 20:00:00"))))
      q.processAllAvailable()
      input.addData(Seq(SessionEvent(99L, ts("2024-01-02 10:00:00"))))
      q.processAllAvailable()
      val got = spark.table("sessions_test").filter(col("user_id") === 1)
        .collect().map(r => (r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"))).sortBy(_._1.getTime)
      assert(got.length == 2, s"expected 2 closed sessions, got ${got.mkString(";")}")
      assert(got(0) == ((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L)))
      assert(got(1) == ((ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join: incremental equals batch") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 0.0),
      (1L, ts("2024-01-01 12:00:00"), 0.0),
      (2L, ts("2024-01-01 10:30:00"), 0.0))
    val purchases = Seq(
      (1L, ts("2024-01-01 10:30:00"), 5.0),  // joins click 1 only
      (1L, ts("2024-01-01 12:59:00"), 7.0),  // joins click 2 only
      (2L, ts("2024-01-01 12:00:00"), 9.0))  // outside 1h of click 3
    def df(rows: Seq[(Long, java.sql.Timestamp, Double)]) =
      rows.toDF("user_id", "ts", "value")
    val expected = graft.streaming.EventStreams
      .clickPurchaseJoin(df(clicks), df(purchases))
      .collect().map(_.toString).sorted.toSeq

    val cIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val pIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = graft.streaming.EventStreams.clickPurchaseJoin(
      cIn.toDF().toDF("user_id", "ts", "value"),
      pIn.toDF().toDF("user_id", "ts", "value"))
    val q = stream.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      cIn.addData(clicks.take(2)); pIn.addData(purchases.take(1))
      q.processAllAvailable()
      cIn.addData(clicks.drop(2)); pIn.addData(purchases.drop(1))
      q.processAllAvailable()
      val got = spark.table("ssj_test").collect().map(_.toString).sorted.toSeq
      assert(got == expected)
      assert(got.size == 2)
    } finally q.stop()
  }

  test("streaming dedup drops repeated ids across batches (watermark-bounded state)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val deduped = graft.streaming.EventStreams.dedupEvents(
      input.toDF().toDF("event_id", "ts", "value"), Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:01:00"), 2.0),
        (1L, ts("2024-01-01 10:02:00"), 1.0))) // dup within batch
      q.processAllAvailable()
      input.addData(Seq(
        (2L, ts("2024-01-01 10:03:00"), 2.0),  // dup across batches
        (3L, ts("2024-01-01 10:04:00"), 3.0)))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sliding windows cover each event in four windows") {
    val session = spark
    import session.implicits._
    val df = EventStreams.slidingValue(
      sample.toDF("event_id", "ts", "event_type", "value"))
    val n = df.agg(sum("n")).collect()(0).getLong(0)
    assert(n == sample.size * 4) // 1h window / 15min slide = 4 windows per event
  }

  test("streaming near-dup detection equals the batch SimHash pairs across batches") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs: Seq[(Long, String)] = Seq(
      1L -> base,
      2L -> base.replace("dog", "cat"),          // near-dup of 1
      3L -> "completely different text about spark query engines and joins",
      4L -> base,                                // exact dup of 1, later batch
      5L -> "completely different text about spark query engines and scans", // near 3
      6L -> "unrelated third topic entirely with its own words and phrasing")
    val input = MemoryStream[(Long, String)]
    val pairs = graft.streaming.CorpusStreams.nearDupPairs(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", maxHamming = 3)
    val q = pairs.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.slice(0, 2)) // batch 1: 1, 2
      q.processAllAvailable()
      input.addData(docs.slice(2, 4)) // batch 2: 3, 4 (4 dups batch-1's 1)
      q.processAllAvailable()
      input.addData(docs.slice(4, 6)) // batch 3: 5, 6 (5 dups batch-2's 3)
      q.processAllAvailable()
      val streamed = spark.table("neardup_stream")
        .select("a_id", "b_id", "hamming").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batch = graft.operators.TextDedup.simhashPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(batch.nonEmpty, "fixture must contain near-dups")
      assert(batch.exists(p => p._1 == 1L && p._2 == 4L),
        "the cross-batch exact dup must be in the batch answer")
      assert(streamed == batch,
        s"streaming pairs $streamed must equal the batch pairs $batch")
    } finally q.stop()
  }

  test("streaming decontamination flags docs incrementally, equal to the batch check") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq(
      10L -> "what is the capital of france and why does it matter to you",
      11L -> "name every planet of the solar system in order from the sun")
      .toDF("doc_id", "text")
    val arriving: Seq[(Long, String)] = Seq(
      1L -> "my essay asks what is the capital of france and why not",
      2L -> "totally clean document with none of the benchmark phrasing inside",
      3L -> "students must name every planet of the solar system in order today",
      4L -> "another clean one discussing unrelated training data pipeline topics")
    val input = MemoryStream[(Long, String)]
    val flagged = graft.streaming.CorpusStreams.contaminated(
      input.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", n = 5)
    val q = flagged.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    try {
      input.addData(arriving.take(2))
      q.processAllAvailable()
      input.addData(arriving.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("contam_stream").collect()
        .map(_.getLong(0)).toSet
      val batch = graft.operators.TextDedup.contaminated(
        arriving.toDF("doc_id", "text"), bench, "doc_id", "text", n = 5)
        .collect().map(_.getLong(0)).toSet
      assert(batch == Set(1L, 3L), s"fixture expectation: $batch")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming span decontamination: incremental equals batch, span evidence exact") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // quarantine: 11 tokens → four 8-token anchor windows
    val quarantine = Seq(
      100L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo")
      .toDF("doc_id", "text")
    val anchors = graft.operators.TextDedup.spanAnchorTable(
      quarantine, "doc_id", "text", k = 8)
    // doc 1 embeds a 10-token verbatim span (3 consecutive matched
    // windows), doc 3 exactly 8 tokens (1 window), docs 2/4 clean
    val arriving: Seq[(Long, String)] = Seq(
      1L -> ("intro words alpha bravo charlie delta echo foxtrot golf " +
        "hotel india juliet end"),
      2L -> "totally clean document with none of the quarantined phrasing inside",
      3L -> ("zero one two alpha bravo charlie delta echo foxtrot golf " +
        "hotel tail words here"),
      4L -> "another clean one discussing unrelated training data pipeline topics")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.CorpusStreams.spanContaminated(
        df, anchors, "doc_id", "text", k = 8)
    val batch = run(arriving.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((1L, 3L, 10L), (3L, 1L, 8L)),
      s"fixture expectation: $batch")
    val input = MemoryStream[(Long, String)]
    val q = run(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("span_contam_stream")
      .outputMode("complete").start()
    try {
      input.addData(arriving.take(2))
      q.processAllAvailable()
      input.addData(arriving.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("span_contam_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming quality filter: dense linearScore is map-only, incremental equals batch") {
    // q286's inference stage at ingest: the DENSE path is one expression
    // per row (no aggregation, no join), so it streams in plain APPEND
    // mode — arriving documents score identically to the batch sweep
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs: Seq[(Long, String)] = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "",
      3L -> "lorem ipsum dolor sit amet consectetur",
      4L -> "the the the the repetitive doc")
    val weights = graft.operators.Features.portableWeightsArray(64)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Features.linearScoreDense(df, "doc_id", "text",
        dim = 64, weights = weights, bias = -0.05)
    val batch = run(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val input = MemoryStream[(Long, String)]
    val q = run(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2))
      q.processAllAvailable()
      input.addData(docs.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("quality_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming triangles: motifs close incrementally across batches") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // canonical src<dst edges, timestamps within the join window; the
    // triangle (1,2,3) only closes in batch 2 when edge (1,3) arrives, and
    // (2,3,4) closes in batch 3 — the incremental proof
    val edges = Seq(
      (1L, 2L, ts("2024-01-01 10:00:00")),
      (2L, 3L, ts("2024-01-01 10:05:00")),
      (5L, 6L, ts("2024-01-01 10:06:00")), // never part of a triangle
      (1L, 3L, ts("2024-01-01 10:10:00")), // closes (1,2,3)
      (2L, 4L, ts("2024-01-01 10:12:00")),
      (3L, 4L, ts("2024-01-01 10:20:00"))) // closes (2,3,4)
    def df(rows: Seq[(Long, Long, java.sql.Timestamp)]) =
      rows.toDF("src", "dst", "ts")
    val expected = graft.streaming.GraphStreams.triangles(df(edges))
      .as[(Long, Long, Long)].collect().toSet
    assert(expected == Set((1L, 2L, 3L), (2L, 3L, 4L)))

    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val stream = graft.streaming.GraphStreams.triangles(
      in.toDF().toDF("src", "dst", "ts"))
    val q = stream.writeStream.format("memory").queryName("tri_test")
      .outputMode("append").start()
    try {
      in.addData(edges.take(3))
      q.processAllAvailable()
      val afterB1 = spark.table("tri_test").count()
      in.addData(edges.slice(3, 5))
      q.processAllAvailable()
      in.addData(edges.drop(5))
      q.processAllAvailable()
      val got = spark.table("tri_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(afterB1 == 0, "no triangle can close before its third edge arrives")
      assert(got == expected,
        s"incremental triangles $got must equal the batch answer $expected")
    } finally q.stop()
  }

  test("near-dup event-time TTL expires stored sketches; capacity drops are counted") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val input = MemoryStream[(Long, Timestamp, String)]
    val pairs = graft.streaming.CorpusStreams.nearDupPairs(
      input.toDF().toDF("doc_id", "ts", "text").withWatermark("ts", "0 seconds"),
      "doc_id", "text", maxHamming = 3, tsCol = "ts", ttlMs = 10000L)
    val q = pairs.writeStream.format("memory").queryName("neardup_ttl")
      .outputMode("append").start()
    try {
      // start past epoch 0: a row AT the initial watermark is late data
      input.addData((1L, ts(10), base))
      q.processAllAvailable()
      input.addData((2L, ts(15), base)) // inside 1's 10 s window → pair
      q.processAllAvailable()
      // advance the watermark far past both sketches' expiry
      input.addData((3L, ts(100), "completely unrelated text about engines"))
      q.processAllAvailable()
      input.addData((4L, ts(101), base)) // identical to 1 — but 1, 2 expired
      q.processAllAvailable()
      val got = spark.table("neardup_ttl")
        .select("a_id", "b_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L)),
        s"TTL should leave only the in-window pair (1,2), got $got — " +
          "a pair with doc 4 means an expired sketch was served")
    } finally q.stop()

    // capacity-cap drops are intentional-loss telemetry: with maxPerBand=1 a
    // hot band keeps only the newest sketch and must COUNT each eviction
    val in2 = MemoryStream[(Long, String)]
    val pairs2 = graft.streaming.CorpusStreams.nearDupPairs(
      in2.toDF().toDF("doc_id", "text"), "doc_id", "text",
      maxHamming = 3, maxPerBand = 1)
    val counter = graft.streaming.CorpusStreams.lastDroppedSketches.get
    val q2 = pairs2.writeStream.format("memory").queryName("neardup_cap")
      .outputMode("append").start()
    try {
      in2.addData((1L, base)); q2.processAllAvailable()
      in2.addData((2L, base)); q2.processAllAvailable()
      in2.addData((3L, base)); q2.processAllAvailable()
      assert(counter.value > 0,
        "capacity evictions on a hot band must increment the dropped-sketch counter")
    } finally q2.stop()
  }
}
