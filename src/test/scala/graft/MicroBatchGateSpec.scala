package graft

import graft.streaming.MicroBatchGate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The runner behind every MemoryStream gate: a gate run leaves the shared
  * session's conf and temp views as it found them, and repeats its result.
  */
class MicroBatchGateSpec extends SparkSpec {

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** `body` may fail; the session's conf, temp views and active streams
    * must be as they were before it ran. */
  private def leavesSessionAsFound(body: => Unit): Unit = {
    val (conf0, views0, active0) =
      (spark.conf.getAll, tempViews, spark.streams.active.length)
    body
    assert(spark.conf.getAll == conf0)
    assert(tempViews == views0)
    assert(spark.streams.active.length == active0)
  }

  for (name <- Seq("q77_stream_running_totals", "q195_stream_sessions",
                   "q205_stream_cms", "q214_stream_hll", "q224_stream_dedup",
                   "q229_stream_cdc_latest", "q230_stream_topk",
                   "q235_stream_anomaly", "q246_stream_centroid_assign",
                   "q247_stream_histogram", "q276_stream_expectations"))
    test(s"$name leaves the session's conf and temp views as it found them") {
      var first, second: Seq[org.apache.spark.sql.Row] = Nil
      leavesSessionAsFound {
        first = run(name).collect().toSeq
        second = run(name).collect().toSeq
      }
      assert(first.nonEmpty)
      assert(second == first)
    }

  test("a query that fails at start() rethrows, restores every conf key and leaves no view") {
    val session = spark
    import session.implicits._
    var startConf = Map.empty[String, String]
    leavesSessionAsFound {
      // a streaming aggregation without a watermark cannot run in append mode
      val e = intercept[Exception](
        MicroBatchGate.run(spark, "failing_start", Seq(Seq(1L, 2L)), "append",
            noDataBatches = false) { input =>
          startConf = spark.conf.getAll
          input.toDF("x").groupBy("x").count()
        })
      assert(e.getMessage.contains("STREAMING_OUTPUT_MODE"), e.getMessage)
    }
    assert(startConf("spark.sql.shuffle.partitions") == "4")
    assert(startConf("spark.sql.streaming.noDataMicroBatches.enabled") == "false")
  }

  test("a query that fails in a micro-batch rethrows and leaves no view") {
    val session = spark
    import session.implicits._
    val boom = udf((x: Long) => { require(x < 3, s"row $x"); x })
    leavesSessionAsFound {
      intercept[StreamingQueryException](
        MicroBatchGate.run(spark, "failing_batch", Seq(Seq(1L, 2L), Seq(3L)),
            "append")(input => input.toDF("x").select(boom(col("x")).as("x"))))
    }
  }

  test("split cuts 2 and 3 batches at the gates' old boundaries") {
    assert(MicroBatchGate.split(1 to 10, 3) == Seq(1 to 3, 4 to 6, 7 to 10))
    assert(MicroBatchGate.split(1 to 7, 2) == Seq(1 to 3, 4 to 7))
    for (size <- 0 to 12) {
      val rows = (0 until size).toVector
      val (b1, rest) = rows.splitAt(rows.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      assert(MicroBatchGate.split(rows, 3) == Seq(b1, b2, b3), s"size $size")
      val (c1, c2) = rows.splitAt(rows.size / 2)
      assert(MicroBatchGate.split(rows, 2) == Seq(c1, c2), s"size $size")
    }
  }
}
