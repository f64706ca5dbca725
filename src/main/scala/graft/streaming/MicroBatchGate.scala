package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The one harness behind every MemoryStream gate: feed pre-collected rows
  * to a streaming query in micro-batches and return its memory sink. The
  * gate supplies the rows, the batching and the stream builder; the runner
  * owns the rest, so a harness fix lands in every gate at once.
  */
object MicroBatchGate {

  private val runs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `query` over a MemoryStream of `T` fed `batches` in order (empty
    * ones skipped), one `processAllAvailable` each, and return the sink's
    * rows as a frame. The query is named `graft_<gate>_run_<K>`; its temp
    * view is dropped before this returns (the frame already holds the
    * sink), also when the run fails.
    *
    * The stateful shuffle spawns one state-store instance per shuffle
    * partition per micro-batch, pure fixed overhead for these bounded
    * gates, so the query starts with 4 shuffle partitions. A streaming
    * query pins its confs when it starts, so they are set only around
    * `start()`. `noDataBatches = false` turns off the eviction-only
    * micro-batches Spark runs to advance a watermark without new data, for
    * gates whose sink does not need them. Start and stop are charged to
    * [[HarnessClock]]; the batch loop is the measured operator work.
    */
  def run[T: Encoder](s: SparkSession, gate: String, batches: Seq[Seq[T]],
      mode: String, noDataBatches: Boolean = true)(
      query: Dataset[T] => DataFrame): DataFrame = {
    val name = s"graft_${gate}_run_${runs.incrementAndGet()}"
    val confs = Seq("spark.sql.shuffle.partitions" -> "4") ++
      (if (noDataBatches) Nil
       else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    val input = MemoryStream[T](implicitly[Encoder[T]], s.sqlContext)
    try {
      val q = HarnessClock.timed(graft.GraftSession.withConf(s, confs: _*)(
        query(input.toDS()).writeStream.format("memory").queryName(name)
          .outputMode(mode).start()))
      try for (b <- batches if b.nonEmpty) {
        input.addData(b); q.processAllAvailable()
      } finally HarnessClock.timed(q.stop())
      s.table(name)
    } finally s.catalog.dropTempView(name)
  }

  /** `rows` cut into `n` consecutive batches: the first takes size/n rows,
    * the rest is split the same way into n-1 (so 3 batches cut at size/3,
    * then at half of the remainder). */
  def split[T](rows: Seq[T], n: Int): Seq[Seq[T]] =
    if (n <= 1) Seq(rows)
    else {
      val (head, rest) = rows.splitAt(rows.size / n)
      head +: split(rest, n - 1)
    }
}
