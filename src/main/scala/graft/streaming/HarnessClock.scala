package graft.streaming

/** Wall-clock accumulator for the STREAMING GATES' harness overhead — the
  * MemoryStream feed collect plus stream start/stop around each gate's
  * micro-batches. perfbench reports its per-run delta as
  * `stream.harness_ms`, so an operator regression inside a streaming entry
  * is separable from harness noise (feed materialization, query
  * start/teardown) without a rerun. The
  * addData/processAllAvailable loop is deliberately NOT counted — the
  * micro-batch execution IS the operator under measurement.
  */
object HarnessClock {
  private val acc = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Accumulated harness wall-clock millis since process start. */
  def millis: Long = acc.get() / 1000000L

  /** Run `f`, charging its wall time to the harness account. */
  def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally acc.addAndGet(System.nanoTime() - t0)
  }

  /** `.collectFeed()` — a collect() charged to the harness account: the
    * streaming gates' MemoryStream feed materialization. */
  implicit class FeedOps[T](private val ds: org.apache.spark.sql.Dataset[T])
      extends AnyVal {
    def collectFeed(): Seq[T] = timed(ds.collect().toSeq)
  }
}
