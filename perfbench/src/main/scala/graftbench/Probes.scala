package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task totals of the Spark execution layer. */
final case class ExecTotals(jobs: Long, tasks: Long, cpuNs: Long, runMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long)

/** Jobs with their wall intervals plus summed task metrics. Installed only
  * for the traced cycles. */
final class JobLog extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start ms, end ms) of every finished job, in completion order */
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val c = Array.fill(8)(new AtomicLong)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    starts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = starts.remove(e.jobId)
    intervals.add((t0, e.time))
    c(0).incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c(1).incrementAndGet()
    if (m != null) {
      c(2).addAndGet(m.executorCpuTime)
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(5).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(6).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(7).addAndGet(m.jvmGCTime)
    }
  }

  def totals: ExecTotals = ExecTotals(c(0).get, c(1).get, c(2).get, c(3).get,
    c(4).get, c(5).get, c(6).get, c(7).get)
}

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Batch(runId: String, triggerMs: Long, addBatchMs: Long,
    planningMs: Long, walMs: Long, commitOffsetsMs: Long, stateCommitMs: Long,
    inputRows: Long, stateRows: Long, stateBytes: Long)

/** Every micro-batch progress event. The end-to-end batch latencies come
  * from here, so it is installed in both modes. */
final class StreamLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val ops = p.stateOperators.toSeq
    batches.add(Batch(p.runId.toString, d.getOrElse("triggerExecution", 0L),
      d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
      d.getOrElse("walCommit", 0L), d.getOrElse("commitOffsets", 0L),
      ops.map(_.commitTimeMs).sum, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }
}

/** One traced span: `parent` is -1 at a root. Times are epoch millis. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    durMs: Double, attrs: Map[String, String] = Map.empty) {
  def json: String = {
    val a = attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    f"""{"id":$id,"parent":$parent,"name":${Json.str(name)},""" +
      f""""start_ms":$startMs%.3f,"dur_ms":$durMs%.3f,"attrs":$a}"""
  }
}

/** The few JSON shapes the harness writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
