package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared session for all suites (one JVM, one Spark context). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.create("8")
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.session
  def sf: String = SparkSpec.sf
  def run(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** The listener events (job starts and SQL execution events) that `body`
    * causes, in posting order. The listener bus delivers events
    * asynchronously, so `body` is bracketed by two one-task marker jobs and
    * only the events between them are kept: an event still queued from
    * earlier work arrives before the first marker. */
  def eventsDuring(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val tag = s"graft-spec-marker-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = seen.add(e)
    }
    def isMarker(e: SparkListenerEvent, end: Boolean): Boolean = e match {
      case j: SparkListenerJobStart =>
        j.properties != null &&
          j.properties.getProperty("spark.job.description") == s"$tag-$end"
      case _ => false
    }
    def marker(end: Boolean): Unit = {
      sc.setJobDescription(s"$tag-$end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(end = false)
      body
      marker(end = true)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(isMarker(_, end = true)) &&
             System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val all = seen.asScala.toSeq
    assert(all.exists(isMarker(_, end = true)), "end marker never arrived")
    all.dropWhile(!isMarker(_, end = false)).drop(1)
      .takeWhile(!isMarker(_, end = true))
  }
}
