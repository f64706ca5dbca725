package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** A streaming query's checkpoint writes fork no `readlink` process. Without
  * libhadoop, Hadoop's FileContext renames resolve symlinks by running
  * `readlink` twice per rename, and every micro-batch renames several state,
  * offset and commit files; the session's FileSystem-based checkpoint file
  * manager renames with File.renameTo instead. JFR's jdk.ProcessStart event
  * records each process the JVM starts. */
class CheckpointForkSpec extends SparkSpec {

  /** The commands of the processes started while `f` ran. */
  private def processesStartedBy(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    val out = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.start()
      try f finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("a repeated q229 run forks no readlink process") {
    run("q229_stream_cdc_latest").collect()
    val commands = processesStartedBy(run("q229_stream_cdc_latest").collect())
    val byCommand = commands.groupBy(_.split(' ').head).view
      .mapValues(_.size).toSeq.sortBy(-_._2)
    assert(!commands.exists(_.startsWith("readlink")),
      s"q229 forked ${byCommand.mkString(", ")}")
  }
}
