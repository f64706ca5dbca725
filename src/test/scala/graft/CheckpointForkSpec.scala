package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** A streaming query's checkpoint writes fork no process. Without libhadoop,
  * Hadoop's FileContext renames resolve symlinks by running `readlink` twice
  * per rename, and RawLocalFileSystem runs `chmod` on every file it creates;
  * every micro-batch writes and renames several state, offset and commit
  * files. The session's FileSystem-based checkpoint file manager renames with
  * File.renameTo, and its `file:` FileSystem sets modes through java.nio.
  * JFR's jdk.ProcessStart event records each process the JVM starts. */
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

  test("a repeated q229 run forks no readlink or chmod process") {
    run("q229_stream_cdc_latest").collect()
    val commands = processesStartedBy(run("q229_stream_cdc_latest").collect())
    val byCommand = commands.groupBy(_.split(' ').head).view
      .mapValues(_.size).toSeq.sortBy(-_._2)
    assert(!commands.exists(c => c.startsWith("readlink") || c.startsWith("chmod")),
      s"q229 forked ${byCommand.mkString(", ")}")
  }

  test("the session's file: FileSystem gives the modes Hadoop's default gives") {
    val conf = spark.sessionState.newHadoopConf()
    val session = FileSystem.get(new URI("file:///"), conf)
    assert(session.isInstanceOf[NioLocalFileSystem], session.getClass.getName)
    val hadoop = new LocalFileSystem()
    hadoop.initialize(new URI("file:///"), conf)
    val dir = Files.createTempDirectory("graft_modes").toString
    // a created file, a directory made with the default mode under the
    // configured umask, and an explicit chmod
    def modes(fs: FileSystem, tag: String): Seq[String] = {
      val file = new Path(dir, s"$tag.file")
      fs.create(file).close()
      val sub = new Path(dir, s"$tag.dir")
      fs.mkdirs(sub, FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(conf)))
      val chmod = new Path(dir, s"$tag.chmod")
      fs.create(chmod).close()
      fs.setPermission(chmod, new FsPermission("750"))
      Seq(file, sub, chmod).map(p => PosixFilePermissions.toString(
        Files.getPosixFilePermissions(Paths.get(p.toString))))
    }
    val got = modes(session, "session")
    assert(got == modes(hadoop, "hadoop"))
    assert(got.last == "rwxr-x---")
  }
}
