package graft

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` FileSystem with permission changes made in the JVM.
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process, and every file create and `mkdirs` with a permission
  * calls it: a streaming state commit writes several files per partition.
  * `GraftSession.create` installs this class as `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Sets the same `rwx` mode bits as Hadoop's `chmod`; a mode with the
    * sticky bit, or a file system without POSIX modes, goes to Hadoop. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0 || !posix) super.setPermission(p, permission)
      else {
        val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // the enum lists OWNER_READ first, the mode's highest rwx bit
        PosixFilePermission.values.foreach { b =>
          if ((mode & (1 << (8 - b.ordinal))) != 0) bits.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      }
    }
  }
}
