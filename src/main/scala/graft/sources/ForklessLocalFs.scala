package graft.sources

import java.nio.file.{Files => NioFiles}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, minus the `chmod` fork per
  * file. Without Hadoop's native library, `RawLocalFileSystem` sets the
  * mode of every file and directory it creates by starting a `chmod`
  * process; this one sets the same bits through `java.nio`. A mode NIO
  * cannot express (setuid, setgid or sticky, asked for or already set)
  * and a file system without POSIX attributes take Hadoop's own path.
  * Registered as `fs.file.impl` on the load path's writes only
  * ([[Sinks.write]]), so it never sees a non-`file:` path.
  */
class ForklessLocalFs extends LocalFileSystem(new ForklessLocalFs.Raw)

object ForklessLocalFs {

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val rwxOnly =
        try ((permission.toShort | NioFiles.getAttribute(file, "unix:mode").asInstanceOf[Int]) &
          SetuidSetgidSticky) == 0
        catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
      if (!rwxOnly) super.setPermission(p, permission)
      else NioFiles.setPosixFilePermissions(file,
        PosixFilePermissions.fromString(rwx(permission.toShort))): Unit
    }
  }

  /** The mode bits above `rwxrwxrwx` (octal 7000). */
  private val SetuidSetgidSticky = 0xe00

  /** `rwxr-x---` for octal 750. */
  private def rwx(mode: Int): String =
    (8 to 0 by -1).map(b => if ((mode >> b & 1) == 0) '-' else "rwx"((8 - b) % 3)).mkString
}
