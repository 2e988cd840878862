package perfbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its shell fallbacks.
  *
  * Without Hadoop's native library (Spark's jar set has none), the local
  * file system forks a process for each `setPermission` (`chmod`) and for
  * each link check before a rename (`readlink`). A stream's checkpoint
  * writes and renames several files per micro-batch, so the two queries of
  * fraud-stream forked about 180 processes a second, and the cost of a
  * fork on a shared host varied from run to run by more than anything the
  * engine did. This file system makes the same calls with `java.nio`, as
  * the native library would with system calls; files, checksums and
  * renames are otherwise Hadoop's own. Installed by [[Main.session]] for
  * the `file` scheme, for both the `FileSystem` and the `FileContext` API.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val perms = new java.util.HashSet[PosixFilePermission]()
    // PosixFilePermission lists owner, group, others, each read/write/execute:
    // the same order as the mode's bits 8 down to 0.
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` binding of [[NioRawLocalFileSystem]], as Hadoop's
  * `local.LocalFs` and `local.RawLocalFs` bind `RawLocalFileSystem`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
