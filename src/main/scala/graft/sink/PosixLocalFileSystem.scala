package graft.sink

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem `HiveParquetWriter.writeFiles` stages through.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` applies
  * every permission by forking `chmod`: once per file it creates (data
  * file and `.crc` sidecar) and once per directory, hundreds of forks per
  * partitioned append. This subclass sets the same mode bits in-process
  * through `java.nio`. Registered under its own scheme (not as `file:`),
  * it is the raw filesystem with no checksum wrapper, so staging writes
  * no `.crc` sidecars; those were never published anyway.
  */
final class PosixLocalFileSystem extends RawLocalFileSystem {

  // a companion constant: the superclass constructor already calls getUri
  override def getUri: URI = PosixLocalFileSystem.Uri

  override def getScheme: String = PosixLocalFileSystem.Scheme

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    // sticky/setuid bits have no PosixFilePermission: leave them to chmod
    if (!PosixLocalFileSystem.posix || (mode & ~0x1ff) != 0)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixLocalFileSystem.bits(mode).asJava)
  }
}

object PosixLocalFileSystem {
  val Scheme = "posixlocal"
  private val Uri = URI.create(s"$Scheme:///")

  /** The write option that binds [[Scheme]] to this class in one job's
    * Hadoop configuration (Spark copies write options into it).
    */
  val ImplOption: (String, String) = s"fs.$Scheme.impl" -> classOf[PosixLocalFileSystem].getName

  /** A local path as a path of this filesystem. */
  def uriOf(path: java.nio.file.Path): String = s"$Scheme://${path.toAbsolutePath}"

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission.values runs owner r/w/x, group r/w/x, others
  // r/w/x: mode bits 8 down to 0
  private def bits(mode: Int): Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex.collect {
      case (perm, i) if (mode & (1 << (8 - i))) != 0 => perm
    }.toSet
}
