package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the child processes. With no native
  * Hadoop library, `RawLocalFileSystem` forks `chmod` on every create and
  * mkdirs and `readlink` on every `FileContext.rename`. These two
  * overrides do the same through java.nio; a sticky bit or a real
  * symbolic link still goes through Hadoop's own code. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit) super.setPermission(p, perm)
    else {
      // PosixFilePermission.values runs from owner-read (bit 8) down to
      // others-execute (bit 0)
      val bits = PosixFilePermission.values.zipWithIndex.collect {
        case (b, k) if (perm.toShort >> (8 - k) & 1) == 1 => b
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NoForkRawLocalFileSystem]]. */
class NoForkRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NoForkRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `org.apache.hadoop.fs.local.LocalFs` (checksummed) over
  * [[NoForkRawLocalFs]]: the `file` scheme's `FileContext` filesystem
  * inside `Streaming.withStreamShuffle`. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
