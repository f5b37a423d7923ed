package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem for Hadoop's `FileContext` API — the API Spark's
  * streaming checkpoint manager (`FileContextBasedCheckpointFileManager`)
  * writes offset logs, commit logs and state-store deltas through.
  *
  * It is Hadoop's stock `LocalFs` stack — `ChecksumFs` (the `.crc` twins)
  * over a `DelegateToFileSystem` over `RawLocalFileSystem` — with two
  * methods of the raw filesystem replaced. Without the native Hadoop
  * library the stock ones fork a process each:
  *
  *   - `setPermission` runs `chmod` on every file and directory created;
  *     here it is `Files.setPosixFilePermissions`.
  *   - `getFileLinkStatus` runs `readlink` on both sides of every rename;
  *     here `Files.isSymbolicLink` answers first, and only a real link
  *     goes to the stock method.
  *
  * Everything else — file layout, checksums, modes after umask, the
  * temp-file-plus-rename commit and its overwrite rules — is the stock
  * code, so checkpoints move between this and `LocalFs` in either
  * direction. Bound for every session by [[graft.GraftSession.builder]];
  * `FileContext` instantiates it reflectively through the
  * `(URI, Configuration)` constructor.
  */
final class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.Raw(conf))

object LocalCheckpointFs {

  /** `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are
    * package-private) over the fork-free raw filesystem. */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  private final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001
        PosixFilePermission.values.iterator.zipWithIndex.foreach { case (perm, i) =>
          if ((bits & (0x100 >> i)) != 0) perms.add(perm)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
