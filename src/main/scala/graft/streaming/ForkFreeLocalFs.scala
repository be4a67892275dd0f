package graft.streaming

import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` AbstractFileSystem for streaming checkpoints: Hadoop's own
  * `LocalFs` (a `ChecksumFs` over a `DelegateToFileSystem` over
  * `RawLocalFileSystem`), except that the raw layer sets permissions and
  * probes links in the JVM. Without the native `libhadoop`, the stock raw
  * layer starts a `chmod` process for every file create and mkdir and a
  * `readlink` process for every link-status probe, four or more per
  * `FileContext.rename`; a checkpointed micro-batch makes dozens of both.
  * `.crc` files, atomic rename and `FileAlreadyExistsException` stay
  * Hadoop's, so checkpoints written under either binding resume under the
  * other. [[StreamJob.start]] binds it as `fs.AbstractFileSystem.file.impl`.
  */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  val ImplKey = "fs.AbstractFileSystem.file.impl"
}

/** `org.apache.hadoop.fs.local.RawLocalFs`, over [[ForkFreeRawLocalFileSystem]]. */
final class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` with the two process-starting primitives done by
  * `java.nio.file`; anything they cannot express goes to Hadoop's code. */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val view = Files.getFileAttributeView(pathToFile(p).toPath,
      classOf[attribute.PosixFileAttributeView])
    // sticky/setuid/setgid bits have no java.nio form
    if ((bits & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      ForkFreeRawLocalFileSystem.PermBits.foreach { case (perm, bit) =>
        if ((bits & bit) != 0) perms.add(perm)
      }
      view.setPermissions(perms)
    }
  }

  /** Hadoop asks `readlink` about every path; only a real symlink needs its
    * answer. For anything else its answer is "" and the status is
    * `getFileStatus`'s, as here. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  import attribute.PosixFilePermission._
  /** each POSIX permission with its bit in an octal mode (0400 ... 0001) */
  private val PermBits = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE,
    OTHERS_EXECUTE).zipWithIndex.map { case (perm, i) => perm -> (0x100 >> i) }
}
