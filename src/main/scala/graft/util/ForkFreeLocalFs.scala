package graft.util

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's local `FileContext` filesystem (`LocalFs`) without its two
  * child processes.
  *
  * With no libhadoop on the library path, `RawLocalFileSystem` forks
  * `chmod` on every file create (`setPermission`) and `readlink` on every
  * `FileContext.rename` (`getFileLinkStatus`). Structured Streaming's
  * checkpoint writes go through `FileContext`: each offset or commit log
  * entry costs about 10 processes, each HDFS-backed state-store delta about
  * 20, about 180 per micro-batch of the canonical pipeline. The fallback
  * `readlink` is also handed a qualified `file:/…` string, so it always
  * fails and returns "" — a fork that never learns anything.
  *
  * This is `LocalFs` (a `ChecksumFs` over a `DelegateToFileSystem`) with
  * both calls answered by `java.nio`. Files, modes, `.crc` sidecars and
  * rename semantics are unchanged. Registered for scheme `file` by
  * [[graft.GraftSession.configure]] through
  * `fs.AbstractFileSystem.file.impl`; the `FileSystem` API
  * (`fs.file.impl`) is left alone.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {

  /** `RawLocalFs` over [[RawFileSystem]] instead of `RawLocalFileSystem`. */
  class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private def bits(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
      x: PosixFilePermission): Seq[PosixFilePermission] =
    Seq(a.implies(FsAction.READ) -> r, a.implies(FsAction.WRITE) -> w,
      a.implies(FsAction.EXECUTE) -> x).collect { case (true, p) => p }

  /** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus`
    * answered in-process. Anything java.nio cannot say identically (a
    * sticky bit, a non-POSIX filesystem, a real symlink) defers to Hadoop. */
  class RawFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = new java.util.HashSet[PosixFilePermission]
        (bits(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE) ++
          bits(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE) ++
          bits(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE))
          .foreach(mode.add)
        Files.setPosixFilePermissions(pathToFile(p).toPath, mode)
      }

    /** For a non-link, Hadoop's own answer is exactly `getFileStatus(f)`
      * (its `readlink` of the qualified path returns "" for every path),
      * including `FileNotFoundException` for a missing one. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
