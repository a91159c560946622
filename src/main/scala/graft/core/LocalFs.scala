package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem with the two
  * calls that start an operating-system process done in process instead.
  *
  * Without Hadoop's native library (the usual case for a Spark install),
  * `RawLocalFileSystem` runs a `chmod` process for every file and
  * directory it creates and a `readlink` process for every `FileContext`
  * rename. Every durable step of a micro-batch (offset log, state-store
  * delta, sink files, idempotent-sink marker, commit log) and every index
  * lifecycle write goes through those calls, so the launches were most of
  * a micro-batch's fixed cost. Here:
  *   - `setPermission` is `Files.setPosixFilePermissions`, the in-process
  *     equivalent of the `NativeIO.POSIX.chmod` Hadoop calls when its
  *     native library is loaded (a sticky-bit mode still goes to Hadoop);
  *   - `getFileLinkStatus` is `getFileStatus` unless the path really is a
  *     symbolic link, which still goes to Hadoop. Hadoop's own `readlink`
  *     runs on the `file:`-prefixed path string and so never finds a link
  *     either.
  *
  * Everything else, `.crc` checksums included, is Hadoop's. Both bindings
  * are registered by [[graft.Sessions.builder]]: [[LocalFs.FileSystem]]
  * as `fs.file.impl` and [[LocalFs.Context]] as
  * `fs.AbstractFileSystem.file.impl`.
  */
object LocalFs {
  /** The raw (checksum-free) filesystem under both bindings. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val f = pathToFile(p)
        try Files.setPosixFilePermissions(f.toPath, posix(permission.toShort))
        catch {
          case _: NoSuchFileException =>
            throw new FileNotFoundException(s"File $f does not exist")
        }
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `FileSystem` API binding: checksummed over [[Raw]], as Hadoop's
    * `LocalFileSystem` is over `RawLocalFileSystem`. */
  class FileSystem extends org.apache.hadoop.fs.LocalFileSystem(new Raw)

  /** `FileContext` binding: checksummed over [[Raw]], as Hadoop's
    * `local.LocalFs` is over `local.RawLocalFs`. Spark's streaming
    * checkpoint manager renames through this API. */
  class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `local.RawLocalFs` (whose constructors are package-private)
    * over [[Raw]]. */
  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("", "") override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The nine rwx bits of a mode, as `PosixFilePermission`s (from the
    * bits, not `toString`: the `FsCreateModes` that `create` passes
    * prints both its masked and unmasked modes). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ … OTHERS_EXECUTE: mode bit 8 down to bit 0
    val all = PosixFilePermission.values()
    var i = 0
    while (i < 9) {
      if ((mode & (1 << (8 - i))) != 0) out.add(all(i))
      i += 1
    }
    out
  }
}
