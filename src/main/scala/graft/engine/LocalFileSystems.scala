package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without forked processes. Without
  * the native `libhadoop`, [[RawLocalFileSystem]] runs every
  * `setPermission` as a `chmod` child process — and every `create` and
  * `mkdirs` calls it — and every link lookup as a `readlink` child.
  * A fork costs ~2 ms; a streaming epoch paid ~30 of them for its
  * offset and commit logs, its delta write and its Parquet part files.
  * Here `java.nio` does both in the JVM (~0.02 ms):
  *   - `setPermission` with a plain mode (≤ 0777) sets the POSIX bits
  *     directly; a mode with the sticky, setuid or setgid bit takes
  *     Hadoop's own path, so its semantics never drift;
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus` — exactly what Hadoop returns once `readlink`
  *     finds no link — and a real symlink takes Hadoop's own path. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      GraftRawLocalFileSystem.posix(mode))
    ()
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object GraftRawLocalFileSystem {
  // PosixFilePermission's declaration order is the mode's bit order,
  // owner read (0400) down to others execute (0001)
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] over
  * [[GraftRawLocalFileSystem]] — stock [[LocalFileSystem]] behaviour
  * (`.crc` sidecars included), without the forks. Bound by
  * `fs.file.impl`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The FileContext binding of [[GraftRawLocalFileSystem]], mirroring
  * Hadoop's own `RawLocalFs` (whose constructors are package-private). */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext binding over [[GraftRawLocalFs]], as
  * Hadoop's `LocalFs` is over `RawLocalFs`. Bound by
  * `fs.AbstractFileSystem.file.impl`: Spark's streaming offset and
  * commit logs write through FileContext, and its temp-file rename
  * looked up links with `readlink` on every log write. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))
