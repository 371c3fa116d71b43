package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local filesystem for store writes: Hadoop's
  * `LocalFileSystem` (checksummed) over a raw filesystem that sets
  * permissions in-process. Without Hadoop's native library the stock
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file,
  * `.crc` file and directory a write creates; this one sets the same
  * mode bits with `Files.setPosixFilePermissions`. A sticky bit (which
  * `PosixFilePermission` cannot express) or a filesystem without POSIX
  * attributes goes to the stock path.
  *
  * Writes reach it through per-write Hadoop options
  * ([[NioLocalFileSystem.writeOptions]]): the session conf, the
  * `FileSystem` cache and every other scheme stay untouched. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          posix(perm.toShort))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, perm)
        }
  }

  /** The rwx bits of `mode`: `PosixFilePermission` lists them from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p))
    set
  }

  /** The class `file:` paths resolve to under [[writeOptions]]: this
    * one, or a test's subclass that counts or fails its calls. */
  @volatile private[graft] var impl: Class[_ <: NioLocalFileSystem] =
    classOf[NioLocalFileSystem]

  /** Hadoop options that resolve `file:` paths to [[impl]]. The
    * `FileSystem` cache is keyed by scheme and user, not by conf, so it
    * is bypassed for `file:` or the cached stock instance would come
    * back. */
  def writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> impl.getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` carrying [[writeOptions]]: the conf of every
    * driver-side store operation, built once per operation. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    writeOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
