package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with a fork-free `setPermission`.
  *
  * Why it exists: without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process
  * (`Shell.execCommand`), and the local filesystem calls it for every
  * directory it creates (`mkOneDirWithMode`) and every file it writes
  * (`LocalFSFileOutputStream`, once for the data file and once for its
  * `.crc`). A partitioned index build creates hundreds of both, so the
  * forks, not the data, set its cost. Here the raw layer sets the same
  * mode bits (Hadoop's default after the conf's `fs.permissions.umask-mode`)
  * through `java.nio.file.Files.setPosixFilePermissions`, with no child
  * process. Where POSIX attributes are unsupported, or the mode carries a
  * bit beyond `rwxrwxrwx`, it falls back to Hadoop's own path.
  *
  * It is installed per write, never session-wide: [[Tables.write]] passes
  * [[LocalFs.Settings]] as writer options and [[Tables.writeConf]] as a
  * Hadoop conf for raw `fs.create` writers. Only `file:` paths resolve to
  * it; other schemes (HDFS, S3) keep their own filesystem. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Hadoop settings that resolve `file:` paths to [[LocalFs]]. The cache
    * is disabled because Hadoop caches a filesystem by scheme and user, not
    * by conf: with the cache on, these settings would either be ignored
    * (an ordinary `LocalFileSystem` already cached) or leak into every
    * later `file:` lookup of the process (a `LocalFs` cached first). */
  val Settings: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val Modes = PosixFilePermission.values // owner rwx, group rwx, others rwx

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val modes = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        Modes.indices.foreach(i => if ((bits & (0x100 >> i)) != 0) modes.add(Modes(i)))
        try Files.setPosixFilePermissions(pathToFile(p).toPath, modes)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
