package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system for the `file` scheme, minus its
  * child processes. Without the native `libhadoop`, the stock raw layer
  * starts a `chmod` for every file and dir it creates (and another for each
  * `.crc` sidecar) and a `readlink` for every `FileContext` link-status
  * call, such as the streaming checkpoint's rename. [[LocalFs.Raw]] does
  * both through `java.nio.file`; the checksum layer, the bytes written and
  * the permission bits are those of the stock classes.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  val FsKey = "spark.hadoop.fs.file.impl"
  val ContextKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"

  /** The two file-scheme session settings. A key that `preset` (the system
    * properties, which `spark-submit --conf` and `-D` set) already gives
    * keeps that value; otherwise the graft class is used.
    */
  def settings(preset: String => Option[String]): Map[String, String] =
    Map(FsKey -> classOf[LocalFs].getName, ContextKey -> classOf[Context].getName)
      .map { case (k, graftClass) => k -> preset(k).getOrElse(graftClass) }

  /** `RawLocalFileSystem` with the two forking calls done in-process. */
  class Raw extends RawLocalFileSystem {

    /** The nine rwx bits through `Files.setPosixFilePermissions`. Any other
      * bit (sticky), a store without POSIX attributes, or a dir carrying
      * setuid/setgid takes the stock `chmod`: its four-digit octal mode
      * keeps those bits on a dir, where chmod(2) would clear them.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0 || !setRwx(pathToFile(p).toPath, mode))
        super.setPermission(p, permission)
    }

    private def setRwx(file: java.nio.file.Path, mode: Int): Boolean =
      try {
        val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        val setIdDir = (current & 0xf000) == 0x4000 && (current & 0xc00) != 0
        if (!setIdDir) Files.setPosixFilePermissions(file, rwx(mode))
        !setIdDir
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException => false
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
      }

    /** A path that is not a symlink has the status of its target, which is
      * what the stock call returns after forking `readlink` to learn that.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }

  /** The `FileContext` twin of [[LocalFs]]: Hadoop's
    * `org.apache.hadoop.fs.local.LocalFs` over [[Raw]] (its constructors are
    * package-private).
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Mirrors `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]]. */
  class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
