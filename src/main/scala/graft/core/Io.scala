package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The filesystem commit primitives every storage surface shares (the
  * DocStore generations, the derived-index sidecars, the model store and
  * the training export): small sidecar files written atomically and read
  * whole, the visible-name rule, and the publish of staged files. Each
  * exists exactly once, here.
  */
object Io {

  /** A name Spark and Hadoop treat as data: names starting with `_` or `.`
    * are metadata, staging dirs, commit markers or checksums.
    */
  def isVisible(name: String): Boolean = !name.startsWith("_") && !name.startsWith(".")

  /** The visible files directly under `dir` (one listing; the dir must exist). */
  def visibleFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter(st => st.isFile && isVisible(st.getPath.getName))

  /** A small file's whole content as UTF-8 text. */
  def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8) finally in.close()
  }

  /** Commit `bytes` as `dir/name` by tmp-then-rename, so a reader sees the
    * old file or the new one, never a torn write. `replace = false` is
    * write-if-absent: a file already there is kept (a racer that wrote it
    * first wins). With `replace` the old file is deleted before the rename
    * (HDFS-like renames refuse an existing target), so a crash in that gap
    * leaves the file ABSENT: every sidecar's reader treats absence as "no
    * information", never as a wrong value.
    */
  def commitSmallFile(fs: FileSystem, dir: Path, name: String,
                      bytes: Array[Byte], replace: Boolean): Unit = {
    val dst = new Path(dir, name)
    if (!replace && fs.exists(dst)) return
    val tmp = new Path(dir, s"$name.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (replace) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"cannot commit $dst")
    } else if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }

  /** Publish staged files: rename each of `staged` to `target(file, i)`
    * and return the targets. A refused rename throws — a file that
    * silently stayed behind in its staging dir would be deleted with it
    * (lost rows, or data files left unstatted).
    */
  def publishStaged(fs: FileSystem, staged: Seq[Path])(target: (Path, Int) => Path): Seq[Path] =
    staged.zipWithIndex.map { case (src, i) =>
      val dst = target(src, i)
      if (!fs.rename(src, dst)) throw new java.io.IOException(s"cannot publish $src -> $dst")
      dst
    }
}
