package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Recursive listing by `FileSystem.listStatus`, one call per directory.
  *
  * `fs.listFiles(root, true)` wraps every file in a `LocatedFileStatus`,
  * whose constructor copies the file's permission. On the local filesystem
  * without Hadoop's native library that copy runs `ls -ld` once per file,
  * so a poll of a directory of n files forks n processes. `listStatus`
  * returns statuses that load their permission only when asked, and
  * nothing here asks: path, length and modification time come from one
  * `stat` each.
  */
private[graft] object FileWalk {

  /** Every file under `root`, depth first in `listStatus` order, entering
    * only the directories `descend` accepts. A root that is a file lists
    * itself; a missing root lists nothing. Paths are qualified exactly as
    * `fs.listFiles` qualifies them.
    */
  def files(fs: FileSystem, root: Path, descend: Path => Boolean = _ => true): Seq[FileStatus] = {
    def walk(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { s =>
      if (!s.isDirectory) Seq(s)
      else if (descend(s.getPath)) walk(s.getPath)
      else Nil
    }
    val top = try fs.getFileStatus(root) catch { case _: FileNotFoundException => return Nil }
    if (top.isDirectory) walk(root) else Seq(top)
  }

  /** The files under `root` a Spark file source reads: [[files]] without
    * the entries Spark's listing skips — `_x` (but not a `_x=v` partition
    * directory) and `.x`: committer scratch, sink logs, markers, checksums.
    */
  def dataFiles(fs: FileSystem, root: Path): Seq[FileStatus] =
    files(fs, root, d => !hidden(d.getName)).filterNot(s => hidden(s.getPath.getName))

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
}
