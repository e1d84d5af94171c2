package graft.storage

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one recursive walk over a stored tree — the data files a reader of
  * that tree would see. Plain `listStatus`, never `listFiles` or
  * `listLocatedStatus`: a `LocatedFileStatus` copies the file's
  * permission, and on `RawLocalFileSystem` loading a permission forks an
  * `ls -ld` per file (the reason Spark's own file index builds its
  * statuses with null permissions).
  */
object FileTree {

  /** Spark's hidden-path rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * `_`- and `.`-prefixed names are not data — a writer's in-flight
    * `_temporary` tree, `_SUCCESS`, checksum files — except `_`-prefixed
    * names carrying `=`, which are partition directories (`__day=…`). */
  def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** Every visible file under `root` (the root itself when it is a file),
    * hidden entries skipped at every level. A directory that vanishes
    * mid-walk — a committing writer's temporary tree, a swapped-out
    * compaction — lists as empty, and an absent root as an empty tree. */
  def files(fs: FileSystem, root: Path): Vector[FileStatus] = {
    def walk(dir: Path): Vector[FileStatus] =
      (try fs.listStatus(dir).toVector
      catch { case _: java.io.FileNotFoundException => Vector.empty })
        .filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) walk(st.getPath) else Vector(st))
    walk(root)
  }
}
