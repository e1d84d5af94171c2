package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local filesystem masquerading under a non-`file:` scheme
  * (`graftfs://`) — the sandbox has no object store, so this is how the
  * catalog's path handling is proven to go through Hadoop `FileSystem`
  * everywhere: any `java.io.File` assumption throws on these URIs.
  * Registered per-test via `fs.graftfs.impl`.
  *
  * Statuses are rewrapped as plain `FileStatus` because RawLocalFileSystem's
  * deprecated status loads permissions lazily through `new java.io.File(uri)`
  * — exactly the assumption this class exists to flush out.
  */
class GraftTestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")

  private def materialize(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      null, null, null, st.getPath)

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(materialize)

  override def getFileStatus(f: Path): FileStatus =
    materialize(super.getFileStatus(f))
}

/** [[GraftTestFileSystem]] under `vanishfs://` whose directories named
  * `vanished` disappear between being listed in their parent and being
  * listed themselves — the race a concurrent writer's committing
  * temporary tree or a compaction swap opens under a recursive walk.
  * Registered per-test via `fs.vanishfs.impl`. */
class VanishingDirFileSystem extends GraftTestFileSystem {
  override def getUri: URI = URI.create("vanishfs:///")

  override def listStatus(f: Path): Array[FileStatus] =
    if (f.getName == "vanished")
      throw new java.io.FileNotFoundException(s"$f vanished")
    else super.listStatus(f)
}

/** [[GraftTestFileSystem]] under `racefs://` whose `rename` performs the
  * move and then reports failure — what the losing reader of a heal race
  * sees when a second reader restored the same crashed swap first.
  * Registered per-test via `fs.racefs.impl`. */
class RacingRenameFileSystem extends GraftTestFileSystem {
  override def getUri: URI = URI.create("racefs:///")

  override def rename(src: Path, dst: Path): Boolean = {
    super.rename(src, dst)
    false
  }
}
