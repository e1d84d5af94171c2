package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared two-rename publish protocol for at-rest index directories
  * (near-dup inverted index, BM25 term index, boilerplate span index):
  * build the whole tree into `<path>.build-tmp`, then swap
  * `live → .build-old`, `.build-tmp → live`. Every crash point leaves one
  * complete tree on disk — a kill between the renames leaves it at
  * `.build-old`, which [[recover]] promotes back; writers AND openers call
  * recover first so the next access self-heals. Multi-file indexes must
  * change together (a new meta against an old index is silently wrong),
  * which is why the swap is on the directory, not per file.
  *
  * Reference behavior: zikeiretsu's block-list swap
  * (`zikeiretsu/src/tsdb/storage/local.rs`) — same crash-window contract,
  * re-expressed over Hadoop FS paths so it works on object stores too.
  *
  * The in-place compactors (`Similarity.compactIvf`,
  * `Text.compactSketchStore`, the rollup, counter and sample store
  * `compact`s) share the `.compact-*` variant below ([[compactPublish]]):
  * compaction READS the live tree as its build input and must fail loudly
  * when it's absent — a precondition the build-fresh [[publish]]
  * deliberately doesn't impose. [[recoverCompact]] heals that swap, and
  * [[heal]] heals both for a tree either swap may have crashed in.
  */
object AtomicDir {
  /** Crash recovery for [[publish]]'s swap window: a kill between
    * `live → .build-old` and `.build-tmp → live` leaves the only complete
    * copy at `.build-old` — promote it back. */
  def recover(fs: FileSystem, live: Path, what: String): Unit =
    restore(fs, live, new Path(live.toString + ".build-old"),
      s"$what recovery")

  /** Crash recovery for [[compactPublish]]'s swap window: a kill between
    * `live → .compact-old` and `.compact-tmp → live` leaves the only
    * complete copy at `.compact-old` — promote it back. */
  private[graft] def recoverCompact(fs: FileSystem, live: Path): Unit =
    restore(fs, live, new Path(live.toString + ".compact-old"),
      "compact recovery")

  /** Both recoveries: what every reader and compactor of a store tree
    * runs first, so the next access self-heals whichever swap crashed. */
  private[storage] def heal(fs: FileSystem, live: Path, what: String)
      : Unit = {
    recover(fs, live, what)
    recoverCompact(fs, live)
  }

  private def restore(fs: FileSystem, live: Path, old: Path,
      context: String): Unit =
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live)
        // two readers can race to heal the same crashed swap: the
        // loser's rename fails AFTER the winner restored the tree —
        // re-check before declaring the (now healthy) store broken
        && !fs.exists(live))
      throw new java.io.IOException(s"$context: cannot restore $old")

  /** The shared `.compact-*` variant of the swap: compaction READS the
    * live tree as its build input (so no pre-recover of `.build-old`, and
    * a missing live tree must fail loudly inside `build`), writes the
    * folded tree to `.compact-tmp`, then swaps. One implementation for
    * every compactor (IVF cells, sketch store, rollup store) — the
    * crash-window contract lives here, not in three copies. Heal a prior
    * crash with [[recoverCompact]] BEFORE calling (each compactor
    * already does, as do its read paths).
    */
  def compactPublish(spark: SparkSession, path: String, what: String)
      (build: String => Unit): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(path + ".compact-tmp")
    val old = new Path(path + ".compact-old")
    fs.delete(tmp, true)
    build(tmp.toString)
    fs.delete(old, true)
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"$what: cannot move $live aside")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // roll back — the original tree is intact
      throw new java.io.IOException(s"$what: cannot publish $tmp")
    }
    fs.delete(old, true)
    spark.catalog.refreshByPath(path)
  }

  /** Runs `build` against the tmp dir path, then publishes it at `path`.
    * On a failed publish the original tree is rolled back intact. */
  def publish(spark: SparkSession, path: String, what: String)
      (build: String => Unit): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    recover(fs, live, what)
    val tmp = new Path(path + ".build-tmp")
    val old = new Path(path + ".build-old")
    fs.delete(tmp, true)
    build(tmp.toString)
    fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"$what: cannot move $live aside")
    if (!fs.rename(tmp, live)) {
      if (fs.exists(old)) fs.rename(old, live) // roll back, original intact
      throw new java.io.IOException(s"$what: cannot publish $tmp")
    }
    fs.delete(old, true)
    spark.catalog.refreshByPath(path)
  }
}
