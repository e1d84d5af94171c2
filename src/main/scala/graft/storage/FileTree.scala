package graft.storage

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame,
  SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.functions.BoundLong

/** How a stored tree sits on disk: the one recursive walk over it (the
  * data files a reader of that tree would see), the one snapshot of what
  * a reader built from one walk ([[atRest]]), the `__day` partition
  * convention every day-partitioned tree shares (the raw metrics tables
  * and the rollup, counter and sample stores), and the rule for when a
  * tree reads as absent.
  *
  * The walk is plain `listStatus`, never `listFiles` or
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

  /** Each visible file's path, length and modification time, sorted. */
  type Listing = Vector[(String, Long, Long)]

  def listing(fs: FileSystem, root: Path): Listing = files(fs, root)
    .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
    .sorted

  /** What a reader built from one listing; `release` runs when it leaves
    * [[atRest]] (a pinned frame is unpersisted there). */
  trait Snapshot { def release(): Unit = () }

  private final class Entry {
    var listing: Listing = null
    var value: Snapshot = null
    var live = true
    def clear(): Unit = synchronized {
      if (value != null) value.release()
      value = null; listing = null
    }
    def close(): Unit = synchronized { live = false; clear() }
  }

  private type Key = (SparkSession, String, String)
  private val snapshots =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]) =
        size > 128 && { e.getValue.close(); true }
    }

  /** THE at-rest snapshot, one LRU of 128 keyed by (session, `kind`,
    * qualified `root`): `build`'s result, kept while the tree lists exactly
    * `listing`. The caller lists BEFORE it reads, so a write landing in
    * between leaves the stamp older than the snapshot. A failed build is
    * not kept. A build holds only its entry's lock and never calls
    * [[atRest]], so an eviction waiting on a build cannot deadlock. */
  def atRest[T <: Snapshot](spark: SparkSession, kind: String, root: String,
      listing: Listing)(build: => T): T = {
    val entry = snapshots.synchronized(
      snapshots.computeIfAbsent((spark, kind, root), _ => new Entry))
    entry.synchronized {
      if (entry.listing == listing) entry.value.asInstanceOf[T]
      else {
        entry.clear()
        val built = build
        // evicted mid-build: the caller still gets its snapshot, unkept
        if (entry.live) { entry.value = built; entry.listing = listing }
        else built.release()
        built
      }
    }
  }

  /** `path`'s filesystem, `Path` and qualified form (an [[atRest]] root). */
  def qualified(spark: SparkSession, path: String)
      : (FileSystem, Path, String) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, p, fs.makeQualified(p).toString)
  }

  /** Drop one snapshot: the next read rebuilds it whatever is listed. */
  def forget(spark: SparkSession, kind: String, root: String): Unit =
    snapshots.synchronized(Option(snapshots.remove((spark, kind, root))))
      .foreach(_.close())

  def forgetAll(): Unit = snapshots.synchronized {
    val all = snapshots.values.asScala.toVector
    snapshots.clear(); all
  }.foreach(_.close())

  /** How many `kind` snapshots are held. */
  def held(kind: String): Int = snapshots.synchronized {
    snapshots.asScala.count { case (k, e) => k._2 == kind && e.value != null }
  }

  private[storage] val DayNs = 86400L * 1000000000L

  private val DayDir = s"(.*/${WritableStore.PartitionCol}=([^/]+))/".r

  /** Whether a `__day` value lies in the days a scope to `[lo, hi)`
    * keeps (an absent bound is open). */
  private[storage] def dayInScope(d: String, lo: Option[Long],
      hi: Option[Long]): Boolean =
    lo.forall(v => d >= day(v)) && hi.forall(v => d <= day(v - 1))

  /** The `__day` directories of `listing` a scope to `[lo, hi)` keeps, or
    * None when a file lies outside every `__day` directory. */
  private[storage] def dayDirs(listing: Listing, lo: Option[Long],
      hi: Option[Long]): Option[Seq[String]] = {
    val dirs = listing.map(f => DayDir.findFirstMatchIn(f._1))
    if (dirs.exists(_.isEmpty)) None
    else Some(dirs.flatten.collect {
      case m if dayInScope(m.group(2), lo, hi) => m.group(1)
    }.distinct)
  }

  /** Bytes per `__day` value of a listing; a file outside every `__day`
    * directory counts under `""`. */
  private[storage] def dayBytes(listing: Listing): Map[String, Long] =
    listing.groupMapReduce(f =>
      DayDir.findFirstMatchIn(f._1).fold("")(_.group(2)))(_._2)(_ + _)

  /** The `__day` partition value (`yyyy-MM-dd`) holding a nanos instant. */
  private[storage] def day(nanos: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(nanos, DayNs)).toString

  /** [[day]] as a column over a nanos SQL expression, for writers. Pure
    * integer floor-div: independent of the session time zone and exact
    * past 2^53 (`/` on longs returns a double; `div` stays integral), so
    * the partitions written and [[scope]]'s pruning literals agree. */
  private[storage] def dayCol(nanosExpr: String): Column =
    date_from_unix_date(
      expr(s"(($nanosExpr) - pmod($nanosExpr, ${DayNs}L)) div ${DayNs}L")
        .cast("int")).cast("string")

  /** `df` filtered to `nanos` in `[since, until)`, plus `extra`. On a
    * frame carrying `__day` the same bounds also land on the partition
    * column: the scan prunes whole day directories only on a predicate
    * over the partition column itself, where the `nanos` bounds alone
    * prune row groups by footer statistics. The `nanos` bounds are
    * [[graft.functions.BoundLong]]s: one compiled plan serves every range. */
  private[storage] def scope(df: DataFrame, nanos: Column,
      since: Option[Long], until: Option[Long],
      extra: Seq[Column] = Nil): DataFrame = {
    val days =
      if (!df.columns.contains(WritableStore.PartitionCol)) Nil
      else since.map(v =>
          col(WritableStore.PartitionCol) >= lit(day(v))).toSeq ++
        until.map(v => col(WritableStore.PartitionCol) <= lit(day(v - 1)))
    (since.map(v => nanos >= BoundLong.lit(v)).toSeq ++
      until.map(v => nanos < BoundLong.lit(v)) ++ days ++ extra)
      .reduceOption(_ && _).fold(df)(df.filter)
  }

  /** Whole-day trim: delete every `__day` directory of the tree below the
    * day `cutoff` starts — O(days dropped), never a rewrite of the
    * retained window. Each directory delete is atomic. Touches nothing
    * and returns false when the cutoff is not day-aligned or the tree has
    * no `__day` directory; the caller then rewrites or rejects. */
  private[storage] def dropDaysBelow(fs: FileSystem, root: Path,
      cutoff: Long): Boolean = {
    val dayDirs = Option(fs.globStatus(
      new Path(root, s"${WritableStore.PartitionCol}=*")))
      .getOrElse(Array.empty[FileStatus])
    if (dayDirs.isEmpty || Math.floorMod(cutoff, DayNs) != 0) false
    else {
      val cutDay = s"${WritableStore.PartitionCol}=${day(cutoff)}"
      dayDirs.filter(_.getPath.getName < cutDay)
        .foreach(d => fs.delete(d.getPath, true))
      true
    }
  }

  /** A tree's read, or None when the tree is absent or its schema cannot
    * be inferred (created but empty, or fully trimmed). Any other
    * analysis failure propagates. The one place that matches Spark's
    * error text, so a Spark upgrade that rewords it is a one-line fix. */
  private[storage] def readOrNone[T](read: => T): Option[T] =
    try Some(read)
    catch {
      case e: AnalysisException
          if e.getMessage.toLowerCase.contains("schema") ||
            e.getMessage.toLowerCase.contains("path does not exist") => None
    }
}
