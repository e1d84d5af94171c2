package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Cached metrics tables — the analog of the reference's block LRU cache
  * (`storage/cache/block_cache.rs:13-51`). A pin is a per-session at-rest
  * snapshot ([[FileTree.atRest]]) of one table, checked against a listing
  * on every read: any writer's new or rewritten file replaces it, and a
  * replaced or evicted pin is unpersisted. `use_cache = false` reads
  * never touch a pin ([[Tables.readRange]]), as `CacheSetting::only_write`
  * (`query/lexer/with.rs:96-99`). */
object CacheRegistry {
  private val Kind = "cached table"

  private final case class Pin(df: DataFrame) extends FileTree.Snapshot {
    override def release(): Unit = { df.unpersist(blocking = false); () }
  }

  def get(spark: SparkSession, dbDir: String, metrics: String): DataFrame = {
    val t = Tables.snapshot(spark, dbDir, metrics)
    // Spark matches cached data by plan across sessions: pinning drops
    // another session's stale pin, and its release can drop this one's
    val pin = FileTree.atRest(spark, Kind, t.root, t.listing)(
      Pin(Tables.table(t.df).unpersist(blocking = false).cache())).df
    if (pin.storageLevel == StorageLevel.NONE) pin.cache() else pin
  }

  /** `force_sync_cloud` (≈ REFRESH TABLE): forget this session's snapshot
    * and pin of a table, so its next read infers and pins it anew. */
  def invalidate(spark: SparkSession, dbDir: String, metrics: String): Unit = {
    val fs = FileTree.qualified(spark, dbDir)._1
    val root =
      FileTree.qualified(spark, Tables.metricsPath(fs, dbDir, metrics))._3
    FileTree.forget(spark, Kind, root)
    FileTree.forget(spark, Tables.TreeKind, root)
  }

  /** Drop every at-rest snapshot, unpersisting every pin. */
  def clear(): Unit = FileTree.forgetAll()

  def size: Int = FileTree.held(Kind)
}
