package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Memoized `spark.read.parquet` for persisted artifact paths.
  *
  * Every `read.parquet(path)` call pays a fresh driver-side file listing
  * plus a schema-inference footer read that Spark runs as a small JOB —
  * and the query registry re-reads the same write-once artifacts (gram
  * index, censuses, sharded label/band/bucket layouts) on every query
  * build and every bench sample. Reusing the analyzed DataFrame
  * (immutable; sharing is safe) keeps ONE InMemoryFileIndex per artifact
  * per session: a pure fixed-cost cut with no change to plan shape — at
  * cluster scale it is the guide §6 listing-cache posture applied to the
  * engine's own artifacts.
  *
  * Staleness contract: artifact WRITERS call [[invalidate]] with the
  * path they (re)wrote — the next read re-lists, and the next
  * [[ParquetMeta.rowCount]] re-counts. Reads of paths that are
  * mutated outside the engine's writers must not go through here.
  */
object Pq {

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      TrieMap[(String, String), DataFrame]]())

  def read(spark: SparkSession, path: String): DataFrame =
    memo(spark, path, "parquet")(spark.read.parquet(path))

  /** `load`'s frame over `path`, once per session and `view`: a reader
    * that derives its own frame from `path` (a normalized fixture table)
    * memoizes it here under its own view, so [[invalidate]] covers it and
    * [[read]] of the same path still returns the raw parquet frame. */
  def memo(spark: SparkSession, path: String, view: String)(
      load: => DataFrame): DataFrame = {
    val perSession = cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = TrieMap.empty[(String, String), DataFrame]
        cache.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate((path, view), load)
  }

  /** Drop every memo at or under `path` (and any memoized parent whose
    * listing would now be stale): the cached frames here and
    * [[ParquetMeta.rowCount]]'s counts. The one call the engine's
    * artifact writers make after a write/append, so the next [[read]]
    * re-lists and the next count re-reads the footers. */
  def invalidate(path: String): Unit = {
    val stale = (k: String) => k == path || k.startsWith(path + "/") ||
      path.startsWith(k + "/")
    cache.synchronized {
      val it = cache.values().iterator()
      while (it.hasNext) {
        val m = it.next()
        m.keys.filter(k => stale(k._1)).foreach(m.remove)
      }
    }
    ParquetMeta.invalidate(stale)
  }
}
