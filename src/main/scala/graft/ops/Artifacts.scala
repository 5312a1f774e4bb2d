package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ShutdownShim

/** The JVM-wide catalog of build-once corpus artifacts: the only owner
  * of artifact directories.
  *
  * A key (`name:<sf dir>`) names one artifact. Its first use creates ONE
  * fresh top-level directory under `java.io.tmpdir`, runs the builder
  * into it and records the build's seconds under the full key; every
  * later use returns the same directory. Artifacts are never nested
  * under a shared root: a harness attributes a build to the query that
  * paid it by diffing the tmp root's listing around that query.
  *
  * Entries are write-once per JVM, so nothing memoized over them goes
  * stale. A key whose build throws is not recorded; the next use
  * rebuilds it in a new directory. Every directory is registered for
  * deletion when it is created, and Spark's shutdown hook deletes it at
  * JVM exit: artifacts live as long as the JVM that built them.
  */
object Artifacts {

  private val dirs = scala.collection.concurrent.TrieMap[String, String]()
  private val secs = scala.collection.concurrent.TrieMap[String, Double]()

  /** The directory of `key`, built by `write(dir)` on first use. For
    * sharded and multi-directory layouts the builder owns the layout. */
  def path(key: String)(write: String => Unit): String =
    dirs.getOrElseUpdate(key, {
      val t0 = System.nanoTime()
      val dir = java.nio.file.Files.createTempDirectory(
        "graft_" + key.takeWhile(_ != ':') + "_").toString
      ShutdownShim.deleteAtExit(dir)
      write(dir)
      secs(key) = (System.nanoTime() - t0) / 1e9
      dir
    })

  /** `build` persisted once as a parquet table under `key`, read back
    * through the per-session [[graft.sources.Pq]] memo.
    *
    * REBALANCE before the write sizes output files by bytes, not by the
    * upstream task count: without it the artifact inherits one file per
    * build task (32 footer-dominated KB files at fixture scale, and every
    * consumer scan pays one task per file); with AQE the rebalance
    * coalesces to `advisoryPartitionSizeInBytes`. */
  def frame(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    graft.sources.Pq.read(s, path(key) { dir =>
      build.hint("REBALANCE").write.mode("overwrite").parquet(dir)
    })

  /** Seconds each artifact built in this JVM took, by full key. */
  def buildSeconds: Map[String, Double] = secs.toMap
}
