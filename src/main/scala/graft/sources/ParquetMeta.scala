package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Parquet footer metadata, read driver-side WITHOUT a Spark job.
  *
  * Use for scale-aware parameter sizing (e.g. LSH plane counts ~
  * log2(n/bucketTarget)) where a `df.count()` would cost an extra scan
  * job per query build — footers are a few KB per file regardless of data
  * size, so this stays metadata-only at 100 TB (cost ∝ file count, the
  * same listing the scan planner already pays). */
object ParquetMeta {

  // Memoized per path: every scale-aware cap (scaledCap/cellCap/
  // sizedPlanes) re-derives the corpus row count at query-build time, so
  // a 188-query bench paid hundreds of redundant footer walks for a
  // handful of immutable fixture files (r20 tail cut). The engine's
  // artifact writers drop stale entries through [[Pq.invalidate]].
  private val cache =
    scala.collection.concurrent.TrieMap[String, Long]()

  /** Drop the memoized counts [[Pq.invalidate]] names stale. */
  private[sources] def invalidate(stale: String => Boolean): Unit =
    cache.keys.filter(stale).foreach(cache.remove)

  /** The footer reader of parquet file `st`, its read options built from
    * `conf`. `ParquetFileReader.open(InputFile)` alone builds them from a
    * new Hadoop `Configuration`, which parses the default resources:
    * ~7 ms a file against ~0.4 ms here, on a 4-cpu host. */
  def open(st: FileStatus, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf, st.getPath).build())

  /** Total row count of a parquet file, or of a directory of files
    * (partition subdirectories included, hidden `_`/`.` entries not). */
  def rowCount(spark: SparkSession, path: String): Long =
    cache.getOrElseUpdate(path, rowCountUncached(spark, path))

  private def rowCountUncached(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def files(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
      .filterNot(s => "_.".contains(s.getPath.getName.head))
      .flatMap(s => if (s.isDirectory) files(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s) else Nil)
    val st = fs.getFileStatus(root)
    (if (st.isFile) Seq(st) else files(root)).map { st =>
      val r = open(st, conf)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.sum
  }
}
