package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64}
import org.apache.spark.sql.functions._

/** Shard-partitioned PHYSICAL layouts for persisted corpus artifacts —
  * the generic half of the near-dup index ([[Dedup.Scheme.writeIndex]]),
  * extended in round 10 to every maintained artifact (gram index, gram
  * census, SimHash chunk index, embedding bucket table, CC labels,
  * pairs adjacency): the artifact is written partitioned by
  * `shard = xxhash64(key) % shards`, and an append/probe computes the
  * BOUNDED (≤ `shards`) set of shard values its own keys touch, turning
  * them into literal partition predicates so the old-corpus read prunes
  * AT THE SCAN (`PartitionFilters`, locked per artifact in
  * ShardedArtifactsSpec) instead of filtering after a full read.
  *
  * Selectivity honesty (the 100 TB argument, SURVEY §12): pruning wins
  * exactly when the reader's key set is SMALL relative to `shards` —
  * true for probes (1 doc → `bands`/`chunks`/1 key) and for realistic
  * ingest slices against families with FEW KEYS PER DOC (8 band buckets,
  * 4 chunk values, `tables` sign buckets, 1 id). It degrades to a full
  * scan for the gram index under large slices (hundreds of distinct
  * grams per doc spread hash-uniformly), where the scale lever is the
  * slice-side bloom semi-join Spark's runtime filtering injects, not the
  * directory layout — both layouts are provided and the stress harness
  * measures which regime each family is in.
  */
object Sharded {

  /** The shard of a key: engine hash of all its columns together mod
    * `shards` (int — partition directory values round-trip as int). A
    * single-column key is `Seq(key)`; the streaming admission registries
    * route composite keys such as (band, bucket) / (planes, t, bucket). */
  def shardOfAll(keys: Seq[Column], shards: Int): Column =
    pmod(xxhash64(keys: _*), lit(shards)).cast("int")

  /** [[shardOfAll]]'s hash for ONE key, computed on the driver with no
    * job: Spark's own `XxHash64` expression (seed 42, `xxhash64`'s fixed
    * seed) evaluated over typed literal children, so it cannot drift
    * from the SQL function. Null children are skipped, as in SQL. */
  def driverToken(key: Seq[Expression]): Long =
    XxHash64(key, 42L).eval(InternalRow.empty).asInstanceOf[Long]

  /** [[driverToken]] mod `shards` — the driver twin of [[shardOfAll]]. */
  def driverShard(key: Seq[Expression], shards: Int): Int =
    java.lang.Math.floorMod(driverToken(key), shards.toLong).toInt

  /** Write `df` as parquet partitioned on disk by
    * `shard = xxhash64(keyCol) % shards` (plus `extraPartitionCols`
    * first, for families with a small categorical prefix such as the
    * chunk index's `ci` or the bucket table's `t`). `mode = "append"`
    * is the ingest story: a day's delta lands as NEW FILES inside the
    * existing partition directories — old files are never rewritten —
    * which is what lets the chained-append law (ChainedStress) run k
    * successive slices against one physical artifact. */
  def writeByKey(df: DataFrame, path: String, keyCol: String, shards: Int,
      extraPartitionCols: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    val parts = extraPartitionCols :+ "shard"
    // repartition BY the partition columns before partitionBy: each
    // directory then receives its rows from one task → one file per
    // write (instead of one per upstream task per directory — at 32
    // upstream tasks that is 32× the files, and at fixture scale the
    // parquet footers outweigh the data; at corpus scale it is the
    // classic small-files problem)
    df.withColumn("shard", shardOfAll(Seq(col(keyCol)), shards))
      .repartition(parts.map(col): _*)
      .write.partitionBy(parts: _*)
      .mode(mode).parquet(path)
    graft.sources.Pq.invalidate(path) // memoized readers must re-list
  }

  /** The BOUNDED distinct (prefix…, shard) set touched by
    * `keys(keyCol)` — one slice-sized distinct-aggregate job whose result
    * is at most |prefixes| × `shards` small integer tuples (a dimension,
    * not the corpus; the same boundedness class as the IVF centroid
    * pull). `prefixCols` are the artifact's [[writeByKey]]
    * `extraPartitionCols`. */
  def touchedShards(keys: DataFrame, keyCol: String, shards: Int,
      prefixCols: Seq[String] = Nil): Seq[Seq[Int]] = {
    import scala.math.Ordering.Implicits.seqOrdering
    keys.select(
        prefixCols.map(col) :+ shardOfAll(Seq(col(keyCol)), shards): _*)
      .distinct().collect().map(r => r.toSeq.map(_.asInstanceOf[Int]))
      .toSeq.sorted
  }

  /** Pruned read of a [[writeByKey]] artifact: the literal predicate
    * over the touched (prefix…, shard) tuples — `shard IN (…)` without a
    * prefix, an Or-of-And with one — is static, so the file index
    * prunes the untouched directories before any task launches. */
  def readTouched(spark: SparkSession, path: String,
      touched: Seq[Seq[Int]], prefixCols: Seq[String] = Nil): DataFrame = {
    val parts = prefixCols :+ "shard"
    graft.sources.Pq.read(spark, path).filter(
      if (prefixCols.isEmpty)
        col("shard").isin(touched.map(t => Integer.valueOf(t.head)): _*)
      else touched.map(t => parts.zip(t)
          .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
        .reduceOption(_ || _).getOrElse(lit(false)))
  }

  /** Pruned point/key fetch: rows of the artifact whose `keyCol` ∈
    * `keys` — two-phase (bounded shard-set job, then a pruned scan +
    * semi-join), the serving-path "fetch these ids" primitive used by
    * the embedding delta's vector fetch and the CC label maintenance. */
  def fetchKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String, shards: Int): DataFrame =
    readTouched(spark, path, touchedShards(keys, keyCol, shards))
      // no distinct() on the probe side: LEFT SEMI output is invariant
      // under right-side duplicates, and the distinct was a full
      // exchange+aggregate of the key set per fetch (r20; callers pass
      // already-distinct or near-distinct key frames)
      .join(keys.select(col(keyCol)), Seq(keyCol), "left_semi")
      .drop("shard")

  /** Execute `body` (AQE off) and return the summed
    * (selectedBytes, selectedFiles) of its parquet scans over `path`
    * AFTER partition pruning — the scale-relevant footprint metric: at
    * fixture scale every pruning mechanism is Spark-job-overhead-
    * dominated in wall-clock, but selected bytes grow with the CORPUS
    * on an unpruned read and with the TOUCHED SLICE on a pruned one,
    * so the bytes ratio is what survives a 1000× scale-up
    * (SURVEY "Round-10 measurements" reports it next to the
    * wall-clock). Recurses
    * through the cache/AQE wrappers that hide scan leaves. */
  def scanFootprint(spark: SparkSession, paths: Seq[String])(
      body: => DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val hidden: Seq[SparkPlan] = p match {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(m.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Nil
      }
      (p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Nil
      }) ++ (p.children ++ hidden).flatMap(allScans)
    }
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqeKey)
    try {
      spark.conf.set(aqeKey, "false")
      val df = body
      df.collect()
      val scans = allScans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(rp =>
          paths.exists(rp.toString.contains)))
      (scans.map(_.selectedPartitions.totalFileSize).sum,
        scans.map(_.selectedPartitions.totalNumberOfFiles).sum)
    } finally spark.conf.set(aqeKey, prev)
  }
}
