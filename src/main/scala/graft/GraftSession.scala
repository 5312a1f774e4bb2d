package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a `SparkSession`. Every entry point
  * starts from the same product configuration:
  *
  *   - [[builder]] is that configuration with no master, for
  *     spark-submit deployments ([[graft.streaming.Replay]]) and for
  *     callers that add their own placement (perfbench);
  *   - [[local]]`(threads)` is the harness session (the test suite and
  *     the tools): `local[threads]`, shuffle partitions = threads, UI
  *     off;
  *   - [[local]]`(threads, inputDir)` also sizes AQE's post-shuffle
  *     partitions from the input footprint ([[fixtureSized]]); `Bench`,
  *     `Verify` and `Run profile` run the query registry through it.
  *
  * The thread count a harness passes is [[cpus]]: `SPARK_GRAFT_CPUS`,
  * else every core.
  *
  * The configuration:
  *
  *   - AQE on (runtime partition coalescing, skew-join splitting) — the
  *     runtime half of the skew story ([[graft.ops.Skew]] is the
  *     aggregation half);
  *   - shuffle partitions sized to the cluster, not the 200 default;
  *   - UTC session timezone (timestamp parity with the oracle and the
  *     reference's epoch math);
  *   - the RocksDB state store for streaming state (the reference runs
  *     watermark-free — state grows with |games|×|days| — so the
  *     in-memory HDFS-backed store stops fitting long before 100 TB).
  *     Measured at a 1.9M-key window aggregation (SURVEY §17.8):
  *     per-trigger latency EQUAL to the default store (p50 0.89 vs
  *     0.90 s, p95 better), 2.8× less executor memory (273 vs 778 MB),
  *     faster restart-from-checkpoint (2.1 vs 3.0 s) — no latency
  *     price, only a heap ceiling removed;
  *   - RocksDB changelog checkpointing (Spark's default is off): a
  *     trigger's state commit writes each partition's changelog instead
  *     of zipping and uploading a snapshot of every partition, and
  *     snapshots are made in background maintenance. A checkpoint
  *     written with it off restarts with it on (`CheckpointRestartSpec`).
  *     It cut the dashboard benchmark's state commit p50 from 762 to
  *     483 ms (SURVEY §25). Only stateful streaming operators use a
  *     state store, so batch queries are unaffected.
  */
object GraftSession {

  /** Harness thread count: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String = "graft",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalesce post-shuffle partitions by TARGET BYTES
      // (advisoryPartitionSizeInBytes), not down to the core count:
      // with parallelismFirst (the Spark default) every KB-sized
      // exchange still fans out one task per core — a pure scheduling
      // tax on small stages — and REBALANCE writes can never produce
      // fewer files than cores. Spark's own doc recommends false; sized
      // partitions are also the 100 TB posture (guide §2.2).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // let AQE coalesce INSIDE cached plans too (r20): the engine
      // persists many slice-sized intermediates (delta pairs, key sets,
      // blocked gram tables), and with Spark's default every one of them
      // materializes at the full static shuffle width — a KB-sized
      // cached frame then costs |cores| near-empty cache partitions in
      // every consumer stage. Explicit-numPartitions pins are exempt
      // from coalescing either way, so the compute-dense candidate joins
      // keep their width.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // fixture parquet carries TIMESTAMP(NANOS) — see graft.Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")

  private def localBuilder(threads: Int): SparkSession.Builder =
    builder(shufflePartitions = threads)
      .master(s"local[$threads]")
      .config("spark.ui.enabled", "false")

  /** Harness session: `local[threads]` with shuffle partitions =
    * threads. */
  def local(threads: Int = cpus): SparkSession =
    localBuilder(threads).getOrCreate()

  /** [[local]] with AQE partition sizes fitted to the data under
    * `inputDir` ([[fixtureSized]]). */
  def local(threads: Int, inputDir: String): SparkSession =
    fixtureSized(inputDir, threads)
      .foldLeft(localBuilder(threads)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** The AQE sizes for a session over the files under `inputDir`: the
    * advisory partition size from [[advisoryPartitionBytes]], and a
    * 256 KB floor under coalesced partitions. */
  def fixtureSized(inputDir: String, cores: Int): Seq[(String, String)] =
    Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        advisoryPartitionBytes(dirBytes(inputDir), cores).toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        (256 << 10).toString)

  /** Scale-adaptive AQE advisory partition size (guide §2: derive the
    * partitioning from the input, never a constant tuned for one
    * deployment): with byte-based coalescing
    * (`parallelismFirst=false`), the advisory size decides how much
    * post-shuffle PARALLELISM a given data footprint gets — Spark's
    * 64 MB default is tuned for cluster-scale shuffles and collapses a
    * benchmark-scale corpus (tens of MB, but compute-dense candidate
    * joins) onto one task. Target ≥4 shuffle partitions per core over
    * the input footprint, clamped to [1 MB, 64 MB]: at 100 TB on 10k
    * cores this is the 64 MB ceiling (the sized-partition posture); on
    * a 32-core box over a 20 MB fixture it floors at 1 MB so a 25 MB
    * exploded join still fans out across the cores. */
  def advisoryPartitionBytes(inputBytes: Long, cores: Int): Long =
    math.max(1L << 20,
      math.min(64L << 20, inputBytes / math.max(1L, cores.toLong * 4)))

  /** Total byte footprint of the files under `dir` (recursive) — the
    * input-size term of [[advisoryPartitionBytes]]; a driver-side
    * directory walk, no Spark job. */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(dir))
  }
}
