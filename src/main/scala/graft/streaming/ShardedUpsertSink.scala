package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ext.Sharded
import graft.ops.Upsert
import graft.streaming.Manifest.{Entry, Version}

/** The serving tier's keyed materialized view (K2): the reference's
  * pandas upsert frame (`visualizer.py:30-44,61-82`) as a durable
  * parquet store fed by `foreachBatch` — the plain-parquet stand-in for
  * an Iceberg/Delta MERGE. Each merge unions the previous snapshot with
  * the batch and keeps the latest row per key ([[Upsert.keepLatestPerKey]]
  * ordered by `orderCols` then arrival batch); replays are harmless, so
  * the at-least-once feed yields an effectively-once view.
  *
  * The keyed snapshot is partitioned by `shard = xxhash64(keys…) %
  * shards`, and each merge REWRITES ONLY THE SHARDS THE BATCH TOUCHES —
  * untouched shards are carried forward by reference, the stand-in for a
  * MERGE's file-level copy-on-write. A trigger costs O(touched/shards ×
  * view + batch), so per-trigger bytes track the BATCH's key locality,
  * not view size. A small view wants few shards (`shards = 1` is one
  * directory rewritten per merge, as [[Pipeline.maintainView]] starts
  * it); [[maybeReshard]] grows the modulus as the view grows.
  *
  * A merge's Spark work is one job to collect the touched shards and
  * one shuffle on `shard` under the write ([[mergeBatch]]); every read
  * of the store carries the stored schema from one driver-side parquet
  * footer, so no read infers a schema with a job of its own.
  *
  * Readers resolve the newest committed manifest ([[currentView]], no
  * Spark job) and scan its files; a view that fits one advisory
  * partition is read as one partition, so a serving query over it is
  * one job of one task. GC keeps two manifests, so a scan that outlives
  * two commits can find its files deleted — [[ServingHttp]] re-resolves
  * the view and reruns such a read.
  *
  * Layout, under [[Manifest]]'s commit protocol with the keep-latest
  * merge law: the merge of batch N writes the shards it rewrites to
  * `v=N/shard=<s>/` and commits `v=N/_manifest`, which lists one entry
  * per live shard: the directory that holds its current rows (written
  * at N, or carried from the predecessor) and its bytes. The header's
  * modulus is the store's layout truth, ADOPTED by every later merge: a
  * restart with a different `shards` parameter must not re-hash keys
  * against shard directories laid out under the old modulus (a key would
  * stop meeting its own previous version — duplicate keys in the view).
  */
object ShardedUpsertSink {

  private def shardExpr(keys: Seq[String], shards: Int) =
    Sharded.shardOfAll(keys.map(col), shards)

  /** COMMITTED snapshot versions (manifest present), ascending. */
  def versions(spark: SparkSession, baseDir: String): Seq[Long] =
    Manifest.versions(spark, baseDir)

  /** Rows of the `entries` whose shard is in `wanted` (None = all),
    * through [[Manifest.read]]'s explicit shard paths. Every read
    * carries the stored PAYLOAD schema — `knownSchema`
    * when the caller already holds it, else [[storedSchema]] of the
    * shards read — so building the frame is driver-side listing and one
    * footer read, no Spark job. */
  private def readShards(spark: SparkSession, baseDir: String,
      entries: Seq[Entry], wanted: Option[Set[Int]],
      knownSchema: Option[StructType] = None): Option[DataFrame] = {
    val live = entries.filter(e => wanted.forall(_(e.shard)))
    if (live.isEmpty) None
    else Manifest.read(spark, baseDir, live,
      knownSchema.getOrElse(storedSchema(spark, baseDir, live)), None)
  }

  /** The stored PAYLOAD schema (without the `shard` directory level),
    * read DRIVER-SIDE from the footer of one data file: the first of
    * `entries`, in shard order, whose directory still holds a parquet
    * file. Spark embeds its own StructType JSON in every file it writes;
    * the physical-schema conversion is the fallback for foreign files.
    * No Spark job, no relation resolution. Entries none of which holds a
    * data file (its files were lost, or GC took them after the manifest
    * was read) raise `FileNotFoundException`, the same missing-file
    * failure a scan of those shards would raise. */
  private def storedSchema(spark: SparkSession, baseDir: String,
      entries: Seq[Entry]): StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val f = Manifest.fs(spark, baseDir)
    val file = entries.sortBy(_.shard).iterator.flatMap { e =>
      val listed =
        try f.listStatus(new Path(s"$baseDir/${e.dir}"))
        catch { case _: FileNotFoundException => Array.empty[FileStatus] }
      listed.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .minByOption(_.getPath.getName)
    }.nextOption().getOrElse(throw new FileNotFoundException(
      s"upsert store $baseDir: no data file in any of the shards " +
        entries.map(_.shard).sorted.mkString(",")))
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try {
      val meta = r.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    } finally r.close()
  }

  /** The current materialized view; None before the first commit. Resolving it runs no Spark
    * job: one manifest read, the shard listings and one footer
    * ([[readShards]]). A view whose manifest records at most
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` of shard bytes is
    * returned as ONE partition: an aggregate or sort over it then needs
    * no exchange, so each serving query ([[graft.ops.Serving]]) runs one
    * job of one task. A larger view keeps the scan's partitions. */
  def currentView(spark: SparkSession, baseDir: String): Option[DataFrame] =
    Manifest.below(spark, baseDir, Long.MaxValue).flatMap { v =>
      readShards(spark, baseDir, v.entries, None).map { view =>
        if (v.entries.map(_.bytes).sum <= spark.sessionState.conf
            .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) view.coalesce(1)
        else view
      }
    }

  /** POINT LOOKUP: the current view's rows for ONE key, reading only the
    * key's own shard directory — the serving read the sharded layout
    * exists for. JOBLESS before the pruned read: the stored schema comes
    * from ONE driver-side parquet footer of a live shard, each value is
    * cast to its key column's stored type, and the writer's own shard
    * expression ([[Sharded.driverShard]]: xxhash64 over the typed
    * literals, floorMod the manifest's modulus) is EVALUATED on the
    * driver — zero jobs until the caller acts on the returned frame.
    * The schema-driven cast also closes the silent-miss trap: an Int
    * probe against a Long key column, or a String date, would otherwise
    * hash to a DIFFERENT shard and return an empty frame for a key that
    * exists (a value that cannot cast fails loudly). A key whose shard
    * holds no data yields an EMPTY frame (built directly from the stored
    * schema — zero listings, zero files), NOT None: a committed store
    * with a shard-less key is a miss, not an uncommitted store. None
    * only before the first commit, or when the committed manifest maps
    * no shards at all (an empty store has no schema source). */
  def lookup(spark: SparkSession, baseDir: String, keys: Seq[String],
      values: Seq[Any]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    require(values.length == keys.length,
      s"lookup needs one value per key column ${keys.mkString(",")}")
    Manifest.below(spark, baseDir, Long.MaxValue)
      .filter(_.entries.nonEmpty).map { v =>
        val schema = storedSchema(spark, baseDir, v.entries)
        val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
        val typed = keys.zip(values).map { case (k, x) =>
          require(schema.fieldNames.contains(k),
            s"upsert store $baseDir: no key column '$k' in " +
              s"stored schema ${schema.fieldNames.mkString(",")}")
          val dt = schema(k).dataType
          val l = Literal(x)
          if (l.dataType == dt) l else Cast(l, dt, tz)
        }
        val shard = Sharded.driverShard(typed, v.modulus)
        val df = readShards(spark, baseDir, v.entries, Some(Set(shard)),
            Some(schema))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
        keys.zip(typed).foldLeft(df) { case (d, (k, l)) =>
          d.filter(col(k) ===
            org.apache.spark.sql.graftshim.ColumnShim.column(l))
        }
      }
  }

  /** The foreachBatch merge body (public for direct testing — replaying
    * a batchId must be a no-op change to the committed chain). */
  def mergeBatch(spark: SparkSession, baseDir: String, keys: Seq[String],
      orderCols: Seq[String], shards: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val prev = Manifest.below(spark, baseDir, batchId)
    val p = prev.fold(shards)(_.modulus) // the store's modulus wins
    val prevEntries = prev.fold(Seq.empty[Entry])(_.entries)
    // the id enters the plan through a UDF, not a literal: generated
    // code inlines a long literal, so every merge would compile its
    // stages afresh, while a UDF is referenced, and the code is the same
    val tagged = batch.withColumn("__batch", udf(() => batchId).apply())
      .withColumn("shard", shardExpr(keys, p))
      .persist()
    try {
      val touched = touchedShards(tagged)
      val unioned = readShards(spark, baseDir, prevEntries,
          Some(touched)) match {
        case Some(prev) =>
          prev.withColumn("shard", shardExpr(keys, p)).unionByName(tagged)
        case None => tagged
      }
      // keep-latest within the touched shards only, behind ONE exchange:
      // the union is hashed by shard, and keep-latest runs per
      // (shard +: keys) — the same groups as per key, because a key's
      // shard is a pure function of the key (merge never moves rows
      // across shards). Hash partitioning on shard already clusters
      // those groups, so the window plans no exchange of its own, and
      // its sort (shard first) is the order the partitioned write needs.
      Upsert.keepLatestPerKey(unioned.repartition(col("shard")),
          "shard" +: keys, orderCols :+ "__batch")
        .write.partitionBy("shard")
        .mode("overwrite").parquet(s"$baseDir/v=$batchId")
      val written = Manifest.written(spark, baseDir, s"v=$batchId")
      Manifest.commit(spark, baseDir, Version(batchId, p,
        (prevEntries.filterNot(e => touched(e.shard)) ++ touched.toSeq.map(s =>
          Entry(s"v=$batchId/shard=$s", p, written.getOrElse(s, 0L))))
          .sortBy(_.shard)))
    } finally tagged.unpersist()
  }

  /** The distinct `shard` values of `tagged`: deduplicated inside each
    * partition, then on the driver — one job and no shuffle, where a
    * `distinct()` would plan an exchange and a second job. */
  private def touchedShards(tagged: DataFrame): Set[Int] = {
    val s = tagged.sparkSession
    import s.implicits._
    tagged.select("shard").as[Int].mapPartitions(_.toSet.iterator)
      .collect().toSet
  }

  /** OFFLINE maintenance: rewrite the newest committed version under a
    * NEW shard modulus. Merges never re-hash (silent modulus drift
    * duplicates keys), so this is the one sanctioned way to grow P with
    * the view: every merge and lookup cost rides shard size. One
    * full-view rewrite into a fresh directory, committed by replacing
    * the newest manifest with one that denotes the same rows under the
    * new modulus ([[Manifest]]'s maintenance rule): no batch id is
    * spent, a crash before the rename leaves the old layout readable,
    * and the next merge adopts the new modulus. Schedule it
    * geometrically ([[maybeReshard]]) so a lifetime pays O(log growth)
    * rewrites. Quiesce merges first (single writer). */
  def reshard(spark: SparkSession, baseDir: String, keys: Seq[String],
      newShards: Int): Unit = {
    require(newShards > 0, s"reshard: bad modulus $newShards")
    val v = Manifest.below(spark, baseDir, Long.MaxValue).getOrElse(
      throw new IllegalArgumentException(
        s"reshard: no committed version in $baseDir"))
    require(v.entries.nonEmpty, s"reshard: $baseDir maps no shards")
    val dir = Manifest.fresh(spark, baseDir, v.id)
    readShards(spark, baseDir, v.entries, None).get
      .withColumn("shard", shardExpr(keys, newShards))
      .repartition(col("shard"))
      .write.partitionBy("shard")
      .mode("overwrite").parquet(s"$baseDir/$dir")
    // entries for the shards that hold rows, not 0 until P: a 2^20
    // modulus must not drag a million-line manifest into every merge
    Manifest.commit(spark, baseDir, Version(v.id, newShards,
      Manifest.written(spark, baseDir, dir).toSeq.sorted.map {
        case (s, b) => Entry(s"$dir/shard=$s", newShards, b) }))
  }

  /** Scheduled form of [[reshard]] — the upsert twin of the admission
    * registry's self-sized folds: re-shard to P = bytes /
    * targetShardBytes whenever the CURRENT average shard has grown past
    * 2 × target (the doubling gate is what bounds lifetime rewrites to
    * O(log growth)). Call from the same quiesced maintenance window as
    * [[reshard]]; view bytes come from the manifest's per-shard byte
    * entries — ONE file read per call. Returns the new modulus when a
    * reshard ran, None on the no-op path.
    * `targetShardBytes` must sit well above parquet's per-file overhead
    * (~1 KB footer) — below it, measured bytes grow with P itself and
    * any byte-driven policy thrashes (spec pins the behavior at a sane
    * target; the 64 MB default is 5 orders above the overhead). */
  def maybeReshard(spark: SparkSession, baseDir: String, keys: Seq[String],
      targetShardBytes: Long = 64L << 20): Option[Int] =
    Manifest.below(spark, baseDir, Long.MaxValue)
      .filter(_.entries.nonEmpty).flatMap { v =>
        val bytes = v.entries.map(_.bytes).sum
        if (bytes / v.modulus <= 2 * targetShardBytes) None
        else {
          val newP = math.min(1L << 20, math.max(v.modulus.toLong,
            (bytes + targetShardBytes - 1) / targetShardBytes)).toInt
          reshard(spark, baseDir, keys, newP)
          Some(newP)
        }
      }

  /** Attach the sink to a streaming DataFrame and start it: each
    * micro-batch merges under the engine's own batch id. A stream
    * resumed after a quiesced [[reshard]] merges its next batch against
    * the resharded manifest and adopts its modulus. */
  def start(stream: DataFrame, baseDir: String, checkpointDir: String,
      keys: Seq[String], orderCols: Seq[String],
      shards: Int = 64): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(
        mergeBatch(stream.sparkSession, baseDir, keys, orderCols, shards) _)
      .start()
}
