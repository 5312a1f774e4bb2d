package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Descending, InterpretedOrdering, InterpretedUnsafeProjection, SortOrder, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

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
  * A merge starts with ONE job, which computes the micro-batch and
  * collects its touched shards, and its rows when they are small
  * ([[mergeVia]]). A small merge (the rows, and the touched predecessor
  * shards as manifest bytes and as decoded rows, fit
  * [[Manifest.smallBytes]]) then commits through [[Manifest]]'s
  * small-commit path, the one the admission registry's appends take:
  * per touched shard, the driver reads it, keeps the latest row per key
  * and writes one file. A dashboard trigger is then one Spark job, with
  * no shuffle. A larger merge keeps the job form: one shuffle on `shard`
  * under a partitioned write. Every read of the store carries the stored
  * schema from one driver-side parquet footer, so no read infers a
  * schema with a job of its own.
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
    val r = graft.sources.ParquetMeta.open(file, conf)
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
        if (v.entries.map(_.bytes).sum <= Manifest.smallBytes(spark))
          view.coalesce(1)
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
      batch: DataFrame, batchId: Long): Unit =
    mergeVia(spark, baseDir, keys, orderCols, shards, None)(batch, batchId)

  /** [[mergeBatch]] on a chosen form: Some(true) the driver form (where
    * the keys allow it), Some(false) the job form, None the size rule
    * decides. Specs pick a form here.
    *
    * Both forms start with the same job ([[touchedRows]]), which also
    * computes the micro-batch; the batch stays persisted, so the job
    * form never recomputes it. Under the size rule the driver form runs
    * when that job returned the batch rows (at most [[Manifest.smallBytes]]
    * of them) and the touched predecessor shards fit the same size, as
    * manifest bytes and as the decoded rows the driver reads: a read
    * that passes the size stops, and the job form runs. Its keep-latest
    * order is the job form's. Keys holding a float or double take the
    * job form: Spark groups them after normalizing NaN and -0.0, which a
    * byte-equal driver key does not.
    *
    * The size rule bounds the driver's memory; it is not a speed
    * crossover. On a 4-cpu host the driver form was faster at every size
    * measured, up to 10,000-row merges into all 64 shards of a 207 MB
    * store (SURVEY §30). Rows decode to more heap than their files take
    * (dashboard-view rows ~21x their manifest bytes, incompressible
    * string rows ~3x, row objects and key copies included), so the
    * decoded bound is the one that holds the heap near 3x the size. */
  private[graft] def mergeVia(spark: SparkSession, baseDir: String,
      keys: Seq[String], orderCols: Seq[String], shards: Int,
      driver: Option[Boolean])(batch: DataFrame, batchId: Long): Unit = {
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
      val small = Manifest.smallBytes(spark)
      val cap =
        if (keys.exists(k => floating(tagged.schema(k).dataType))) -1L
        else driver.fold(small)(if (_) Long.MaxValue else -1L)
      val (touched, rows) = touchedRows(tagged, cap)
      val prevTouched = prevEntries.filter(e => touched(e.shard))
      val written = rows
        .filter(_ => driver.isDefined || prevTouched.map(_.bytes).sum <= small)
        .flatMap(mergeLocal(spark, baseDir, keys, orderCols, tagged.schema,
          prevTouched, _, batchId,
          if (driver.isDefined) Long.MaxValue else small))
        .getOrElse(mergeJob(spark, baseDir, keys, orderCols, p, prevTouched,
          tagged, batchId))
      Manifest.commit(spark, baseDir, Version(batchId, p,
        (prevEntries.filterNot(e => touched(e.shard)) ++ touched.toSeq.map(s =>
          Entry(s"v=$batchId/shard=$s", p, written.getOrElse(s, 0L))))
          .sortBy(_.shard)))
    } finally tagged.unpersist()
  }

  private def nullable(s: StructType): StructType = {
    def of(t: DataType): DataType = t match {
      case s: StructType => nullable(s)
      case a: ArrayType => ArrayType(of(a.elementType), containsNull = true)
      case m: MapType => MapType(of(m.keyType), of(m.valueType),
        valueContainsNull = true)
      case o => o
    }
    StructType(s.fields.map(c => c.copy(dataType = of(c.dataType),
      nullable = true)))
  }

  private def floating(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case a: ArrayType => floating(a.elementType)
    case m: MapType => floating(m.keyType) || floating(m.valueType)
    case _ => false
  }

  /** The one job of a merge, over the persisted `tagged` batch: its
    * distinct `shard` values, and its rows (`UnsafeRow` copies) when
    * every partition's rows fit `cap / partitions` bytes — so the driver
    * never receives more than `cap` bytes of rows. A negative `cap`
    * returns no rows. No shuffle: shards are deduplicated inside each
    * partition, then on the driver. */
  private def touchedRows(tagged: DataFrame,
      cap: Long): (Set[Int], Option[Array[InternalRow]]) = {
    val qe = tagged.queryExecution
    val schema = tagged.schema
    val si = schema.fieldIndex("shard")
    val parts = SQLExecution.withNewExecutionId(qe, Some("touchedRows")) {
      val rdd = qe.toRdd
      val share = if (cap < 0) -1L else cap / math.max(1, rdd.getNumPartitions)
      rdd.mapPartitions { it =>
        val unsafe = InterpretedUnsafeProjection.createProjection(
          schema.fields.toSeq.zipWithIndex.map { case (c, i) =>
            BoundReference(i, c.dataType, c.nullable) })
        val shards = scala.collection.mutable.Set[Int]()
        val rows = scala.collection.mutable.ArrayBuffer[InternalRow]()
        var bytes = 0L
        it.foreach { r =>
          shards += r.getInt(si)
          if (bytes <= share) {
            val u = (r match {
              case u: UnsafeRow => u
              case o => unsafe(o)
            }).copy()
            bytes += u.getSizeInBytes
            if (bytes <= share) rows += u else rows.clear()
          }
        }
        Iterator((shards.toArray, if (bytes <= share) rows.toArray else null))
      }.collect()
    }
    (parts.iterator.flatMap(_._1).toSet,
      if (parts.forall(_._2 != null)) Some(parts.flatMap(_._2)) else None)
  }

  /** The job form: keep-latest over the touched predecessor shards and
    * the batch behind ONE exchange, then a partitioned write. The union
    * is hashed by shard, and keep-latest runs per (shard +: keys) — the
    * same groups as per key, because a key's shard is a pure function of
    * the key (merge never moves rows across shards). Hash partitioning
    * on shard already clusters those groups, so the window plans no
    * exchange of its own, and its sort (shard first) is the order the
    * partitioned write needs. Returns the bytes written per shard. */
  private def mergeJob(spark: SparkSession, baseDir: String,
      keys: Seq[String], orderCols: Seq[String], p: Int,
      prevTouched: Seq[Entry], tagged: DataFrame,
      batchId: Long): Map[Int, Long] = {
    val unioned = readShards(spark, baseDir, prevTouched, None) match {
      case Some(prev) =>
        prev.withColumn("shard", shardExpr(keys, p)).unionByName(tagged)
      case None => tagged
    }
    Upsert.keepLatestPerKey(unioned.repartition(col("shard")),
        "shard" +: keys, orderCols :+ "__batch")
      .write.partitionBy("shard")
      .mode("overwrite").parquet(s"$baseDir/v=$batchId")
    Manifest.written(spark, baseDir, s"v=$batchId")
  }

  /** A driver-form read past its byte budget. */
  private final class OverBudget
      extends RuntimeException(null, null, false, false)

  /** The driver form: per touched shard, its predecessor rows read on
    * the driver ([[Manifest.readLocal]]), the latest row per key kept in
    * memory under the job form's order (`orderCols` descending, nulls
    * last, then the batch id), and one file written
    * ([[Manifest.writeLocal]]). Each shard is read and kept inside its
    * own write, so the driver holds the batch rows and only the shards
    * being written. None, and the job form runs, when the batch's
    * columns differ from the stored ones by name or type, or when the
    * predecessor rows read pass `readCap` bytes (`UnsafeRow` sizes); the
    * job form's overwrite then clears what was written. */
  private def mergeLocal(spark: SparkSession, baseDir: String,
      keys: Seq[String], orderCols: Seq[String], batchSchema: StructType,
      prevTouched: Seq[Entry], rows: Array[InternalRow], batchId: Long,
      readCap: Long): Option[Map[Int, Long]] = {
    val payload = StructType(batchSchema.filterNot(_.name == "shard"))
    // the job form writes the batch's own schema, or its union with the
    // predecessor as read, where a file scan makes every column nullable
    val schema =
      if (prevTouched.isEmpty) payload
      else nullable(storedSchema(spark, baseDir, prevTouched))
    def shape(s: StructType) =
      s.fields.toSeq.map(c => c.name -> c.dataType.catalogString).sorted
    if (shape(schema) != shape(payload)) None
    else {
      def at(s: StructType, c: String) =
        BoundReference(s.fieldIndex(c), s(c).dataType, nullable = true)
      val si = batchSchema.fieldIndex("shard")
      val prevOf = prevTouched.map(e => e.shard -> e).toMap
      val read = Manifest.readLocal(spark, baseDir, schema)
      val left = new java.util.concurrent.atomic.AtomicLong(readCap)
      try Some(Manifest.writeLocal(spark, baseDir, s"v=$batchId", schema,
        rows.groupBy(_.getInt(si)).map { case (s, batchRows) => s -> { () =>
          // per shard: projections reuse one buffer, and the shards are
          // written in parallel
          val stored = InterpretedUnsafeProjection.createProjection(
            schema.fieldNames.toSeq.map(at(batchSchema, _)))
          val keyOf = InterpretedUnsafeProjection.createProjection(
            keys.map(at(schema, _)))
          val newer = new InterpretedOrdering((orderCols :+ "__batch")
            .map(c => SortOrder(at(schema, c), Descending)))
          val latest = scala.collection.mutable.LinkedHashMap[InternalRow, InternalRow]()
          (prevOf.get(s).iterator.flatMap(read).map { r =>
              if (left.addAndGet(-r.getSizeInBytes) < 0) throw new OverBudget
              r
            } ++ batchRows.iterator.map(stored(_).copy())).foreach { r =>
            val k = keyOf(r).copy()
            if (latest.get(k).forall(newer.compare(r, _) < 0)) latest(k) = r
          }
          latest.valuesIterator
        }}))
      catch { case _: OverBudget => None }
    }
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
