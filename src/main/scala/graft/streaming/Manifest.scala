package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one commit protocol of the engine's streaming state. The keyed
  * serving store ([[ShardedUpsertSink]], merge law keep-latest) and the
  * admission registries ([[AdmissionRegistry]], merge law append) both
  * commit through it: Structured Streaming's exactly-once recipe
  * (replayable source, idempotent sink keyed by batch id), written once.
  *
  *   - **Layout.** A store root holds directories of parquet rows, each
  *     laid out as `shard=<s>/` leaves under `shard = pmod(xxhash64(key),
  *     P)`, and one manifest per committed version,
  *     `v=<batchId>/_manifest`. A manifest lists the directories
  *     ([[Entry]]) whose rows ARE that version. Its first line `#shards
  *     P` is the store's modulus and its last line `#end n` counts its
  *     entries, so a truncated or corrupt manifest throws; it never
  *     reads as fewer entries or a smaller modulus.
  *   - **Commit.** Data first, then the manifest: written to
  *     `_manifest.tmp` and renamed over `_manifest`. The rename is the
  *     commit point. A directory no manifest lists is invisible to every
  *     read, and the batch's replay overwrites it.
  *   - **Replay.** Batch N is computed against [[below]] N, the newest
  *     committed manifest with id < N. A replay of N sees the same
  *     predecessor and writes the same rows: idempotent by construction.
  *   - **Maintenance.** The registry fold and the upsert reshard rewrite
  *     the layout of the newest committed version into a fresh
  *     `v=<id>.<k>` directory ([[fresh]]) and commit by replacing that
  *     version's manifest with one that denotes the same rows. No batch
  *     id is spent, and a crash before the rename leaves the old
  *     manifest and its rows in place.
  *   - **GC.** After every commit, the newest [[Keep]] manifests (and any
  *     newer one) pin the directories they list; every other path under
  *     a `v=` directory is deleted, down to single shard directories,
  *     and so are the manifests out of that window.
  *   - **Reads** ([[read]]) name the wanted `shard=` directories as
  *     explicit paths of one relation under an explicit schema: the
  *     shard set and the owning versions stay out of the plan and its
  *     generated code, the file index lists only what is read, and no
  *     schema is inferred with a job.
  *   - **Small commits.** A write that fits one advisory partition
  *     ([[smallBytes]]) may skip the job: [[writeLocal]] writes its
  *     shards on the driver through Spark's own parquet write support,
  *     and [[readLocal]] reads a one-shard entry back through a scan's
  *     own parquet reader. The files are what a job writes (encoding,
  *     compression, the `org.apache.spark.sql.parquet.row.metadata`
  *     footer), so every read, footer walk and later job-form merge
  *     treats them alike.
  *     Both stores commit small writes through this one path.
  */
private[graft] object Manifest {

  /** Retained manifests: the newest and the predecessor a replay of the
    * newest batch is recomputed against. */
  val Keep = 2

  /** A listed directory, relative to the store root, with its `bytes`
    * as written. A `dir` ending in `shard=<s>` is that one shard; any
    * other `dir` is a run of `shard=` subdirectories under its own
    * `modulus`. `stats` are `key=value` facts its store reads back. */
  final case class Entry(dir: String, modulus: Int, bytes: Long,
      stats: Seq[(String, String)] = Nil) {
    val shard: Int = dir.split('/').last match {
      case s if s.startsWith("shard=") => s.stripPrefix("shard=").toInt
      case _ => -1
    }
    def stat(key: String): Option[String] =
      stats.collectFirst { case (`key`, v) => v }
  }

  /** A committed version: its id, the store's modulus, its entries. */
  final case class Version(id: Long, modulus: Int, entries: Seq[Entry])

  def fs(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed version ids, ascending. */
  def versions(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val root = new Path(base)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(_.isDirectory).flatMap(s => idOf(s.getPath.getName)
        .filter(_ => f.exists(new Path(s.getPath, "_manifest"))))
      .sorted
  }

  /** The batch id of a `v=<id>` version directory. */
  private def idOf(name: String): Option[Long] =
    if (name.startsWith("v=")) name.stripPrefix("v=").toLongOption else None

  /** The newest committed version with id < `n`. */
  def below(spark: SparkSession, base: String, n: Long): Option[Version] =
    versions(spark, base).filter(_ < n).lastOption.map(load(spark, base, _))

  /** Version `id`'s manifest; a missing header, a missing or wrong
    * `#end` count, or a malformed entry throws IllegalStateException. */
  def load(spark: SparkSession, base: String, id: Long): Version = {
    val in = fs(spark, base).open(new Path(s"$base/v=$id/_manifest"))
    val lines =
      try new String(in.readAllBytes(), UTF_8).linesIterator
        .map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    def bad(why: String) = throw new IllegalStateException(
      s"store $base: manifest of v=$id $why")
    val p = lines.headOption.filter(_.startsWith("#shards "))
      .flatMap(_.stripPrefix("#shards ").toIntOption)
      .filter(_ > 0).getOrElse(bad("lacks a '#shards P' header"))
    val body = lines.drop(1).dropRight(1)
    if (lines.last != s"#end ${body.size}")
      bad("is truncated (no matching '#end' line)")
    Version(id, p, body.map { l =>
      Try(l.split("\\s+") match {
        case Array(d, m, b, kvs @ _*) if !d.startsWith("#") && m.toInt > 0 =>
          Entry(d, m.toInt, b.toLong, kvs.map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v })
      }).getOrElse(bad(s"has a bad line '$l'"))
    })
  }

  /** Commit `v`: its manifest goes to a tmp file, renamed over
    * `v=<id>/_manifest` (the commit point of a batch, the atomic
    * replacement of a maintenance step), then GC runs. */
  def commit(spark: SparkSession, base: String, v: Version): Unit = {
    val f = fs(spark, base)
    val tmp = new Path(s"$base/v=${v.id}/_manifest.tmp")
    val target = new Path(s"$base/v=${v.id}/_manifest")
    val lines = (s"#shards ${v.modulus}" +: v.entries.map { e =>
      (Seq(e.dir, e.modulus, e.bytes) ++
        e.stats.map { case (k, x) => s"$k=$x" }).mkString(" ")
    }) :+ s"#end ${v.entries.size}"
    val out = f.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes(UTF_8)) finally out.close()
    // A local rename replaces the target atomically. HDFS semantics
    // return false instead of overwriting; FileContext's overwrite is
    // atomic there, and any failure throws, so the batch retries rather
    // than commit rows no reader can see.
    if (!f.rename(tmp, target))
      FileContext.getFileContext(target.toUri,
          spark.sessionState.newHadoopConf())
        .rename(tmp, target, Options.Rename.OVERWRITE)
    gc(spark, base, v.id)
  }

  /** A fresh maintenance directory for version `id`: `v=<id>.<k>`. */
  def fresh(spark: SparkSession, base: String, id: Long): String = {
    val taken = fs(spark, base).listStatus(new Path(base))
      .map(_.getPath.getName).filter(_.startsWith(s"v=$id."))
      .flatMap(_.stripPrefix(s"v=$id.").toIntOption)
    s"v=$id.${(taken :+ 0).max + 1}"
  }

  /** Bytes per `shard=` subdirectory of a just-written directory: sized
    * at write time, so no read or maintenance decision walks the
    * layout. */
  def written(spark: SparkSession, base: String,
      dir: String): Map[Int, Long] = {
    val f = fs(spark, base)
    f.listStatus(new Path(s"$base/$dir")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .map { d =>
        d.getPath.getName.stripPrefix("shard=").toInt ->
          f.listStatus(d.getPath).filter(_.isFile).map(_.getLen).sum
      }.toMap
  }

  /** The rows of `entries` as payload `schema`; None when no directory
    * is read. `wanted(P)` is the set of shards wanted under modulus P
    * (None: every shard). A one-shard entry is read when its shard is
    * wanted; a run is read whole when every shard is wanted, else
    * through its wanted `shard=` directories that exist (one listing of
    * the run). ONE relation reads every directory, with partition
    * inference off: which versions own the rows, and which shards are
    * wanted, changes only its file list — never the plan or its
    * generated code. */
  def read(spark: SparkSession, base: String, entries: Seq[Entry],
      schema: StructType,
      wanted: Option[Int => Set[Int]]): Option[DataFrame] = {
    val f = fs(spark, base)
    val paths = entries.flatMap { e =>
      val w = wanted.map(_(e.modulus))
      if (e.shard >= 0) { if (w.forall(_(e.shard))) Seq(e.dir) else Nil }
      else w match {
        case Some(s) if s.isEmpty => Nil
        case Some(s) if s.size < e.modulus =>
          f.listStatus(new Path(s"$base/${e.dir}")).map(_.getPath.getName)
            .filter(n => n.startsWith("shard=") &&
              s(n.stripPrefix("shard=").toInt))
            .sorted.map(n => s"${e.dir}/$n").toSeq
        case _ => Seq(e.dir)
      }
    }
    if (paths.isEmpty) None
    else Some(spark.read.option("recursiveFileLookup", "true").schema(schema)
      .parquet(paths.map(p => s"$base/$p"): _*))
  }

  /** The size rule of the small-commit path and of the one-partition
    * view read: `spark.sql.adaptive.advisoryPartitionSizeInBytes`. */
  def smallBytes(spark: SparkSession): Long =
    spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The small-commit writer: `dir` replaced by one parquet file per
    * shard of `rows` (shard → a thunk of rows of `schema`), written on the
    * driver through Spark's parquet write support. Each shard's thunk runs
    * inside that shard's write, so only the shards being written are in
    * memory at once. `dir` is cleared first, as a job's overwrite clears
    * it, so a replay leaves no file of an earlier attempt; the file name
    * carries a fresh UUID per write, so a replayed commit never lists a
    * name an earlier attempt used. The shards are written in parallel on
    * the global execution context (one thread per core): on a local file
    * system without Hadoop's native IO, creating a file forks a `chmod`
    * for it, its checksum file and its directory. Returns the bytes
    * written per shard. */
  def writeLocal(spark: SparkSession, base: String, dir: String,
      schema: StructType, rows: Map[Int, () => Iterator[InternalRow]])
      : Map[Int, Long] = {
    val f = fs(spark, base)
    val root = new Path(base, dir)
    f.delete(root, true)
    f.mkdirs(root)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}.c000" +
      factory.getFileExtension(ctx)
    val sql = spark.sessionState.conf
    val writes = rows.toSeq.map { case (s, rs) =>
      // the writer reads its rebase modes and time zone from SQLConf.get,
      // which off the session's thread is not the session's conf
      Future(SQLConf.withExistingConf(sql) {
        val it = rs()
        val file = new Path(root, s"shard=$s/$name")
        val w = factory.newInstance(file.toString, schema, ctx)
        try it.foreach(w.write) finally w.close()
        s -> f.getFileStatus(file).getLen
      })(ExecutionContext.global)
    }
    // every write ends before a failure is rethrown, so no straggler
    // writes into `dir` after a replay has cleared it
    writes.map(w => Try(Await.result(w, Duration.Inf))).map(_.get).toMap
  }

  /** The small-commit reader: a function from a one-shard entry to its
    * rows as `schema` (`UnsafeRow` copies), read on the driver. Each file
    * is read by the reader a parquet scan builds
    * (`ParquetFileFormat.buildReaderWithPartitionValues`), so the
    * session's read conf, the rebase of dates and timestamps and the
    * schema rules are a scan's. Building it broadcasts the Hadoop conf
    * once, as a scan does: ~7 ms on a 4-cpu host, after which a
    * 1,250-row file reads in ~1.6 ms. The function may run on any
    * thread. */
  def readLocal(spark: SparkSession, base: String,
      schema: StructType): Entry => Iterator[UnsafeRow] = {
    val f = fs(spark, base)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    e => {
      // a projection reuses one buffer, so each entry builds its own
      val unsafe = InterpretedUnsafeProjection.createProjection(
        schema.fields.toSeq.zipWithIndex.map { case (c, i) =>
          BoundReference(i, c.dataType, nullable = true) })
      f.listStatus(new Path(base, e.dir))
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName).iterator.flatMap { st =>
          read(PartitionedFile(InternalRow.empty,
            SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty,
            st.getModificationTime, st.getLen)).map(unsafe(_).copy())
        }
    }
  }

  /** Keep the newest [[Keep]] manifests at or below `upto` (and any
    * newer one) with every directory they list; delete every other path
    * under the `v=` directories at or below `upto`. */
  private def gc(spark: SparkSession, base: String, upto: Long): Unit = {
    val f = fs(spark, base)
    val (old, newer) = versions(spark, base).partition(_ <= upto)
    val kept = old.takeRight(Keep) ++ newer
    val listed = kept.flatMap(load(spark, base, _).entries.map(_.dir)).toSet
    val pins = listed ++ kept.map(id => s"v=$id/_manifest")
    def sweep(p: Path, rel: String): Unit =
      if (pins(rel)) ()
      else if (pins.exists(_.startsWith(rel + "/")))
        f.listStatus(p).foreach(c => sweep(c.getPath, s"$rel/${c.getPath.getName}"))
      else f.delete(p, true)
    f.listStatus(new Path(base)).foreach { st =>
      val name = st.getPath.getName
      if (idOf(name.takeWhile(_ != '.')).exists(_ <= upto))
        sweep(st.getPath, name)
    }
  }
}
