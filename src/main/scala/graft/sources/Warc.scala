package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, EOFException,
  InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC / WET ingestion — the web-archive record format every large web
  * crawl ships as (Common Crawl publishes ~64–90k `.warc.gz` / `.wet.gz`
  * files per monthly crawl, ~100 TB compressed). The reference's ingest
  * tier reads a review CSV (`stream_generator.py:49-50`); a training-data
  * engine at corpus scale ingests crawls, so this extends the same
  * declared-schema, quarantine-not-crash source discipline
  * ([[Sources.readJsonlWithQuarantine]]) to WARC framing.
  *
  * Two read paths, chosen by what the bytes allow:
  *
  *  1. '''Per-file streaming''' ([[readRecords]]/[[readWet]]) — the
  *     general path: binary-safe (Content-Length-framed payloads may
  *     contain anything, including the bytes `WARC/1.0`), handles the
  *     crawl ecosystem's per-record-gzip-member `.gz` layout, and is
  *     memory-bounded at O(one record), never O(file): records stream
  *     off a `FileSystem.open` + member-wise gunzip. One file is one
  *     unit of work — exactly how crawls are consumed in production,
  *     where a 1000-executor cluster takes its parallelism from the
  *     tens of thousands of archive files, not from splits inside one.
  *     Per-record gzip members also CONTAIN damage: a corrupt member or
  *     a record that fails framing quarantines that member alone and
  *     the reader resyncs at the next member boundary (for uncompressed
  *     streams there is no boundary to resync at, so framing damage
  *     quarantines the file remainder — documented, fail-closed).
  *  2. '''Splittable text''' ([[readWetSplittable]]) — for UNCOMPRESSED
  *     `.wet` extracts (text payloads by the WET spec): Hadoop
  *     `TextInputFormat` with the record delimiter set to the
  *     inter-record framing (`\r\n\r\nWARC/1.0\r\n`) splits one fat
  *     file across tasks, each record reassembled across split
  *     boundaries by the input format's own contract. A text payload
  *     that happens to contain the delimiter mis-splits — but never
  *     silently: both halves fail the Content-Length re-verification
  *     and land in quarantine rows (spec-armed in WarcSpec).
  *
  * Both paths emit QUARANTINE ROWS (`error` non-null) instead of either
  * killing the job on record 9-billion or silently dropping — same
  * posture as the JSONL source, for the same 100 TB reason.
  */
object Warc {

  /** Payload ceiling (1 GiB): a Content-Length beyond this is either
    * framing damage mis-read as a length or an expansion bomb; both
    * quarantine (same budget discipline as [[graft.ext.Archives]]). */
  val MaxPayloadBytes: Long = 1L << 30

  private val MaxHeaderLine = 64 * 1024

  /** Framing damage: thrown by the record parser, converted to a
    * quarantine row (lenient) or rethrown with file context (strict). */
  final class WarcFormatException(msg: String) extends Exception(msg)

  private def fmt(msg: String) = new WarcFormatException(msg)

  val recordSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("record_index", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("error", StringType, nullable = true)))

  // -------------------------------------------------------------------
  // Binary framing parser (shared by the streaming path and the specs)
  // -------------------------------------------------------------------

  /** One parsed record: lower-cased header map + exact payload bytes. */
  private[sources] final case class RawRecord(
      headers: Map[String, String], payload: Array[Byte])

  /** Read one header line (bytes to LF, CR stripped); None at EOF
    * before any byte. Header lines are ASCII/UTF-8 by the WARC spec. */
  private def readLine(in: InputStream): Option[String] = {
    val buf = new ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') {
      buf.write(b)
      if (buf.size > MaxHeaderLine) throw fmt("header line exceeds 64 KiB")
      b = in.read()
    }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    Some(new String(bytes, 0, n, UTF_8))
  }

  /** Read one WARC record off `in`. None at clean EOF (only inter-record
    * blank lines remained). Throws [[WarcFormatException]] on framing
    * damage — the caller decides quarantine vs abort. Binary-safe: the
    * payload is read as exactly Content-Length bytes, so payload bytes
    * that spell `WARC/1.0` cannot confuse this path. */
  private[graft] def readRecord(in: InputStream): Option[RawRecord] = {
    var line = readLine(in)
    while (line.exists(_.isEmpty)) line = readLine(in) // record trailer CRLFs
    line match {
      case None => None
      case Some(v) if !v.startsWith("WARC/") =>
        throw fmt(s"expected WARC/ version line, got '${v.take(40)}'")
      case Some(_) =>
        val headers = mutable.LinkedHashMap[String, String]()
        var last: String = null
        var h = readLine(in).getOrElse(throw fmt("EOF inside header block"))
        while (h.nonEmpty) {
          if ((h.head == ' ' || h.head == '\t') && last != null) {
            // RFC 2822 LWS folding: continuation appends to prior value
            headers(last) = headers(last) + " " + h.trim
          } else {
            val i = h.indexOf(':')
            if (i <= 0) throw fmt(s"malformed header line '${h.take(40)}'")
            last = h.substring(0, i).trim.toLowerCase
            headers(last) = h.substring(i + 1).trim
          }
          h = readLine(in).getOrElse(throw fmt("EOF inside header block"))
        }
        val lenStr = headers.getOrElse("content-length",
          throw fmt("missing Content-Length"))
        val len = try lenStr.toLong catch {
          case _: NumberFormatException =>
            throw fmt(s"non-numeric Content-Length '${lenStr.take(20)}'")
        }
        if (len < 0 || len > MaxPayloadBytes)
          throw fmt(s"Content-Length $len outside [0, $MaxPayloadBytes]")
        // readNBytes grows its buffer with the bytes that arrive, so a
        // header claiming up to MaxPayloadBytes over a short stream
        // allocates O(bytes present), not O(claim)
        val payload = in.readNBytes(len.toInt)
        if (payload.length < len)
          throw fmt(s"EOF inside payload (wanted $len bytes)")
        Some(RawRecord(headers.toMap, payload))
    }
  }

  /** Byte-exact splitter over the gzip MEMBERS of a per-record-gzip
    * archive (the crawl ecosystem's `.warc.gz` layout: one member per
    * record, so a member boundary is a resync point that contains
    * damage). Neither `java.util.zip.GZIPInputStream` (trusts
    * `available()` on the underlying stream — legally 0 at member
    * boundaries on buffered FS streams, silently truncating the
    * archive) nor commons-compress (buffers past the member it
    * returns) leaves the underlying stream positioned at the next
    * member, so this feeds a raw `Inflater` from its own window and
    * RETURNS the inflater's unconsumed bytes to that window when a
    * member finishes — the next member starts at its exact first byte.
    * Memory: O(window + one inflater), never O(member) or O(file).
    * CRC32 and ISIZE trailers are verified (corruption fails closed). */
  private[sources] final class GzipMembers(raw: InputStream) {
    private val feed = new Array[Byte](64 << 10)
    private var fpos = 0
    private var flim = 0

    private def refill(): Boolean = {
      if (fpos < flim) return true
      val n = raw.read(feed)
      fpos = 0
      flim = math.max(n, 0)
      n > 0
    }

    private def u8(): Int =
      if (refill()) { val b = feed(fpos) & 0xff; fpos += 1; b } else -1

    /** Boundary state at the window position: 0 = clean EOF (no bytes
      * remain), 1 = a gzip member header starts here, 2 = bytes remain
      * but are NOT a member header — a flipped magic byte or
      * inter-member junk. 2 is indistinguishable from damage without
      * decoding, so every caller fails it closed (quarantine row or
      * throw); collapsing it into EOF would let a damaged archive read
      * as a clean short file with no error anywhere (ADVICE r15). */
    def boundaryState: Int = {
      if (!refill()) return 0
      if (flim - fpos < 2) { // magic may straddle a refill
        feed(0) = feed(fpos); flim = 1; fpos = 0
        val n = raw.read(feed, 1, feed.length - 1)
        if (n > 0) flim += n
        if (flim < 2) return 2 // a lone trailing byte cannot be a member
      }
      if ((feed(fpos) & 0xff) == 0x1f && (feed(fpos + 1) & 0xff) == 0x8b) 1
      else 2
    }

    /** True iff the next unconsumed bytes are a gzip member header. */
    def atMember: Boolean = boundaryState == 1

    /** Open the next member as a bounded InputStream. The caller must
      * read it to EOF (or drain it) before calling [[atMember]] again —
      * EOF is when the underlying window sits at the next boundary. */
    def nextMember(): InputStream = {
      if (u8() != 0x1f || u8() != 0x8b)
        throw new java.io.IOException("not a gzip member (bad magic)")
      val cm = u8()
      if (cm != 8) throw new java.io.IOException(s"unsupported gzip CM $cm")
      val flg = u8()
      var i = 0
      while (i < 6) { u8(); i += 1 } // MTIME(4) XFL OS
      if ((flg & 4) != 0) { // FEXTRA
        val n = u8() | (u8() << 8)
        var j = 0
        while (j < n) { u8(); j += 1 }
      }
      if ((flg & 8) != 0) while (u8() > 0) {} // FNAME (NUL-terminated)
      if ((flg & 16) != 0) while (u8() > 0) {} // FCOMMENT
      if ((flg & 2) != 0) { u8(); u8() } // FHCRC
      val inf = new java.util.zip.Inflater(/*nowrap=*/ true)
      val crc = new java.util.zip.CRC32
      new InputStream {
        private var done = false
        override def close(): Unit = { // abandoned member: free native mem
          if (!done) { done = true; inf.end() }
        }
        override def read(): Int = {
          val b = new Array[Byte](1)
          val n = read(b, 0, 1)
          if (n < 0) -1 else b(0) & 0xff
        }
        override def read(out: Array[Byte], off: Int, len: Int): Int = {
          if (done) return -1
          if (len == 0) return 0
          var n = 0
          while (n == 0) {
            if (inf.needsInput) {
              if (!refill())
                throw new EOFException("truncated gzip member")
              inf.setInput(feed, fpos, flim - fpos)
              fpos = flim // reclaimed below when the member finishes
            }
            n = try inf.inflate(out, off, len)
            catch { // checked DataFormatException → contained like I/O
              case e: java.util.zip.DataFormatException =>
                throw new java.io.IOException(
                  s"corrupt gzip member: ${e.getMessage}")
            }
            if (n == 0) {
              if (inf.finished()) {
                fpos -= inf.getRemaining // byte-exact resync
                var k = 0; var crcv = 0L; var isz = 0L
                while (k < 4) {
                  val b = u8()
                  if (b < 0) throw new EOFException("truncated gzip trailer")
                  crcv |= b.toLong << (8 * k); k += 1
                }
                k = 0
                while (k < 4) {
                  val b = u8()
                  if (b < 0) throw new EOFException("truncated gzip trailer")
                  isz |= b.toLong << (8 * k); k += 1
                }
                if (crcv != crc.getValue)
                  throw new java.io.IOException("gzip member CRC mismatch")
                if (isz != (inf.getBytesWritten & 0xffffffffL))
                  throw new java.io.IOException("gzip member ISIZE mismatch")
                inf.end()
                done = true
                return -1
              } else if (inf.needsDictionary())
                throw new java.io.IOException("gzip needs preset dictionary")
            }
          }
          crc.update(out, off, n)
          n
        }
      }
    }
  }

  // -------------------------------------------------------------------
  // Streaming per-file path
  // -------------------------------------------------------------------

  /** All records under `pattern` (a directory, file, or glob). Schema:
    * [[recordSchema]]; malformed framing yields `error`-rows (lenient)
    * or throws with file context (`strict = true`). Parallelism: one
    * task per file, spread over the cluster — list driver-side (one
    * RPC per directory, not per record), then stream executor-side. */
  def readRecords(spark: SparkSession, pattern: String,
      strict: Boolean = false): DataFrame = {
    val files = listFiles(spark, pattern)
    require(files.nonEmpty, s"no WARC files match $pattern")
    val parallelism =
      math.min(files.size, spark.sparkContext.defaultParallelism)
    val hconf = sessionConf(spark)
    val rdd = spark.sparkContext
      .parallelize(files, parallelism)
      .flatMap(f => fileRows(f, strict, hconf.value.value))
    spark.createDataFrame(rdd, recordSchema)
  }

  /** The SESSION Hadoop conf, broadcast for executor-side FS opens:
    * `spark.hadoop.*` settings (object-store credentials, endpoints)
    * reach the per-file `FileSystem.open` exactly as they reach the
    * driver-side listing — a bare executor `new Configuration()` sees
    * only classpath site files and can fail to open what the listing
    * just returned (ADVICE r15).
    *
    * Cached ONE broadcast per SparkSession (ADVICE r16): a fresh
    * broadcast per read call accumulated unbounded driver/block-manager
    * state in per-batch readers (`Run crawl-arrival`'s batch twin,
    * foreachBatch pipelines). Keyed by SESSION, not context (r17
    * review): sibling sessions carry their own `spark.hadoop.*`
    * overrides — a context-keyed cache would serve session B's reads
    * with session A's credentials. Weak keys let entries die with
    * their session. Caveat: Hadoop settings changed on a session AFTER
    * its first read won't be re-broadcast — set credentials before the
    * first archive read (the normal order). */
  private val confCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration]]())

  private[sources] def sessionConf(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration] = {
    val cached = confCache.get(spark)
    if (cached != null) cached
    else {
      val b = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf()))
      confCache.put(spark, b)
      b
    }
  }

  /** Driver-side file listing for per-file sources (one RPC per
    * directory, not per record); `_`-prefixed names (markers, Spark
    * metadata) are skipped, matching FileFormat conventions. */
  private[sources] def listFiles(spark: SparkSession,
      pattern: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val matched =
      if (fs.isDirectory(p)) fs.listStatus(p).toSeq
      else Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    matched.filter(_.isFile).map(_.getPath.toString)
      .filterNot(_.split('/').last.startsWith("_")).sorted
  }

  /** Stream one file's records, lazily — O(one record) memory. `conf`
    * is the broadcast session Hadoop conf ([[sessionConf]]).
    *
    * Damage containment (lenient mode): record-level framing damage in
    * a VALID gzip member quarantines that member (the member is drained
    * and reading resyncs at the next member boundary); gzip-level
    * damage — or framing damage in an uncompressed stream, which has no
    * boundary to resync at — quarantines the file remainder. Both emit
    * one `error` row carrying the reason. */
  private def fileRows(file: String, strict: Boolean,
      conf: Configuration): Iterator[Row] = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val raw = fs.open(path)
    // close at exhaustion AND at task end: a downstream `limit` aborts
    // iterators without exhausting them, and executor JVMs are
    // long-lived — without the task hook every limited query would leak
    // one FS handle per file it touched
    var closed = false
    def close(): Unit = if (!closed) { closed = true; raw.close() }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))
    val rows = streamRows(file, raw, strict)
    new Iterator[Row] {
      def hasNext: Boolean = {
        val h = rows.hasNext
        if (!h) close()
        h
      }
      def next(): Row = rows.next()
    }
  }

  /** The parse core shared by the batch path (FS stream) and the
    * arrival-stream path (in-memory file content): records of one
    * archive's byte stream, with the containment semantics above. */
  private def streamRows(file: String, raw: InputStream,
      strict: Boolean): Iterator[Row] = {
    val gz = file.endsWith(".gz")
    var index = -1L
    def rowOf(r: RawRecord): Row = {
      index += 1
      Row(file, index, r.headers.get("warc-type").orNull,
        r.headers.get("warc-target-uri").orNull,
        r.headers.get("warc-date").orNull,
        r.headers.get("warc-record-id").orNull,
        r.headers.get("content-type").orNull,
        r.headers("content-length").toLong, r.payload, null)
    }
    def errRow(msg: String): Row = {
      index += 1
      Row(file, index, null, null, null, null, null, null, null, msg)
    }
    /** Records of one stream: on framing damage (or, inside a gzip
      * member, decompression damage like a CRC mismatch — `containIo`)
      * emit one quarantine row and stop this stream; the caller owns
      * any resync. Plain I/O failures on uncompressed streams propagate
      * (that is a task retry, not data damage). */
    def drain(in: InputStream, what: String,
        containIo: Boolean): Iterator[Row] =
      new Iterator[Row] {
        private var failed = false
        private var pending: Option[Row] = fetch()
        private def fetch(): Option[Row] =
          if (failed) None
          else try readRecord(in).map(rowOf)
          catch {
            case e: WarcFormatException =>
              if (strict) throw fmt(s"$file: ${e.getMessage}")
              failed = true
              Some(errRow(s"$what: ${e.getMessage}"))
            case e: java.io.IOException if containIo && !strict =>
              failed = true
              Some(errRow(s"$what: ${e.getMessage}"))
          }
        def hasNext: Boolean = pending.isDefined
        def next(): Row = { val r = pending.get; pending = fetch(); r }
      }
    if (gz) {
        val members = new GzipMembers(raw)
        val skipBuf = new Array[Byte](16 << 10)
        new Iterator[Row] {
          private var cur: Iterator[Row] = Iterator.empty
          private var dead = false // gzip-level damage: position unknown
          private def advance(): Unit = {
            while (!cur.hasNext && !dead) {
              val state =
                try members.boundaryState
                catch { case _: java.io.IOException => 0 }
              if (state == 0) return
              if (state == 2) {
                // bytes that are not a member header: corrupt magic or
                // inter-member junk — no boundary to resync at, so the
                // remainder quarantines (one error row), never a silent
                // clean-EOF (ADVICE r15)
                if (strict) throw fmt(s"$file: bytes between gzip " +
                  "members are not a member header (corrupt magic or " +
                  "inter-member junk)")
                dead = true
                cur = Iterator(errRow("gzip stream: bytes between " +
                  "members are not a gzip member header; file " +
                  "remainder quarantined"))
                return
              }
              cur =
                try {
                  val m = members.nextMember()
                  // drain the member to EOF after record-level damage so
                  // the window lands on the next member boundary
                  drain(m, "gzip member", containIo = true).map { r =>
                    if (r.get(9) != null) {
                      try { while (m.read(skipBuf) >= 0) {} }
                      catch {
                        case _: java.io.IOException =>
                          dead = true
                          m.close() // resync impossible; free the inflater
                      }
                    }
                    r
                  }
                } catch {
                  case e: java.io.IOException =>
                    if (strict) throw new java.io.IOException(
                      s"$file: ${e.getMessage}", e)
                    dead = true
                    Iterator(errRow(s"gzip stream: ${e.getMessage}"))
                }
            }
          }
          def hasNext: Boolean = { advance(); cur.hasNext }
          def next(): Row = { advance(); cur.next() }
        }
      } else drain(raw, "stream", containIo = false)
  }

  /** WET document view: the `conversion` records (one per crawled page,
    * payload = extracted UTF-8 text) as `(url, wet_date, n_bytes, text)`.
    * warcinfo/request/response/metadata records drop; framing
    * quarantine rows surface via [[readRecords]] when accounting is
    * needed — this view is the clean-documents projection. */
  def readWet(spark: SparkSession, pattern: String,
      strict: Boolean = false): DataFrame =
    wetView(readRecords(spark, pattern, strict))

  private def wetView(records: DataFrame): DataFrame = records
    .filter(col("error").isNull && col("warc_type") === "conversion")
    .select(
      col("target_uri").as("url"),
      col("warc_date").as("wet_date"),
      col("content_length").as("n_bytes"),
      col("payload").cast("string").as("text"))

  // -------------------------------------------------------------------
  // Arrival stream (continuous crawl ingestion)
  // -------------------------------------------------------------------

  /** STREAMING records source: archives LANDING in `dir` parse as they
    * arrive — the continuous-ingestion twin of [[readRecords]], for
    * wiring a live crawl into the admission tier
    * ([[graft.streaming.AdmissionRegistry]] chains) instead of
    * re-running batch sweeps. Built on the `binaryFile` file stream
    * source, so the engine's checkpoint tracks WHICH FILES are
    * processed — each archive is ingested exactly once across restarts,
    * the unit-of-work contract crawl pipelines assume. Same schema and
    * quarantine semantics as the batch path (shared parse core).
    *
    * Memory is O(file) here, not O(record) — the file stream source
    * materializes each file's bytes before the parser sees them. Crawl
    * shards are sized ~1 GiB precisely so whole-shard units stay
    * executor-friendly; `maxArchiveBytes` (default 1 GiB) GATES that
    * assumption: an oversize archive yields one quarantine row
    * directing to the batch path — its bytes are never read (length
    * pushdown), the stream never OOMs or fails (spec-armed).
    * `maxFilesPerTrigger` (default 16) bounds a trigger's work so a
    * backlog drains in bounded batches instead of one giant one.
    *
    * Source-count note (ADVICE r16): the oversize gate makes this a
    * UNION OF TWO binaryFile sources (under/over budget) — a checkpoint
    * written by the pre-gate single-source shape (r15 and earlier)
    * fails on restart with a source-count mismatch; start a fresh
    * checkpoint when upgrading. Both sources list `dir` and track seen
    * files independently, so the per-trigger FILE-TRACKING bound is up
    * to 2×`maxFilesPerTrigger`; the bound on PARSED BYTES is unchanged
    * (the over branch touches only (path, length) — its content column
    * is pruned at the scan), which is why the rate is deliberately NOT
    * halved per source. */
  /** Stream-ingest byte budget per archive (default 1 GiB): the file
    * stream source materializes whole files, so an oversize archive is
    * an executor-memory event, not a data event. */
  val DefaultMaxArchiveBytes: Long = 1L << 30

  def streamRecords(spark: SparkSession, dir: String,
      strict: Boolean = false,
      maxFilesPerTrigger: Int = 16,
      maxArchiveBytes: Long = DefaultMaxArchiveBytes): DataFrame = {
    // the streaming reader demands an explicit schema even for a
    // fixed-schema format; this is binaryFile's, verbatim
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    def load() = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
    // Oversize gate (VERDICT r15 #3): an archive above the budget must
    // never OOM an executor or fail the stream — it surfaces as ONE
    // quarantine row and the stream continues. Two branches of the
    // same source: the under-budget branch parses; the over-budget
    // branch touches ONLY (path, length) — binaryFile pushes length
    // predicates down to the file listing and prunes the content
    // column, so the oversize bytes are never read into memory (this
    // also keeps files past binaryFile's own 2 GiB hard cap from
    // killing the task: the length filter gates before the read).
    val under = load().filter(col("length") <= maxArchiveBytes)
      .select(col("path"), col("content"))
      .mapPartitions { (it: Iterator[Row]) =>
        it.flatMap { r =>
          streamRows(r.getString(0),
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)),
            strict)
        }
      }(org.apache.spark.sql.Encoders.row(recordSchema))
    val over = load().filter(col("length") > maxArchiveBytes)
      .select(
        col("path").as("file"),
        lit(0L).as("record_index"),
        lit(null).cast(StringType).as("warc_type"),
        lit(null).cast(StringType).as("target_uri"),
        lit(null).cast(StringType).as("warc_date"),
        lit(null).cast(StringType).as("record_id"),
        lit(null).cast(StringType).as("content_type"),
        lit(null).cast(LongType).as("content_length"),
        lit(null).cast(BinaryType).as("payload"),
        concat(lit("archive exceeds the stream ingest budget ("),
          col("length"), lit(s" bytes > $maxArchiveBytes); " +
            "ingest it through the batch path (Warc.readRecords " +
            "streams O(one record), no whole-file materialization)"))
          .as("error"))
    under.unionByName(over)
  }

  /** Streaming WET document view over [[streamRecords]] (same trigger
    * and archive-budget knobs; oversize-archive quarantine rows drop
    * here — this is the clean-documents projection, tap
    * [[streamRecords]] for accounting). */
  def streamWet(spark: SparkSession, dir: String,
      strict: Boolean = false,
      maxFilesPerTrigger: Int = 16,
      maxArchiveBytes: Long = DefaultMaxArchiveBytes): DataFrame =
    wetView(streamRecords(spark, dir, strict, maxFilesPerTrigger,
      maxArchiveBytes))

  /** Decompress `.gz` archives into plain staging copies, distributed
    * (one file per task, streamed — O(buffer) memory): the bridge from
    * the crawl's compressed wire format to [[readWetSplittable]]'s
    * splittable layout, for when a corpus arrives as a FEW fat archives
    * instead of many shards and per-file parallelism can't feed the
    * cluster (the measured 33 vs 344 MB/s gap, SURVEY §17.10).
    * Names drop the `.gz` suffix; gzip members concatenate to one
    * plain stream (identical bytes to the pre-compression original). */
  def decompressToStaging(spark: SparkSession, pattern: String,
      outDir: String): Seq[String] = {
    val files = listFiles(spark, pattern).filter(_.endsWith(".gz"))
    require(files.nonEmpty, s"no .gz archives match $pattern")
    val out = outDir
    val hconf = sessionConf(spark)
    spark.sparkContext
      .parallelize(files, math.min(files.size,
        spark.sparkContext.defaultParallelism))
      .map { f =>
        val conf = hconf.value.value
        val src = new Path(f)
        val dst = new Path(out,
          src.getName.stripSuffix(".gz"))
        val fs = dst.getFileSystem(conf)
        val in = src.getFileSystem(conf).open(src)
        val os = fs.create(dst, true)
        val buf = new Array[Byte](128 << 10)
        try {
          val members = new GzipMembers(in)
          var state = members.boundaryState
          while (state == 1) {
            val m = members.nextMember()
            var n = m.read(buf)
            while (n >= 0) { os.write(buf, 0, n); n = m.read(buf) }
            state = members.boundaryState
          }
          // bytes that are not a member header: the staging copy would
          // silently end early — fail the task (fail-closed bridge; a
          // damaged archive must not masquerade as a short clean one)
          if (state == 2) throw new java.io.IOException(
            s"$f: bytes between gzip members are not a member header; " +
              "refusing to write a truncated staging copy")
        } finally { os.close(); in.close() }
        dst.toString
      }.collect().toSeq.sorted
  }

  // -------------------------------------------------------------------
  // HTTP response payloads (WARC-Type: response)
  // -------------------------------------------------------------------

  /** Column helpers for `response` records, whose payload is a full
    * HTTP/1.x message (status line + headers + CRLFCRLF + entity body —
    * the raw-crawl layout WET is derived FROM). All three are built-in
    * expression compositions (regexp/locate/substr), so they ride
    * whole-stage codegen inside the scan projection — no UDF. The
    * `cast(payload as string)` is a UTF-8 decode: right for text
    * entities (HTML); binary entities (images) should slice payload
    * bytes by Content-Length instead — [[graft.ext.Multimodal]] owns
    * that tier. */
  object Http {
    import org.apache.spark.sql.Column

    /** Status code off the HTTP/1.x status line; null if absent. */
    def status(payload: Column): Column = {
      val s = regexp_extract(payload.cast("string"),
        "^HTTP/1\\.[01] (\\d{3})", 1)
      when(s === "", null).otherwise(s.cast("int"))
    }

    /** A response header's value (case-insensitive name), searched only
      * inside the header block (before the first CRLFCRLF). */
    def header(payload: Column, name: String): Column = {
      val block = substring_index(payload.cast("string"), "\r\n\r\n", 1)
      val v = regexp_extract(block,
        "(?im)^" + java.util.regex.Pattern.quote(name) +
          ":[ \\t]*([^\\r\\n]*)", 1)
      when(v === "", null).otherwise(v)
    }

    /** The entity body (bytes after the first CRLFCRLF, decoded UTF-8);
      * null when the payload has no header/body separator. TEXT entities
      * only — the UTF-8 decode corrupts binary bodies; images and other
      * binary entities must use [[bodyBytes]]. */
    def body(payload: Column): Column = {
      val s = payload.cast("string")
      val cut = locate("\r\n\r\n", s)
      when(cut === 0, null).otherwise(substr(s, cut + lit(4)))
    }

    /** Byte-exact entity body — the binary twin of [[body]]: entity
      * bytes after the first CRLFCRLF with NO decode anywhere, so a
      * JPEG/PNG entity arrives bit-identical to what the server sent
      * (the UTF-8 cast in [[body]] would U+FFFD-substitute it into
      * garbage). Codegen'd kernel
      * ([[graft.functions.HttpBodyBytesExpr]]); feeds
      * [[graft.ext.Multimodal]] straight from crawl `response`
      * records. */
    def bodyBytes(payload: Column): Column = {
      val shim = org.apache.spark.sql.graftshim.ColumnShim
      shim.column(graft.functions.HttpBodyBytesExpr(
        shim.expression(payload)))
    }
  }

  // -------------------------------------------------------------------
  // Splittable uncompressed-WET path
  // -------------------------------------------------------------------

  private def delimFor(version: String) = s"\r\n\r\nWARC/$version\r\n"

  /** Parse one delimiter-split chunk into (headers, payloadText) or an
    * error. The chunk shapes (see object doc): first-of-file retains a
    * leading version line; last-of-file retains the file-final CRLFCRLF
    * trailer; every record's Content-Length is re-verified against the
    * UTF-8 byte length of what the split handed us, so a delimiter
    * collision inside a payload CANNOT pass silently. */
  private[sources] def parseChunk(
      chunk0: String): Either[String, (Map[String, String], String)] = {
    var chunk = chunk0
    if (chunk.startsWith("WARC/1.0\r\n") || chunk.startsWith("WARC/1.1\r\n"))
      chunk = chunk.substring(chunk.indexOf('\n') + 1)
    val cut = chunk.indexOf("\r\n\r\n")
    if (cut < 0) return Left("no header/payload separator in chunk")
    val headerBlock = chunk.substring(0, cut)
    val rawPayload = chunk.substring(cut + 4)
    val headers = mutable.LinkedHashMap[String, String]()
    var last: String = null
    for (h <- headerBlock.split("\r\n", -1)) {
      if (h.nonEmpty && (h.head == ' ' || h.head == '\t') && last != null)
        headers(last) = headers(last) + " " + h.trim
      else {
        val i = h.indexOf(':')
        if (i <= 0) return Left(s"malformed header line '${h.take(40)}'")
        last = h.substring(0, i).trim.toLowerCase
        headers(last) = h.substring(i + 1).trim
      }
    }
    headers.get("content-length") match {
      case None => Left("missing Content-Length")
      case Some(l) =>
        val want = try l.toLong catch {
          case _: NumberFormatException =>
            return Left(s"non-numeric Content-Length '${l.take(20)}'")
        }
        val gotRaw = rawPayload.getBytes(UTF_8).length
        // Only the FILE-FINAL record keeps the file's closing CRLFCRLF
        // (every other record's trailer was consumed by the delimiter
        // match). Strip it ONLY when the byte count says those 4 bytes
        // are a trailer and not content — a mid-file payload that
        // legitimately ends with CRLFCRLF is exactly Content-Length
        // bytes and must keep them (ADVICE r15: unconditional stripping
        // falsely quarantined such records).
        val (payload, got) =
          if (gotRaw.toLong == want + 4 && rawPayload.endsWith("\r\n\r\n"))
            (rawPayload.substring(0, rawPayload.length - 4), want)
          else (rawPayload, gotRaw.toLong)
        if (got != want)
          Left(s"Content-Length $want != split payload bytes $got " +
            "(delimiter collision or truncated split)")
        else Right((headers.toMap, payload))
    }
  }

  /** Splittable read of UNCOMPRESSED `.wet` files: Hadoop TextInputFormat
    * with the inter-record framing as the record delimiter, so ONE fat
    * file splits across many tasks (`maxPartitionBytes`-sized) — the
    * path for re-reading a decompressed staging copy at full cluster
    * width. Emits the same columns as [[readWet]] plus `error` for
    * quarantined chunks. Compressed inputs must use [[readWet]] (gzip is
    * not splittable; TextInputFormat would stream it whole-file anyway
    * and the delimiter trick gains nothing). `version` picks the
    * delimiter's version-line spelling — a WARC/1.1 file read with the
    * 1.0 delimiter never splits, so every record lands in quarantine
    * (fail-closed, but a total loss the right knob avoids). */
  def readWetSplittable(spark: SparkSession, path: String,
      version: String = "1.0"): DataFrame = {
    require(!path.endsWith(".gz"),
      "splittable path is for uncompressed .wet; use readWet for .gz")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", delimFor(version))
    val chunks = spark.sparkContext.newAPIHadoopFile(
      path, classOf[TextInputFormat],
      classOf[LongWritable], classOf[Text], conf)
      .map(_._2.toString) // Text is a reused buffer: copy out immediately
      .filter(_.nonEmpty)
    val rows = chunks.map { c =>
      parseChunk(c) match {
        case Left(err) => Row(null, null, null, null, err)
        case Right((h, payload)) =>
          if (h.get("warc-type").contains("conversion"))
            Row(h.get("warc-target-uri").orNull,
              h.get("warc-date").orNull,
              h("content-length").toLong, payload, null)
          else Row(null, null, null, null, "skip") // non-document record
      }
    }
    val schema = StructType(Seq(
      StructField("url", StringType, nullable = true),
      StructField("wet_date", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("error", StringType, nullable = true)))
    spark.createDataFrame(rows, schema)
      .filter(col("error").isNull || col("error") =!= "skip")
  }
}
