package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Archive-shard ingestion for training-data pipelines — the container
  * tier ABOVE [[Multimodal]]/[[Audio]]: large multimodal corpora ship
  * as tar shards (the WebDataset layout: `000123.jpg` + `000123.txt` +
  * `000123.json` members grouped by stem) or zip archives, and the
  * engine must explode `(archive_id, archive_bytes)` rows into
  * `(archive_id, member_name, member_bytes)` rows WITHOUT touching a
  * filesystem — per-partition CPU kernels over binary columns, no
  * shuffle, no driver involvement, same plan shape as the codec tier.
  *
  * Pure JVM: POSIX ustar is a fixed 512-byte-block layout (names,
  * octal sizes, a spaces-normalized header checksum this walker
  * VALIDATES, so junk gates out instead of mis-parsing), and zip needs
  * only the end-of-central-directory walk plus `java.util.zip.Inflater`
  * for DEFLATE members. ArchivesSpec pins zip against the JDK's
  * independent `ZipOutputStream`/`ZipInputStream` in both directions;
  * tar has no JDK implementation, so fixtures are hand-built ustar
  * bytes with hand-walked oracle rows (and the GNU `tar` layout rules
  * they follow are asserted structurally: block rounding, the two
  * zero-block trailer).
  *
  * Never-throw discipline as everywhere in the media tier: malformed
  * archives yield zero rows, truncated members gate out, and a lying
  * size field cannot read past the blob.
  */
object Archives {

  /** One extracted archive member. */
  final case class Member(name: String, bytes: Array[Byte])

  /** Walk a POSIX ustar/v7 tar blob into its regular-file members.
    * Header blocks are validated by the spaces-normalized checksum
    * (offset 148, octal) — the property that makes tar detection
    * reliable without magic bytes at offset 0 (the `ustar` magic at
    * 257 is also accepted as v7 files omit it). Regular files only
    * (typeflag '0' or NUL); directories/links/pax headers are skipped
    * by their rounded size. Stops at the zero-block trailer or blob
    * end; a member whose declared size overruns the blob is dropped
    * along with everything after it. */
  def tarMembers(bytes: Array[Byte]): Seq[Member] = {
    val out = Seq.newBuilder[Member]
    try {
      var off = 0
      var done = false
      while (!done && off + 512 <= bytes.length) {
        if ((off until off + 512).forall(bytes(_) == 0)) done = true
        else {
          // spaces-normalized header checksum over the 512-byte block
          var sum = 0L
          var i = 0
          while (i < 512) {
            sum += (if (i >= 148 && i < 156) 32 else bytes(off + i) & 0xFF)
            i += 1
          }
          val declared = octal(bytes, off + 148, 8)
          val size = octal(bytes, off + 124, 12)
          if (declared < 0 || declared != sum || size < 0) done = true
          else {
            val name = cstr(bytes, off, 100)
            val typeflag = bytes(off + 156)
            val dataStart = off + 512
            val rounded = ((size + 511) / 512 * 512).toInt
            if (dataStart + size > bytes.length) done = true
            else {
              if ((typeflag == '0'.toByte || typeflag == 0) && name.nonEmpty)
                out += Member(name, java.util.Arrays.copyOfRange(
                  bytes, dataStart, dataStart + size.toInt))
              off = dataStart + rounded
            }
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    out.result()
  }

  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L; var seen = false
    var i = off
    while (i < off + len) {
      val c = b(i) & 0xFF
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (c != ' ' && c != 0) return -1
      else if (seen) return v // digits end at the first space/NUL
      i += 1
    }
    if (seen) v else -1
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    while (end < off + len && b(end) != 0) end += 1
    new String(b, off, end - off, "UTF-8")
  }

  /** Walk a zip blob via its end-of-central-directory record (scanned
    * backwards for the PK\0x05\0x06 signature, comment-tolerant) and
    * central-directory entries — the robust path that also works for
    * streamed zips whose LOCAL headers carry zero sizes + data
    * descriptors (the central directory always has real sizes).
    * Members stored (method 0) copy out; DEFLATE (method 8) inflates
    * with `Inflater(nowrap)`; other methods and encrypted entries are
    * skipped. Directories (trailing '/') are skipped. Malformed
    * records end the walk with what was extracted so far.
    *
    * Expansion budgets (the zip-bomb guard, mirroring [[MaxGunzip]] —
    * the central-directory `usize` is UNTRUSTED and a DEFLATE stream
    * can expand ~1000×, so allocation is gated BEFORE it happens,
    * keeping OutOfMemoryError — an Error the NonFatal gate cannot
    * catch — out of reach): a member whose declared size exceeds
    * `maxMemberBytes` is skipped (the walk continues — one bomb member
    * must not hide its honest neighbors); once CUMULATIVE extracted
    * bytes would exceed `maxArchiveBytes` the walk stops with what fit
    * (a many-small-bombs archive is a bomb too). Defaults: 256 MiB per
    * member, 1 GiB per archive — far above any sane shard, far below
    * executor memory. A DEFLATE member is also skipped when its `usize`
    * is more than deflate can expand `csize` bytes to
    * ([[MaxDeflateRatio]]), so the output buffer is bounded by the
    * input's length, not only by the caps. */
  def zipMembers(bytes: Array[Byte],
      maxMemberBytes: Int = MaxGunzip,
      maxArchiveBytes: Long = MaxArchiveInflate): Seq[Member] = {
    val out = Seq.newBuilder[Member]
    var extracted = 0L
    try {
      def u16(i: Int): Int = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
      def u32(i: Int): Long = u16(i).toLong | (u16(i + 2).toLong << 16)
      // EOCD: min 22 bytes, up to 65535 comment bytes after it
      var eocd = -1
      var i = bytes.length - 22
      val lo = math.max(0, bytes.length - 22 - 65535)
      while (eocd < 0 && i >= lo) {
        if (bytes(i) == 'P' && bytes(i + 1) == 'K' && bytes(i + 2) == 5 &&
          bytes(i + 3) == 6) eocd = i
        i -= 1
      }
      if (eocd < 0) return Seq.empty
      val nEntries = u16(eocd + 10)
      var cd = u32(eocd + 16).toInt
      var e = 0
      while (e < nEntries && cd + 46 <= bytes.length) {
        if (!(bytes(cd) == 'P' && bytes(cd + 1) == 'K' &&
          bytes(cd + 2) == 1 && bytes(cd + 3) == 2)) return out.result()
        val flags = u16(cd + 8)
        val method = u16(cd + 10)
        val csize = u32(cd + 20).toInt
        val usize = u32(cd + 24).toInt
        val nameLen = u16(cd + 28)
        val extraLen = u16(cd + 30)
        val commentLen = u16(cd + 32)
        val lho = u32(cd + 42).toInt
        val name = new String(bytes, cd + 46, nameLen, "UTF-8")
        val encrypted = (flags & 1) != 0
        if (!encrypted && !name.endsWith("/") && lho + 30 <= bytes.length &&
          csize >= 0 && usize >= 0 &&
          csize <= maxMemberBytes && usize <= maxMemberBytes &&
          (method != 8 || usize <= MaxDeflateRatio * csize + 64)) {
          if (extracted + usize > maxArchiveBytes) return out.result()
          // local header: sizes there may be zero (bit-3 streaming);
          // trust the central directory, skip local name+extra
          val dataOff = lho + 30 + u16(lho + 26) + u16(lho + 28)
          if (dataOff + csize <= bytes.length) method match {
            case 0 if csize == usize =>
              out += Member(name, java.util.Arrays.copyOfRange(
                bytes, dataOff, dataOff + csize))
              extracted += usize
            case 8 =>
              val inf = new java.util.zip.Inflater(true)
              inf.setInput(bytes, dataOff, csize)
              val buf = new Array[Byte](usize)
              try {
                var o = 0
                var stuck = false
                while (o < usize && !inf.finished() && !stuck) {
                  val n = inf.inflate(buf, o, usize - o)
                  if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
                    stuck = true
                  o += n
                }
                if (o == usize) { out += Member(name, buf); extracted += usize }
              } finally inf.end()
            case _ => ()
          }
        }
        cd += 46 + nameLen + extraLen + commentLen
        e += 1
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    out.result()
  }

  /** One member row with ingest-grade identity/statistics. */
  final case class MemberStats(archive_id: Long, member_name: String,
      n_bytes: Long, member_md5: String)

  /** Explode `(archive_id, content)` archive blobs into per-member
    * rows (name, size, content md5) — tar and zip through one
    * dispatch (tar validated by header checksum, zip by EOCD
    * signature). The partition-batched kernel shape of
    * [[Multimodal.decodePixelStats]]: flatMap multiplies rows WITHIN
    * a partition, so a 10k-member shard never materializes on the
    * driver and downstream ops see an ordinary distributed table. */
  def memberStats(spark: SparkSession,
      archives: DataFrame): Dataset[MemberStats] = {
    import spark.implicits._
    archives.select(col("archive_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, bytes) =>
          members(bytes).map { m =>
            md.reset()
            val hex = md.digest(m.bytes).map(b => f"${b & 0xFF}%02x").mkString
            MemberStats(id, m.name, m.bytes.length.toLong, hex)
          }
        }
      }
  }

  /** Expansion ceiling for [[gunzip]] — the zip-bomb guard: a member
    * that inflates past this is dropped, matching the lying-IFD OOM
    * guard in [[Multimodal]]. 256 MiB per blob is far above any sane
    * shard and far below executor memory. */
  val MaxGunzip: Int = 1 << 28

  /** The most DEFLATE can expand its input: a 258-byte match costs at
    * least 2 bits, so n compressed bytes inflate to under 1032·n. */
  val MaxDeflateRatio: Long = 1032L

  /** Cumulative extracted-bytes ceiling per zip archive (see
    * [[zipMembers]]) — many small bomb members are a bomb too. */
  val MaxArchiveInflate: Long = 1L << 30

  /** Inflate a gzip blob (1F 8B magic, `GZIPInputStream`) up to
    * [[MaxGunzip]]; None for non-gzip, truncated, or bomb-sized
    * input. */
  def gunzip(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 2 || (bytes(0) & 0xFF) != 0x1F ||
      (bytes(1) & 0xFF) != 0x8B) return None
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0 && out.size <= MaxGunzip) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      if (out.size > MaxGunzip) None else Some(out.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Container dispatch: gzip unwraps first (`.tar.gz` shards walk as
    * their inner tar), then zip if an EOCD record resolves, else tar
    * if the first header block's checksum validates, else no
    * members. */
  def members(bytes: Array[Byte]): Seq[Member] = {
    val b = gunzip(bytes).getOrElse(bytes)
    val z = zipMembers(b)
    if (z.nonEmpty) z else tarMembers(b)
  }

  /** One assembled WebDataset training sample: members grouped by
    * stem, text-bearing extensions surfaced as columns, binary sizes
    * summed. */
  final case class Sample(archive_id: Long, stem: String,
      n_members: Long, txt: String, cls: String, binary_bytes: Long)

  /** Assemble WebDataset SAMPLES: members sharing a stem — the name up
    * to the FIRST '.' after the last '/' (the WebDataset convention:
    * everything past the first period of the basename is the
    * extension, so `000/a.seg.png` and `000/a.txt` are ONE sample with
    * stem `000/a`; directories stay in the stem) — become one row,
    * `.txt`/`.cls` payloads decoded as UTF-8 columns, every other
    * member contributing its byte count to `binary_bytes`. The
    * grouping runs INSIDE the partition (WebDataset's contract is that
    * a sample's members are adjacent in one shard, so no shuffle is
    * needed — at 100 TB this is the whole point of the layout; a
    * cross-shard straggler would need the groupBy variant, which is
    * one `.groupBy("archive_id","stem")` away from the same rows). */
  def samples(spark: SparkSession,
      archives: DataFrame): Dataset[Sample] = {
    import spark.implicits._
    archives.select(col("archive_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          members(bytes)
            .groupBy { m =>
              val base = m.name.lastIndexOf('/') + 1
              val dot = m.name.indexOf('.', base)
              if (dot < 0) m.name else m.name.substring(0, dot)
            }
            .toSeq.sortBy(_._1)
            .map { case (stem, ms) =>
              // full extension = everything past the first basename dot
              // ("seg.png" for a.seg.png) — txt/cls columns bind to the
              // EXACT extensions "txt"/"cls", same convention as stems
              def extOf(n: String): String = {
                val base = n.lastIndexOf('/') + 1
                val dot = n.indexOf('.', base)
                if (dot < 0) "" else n.substring(dot + 1)
              }
              def text(ext: String): String =
                ms.find(m => extOf(m.name) == ext)
                  .map(m => new String(m.bytes, "UTF-8")).getOrElse("")
              val bin = ms.filter { m =>
                val e = extOf(m.name); e != "txt" && e != "cls"
              }.map(_.bytes.length.toLong).sum
              Sample(id, stem, ms.size.toLong, text("txt"), text("cls"),
                bin)
            }
        }
      }
  }

  /** One decoded-media member row: the WebDataset ingest join — every
    * archive member through the image-dimension probe, keeping the
    * decodable ones. */
  final case class MediaMember(archive_id: Long, member_name: String,
      width: Int, height: Int, channels: Int)

  /** Explode archives and decode image members in ONE partition-local
    * pass (member bytes never cross an operator boundary, so nothing
    * is shuffled at blob size): the composed WebDataset read path. */
  def mediaMembers(spark: SparkSession,
      archives: DataFrame): Dataset[MediaMember] = {
    import spark.implicits._
    archives.select(col("archive_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          members(bytes).flatMap { m =>
            Multimodal.imageDims(m.bytes).map { case (w, h, c) =>
              MediaMember(id, m.name, w, h, c)
            }
          }
        }
      }
  }
}
