package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.WarcFixtures
import graft.sources.Warc

/** WARC/WET source: binary framing, per-record gzip member splitting
  * (byte-exact resync), damage quarantine semantics, and the splittable
  * uncompressed path — including its fail-closed delimiter-collision
  * contract. */
class WarcSpec extends AnyFunSuite with SparkTestSupport {

  private def tmpDir(): String =
    Files.createTempDirectory("warcspec_").toString

  private def write(path: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(path), bytes)

  private def rec(id: Long, text: String): Array[Byte] =
    WarcFixtures.record("conversion",
      Some(s"https://t.example.org/docs/$id?utm_source=fixture&v=1"),
      WarcFixtures.dateOf(id), f"00000000-0000-0000-0000-$id%012d",
      "text/plain", text.getBytes(UTF_8))

  // -------------------------------------------------------------- framing

  test("streaming read: exact payload round-trip, binary-safe framing") {
    val dir = tmpDir()
    // payload CONTAINING the framing bytes — Content-Length framing must
    // carry the parser straight through them
    val tricky = "embedded\r\n\r\nWARC/1.0\r\nheader-looking: payload"
    val bytes = WarcFixtures.warcinfo("t.warc") ++
      rec(1, "hello wet") ++ rec(2, tricky)
    write(s"$dir/t.warc", bytes)
    val rows = Warc.readRecords(spark, dir).collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[String]("error") == null))
    val byIdx = rows.map(r => r.getAs[Long]("record_index") -> r).toMap
    assert(byIdx(0L).getAs[String]("warc_type") == "warcinfo")
    assert(byIdx(0L).getAs[String]("target_uri") == null)
    assert(new String(byIdx(2L).getAs[Array[Byte]]("payload"), UTF_8)
      == tricky)
    assert(byIdx(1L).getAs[String]("target_uri")
      == "https://t.example.org/docs/1?utm_source=fixture&v=1")
    assert(byIdx(1L).getAs[Long]("content_length") == 9L)
    // WET view drops the warcinfo record and decodes payloads
    val wet = Warc.readWet(spark, dir).collect()
    assert(wet.length == 2)
    assert(wet.map(_.getAs[String]("text")).toSet
      == Set("hello wet", tricky))
  }

  test("header continuation lines fold; names are case-insensitive") {
    val dir = tmpDir()
    val payload = "x".getBytes(UTF_8)
    val manual = ("WARC/1.0\r\n" +
      "warc-type: conversion\r\n" +
      "WARC-TARGET-URI: https://a.example.org/long\r\n" +
      "\t?and=folded\r\n" + // RFC LWS continuation
      "Content-Length: 1\r\n\r\n").getBytes(UTF_8) ++
      payload ++ "\r\n\r\n".getBytes(UTF_8)
    write(s"$dir/fold.warc", manual)
    val r = Warc.readRecords(spark, dir).collect().head
    assert(r.getAs[String]("error") == null)
    assert(r.getAs[String]("warc_type") == "conversion")
    assert(r.getAs[String]("target_uri")
      == "https://a.example.org/long ?and=folded")
  }

  // ------------------------------------------------------- gzip members

  test("per-record gzip members: byte-exact resync across many members") {
    val dir = tmpDir()
    // 50 members back-to-back: any over-read by the splitter would
    // desync the 2nd member already
    val texts = (1 to 50).map(i => s"doc $i " + ("pad" * (i % 7)))
    val bytes = texts.zipWithIndex.map { case (t, i) =>
      WarcFixtures.gzMember(rec(i.toLong, t))
    }.reduce(_ ++ _)
    write(s"$dir/m.warc.gz", bytes)
    val wet = Warc.readWet(spark, dir).collect()
    assert(wet.map(_.getAs[String]("text")).toSeq.sorted
      == texts.sorted)
  }

  test("framing damage inside one member quarantines THAT member only") {
    val dir = tmpDir()
    val bad = WarcFixtures.gzMember(
      "this is not a warc record at all\r\n".getBytes(UTF_8))
    val bytes = WarcFixtures.gzMember(rec(1, "before")) ++ bad ++
      WarcFixtures.gzMember(rec(3, "after"))
    write(s"$dir/d.warc.gz", bytes)
    val rows = Warc.readRecords(spark, dir).collect()
    val errs = rows.filter(_.getAs[String]("error") != null)
    assert(errs.length == 1 &&
      errs.head.getAs[String]("error").contains("version line"))
    val ok = rows.filter(_.getAs[String]("error") == null)
    assert(ok.map(r =>
      new String(r.getAs[Array[Byte]]("payload"), UTF_8)).toSet
      == Set("before", "after"))
  }

  test("deflate corruption fails closed: quarantine, never wrong bytes") {
    val dir = tmpDir()
    val good = WarcFixtures.gzMember(rec(1, "intact"))
    val corrupt = WarcFixtures.gzMember(rec(2, "to be damaged")).clone()
    corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 0x55).toByte
    write(s"$dir/c.warc.gz", good ++ corrupt ++
      WarcFixtures.gzMember(rec(3, "unreachable")))
    val rows = Warc.readRecords(spark, dir).collect()
    val ok = rows.filter(_.getAs[String]("error") == null)
      .map(r => new String(r.getAs[Array[Byte]]("payload"), UTF_8))
    // the record before the damage survives; nothing after the damage is
    // emitted as data (deflate position is unknowable — file remainder
    // quarantines rather than risking desynced garbage)
    assert(ok.toSeq == Seq("intact"))
    assert(rows.exists(_.getAs[String]("error") != null))
    // strict mode refuses the file instead
    val ex = intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir, strict = true).collect()
    }
    assert(ex.getMessage != null)
  }

  test("corrupt member magic / inter-member junk quarantines, never clean-EOF") {
    // ADVICE r15: bytes that are present but not `1f 8b` must NOT read
    // as end-of-archive — that would silently drop the file remainder
    // with no error row anywhere. One error row, remainder quarantined.
    val junks = Seq(
      "JUNKJUNKJUNK".getBytes(UTF_8), // garbage between members
      { val m = WarcFixtures.gzMember(rec(2, "flipped")).clone()
        m(0) = 0x2f.toByte; m }, // flipped magic byte on a real member
      Array[Byte](0x1f.toByte)) // lone trailing byte: not a member
    for ((junk, i) <- junks.zipWithIndex) {
      val dir = tmpDir()
      val bytes = WarcFixtures.gzMember(rec(1, "before")) ++ junk ++
        WarcFixtures.gzMember(rec(3, "unreachable"))
      write(s"$dir/j$i.warc.gz", bytes)
      val rows = Warc.readRecords(spark, dir).collect()
      val ok = rows.filter(_.getAs[String]("error") == null)
        .map(r => new String(r.getAs[Array[Byte]]("payload"), UTF_8))
      assert(ok.toSeq == Seq("before"), s"junk case $i")
      val errs = rows.filter(_.getAs[String]("error") != null)
      assert(errs.length == 1 && errs.head.getAs[String]("error")
        .contains("not a gzip member header"), s"junk case $i")
      intercept[org.apache.spark.SparkException] {
        Warc.readRecords(spark, dir, strict = true).collect()
      }
    }
  }

  test("truncated payload quarantines (lenient) / throws (strict)") {
    val dir = tmpDir()
    val full = rec(1, "whole") ++ rec(2, "cut short")
    write(s"$dir/t.warc", full.dropRight(12)) // cut inside record 2
    val rows = Warc.readRecords(spark, dir).collect()
    assert(rows.count(_.getAs[String]("error") == null) == 1)
    val err = rows.filter(_.getAs[String]("error") != null)
    assert(err.length == 1 &&
      err.head.getAs[String]("error").contains("EOF"))
    intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir, strict = true).collect()
    }
    // a ~100-byte record whose header claims MaxPayloadBytes − 1: it
    // quarantines like any short payload, and the decode allocates with
    // the bytes present, not with the claim
    val liar = new String(rec(3, "liar"), UTF_8).replace(
      "Content-Length: 4\r\n",
      s"Content-Length: ${Warc.MaxPayloadBytes - 1}\r\n").getBytes(UTF_8)
    val dir2 = tmpDir()
    write(s"$dir2/l.warc", liar)
    val lied = Warc.readRecords(spark, dir2).collect()
    assert(lied.length == 1 &&
      lied.head.getAs[String]("error").contains("EOF"))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val thrown = intercept[Warc.WarcFormatException] {
      Warc.readRecord(new java.io.ByteArrayInputStream(liar))
    }
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(thrown.getMessage.contains("EOF"))
    assert(allocated < (16L << 20), s"decode allocated $allocated bytes")
  }

  // ---------------------------------------------------- splittable path

  test("splittable read: many forced splits, same answer as streaming") {
    val dir = tmpDir()
    val texts = (1 to 120).map(i => s"payload $i " + ("y" * (i % 23)))
    val bytes = WarcFixtures.warcinfo("s.warc.wet") ++
      texts.zipWithIndex.map { case (t, i) => rec(i.toLong, t) }
        .reduce(_ ++ _)
    write(s"$dir/s.warc.wet", bytes)
    val hconf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val old = Option(hconf.get(key))
    try {
      hconf.set(key, "2048") // force multi-split on a ~10 KB file
      val split = Warc.readWetSplittable(spark, s"$dir/s.warc.wet")
      assert(split.rdd.getNumPartitions > 1, "expected multiple splits")
      val got = split.filter("error is null")
        .select("text").collect().map(_.getString(0)).sorted.toSeq
      assert(got == texts.sorted)
      val streamed = Warc.readWet(spark, s"$dir/*.warc.wet")
        .select("text").collect().map(_.getString(0)).sorted.toSeq
      assert(got == streamed)
    } finally {
      old.fold(hconf.unset(key))(v => hconf.set(key, v))
    }
  }

  test("splittable read: payload legitimately ending in CRLFCRLF survives") {
    // ADVICE r15: the trailer strip must be conditional on the byte
    // count — a MID-FILE record whose text ends with \r\n\r\n is exactly
    // Content-Length bytes (its real trailer was consumed by the
    // delimiter) and must keep them; only the FILE-FINAL record carries
    // 4 extra trailer bytes to strip. Both shapes in one file.
    val dir = tmpDir()
    val midCrlf = "mid text ends with blank lines\r\n\r\n"
    val lastCrlf = "last text also ends with blank lines\r\n\r\n"
    val bytes = rec(1, "plain-one") ++ rec(2, midCrlf) ++
      rec(3, "plain-two") ++ rec(4, lastCrlf)
    write(s"$dir/crlf.warc.wet", bytes)
    val out = Warc.readWetSplittable(spark, s"$dir/crlf.warc.wet").collect()
    assert(out.forall(_.getAs[String]("error") == null),
      out.map(_.getAs[String]("error")).mkString("; "))
    val texts = out.map(_.getAs[String]("text")).toSet
    assert(texts == Set("plain-one", midCrlf, "plain-two", lastCrlf))
    // streaming path agrees byte-for-byte
    val streamed = Warc.readWet(spark, s"$dir/crlf.warc.wet")
      .select("text").collect().map(_.getString(0)).toSet
    assert(streamed == texts)
  }

  test("splittable read: delimiter collision quarantines, never silent") {
    val dir = tmpDir()
    // a TEXT payload containing the record delimiter — the split point
    // the delimiter trick cannot see past; both halves must land in
    // quarantine via the Content-Length re-verification
    val collision = "first half\r\n\r\nWARC/1.0\r\nsecond half"
    val bytes = rec(1, "clean-one") ++ rec(2, collision) ++
      rec(3, "clean-two")
    write(s"$dir/x.warc.wet", bytes)
    val out = Warc.readWetSplittable(spark, s"$dir/x.warc.wet").collect()
    val good = out.filter(_.getAs[String]("error") == null)
      .map(_.getAs[String]("text"))
    assert(good.toSet == Set("clean-one", "clean-two"))
    val errs = out.filter(_.getAs[String]("error") != null)
    assert(errs.nonEmpty &&
      errs.exists(_.getAs[String]("error").contains("Content-Length")))
    // the streaming path reads the same file EXACTLY (binary framing)
    val streamed = Warc.readWet(spark, s"$dir/x.warc.wet")
      .select("text").collect().map(_.getString(0)).toSet
    assert(streamed == Set("clean-one", collision, "clean-two"))
  }

  // -------------------------------------------------- http response path

  test("Http helpers split status / header / body; fail null on damage") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val payloads = Seq(
      (1L, WarcFixtures.httpHtmlPayload(7L, "seven")),
      (2L, ("HTTP/1.0 404 Not Found\r\ncontent-type: text/plain\r\n" +
        "\r\nmissing").getBytes(UTF_8)),
      (3L, "no http message here".getBytes(UTF_8)))
      .toDF("id", "payload")
    val got = payloads.select(col("id"),
      graft.sources.Warc.Http.status(col("payload")).as("status"),
      graft.sources.Warc.Http.header(col("payload"), "Content-Type")
        .as("mime"),
      graft.sources.Warc.Http.body(col("payload")).as("body"))
      .collect().map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[Any]("status")), r.getAs[String]("mime"),
          r.getAs[String]("body")))).toMap
    assert(got(1L)._1.contains(200))
    assert(got(1L)._2 == "text/html; charset=UTF-8")
    assert(got(1L)._3.startsWith("<html>"))
    assert(got(2L)._1.contains(404)) // header name case-insensitive
    assert(got(2L)._2 == "text/plain" && got(2L)._3 == "missing")
    assert(got(3L)._1.isEmpty && got(3L)._2 == null && got(3L)._3 == null)
    // extraction contract the q_warc_html oracle relies on
    assert(graft.ext.Html.extractText(
      new String(WarcFixtures.httpHtmlPayload(7L, "seven"), UTF_8)
        .split("\r\n\r\n", 2)(1))
      == WarcFixtures.htmlExtractedText(7L, "seven"))
  }

  test("bodyBytes slices a binary JPEG entity byte-exactly; string twin corrupts") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val jpeg = graft.ext.MediaFixtures.jpeg4x2
    val msg = ("HTTP/1.1 200 OK\r\nContent-Type: image/jpeg\r\n" +
      s"Content-Length: ${jpeg.length}\r\n\r\n").getBytes(UTF_8) ++ jpeg
    val df = Seq((1L, msg),
        (2L, "no separator at all".getBytes(UTF_8)))
      .toDF("id", "payload")
      .select(col("id"),
        graft.sources.Warc.Http.bodyBytes(col("payload")).as("bytes"),
        graft.sources.Warc.Http.body(col("payload")).as("text"))
    val rows = df.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[Array[Byte]]("bytes"), r.getAs[String]("text")))).toMap
    // byte-domain slice is IDENTICAL to the fixture entity
    assert(java.util.Arrays.equals(rows(1L)._1, jpeg))
    // ...and the sliced bytes parse as a real image container
    val dims = graft.ext.Multimodal.imageDims(rows(1L)._1)
    assert(dims.exists { case (w, h, _) => w == 4 && h == 2 })
    // the string twin (UTF-8 decode) does NOT round-trip a JPEG —
    // exactly why the byte twin exists
    assert(!java.util.Arrays.equals(
      rows(1L)._2.getBytes(UTF_8), jpeg))
    // no separator → null in both domains
    assert(rows(2L)._1 == null && rows(2L)._2 == null)
    // interpreted eval agrees with the codegen'd path
    assert(java.util.Arrays.equals(
      graft.functions.HttpBodyBytesExpr.slice(msg), jpeg))
  }

  test("WebP entity round-trips byte-exact through bodyBytes and decodes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val v = (3 * 37 + 11) % 256 // group-3 fixture value
    val webp = graft.ext.WarcFixtures.mediaWebp(3)
    val msg = ("HTTP/1.1 200 OK\r\nContent-Type: image/webp\r\n" +
      s"Content-Length: ${webp.length}\r\n\r\n").getBytes(UTF_8) ++ webp
    val df = Seq((1L, msg)).toDF("id", "payload")
      .select(graft.sources.Warc.Http.bodyBytes(col("payload")).as("bytes"))
    val got = df.collect().head.getAs[Array[Byte]]("bytes")
    assert(java.util.Arrays.equals(got, webp))
    // the sliced bytes decode through the REAL VP8L pipeline to the
    // fixture's closed-form stats (w=5, h=2, RGB solid value v)
    val img = graft.ext.Multimodal.imagePixels(got)
      .getOrElse(fail("webp entity did not decode"))
    assert(img.width == 5 && img.height == 2 && img.channels == 3)
    assert(img.pixels.forall(b => (b & 0xff) == v))
    // and the status census classes it ok
    assert(graft.ext.Multimodal.decodeStatus(got)._1 == "ok")
  }

  // ------------------------------------------------------ arrival stream

  test("streamWet ingests arriving archives exactly once per file") {
    val watch = tmpDir()
    val ckpt = tmpDir()
    write(s"$watch/a.warc.wet.gz",
      WarcFixtures.gzMember(WarcFixtures.warcinfo("a")) ++
        WarcFixtures.gzMember(rec(1, "first wave one")) ++
        WarcFixtures.gzMember(rec(2, "first wave two")))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val q = graft.sources.Warc.streamWet(spark, watch)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val texts = df.select("text").collect().map(_.getString(0)).toSeq
        if (texts.nonEmpty) seen.add(texts.sorted)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // second wave LANDS while the query runs; must be picked up
      // incrementally, and the first file must not re-process
      write(s"$watch/b.warc.wet.gz",
        WarcFixtures.gzMember(rec(3, "second wave")))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.size == 2, seen)
    assert(seen.poll() == Seq("first wave one", "first wave two"))
    assert(seen.poll() == Seq("second wave"))
  }

  test("oversize archive quarantines with a batch-path pointer; stream survives") {
    // VERDICT r15 #3: the file stream source materializes whole
    // archives, so an archive past the budget must become ONE error row
    // (its bytes never read — length pushdown), not an executor
    // OOM/task failure; arrivals after it keep flowing.
    import org.apache.spark.sql.Row
    val watch = tmpDir()
    val ckpt = tmpDir()
    write(s"$watch/small.warc.wet.gz",
      WarcFixtures.gzMember(rec(1, "fits the budget")))
    // high-entropy payload so the .gz FILE (what `length` gates on)
    // actually exceeds the budget — "x"*8192 would gzip to ~50 bytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val fatText = (0 until 512).map(k =>
      md.digest(s"fat:$k".getBytes(UTF_8))
        .map("%02x".format(_)).mkString).mkString
    write(s"$watch/fat.warc.wet.gz",
      WarcFixtures.gzMember(rec(2, fatText))) // ~8 KB gz > 2048 budget
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = graft.sources.Warc
      .streamRecords(spark, watch, maxArchiveBytes = 2048)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(seen.add); ()
      }
      .start()
    try {
      q.processAllAvailable()
      write(s"$watch/later.warc.wet.gz",
        WarcFixtures.gzMember(rec(3, "lands after the oversize one")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = seen.toArray(Array.empty[Row])
    val ok = rows.filter(_.getAs[String]("error") == null)
      .map(r => new String(r.getAs[Array[Byte]]("payload"), UTF_8))
    assert(ok.toSet == Set("fits the budget",
      "lands after the oversize one"))
    val errs = rows.filter(_.getAs[String]("error") != null)
    assert(errs.length == 1)
    assert(errs.head.getAs[String]("file").endsWith("fat.warc.wet.gz"))
    val msg = errs.head.getAs[String]("error")
    assert(msg.contains("exceeds the stream ingest budget") &&
      msg.contains("batch path"), msg)
  }

  test("crawl arrival feeds the near-dup admission tier end-to-end") {
    // the integration the two tiers exist for: WET shards LAND in a
    // watched dir → streamWet parses them exactly once per file → the
    // MinHash admission registry rejects near-dups across shards →
    // admitted docs land in the serving parquet
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val watch = tmpDir()
    val state = tmpDir() + "/state"
    val outDir = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ck"
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    write(s"$watch/a.warc.wet.gz",
      WarcFixtures.gzMember(rec(1, base)) ++
        WarcFixtures.gzMember(rec(2, base + " tokExtra")) ++ // near-dup of 1
        WarcFixtures.gzMember(rec(3,
          (1 to 30).map(i => s"other$i").mkString(" "))))
    val adm = new graft.streaming.NearDupAdmission(state, "text", "doc_id")
    val q = graft.sources.Warc.streamWet(spark, watch)
      .select(regexp_extract(col("url"), "/docs/(\\d+)\\?", 1)
        .cast("long").as("doc_id"), col("text"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(adm.step((df, _) =>
        df.write.mode("append").parquet(outDir)) _)
      .start()
    try {
      q.processAllAvailable()
      // a later shard carries another near-dup of doc 1 (cross-shard
      // rejection via the persistent registry) and a fresh doc
      write(s"$watch/b.warc.wet.gz",
        WarcFixtures.gzMember(rec(4, base + " tokLate")) ++
          WarcFixtures.gzMember(rec(5,
            (1 to 30).map(i => s"fresh$i").mkString(" "))))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted == Seq(1L, 3L, 5L))
  }

  test("decompressToStaging bridges gz archives to the splittable path") {
    val dir = tmpDir()
    val out = tmpDir()
    val texts = (1 to 40).map(i => s"stage doc $i")
    val bytes = texts.zipWithIndex.map { case (t, i) =>
      WarcFixtures.gzMember(rec(i.toLong, t))
    }.reduce(_ ++ _)
    write(s"$dir/arch.warc.wet.gz", bytes)
    val staged = graft.sources.Warc.decompressToStaging(spark, dir, out)
    assert(staged.map(_.stripPrefix("file:")) == Seq(s"$out/arch.warc.wet"))
    // identical bytes to the pre-compression original...
    val plain = texts.zipWithIndex.map { case (t, i) => rec(i.toLong, t) }
      .reduce(_ ++ _)
    assert(Files.readAllBytes(Paths.get(s"$out/arch.warc.wet"))
      .sameElements(plain))
    // ...and the splittable reader agrees with the gz streaming reader
    val split = graft.sources.Warc
      .readWetSplittable(spark, s"$out/arch.warc.wet")
      .filter("error is null").select("text")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(split == texts.sorted)
  }

  test("splittable version knob: 1.1 files split with 1.1, quarantine under 1.0") {
    val dir = tmpDir()
    def rec11(id: Long, text: String): Array[Byte] =
      (s"WARC/1.1\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: https://t.example.org/docs/$id?x=1\r\n" +
        s"Content-Length: ${text.getBytes(UTF_8).length}\r\n\r\n" +
        text + "\r\n\r\n").getBytes(UTF_8)
    write(s"$dir/v11.warc.wet", rec11(1, "one one") ++ rec11(2, "two"))
    val right = graft.sources.Warc
      .readWetSplittable(spark, s"$dir/v11.warc.wet", version = "1.1")
    assert(right.filter("error is null").select("text")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("one one", "two"))
    // the wrong delimiter never splits: everything quarantines — a
    // fail-closed total loss, never silent wrong data
    val wrong = graft.sources.Warc
      .readWetSplittable(spark, s"$dir/v11.warc.wet")
    assert(wrong.filter("error is null").count() == 0)
    assert(wrong.filter("error is not null").count() > 0)
    // the streaming reader is version-agnostic (any WARC/x line)
    assert(graft.sources.Warc.readWet(spark, s"$dir/v11.warc.wet")
      .count() == 2)
  }

  test("zero-byte archives (failed writers) yield no rows, no errors") {
    val dir = tmpDir()
    write(s"$dir/dead.warc.wet.gz", Array.empty[Byte])
    write(s"$dir/dead.warc.wet", Array.empty[Byte])
    write(s"$dir/live.warc.wet.gz", WarcFixtures.gzMember(rec(1, "alive")))
    val rows = Warc.readRecords(spark, dir).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("error") == null)
    assert(new String(rows.head.getAs[Array[Byte]]("payload"), UTF_8)
      == "alive")
  }

  // ------------------------------------------------------- fixture layer

  test("sharded fixture: distributed writer emits parseable crawl shards") {
    val out = tmpDir()
    WarcFixtures.writeWetShards(spark, "/root/testdata/sf0.001",
      s"$out/gz", shards = 3, gzip = true)
    val files = new java.io.File(s"$out/gz").listFiles()
      .filter(_.getName.endsWith(".warc.wet.gz"))
    assert(files.length == 3)
    val recs = Warc.readRecords(spark, s"$out/gz")
    assert(recs.filter("error is not null").count() == 0)
    val n = recs.filter("warc_type = 'warcinfo'").count()
    assert(n == 3) // one warcinfo leader per shard
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(recs.filter("warc_type = 'conversion'").count() == docs)
  }
}
