package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{ArchiveFixtures, Archives, MediaFixtures}

class ArchivesSpec extends AnyFunSuite with SparkTestSupport {

  test("tarMembers walks hand-built ustar: names, sizes, content, trailer") {
    val ms = Archives.tarMembers(ArchiveFixtures.tarDocs)
    assert(ms.map(_.name) == Seq("0001.txt", "0001.cls", "0002.txt",
      "0002.cls"))
    assert(new String(ms.head.bytes, "UTF-8") == "hello graft\n")
    assert(new String(ms(2).bytes, "UTF-8") == "tar shards ship corpora\n")
    // binary members round-trip bit-exact (block padding stripped)
    val media = Archives.tarMembers(ArchiveFixtures.tarMedia)
    assert(media.map(_.name).contains("001/b.png"))
    assert(media.find(_.name == "001/b.png").get.bytes
      .sameElements(MediaFixtures.pngRgb2x2))
    assert(media.find(_.name == "003/d.tif").get.bytes
      .sameElements(MediaFixtures.tiffGrayLzwPred7x5))
    // a corrupted checksum gates the walk instead of mis-parsing
    val bad = ArchiveFixtures.tarDocs.clone()
    bad(148) = '9' // first header's checksum field
    assert(Archives.tarMembers(bad).isEmpty)
    // a lying size field (8 GiB declared in a 2 KiB blob, checksum
    // made valid again so ONLY the size lies) cannot read past the blob
    val lying = ArchiveFixtures.buildTar(Seq("x.bin" -> Array[Byte](1, 2)))
    System.arraycopy("77777777777 ".getBytes("US-ASCII"), 0,
      lying, 124, 12)
    var sum = 0
    for (i <- 0 until 512)
      sum += (if (i >= 148 && i < 156) 32 else lying(i) & 0xFF)
    System.arraycopy(("%06o".format(sum) + "\u0000 ").getBytes("US-ASCII"),
      0, lying, 148, 8)
    assert(Archives.tarMembers(lying).isEmpty)
  }

  test("zipMembers: JDK-written STORED+DEFLATE; JDK re-reads our picks") {
    val ms = Archives.zipMembers(ArchiveFixtures.zipDocs)
    assert(ms.map(_.name) == Seq("0001.txt", "0001.cls", "0002.txt",
      "0002.cls"))
    assert(new String(ms(2).bytes, "UTF-8") == "tar shards ship corpora\n")
    // cross-check every member against the JDK's own reader
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(ArchiveFixtures.zipDocs))
    var e = zin.getNextEntry
    val jdk = scala.collection.mutable.Map[String, Array[Byte]]()
    while (e != null) {
      jdk(e.getName) = zin.readAllBytes()
      e = zin.getNextEntry
    }
    for (m <- ms) assert(jdk(m.name).sameElements(m.bytes), m.name)
    // binary payloads (compressed members holding a JPEG) survive
    val zbin = ArchiveFixtures.buildZip(Seq(
      ("a.jpg", MediaFixtures.jpegGray8x8, false),
      ("b.png", MediaFixtures.pngRgb2x2, true)))
    val got = Archives.zipMembers(zbin)
    assert(got.find(_.name == "a.jpg").get.bytes
      .sameElements(MediaFixtures.jpegGray8x8))
    // zip with an archive comment still resolves its EOCD
    val commented = zbin ++ "trailing comment bytes".getBytes("UTF-8")
    // (comment length field now lies, but the backward scan finds the
    // EOCD signature regardless — the tolerant path real tools need)
    assert(Archives.zipMembers(commented).map(_.name) ==
      Seq("a.jpg", "b.png"))
  }

  test("gunzip unwraps .tar.gz; the expansion guard drops a gzip bomb") {
    // the gzip wrapper is transparent to the dispatch
    val viaGz = Archives.members(ArchiveFixtures.tarDocsGz)
    val direct = Archives.members(ArchiveFixtures.tarDocs)
    assert(viaGz.map(_.name) == direct.map(_.name))
    assert(viaGz.zip(direct).forall { case (a, b) =>
      a.bytes.sameElements(b.bytes) })
    // gunzip itself round-trips
    assert(Archives.gunzip(ArchiveFixtures.tarDocsGz).get
      .sameElements(ArchiveFixtures.tarDocs))
    assert(Archives.gunzip("not gzip".getBytes).isEmpty)
    // a ~1 GiB-of-zeros bomb (tiny on the wire) hits MaxGunzip and drops
    val baos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(baos)
    val zeros = new Array[Byte](1 << 20)
    for (_ <- 0 until 1100) g.write(zeros)
    g.close()
    assert(baos.size() < (1 << 21), "bomb is small on the wire")
    assert(Archives.gunzip(baos.toByteArray).isEmpty)
  }

  test("members dispatch + never-throw on junk/truncations/bit-flips") {
    assert(Archives.members(ArchiveFixtures.tarDocs).size == 4)
    assert(Archives.members(ArchiveFixtures.zipDocs).size == 4)
    assert(Archives.members("PK junk".getBytes).isEmpty)
    assert(Archives.members(Array.emptyByteArray).isEmpty)
    val rnd = new scala.util.Random(31)
    for (_ <- 0 until 100)
      Archives.members(Array.fill(rnd.nextInt(600))(rnd.nextInt(256).toByte))
    for (fix <- Seq(ArchiveFixtures.tarDocs, ArchiveFixtures.zipDocs,
        ArchiveFixtures.tarMedia); _ <- 0 until 40) {
      val m = fix.clone()
      for (_ <- 0 to rnd.nextInt(3))
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      Archives.members(m)
      Archives.members(m.take(rnd.nextInt(m.length)))
    }
  }

  test("memberStats/mediaMembers: distributed explode, junk drops") {
    val s = spark
    import s.implicits._
    val stats = Archives.memberStats(s, Seq(
        (1L, ArchiveFixtures.tarDocs),
        (2L, ArchiveFixtures.zipDocs),
        (3L, "nope".getBytes))
      .toDF("archive_id", "content")).collect()
    assert(stats.length == 8)
    // identical content across containers shares its md5 (the dedup
    // key a shard-level ingest would group on)
    val byName = stats.groupBy(_.member_name)
    assert(byName("0001.txt").map(_.member_md5).distinct.length == 1)
    val media = Archives.mediaMembers(s, Seq(
        (1L, ArchiveFixtures.tarMedia))
      .toDF("archive_id", "content")).collect()
    assert(media.map(m => m.member_name ->
      ((m.width, m.height, m.channels))).toMap ==
      Map("000/a.png" -> ((1, 1, 4)), "001/b.png" -> ((2, 2, 3)),
        "002/c.jpg" -> ((8, 8, 1)), "003/d.tif" -> ((7, 5, 1))))
  }

  test("streaming shard ingest: memberStats batch = stream row-for-row") {
    // the explode is stateless, so the same kernel serves readStream
    // unchanged — shards arriving across micro-batches yield exactly
    // the batch rows (the MediaGate parity property, archive tier)
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val q = Archives.memberStats(s,
        stream.toDF().toDF("archive_id", "content")).toDF()
      .writeStream.format("memory").queryName("archive_members_stream")
      .outputMode("append").start()
    try {
      stream.addData(1L -> ArchiveFixtures.tarDocs)
      q.processAllAvailable()
      stream.addData(2L -> ArchiveFixtures.zipDocs,
        3L -> "nope".getBytes, 4L -> ArchiveFixtures.tarDocsGz)
      q.processAllAvailable()
      val got = s.table("archive_members_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
      val batch = Archives.memberStats(s, Seq(
          (1L, ArchiveFixtures.tarDocs), (2L, ArchiveFixtures.zipDocs),
          (3L, "nope".getBytes), (4L, ArchiveFixtures.tarDocsGz))
        .toDF("archive_id", "content")).collect()
        .map(m => (m.archive_id, m.member_name, m.n_bytes,
          m.member_md5)).toSet
      assert(got == batch)
      assert(batch.size == 12) // 4 members × (tar, zip, tar.gz)
    } finally q.stop()
  }

  test("zip bomb guards: lying usize, per-member cap, per-archive budget") {
    // (1) A central directory claiming a 512 MiB member (> MaxGunzip)
    // in a tiny blob: the guard must reject BEFORE allocating — the
    // honest sibling member still extracts.
    val z = ArchiveFixtures.buildZip(Seq(
      ("bomb.bin", Array.fill[Byte](4096)(0), false),
      ("ok.txt", "fine".getBytes("UTF-8"), true)))
    // locate EOCD, walk to the first central-directory entry, patch
    // its usize field (cd+24, u32 LE) to 0x20000000
    def u16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    def u32(b: Array[Byte], i: Int): Long =
      u16(b, i).toLong | (u16(b, i + 2).toLong << 16)
    var eocd = z.length - 22
    while (!(z(eocd) == 'P' && z(eocd + 1) == 'K' && z(eocd + 2) == 5 &&
      z(eocd + 3) == 6)) eocd -= 1
    val cd = u32(z, eocd + 16).toInt
    val lying = z.clone()
    lying(cd + 24) = 0; lying(cd + 25) = 0; lying(cd + 26) = 0
    lying(cd + 27) = 0x20
    val got = Archives.zipMembers(lying)
    assert(got.map(_.name) == Seq("ok.txt"))
    // (1b) a usize under the per-member cap (MaxGunzip - 1) that no
    // DEFLATE stream of this csize can reach: skipped before its buffer
    // is allocated, so the walk allocates far below the claimed 256 MiB
    val under = z.clone()
    val claim = Archives.MaxGunzip - 1
    (0 until 4).foreach(b => under(cd + 24 + b) = (claim >>> (8 * b)).toByte)
    assert(u32(under, cd + 24) == claim.toLong)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val gotUnder = Archives.zipMembers(under)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(gotUnder.map(_.name) == Seq("ok.txt"))
    assert(allocated < (16L << 20), s"zip walk allocated $allocated bytes")
    // (2) per-member cap skips the oversize member, walk continues
    val small = ArchiveFixtures.buildZip(Seq(
      ("big.bin", Array.fill[Byte](100)(7), true),
      ("tiny.txt", "ab".getBytes("UTF-8"), true)))
    val capped = Archives.zipMembers(small, maxMemberBytes = 10)
    assert(capped.map(_.name) == Seq("tiny.txt"))
    // (3) per-archive budget stops the walk once cumulative bytes
    // would exceed it — many small bombs are a bomb too
    val many = ArchiveFixtures.buildZip(
      (1 to 5).map(i => (s"m$i.bin", Array.fill[Byte](10)(i.toByte), true)))
    val budgeted = Archives.zipMembers(many, maxArchiveBytes = 25L)
    assert(budgeted.map(_.name) == Seq("m1.bin", "m2.bin"))
    // (4) the real fixture is untouched by default caps
    assert(Archives.zipMembers(ArchiveFixtures.zipDocs).size == 4)
  }

  test("samples: WebDataset stems split at the FIRST basename dot") {
    val s = spark
    import s.implicits._
    // a.seg.png + a.txt are ONE sample (stem 000/a, extension seg.png)
    val shard = ArchiveFixtures.buildTar(Seq(
      "000/a.seg.png" -> MediaFixtures.png1x1,
      "000/a.txt" -> "caption a".getBytes("UTF-8"),
      "000/b.tar.gz.txt" -> "weird but text".getBytes("UTF-8")))
    val got = Archives.samples(s, Seq((9L, shard))
      .toDF("archive_id", "content")).collect()
      .map(x => x.stem -> x).toMap
    assert(got.keySet == Set("000/a", "000/b"))
    assert(got("000/a").n_members == 2)
    assert(got("000/a").txt == "caption a")
    assert(got("000/a").binary_bytes ==
      MediaFixtures.png1x1.length.toLong)
    // extension "tar.gz.txt" != "txt": counts as binary, not caption
    assert(got("000/b").txt == "")
    assert(got("000/b").binary_bytes == "weird but text".length.toLong)
  }

  test("samples: stem grouping pairs captions with their binaries") {
    val s = spark
    import s.implicits._
    val got = Archives.samples(s, Seq((1L, ArchiveFixtures.tarMedia))
      .toDF("archive_id", "content")).collect()
      .map(x => x.stem -> x).toMap
    assert(got.keySet == Set("000/a", "001/b", "002/c", "003/d"))
    assert(got("000/a").n_members == 2)
    assert(got("000/a").txt == "a tiny png")
    assert(got("000/a").binary_bytes ==
      MediaFixtures.png1x1.length.toLong)
    assert(got("001/b").n_members == 1 && got("001/b").txt == "")
    assert(got("003/d").binary_bytes ==
      MediaFixtures.tiffGrayLzwPred7x5.length.toLong)
  }
}
