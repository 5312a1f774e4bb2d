package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Upsert
import graft.streaming.ShardedUpsertSink

/** The manifest-pruned upsert sink: merge semantics identical to one
  * keep-latest pass over every batch, per-batch rewrites limited to the
  * touched shards (the write-amplification bound that is its reason to
  * exist), replay-idempotent commits, shard-granular GC, and
  * crashed-attempt (manifest-less) versions invisible to readers. */
class ShardedUpsertSinkSpec extends AnyFunSuite with SparkTestSupport {

  private def viewMap(dir: String): Map[String, Double] =
    ShardedUpsertSink.currentView(spark, dir).get
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap

  private def dataFiles(dir: String, version: Long): Map[String, Set[String]] = {
    val root = new java.io.File(s"$dir/v=$version")
    if (!root.exists()) Map.empty
    else root.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("shard="))
      .map(d => d.getName ->
        d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap
  }

  test("merge semantics ≡ whole-view sink across batches (incl. stale rows)") {
    // the reference is the one-shot batch result: keep-latest per key
    // over the union of every batch, ordered by seq then arrival
    val s = spark
    import s.implicits._
    val shardedDir = Files.createTempDirectory("graft-shup").toString
    val sharded = ShardedUpsertSink.mergeBatch(s, shardedDir,
      keys = Seq("k"), orderCols = Seq("seq"), shards = 8) _
    val batches = Seq(
      Seq(("a", 1L, 1.0), ("b", 1L, 10.0), ("c", 1L, 7.0)),
      Seq(("a", 2L, 2.0), ("d", 1L, 30.0)),
      Seq(("a", 0L, -1.0), ("b", 3L, 11.0))) // stale a must NOT win
    batches.zipWithIndex.foreach { case (rows, i) =>
      sharded(rows.toDF("k", "seq", "v"), i.toLong)
    }
    val shardedView = viewMap(shardedDir)
    val oneShot = Upsert.keepLatestPerKey(
      batches.zipWithIndex.flatMap { case (rows, i) =>
        rows.map { case (k, seq, v) => (k, seq, v, i.toLong) } }
        .toDF("k", "seq", "v", "__batch"),
      Seq("k"), Seq("seq", "__batch"))
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap
    assert(shardedView == oneShot &&
      shardedView == Map("a" -> 2.0, "b" -> 11.0, "c" -> 7.0, "d" -> 30.0))
  }

  test("a merge rewrites ONLY the touched shards; untouched carried by manifest") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-wa").toString
    val merge = ShardedUpsertSink.mergeBatch(s, dir,
      keys = Seq("k"), orderCols = Seq("seq"), shards = 16) _
    // A wide base (many keys -> most shards occupied)...
    merge((0 until 400).map(i => (s"key$i", 1L, i.toDouble))
      .toDF("k", "seq", "v"), 0L)
    val baseFiles = dataFiles(dir, 0L)
    assert(baseFiles.size >= 8, s"expected a wide base, got ${baseFiles.keys}")
    // ...then a single-key batch: exactly ONE shard dir in the new
    // version, and the base version's part files stay byte-identical
    // (nothing else was rewritten — the write-amplification bound).
    merge(Seq(("key7", 2L, 777.0)).toDF("k", "seq", "v"), 1L)
    val v1Files = dataFiles(dir, 1L)
    assert(v1Files.size == 1, s"touched-shard rewrite leaked: ${v1Files.keys}")
    assert(dataFiles(dir, 0L) == baseFiles,
      "merging one key rewrote base shards")
    // The view is still complete and keep-latest.
    val view = viewMap(dir)
    assert(view.size == 400 && view("key7") == 777.0 && view("key0") == 0.0)
    // Read pruning: fetching the updated key's shard reads v=1's one
    // shard dir plus the base's matching shard only — not the view.
    assert(ShardedUpsertSink.currentView(s, dir).get
      .filter(org.apache.spark.sql.functions.col("k") === "key7")
      .collect().map(_.getAs[Double]("v")).toSeq == Seq(777.0))
  }

  test("replaying a batchId is idempotent; GC is shard-granular") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-rp").toString
    val merge = ShardedUpsertSink.mergeBatch(s, dir,
      keys = Seq("k"), orderCols = Seq("seq"), shards = 8) _
    merge((0 until 100).map(i => (s"key$i", 1L, i.toDouble))
      .toDF("k", "seq", "v"), 0L)
    merge(Seq(("key3", 2L, 33.0)).toDF("k", "seq", "v"), 1L)
    val before = viewMap(dir)
    // crash-replay of batch 1 (same data, same id) -> identical view,
    // same committed chain.
    merge(Seq(("key3", 2L, 33.0)).toDF("k", "seq", "v"), 1L)
    assert(viewMap(dir) == before && before("key3") == 33.0)
    assert(ShardedUpsertSink.versions(s, dir).last == 1L)
    // More single-key batches: manifests roll forward, GC keeps the
    // retention window plus every version still OWNING a live shard
    // (v=0 owns most shards, so it must survive), and the view stays
    // complete.
    merge(Seq(("key5", 2L, 55.0)).toDF("k", "seq", "v"), 2L)
    merge(Seq(("key6", 2L, 66.0)).toDF("k", "seq", "v"), 3L)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).toSet
    assert(dirs.contains("v=0"), s"GC deleted the shard-owning base: $dirs")
    val view = viewMap(dir)
    assert(view.size == 100 && view("key5") == 55.0 && view("key6") == 66.0
      && view("key3") == 33.0)
    // Uncommitted (manifest-less) version dirs are invisible to readers.
    val junk = new java.io.File(s"$dir/v=99/shard=0"); junk.mkdirs()
    assert(ShardedUpsertSink.versions(s, dir).last == 3L)
    assert(viewMap(dir) == view)
  }

  test("restart with a different shards parameter adopts the store's modulus") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-mod").toString
    ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 8)(
      (0 until 50).map(i => (s"key$i", 1L, i.toDouble)).toDF("k", "seq", "v"),
      0L)
    // A restart comes back with shards=3 (config drift). Re-hashing keys
    // under the new modulus against the 8-way layout would miss the
    // previous row for updated keys -> duplicate keys in the view. The
    // merge must ADOPT the manifest's recorded modulus instead.
    ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 3)(
      Seq(("key7", 2L, 777.0)).toDF("k", "seq", "v"), 1L)
    val view = ShardedUpsertSink.currentView(s, dir).get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("v"))
    assert(view.length == 50, s"duplicate/lost keys: ${view.length}")
    assert(view.toMap.apply("key7") == 777.0)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/v=1/_manifest")))
    assert(manifest.startsWith("#shards 8"), manifest.linesIterator.next())
  }

  test("a headerless (legacy/foreign) manifest is refused, not re-hashed") {
    val s = spark
    import s.implicits._
    // strip the header: simulates a store written by a tool that does
    // not record its modulus — guessing one would corrupt the view.
    // Drop the bytes column: a 2-token line is a bad manifest line.
    val foreign: Seq[String => String] = Seq(
      _.linesIterator.filterNot(_.startsWith("#")).mkString("\n"),
      _.linesIterator.map { l =>
        if (l.startsWith("#")) l else l.split("\\s+").take(2).mkString(" ")
      }.mkString("\n"))
    foreign.foreach { rewrite =>
      val dir = Files.createTempDirectory("graft-shup-leg2").toString
      ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 8)(
        Seq(("a", 1L, 1.0)).toDF("k", "seq", "v"), 0L)
      val mp = java.nio.file.Paths.get(s"$dir/v=0/_manifest")
      val body = rewrite(new String(java.nio.file.Files.readAllBytes(mp)))
      java.nio.file.Files.write(mp, body.getBytes)
      // drop the Hadoop local-FS checksum sidecar the raw rewrite broke
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/v=0/._manifest.crc"))
      assertThrows[IllegalStateException] {
        ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 8)(
          Seq(("b", 1L, 2.0)).toDF("k", "seq", "v"), 1L)
      }
    }
  }

  test("point lookup reads ONE shard directory (footprint lock)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-lk").toString
    val merge = ShardedUpsertSink.mergeBatch(s, dir,
      keys = Seq("k"), orderCols = Seq("seq"), shards = 16) _
    merge((0 until 400).map(i => (s"key$i", 1L, i.toDouble))
      .toDF("k", "seq", "v"), 0L)
    merge(Seq(("key7", 2L, 777.0)).toDF("k", "seq", "v"), 1L)
    // correctness: the key's latest row, and only it
    def vals(key: String): Seq[Double] =
      ShardedUpsertSink.lookup(s, dir, Seq("k"), Seq(key)).get
        .collect().map(_.getAs[Double]("v")).toSeq
    assert(vals("key7") == Seq(777.0))
    assert(vals("key0") == Seq(0.0))
    assert(vals("no-such-key").isEmpty)
    // footprint: a base-owned key's lookup selects exactly ONE part file
    // (its shard dir holds one file per owning version) while the full
    // view read touches every live shard — the point-lookup cost is
    // view/P, independent of view size (VERDICT r13 #1 lock).
    val (lkBytes, lkFiles) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      ShardedUpsertSink.lookup(s, dir, Seq("k"), Seq("key0")).get
    }
    val (fullBytes, fullFiles) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      ShardedUpsertSink.currentView(s, dir).get
    }
    assert(lkFiles == 1, s"lookup touched $lkFiles files")
    assert(fullFiles >= 10 && lkBytes * 4 < fullBytes,
      s"lookup=($lkBytes,$lkFiles) full=($fullBytes,$fullFiles)")
    // type-sensitive hashing: a composite (long, date) key — the
    // q_upsert_sharded shape — must route to the writer's shard
    val dir2 = Files.createTempDirectory("graft-shup-lk2").toString
    val d0 = java.sql.Date.valueOf("2024-01-07")
    ShardedUpsertSink.mergeBatch(s, dir2, Seq("user_id", "day"),
      Seq("seq"), shards = 8)(
      (0 until 50).map(i => (i.toLong, d0, 1L, i * 1.0))
        .toDF("user_id", "day", "seq", "v"), 0L)
    val hit = ShardedUpsertSink.lookup(s, dir2, Seq("user_id", "day"),
      Seq(7L, d0)).get.collect()
    assert(hit.length == 1 && hit.head.getAs[Double]("v") == 7.0)
    // A committed store whose manifest does NOT map the probe key's
    // shard must yield Some(empty) — a miss — not None ("uncommitted");
    // review r14: readShards' empty-live None used to leak through.
    // One key over 4 shards leaves ≥3 shards unmapped, so at least 3 of
    // these probes take the absent-shard path (all must behave the same).
    val dir3 = Files.createTempDirectory("graft-shup-lk3").toString
    ShardedUpsertSink.mergeBatch(s, dir3, Seq("k"), Seq("seq"), shards = 4)(
      Seq(("only", 1L, 1.0)).toDF("k", "seq", "v"), 0L)
    Seq("missA", "missB", "missC", "missD").foreach { probe =>
      val r = ShardedUpsertSink.lookup(s, dir3, Seq("k"), Seq(probe))
      assert(r.isDefined && r.get.count() == 0,
        s"miss lookup '$probe' must be Some(empty), got $r")
    }
    // truly empty store (no committed version): None
    assert(ShardedUpsertSink.lookup(s,
      Files.createTempDirectory("graft-shup-lk4").toString,
      Seq("k"), Seq("x")).isEmpty)
  }

  test("reshard grows the modulus: content identical, merges adopt new P") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-rs").toString
    val merge4 = ShardedUpsertSink.mergeBatch(s, dir,
      keys = Seq("k"), orderCols = Seq("seq"), shards = 4) _
    merge4((0 until 200).map(i => (s"key$i", 1L, i.toDouble))
      .toDF("k", "seq", "v"), 0L)
    merge4(Seq(("key3", 2L, 33.0)).toDF("k", "seq", "v"), 1L)
    val before = viewMap(dir)
    // the sanctioned modulus change: one full rewrite under P=16, which
    // replaces the newest manifest and spends no batch id
    ShardedUpsertSink.reshard(s, dir, Seq("k"), newShards = 16)
    assert(viewMap(dir) == before, "reshard changed view content")
    assert(ShardedUpsertSink.versions(s, dir) == Seq(0L, 1L))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/v=1/_manifest")))
    assert(manifest.startsWith("#shards 16"))
    // point lookups route under the NEW modulus
    val hit = ShardedUpsertSink.lookup(s, dir, Seq("k"), Seq("key3")).get
      .collect().map(_.getAs[Double]("v")).toSeq
    assert(hit == Seq(33.0))
    // a later merge (even with a drifted shards parameter) adopts 16
    ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 7)(
      Seq(("key5", 2L, 55.0)).toDF("k", "seq", "v"), 2L)
    val m2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/v=2/_manifest")))
    assert(m2.startsWith("#shards 16"))
    assert(viewMap(dir) == before + ("key5" -> 55.0))
    // single-owner invariant: after the next merge, pre-reshard
    // versions own nothing and GC out of the retention window
    ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 16)(
      Seq(("key6", 2L, 66.0)).toDF("k", "seq", "v"), 3L)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).toSet
    assert(!dirs.contains("v=0") && !dirs.contains("v=1"),
      s"pre-reshard versions survived GC: $dirs")
    // refusals: a bad modulus and an empty store
    assertThrows[IllegalArgumentException] {
      ShardedUpsertSink.reshard(s, dir, Seq("k"), 0)
    }
    assertThrows[IllegalArgumentException] {
      ShardedUpsertSink.reshard(s,
        Files.createTempDirectory("graft-shup-rs2").toString,
        Seq("k"), 8)
    }
    // REPLAY OF A RESHARDED VERSION: a redelivered merge of the batch
    // whose version was resharded recomputes against the RETAINED
    // predecessor and overwrites the version — exactly-once wins, the
    // view stays CORRECT under the old modulus, only the reshard work is
    // lost.
    val dir2 = Files.createTempDirectory("graft-shup-rsc").toString
    val m2merge = ShardedUpsertSink.mergeBatch(s, dir2,
      keys = Seq("k"), orderCols = Seq("seq"), shards = 4) _
    m2merge((0 until 50).map(i => (s"key$i", 1L, i.toDouble))
      .toDF("k", "seq", "v"), 0L)
    m2merge(Seq(("key9", 2L, 99.0)).toDF("k", "seq", "v"), 1L)
    ShardedUpsertSink.reshard(s, dir2, Seq("k"), newShards = 16)
    m2merge(Seq(("key9", 2L, 99.0)).toDF("k", "seq", "v"), 1L) // replayed
    val view2 = ShardedUpsertSink.currentView(s, dir2).get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap
    assert(view2.size == 50 && view2("key9") == 99.0 && view2("key0") == 0.0)
    val m2manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir2/v=1/_manifest")))
    assert(m2manifest.startsWith("#shards 4"),
      "the replayed merge must carry the pre-reshard modulus it merged under")
    // maybeReshard: fires only past the 2x-target doubling gate, sizes
    // P to bytes/target, and no-ops immediately after. The target must
    // sit above parquet's per-file footer overhead (~1 KB) or ANY
    // byte-driven policy thrashes at fixture scale — production targets
    // (64 MB default) dwarf it.
    val dir4 = Files.createTempDirectory("graft-shup-mrs").toString
    ShardedUpsertSink.mergeBatch(s, dir4, Seq("k"), Seq("seq"), shards = 2)(
      (0 until 2000).map(i => (s"key$i", 1L, i.toDouble))
        .toDF("k", "seq", "v"), 0L)
    val before4 = ShardedUpsertSink.currentView(s, dir4).get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap
    val grew = ShardedUpsertSink.maybeReshard(s, dir4, Seq("k"),
      targetShardBytes = 4096L)
    assert(grew.exists(_ > 2), s"expected a grown modulus, got $grew")
    assert(ShardedUpsertSink.maybeReshard(s, dir4, Seq("k"),
      targetShardBytes = 4096L).isEmpty,
      "freshly resharded store must not reshard again")
    assert(ShardedUpsertSink.currentView(s, dir4).get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap
      == before4)
    // huge target -> under the gate -> no-op
    assert(ShardedUpsertSink.maybeReshard(s, dir4, Seq("k"),
      targetShardBytes = 1L << 30).isEmpty)
  }

  test("lookup is JOBLESS before the pruned read, and type-reconciled") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-jl").toString
    ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 16)(
      (0 until 200).map(i => (i.toLong, 1L, i.toDouble))
        .toDF("k", "seq", "v"), 0L)
    // Count jobs launched DURING lookup() itself (VERDICT r14 #1: it
    // used to spawn a spark.range(1)…head() job just to hash the key).
    // Listener events are ordered within the queue, so a sentinel job
    // run AFTER lookup flushes any job lookup might have launched.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        names.add(j.stageInfos.map(_.name).mkString(";"))
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val df = ShardedUpsertSink.lookup(s, dir, Seq("k"), Seq(7L)).get
      // sentinel: exactly ONE job (an RDD action — SQL actions under AQE
      // submit a job per query stage), flushing the ordered listener queue
      s.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.currentTimeMillis() + 20000
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(jobs.get() == 1,
        s"lookup launched ${jobs.get() - 1} job(s) before the pruned " +
          s"read: ${names.toArray.mkString(" | ")}")
      assert(df.collect().map(_.getAs[Double]("v")).toSeq == Seq(7.0))
    } finally s.sparkContext.removeSparkListener(listener)
    // Type reconciliation (ADVICE r14): an Int probe against the Long
    // key column used to hash to a DIFFERENT shard and silently miss —
    // the stored schema now drives a cast before hashing AND filtering.
    val intProbe = ShardedUpsertSink.lookup(s, dir, Seq("k"),
      Seq(7)).get.collect() // Int, column is Long
    assert(intProbe.length == 1 && intProbe.head.getAs[Double]("v") == 7.0,
      "Int probe against Long key column must hit")
    // String probe against a DATE key column
    val dir2 = Files.createTempDirectory("graft-shup-jl2").toString
    val d0 = java.sql.Date.valueOf("2024-01-07")
    ShardedUpsertSink.mergeBatch(s, dir2, Seq("day"), Seq("seq"), shards = 8)(
      Seq((d0, 1L, 7.0)).toDF("day", "seq", "v"), 0L)
    val strProbe = ShardedUpsertSink.lookup(s, dir2, Seq("day"),
      Seq("2024-01-07")).get.collect()
    assert(strProbe.length == 1 && strProbe.head.getAs[Double]("v") == 7.0,
      "String date probe against Date key column must hit")
    // a key column absent from the stored schema fails loudly
    assertThrows[IllegalArgumentException] {
      ShardedUpsertSink.lookup(s, dir, Seq("nope"), Seq(1L))
    }
  }

  test("the schema probe skips a shard with no data file; none left is FileNotFound") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-probe").toString
    ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 4)(
      (0 until 40).map(i => (i.toLong, 1L, i.toDouble))
        .toDF("k", "seq", "v"), 0L)
    val shardDirs = new java.io.File(s"$dir/v=0").listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    def emptyOut(d: java.io.File): Unit =
      d.listFiles().filter(_.getName.contains("part-")).foreach(_.delete())
    // the first shard in order is the one the probe reads first
    emptyOut(shardDirs.head)
    val lost = shardDirs.head.getName.stripPrefix("shard=").toInt
    val kept = (0 until 40).map(_.toLong).find { k =>
      ShardedUpsertSink.lookup(s, dir, Seq("k"), Seq(k)).get
        .collect().nonEmpty
    }
    assert(kept.nonEmpty, s"no key readable with shard $lost emptied")
    shardDirs.tail.foreach(emptyOut)
    assertThrows[java.io.FileNotFoundException] {
      ShardedUpsertSink.lookup(s, dir, Seq("k"), Seq(kept.get))
    }
    assertThrows[java.io.FileNotFoundException] {
      ShardedUpsertSink.currentView(s, dir)
    }
  }

  test("manifest carries per-shard bytes; maybeReshard decides from ONE read") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-shup-mb").toString
    ShardedUpsertSink.mergeBatch(s, dir, Seq("k"), Seq("seq"), shards = 4)(
      (0 until 200).map(i => (s"key$i", 1L, i.toDouble))
        .toDF("k", "seq", "v"), 0L)
    val mPath = java.nio.file.Paths.get(s"$dir/v=0/_manifest")
    val lines = new String(java.nio.file.Files.readAllBytes(mPath))
      .linesIterator.toSeq
    val body = lines.filterNot(_.startsWith("#"))
    assert(body.nonEmpty && body.forall(_.split("\\s+").length == 3),
      s"manifest lines must be 'dir modulus bytes': $body")
    // recorded bytes must equal the actual shard directory sizes
    body.foreach { l =>
      val Array(sh, _, b) = l.split("\\s+")
      // data files only: the local FS's hidden .crc sidecars are not
      // part of the layout (Hadoop's listStatus hides them too)
      val actual = new java.io.File(s"$dir/$sh").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .map(_.length()).sum
      assert(b.toLong == actual, s"shard $sh recorded $b actual $actual")
    }
    // THE DECISION READS THE MANIFEST, NOT THE LAYOUT: inflate the
    // recorded bytes past the gate while the real dirs stay tiny — a
    // maybeReshard that walked directories would see tiny and no-op; one
    // that reads the manifest must fire.
    def rewriteBytes(scale: Long): Unit = {
      val txt = new String(java.nio.file.Files.readAllBytes(mPath))
        .linesIterator.map { l =>
          if (l.startsWith("#")) l
          else { val Array(a, b, c) = l.split("\\s+"); s"$a $b ${c.toLong * scale}" }
        }.mkString("\n")
      java.nio.file.Files.write(mPath, txt.getBytes)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/v=0/._manifest.crc"))
    }
    rewriteBytes(1000000L)
    val fired = ShardedUpsertSink.maybeReshard(s, dir, Seq("k"),
      targetShardBytes = 1L << 20)
    assert(fired.exists(_ > 4),
      s"inflated manifest bytes must drive the decision (got $fired)")
    // content survives the reshard
    assert(viewMap(dir).size == 200 && viewMap(dir)("key7") == 7.0)
  }

  test("a stream resumed after a reshard adopts the new modulus, exact view") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val base = Files.createTempDirectory("graft-shup-ido").toString
    val ckpt = Files.createTempDirectory("graft-shup-ido-ck").toString
    val stream = MemoryStream[(String, Long, Double)]
    def startQ() = ShardedUpsertSink.start(
      stream.toDF().toDF("k", "seq", "v"),
      base, ckpt, keys = Seq("k"), orderCols = Seq("seq"), shards = 4)
    val q1 = startQ()
    try {
      stream.addData(("a", 1L, 1.0), ("b", 1L, 10.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(ShardedUpsertSink.versions(s, base) == Seq(0L))
    // quiesced maintenance window: grow the modulus of the newest
    // version in place — no batch id spent
    ShardedUpsertSink.reshard(s, base, Seq("k"), newShards = 16)
    assert(ShardedUpsertSink.versions(s, base) == Seq(0L))
    // resume the SAME checkpoint: the engine's next batch is 1, merged
    // against the resharded version 0
    val q2 = startQ()
    try {
      stream.addData(("a", 2L, 2.0), ("c", 1L, 30.0))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ShardedUpsertSink.versions(s, base) == Seq(0L, 1L))
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/v=1/_manifest")))
    assert(m.startsWith("#shards 16"),
      s"resumed merge must adopt the resharded modulus: ${m.linesIterator.next()}")
    assert(viewMap(base) == Map("a" -> 2.0, "b" -> 10.0, "c" -> 30.0))
    // point lookups route under the new modulus too
    assert(ShardedUpsertSink.lookup(s, base, Seq("k"), Seq("c")).get
      .collect().map(_.getAs[Double]("v")).toSeq == Seq(30.0))
  }

  test("streaming end-to-end via foreachBatch") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val base = Files.createTempDirectory("graft-shup-st").toString
    val ckpt = Files.createTempDirectory("graft-shup-st-ck").toString
    val stream = MemoryStream[(String, Long, Double)]
    val q = ShardedUpsertSink.start(
      stream.toDF().toDF("k", "seq", "v"),
      base, ckpt, keys = Seq("k"), orderCols = Seq("seq"), shards = 8)
    try {
      stream.addData(("a", 1L, 1.0), ("b", 1L, 10.0))
      q.processAllAvailable()
      assert(viewMap(base) == Map("a" -> 1.0, "b" -> 10.0))
      stream.addData(("a", 2L, 2.0), ("c", 1L, 30.0))
      q.processAllAvailable()
      assert(viewMap(base) == Map("a" -> 2.0, "b" -> 10.0, "c" -> 30.0))
      stream.addData(("a", 0L, -1.0)) // stale seq -> must NOT win
      q.processAllAvailable()
      assert(viewMap(base) == Map("a" -> 2.0, "b" -> 10.0, "c" -> 30.0))
    } finally q.stop()
  }
}
