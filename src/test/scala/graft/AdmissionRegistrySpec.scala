package graft

import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AdmissionRegistry, Manifest, NearDupAdmission,
  ShardedUpsertSink, SpanAdmission}

/** The shared admission-registry contract: replay-safe per-batch appends
  * (own-batch exclusion — a crashed-then-replayed batch must NOT
  * self-reject the docs it admitted before the crash), fail-closed reads,
  * and layout-preserving compaction. */
class AdmissionRegistrySpec extends AnyFunSuite with SparkTestSupport {

  private val keySchema = StructType(Seq(StructField("k", LongType)))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/state"

  /** Every row the newest manifest of the store at `dir` lists, with its
    * run and shard: (run dir, payload…, shard). */
  private def listedRows(dir: String, schema: StructType): Set[Seq[Any]] =
    Manifest.below(spark, dir, Long.MaxValue).toSeq.flatMap(_.entries)
      .flatMap { e =>
        Manifest.read(spark, dir, Seq(e), schema, None).toSeq
          .flatMap(_.collect().map(r => e.dir +: r.toSeq))
      }.toSet

  /** A committed version's manifest removed (with its checksum
    * sidecar): the state a crash before the manifest rename leaves. */
  private def dropManifest(versionDir: String): Unit =
    Seq("_manifest", "._manifest.crc").foreach(n =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$versionDir/$n")))

  /** Every parquet file under `dir` overwritten with bytes that are not
    * parquet (checksum sidecars dropped). */
  private def garble(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.filter(_.toString.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.write(f, "this is not parquet".getBytes)
        java.nio.file.Files.deleteIfExists(
          f.resolveSibling(s".${f.getFileName}.crc"))
      }
  }

  test("history excludes the current batch's own append (replay safety)") {
    val s = spark
    import s.implicits._
    val reg = new AdmissionRegistry(tmp("graft_reg_"), keySchema, Seq("k"))
    reg.append(Seq(1L, 2L).toDF("k"), batchId = 0)
    reg.append(Seq(3L).toDF("k"), batchId = 1)
    // Batch 1 replays: its own keys are invisible, batch 0's are not.
    val h1 = reg.history(s, excludeBatchId = 1).as[Long].collect().toSet
    assert(h1 == Set(1L, 2L))
    // A later batch sees everything.
    val h2 = reg.history(s, excludeBatchId = 2).as[Long].collect().toSet
    assert(h2 == Set(1L, 2L, 3L))
  }

  test("re-append of the same batch overwrites, never duplicates") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_reg_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"))
    reg.append(Seq(1L, 2L).toDF("k"), batchId = 0)
    reg.append(Seq(1L, 2L).toDF("k"), batchId = 0) // replayed append
    assert(reg.history(s, excludeBatchId = 9).count() == 2)
  }

  test("missing registry is empty; corrupt registry data fails closed") {
    val s = spark
    val reg = new AdmissionRegistry(tmp("graft_reg_"), keySchema, Seq("k"))
    assert(reg.history(s, excludeBatchId = 0).count() == 0)

    // a run the manifest lists, whose data files are garbage
    val dir = tmp("graft_reg_")
    val reg2 = new AdmissionRegistry(dir, keySchema, Seq("k"))
    reg2.append(s.range(1, 3).toDF("k"), batchId = 0)
    garble(s"$dir/v=0")
    assertThrows[Exception] {
      reg2.history(s, excludeBatchId = 9).count()
    }
  }

  test("appends land shard-partitioned and the probe prunes to touched shards") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_shard_")
    val shards = 8
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"), shards)
    // Two committed batches spanning many shards.
    reg.append((1L to 64L).toDF("k"), batchId = 0)
    reg.append((65L to 128L).toDF("k"), batchId = 1)
    // Physical layout: shard= directories nested under each run.
    val shardDirs = new java.io.File(dir + "/v=0").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(shardDirs.nonEmpty && shardDirs.subsetOf(
      (0 until shards).map(i => s"shard=$i").toSet), s"layout: $shardDirs")
    // A small probe's token set is its distinct key hashes...
    val probe = Seq(3L, 7L).toDF("k")
    val tokens = reg.probeTokens(probe)
    assert(tokens.exists(_.length == 2), s"tokens: $tokens")
    // ...and the pruned read (a) returns every row the probe join could
    // match (semantic completeness vs the full read)...
    val full = reg.history(s, excludeBatchId = 9)
    val pruned = reg.historyTouched(s, excludeBatchId = 9, tokens)
    val fullMatch = probe.join(full, Seq("k"), "left_semi")
      .as[Long].collect().toSet
    val prunedMatch = probe.join(pruned, Seq("k"), "left_semi")
      .as[Long].collect().toSet
    assert(prunedMatch == fullMatch && fullMatch == Set(3L, 7L))
    // ...while (b) the scan itself selects strictly fewer files/bytes —
    // partition pruning at the file index, not a post-read filter.
    val (fullBytes, fullFiles) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.history(s, excludeBatchId = 9)
    }
    val (prBytes, prFiles) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.historyTouched(s, excludeBatchId = 9, tokens)
    }
    assert(prFiles < fullFiles && prBytes < fullBytes,
      s"pruned=($prBytes,$prFiles) full=($fullBytes,$fullFiles)")
    // Empty token set (empty replayed batch) reads nothing but stays
    // typed; a saturated probe (None) degrades to the full read.
    assert(reg.historyTouched(s, 9, Some(Array.empty[Long])).count() == 0)
    assert(reg.historyTouched(s, 9, None).count() == full.count())
  }

  test("probe pruning survives compaction (shard layout preserved)") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_shardc_")
    val shards = 8
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"), shards)
    (0 to 2).foreach(b =>
      reg.append((b * 50L until b * 50L + 50L).toDF("k"), batchId = b))
    assert(reg.maybeCompact(s, batchId = 3, every = 3) == 3)
    reg.append((150L until 200L).toDF("k"), batchId = 3)
    val folded = reg.runs(s).head.dir
    val shardDirs = new java.io.File(s"$dir/$folded").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(shardDirs.nonEmpty, "compacted batch lost its shard layout")
    val probe = Seq(11L, 171L).toDF("k") // one compacted row, one live
    val tokens = reg.probeTokens(probe)
    val pruned = reg.historyTouched(s, excludeBatchId = 9, tokens)
    assert(probe.join(pruned, Seq("k"), "left_semi")
      .as[Long].collect().toSet == Set(11L, 171L))
    val (fullBytes, fullFiles) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.history(s, excludeBatchId = 9)
    }
    val (prBytes, prFiles) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.historyTouched(s, excludeBatchId = 9, tokens)
    }
    assert(prFiles < fullFiles && prBytes < fullBytes,
      s"pruned=($prBytes,$prFiles) full=($fullBytes,$fullFiles)")
  }

  test("compaction self-sizes the shard count; a small probe's bytes plateau") {
    val s = spark
    import s.implicits._
    // Tiny targetShardBytes forces the self-sizing arm at fixture scale:
    // the folded registry must carry MORE shards than the append floor,
    // record its modulus in its manifest entry, and a fixed-size probe
    // must read FEWER bytes from the grown registry than a fixed-count
    // layout would (which reads bytes ∝ registry size forever).
    val dir = tmp("graft_selfsize_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"),
      shards = 4, targetShardBytes = 4096L)
    (0 to 3).foreach(b =>
      reg.append(((b * 4000L) until (b * 4000L + 4000L)).toDF("k"), b))
    assert(reg.maybeCompact(s, batchId = 4, every = 1) == 4)
    val Seq(run) = reg.runs(s)
    assert(run.modulus > 4,
      s"self-sized modulus ${run.modulus} should exceed the floor")
    val nDirs = new java.io.File(s"$dir/${run.dir}").listFiles()
      .count(_.getName.startsWith("shard="))
    assert(nDirs > 4, s"expected >4 shard dirs, got $nDirs")
    // Correctness under the grown modulus: pruned == full for the probe.
    val probe = Seq(7L, 4001L, 15999L).toDF("k")
    val tokens = reg.probeTokens(probe)
    val pruned = reg.historyTouched(s, excludeBatchId = 9, tokens)
    assert(probe.join(pruned, Seq("k"), "left_semi")
      .as[Long].collect().toSet == Set(7L, 4001L, 15999L))
    // The plateau law: the 3-key probe reads ≤ 3 shards ≈ 3 × target
    // bytes, a small fraction of the 16k-row registry.
    val (fullBytes, _) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.history(s, excludeBatchId = 9)
    }
    val (prBytes, _) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.historyTouched(s, excludeBatchId = 9, tokens)
    }
    assert(prBytes * 3 < fullBytes,
      s"pruned=$prBytes full=$fullBytes — self-sizing should prune ≥3×")
  }

  test("a run without its manifest is invisible; its replay overwrites it") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.IntegerType
    // the crash window between a run's data and its manifest rename:
    // batch 1's run is on disk, its manifest is not
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("w", IntegerType)))
    val dir = tmp("graft_unlisted_")
    val reg = new AdmissionRegistry(dir, schema, Seq("k"), shards = 8)
    reg.append(Seq((1L, 3), (2L, 3)).toDF("k", "w"), batchId = 0)
    reg.append(Seq((3L, 5), (4L, 5)).toDF("k", "w"), batchId = 1)
    dropManifest(s"$dir/v=1")
    assert(new java.io.File(s"$dir/v=1").list().exists(_.startsWith("shard=")))
    val keys = reg.history(s, excludeBatchId = 9).as[(Long, Int)]
      .collect().map(_._1).toSet
    assert(keys == Set(1L, 2L), s"unlisted run leaked into history: $keys")
    assert(reg.footerStats(s, excludeBatchId = 9, Some("w")) ==
      (2L, Some(Set(3))))
    val toks = reg.probeTokens(Seq(3L, 4L).toDF("k"))
    assert(reg.historyTouched(s, excludeBatchId = 9, toks).count() == 0)
    // the replay of batch 1 overwrites the unlisted run, not adds to it
    reg.append(Seq((3L, 5)).toDF("k", "w"), batchId = 1)
    assert(reg.history(s, excludeBatchId = 9).as[(Long, Int)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
    // the upsert twin: the merge of batch 1 without its manifest is
    // invisible to the view and to a lookup, and its replay lands
    val up = java.nio.file.Files.createTempDirectory("graft_unlisted_up_")
      .toString
    val merge = ShardedUpsertSink.mergeBatch(s, up, Seq("k"), Seq("seq"),
      shards = 4) _
    merge((0 until 20).map(i => (s"key$i", 1L, i.toDouble))
      .toDF("k", "seq", "v"), 0L)
    merge(Seq(("key7", 2L, 777.0)).toDF("k", "seq", "v"), 1L)
    dropManifest(s"$up/v=1")
    def lookup7() = ShardedUpsertSink.lookup(s, up, Seq("k"), Seq("key7")).get
      .collect().map(_.getAs[Double]("v")).toSeq
    assert(ShardedUpsertSink.versions(s, up) == Seq(0L))
    assert(lookup7() == Seq(7.0))
    assert(ShardedUpsertSink.currentView(s, up).get.count() == 20)
    merge(Seq(("key7", 2L, 777.0)).toDF("k", "seq", "v"), 1L)
    assert(lookup7() == Seq(777.0))
    assert(ShardedUpsertSink.currentView(s, up).get.count() == 20)
  }

  test("compact folds committed batches and preserves exclusion layout") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_reg_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"))
    reg.append(Seq(1L).toDF("k"), batchId = 0)
    reg.append(Seq(2L).toDF("k"), batchId = 1)
    reg.append(Seq(3L).toDF("k"), batchId = 2)
    // at the start of batch 3, the runs of batches 0-2 fold into one
    assert(reg.maybeCompact(s, batchId = 3, every = 3) == 3)
    reg.append(Seq(4L).toDF("k"), batchId = 3)
    // Folded rows live on in one run; batch 3's run is untouched.
    assert(reg.runs(s).map(_.dir).last == "v=3" && reg.runs(s).size == 2,
      s"runs: ${reg.runs(s)}")
    val h = reg.history(s, excludeBatchId = 9).as[Long].collect().toSet
    assert(h == Set(1L, 2L, 3L, 4L))
    // A replay of uncompacted batch 3 still excludes only its own rows.
    assert(reg.history(s, excludeBatchId = 3).as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
  }

  test("auto-compaction fires on the committed watermark and stays replay-safe") {
    val s = spark
    import s.implicits._
    val stateDir = tmp("graft_autoc_")
    // compactEvery=3: batches 3, 6, 9 fold everything below themselves.
    val adm = new NearDupAdmission(stateDir, "text", "doc_id",
      compactEvery = 3)
    def doc(i: Long) = (i, (1 to 25).map(j => s"v${i}w$j").mkString(" "))
    def batchDirs() = adm.registry.runs(s).map(_.dir)
    // A long run: 10 single-doc batches, each doc disjoint -> all admit.
    (0L to 9L).foreach { b =>
      assert(adm.admit(Seq(doc(b)).toDF("doc_id", "text"), b)
        .count() == 1, s"batch $b should admit its fresh doc")
    }
    // Geometric tiering: after 10 appends with compaction every 3, live
    // run count is O(log), far below the 10 appends (exact layout is a
    // size-jitter-dependent policy detail; the BOUND is the contract).
    assert(batchDirs().size <= 4,
      s"unexpected registry layout: ${batchDirs()}")
    // Replay of the compaction-triggering batch: decisions unchanged
    // (admission is layout-independent) and the layout stays bounded.
    val layoutBefore = batchDirs()
    assert(adm.admit(Seq(doc(9L)).toDF("doc_id", "text"), 9L).count() == 1)
    assert(batchDirs() == layoutBefore,
      s"replay changed the layout: $layoutBefore -> ${batchDirs()}")
    // Folded history still gates: a near-dup of batch 0's
    // doc (admitted 9 batches and one compaction ago) is rejected.
    val nearDup = Seq((100L, doc(0L)._2 + " tail")).toDF("doc_id", "text")
    assert(adm.admit(nearDup, 10L).count() == 0,
      "compacted history must still reject near-dups of admitted docs")
  }

  test("driver shard/token hash ≡ the SQL pmod(xxhash64) (fast-append pin)") {
    // the r18 driver-written small append, the small-trigger fast path
    // and the serving lookup route rows with the DRIVER-side token
    // (Sharded.driverToken); any drift vs the SQL function mis-shards
    // appends → probe pruning silently misses history → duplicate
    // admissions. Pin them equal over the registry's composite
    // (int, long) key shape.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import graft.ext.Sharded
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map(_ => (rnd.nextInt(), rnd.nextLong()))
    val sql = rows.toDF("band", "bucket")
      .select(col("band"), col("bucket"),
        xxhash64(col("band"), col("bucket")).as("h"),
        pmod(xxhash64(col("band"), col("bucket")), lit(13)).cast("int")
          .as("s"))
      .collect()
    sql.foreach { r =>
      val key = Seq(Literal(r.getInt(0)), Literal(r.getLong(1)))
      assert(Sharded.driverToken(key) == r.getLong(2),
        s"token drift at ${(r.getInt(0), r.getLong(1))}")
      assert(Sharded.driverShard(key, 13) == r.getInt(3))
    }
  }

  test("small-trigger fast path ≡ job path: decisions, registry, layout") {
    // same doc stream through two NearDupAdmissions — one on the r18
    // driver form (plain in-memory DFs have no file list, so since the
    // r19 provenance fix the gate sends them to the job form —
    // `admitVia` is the specs' explicit choice), one on the job form —
    // must admit identical ids per batch and leave row-identical
    // registries.
    val s = spark
    import s.implicits._
    def run(stateDir: String, fastPath: Boolean): Seq[Set[Long]] = {
      val adm = new NearDupAdmission(stateDir, "text", "doc_id",
        compactEvery = 3)
      def text(seed: Long) =
        (1 to 30).map(j => s"w${seed}t$j").mkString(" ")
      val batches = Seq(
        Seq(1L -> text(1), 2L -> text(2), 3L -> text(1)), // 3 dups 1
        Seq(4L -> (text(2) + " tail"), 5L -> text(5)),    // 4 dups 2
        Seq(6L -> text(6), 7L -> text(6), 8L -> text(6)), // in-batch
        Seq(9L -> text(1))) // dup of batch 0 across compaction
      batches.zipWithIndex.map { case (docs, b) =>
        adm.admitVia(docs.toDF("doc_id", "text"), b.toLong, Some(fastPath))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }
    val fastDir = tmp("graft_fastpath_")
    val jobDir = tmp("graft_jobpath_")
    val fast = run(fastDir, fastPath = true)
    val job = run(jobDir, fastPath = false)
    assert(fast == job, s"decisions diverged: $fast vs $job")
    assert(fast == Seq(Set(1L, 2L), Set(5L), Set(6L), Set.empty[Long]))
    // registries row-identical (run + shard layout included)
    val bands = StructType(Seq(StructField("band", IntegerType),
      StructField("bucket", LongType)))
    assert(listedRows(fastDir, bands) == listedRows(jobDir, bands))
  }

  test("SpanAdmission fast path ≡ job path: decisions and registries") {
    // same doc stream through two SpanAdmissions, one forced onto the
    // distributed path — identical per-batch admissions and
    // row-identical registries (r18, the span twin of the near-dup
    // equivalence arm)
    val s = spark
    import s.implicits._
    val boiler = (1 to 20).map(i => s"nav$i").mkString(" ")
    def run(stateDir: String, fastPath: Boolean): Seq[Set[Long]] = {
      val adm = new SpanAdmission(stateDir, "text", "doc_id",
        k = 4, gatePct = 50, compactEvery = 2)
      val batches = Seq(
        Seq(1L -> (boiler + " first page body")),
        Seq(2L -> "fresh unrelated prose entirely new words here",
          3L -> (boiler + " tiny delta")), // covered by batch 0
        Seq(4L -> "short", // < k tokens: zero spans, must admit
          5L -> (boiler + " another rehash")), // across compaction
        Seq(6L -> (boiler + " yet more chrome")))
      batches.zipWithIndex.map { case (docs, b) =>
        adm.admitVia(docs.toDF("doc_id", "text"), b.toLong, Some(fastPath))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }
    val fastDir = tmp("graft_spanfast_")
    val jobDir = tmp("graft_spanjob_")
    val fast = run(fastDir, fastPath = true)
    val job = run(jobDir, fastPath = false)
    assert(fast == job, s"decisions diverged: $fast vs $job")
    assert(fast == Seq(Set(1L), Set(2L), Set(4L), Set.empty[Long]))
    val spans = StructType(Seq(StructField("sh", LongType)))
    assert(listedRows(fastDir, spans) == listedRows(jobDir, spans))
  }

  test("SpanAdmission auto-compacts and the folded span registry still gates") {
    val s = spark
    import s.implicits._
    val stateDir = tmp("graft_autocs_")
    val adm = new SpanAdmission(stateDir, "text", "doc_id",
      k = 4, gatePct = 50, compactEvery = 2)
    val boiler = (1 to 20).map(i => s"nav$i").mkString(" ")
    assert(adm.admit(Seq((1L, boiler + " first page")).toDF("doc_id", "text"),
      0L).count() == 1)
    assert(adm.admit(Seq((2L, "fresh unrelated prose entirely new words"))
      .toDF("doc_id", "text"), 1L).count() == 1)
    // Batch 2 runs the tiered fold, then still rejects boilerplate
    // (gating is layout-independent; dir count stays bounded).
    assert(adm.admit(Seq((3L, boiler + " tiny delta")).toDF("doc_id", "text"),
      2L).count() == 0)
    val runs = adm.registry.runs(s)
    assert(runs.size <= 3, s"runs: $runs")
  }

  test("maybeCompact is geometric: small runs fold, a big base is not rewritten") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_geo_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"), shards = 4)
    def dataFiles(run: String): Set[String] = {
      val root = new java.io.File(s"$dir/$run")
      if (!root.exists()) Set.empty
      else root.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    def dirNames(): Seq[String] = reg.runs(s).map(_.dir)
    // Four equal appends -> the first scheduled fold takes them all.
    // (2000-row batches: data bytes must dominate parquet footers for
    // the size comparisons below to mean what they say.)
    (0 to 3).foreach(b => reg.append((b * 2000L until b * 2000L + 2000L)
      .toDF("k"), b))
    reg.maybeCompact(s, batchId = 4, every = 1)
    val Seq(base) = dirNames()
    val baseFiles = dataFiles(base)
    // Two SMALL appends: the next fold must merge only them — the big
    // base (8000 rows vs 100+100) stays byte-identical (same part
    // files), which is the whole point: fold-everything would rewrite
    // the registry every cycle, O(registry/every) amortized per trigger.
    reg.append((90000L until 90100L).toDF("k"), 4)
    reg.append((90100L until 90200L).toDF("k"), 5)
    reg.maybeCompact(s, batchId = 6, every = 1)
    assert(dirNames().size == 2 && dirNames().head == base,
      s"layout: ${dirNames()}")
    assert(dataFiles(base) == baseFiles,
      "geometric fold rewrote the big base for a tiny tail")
    // Keep appending equal runs: once the newer mass catches up
    // (geometric trigger), the base is folded in — one consolidated
    // run, all rows present exactly once.
    (6 to 13).foreach(b => reg.append((b * 2000L until b * 2000L + 2000L)
      .toDF("k"), b))
    reg.maybeCompact(s, batchId = 14, every = 1)
    assert(dirNames().size <= 2, s"layout after catch-up: ${dirNames()}")
    assert(reg.history(s, excludeBatchId = 99).count() == 8000 + 200 + 16000)
    assert(reg.history(s, excludeBatchId = 99).distinct().count() ==
      8000 + 200 + 16000)
    // Quiet-stream arm (r13 review finding): a tail of EMPTY appends
    // (all-rejected micro-batches) must not pull the consolidated base
    // into the fold — zero-byte runs once left the accumulator at 0 and
    // the old acc==0 escape hatch folded (rewrote) the whole registry
    // on every idle cycle.
    val consolidated = dirNames()
    val baseAfter = consolidated.map(dataFiles)
    reg.append(spark.range(0).selectExpr("id as k"), 14)
    reg.append(spark.range(0).selectExpr("id as k"), 15)
    reg.maybeCompact(s, batchId = 16, every = 1)
    assert(dirNames().take(consolidated.size) == consolidated &&
      consolidated.map(dataFiles) == baseAfter,
      "empty-append tail triggered a full registry rewrite")
    assert(reg.history(s, excludeBatchId = 99).count() == 8000 + 200 + 16000)
  }

  test("an interrupted fold or reshard leaves the old rows readable") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    // The state a crash leaves between a maintenance step's data and its
    // manifest rename: the new layout and `_manifest.tmp` on disk, the
    // old manifest in place. Built by running the step on a copy of the
    // store and carrying its output back; returns the output directory.
    def interrupted(dir: String, id: Long)(step: String => Unit): String = {
      val copy = Files.createTempDirectory("graft_crash_copy_").toString +
        "/store"
      copyDir(Paths.get(dir), Paths.get(copy))
      step(copy)
      val out = new java.io.File(copy).list().filter(_.startsWith(s"v=$id.")).head
      copyDir(Paths.get(s"$copy/$out"), Paths.get(s"$dir/$out"))
      Files.copy(Paths.get(s"$copy/v=$id/_manifest"),
        Paths.get(s"$dir/v=$id/_manifest.tmp"))
      out
    }
    // the registry's fold of version 2
    val dir = tmp("graft_crash_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"))
    (0 to 2).foreach(b => reg.append(Seq(b * 10L, b * 10L + 1L).toDF("k"), b))
    val all = Set(0L, 1L, 10L, 11L, 20L, 21L)
    val before = reg.runs(s)
    val out = interrupted(dir, 2L)(d => assert(
      new AdmissionRegistry(d, keySchema, Seq("k")).maybeCompact(s, 3, 3) == 3))
    assert(reg.runs(s) == before, "the old manifest must stay in place")
    assert(reg.history(s, excludeBatchId = 9).as[Long].collect().toSet == all,
      "an interrupted fold must not lose a registered row")
    assert(reg.approxRows(s, excludeBatchId = 9) == 6)
    // the writer redoes the fold into a fresh directory, and GC drops
    // the interrupted one
    assert(reg.maybeCompact(s, batchId = 3, every = 3) == 3)
    assert(reg.runs(s).map(_.dir) != Seq(out) && reg.runs(s).size == 1)
    assert(!new java.io.File(s"$dir/$out").exists())
    assert(reg.history(s, excludeBatchId = 9).as[Long].collect().toSet == all)
    // the upsert store's reshard of version 1
    val up = Files.createTempDirectory("graft_crash_up_").toString + "/store"
    val merge = ShardedUpsertSink.mergeBatch(s, up, Seq("k"), Seq("seq"),
      shards = 4) _
    merge((0 until 50).map(i => (s"key$i", 1L, i.toDouble))
      .toDF("k", "seq", "v"), 0L)
    merge(Seq(("key7", 2L, 777.0)).toDF("k", "seq", "v"), 1L)
    def view() = ShardedUpsertSink.currentView(s, up).get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap
    val was = view()
    val upOut = interrupted(up, 1L)(d =>
      ShardedUpsertSink.reshard(s, d, Seq("k"), newShards = 16))
    assert(view() == was && was.size == 50)
    assert(ShardedUpsertSink.lookup(s, up, Seq("k"), Seq("key7")).get
      .collect().map(_.getAs[Double]("v")).toSeq == Seq(777.0))
    assert(Manifest.load(s, up, 1L).modulus == 4)
    // the next merge adopts the old modulus; GC drops the unlisted layout
    merge(Seq(("key8", 2L, 888.0)).toDF("k", "seq", "v"), 2L)
    assert(Manifest.load(s, up, 2L).modulus == 4)
    assert(view() == was + ("key8" -> 888.0))
    assert(!new java.io.File(s"$up/$upOut").exists())
  }

  test("a corrupt or truncated manifest throws, never a smaller modulus") {
    val s = spark
    import s.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    val dir = tmp("graft_trunc_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"), shards = 12)
    reg.append((0L until 64L).toDF("k"), 0)
    val up = Files.createTempDirectory("graft_trunc_up_").toString
    ShardedUpsertSink.mergeBatch(s, up, Seq("k"), Seq("seq"), shards = 12)(
      (0 until 64).map(i => (s"key$i", 1L, i.toDouble))
        .toDF("k", "seq", "v"), 0L)
    val toks = reg.probeTokens(Seq(7L).toDF("k"))
    def regRead() = reg.historyTouched(s, excludeBatchId = 9, toks)
    def upRead() = ShardedUpsertSink.lookup(s, up, Seq("k"), Seq("key7"))
    Seq[(String, () => Any)](dir -> (() => regRead()), up -> (() => upRead()))
      .foreach { case (store, read) =>
        val m = Paths.get(s"$store/v=0/_manifest")
        val text = new String(Files.readAllBytes(m), UTF_8)
        Files.deleteIfExists(Paths.get(s"$store/v=0/._manifest.crc"))
        // Every proper prefix — what a crash mid-write would leave, had
        // the manifest not gone through tmp + rename — and a corrupt
        // body. '#shards 12' cut to '#shards 1' must not prune under 1.
        ((1 until text.length).map(text.take) :+ "not-a-manifest").foreach {
          bad =>
            Files.write(m, bad.getBytes(UTF_8))
            intercept[IllegalStateException](read())
        }
        Files.write(m, text.getBytes(UTF_8))
      }
    assert(regRead().as[Long].collect().contains(7L))
    assert(upRead().get.collect().map(_.getAs[Double]("v")).toSeq == Seq(7.0))
  }

  private def copyDir(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  test("footerStats: exact rows, value ranges, and the driver-safe span cap") {
    import org.apache.spark.sql.types.IntegerType
    val s = spark
    import s.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("w", IntegerType)))
    val dir = tmp("graft_fstats_")
    val reg = new AdmissionRegistry(dir, schema, Seq("k"))
    reg.append(Seq((1L, 3), (2L, 3), (3L, 4)).toDF("k", "w"), 0)
    reg.append(Seq((4L, 4)).toDF("k", "w"), 1)
    val (rows, vals) = reg.footerStats(s, excludeBatchId = 9, Some("w"))
    assert(rows == 4 && vals == Some(Set(3, 4)))
    // exclusion mirrors the history reads' replay determinism
    assert(reg.footerStats(s, excludeBatchId = 1, Some("w"))._1 == 3)
    // the statistics ride the manifest, walked from the footers once at
    // write time: answering them opens no data file
    garble(dir)
    assert(reg.footerStats(s, excludeBatchId = 9, Some("w")) ==
      (4L, Some(Set(3, 4))))
    // SPAN CAP (ADVICE r13): a wide int range — corrupt stats or a
    // wide-domain payload column — must degrade to stats-unavailable,
    // not materialize (lo to hi) on the driver. 2^30-wide span here;
    // pre-fix this allocated a billion-element Set.
    val dirW = tmp("graft_fstatsw_")
    val regW = new AdmissionRegistry(dirW, schema, Seq("k"))
    regW.append(Seq((1L, 0), (2L, 1 << 30)).toDF("k", "w"), 0)
    val (rowsW, valsW) = regW.footerStats(s, excludeBatchId = 9, Some("w"))
    assert(rowsW == 2 && valsW.isEmpty,
      "wide-span footer range must fail safe to None")
  }

  test("NearDupAdmission replay admits the same docs (no self-rejection)") {
    val s = spark
    import s.implicits._
    val adm = new NearDupAdmission(tmp("graft_ndrep_"), "text", "doc_id")
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val batch = Seq((1L, base), (2L, base + " tokExtra"),
      (3L, "completely different subject matter entirely unrelated"))
      .toDF("doc_id", "text")
    val first = adm.admit(batch, batchId = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(first == Set(1L, 3L))
    // Crash between registry append and sink commit → the batch replays.
    // Before the batchId-exclusion fix this returned the empty set (every
    // doc matched its own registered buckets) and docs 1/3 were lost.
    val replayed = adm.admit(batch, batchId = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(replayed == first)
    // The NEXT batch still gates against batch 0's admitted docs.
    val next = Seq((4L, base + " tokOther"),
      (5L, "another disjoint vocabulary document arrives here"))
      .toDF("doc_id", "text")
    assert(adm.admit(next, batchId = 1)
      .select("doc_id").as[Long].collect().toSet == Set(5L))
  }

  test("SpanAdmission replay admits the same docs (no self-rejection)") {
    val s = spark
    import s.implicits._
    val adm = new SpanAdmission(tmp("graft_sprep_"), "text", "doc_id",
      k = 4, gatePct = 50)
    val boiler = (1 to 20).map(i => s"nav$i").mkString(" ")
    val batch = Seq((1L, boiler + " welcome to the site")).toDF("doc_id", "text")
    assert(adm.admit(batch, batchId = 0)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(adm.admit(batch, batchId = 0)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    val next = Seq((2L, boiler + " different footer"),
      (3L, "entirely novel research content with original phrasing"))
      .toDF("doc_id", "text")
    assert(adm.admit(next, batchId = 1)
      .select("doc_id").as[Long].collect().toSet == Set(3L))
  }

  test("smallTrigger: unknown provenance (no file list) is NOT small") {
    // ADVICE r18 (high): Kafka/socket/memory batches report empty
    // inputFiles for EVERY micro-batch — "empty = small" routed
    // unbounded ingest onto the driver collect. The gate must qualify
    // only on a listed, byte-bounded file set.
    val s = spark
    import s.implicits._
    val mem = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(mem.inputFiles.isEmpty) // precondition: in-memory = no files
    assert(!AdmissionRegistry.smallTrigger(mem, maxBytes = 1L << 20),
      "empty file list must not qualify as small")
    // A listed small parquet batch still qualifies...
    val dir = java.nio.file.Files.createTempDirectory("graft_smtrig_")
      .toString
    mem.coalesce(1).write.mode("overwrite").parquet(dir)
    val filed = s.read.parquet(dir)
    assert(filed.inputFiles.nonEmpty)
    assert(AdmissionRegistry.smallTrigger(filed, maxBytes = 1L << 20))
    // ...but not past the byte gate.
    assert(!AdmissionRegistry.smallTrigger(filed, maxBytes = 1L))
  }

  test("smallTrigger: no-file-list batches qualify through the size probe") {
    // r19: the engine's own arrival sources (WARC, any RDD-backed V1
    // source) report empty inputFiles for every micro-batch, so the
    // sound empty-is-not-small rule exiled THEIR tiny triggers to the
    // 9-job distributed path. With a caller-supplied per-row payload
    // size expression the gate runs ONE bounded limit-collect of longs:
    // qualify iff row count ≤ probeRowCap AND summed bytes ≤ maxBytes.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val mem = Seq((1L, "short doc"), (2L, "another short doc"))
      .toDF("doc_id", "text")
    assert(mem.inputFiles.isEmpty)
    val probe = Some(length(col("text")))
    // without a probe: still not small (the 2-arg contract is unchanged)
    assert(!AdmissionRegistry.smallTrigger(mem, maxBytes = 1L << 20))
    // with the probe: qualifies under the byte gate...
    assert(AdmissionRegistry.smallTrigger(mem, 1L << 20, probe))
    // ...fails past it...
    assert(!AdmissionRegistry.smallTrigger(mem, 10L, probe))
    // ...and null payloads count as zero bytes, not an error.
    val withNull = Seq((1L, "short"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(AdmissionRegistry.smallTrigger(withNull, 1L << 20, probe))
    // row-cap arm: a batch past probeRowCap rows must NOT qualify even
    // when its bytes are tiny (the limit stops the scan early, so this
    // is also the bounded-collect guarantee).
    val wide = s.range(AdmissionRegistry.probeRowCap + 8L)
      .selectExpr("id AS doc_id", "'x' AS text")
    assert(!AdmissionRegistry.smallTrigger(wide, 1L << 20, probe))
  }

  test("fast path keeps null-id docs with tokenless text (3VL guard)") {
    // ADVICE r18 (medium): a null-id doc whose text yields no tokens
    // produces no bucket/span row, so the null-id job-path fallback
    // never fires for it — and a bare `!isin(rejected)` filter would
    // silently drop it (`!NULL` = NULL) whenever the rejected set is
    // non-empty, while the job path's anti/inner joins keep it. Both
    // families must admit it, identically on both paths.
    val s = spark
    import s.implicits._
    def batchDf = Seq(
      (java.lang.Long.valueOf(1L), (1 to 30).map(j => s"n$j").mkString(" ")),
      (java.lang.Long.valueOf(2L), (1 to 30).map(j => s"n$j").mkString(" ")),
      (null.asInstanceOf[java.lang.Long], "")) // tokenless null-id doc
      .toDF("doc_id", "text")
    def runNear(fast: Boolean): Set[Option[Long]] = {
      val adm = new NearDupAdmission(tmp("graft_nullfast_"),
        "text", "doc_id")
      adm.admitVia(batchDf, 0L, Some(fast)).select("doc_id").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    }
    // doc 2 dups doc 1 in-batch → rejected set is non-empty, so the
    // keep-filter actually runs; the null-id doc must survive it.
    val expected = Set(Some(1L), None: Option[Long])
    assert(runNear(fast = true) == expected, "near-dup fast path")
    assert(runNear(fast = false) == expected, "near-dup job path")
    def runSpan(fast: Boolean): Set[Option[Long]] = {
      val adm = new SpanAdmission(tmp("graft_nullspan_"),
        "text", "doc_id", k = 4, gatePct = 50)
      val boiler = (1 to 20).map(i => s"nav$i").mkString(" ")
      adm.admitVia(Seq((java.lang.Long.valueOf(1L), boiler + " page one"))
        .toDF("doc_id", "text"), 0L, Some(fast)).count()
      val b1 = Seq(
        (java.lang.Long.valueOf(2L), boiler + " tiny delta"), // covered
        (null.asInstanceOf[java.lang.Long], "ab")) // < k tokens, null id
        .toDF("doc_id", "text")
      adm.admitVia(b1, 1L, Some(fast)).select("doc_id").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    }
    val expectedSpan = Set(None: Option[Long])
    assert(runSpan(fast = true) == expectedSpan, "span fast path")
    assert(runSpan(fast = false) == expectedSpan, "span job path")
  }
}
