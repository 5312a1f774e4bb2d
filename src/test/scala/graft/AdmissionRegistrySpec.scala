package graft

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AdmissionRegistry, NearDupAdmission, SpanAdmission}

/** The shared admission-registry contract: replay-safe per-batch appends
  * (own-batch exclusion — a crashed-then-replayed batch must NOT
  * self-reject the docs it admitted before the crash), fail-closed reads,
  * and layout-preserving compaction. */
class AdmissionRegistrySpec extends AnyFunSuite with SparkTestSupport {

  private val keySchema = StructType(Seq(StructField("k", LongType)))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/state"

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

    val dir = tmp("graft_reg_")
    val bad = new java.io.File(dir + "/batch=0/shard=0")
    bad.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir + "/batch=0/shard=0/part-garbage.parquet"),
      "this is not parquet".getBytes)
    val reg2 = new AdmissionRegistry(dir, keySchema, Seq("k"))
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
    // Physical layout: shard= directories nested under each batch=.
    val shardDirs = new java.io.File(dir + "/batch=0").listFiles()
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
    (0 to 3).foreach(b =>
      reg.append((b * 50L until b * 50L + 50L).toDF("k"), batchId = b))
    assert(reg.compact(s, uptoBatchId = 2) == 3)
    val shardDirs = new java.io.File(dir + "/batch=2").listFiles()
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
    // record its modulus in the _shards marker, and a fixed-size probe
    // must read FEWER bytes from the grown registry than a fixed-count
    // layout would (which reads bytes ∝ registry size forever).
    val dir = tmp("graft_selfsize_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"),
      shards = 4, targetShardBytes = 4096L)
    (0 to 3).foreach(b =>
      reg.append(((b * 4000L) until (b * 4000L + 4000L)).toDF("k"), b))
    assert(reg.compact(s, uptoBatchId = 3) == 4)
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "/batch=3/_shards")))
      .linesIterator.next().trim.toInt // first line = modulus (r14 layout)
    assert(marker > 4, s"self-sized modulus $marker should exceed the floor")
    val nDirs = new java.io.File(dir + "/batch=3").listFiles()
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

  test("_shards marker: absent = fail-safe full read; corrupt = fail closed") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_marker_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"), shards = 8)
    reg.append((1L to 40L).toDF("k"), batchId = 0)
    reg.append((41L to 80L).toDF("k"), batchId = 1)
    val probe = Seq(3L).toDF("k")
    val tokens = reg.probeTokens(probe)
    // Baseline: pruned probe reads a strict subset.
    val (prBytes0, _) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.historyTouched(s, excludeBatchId = 9, tokens)
    }
    val (fullBytes, _) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.history(s, excludeBatchId = 9)
    }
    assert(prBytes0 < fullBytes)
    // ABSENT marker (the crash window between parquet commit and marker
    // write): that directory must be read IN FULL — a superset, never a
    // miss. batch=0 loses its marker; the probe must still see ALL of
    // batch=0's rows while batch=1 stays pruned.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir + "/batch=0/_shards"))
    val pruned = reg.historyTouched(s, excludeBatchId = 9, tokens)
    assert((1L to 40L).toDF("k").join(pruned, Seq("k"), "left_semi")
      .count() == 40, "marker-less directory must be read unpruned")
    val (prBytes1, _) = graft.ext.Sharded.scanFootprint(s, Seq(dir)) {
      reg.historyTouched(s, excludeBatchId = 9, tokens)
    }
    assert(prBytes1 > prBytes0 && prBytes1 < fullBytes,
      s"expected full batch=0 + pruned batch=1: $prBytes0 < $prBytes1 < $fullBytes")
    // CORRUPT marker: pruning with a wrong modulus would silently MISS
    // history rows (= duplicate admissions), so it must THROW instead.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir + "/batch=1/_shards"),
      "not-a-number".getBytes)
    assertThrows[Exception] {
      reg.historyTouched(s, excludeBatchId = 9, tokens).count()
    }
    // The unpruned audit read ignores markers entirely and still works.
    assert(reg.history(s, excludeBatchId = 9).count() == 80)
  }

  test("compact folds committed batches and preserves exclusion layout") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_reg_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"))
    reg.append(Seq(1L).toDF("k"), batchId = 0)
    reg.append(Seq(2L).toDF("k"), batchId = 1)
    reg.append(Seq(3L).toDF("k"), batchId = 2)
    reg.append(Seq(4L).toDF("k"), batchId = 3)
    assert(reg.compact(s, uptoBatchId = 2) == 3)
    // Folded rows live on under batch=2; batch=3 is untouched.
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs == Set("batch=2", "batch=3"))
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
    def batchDirs() = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
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
    // History folded into batch=8 still gates: a near-dup of batch 0's
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
    // registries row-identical (batch + shard layout included)
    def registryRows(dir: String): Set[(Long, Long, Int, Long)] =
      s.read.parquet(dir)
        .selectExpr("CAST(batch AS BIGINT)", "CAST(shard AS BIGINT)",
          "band", "bucket")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
    assert(registryRows(fastDir) == registryRows(jobDir))
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
    def registryRows(dir: String): Set[(Long, Long, Long)] =
      s.read.parquet(dir)
        .selectExpr("CAST(batch AS BIGINT)", "CAST(shard AS BIGINT)", "sh")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(registryRows(fastDir) == registryRows(jobDir))
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
    val dirs = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs.size <= 3, s"layout: $dirs")
  }

  test("maybeCompact is geometric: small runs fold, a big base is not rewritten") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_geo_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"), shards = 4)
    def dataFiles(batch: String): Set[String] = {
      val root = new java.io.File(s"$dir/$batch")
      if (!root.exists()) Set.empty
      else root.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    def dirNames(): Set[String] = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    // Four equal appends -> the first scheduled fold takes them all.
    // (2000-row batches: data bytes must dominate parquet footers for
    // the size comparisons below to mean what they say.)
    (0 to 3).foreach(b => reg.append((b * 2000L until b * 2000L + 2000L)
      .toDF("k"), b))
    reg.maybeCompact(s, batchId = 4, every = 1)
    assert(dirNames() == Set("batch=3"), s"layout: ${dirNames()}")
    val baseFiles = dataFiles("batch=3")
    // Two SMALL appends: the next fold must merge only them — the big
    // base (8000 rows vs 100+100) stays byte-identical (same part
    // files), which is the whole point: fold-everything would rewrite
    // the registry every cycle, O(registry/every) amortized per trigger.
    reg.append((90000L until 90100L).toDF("k"), 4)
    reg.append((90100L until 90200L).toDF("k"), 5)
    reg.maybeCompact(s, batchId = 6, every = 1)
    assert(dirNames() == Set("batch=3", "batch=5"), s"layout: ${dirNames()}")
    assert(dataFiles("batch=3") == baseFiles,
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
    val consolidated = dirNames().map(_.stripPrefix("batch=").toLong).max
    val baseAfter = dataFiles(s"batch=$consolidated")
    reg.append(spark.range(0).selectExpr("id as k"), 14)
    reg.append(spark.range(0).selectExpr("id as k"), 15)
    reg.maybeCompact(s, batchId = 16, every = 1)
    assert(dataFiles(s"batch=$consolidated") == baseAfter,
      "empty-append tail triggered a full registry rewrite")
    assert(reg.history(s, excludeBatchId = 99).count() == 8000 + 200 + 16000)
  }

  test("fold swap crash windows recover without losing registered rows") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_crash_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"))
    (0 to 2).foreach(b => reg.append(Seq(b * 10L, b * 10L + 1L).toDF("k"), b))
    assert(reg.compact(s, uptoBatchId = 2) == 3)
    // Window A (ADVICE r13): crash BETWEEN the target's rename-aside and
    // the tmp→target rename — the folded run survives only as
    // `.retire_batch=2` (+ the stale tmp). Pre-fix, reads silently
    // missed every folded row and the next fold deleted the only copy.
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/batch=2"),
      java.nio.file.Paths.get(s"$dir/.retire_batch=2"))
    val reg2 = new AdmissionRegistry(dir, keySchema, Seq("k")) // fresh caches
    // READ paths observe the aside as an extra source WITHOUT repairing
    // it (ADVICE r14): a reader in a separate audit process renaming
    // mid-swap would make the writer's own rename fail and abort its
    // trigger. No row vanishes, and the layout is untouched.
    assert(reg2.history(s, excludeBatchId = 9).as[Long].collect().toSet ==
      Set(0L, 1L, 10L, 11L, 20L, 21L),
      "interrupted swap must stay readable — no registered row may vanish")
    assert(reg2.approxRows(s, excludeBatchId = 9) == 6,
      "footerStats must count the aside's rows")
    assert(!new java.io.File(s"$dir/batch=2").exists() &&
      new java.io.File(s"$dir/.retire_batch=2").exists(),
      "read-only history() must NOT perform recovery renames")
    // The MUTATING path (the single writer's compaction schedule) is
    // where recovery runs: the aside is restored to its batch= target.
    reg2.maybeCompact(s, batchId = 3, every = 3)
    assert(new java.io.File(s"$dir/batch=2").exists() &&
      !new java.io.File(s"$dir/.retire_batch=2").exists(),
      "writer-path compaction must unwind the interrupted swap")
    assert(reg2.history(s, excludeBatchId = 9).as[Long].collect().toSet ==
      Set(0L, 1L, 10L, 11L, 20L, 21L))
    // Window B: crash AFTER the swap, before the aside delete — the
    // aside duplicates rows the new target holds; reads skip it (a
    // stale duplicate) and the writer path drops it.
    reg2.append(Seq(30L).toDF("k"), 3)
    assert(reg2.compact(s, uptoBatchId = 3) == 2)
    copyDir(java.nio.file.Paths.get(s"$dir/batch=3"),
      java.nio.file.Paths.get(s"$dir/.retire_batch=3"))
    val reg3 = new AdmissionRegistry(dir, keySchema, Seq("k"))
    assert(reg3.history(s, excludeBatchId = 9).count() == 7,
      "stale aside (target present) must not double-count rows")
    assert(new java.io.File(s"$dir/.retire_batch=3").exists(),
      "read-only history() must not delete the stale aside")
    reg3.compact(s, uptoBatchId = 3)
    assert(!new java.io.File(s"$dir/.retire_batch=3").exists(),
      "completed swap's stale aside must be dropped by the writer path")
    assert(reg3.history(s, excludeBatchId = 9).count() == 7)
  }

  test("a truncated _shards marker cannot be observed (tmp+rename commit)") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_marker_")
    val reg = new AdmissionRegistry(dir, keySchema, Seq("k"), shards = 12)
    reg.append((0L until 64L).toDF("k"), 0)
    // The marker is committed via tmp + rename (ADVICE r14): mid-write
    // state lives only in `_shards.tmp`, so a reader never sees a
    // truncated first line that parses as a SMALLER modulus ('12' → '1')
    // and prunes history under it. Simulate the only crash window the
    // protocol leaves — tmp written, rename not yet done: the marker is
    // ABSENT, which the registry treats as unprunable-full-read (a
    // superset, never a miss).
    val marker = new java.io.File(s"$dir/batch=0/_shards")
    val tmpF = new java.io.File(s"$dir/batch=0/_shards.tmp")
    java.nio.file.Files.move(marker.toPath, tmpF.toPath)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/batch=0/._shards.crc"))
    val reg2 = new AdmissionRegistry(dir, keySchema, Seq("k"), shards = 12)
    val toks = reg2.probeTokens(Seq(7L).toDF("k"))
    assert(reg2.historyTouched(s, excludeBatchId = 9, toks)
      .count() == 64, "marker-absent dir must be read IN FULL (fail safe)")
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
    // marker layout is MERGED (r14): one `_shards` file per dir, no _meta
    assert(new java.io.File(s"$dir/batch=0/_shards").exists() &&
      !new java.io.File(s"$dir/batch=0/_meta").exists())
    val (rows, vals) = reg.footerStats(s, excludeBatchId = 9, Some("w"))
    assert(rows == 4 && vals == Some(Set(3, 4)))
    // exclusion mirrors the history reads' replay determinism
    assert(reg.footerStats(s, excludeBatchId = 1, Some("w"))._1 == 3)
    // legacy modulus-only marker (pre-r14 layout): stats lines absent →
    // footer-walk fallback still yields the exact count and ranges
    val m = java.nio.file.Paths.get(s"$dir/batch=0/_shards")
    val modulus = new String(java.nio.file.Files.readAllBytes(m))
      .linesIterator.next()
    java.nio.file.Files.write(m, modulus.getBytes)
    val reg1 = new AdmissionRegistry(dir, schema, Seq("k"))
    assert(reg1.footerStats(s, excludeBatchId = 9, Some("w")) ==
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
