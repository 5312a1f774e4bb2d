package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.GraftSession
import graft.ext.Sharded
import graft.streaming.{AdmissionRegistry, ShardedUpsertSink}

/** LIFETIME soak for the maintained stores (VERDICT r14 #5): the
  * ChainedStress families prove content identity over a handful of
  * slices and the latency matrices prove per-trigger bounds at fixed
  * trigger counts, but no run had held ONE registry and ONE sharded
  * upsert store through thousands of triggers with geometric folds,
  * self-sized reshards, and GC interleaved — the 100× LIFETIME axis the
  * size-scaling benches cannot reach. This harness drives ~2k small
  * triggers against both stores and asserts the O(log)/flat claims as
  * invariants, not eyeballs:
  *
  *   - registry live `batch=` directories stay O(log lifetime): at
  *     trigger i the bound is `every + ceil(log2(mass)) + slack` (the
  *     unfolded tail plus the super-increasing folded runs);
  *   - total on-disk file counts stay bounded (registry: O(live dirs ×
  *     shards); upsert: O(P + touched), never O(lifetime));
  *   - the K-key pruned probe's bytes stay FLAT while the registry
  *     grows ~linearly (guarantee 2's plateau, now over lifetime);
  *   - a point lookup's file footprint stays at 1-2 files through
  *     every reshard;
  *   - driver heap after GC stays bounded (no per-trigger accumulation
  *     in the stores' driver-side paths);
  *   - FINAL content is EXACT vs a one-shot computation over the same
  *     generated rows: registry history ≡ distinct union of appends,
  *     upsert view ≡ keep-latest over all batches (count + bit_xor of
  *     row hashes).
  *
  * Trigger ids share one monotone counter across merges and reshards —
  * the same id discipline [[ShardedUpsertSink.start]] enforces for
  * resumed streams. Shard/fold targets are sized far above parquet's
  * per-file footer overhead is NOT possible at 32-row triggers, so the
  * soak uses small targets (the policies are size-ratio-driven; the
  * measured LAWS, not the absolute bytes, are what transfer to 100 TB).
  *
  * Usage: runMain graft.tools.LifetimeSoak [triggers] [batchRows]
  * (defaults 2048 × 32; ~2k Spark write jobs ⇒ run on an idle box.)
  */
object LifetimeSoak {

  def main(args: Array[String]): Unit = {
    val triggers = args.headOption.map(_.toInt).getOrElse(2048)
    val batchRows = if (args.length > 1) args(1).toInt else 32
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory("graft_soak_").toString
    val regDir = s"$root/registry"
    val upDir = s"$root/upsert"
    val regSchema = StructType(Seq(StructField("k", LongType)))
    val every = 16
    val reg = new AdmissionRegistry(regDir, regSchema, Seq("k"),
      shards = 4, targetShardBytes = 64L << 10)
    val upKeys = Seq("k")
    val keyDomain = 200000L

    // deterministic generators: trigger i contributes batchRows rows
    // with global ids gid = i*batchRows + j
    def gids(i: Long) = spark.range(i * batchRows, (i + 1) * batchRows)
    def regRows(i: Long) = gids(i)
      .select(pmod(xxhash64(col("id"), lit("r")), lit(100000L)).as("k"))
    def upRows(i: Long) = gids(i).select(
      pmod(xxhash64(col("id"), lit("u")), lit(keyDomain)).as("k"),
      col("id").as("seq"), // globally monotone: keep-latest = max gid
      (col("id") % 1000).cast("double").as("v"),
      md5(col("id").cast("string")).as("doc"))

    println(s"[soak] triggers=$triggers batch_rows=$batchRows " +
      s"compact_every=$every upsert_target=64KiB registry_target=64KiB " +
      "(trigger i / live dirs / reg files / probe KB / upsert P / " +
      "upsert files / lookup files / reshards / heap MB)")

    var nextId = 0L
    var reshards = 0
    var probeKbFirst = -1.0
    val samples = scala.collection.mutable.ArrayBuffer[String]()

    def fileCount(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) 1
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(dir))
    }
    def liveDirs: Seq[String] = Option(new java.io.File(regDir).listFiles())
      .getOrElse(Array.empty).filter(f => f.isDirectory &&
        f.getName.startsWith("batch=")).map(_.getName).toSeq

    val t0 = System.nanoTime()
    (0 until triggers).foreach { i =>
      val mergeId = nextId; nextId += 1
      reg.maybeCompact(spark, mergeId, every)
      reg.append(regRows(i), mergeId)
      ShardedUpsertSink.mergeBatch(spark, upDir, upKeys, Seq("seq"),
        shards = 8)(upRows(i), mergeId)
      if (i % 256 == 255) {
        val rid = nextId
        ShardedUpsertSink.maybeReshard(spark, upDir, upKeys, rid,
          targetShardBytes = 64L << 10).foreach { p =>
          nextId += 1; reshards += 1
          println(s"[soak]   trigger=$i resharded upsert store to P=$p " +
            s"(version $rid)")
        }
      }
      if (i % 128 == 127 || i == triggers - 1) {
        // pruned probe bytes at K=4 (guarantee 2 over lifetime)
        val probe = spark.range(4)
          .select(pmod(xxhash64(col("id"), lit("probe")), lit(100000L)).as("k"))
        val tokens = reg.probeTokens(probe)
        val (pb, _) = Sharded.scanFootprint(spark, Seq(regDir)) {
          reg.historyTouched(spark, Long.MaxValue, tokens)
        }
        if (probeKbFirst < 0) probeKbFirst = pb / 1024.0
        // point-lookup footprint through reshards
        val probeKey = java.lang.Math.floorMod(
          new scala.util.Random(i).nextLong(), keyDomain)
        val (_, lkFiles) = Sharded.scanFootprint(spark, Seq(upDir)) {
          ShardedUpsertSink.lookup(spark, upDir, upKeys, Seq(probeKey)).get
        }
        val upP = {
          val last = ShardedUpsertSink.versions(spark, upDir).last
          new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
            .get(s"$upDir/v=$last/_manifest"))).linesIterator.next()
            .stripPrefix("#shards ").trim.toInt
        }
        System.gc()
        val heapMb = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / 1e6
        val dirs = liveDirs
        val logBound = every + 2 +
          (64 - java.lang.Long.numberOfLeadingZeros(i + 2L))
        val line = f"[soak] i=$i%5d live_dirs=${dirs.size}%3d " +
          f"(bound=$logBound%3d) reg_files=${fileCount(regDir)}%5d " +
          f"probe_kb=${pb / 1024.0}%8.1f up_P=$upP%5d " +
          f"up_files=${fileCount(upDir)}%5d lookup_files=$lkFiles%2d " +
          f"reshards=$reshards heap_mb=$heapMb%7.1f"
        println(line); samples += line
        // THE INVARIANTS (assert, don't eyeball)
        require(dirs.size <= logBound,
          s"live dirs ${dirs.size} > O(log) bound $logBound: $dirs")
        require(lkFiles <= 2, s"lookup footprint grew: $lkFiles files")
        require(pb / 1024.0 <= math.max(probeKbFirst * 4, 512.0),
          f"probe bytes not flat: first $probeKbFirst%.1f KB now ${pb / 1024.0}%.1f KB")
      }
    }
    val soakS = (System.nanoTime() - t0) / 1e9

    // FINAL content identity vs one-shot (count + bit_xor of row hashes)
    val n = triggers.toLong * batchRows
    val allIds = spark.range(n)
    val expReg = allIds
      .select(pmod(xxhash64(col("id"), lit("r")), lit(100000L)).as("k"))
      .distinct()
    val gotReg = reg.history(spark, excludeBatchId = Long.MaxValue).distinct()
    def sig(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.agg(count(lit(1)).as("n"),
        expr(s"bit_xor(xxhash64(${cols.mkString(",")}))").as("x"))
        .collect().head.toSeq
    val (rs, es) = (sig(gotReg, Seq("k")), sig(expReg, Seq("k")))
    require(rs == es, s"registry content drifted: got $rs expected $es")

    val expUp = graft.ops.Upsert.keepLatestPerKey(
      allIds.select(
        pmod(xxhash64(col("id"), lit("u")), lit(keyDomain)).as("k"),
        col("id").as("seq"), (col("id") % 1000).cast("double").as("v"),
        md5(col("id").cast("string")).as("doc")),
      Seq("k"), Seq("seq"))
    val gotUp = ShardedUpsertSink.currentView(spark, upDir).get
      .select("k", "seq", "v", "doc")
    val (us, ues) = (sig(gotUp, Seq("k", "seq", "v", "doc")),
      sig(expUp, Seq("k", "seq", "v", "doc")))
    require(us == ues, s"upsert view drifted: got $us expected $ues")

    println(f"[soak] PASS triggers=$triggers rows=$n wall_s=$soakS%.0f " +
      f"registry_rows=${rs.head} upsert_keys=${us.head} " +
      f"reshards=$reshards final: ${samples.last.stripPrefix("[soak] ")}")
    spark.stop()
  }
}
