package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  *   - the registry's live runs (its newest manifest's entries) stay
  *     O(log lifetime): at trigger i the bound is `every +
  *     ceil(log2(mass)) + slack` (the unfolded tail plus the
  *     super-increasing folded runs);
  *   - total on-disk file counts stay bounded (registry: O(live runs ×
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
  * Both stores commit trigger i as version i; folds and reshards
  * replace the newest manifest and spend no id. Shard/fold targets
  * sized far above parquet's per-file footer overhead are NOT possible
  * at 32-row triggers, so the soak uses small targets (the policies are
  * size-ratio-driven; the measured LAWS, not the absolute bytes, are
  * what transfer to 100 TB).
  *
  * The defaults (2048 × 32) are ~2k Spark write jobs; run on an idle box.
  */
object LifetimeSoak {

  /** The registry invariants both soaks assert (this one and
    * [[CrawlArrival]]) at trigger `i`: the live runs of the registry's
    * newest manifest stay within the O(log lifetime) bound `every +
    * ceil(log2(i)) + slack`, and the pruned history probe of the fixed
    * `probe` frame reads no more than 4× its `firstKb` (or 512 KB).
    * Returns (live runs, bound, probe KB). */
  private[tools] def checkRegistry(reg: AdmissionRegistry, dir: String,
      every: Int, i: Long, probe: DataFrame,
      firstKb: Option[Double]): (Int, Int, Double) = {
    val spark = probe.sparkSession
    val (pb, _) = Sharded.scanFootprint(spark, Seq(dir)) {
      reg.historyTouched(spark, Long.MaxValue, reg.probeTokens(probe))
    }
    val kb = pb / 1024.0
    val live = reg.runs(spark).size
    val bound = every + 2 + (64 - java.lang.Long.numberOfLeadingZeros(i + 2L))
    require(live <= bound,
      s"live runs $live > O(log) bound $bound at trigger $i")
    firstKb.foreach(f => require(kb <= math.max(f * 4, 512.0),
      f"probe bytes not flat: first $f%.1f KB now $kb%.1f KB at trigger $i"))
    (live, bound, kb)
  }

  /** `soak [triggers] [batchRows]`. */
  def run(spark: SparkSession, a: Seq[String]): Run.Metrics = {
    val triggers = Run.intArg(a, 0, 2048)
    val batchRows = Run.intArg(a, 1, 32)

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

    var reshards = 0
    var upP = 8 // shard count: the first merge's, then each reshard's
    var probeKbFirst = Option.empty[Double]
    var last = Map.empty[String, Any]

    def fileCount(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) 1
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(dir))
    }

    val (_, soakS) = Run.timed((0 until triggers).foreach { i =>
      reg.maybeCompact(spark, i, every)
      reg.append(regRows(i), i)
      ShardedUpsertSink.mergeBatch(spark, upDir, upKeys, Seq("seq"),
        shards = 8)(upRows(i), i)
      if (i % 256 == 255)
        ShardedUpsertSink.maybeReshard(spark, upDir, upKeys,
          targetShardBytes = 64L << 10).foreach { p =>
          reshards += 1; upP = p
          Run.progress(s"soak trigger=$i resharded upsert store to P=$p")
        }
      if (i % 128 == 127 || i == triggers - 1) {
        // pruned probe bytes at K=4 (guarantee 2 over lifetime)
        val (dirs, logBound, probeKb) = checkRegistry(reg, regDir, every, i,
          spark.range(4).select(pmod(xxhash64(col("id"), lit("probe")),
            lit(100000L)).as("k")), probeKbFirst)
        probeKbFirst = probeKbFirst.orElse(Some(probeKb))
        // point-lookup footprint through reshards
        val probeKey = java.lang.Math.floorMod(
          new scala.util.Random(i).nextLong(), keyDomain)
        val (_, lkFiles) = Sharded.scanFootprint(spark, Seq(upDir)) {
          ShardedUpsertSink.lookup(spark, upDir, upKeys, Seq(probeKey)).get
        }
        System.gc()
        val heapMb = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / 1e6
        last = ListMap("trigger" -> i, "live_dirs" -> dirs,
          "live_dirs_bound" -> logBound, "reg_files" -> fileCount(regDir),
          "probe_kb" -> probeKb, "upsert_shards" -> upP,
          "upsert_files" -> fileCount(upDir), "lookup_files" -> lkFiles,
          "heap_mb" -> heapMb)
        Run.progress("soak " + Run.json(last))
        require(lkFiles <= 2, s"lookup footprint grew: $lkFiles files")
      }
    })

    // FINAL content identity vs one-shot (count + bit_xor of row hashes)
    val n = triggers.toLong * batchRows
    val allIds = spark.range(n)
    val expReg = allIds
      .select(pmod(xxhash64(col("id"), lit("r")), lit(100000L)).as("k"))
      .distinct()
    val gotReg = reg.history(spark, excludeBatchId = Long.MaxValue).distinct()
    def sig(df: DataFrame, cols: Seq[String]) =
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

    ListMap("triggers" -> triggers, "rows" -> n, "soak_s" -> soakS,
      "exact" -> true, "registry_rows" -> rs.head, "upsert_keys" -> us.head,
      "reshards" -> reshards, "probe_kb_first" -> probeKbFirst, "last" -> last)
  }
}
