package graft.tools

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.streaming.Pipeline

/** Streaming measurements for the flagship chain and its streaming
  * subsystems.
  *
  *   - `throughput` (default): rate source → synthetic review JSON (the
  *     Kafka `value` envelope) → [[Pipeline.summarize]] (decode →
  *     normalize → 1-day window agg, update mode) → noop sink. Sustained
  *     rows/s over the steady-state window, wall time taken from the
  *     first/last progress timestamps (NOT Σ batchDuration, which skips
  *     inter-batch idle and overstates the rate).
  *
  * The K2 serving tier (summary → [[graft.streaming.ShardedUpsertSink]]
  * → HTTP reads while merges run) is measured by the repository's
  * benchmark (`perfbench/`, workload `dashboard`).
  *
  * Context: the reference's replay producer tops out at ≈ 95 records/s BY
  * DESIGN (per-record sleep + flush, `stream_generator.py:10-11`).
  *
  * Round-10 arms (VERDICT r9 #6 — the composed streaming-curation path
  * had specs but no throughput number):
  *
  *   - `curation`: rate source → synthetic documents with controlled
  *     duplicate structure (20% exact dups from a 64-template pool, 10%
  *     near-dup variants of those templates, 10% boilerplate-heavy
  *     pages, all sharing a navigation-chrome prefix) → [[Curation]]
  *     gate (Gopher rules + stateful exact-fingerprint dedup) →
  *     [[NearDupAdmission]] → [[SpanAdmission]] → parquet corpus sink,
  *     with BOTH registries' watermark-driven compaction live
  *     (compactEvery=8). Reports sustained input rows/s, per-batch
  *     admission latency p50/p95 (the foreachBatch body: both admits +
  *     the sink write), and the per-stage admitted counts.
  *   - `mediagate`: rate source → fixture media blobs (PNG / baseline
  *     JPEG / 4:2:0 JPEG / multi-frame GIF / PCM WAV / junk, cycling)
  *     → [[graft.streaming.MediaGate.gate]] full-decode admission →
  *     noop sink. Reports sustained decode-gate rows/s (the per-blob
  *     CPU kernel cost, the number the 100 TB multimodal ingest story
  *     needs).
  *
  * `upsert-sharded` (VERDICT r13 #4) = per-trigger merge cost of a
  * sharded store at a large key domain. Round-15 arms (VERDICT r14
  * #1/#4/#6): `upsert-lookup` = point-lookup
  * latency p50/p95 against a populated sharded store, with the retired
  * per-probe hash job as the overhead reference; `curation-paired` =
  * the load-immune A/B-interleaved chain measurement (see
  * runCurationPaired); `statestore` = RocksDB vs default state store
  * for the A1 window agg at a ≥10⁶ (window × game) key domain.
  *
  * Usage: runMain graft.tools.StreamBench
  *        [throughput|curation|curation-bounded|mediagate|upsert-sharded|
  *         upsert-lookup|curation-paired|statestore|warc-arrival]
  *        [rowsPerSec] [secs]
  * (`curation-bounded` takes batch-row sizes instead of rowsPerSec —
  * fixed-size triggers via rate-micro-batch, see runCurationBounded;
  * `curation-paired` takes [batchA batchB rounds];
  * `statestore` takes [rowsPerBatch triggers].)
  */
object StreamBench {

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(a => !a.forall(_.isDigit))
      .getOrElse("throughput")
    val numeric = args.dropWhile(a => !a.forall(_.isDigit))
    val rps = numeric.headOption.map(_.toInt).getOrElse(mode match {
      case "curation" => 15000
      case "mediagate" => 200000
      case _ => 500000
    })
    val seconds = if (numeric.length > 1) numeric(1).toInt else 30
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", cpus)
      .load()
    // Synthetic review JSON in the Kafka value envelope: 500 games,
    // event times spread over ~12 days so the window state is non-trivial.
    // NOTE app_id must be a JSON NUMBER: Review.schema declares LongType
    // and from_json nulls a quoted value instead of coercing it. (A
    // string-cast here once collapsed every row to app_id=null — 13
    // window-only keys — silently understating the aggregation state.)
    val frames = rate.select(to_json(struct(
      (col("value") % 500).as("app_id"),
      concat(lit("Game "), col("value") % 500).as("app_name"),
      (lit(1600000000L) + col("value") % 1000000L).as("timestamp_created"),
      (col("value") % 6000).cast("double").as("author_playtime_at_review"),
      (when(col("value") % 3 === 0, -1.0).otherwise(1.0)).as("sentiment"),
      (when(col("value") % 2 === 0, "true").otherwise("false"))
        .as("recommended"))).cast("binary").as("value"))

    mode match {
      case "curation" => runCuration(spark, rate, rps, seconds)
      case "curation-bounded" => runCurationBounded(spark,
        if (numeric.nonEmpty) numeric.map(_.toInt).toSeq
        else Seq(10000, 50000))
      case "mediagate" => runMediaGate(spark, rate, rps, seconds)
      case "upsert-sharded" => runUpsertSharded(spark,
        numeric.headOption.map(_.toLong).getOrElse(10000000L),
        if (numeric.length > 1) numeric.drop(1).map(_.toInt).toSeq
        else Seq(64, 1024, 16384))
      case "upsert-lookup" => runUpsertLookup(spark,
        numeric.headOption.map(_.toLong).getOrElse(1000000L),
        if (numeric.length > 1) numeric(1).toInt else 200)
      case "curation-paired" => runCurationPaired(spark,
        if (numeric.length > 0) numeric(0).toInt else 10000,
        if (numeric.length > 1) numeric(1).toInt else 50000,
        if (numeric.length > 2) numeric(2).toInt else 12)
      case "statestore" => runStateStore(spark,
        if (numeric.length > 0) numeric(0).toInt else 200000,
        if (numeric.length > 1) numeric(1).toInt else 15)
      case "warc-arrival" => runWarcArrival(spark,
        if (numeric.length > 0) numeric(0).toInt else 16,
        if (numeric.length > 1) numeric(1).toInt else 160)
      case _ => runThroughput(Pipeline.summarize(frames), rps, seconds)
    }
    spark.stop()
  }

  /** The sharded upsert store at a LARGE key domain (VERDICT r13 #4):
    * a `keyDomain`-key view (default 10⁷) is pre-populated, then
    * fixed-size upsert triggers stream through [[graft.streaming
    * .ShardedUpsertSink]] (shards = 1024) — per-trigger merge latency,
    * touched shards, and bytes written must track the BATCH's key
    * spread, not view size. Keys are hash-spread (worst-case locality: a
    * `batchRows`-key trigger touches ≈ min(batchRows, P) shards — any
    * real key clustering only lowers the sharded arm's cost). */
  private def runUpsertSharded(spark: SparkSession, keyDomain: Long,
      batchSizes: Seq[Int], batchesPerPoint: Int = 10): Unit = {
    import graft.streaming.ShardedUpsertSink
    val cpus = GraftSession.cpus
    val shards = 1024
    def du(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    // ~96 B of entropy-rich payload per row: the component's own contract
    // scopes it to views too large to rewrite per batch — skinny 3-long
    // rows at 10⁷ keys compress to ~70 MB, where a full rewrite is one
    // cheap sequential write and the manifest layout's per-trigger
    // constant costs dominate instead of its byte savings. ~1 GB of
    // incompressible view is the regime the sink exists for.
    def payload(k: org.apache.spark.sql.Column) = concat(
      md5(k.cast("string")), md5(concat(k.cast("string"), lit("b"))),
      md5(concat(k.cast("string"), lit("c"))))
    def upserts(rate: DataFrame) = rate.select(
      pmod(xxhash64(col("value"), lit("k")), lit(keyDomain)).as("k"),
      col("value").as("seq"),
      (col("value") % 1000).cast("double").as("v"))
      .withColumn("doc", payload(col("k")))
    def seed(s: SparkSession) = s.range(keyDomain).select(
      col("id").as("k"), lit(-1L).as("seq"),
      (col("id") % 1000).cast("double").as("v"))
      .withColumn("doc", payload(col("k")))
    println(s"[streambench] mode=upsert-sharded key_domain=$keyDomain " +
      s"shards=$shards batch_sizes=${batchSizes.mkString(",")} " +
      "row=~96B payload (bytes/trigger = new version dir)")

    batchSizes.foreach { rows =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_sb_ush_$rows").toString + "/store"
      val merge = ShardedUpsertSink.mergeBatch(spark, base,
        keys = Seq("k"), orderCols = Seq("seq"), shards = shards) _
      val (seedS, _) = {
        val t0 = System.nanoTime()
        merge(seed(spark), 0L)
        ((System.nanoTime() - t0) / 1e9, ())
      }
      val rate = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows)
        .option("numPartitions", cpus)
        .load()
      val stats = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Int, Long)]()
      val q = upserts(rate).writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          merge(batch, id + 1) // ids above the seed version
          val ms = (System.nanoTime() - t0) / 1e6
          val vdir = new java.io.File(s"$base/v=${id + 1}")
          val touched = Option(vdir.listFiles()).getOrElse(Array.empty)
            .count(_.getName.startsWith("shard="))
          stats.add((ms, touched, du(vdir)))
          ()
        }.start()
      val deadline = System.currentTimeMillis() + 900000L
      while (stats.size < batchesPerPoint + 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(500)
      q.stop()
      val xs = { import scala.jdk.CollectionConverters._
        stats.asScala.toSeq.drop(2) } // codegen/footer warmup triggers
      val lat = xs.map(_._1)
      val viewMb = du(new java.io.File(base)) / 1e6
      println(f"[streambench] sharded  batch_rows=$rows%6d " +
        f"batches=${xs.size}%3d seed_s=$seedS%6.1f " +
        f"merge_ms_p50=${pct(lat, 0.5)}%7.0f merge_ms_p95=${pct(lat, 0.95)}%7.0f " +
        f"touched_shards=${xs.map(_._2).sum / math.max(xs.size, 1)}%5d/$shards " +
        f"mb_per_trigger=${xs.map(_._3).sum / math.max(xs.size, 1) / 1e6}%8.2f " +
        f"store_mb=$viewMb%8.1f")
    }
  }

  /** Point-lookup latency against a populated sharded upsert store
    * (VERDICT r14 #1 done-criterion): [[graft.streaming.ShardedUpsertSink
    * .lookup]] now hashes the key DRIVER-SIDE (zero Spark jobs before
    * the pruned one-shard read). Reports p50/p95 for (a) lookup frame
    * construction (the formerly job-bearing part), (b) end-to-end
    * lookup+collect, and (c) the retired `spark.range(1)…head()` hash
    * job as the overhead reference each lookup used to pay first. */
  /** Crawl-ARRIVAL ingestion rate: WET gz shards land one per trigger
    * (file rename = atomic arrival) while `Warc.streamWet` parses them
    * through the checkpointed binaryFile source — the §17.10 tier's
    * streaming half, measured: per-trigger wall (cold vs warm-tail) and
    * the sustained docs/s and text-MB/s a single box ingests at. The
    * corpus is documents×`replicas` (same fixture law as SURVEY
    * §17.10's throughput table);
    * each trigger is one shard ≈ corpus/`shards`. */
  private def runWarcArrival(spark: SparkSession, shards: Int,
      replicas: Int): Unit = {
    import graft.ext.WarcFixtures
    def loadAvg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val base = java.nio.file.Files
      .createTempDirectory("graft_sb_warc_").toString
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val maxId = docs0.agg(max("doc_id")).head().getLong(0) + 1
    spark.range(replicas).toDF("rep").crossJoin(docs0)
      .select((col("doc_id") + col("rep") * maxId).as("doc_id"),
        col("source"),
        concat(col("text"), lit(" rep "), col("rep")).as("text"))
      .write.parquet(s"$base/stage/documents.parquet")
    val nDocs = spark.read.parquet(s"$base/stage/documents.parquet").count()
    val mbText = spark.read.parquet(s"$base/stage/documents.parquet")
      .agg(sum(octet_length(col("text")))).head().getLong(0) / 1e6
    WarcFixtures.writeWetShards(spark, s"$base/stage", s"$base/pending",
      shards, gzip = true)
    val pending = new java.io.File(s"$base/pending").listFiles()
      .filter(_.getName.endsWith(".gz")).sortBy(_.getName)
    val watch = new java.io.File(s"$base/watch")
    watch.mkdirs()
    println(f"[streambench] mode=warc-arrival shards=${pending.length} " +
      f"docs=$nDocs text_mb=$mbText%.1f loadavg=${loadAvg()}")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = graft.sources.Warc.streamWet(spark, watch.toString)
      .writeStream
      .option("checkpointLocation", s"$base/ck")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(df.count()); ()
      }
      .start()
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    var drainWall = 0.0
    try {
      // phase 1: trickle arrival — one shard lands per trigger (the
      // steady-state crawl shape: ingest latency per arriving archive)
      pending.foreach { f =>
        val t0 = System.nanoTime()
        java.nio.file.Files.move(f.toPath,
          new java.io.File(watch, f.getName).toPath)
        q.processAllAvailable()
        walls += (System.nanoTime() - t0) / 1e9
      }
      require(seen.get() == nDocs, s"lost: ${seen.get()} != $nDocs")
      // phase 2: backlog drain — a second full shard set lands AT ONCE,
      // so one trigger carries maxFilesPerTrigger files in parallel
      // tasks (the catch-up shape after an outage)
      WarcFixtures.writeWetShards(spark, s"$base/stage",
        s"$base/pending2", shards, gzip = true)
      val second = new java.io.File(s"$base/pending2").listFiles()
        .filter(_.getName.endsWith(".gz")).sortBy(_.getName)
      val t0 = System.nanoTime()
      second.foreach(f => java.nio.file.Files.move(f.toPath,
        new java.io.File(watch, "b2_" + f.getName).toPath))
      q.processAllAvailable()
      drainWall = (System.nanoTime() - t0) / 1e9
      require(seen.get() == 2L * nDocs,
        s"lost in drain: ${seen.get()} != ${2L * nDocs}")
    } finally q.stop()
    val warm = walls.drop(2).toSeq // codegen + source-init warmup
    val docsPerShard = nDocs.toDouble / pending.length
    val mbPerShard = mbText / pending.length
    println(f"[streambench] warc-arrival trigger_s p50=${pct(warm, 0.5)}%.2f " +
      f"p95=${pct(warm, 0.95)}%.2f cold_first=${walls.head}%.2f | " +
      f"warm ${docsPerShard / pct(warm, 0.5) / 1e3}%.1f kdocs/s " +
      f"${mbPerShard / pct(warm, 0.5)}%.1f MB/s text")
    println(f"[streambench] warc-arrival backlog drain: $shards shards " +
      f"in $drainWall%.2f s = ${nDocs / drainWall / 1e3}%.1f kdocs/s " +
      f"${mbText / drainWall}%.1f MB/s text | " +
      f"all=${2L * nDocs} records exact, loadavg=${loadAvg()}")
  }

  private def runUpsertLookup(spark: SparkSession, keyDomain: Long,
      probes: Int): Unit = {
    import graft.streaming.ShardedUpsertSink
    import graft.ext.Sharded
    val shards = 256
    val base = java.nio.file.Files
      .createTempDirectory("graft_sb_ulk_").toString + "/store"
    val t0 = System.nanoTime()
    ShardedUpsertSink.mergeBatch(spark, base, Seq("k"), Seq("seq"), shards)(
      spark.range(keyDomain).select(col("id").as("k"), lit(0L).as("seq"),
        md5(col("id").cast("string")).as("doc")), 0L)
    // a second, narrow version so lookups traverse a real manifest chain
    ShardedUpsertSink.mergeBatch(spark, base, Seq("k"), Seq("seq"), shards)(
      spark.range(64).select((col("id") * 97 % keyDomain).as("k"),
        lit(1L).as("seq"), lit("updated").as("doc")), 1L)
    println(f"[streambench] mode=upsert-lookup key_domain=$keyDomain " +
      f"shards=$shards probes=$probes seed_s=${(System.nanoTime() - t0) / 1e9}%.1f")
    def ms(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6
    }
    val construct = scala.collection.mutable.ArrayBuffer[Double]()
    val total = scala.collection.mutable.ArrayBuffer[Double]()
    val legacy = scala.collection.mutable.ArrayBuffer[Double]()
    (0 until probes).foreach { i =>
      val key = java.lang.Math.floorMod(i * 2654435761L, keyDomain)
      var df: org.apache.spark.sql.DataFrame = null
      val c = ms { df = ShardedUpsertSink.lookup(spark, base,
        Seq("k"), Seq(key)).get }
      val t = c + ms {
        require(df.collect().length == 1, s"key $key missed") }
      // the retired pattern: one spark.range(1) job per probe, just to
      // hash the key (what lookup() did before r15)
      val l = ms { spark.range(1)
        .select(Sharded.shardOfAll(Seq(lit(key)), shards).as("s"))
        .head() }
      construct += c; total += t; legacy += l
    }
    def drop2(xs: Seq[Double]) = xs.drop(2) // codegen/footer warmup
    println(f"[streambench] lookup construct_ms_p50=${pct(drop2(construct.toSeq), 0.5)}%7.1f " +
      f"p95=${pct(drop2(construct.toSeq), 0.95)}%7.1f | " +
      f"e2e_ms_p50=${pct(drop2(total.toSeq), 0.5)}%7.1f " +
      f"p95=${pct(drop2(total.toSeq), 0.95)}%7.1f | " +
      f"retired_hash_job_ms_p50=${pct(drop2(legacy.toSeq), 0.5)}%7.1f " +
      f"p95=${pct(drop2(legacy.toSeq), 0.95)}%7.1f")
  }

  /** Synthetic documents with controlled duplicate structure. All
    * texts share a ~21-token navigation-chrome prefix (the span gate's
    * target); the Gopher gate passes every row by construction (>20
    * words, stopwords in the chrome, alnum-dense "wordNNNNN" tokens).
    *   value%10 ∈ {0,1} → exact duplicate of template (value%64)
    *   value%10 == 2   → near-dup: template text + one extra token
    *   value%10 == 3   → boilerplate-heavy: only 4 unique body tokens
    *   else            → unique 24-token body
    */
  private def syntheticCurationDocs(rate: DataFrame): DataFrame = {
    val chrome = "the site menu and the footer of this page link to " +
      "the home and about pages with more info for you"
    def body(key: org.apache.spark.sql.Column, n: Int) =
      concat_ws(" ", (0 until n).map(i =>
        concat(lit("word"), pmod(key * 2654435761L + i * 40503L,
          lit(99991L)))): _*)
    val tplKey = col("value") % 64
    val text = when(col("value") % 10 < 2,
        concat_ws(" ", lit(chrome), body(tplKey, 24)))
      .when(col("value") % 10 === 2,
        concat_ws(" ", lit(chrome), body(tplKey, 24), lit("extratoken")))
      .when(col("value") % 10 === 3,
        concat_ws(" ", lit(chrome), body(col("value"), 4)))
      .otherwise(concat_ws(" ", lit(chrome), body(col("value"), 24)))
    rate.select(col("value").as("doc_id"), text.as("text"))
  }

  /** The composed streaming-curation chain, end to end (class doc). */
  private def runCuration(spark: SparkSession, rate: DataFrame, rps: Int,
      seconds: Int): Unit = {
    import graft.streaming.{Curation, NearDupAdmission, SpanAdmission}
    val docs = syntheticCurationDocs(rate)
    val curated = Curation.curate(docs, "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_sb_curation_").toString
    val near = new NearDupAdmission(s"$root/near", "text", "doc_id",
      compactEvery = 8)
    val span = new SpanAdmission(s"$root/span", "text", "doc_id",
      k = 8, gatePct = 60, compactEvery = 8)
    val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val counts = new java.util.concurrent.atomic.LongAdder()
    val nearAdm = new java.util.concurrent.atomic.LongAdder()
    val spanAdm = new java.util.concurrent.atomic.LongAdder()
    val q = curated.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        val b = batch.persist()
        counts.add(b.count())
        val n = near.admit(b, id).persist()
        nearAdm.add(n.count())
        val s2 = span.admit(n, id)
        val out = s2.persist()
        spanAdm.add(out.count())
        out.write.mode("append").parquet(s"$root/corpus")
        b.unpersist(); n.unpersist(); out.unpersist()
        batchMs.add((System.nanoTime() - t0) / 1e6)
        ()
      }.start()
    Thread.sleep(seconds * 1000L)
    val progress = q.recentProgress.toSeq
    q.stop()
    val steady = progress.drop(1)
    val rows = steady.map(_.numInputRows).sum
    val secs = if (steady.size < 1) 0.0 else
      (Instant.parse(steady.last.timestamp).toEpochMilli
        + steady.last.batchDuration
        - Instant.parse(steady.head.timestamp).toEpochMilli) / 1000.0
    val lat = { import scala.jdk.CollectionConverters._
      batchMs.asScala.toSeq }
    println(f"[streambench] mode=curation batches=${steady.size} " +
      f"rows=$rows wall=${secs}%.1f s " +
      f"throughput=${rows / math.max(secs, 1e-9)}%.0f rows/s " +
      f"admit_ms_p50=${pct(lat, 0.5)}%.0f admit_ms_p95=${pct(lat, 0.95)}%.0f " +
      f"curated=${counts.sum()} near_admitted=${nearAdm.sum()} " +
      f"span_admitted=${spanAdm.sum()} " +
      f"(requested $rps rows/s for $seconds s)")
  }

  /** BOUNDED-LATENCY curation measurement (VERDICT r10 #3): the plain
    * `curation` arm reports admission p50/p95 at whatever batch size
    * the rate source accumulated (arrival rate × trigger interval —
    * 28–30 s per batch at 15 k rows/s in the r10 run, an honest but
    * batch-size-driven number). This arm replaces the rate source with
    * `rate-micro-batch`, whose `rowsPerBatch` pins EVERY trigger to a
    * fixed row count, so per-batch admission latency is reported at
    * declared batch sizes and the sustainable rate falls out as
    * batch_rows / p95 (the chain is batch-synchronous: it keeps up
    * with any arrival rate below that). */
  private def runCurationBounded(spark: SparkSession,
      batchSizes: Seq[Int], batchesPerPoint: Int = 12): Unit = {
    import graft.streaming.{Curation, NearDupAdmission, SpanAdmission}
    val cpus = GraftSession.cpus
    println("[streambench] mode=curation-bounded " +
      "(batch_rows, batches, p50_s, p95_s, sustainable rows/s = rows/p95)")
    batchSizes.foreach { rows =>
      val rate = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows)
        .option("numPartitions", cpus)
        .load()
      val curated = Curation.curate(syntheticCurationDocs(rate), "text")
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_sb_curb_$rows").toString
      val near = new NearDupAdmission(s"$root/near", "text", "doc_id",
        compactEvery = 8)
      val span = new SpanAdmission(s"$root/span", "text", "doc_id",
        k = 8, gatePct = 60, compactEvery = 8)
      val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val admitted = new java.util.concurrent.atomic.LongAdder()
      val q = curated.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val b = batch.persist()
          val out = span.admit(near.admit(b, id), id).persist()
          admitted.add(out.count())
          out.write.mode("append").parquet(s"$root/corpus")
          b.unpersist(); out.unpersist()
          batchMs.add((System.nanoTime() - t0) / 1e6)
          ()
        }.start()
      val deadline = System.currentTimeMillis() + 600000L
      while (batchMs.size < batchesPerPoint + 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(500)
      q.stop()
      val lat = { import scala.jdk.CollectionConverters._
        batchMs.asScala.toSeq.drop(2) } // registry warmup batches
      val p50 = pct(lat, 0.5) / 1000.0
      val p95 = pct(lat, 0.95) / 1000.0
      val mean = lat.sum / math.max(lat.size, 1) / 1000.0
      println(f"[streambench] batch_rows=$rows%7d batches=${lat.size}%3d " +
        f"admit_s_p50=$p50%6.2f admit_s_p95=$p95%6.2f " +
        f"mean=$mean%6.2f " +
        f"sustained=${rows / math.max(mean, 1e-9)}%8.0f rows/s " +
        f"(p95-bound ${rows / math.max(p95, 1e-9)}%.0f) " +
        f"admitted=${admitted.sum()}")
      // per-batch series: makes the compaction spike attributable
      // (compactEvery=8) instead of hiding inside the percentile
      println("[streambench]   series_s=" +
        lat.map(ms => f"${ms / 1000.0}%.1f").mkString(","))
    }
  }

  /** LOAD-IMMUNE composed-chain measurement (VERDICT r14 #4): the
    * sequential `curation-bounded` arms needed three samples and a
    * loadavg adjudication because each batch-size point ran alone
    * against a noisy shared host. Here the two batch-size arms run as
    * TWO MemoryStream-driven chains (separate registries/checkpoints)
    * and each round feeds one A-trigger then one B-trigger back to
    * back, so every A/B pair shares the host conditions of the same
    * ~20 s window — the per-row cost RATIO B/A is self-normalized even
    * when absolute times ride a load burst. Per-trigger 1-min loadavg
    * is recorded, and warm-tail percentiles (post fold-catch-up +
    * codegen, first 2 rounds dropped) are reported separately from the
    * cold rounds instead of letting warmup pull p95. */
  private def runCurationPaired(spark: SparkSession, batchA: Int,
      batchB: Int, rounds: Int): Unit = {
    import graft.streaming.{Curation, NearDupAdmission, SpanAdmission}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def loadavg: Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => Double.NaN }

    final class Arm(tag: String) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_sb_cpair_$tag").toString
      val stream = MemoryStream[Long]
      private val near = new NearDupAdmission(s"$root/near", "text",
        "doc_id", compactEvery = 8)
      private val span = new SpanAdmission(s"$root/span", "text", "doc_id",
        k = 8, gatePct = 60, compactEvery = 8)
      val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val admitted = new java.util.concurrent.atomic.LongAdder()
      private var next = 0L
      // MemoryStream delivers one partition per addData block; the
      // repartition spreads the trigger's admit work across the same
      // parallelism the rate-source arms get from numPartitions (the
      // 10k-row shuffle itself is noise at these batch sizes)
      val query = Curation
        .curate(syntheticCurationDocs(stream.toDF().toDF("value")
          .repartition(GraftSession.cpus)),
          "text")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val b = batch.persist()
          val out = span.admit(near.admit(b, id), id).persist()
          admitted.add(out.count())
          out.write.mode("append").parquet(s"$root/corpus")
          b.unpersist(); out.unpersist()
          batchMs.add((System.nanoTime() - t0) / 1e6)
          ()
        }.start()
      /** One synchronous fixed-size trigger; returns its latency (s). */
      def trigger(rows: Int): Double = {
        val before = batchMs.size
        stream.addData(next until next + rows)
        next += rows
        query.processAllAvailable()
        require(batchMs.size == before + 1, s"arm $tag: expected 1 trigger")
        import scala.jdk.CollectionConverters._
        batchMs.asScala.toSeq.last / 1000.0
      }
    }

    val a = new Arm("a"); val b = new Arm("b")
    println(s"[streambench] mode=curation-paired batch_a=$batchA " +
      s"batch_b=$batchB rounds=$rounds (A/B alternate within one run; " +
      "ratio is load-self-normalized)")
    val series = (0 until rounds).map { r =>
      val la = loadavg
      val sa = a.trigger(batchA)
      val sb = b.trigger(batchB)
      println(f"[streambench]   round=$r%2d loadavg=$la%5.2f " +
        f"a_s=$sa%6.2f b_s=$sb%6.2f b_over_a=${sb / sa}%5.2f")
      (la, sa, sb)
    }
    try {
      val warm = series.drop(2) // fold catch-up + codegen
      val cold = series.take(2)
      val ratios = warm.map { case (_, sa, sb) => sb / sa }.sorted
      def p(xs: Seq[Double], q: Double) = pct(xs, q)
      println("[streambench] cold rounds (2): " +
        s"a_s=${cold.map(x => f"${x._2}%.1f").mkString(",")} " +
        s"b_s=${cold.map(x => f"${x._3}%.1f").mkString(",")}")
      println(f"[streambench] warm a(${batchA}): " +
        f"p50=${p(warm.map(_._2), 0.5)}%6.2f s p95=${p(warm.map(_._2), 0.95)}%6.2f s | " +
        f"warm b(${batchB}): p50=${p(warm.map(_._3), 0.5)}%6.2f s " +
        f"p95=${p(warm.map(_._3), 0.95)}%6.2f s | " +
        f"paired b/a median=${p(ratios, 0.5)}%5.2f " +
        f"(sustained at b: ${batchB / p(warm.map(_._3), 0.5)}%8.0f rows/s) " +
        f"loadavg=[${series.map(_._1).min}%4.2f..${series.map(_._1).max}%4.2f] " +
        f"admitted a=${a.admitted.sum()} b=${b.admitted.sum()}")
    } finally { a.query.stop(); b.query.stop() }
  }

  /** RocksDB vs default (HDFS-backed in-memory) state store for the A1
    * streaming window aggregation at a LARGE key domain (VERDICT r14
    * #6): the reference's watermark-free unbounded state
    * (`summarizer.py:52-100`) is exactly where in-memory state dies at
    * scale — every executor holds its partitions' ENTIRE key domain in
    * heap forever. Measures, per provider: per-trigger latency,
    * reported state rows/memory, on-disk checkpoint state size, and
    * restart-from-checkpoint time (stop → new query on the same
    * checkpoint → first trigger committed). */
  private def runStateStore(spark: SparkSession, rowsPerBatch: Int,
      triggers: Int): Unit = {
    val cpus = GraftSession.cpus
    val games = 100000
    val days = 30
    val key = "spark.sql.streaming.stateStore.providerClass"
    def du(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    println(s"[streambench] mode=statestore rows_per_batch=$rowsPerBatch " +
      s"triggers=$triggers key_domain=${games}x$days=" +
      s"${games.toLong * days} (windows x games; watermark-free A1 chain)")
    Seq("default", "rocksdb").foreach { provider =>
      if (provider == "rocksdb")
        spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      else spark.conf.unset(key)
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_sb_ss_$provider").toString
      val rate = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch)
        .option("numPartitions", cpus)
        .load()
      // hash-scrambled keys: ~63% of the 3M (game, day-window) domain
      // is distinct after 3M rows — state grows by ~10^5 keys/trigger
      val frames = rate.select(to_json(struct(
        pmod(xxhash64(col("value")), lit(games)).as("app_id"),
        concat(lit("Game "), pmod(xxhash64(col("value")), lit(games)))
          .as("app_name"),
        (lit(1600000000L) + pmod(xxhash64(col("value"), lit(7)),
          lit(days * 86400L))).as("timestamp_created"),
        (col("value") % 6000).cast("double")
          .as("author_playtime_at_review"),
        (when(col("value") % 3 === 0, -1.0).otherwise(1.0)).as("sentiment"),
        (when(col("value") % 2 === 0, "true").otherwise("false"))
          .as("recommended"))).cast("binary").as("value"))
      def start() = Pipeline.summarize(frames).writeStream.format("noop")
        .outputMode("update").option("checkpointLocation", ckpt).start()
      val q = start()
      val deadline = System.currentTimeMillis() + 1200000L
      while (q.recentProgress.count(_.numInputRows > 0) < triggers &&
        System.currentTimeMillis() < deadline) Thread.sleep(500)
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .take(triggers)
      q.stop()
      val durS = progress.map(_.batchDuration / 1000.0)
      val st = progress.last.stateOperators.headOption
      val stateRows = st.map(_.numRowsTotal).getOrElse(-1L)
      val stateMem = st.map(_.memoryUsedBytes).getOrElse(-1L)
      val diskState = du(new java.io.File(s"$ckpt/state"))
      // restart: time from start() on the same checkpoint to the first
      // COMMITTED trigger (state reload rides the first batch)
      val t0 = System.nanoTime()
      val q2 = start()
      val rdl = System.currentTimeMillis() + 600000L
      while (q2.recentProgress.count(_.numInputRows > 0) < 1 &&
        System.currentTimeMillis() < rdl) Thread.sleep(200)
      val restartS = (System.nanoTime() - t0) / 1e9
      q2.stop()
      val warm = durS.drop(2)
      println(f"[streambench] $provider%-8s triggers=${durS.size}%3d " +
        f"trigger_s_p50=${pct(warm, 0.5)}%6.2f p95=${pct(warm, 0.95)}%6.2f " +
        f"max=${warm.max}%6.2f state_rows=$stateRows%9d " +
        f"state_mem_mb=${stateMem / 1e6}%8.1f disk_state_mb=${diskState / 1e6}%8.1f " +
        f"restart_first_commit_s=$restartS%6.2f")
    }
    spark.conf.unset(key)
  }

  /** Decode-gate throughput over cycling fixture blobs (class doc). */
  private def runMediaGate(spark: SparkSession, rate: DataFrame, rps: Int,
      seconds: Int): Unit = {
    import graft.ext.{AudioFixtures, MediaFixtures}
    val blobs = array(Seq(MediaFixtures.png1x1, MediaFixtures.jpegGray16x8,
      MediaFixtures.jpeg420Quad16x16, MediaFixtures.gifTwoFrames,
      AudioFixtures.wavSquare, "junk bytes".getBytes).map(lit): _*)
    val media = rate.select(col("value").as("media_id"),
      element_at(blobs, (col("value") % 6 + 1).cast("int")).as("content"))
    val gated = graft.streaming.MediaGate.gate(spark, media)
    val q = gated.toDF().writeStream.format("noop").outputMode("append")
      .start()
    Thread.sleep(seconds * 1000L)
    val progress = q.recentProgress.toSeq
    q.stop()
    val steady = progress.drop(1)
    val rows = steady.map(_.numInputRows).sum
    val secs = if (steady.size < 1) 0.0 else
      (Instant.parse(steady.last.timestamp).toEpochMilli
        + steady.last.batchDuration
        - Instant.parse(steady.head.timestamp).toEpochMilli) / 1000.0
    println(f"[streambench] mode=mediagate batches=${steady.size} " +
      f"rows=$rows wall=${secs}%.1f s " +
      f"throughput=${rows / math.max(secs, 1e-9)}%.0f rows/s " +
      f"(requested $rps rows/s for $seconds s)")
  }

  private def runThroughput(summary: DataFrame, rps: Int,
      seconds: Int): Unit = {
    val q = summary.writeStream.format("noop").outputMode("update").start()
    Thread.sleep(seconds * 1000L)
    val progress = q.recentProgress.toSeq
    q.stop()
    // steady state: drop the first batch (source warmup + codegen)
    val steady = progress.drop(1)
    val rows = steady.map(_.numInputRows).sum
    // wall clock spans trigger-to-trigger INCLUDING inter-batch idle:
    // first steady trigger timestamp → last trigger + its duration
    val secs = if (steady.size < 1) 0.0 else
      (Instant.parse(steady.last.timestamp).toEpochMilli
        + steady.last.batchDuration
        - Instant.parse(steady.head.timestamp).toEpochMilli) / 1000.0
    println(f"[streambench] mode=throughput batches=${steady.size} rows=$rows " +
      f"wall=${secs}%.1f s throughput=${rows / math.max(secs, 1e-9)}%.0f rows/s " +
      f"(requested $rps rows/s for $seconds s)")
  }
}
