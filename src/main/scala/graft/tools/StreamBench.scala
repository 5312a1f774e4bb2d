package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.streaming.{Curation, NearDupAdmission, Pipeline, ShardedUpsertSink, SpanAdmission}
import Run.{Metrics, dist, intArg, percentile}

/** The streaming scenarios of [[Run]] for the flagship chain and its
  * streaming subsystems. The K2 serving tier (summary →
  * [[ShardedUpsertSink]] → HTTP reads while merges run) is measured by
  * the repository's benchmark (`perfbench/`, workload `dashboard`).
  *
  * Context: the reference's replay producer tops out at ≈ 95 records/s
  * BY DESIGN (per-record sleep + flush, `stream_generator.py:10-11`).
  */
object StreamBench {

  private def rate(spark: SparkSession, rowsPerSec: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", GraftSession.cpus)
      .load()

  /** Let `q` run for `secs`, stop it, and report its steady-state rate. */
  private def runFor(q: StreamingQuery, rowsPerSec: Int, secs: Int): Metrics = {
    Thread.sleep(secs * 1000L)
    val ts = Run.triggers(q)
    q.stop()
    ListMap("requested_rows_per_s" -> rowsPerSec, "secs" -> secs) ++
      Run.steadyRate(ts)
  }

  /** `throughput`: rate source → synthetic review JSON (the Kafka
    * `value` envelope) → [[Pipeline.summarize]] (decode → normalize →
    * 1-day window agg, update mode) → noop sink; sustained rows/s. */
  def throughput(spark: SparkSession, a: Seq[String]): Metrics = {
    val rps = intArg(a, 0, 50000)
    // 500 games, event times spread over ~12 days so the window state is
    // non-trivial. app_id must be a JSON NUMBER: Review.schema declares
    // LongType and from_json nulls a quoted value instead of coercing it
    // (a string cast here once collapsed every row to app_id=null — 13
    // window-only keys — silently understating the aggregation state).
    val v = col("value")
    val frames = rate(spark, rps).select(to_json(struct(
      (v % 500).as("app_id"),
      concat(lit("Game "), v % 500).as("app_name"),
      (lit(1600000000L) + v % 1000000L).as("timestamp_created"),
      (v % 6000).cast("double").as("author_playtime_at_review"),
      when(v % 3 === 0, -1.0).otherwise(1.0).as("sentiment"),
      when(v % 2 === 0, "true").otherwise("false").as("recommended")))
      .cast("binary").as("value"))
    runFor(Pipeline.summarize(frames).writeStream.format("noop")
      .outputMode("update").start(), rps, intArg(a, 1, 30))
  }

  /** `mediagate`: rate source → fixture media blobs (PNG / baseline
    * JPEG / 4:2:0 JPEG / multi-frame GIF / PCM WAV / junk, cycling) →
    * [[graft.streaming.MediaGate.gate]] full-decode admission → noop
    * sink; sustained decode-gate rows/s (the per-blob CPU kernel cost). */
  def mediagate(spark: SparkSession, a: Seq[String]): Metrics = {
    import graft.ext.{AudioFixtures, MediaFixtures}
    val rps = intArg(a, 0, 200000)
    val blobs = array(Seq(MediaFixtures.png1x1, MediaFixtures.jpegGray16x8,
      MediaFixtures.jpeg420Quad16x16, MediaFixtures.gifTwoFrames,
      AudioFixtures.wavSquare, "junk bytes".getBytes).map(lit): _*)
    val media = rate(spark, rps).select(col("value").as("media_id"),
      element_at(blobs, (col("value") % 6 + 1).cast("int")).as("content"))
    runFor(graft.streaming.MediaGate.gate(spark, media).toDF()
      .writeStream.format("noop").outputMode("append").start(),
      rps, intArg(a, 1, 30))
  }

  /** `upsert-sharded`: the sharded upsert store at a LARGE key domain. A
    * `keyDomain`-key view is seeded as version 0, then fixed-size upsert
    * triggers (trigger `id` merges as version `id + 1`, above the seed)
    * stream through [[ShardedUpsertSink]] at 1024 shards — per-trigger
    * merge latency, touched shards and bytes written must track the
    * BATCH's key spread, not view size. Keys are hash-spread (worst-case
    * locality: a `batchRows`-key trigger touches ≈ min(batchRows, P)
    * shards). Each batch size runs 10 measured triggers after 2 warm-up
    * ones (code generation, footer reads). */
  def upsertSharded(spark: SparkSession, a: Seq[String]): Metrics = {
    val keyDomain = a.headOption.map(_.toLong).getOrElse(10000000L)
    val batchSizes =
      if (a.size > 1) a.drop(1).map(_.toInt) else Seq(64, 1024, 16384)
    val shards = 1024
    // ~96 B of entropy-rich payload per row: the component's own contract
    // scopes it to views too large to rewrite per batch — skinny 3-long
    // rows at 10⁷ keys compress to ~70 MB, where a full rewrite is one
    // cheap sequential write and the manifest layout's per-trigger
    // constant costs dominate instead of its byte savings. ~1 GB of
    // incompressible view is the regime the sink exists for.
    def payload(k: Column) = concat(md5(k.cast("string")),
      md5(concat(k.cast("string"), lit("b"))),
      md5(concat(k.cast("string"), lit("c"))))
    def rows(keys: Column, seq: Column, v: Column) =
      Seq(keys.as("k"), seq.as("seq"), v.cast("double").as("v"))
    ListMap("key_domain" -> keyDomain, "shards" -> shards,
      "points" -> batchSizes.map { n =>
        val base = java.nio.file.Files
          .createTempDirectory(s"graft_run_ush_$n").toString + "/store"
        val merge = ShardedUpsertSink.mergeBatch(spark, base,
          keys = Seq("k"), orderCols = Seq("seq"), shards = shards) _
        val (_, seedS) = Run.timed(merge(spark.range(keyDomain)
          .select(rows(col("id"), lit(-1L), col("id") % 1000): _*)
          .withColumn("doc", payload(col("k"))), 0L))
        val stats = new ConcurrentLinkedQueue[(Double, Int, Long)]()
        val q = spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", n)
          .option("numPartitions", GraftSession.cpus)
          .load()
          .select(rows(pmod(xxhash64(col("value"), lit("k")), lit(keyDomain)),
            col("value"), col("value") % 1000): _*)
          .withColumn("doc", payload(col("k")))
          .writeStream.outputMode("update")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val (_, s) = Run.timed(merge(batch, id + 1))
            val vdir = new java.io.File(s"$base/v=${id + 1}")
            stats.add((s * 1000, Option(vdir.listFiles()).getOrElse(Array.empty)
              .count(_.getName.startsWith("shard=")),
              GraftSession.dirBytes(vdir.toString)))
            ()
          }.start()
        val deadline = System.currentTimeMillis() + 900000L
        while (stats.size < 12 && System.currentTimeMillis() < deadline)
          Thread.sleep(500)
        q.stop()
        val xs = stats.asScala.toSeq.drop(2)
        ListMap("batch_rows" -> n, "seed_s" -> seedS,
          "merge_ms" -> dist(xs.map(_._1)),
          "touched_shards" -> dist(xs.map(_._2.toDouble)),
          "bytes_per_trigger" -> dist(xs.map(_._3.toDouble)),
          "store_bytes" -> GraftSession.dirBytes(base))
      })
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
  private def syntheticCurationDocs(values: DataFrame): DataFrame = {
    val chrome = "the site menu and the footer of this page link to " +
      "the home and about pages with more info for you"
    def body(key: Column, n: Int) =
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
    values.select(col("value").as("doc_id"), text.as("text"))
  }

  /** One copy of the composed streaming-curation chain on its own
    * MemoryStream, registries and checkpoint: [[Curation]] gate (Gopher
    * rules + stateful exact-fingerprint dedup) → [[NearDupAdmission]] →
    * [[SpanAdmission]] → parquet corpus, both registries compacting
    * every 8 batches. */
  private final class CurationArm(spark: SparkSession, tag: String) {
    private val root = java.nio.file.Files
      .createTempDirectory(s"graft_run_curation_$tag").toString
    private val stream = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      MemoryStream[Long]
    }
    private val near = new NearDupAdmission(s"$root/near", "text", "doc_id",
      compactEvery = 8)
    private val span = new SpanAdmission(s"$root/span", "text", "doc_id",
      k = 8, gatePct = 60, compactEvery = 8)
    private val curated, nearAdmitted, spanAdmitted = new LongAdder
    private val batchS = new ConcurrentLinkedQueue[Double]()
    private var next = 0L
    // MemoryStream delivers one partition per addData block; the
    // repartition spreads a trigger's admit work over the cores
    val query: StreamingQuery = Curation
      .curate(syntheticCurationDocs(stream.toDF().toDF("value")
        .repartition(GraftSession.cpus)), "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batchS.add(Run.timed {
          val b = batch.persist()
          curated.add(b.count())
          val n = near.admit(b, id).persist()
          nearAdmitted.add(n.count())
          val out = span.admit(n, id).persist()
          spanAdmitted.add(out.count())
          out.write.mode("append").parquet(s"$root/corpus")
          b.unpersist(); n.unpersist(); out.unpersist()
        }._2)
        ()
      }.start()

    /** One synchronous trigger of `rows` documents; its latency (s). */
    def trigger(rows: Int): Double = {
      val before = batchS.size
      stream.addData(next until next + rows)
      next += rows
      query.processAllAvailable()
      require(batchS.size == before + 1, s"arm $tag: expected 1 trigger")
      batchS.asScala.last
    }

    def counts: Metrics = ListMap("curated" -> curated.sum(),
      "near_admitted" -> nearAdmitted.sum(),
      "span_admitted" -> spanAdmitted.sum())
  }

  /** `curation`: the composed curation chain at fixed trigger sizes,
    * A/B-paired. Two copies of the chain ([[CurationArm]]) take turns:
    * each round feeds one `batchA`-row trigger to A, then one
    * `batchB`-row trigger to B, so each pair shares the host's load and
    * the B/A ratio cancels it. The chain is batch-synchronous, so its
    * sustainable rate at B is `batchB` / B's p50. The first two rounds
    * (fold catch-up, code generation) are reported apart from the warm
    * ones. */
  def curation(spark: SparkSession, a: Seq[String]): Metrics = {
    val (batchA, batchB) = (intArg(a, 0, 10000), intArg(a, 1, 50000))
    val armA = new CurationArm(spark, "a")
    val armB = new CurationArm(spark, "b")
    val rounds = try (0 until intArg(a, 2, 12)).map { _ =>
      (Run.loadavg(), armA.trigger(batchA), armB.trigger(batchB))
    } finally { armA.query.stop(); armB.query.stop() }
    val warm = rounds.drop(2)
    ListMap("batch_a" -> batchA, "batch_b" -> batchB, "rounds" -> rounds.size,
      "cold_a_s" -> rounds.take(2).map(_._2),
      "cold_b_s" -> rounds.take(2).map(_._3),
      "warm_a_s" -> dist(warm.map(_._2)), "warm_b_s" -> dist(warm.map(_._3)),
      "b_over_a_p50" -> percentile(warm.map(r => r._3 / r._2), 0.5),
      "rows_per_s_at_b" -> batchB / percentile(warm.map(_._3), 0.5),
      "loadavg" -> dist(rounds.map(_._1)),
      "a" -> armA.counts, "b" -> armB.counts)
  }
}
