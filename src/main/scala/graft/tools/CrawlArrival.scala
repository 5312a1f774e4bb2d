package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, WarcFixtures}
import graft.sources.Warc
import graft.streaming.{AdmissionRegistry, NearDupAdmission}
import Run.{Metrics, dist, intArg, percentile}

/** `crawl-arrival`: the crawl-arrival admission chain. WET archives land
  * in a watched directory (an atomic rename each), `Warc.streamWet`
  * parses them through its checkpointed binaryFile source, and a MinHash
  * [[NearDupAdmission]] decides each trigger. Two phases:
  *
  *   1. trickle: `waves` archives of `docsPerWave` documents land one
  *      per trigger (the steady crawl shape). Each trigger's cost is
  *      split into the engine's phases (`StreamingQueryProgress
  *      .durationMs`, the last 100 triggers), the admission's own phases
  *      (`admit`'s phase probe) and the downstream collect, each with the
  *      Spark jobs it started;
  *   2. backlog drain: `waves` more archives land at once and drain in
  *      `maxFilesPerTrigger`-bounded triggers (the catch-up shape after
  *      an outage).
  *
  * The bounds are asserted, not just reported:
  *
  *   - the registry's live runs stay O(log lifetime)
  *     (`compactEvery + ceil(log2(i)) + slack`) through the
  *     committed-watermark compactions the chain schedules itself;
  *   - the pruned history probe's bytes for a FIXED 4-doc batch stay
  *     flat while the registry grows (measured through the admission's
  *     own registry with read-only calls — readers never mutate, §17.4);
  *   - after the trickle, the admitted set and the registry content are
  *     EXACT vs a batch twin: a second NearDupAdmission (own state dir)
  *     fed the identical wave frames in the identical order through
  *     direct `admit()` calls, so the streaming machinery (file-source
  *     checkpoint, whole-file materialization, shared parse core) adds
  *     no decision drift;
  *   - near-dups are planted (`gid % 3 == 1` is a one-token edit of
  *     `gid - 1`, in the same wave or across waves) and ≥95% of them
  *     must be rejected — an admission that admitted everything would
  *     otherwise pass the identity checks vacuously;
  *   - every document of both phases is delivered exactly once.
  *
  * The defaults (512 × 16) are ~1k admission rounds; run on an idle box.
  */
object CrawlArrival {

  private val compactEvery = 16
  private val shards = 4
  private val target = 256L << 10

  private def baseText(g: Long): String =
    (1 to 30).map(k => s"t${g}x$k").mkString(" ")
  private def isPlantedDup(gid: Long): Boolean = gid % 3 == 1
  private def textOf(gid: Long): String =
    if (isPlantedDup(gid)) baseText(gid - 1) + " tokExtra" else baseText(gid)
  private def docs(wet: DataFrame): DataFrame =
    wet.select(regexp_extract(col("url"), "/docs/(\\d+)\\?", 1)
      .cast("long").as("doc_id"), col("text"))

  def run(spark: SparkSession, a: Seq[String]): Metrics = {
    import spark.implicits._
    val waves = intArg(a, 0, 512)
    val docsPerWave = intArg(a, 1, 16)
    val root = Files.createTempDirectory("graft_crawl_").toString
    val (stage, watch) = (s"$root/stage", s"$root/watch")
    val (streamState, batchState) =
      (s"$root/stream_state", s"$root/batch_state")
    Seq(stage, watch).foreach(d => new java.io.File(d).mkdirs())

    def waveFile(i: Int) = f"wave-$i%05d.warc.wet.gz"
    /** Write wave `i` (gids `i*docsPerWave` on) to the staging dir. */
    def stageWave(i: Int): Unit = {
      var out = WarcFixtures.gzMember(WarcFixtures.warcinfo(waveFile(i)))
      (0 until docsPerWave).foreach { j =>
        val gid = i.toLong * docsPerWave + j
        out = out ++ WarcFixtures.gzMember(WarcFixtures.record(
          "conversion", Some(WarcFixtures.urlOf("crawl", gid)),
          WarcFixtures.dateOf(gid),
          f"55555555-0000-0000-0000-$gid%012d", "text/plain",
          textOf(gid).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      Files.write(Paths.get(stage, waveFile(i)), out)
    }
    def land(i: Int): Unit = Files.move(Paths.get(stage, waveFile(i)),
      Paths.get(watch, waveFile(i)), StandardCopyOption.ATOMIC_MOVE)

    def newAdm(dir: String) = new NearDupAdmission(dir, "text", "doc_id",
      compactEvery = compactEvery, shards = shards, targetShardBytes = target)
    val adm = newAdm(streamState)
    // the FIXED probe: docs that never change, so probe bytes across the
    // lifetime measure registry growth, not probe drift
    val probeBuckets = Dedup
      .minhashSignatures((0 until 4).map(j => (900000L + j,
        baseText(900000L + j))).toDF("id", "text"), "text", "id", 32, 1,
        Dedup.XxHash)
      .select(explode(Dedup.lshBandKeys(col("sig"), 32, 8, Dedup.XxHash))
        .as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"))

    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    // per-trigger samples of the trickle phase: "<part>.ms" / "<part>.jobs"
    val split = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(key: String, v: Double): Unit =
      split.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
    @volatile var trickle = true
    val batches = new java.util.concurrent.atomic.LongAdder
    var probeKb = Seq.empty[Double]
    var maxDirs = 0

    val counters = Run.Counters.on(spark.sparkContext)
    val q = docs(Warc.streamWet(spark, watch)).writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        AdmissionRegistry.withFixedPlans(df.sparkSession) {
          val (t0, j0) = (System.nanoTime(), counters.jobCount)
          var jobs = j0
          val out = adm.admit(df, id, (phase, ms) => {
            val j = counters.jobCount
            if (trickle) {
              sample(s"admit.$phase.ms", ms.toDouble)
              sample(s"admit.$phase.jobs", (j - jobs).toDouble)
            }
            jobs = j
          })
          val t1 = System.nanoTime()
          out.select("doc_id").as[Long].collect().foreach(admitted.add)
          if (trickle) {
            val t2 = System.nanoTime()
            sample("admit.ms", (t1 - t0) / 1e6)
            sample("collect.ms", (t2 - t1) / 1e6)
            sample("collect.jobs", (counters.jobCount - jobs).toDouble)
            sample("trigger.jobs", (counters.jobCount - j0).toDouble)
          }
        }
        df.select("doc_id").as[Long].collect().foreach(delivered.add)
        batches.increment()
        if (id % 64 == 63 || id == waves - 1) {
          val (dirs, bound, kb) = LifetimeSoak.checkRegistry(adm.registry,
            streamState, compactEvery, id, probeBuckets, probeKb.headOption)
          Run.progress(f"crawl-arrival trigger=$id%4d live_dirs=$dirs%3d " +
            f"(bound=$bound%3d) probe_kb=$kb%8.1f admitted=${admitted.size}%6d")
          probeKb :+= kb
          maxDirs = math.max(maxDirs, dirs)
        }
      }
      .start()

    try {
      // phase 1: trickle, one archive per trigger
      val walls = (0 until waves).map { i =>
        stageWave(i)
        Run.timed { land(i); q.processAllAvailable() }._2
      }
      trickle = false
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val trickleDocs = waves.toLong * docsPerWave
      require(probeKb.size >= math.max(1, waves / 64),
        s"invariant checks did not run: ${probeKb.size}")

      // batch twin: identical wave frames, identical order, direct admit
      val batchAdm = newAdm(batchState)
      val (batchAdmitted, batchS) = Run.timed((0 until waves).flatMap { i =>
        batchAdm.admit(docs(Warc.readWet(spark, s"$watch/${waveFile(i)}")),
          i.toLong).select("doc_id").as[Long].collect()
      }.toSet)
      val streamSet = admitted.asScala.toSet
      require(streamSet == batchAdmitted,
        s"admitted sets drifted: stream-only=${(streamSet -- batchAdmitted)
          .take(5)} batch-only=${(batchAdmitted -- streamSet).take(5)}")
      def regSig(a: NearDupAdmission) = a.registry
        .history(spark, excludeBatchId = Long.MaxValue).distinct()
        .agg(count(lit(1)), expr("bit_xor(xxhash64(band, bucket))"))
        .head().toSeq
      val (ss, bs) = (regSig(adm), regSig(batchAdm))
      require(ss == bs, s"registry content drifted: stream $ss batch $bs")

      // phase 2: backlog drain, `waves` more archives land at once
      (waves until 2 * waves).foreach(stageWave)
      val triggersBefore = batches.sum()
      val (_, drainS) = Run.timed {
        (waves until 2 * waves).foreach(land)
        q.processAllAvailable()
      }
      val drainTriggers = batches.sum() - triggersBefore

      val total = 2 * trickleDocs
      val got = delivered.asScala.toSeq
      require(got.size == total && got.toSet == (0L until total).toSet,
        s"delivery not exactly-once: ${got.size} rows, " +
          s"${got.toSet.size} distinct, $total expected")
      val planted = (0L until total).count(isPlantedDup)
      val rejected = (0L until total)
        .count(g => isPlantedDup(g) && !admitted.contains(g))
      require(rejected >= planted * 95 / 100,
        s"planted-dup rejection too low: $rejected/$planted")

      def engine(key: String) = dist(progress.flatMap(p =>
        Option(p.durationMs.get(key)).map(_.toDouble)))
      val warmWalls = walls.drop(1)
      ListMap("waves" -> waves, "docs_per_wave" -> docsPerWave,
        "trickle" -> ListMap(
          "first_trigger_s" -> walls.head,
          "trigger_s" -> dist(warmWalls),
          "docs_per_s" -> docsPerWave / percentile(warmWalls, 0.5),
          "engine_ms" -> ListMap(Seq("latestOffset", "getBatch", "walCommit",
            "commitOffsets", "addBatch", "triggerExecution")
            .map(k => k -> engine(k)): _*),
          "split" -> ListMap(split.toSeq.map { case (k, xs) =>
            k -> dist(xs.toSeq) }: _*)),
        "drain" -> ListMap("archives" -> waves, "docs" -> trickleDocs,
          "triggers" -> drainTriggers, "wall_s" -> drainS,
          "docs_per_s" -> trickleDocs / drainS),
        "invariants" -> ListMap("checks" -> probeKb.size,
          "live_dirs_max" -> maxDirs, "probe_kb_first" -> probeKb.head,
          "probe_kb_last" -> probeKb.last),
        "exact_vs_batch" -> true, "batch_twin_s" -> batchS,
        "registry_rows" -> ss.head, "delivered" -> got.size,
        "admitted" -> admitted.size, "planted_dups" -> planted,
        "rejected_planted" -> rejected)
    } finally q.stop()
  }
}
