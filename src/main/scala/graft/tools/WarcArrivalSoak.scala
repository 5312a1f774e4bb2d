package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.GraftSession
import graft.ext.{Dedup, Sharded, WarcFixtures}
import graft.sources.Warc
import graft.streaming.{AdmissionRegistry, NearDupAdmission}

/** LIFETIME soak for the crawl-arrival chain (VERDICT r15 #7):
  * §17.13 measured two arrival phases (trickle + backlog drain) of the
  * streamWet→MinHash-admission chain; this harness extends
  * [[LifetimeSoak]]'s invariant discipline to that SAME chain over
  * ≥512 REAL arrival triggers — archives landing one per trigger in a
  * watched dir, parsed by the binaryFile-checkpointed stream, decided
  * by the LSH bucket registry — with the bounds ASSERTED, not eyeballed:
  *
  *   - registry live `batch=` dirs stay O(log lifetime)
  *     (`compactEvery + ceil(log2(i)) + slack`) through the
  *     committed-watermark compactions the chain schedules itself;
  *   - the pruned history probe's bytes for a FIXED K-doc batch stay
  *     FLAT while the registry grows linearly in admitted docs
  *     (guarantee 2, measured through a read-only registry twin —
  *     readers never mutate, §17.4);
  *   - FINAL admitted set and FINAL registry content are EXACT vs a
  *     BATCH twin: a second NearDupAdmission (own state dir) fed the
  *     identical wave frames in the identical order through direct
  *     `admit()` calls — so the streaming machinery (file-source
  *     checkpoint, whole-file materialization, shared parse core)
  *     provably adds zero decision drift over a lifetime;
  *   - the near-dup structure is planted (`gid % 3 == 1` docs are
  *     one-token edits of `gid-1`), so the chain must also show ≥95%
  *     rejection of planted dups — a soak that admitted everything
  *     would otherwise pass the identity checks vacuously.
  *
  * Usage: runMain graft.tools.WarcArrivalSoak [waves] [docsPerWave]
  * (defaults 512 × 16; ~1k admission rounds ⇒ run on an idle box.)
  */
object WarcArrivalSoak {

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(512)
    val docsPerWave = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root =
      java.nio.file.Files.createTempDirectory("graft_wsoak_").toString
    val watch = s"$root/watch"
    val ckpt = s"$root/ckpt"
    val streamState = s"$root/stream_state"
    val batchState = s"$root/batch_state"
    new java.io.File(watch).mkdirs()

    // deterministic corpus: wave i, slot j → gid = i*docsPerWave + j.
    // gid%3==1 is a one-token edit of gid-1 (same wave when j>0, or
    // across waves when j==0 — both arrival shapes exercised); other
    // gids are token-disjoint unique docs.
    def baseText(g: Long): String =
      (1 to 30).map(k => s"t${g}x$k").mkString(" ")
    def textOf(gid: Long): String =
      if (gid % 3 == 1) baseText(gid - 1) + " tokExtra" else baseText(gid)
    def isPlantedDup(gid: Long): Boolean = gid % 3 == 1
    def waveBytes(i: Int): Array[Byte] = {
      val name = f"wave-$i%05d.warc.wet.gz"
      var out = WarcFixtures.gzMember(WarcFixtures.warcinfo(name))
      (0 until docsPerWave).foreach { j =>
        val gid = i.toLong * docsPerWave + j
        out = out ++ WarcFixtures.gzMember(WarcFixtures.record(
          "conversion", Some(WarcFixtures.urlOf("soak", gid)),
          WarcFixtures.dateOf(gid),
          f"55555555-0000-0000-0000-$gid%012d", "text/plain",
          textOf(gid).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      out
    }

    val compactEvery = 16
    val shards = 4
    val target = 256L << 10
    def newAdm(dir: String) = new NearDupAdmission(dir, "text", "doc_id",
      compactEvery = compactEvery, shards = shards,
      targetShardBytes = target)
    val streamAdm = newAdm(streamState)
    val batchAdm = newAdm(batchState)

    // read-only registry twin for the probe-bytes invariant (readers
    // never mutate the layout — §17.4); same layout params as the
    // admission's own registry
    val regSchema = StructType(Seq(StructField("band", IntegerType),
      StructField("bucket", LongType)))
    val regTwin = new AdmissionRegistry(streamState, regSchema,
      Seq("band", "bucket"), shards = shards, targetShardBytes = target)
    // the FIXED probe: wave-0-shaped docs that never change, so probe
    // bytes across the lifetime measure registry growth, not probe drift
    val probeDocs = (0 until 4)
      .map(j => (900000L + j, baseText(900000L + j))).toDF("id", "text")
    def probeBuckets = Dedup
      .minhashSignatures(probeDocs, "text", "id", 32, 1, Dedup.XxHash)
      .select(col("id"),
        explode(Dedup.lshBandKeys(col("sig"), 32, 8, Dedup.XxHash)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"))

    def liveDirs: Int = Option(new java.io.File(streamState).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    def fileCount(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) 1
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(dir))
    }

    val streamAdmitted =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    var probeKbFirst = -1.0
    var checks = 0
    val samples = scala.collection.mutable.ArrayBuffer[String]()

    println(s"[wsoak] waves=$waves docs_per_wave=$docsPerWave " +
      s"compact_every=$compactEvery shards=$shards " +
      "(trigger / live dirs / reg files / probe KB / admitted)")

    val q = Warc.streamWet(spark, watch)
      .select(regexp_extract(col("url"), "/docs/(\\d+)\\?", 1)
        .cast("long").as("doc_id"), col("text"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(streamAdm.step { (df, batchId) =>
        df.select("doc_id").collect()
          .foreach(r => streamAdmitted.add(r.getLong(0)))
        if (batchId % 64 == 63 || batchId == waves - 1) {
          val (pb, _) = Sharded.scanFootprint(spark, Seq(streamState)) {
            regTwin.historyTouched(spark, Long.MaxValue,
              regTwin.probeTokens(probeBuckets))
          }
          if (probeKbFirst < 0) probeKbFirst = pb / 1024.0
          val dirs = liveDirs
          val bound = compactEvery + 2 +
            (64 - java.lang.Long.numberOfLeadingZeros(batchId + 2L))
          val line = f"[wsoak] i=$batchId%4d live_dirs=$dirs%3d " +
            f"(bound=$bound%3d) reg_files=${fileCount(streamState)}%5d " +
            f"probe_kb=${pb / 1024.0}%8.1f " +
            f"admitted=${streamAdmitted.size}%6d"
          println(line); samples += line
          require(dirs <= bound,
            s"live dirs $dirs > O(log) bound $bound at trigger $batchId")
          require(pb / 1024.0 <= math.max(probeKbFirst * 4, 512.0),
            f"probe bytes not flat: first $probeKbFirst%.1f KB " +
              f"now ${pb / 1024.0}%.1f KB at trigger $batchId")
          checks += 1
        }
      } _)
      .start()

    val t0 = System.nanoTime()
    try {
      (0 until waves).foreach { i =>
        java.nio.file.Files.write(java.nio.file.Paths.get(
          f"$watch/wave-$i%05d.warc.wet.gz"), waveBytes(i))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamS = (System.nanoTime() - t0) / 1e9
    require(checks >= waves / 64,
      s"invariant checks did not run: $checks")

    // BATCH twin: identical wave frames, identical order, direct admit
    val batchAdmitted = scala.collection.mutable.Set[Long]()
    val t1 = System.nanoTime()
    (0 until waves).foreach { i =>
      val df = Warc.readWet(spark, f"$watch/wave-$i%05d.warc.wet.gz")
        .select(regexp_extract(col("url"), "/docs/(\\d+)\\?", 1)
          .cast("long").as("doc_id"), col("text"))
      batchAdm.admit(df, i.toLong).select("doc_id").collect()
        .foreach(r => batchAdmitted.add(r.getLong(0)))
    }
    val batchS = (System.nanoTime() - t1) / 1e9

    // EXACT identity: admitted sets and on-disk registry content
    val sOnly = streamAdmitted.asScala.toSet -- batchAdmitted
    val bOnly = batchAdmitted.toSet -- streamAdmitted.asScala.toSet
    require(sOnly.isEmpty && bOnly.isEmpty,
      s"admitted sets drifted: stream-only=${sOnly.take(5)} " +
        s"batch-only=${bOnly.take(5)}")
    def regSig(dir: String) = {
      val twin = new AdmissionRegistry(dir, regSchema,
        Seq("band", "bucket"), shards = shards, targetShardBytes = target)
      twin.history(spark, excludeBatchId = Long.MaxValue).distinct()
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(xxhash64(band, bucket))").as("x"))
        .collect().head.toSeq
    }
    val (ss, bs) = (regSig(streamState), regSig(batchState))
    require(ss == bs, s"registry content drifted: stream $ss batch $bs")

    // planted near-dups must actually be rejected (non-vacuous chain)
    val total = waves.toLong * docsPerWave
    val planted = (0L until total).count(isPlantedDup)
    val rejectedPlanted =
      (0L until total).count(g => isPlantedDup(g) &&
        !streamAdmitted.contains(g))
    require(rejectedPlanted >= (planted * 95) / 100,
      s"planted-dup rejection too low: $rejectedPlanted/$planted")

    println(f"[wsoak] PASS waves=$waves docs=$total " +
      f"stream_wall_s=$streamS%.0f batch_wall_s=$batchS%.0f " +
      f"admitted=${streamAdmitted.size} planted_dups=$planted " +
      f"rejected_planted=$rejectedPlanted registry_rows=${ss.head} " +
      f"final: ${samples.last.stripPrefix("[wsoak] ")}")
    spark.stop()
  }

  private implicit class SetAsScala[A](
      s: java.util.Set[A]) {
    def asScala: Iterable[A] = {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
    }
  }
}
