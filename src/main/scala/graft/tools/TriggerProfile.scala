package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ext.WarcFixtures
import graft.sources.Warc
import graft.streaming.NearDupAdmission

/** Per-trigger cost PROFILE of the crawl-arrival admission chain
  * (VERDICT r16 #5: WarcArrivalSoak measured ~2.2 s per 16-doc trigger
  * vs ~1.4 s for the batch twin — per-TRIGGER fixed cost, not
  * per-doc; this tool says where it goes before anything is "fixed").
  *
  * Splits each trigger into the engine's own phases (from
  * StreamingQueryProgress.durationMs: latestOffset / getBatch /
  * walCommit / commitOffsets / addBatch) plus manual timers inside the
  * foreachBatch body (admit() vs the downstream collect), plus the
  * Spark JOB count per trigger from a listener — job-launch overhead
  * is a fixed ~tens-of-ms per job in local mode and a scheduling
  * round-trip on a cluster, so the count is a first-class cost.
  *
  * Usage: runMain graft.tools.TriggerProfile [waves] [docsPerWave]
  */
object TriggerProfile {

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(48)
    val docsPerWave = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val root =
      java.nio.file.Files.createTempDirectory("graft_tprof_").toString
    val watch = s"$root/watch"
    val ckpt = s"$root/ckpt"
    new java.io.File(watch).mkdirs()

    def baseText(g: Long): String =
      (1 to 30).map(k => s"t${g}x$k").mkString(" ")
    def waveBytes(i: Int): Array[Byte] = {
      val name = f"wave-$i%05d.warc.wet.gz"
      var out = WarcFixtures.gzMember(WarcFixtures.warcinfo(name))
      (0 until docsPerWave).foreach { j =>
        val gid = i.toLong * docsPerWave + j
        out = out ++ WarcFixtures.gzMember(WarcFixtures.record(
          "conversion", Some(WarcFixtures.urlOf("prof", gid)),
          WarcFixtures.dateOf(gid),
          f"66666666-0000-0000-0000-$gid%012d", "text/plain",
          baseText(gid).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      out
    }

    val adm = new NearDupAdmission(s"$root/state", "text", "doc_id",
      compactEvery = 16, shards = 4, targetShardBytes = 256L << 10)

    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    val jobMs = new java.util.concurrent.atomic.AtomicLong(0)
    val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val dumpJobs = sys.env.contains("SPARK_GRAFT_TPROF_JOBS")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        if (dumpJobs && jobCount.get() > 20 && jobCount.get() < 40)
          println(s"[tprof-job] ${j.jobId} stages=${j.stageInfos.size} " +
            j.properties.getProperty("callSite.short", "?"))
        jobStarts.put(j.jobId, System.nanoTime()); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobCount.incrementAndGet()
        Option(jobStarts.remove(j.jobId)).foreach(t0 =>
          jobMs.addAndGet((System.nanoTime() - t0) / 1000000))
        ()
      }
    })

    val admitMs = scala.collection.mutable.ArrayBuffer[Long]()
    val collectMs = scala.collection.mutable.ArrayBuffer[Long]()
    val jobsPerTrigger = scala.collection.mutable.ArrayBuffer[Long]()
    val jobMsPerTrigger = scala.collection.mutable.ArrayBuffer[Long]()
    // per-phase (ms, jobs) from NearDupAdmission's own instrumentation
    val phases = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]

    val q = Warc.streamWet(spark, watch)
      .select(regexp_extract(col("url"), "/docs/(\\d+)\\?", 1)
        .cast("long").as("doc_id"), col("text"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val j0 = jobCount.get(); val jm0 = jobMs.get()
        val t0 = System.nanoTime()
        val rec = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
        val admitted = adm.admitInstrumented(df, id, (phase, ms) => {
          rec += ((phase, ms, jobCount.get())); ()
        })
        val t1 = System.nanoTime()
        admitted.select("doc_id").count()
        val t2 = System.nanoTime()
        var prevJobs = j0
        rec.foreach { case (phase, ms, jobs) =>
          phases.getOrElseUpdate(phase,
            scala.collection.mutable.ArrayBuffer.empty) +=
            ((ms, jobs - prevJobs))
          prevJobs = jobs
        }
        admitMs += (t1 - t0) / 1000000
        collectMs += (t2 - t1) / 1000000
        jobsPerTrigger += jobCount.get() - j0
        jobMsPerTrigger += jobMs.get() - jm0
        ()
      }
      .start()

    val wallT0 = System.nanoTime()
    (0 until waves).foreach { i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(
        f"$watch/wave-$i%05d.warc.wet.gz"), waveBytes(i))
      q.processAllAvailable()
    }
    val wallS = (System.nanoTime() - wallT0) / 1e9
    val progress = q.recentProgress.toSeq
    q.stop()

    def stats(xs: Seq[Long]): String =
      if (xs.isEmpty) "n/a"
      else {
        val s = xs.sorted
        f"med=${s(s.size / 2)}%5d p90=${s(s.size * 9 / 10)}%5d " +
          f"mean=${xs.sum.toDouble / xs.size}%7.1f"
      }
    def dur(key: String): Seq[Long] = progress.flatMap(p =>
      Option(p.durationMs.get(key)).map(_.toLong))

    println(f"[tprof] waves=$waves docs=$docsPerWave wall=${wallS}%.1f s " +
      f"(${wallS / waves}%.3f s/trigger)")
    Seq("latestOffset", "getBatch", "walCommit", "commitOffsets",
      "addBatch", "triggerExecution").foreach { k =>
      println(f"[tprof] ${k}%-18s ${stats(dur(k))} ms")
    }
    println(f"[tprof] admit              ${stats(admitMs.toSeq)} ms")
    phases.foreach { case (phase, xs) =>
      println(f"[tprof]   $phase%-16s ${stats(xs.map(_._1).toSeq)} ms " +
        f"jobs:${stats(xs.map(_._2).toSeq)}")
    }
    println(f"[tprof] downstream_count   ${stats(collectMs.toSeq)} ms")
    println(f"[tprof] jobs/trigger       ${stats(jobsPerTrigger.toSeq)}")
    println(f"[tprof] job_ms/trigger     ${stats(jobMsPerTrigger.toSeq)} ms")
    spark.stop()
  }
}
