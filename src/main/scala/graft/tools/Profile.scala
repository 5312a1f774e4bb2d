package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.{GraftSession, SparkEntry, Tables}

/** Ad-hoc single-query profiler: time one registered query N times in
  * isolation (the bench host is a noisy shared VM — a query's cost is the
  * MIN across repeats, not any single sample). Each run also reports the
  * Spark JOB/stage/task counts and shuffle bytes from a listener:
  * job-launch overhead is a fixed ~tens-of-ms per job in local mode and a
  * scheduling round-trip on a cluster, so for sub-second queries the job
  * COUNT is a first-class cost next to the shuffle volume. Usage:
  *   runMain graft.tools.Profile <queryName> [sfDir] [repeats] [explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val repeats = if (args.length > 2) args(2).toInt else 3
    val doExplain = args.contains("explain")
    val spark = GraftSession.local(GraftSession.cpus, sfDir)
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val shufRead = new java.util.concurrent.atomic.AtomicLong(0)
    val shufWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val verbose = args.contains("jobs") // per-job callsite log
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val p = Option(j.properties)
          val site = p.map(_.getProperty("callSite.short", "?")).getOrElse("?")
          val desc = p.map(_.getProperty("spark.job.description", ""))
            .getOrElse("")
          val names = j.stageInfos.map(_.name.takeWhile(_ != '$')).distinct
            .mkString("|")
          println(f"[job] ${j.jobId}%4d stages=${j.stageInfos.size} " +
            f"site=$site desc=$desc names=$names")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (verbose) {
          val i = s.stageInfo
          val ms = (for {
            a <- i.submissionTime; b <- i.completionTime
          } yield b - a).getOrElse(-1L)
          println(f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%3d " +
            f"ms=$ms%5d ${i.name.take(80)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    Tables(spark, sfDir, "documents").count() // warmup
    val fn = SparkEntry.queries(name)
    // every run starts from released caches, run 1 included: building the
    // plan to explain it evaluates the query's tracked frames
    def release(): Unit = {
      spark.catalog.clearCache()
      graft.ops.Caches.releaseAll() // checkpoint storage (outside cache mgr)
      // let straggler listener events drain before the counters are read
      // or reset
      Thread.sleep(100)
    }
    if (doExplain) { fn(spark, sfDir).explain("formatted"); release() }
    (1 to repeats).foreach { i =>
      Seq(jobs, stages, tasks, shufRead, shufWrite).foreach(_.set(0))
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      release()
      println(f"[profile] $name run $i: rows=$n time=$dt%.2f s " +
        f"jobs=${jobs.get()} stages=${stages.get()} tasks=${tasks.get()} " +
        s"shufReadBytes=${shufRead.get()} shufWriteBytes=${shufWrite.get()}")
    }
    spark.stop()
  }
}
