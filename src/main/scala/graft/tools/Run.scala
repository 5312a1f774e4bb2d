package graft.tools

import java.math.MathContext
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.collection.immutable.ListMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkEntry, Tables}

/** The one entry point of the measurement tools:
  *
  *   runMain graft.tools.Run <scenario> [args]
  *
  * A scenario runs on the tools' [[session]] and prints one JSON record:
  *
  *   {"scenario", "args", "host": {cpus, heap_mb, loadavg}, "wall_s",
  *    "metrics": {...}, "counters": {jobs, stages, tasks,
  *    shuffle_read_bytes, shuffle_write_bytes, spill_bytes}}
  *
  * `counters` come from the session's one [[Counters]] listener and
  * cover the whole scenario. Progress lines go to stderr. The scenarios
  * and their arguments are listed in [[scenarios]]; an unknown name
  * fails with that list.
  *
  * This object also holds the pieces every tool shares: [[release]],
  * [[timed]], [[steadyRate]], [[percentile]] (and [[dist]] over it) and
  * the JSON escaper [[jstr]]. `graft.Bench` and `graft.Verify` build their
  * session and release caches through it and escape with [[jstr]].
  * `ChainedStress` and `IncrementalStress` keep their own `main`: they
  * are exactness gates whose reference arms stay independent.
  */
object Run {

  type Metrics = Map[String, Any]

  /** `inputDir`: the directory whose size sets the session's AQE
    * partition sizes ([[GraftSession.fixtureSized]]), if any. */
  final case class Scenario(usage: String,
      run: (SparkSession, Seq[String]) => Metrics,
      inputDir: Seq[String] => Option[String] = _ => None)

  val scenarios: ListMap[String, Scenario] = ListMap(
    "profile" -> Scenario("<query[,query...]> <sfDir> [repeats=3] [explain]",
      profile, _.lift(1)),
    "throughput" -> Scenario("[rowsPerSec=50000] [secs=30]",
      StreamBench.throughput),
    "mediagate" -> Scenario("[rowsPerSec=200000] [secs=30]",
      StreamBench.mediagate),
    "upsert-sharded" -> Scenario(
      "[keyDomain=10000000] [batchRows...=64 1024 16384]",
      StreamBench.upsertSharded),
    "curation" -> Scenario("[batchA=10000] [batchB=50000] [rounds=12]",
      StreamBench.curation),
    "crawl-arrival" -> Scenario("[waves=512] [docsPerWave=16]",
      CrawlArrival.run),
    "soak" -> Scenario("[triggers=2048] [batchRows=32]", LifetimeSoak.run),
    "plan-audit" -> Scenario("<sfDir>", PlanAudit.run),
    "scale-up" -> Scenario("<sfDir> <outDir> [factor=10]", ScaleUp.run))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val rest = args.toSeq.drop(1)
    val spark = session(scenario(name).inputDir(rest))
    try println(run(spark, name, rest)) finally spark.stop()
  }

  def scenario(name: String): Scenario = scenarios.getOrElse(name,
    throw new IllegalArgumentException(s"unknown scenario '$name'; valid: " +
      scenarios.map { case (n, s) => s"$n ${s.usage}" }.mkString("; ")))

  /** Scenario `name`'s JSON record. */
  def run(spark: SparkSession, name: String, args: Seq[String]): String = {
    val s = scenario(name)
    measure(spark, name, args)(s.run(spark, args))
  }

  /** `body`'s metrics as a scenario record; the counters cover `body`
    * alone. */
  def measure(spark: SparkSession, name: String, args: Seq[String])(
      body: => Metrics): String = {
    val counters = Counters.on(spark.sparkContext)
    val before = counters.snapshot()
    val (metrics, wall) = timed(body)
    json(ListMap("scenario" -> name, "args" -> args, "host" -> host(),
      "wall_s" -> wall, "metrics" -> metrics,
      "counters" -> counters.since(before)))
  }

  /** The tools' session: the product configuration on `local[cpus]`
    * ([[GraftSession.local]]), AQE partition sizes fitted to
    * `inputDir` when given, WARN logging. */
  def session(inputDir: Option[String] = None): SparkSession = {
    val spark = inputDir.fold(GraftSession.local())(
      GraftSession.local(GraftSession.cpus, _))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop what a query left behind: cached frames, and the tracked
    * local checkpoints that `clearCache` does not reach. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.ops.Caches.releaseAll()
  }

  def host(): Metrics = ListMap("cpus" -> GraftSession.cpus,
    "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20), "loadavg" -> loadavg())

  /** One-minute load average of the host (all tenants). */
  def loadavg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  def progress(line: String): Unit = System.err.println(s"[run] $line")

  /** `body`'s result and its wall-clock seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def arg(a: Seq[String], i: Int, name: String): String = a.lift(i)
    .getOrElse(throw new IllegalArgumentException(s"missing <$name>"))

  def intArg(a: Seq[String], i: Int, default: Int): Int =
    a.lift(i).map(_.toInt).getOrElse(default)

  /** The tools' one SparkListener: jobs, stages, tasks, shuffle read and
    * write bytes, and spill (memory + disk), summed since the listener
    * was installed ([[Counters.on]], once per SparkContext). Listener
    * events arrive asynchronously, so [[snapshot]] first runs a tagged
    * one-task job and waits for its end event: every event before it
    * has then been counted, and the flush job itself is not. */
  final class Counters private (sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks, shuffleRead, shuffleWrite, spill =
      new LongAdder
    private val flushJobs = ConcurrentHashMap.newKeySet[Int]()
    private val flushStages = ConcurrentHashMap.newKeySet[Int]()
    @volatile private var flushed = new CountDownLatch(0)

    private def isFlush(p: java.util.Properties): Boolean =
      Option(p).exists(_.getProperty(Counters.FlushTag) != null)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (isFlush(j.properties)) {
        flushJobs.add(j.jobId)
        j.stageIds.foreach(flushStages.add(_))
      } else jobs.increment()

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (flushJobs.remove(j.jobId)) flushed.countDown()

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (!flushStages.contains(s.stageInfo.stageId)) stages.increment()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (!flushStages.contains(t.stageId)) {
        tasks.increment()
        Option(t.taskMetrics).foreach { m =>
          shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }

    /** Jobs started so far, read without a flush: for splitting a
      * running stream's work by trigger and phase. */
    def jobCount: Long = jobs.sum()

    def snapshot(): ListMap[String, Long] = synchronized {
      flushed = new CountDownLatch(1)
      sc.setLocalProperty(Counters.FlushTag, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Counters.FlushTag, null)
      require(flushed.await(60, TimeUnit.SECONDS),
        "listener events not flushed")
      ListMap("jobs" -> jobs.sum(), "stages" -> stages.sum(),
        "tasks" -> tasks.sum(), "shuffle_read_bytes" -> shuffleRead.sum(),
        "shuffle_write_bytes" -> shuffleWrite.sum(),
        "spill_bytes" -> spill.sum())
    }

    /** The counts since `before`, an earlier [[snapshot]]. */
    def since(before: ListMap[String, Long]): ListMap[String, Long] =
      snapshot().map { case (k, v) => k -> (v - before(k)) }
  }

  object Counters {
    private val FlushTag = "graft.run.flush"
    private val installed = new java.util.WeakHashMap[SparkContext, Counters]()

    def on(sc: SparkContext): Counters = installed.synchronized {
      Option(installed.get(sc)).getOrElse {
        val c = new Counters(sc)
        sc.addSparkListener(c)
        installed.put(sc, c)
        c
      }
    }
  }

  /** One trigger of a streaming query: start (epoch ms), duration, input
    * rows. */
  final case class Trigger(startMs: Long, durationMs: Long, rows: Long)

  def triggers(q: StreamingQuery): Seq[Trigger] = q.recentProgress.toSeq
    .map(p => Trigger(Instant.parse(p.timestamp).toEpochMilli,
      p.batchDuration, p.numInputRows))

  /** Steady-state rate of a run of triggers over a rate source: the
    * rows of triggers 3..n over the longer of the window they arrived in
    * (start(2) to start(n): trigger k reads what arrived since trigger
    * k−1 started) and the window they were processed in (start(3) to
    * end(n)). The first trigger (source start-up, code generation) is
    * dropped, and so is the second, which carries the rows piled up
    * while the first ran (counting it reported 3,789 rows/s from a
    * 2,000 rows/s source). A pipeline that keeps up is then measured at
    * the source rate, not at the faster pace it catches up at; one that
    * falls behind, at the pace it processes (the arrival window alone
    * gives back the source rate, since a rate source sizes each trigger
    * by the wall clock). Idle time between triggers counts. */
  def steadyRate(ts: Seq[Trigger]): Metrics = {
    val steady = ts.drop(2)
    val rows = steady.map(_.rows).sum
    val secs = if (steady.isEmpty) 0.0
      else math.max(steady.last.startMs - ts(1).startMs,
        steady.last.startMs + steady.last.durationMs -
          steady.head.startMs) / 1000.0
    ListMap("triggers" -> steady.size, "rows" -> rows, "wall_s" -> secs,
      "rows_per_s" -> (if (secs > 0) rows / secs else Double.NaN))
  }

  /** Nearest-rank percentile: the smallest sample with at least a
    * fraction `p` of the samples at or below it; NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1,
        math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1)))
    }

  /** The tools' one summary of a sample set. */
  def dist(xs: Seq[Double]): Metrics = ListMap("n" -> xs.size,
    "p50" -> percentile(xs, 0.5), "p90" -> percentile(xs, 0.9),
    "p95" -> percentile(xs, 0.95), "max" -> percentile(xs, 1.0),
    "mean" -> (if (xs.isEmpty) Double.NaN else xs.sum / xs.size))

  /** A JSON string literal: quote, backslash and every control character
    * escaped, so any text round-trips through a JSON parser (a tab in an
    * oracle's SQL once broke the correctness dump's `json.load`). */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON text of a record: maps are objects (in their iteration order),
    * other collections arrays, doubles keep 6 significant digits and
    * NaN/infinity are null. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => jstr(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else BigDecimal(d).round(new MathContext(6)).bigDecimal
        .stripTrailingZeros.toPlainString
    case x @ (_: Int | _: Long | _: Boolean) => x.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jstr(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => jstr(x.toString)
  }

  /** `profile`: each query (comma-separated) `repeats` times, every run
    * from released caches (run 1 included: building the plan to explain
    * it evaluates the query's tracked frames), with each run's counters.
    * The host is shared and noisy, so a query's cost is its best run;
    * `explain` prints each formatted plan to stderr first. */
  private def profile(spark: SparkSession, a: Seq[String]): Metrics = {
    val counters = Counters.on(spark.sparkContext)
    val names = arg(a, 0, "query").split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = arg(a, 1, "sfDir")
    val repeats = intArg(a, 2, 3)
    Tables(spark, sfDir, "documents").count() // warmup
    ListMap(names.toSeq.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"profile: unknown query $name"))
      if (a.contains("explain"))
        System.err.println(fn(spark, sfDir).queryExecution
          .explainString(FormattedMode))
      release(spark)
      val runs = (1 to repeats).map { _ =>
        val before = counters.snapshot()
        val (rows, secs) = timed(fn(spark, sfDir).count())
        release(spark)
        ListMap("rows" -> rows, "s" -> secs) ++ counters.since(before)
      }
      name -> ListMap("runs" -> runs,
        "s" -> dist(runs.map(_("s").asInstanceOf[Double])))
    }: _*)
  }
}
