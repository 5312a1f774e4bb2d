package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Harness entry point, launched by run.py once per workload run:
  *
  * {{{
  * perfbench.Main --workload dashboard|registry --dir RUN_DIR
  *   --seconds S --trace 0|1 --cores N
  * }}}
  *
  * RUN_DIR holds the generated inputs and receives `result.json` (plus
  * `spans.jsonl` when traced). The harness calls the engine's public
  * functions only; every counter it reports is read from outside the
  * engine: a SparkListener, the streaming progress records, and spans
  * around the calls it makes. */
object Main {

  final case class Args(workload: String, dir: String, seconds: Double,
      trace: Boolean, cores: Int)

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("dir"), kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("cores").toInt)
  }

  /** The product session (GraftSession: RocksDB state store, AQE) with
    * only the run's placement overrides: thread count and scratch dirs
    * inside the run directory. */
  def session(a: Args): SparkSession = {
    val spark = GraftSession.builder("perfbench", shufflePartitions = a.cores)
      .master(s"local[${a.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Host shape and effective configuration, recorded with every result. */
  def host(spark: SparkSession, cores: Int): Map[String, Any] = {
    val load = try Files.readString(Paths.get("/proc/loadavg")).trim
      catch { case _: Throwable => "" }
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "loadavg" -> load, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  /** How many times a workload sets up; `setup_s` is the median. */
  val SetupRounds = 3

  /** Seconds from JVM start until the session was built. */
  @volatile var sessionS = 0.0

  /** Record the end of set-up: `setup_s` is the median of the set-up
    * rounds' times. The rounds repeat a fixed amount of work, so the
    * median steps over the first round's JIT and class-loading cost; the
    * time from JVM start to the end of set-up is reported beside it. */
  def setupDone(r: Result, rounds: Seq[Double]): Unit = {
    r.e2e("setup_s") = Stats.p50(rounds)
    r.report("session_s") = sessionS
    r.report("ready_s") = sinceJvmStart()
    phase(f"set up, rounds ${rounds.map(x => f"$x%.2f").mkString(" ")} s")
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Progress marker in the harness log: seconds since JVM start. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${sinceJvmStart()}%.2f s: $what")

  /** Let the asynchronous listener bus deliver outstanding events: wait
    * until the task count stops moving. */
  def drain(c: Counters): Unit = {
    var last = -1.0
    var stable = 0
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = c.total.getOrElse("tasks", 0.0)
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** What one workload run reports back to run.py. */
  final class Result {
    var correct = false
    var check = ""
    var attempted = 0L
    var failed = 0L
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    phase("jvm up")
    val spark = session(a)
    sessionS = sinceJvmStart()
    phase("session built")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(a.trace)
    val r = new Result
    try {
      a.workload match {
        case "dashboard" => Dashboard.run(spark, a, tracer, counters, r)
        case "registry" => Registry.run(spark, a, tracer, counters, r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      drain(counters)
      val tot = counters.total
      r.layers("spark.shuffle_write_bytes") = tot("shuffle_bytes")
      r.layers("spark.spill_bytes") = tot("spill_bytes")
      r.layers("spark.task_cpu_s") = tot("cpu_s")
      r.layers("spark.gc_s") = tot("gc_s")
      r.report("spark_failed_jobs") = tot("failed_jobs")
      r.e2e("peak_rss_mb") = peakRssMb()
      if (a.trace) {
        tracer.write(s"${a.dir}/spans.jsonl")
        tracer.selfTimes.foreach { case (n, ms) => r.report(s"self_ms_p50.$n") = ms }
      }
      val out = Json.obj(Seq(
        "workload" -> a.workload, "correct" -> r.correct, "check" -> r.check,
        "attempted" -> r.attempted, "failed" -> r.failed, "e2e" -> r.e2e,
        "report" -> r.report, "layers" -> r.layers, "host" -> host(spark, a.cores)))
      Files.write(Paths.get(s"${a.dir}/result.json"), out.getBytes(UTF_8))
    } finally spark.stop()
  }
}
