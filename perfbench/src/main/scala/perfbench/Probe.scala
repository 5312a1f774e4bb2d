package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Minimal JSON writer for the harness's result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank percentile of `xs` (q in 0..1); 0 when empty. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def p50(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def p90(xs: Iterable[Double]): Double = pct(xs, 0.9)
}

/** One span: a timed call into a layer. `parent` is the id of the span
  * that caused it (0 for a root); spans of one request or trigger share
  * `req`. Times are epoch microseconds. */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, req: String) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** In-memory span recorder, used only by the traced run. Spans nest per
  * thread; a disabled tracer runs the body with no bookkeeping at all. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, inherited) = outer.headOption.getOrElse((0L, ""))
      val r = if (req.nonEmpty) req else inherited
      stack.set((id, r) :: outer)
      val t0 = nowUs()
      try body
      finally {
        spans.add(Span(id, name, t0, nowUs(), parent, r))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)

  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  /** Median self time per span name: duration minus the time covered by
    * its direct children. */
  def selfTimes: Map[String, Double] = {
    val s = all
    val childMs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    s.groupBy(_.name).map { case (n, xs) =>
      n -> Stats.p50(xs.map(x => x.ms - childMs.getOrElse(x.id, 0.0)))
    }
  }

  def write(path: String): Unit = {
    val lines = all.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent,
      "req" -> s.req)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-tag Spark work counters from a listener the harness registers.
  * Jobs are tagged when they start: serving requests by the HTTP shell's
  * job group, stream triggers by the micro-batch id property, anything
  * else by the harness's own `perfbench.tag` local property. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, failedJobs, tasks, shuffleWrite, spill, cpuNs, gcMs = 0L
  }
  private val byTag = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobTag = mutable.Map.empty[Int, String]

  private def tagOf(p: java.util.Properties): String = {
    def get(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    get("spark.jobGroup.id").filter(_.startsWith("serving-http")).map(_ => "read")
      .orElse(get("streaming.sql.batchId").map(_ => "trigger"))
      .orElse(get("perfbench.tag"))
      .getOrElse("other")
  }

  private def acc(tag: String) = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = tagOf(e.properties)
    jobTag(e.jobId) = t
    e.stageIds.foreach(stageTag(_) = t)
    acc(t).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    e.jobResult match {
      case _: JobFailed => acc(jobTag.getOrElse(e.jobId, "other")).failedJobs += 1
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, "other"))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
    }
  }

  /** Snapshot of one tag's counters (zeros when the tag never ran). */
  def get(tag: String): Map[String, Double] = synchronized {
    val a = byTag.getOrElse(tag, new Acc)
    Map("jobs" -> a.jobs.toDouble, "failed_jobs" -> a.failedJobs.toDouble,
      "tasks" -> a.tasks.toDouble, "shuffle_bytes" -> a.shuffleWrite.toDouble,
      "spill_bytes" -> a.spill.toDouble, "cpu_s" -> a.cpuNs / 1e9,
      "gc_s" -> a.gcMs / 1e3)
  }

  def total: Map[String, Double] = synchronized {
    byTag.keys.toSeq.map(get).foldLeft(Map.empty[String, Double]) { (m, x) =>
      x.foldLeft(m) { case (mm, (k, v)) => mm.updated(k, mm.getOrElse(k, 0.0) + v) }
    }
  }
}
