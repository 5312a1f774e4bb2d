package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.codec.JsonCodec
import graft.model.Review
import graft.ops.{Serving, Summarize, Transforms}
import graft.streaming.{Pipeline, ServingHttp, ShardedUpsertSink}

/** The live path the dashboard workload drives: a file source of review
  * JSON lines → `Pipeline.summarize` → `Serving.decomposeTime` →
  * `ShardedUpsertSink.mergeBatch` in `foreachBatch`, with the per-trigger
  * bookkeeping the reports need. The stream keeps its checkpoint and its
  * view store under `root`. */
final class LivePath(spark: SparkSession, val source: String, root: String,
    tracer: Tracer) {
  val store = s"$root/store"

  /** batch id → System.nanoTime when its merge returned. */
  val commits = new ConcurrentHashMap[Long, Long]()
  val mergeMs = new ConcurrentLinkedQueue[(Long, Double)]()
  val summarizeMs = new ConcurrentLinkedQueue[(Long, Double)]()
  val written = new ConcurrentLinkedQueue[(Long, Long, Long)]() // shards, files, bytes

  def start(): StreamingQuery = {
    Pipeline.summarize(spark.readStream.text(source)).writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$root/checkpoint")
      .trigger(Trigger.ProcessingTime(LivePath.TriggerIntervalMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("batch", s"$root-batch-$id") {
          // traced: materialize the micro-batch first, so the summarize
          // step and the merge are timed apart
          val in =
            if (!tracer.enabled) batch
            else {
              val m = batch.persist()
              val t0 = System.nanoTime()
              tracer.span("summarize") { m.count() }
              summarizeMs.add(id -> (System.nanoTime() - t0) / 1e6)
              m
            }
          val t0 = System.nanoTime()
          try tracer.span("sink.merge") {
            ShardedUpsertSink.mergeBatch(spark, store, LivePath.Keys, Nil,
              LivePath.Shards)(Serving.decomposeTime(in), id)
          } finally if (tracer.enabled) in.unpersist()
          mergeMs.add(id -> (System.nanoTime() - t0) / 1e6)
          if (tracer.enabled) written.add(LivePath.versionFootprint(store, id))
        }
        commits.put(id, System.nanoTime())
        Main.phase(s"trigger $id committed")
      }
      .start()
  }

  /** Progress records of triggers that read input, from `from` on. */
  def progress(q: StreamingQuery, from: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.batchId >= from && p.numInputRows > 0)

  /** Trigger, state and merge metrics over triggers with id ≥ `from`. */
  def layerMetrics(q: StreamingQuery, from: Long, r: Main.Result): Unit = {
    val ps = progress(q, from)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val L = r.layers
    L("trigger.count") = ps.size
    L("trigger.ms_p50") = Stats.p50(dur("triggerExecution"))
    L("trigger.ms_p90") = Stats.p90(dur("triggerExecution"))
    L("trigger.addBatch_ms_p50") = Stats.p50(dur("addBatch"))
    L("trigger.queryPlanning_ms_p50") = Stats.p50(dur("queryPlanning"))
    L("trigger.walCommit_ms_p50") = Stats.p50(dur("walCommit"))
    L("trigger.latestOffset_ms_p50") = Stats.p50(dur("latestOffset"))
    val st = ps.flatMap(_.stateOperators.headOption)
    L("state.rows_total") = st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    L("state.memory_bytes") = st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    L("state.commit_ms_p50") = Stats.p50(st.map(_.commitTimeMs.toDouble))
    L("summarize.rows_in_per_trigger") = Stats.p50(ps.map(_.numInputRows.toDouble))
    L("summarize.rows_out_per_trigger") =
      Stats.p50(st.map(_.numRowsUpdated.toDouble))
    L("summarize.batch_ms_p50") =
      Stats.p50(summarizeMs.asScala.toSeq.filter(_._1 >= from).map(_._2))
    val merges = mergeMs.asScala.toSeq.filter(_._1 >= from).map(_._2)
    L("sink.merge_ms_p50") = Stats.p50(merges)
    L("sink.merge_ms_p90") = Stats.p90(merges)
    val w = written.asScala.toSeq.drop(from.toInt)
    L("sink.touched_shards_per_merge") = Stats.p50(w.map(_._1.toDouble))
    L("sink.files_written_per_merge") = Stats.p50(w.map(_._2.toDouble))
    L("sink.bytes_written_per_merge") = Stats.p50(w.map(_._3.toDouble))
  }

  /** Store-side metrics: direct view resolution time, live versions and
    * bytes on disk. */
  def storeMetrics(r: Main.Result): Unit = {
    val resolve = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      ShardedUpsertSink.currentView(spark, store)
      (System.nanoTime() - t0) / 1e6
    }
    r.layers("sink.view_resolve_ms_p50") = Stats.p50(resolve)
    r.layers("sink.live_versions") = ShardedUpsertSink.versions(spark, store).size
    r.layers("sink.store_bytes") = LivePath.treeBytes(Paths.get(store))
  }

  /** Final-state check: the served view must equal a batch
    * `Pipeline.summarize` over every input line in `files`. */
  def check(files: Seq[String], r: Main.Result): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.tag", "check")
    val view = ShardedUpsertSink.currentView(spark, store)
      .getOrElse(spark.emptyDataFrame)
    val (expected, served, bad) = LivePath.compare(
      Serving.decomposeTime(Pipeline.summarize(spark.read.text(files: _*))), view)
    r.correct = bad == 0 && expected == served && expected > 0
    r.check = s"view rows $served, batch summary rows $expected, mismatched keys $bad"
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
  }
}

object LivePath {
  /** Trigger interval of the live stream: the reference dashboard's 5 s
    * refresh. `ShardedUpsertSink` keeps 2 committed versions, so an HTTP
    * read fails with FileNotFoundException when two commits land between
    * its view resolution and the end of its scan. Back-to-back triggers
    * (1-2 s here) leave a 1-2 s read no margin; 5 s apart they do. */
  val TriggerIntervalMs = 5000L

  /** Shards of the view store. The view is under 1 MB, five orders below
    * the sink's 64 MB shard target (`maybeReshard`), so one shard per core
    * of a 4-cpu host. `ShardedUpsertSink.start`'s default of 64 gave 12 KB
    * files, and most merges left 1 or 2 shards to an older version; GC
    * then deleted that version's dead shard directories while reads were
    * listing it (FileNotFoundException, HTTP 500). */
  val Shards = 4

  /** The serving view's key: one row per game and event day. */
  val Keys = Seq("app_id", "app_name", "time_year", "time_month", "time_day")

  /** Batch-mode time of each public stage over fixed input files, each
    * stage's input cached so only that stage runs (median of 3), and the
    * whole `Pipeline.summarize` with one task per stage: the single-thread
    * baseline. */
  def stageTimes(spark: SparkSession, files: Seq[String], r: Main.Result): Unit = {
    val chunk = spark.read.text(files: _*).cache()
    val rows = chunk.count()
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    def timed(df: DataFrame): Double = { noop(df); Stats.p50((1 to 3).map(_ => noop(df))) }
    val decoded = JsonCodec.decode(chunk, Review.schema)
    r.layers("codec.decode_ms") = timed(decoded)
    val decodedC = decoded.cache(); decodedC.count()
    val normalized = Transforms.normalize(decodedC)
    r.layers("transforms.normalize_ms") = timed(normalized)
    val normalizedC = normalized.cache(); normalizedC.count()
    r.layers("summarize.aggregate_ms") = timed(Summarize.dailySummary(normalizedC))
    Seq(normalizedC, decodedC).foreach(_.unpersist())
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try r.layers("summarize.rows_per_s_1core") =
      rows / (timed(Pipeline.summarize(chunk.coalesce(1))) / 1e3)
    finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    chunk.unpersist()
  }

  def inputFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getPath).sorted

  def treeBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** (shard dirs, data files, bytes) a merge wrote under `v=<id>`. */
  def versionFootprint(store: String, id: Long): (Long, Long, Long) = {
    val v = new java.io.File(s"$store/v=$id")
    val shardDirs = Option(v.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
    val files = shardDirs.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (shardDirs.size.toLong, files.size.toLong, files.map(_.length).sum)
  }

  /** (expected rows, served rows, keys whose rows differ). Counts compare
    * exactly; averages within a relative 1e-9, because the stream sums in
    * a different order than the batch plan. */
  def compare(expected: DataFrame, served: DataFrame): (Long, Long, Long) = {
    val metrics = expected.columns.filterNot(Keys.contains)
    val e = expected.select(Keys.map(col) ++ metrics.map(m => col(m).as(s"e_$m")): _*)
      .withColumn("e_present", lit(true))
    val v = served.select(Keys.map(col) ++ metrics.map(m => col(m).as(s"v_$m")): _*)
      .withColumn("v_present", lit(true))
    def differs(m: String): Column = {
      val (x, y) = (col(s"e_$m"), col(s"v_$m"))
      if (m.startsWith("A_"))
        (x.isNull =!= y.isNull) || (abs(x - y) >
          lit(1e-9) * greatest(lit(1.0), abs(x), abs(y)))
      else not(x <=> y)
    }
    val joined = e.join(v, Keys, "full_outer")
    val bad = joined.filter(col("e_present").isNull || col("v_present").isNull ||
      metrics.map(differs).reduce(_ || _)).count()
    (expected.count(), served.count(), bad)
  }
}

object Dashboard {

  /** Serve the live view over HTTP while an open-loop trickle of reviews
    * arrives; run.py's load process drives the clients and the prober and
    * signals the end of the load phase through `stop.json`. */
  def run(spark: SparkSession, a: Main.Args, tracer: Tracer,
      counters: Counters, r: Main.Result): Unit = {
    val source = s"${a.dir}/source"
    // set-up, Main.SetupRounds times over the same pre-generated history:
    // a stream on a fresh checkpoint and store whose trigger 0 replays the
    // history into the view. The last round's stream serves the load phase.
    spark.sparkContext.setLocalProperty("perfbench.tag", "setup")
    val rounds = (1 to Main.SetupRounds).map { i =>
      val live = new LivePath(spark, source, s"${a.dir}/round-$i", tracer)
      val t0 = System.nanoTime()
      val q = live.start()
      val deadline = t0 + 100000000000L
      while (!live.commits.containsKey(0L) && q.isActive &&
          System.nanoTime() < deadline) Thread.sleep(10)
      require(live.commits.containsKey(0L), "the history trigger did not commit")
      val s = (System.nanoTime() - t0) / 1e9
      r.report(s"setup_round_${i}_s") = s
      if (i < Main.SetupRounds) q.stop()
      (s, live, q)
    }
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
    Main.setupDone(r, rounds.map(_._1))
    val (_, live, q) = rounds.last
    Main.drain(counters)
    val setupTrig = counters.get("trigger")

    val http = new ServingHttp(() => tracer.span("sink.view_resolve") {
      ShardedUpsertSink.currentView(spark, live.store)
    })
    http.start()
    val ready = Paths.get(s"${a.dir}/ready.json")
    Files.write(Paths.get(s"${a.dir}/ready.tmp"),
      s"""{"port":${http.boundPort}}""".getBytes(UTF_8))
    Files.move(Paths.get(s"${a.dir}/ready.tmp"), ready)

    val stop = Paths.get(s"${a.dir}/stop.json")
    val loadEnd = Paths.get(s"${a.dir}/load-end")
    val loadDeadline = System.nanoTime() + ((a.seconds + 150) * 1e9).toLong
    var consumedAtEnd = -1L
    while (!Files.exists(stop) && q.isActive && System.nanoTime() < loadDeadline) {
      if (consumedAtEnd < 0 && Files.exists(loadEnd))
        consumedAtEnd = q.recentProgress.map(_.numInputRows).sum
      Thread.sleep(20)
    }
    require(Files.exists(stop), "the load process did not finish")
    // stop.json can follow load-end within one poll
    if (consumedAtEnd < 0) consumedAtEnd = q.recentProgress.map(_.numInputRows).sum
    val counts = """"(\w+)":\s*(\d+)""".r.findAllMatchIn(Files.readString(stop))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val reads = counts("reads")
    // rows the generator had written by the end of the load phase that no
    // committed trigger had read yet
    r.layers("source.backlog_at_end") =
      (counts("rows") - consumedAtEnd).toDouble
    val crashed = q.exception.isDefined
    if (!crashed) q.processAllAvailable()
    q.stop()
    http.stop()

    val nTrig = live.commits.size - 1
    r.attempted = math.max(1L, nTrig.toLong + (if (crashed) 1 else 0))
    r.failed = if (crashed) 1 else 0
    live.layerMetrics(q, 1, r)
    Main.drain(counters)
    val t = counters.get("trigger")
    r.layers("spark.jobs_per_trigger") = (t("jobs") - setupTrig("jobs")) / math.max(1, nTrig)
    r.layers("spark.tasks_per_trigger") = (t("tasks") - setupTrig("tasks")) / math.max(1, nTrig)
    val rd = counters.get("read")
    r.layers("spark.jobs_per_read") = rd("jobs") / math.max(1L, reads)
    r.layers("spark.tasks_per_read") = rd("tasks") / math.max(1L, reads)
    r.report("view_resolves_per_read") =
      tracer.durations("sink.view_resolve").size.toDouble / math.max(1L, reads)
    live.check(LivePath.inputFiles(source), r)
    if (tracer.enabled) {
      // layer timings outside the measured phase, so that the traced
      // run's end-to-end values differ from untraced ones by tracing alone
      live.storeMetrics(r)
      servingTimes(spark, live.store, r)
      spark.sparkContext.setLocalProperty("perfbench.tag", "stages")
      LivePath.stageTimes(spark,
        LivePath.inputFiles(source).filter(_.contains("/history-")), r)
      spark.sparkContext.setLocalProperty("perfbench.tag", null)
    }
  }

  /** `ops.Serving` called directly on the resolved final view, each query
    * collected as the HTTP shell does; median of 3 after one warm call. */
  private def servingTimes(spark: SparkSession, store: String,
      r: Main.Result): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.tag", "serving.direct")
    val view = ShardedUpsertSink.currentView(spark, store).get
    val game = view.select("app_name").head().getString(0)
    def t(name: String, q: => DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        q.toJSON.collect()
        (System.nanoTime() - t0) / 1e6
      }
      once()
      r.layers(s"serving.${name}_ms_p50") = Stats.p50((1 to 3).map(_ => once()))
    }
    t("timeseries", Serving.timeSeries(view, game, "A_sentiment"))
    t("ranking", Serving.ranking(view, "T_reviews", Some(2024), Some(6)))
    t("games", Serving.distinctGames(view))
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
  }
}
