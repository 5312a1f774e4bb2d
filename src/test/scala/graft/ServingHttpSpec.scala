package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Serving
import graft.streaming.ServingHttp

/** The HTTP serving shell round-tripped over a real socket against the
  * oracle-checked serving queries (VERDICT r16 #6): each endpoint's
  * JSON must restate exactly what the in-process query returns, and
  * malformed requests must come back as 400s with usable messages,
  * never stack traces. */
class ServingHttpSpec extends AnyFunSuite with SparkTestSupport {

  private def view = {
    val s = spark
    import s.implicits._
    Seq(
      ("g", 2024, 1, 1, 1.0, 1L),
      ("g", 2024, 1, 2, 3.0, 3L),
      ("h", 2024, 1, 1, 10.0, 2L),
      ("h", 2024, 2, 1, 20.0, 2L))
      .toDF("app_name", "time_year", "time_month", "time_day",
        "A_value", "T_reviews")
  }

  private def withServer[T](f: (HttpClient, Int) => T): T = {
    val v = view
    val http = new ServingHttp(() => Some(v))
    http.start()
    try f(HttpClient.newHttpClient(), http.boundPort)
    finally http.stop()
  }

  private def get(c: HttpClient, port: Int,
      path: String): (Int, String) = {
    val res = c.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("GET /games returns the distinct dimension values") {
    withServer { (c, port) =>
      val (code, body) = get(c, port, "/games")
      assert(code == 200)
      assert(body == """[{"app_name":"g"},{"app_name":"h"}]""")
    }
  }

  test("GET /timeseries matches the in-process query (parity + weighted)") {
    withServer { (c, port) =>
      val (code, body) = get(c, port,
        "/timeseries?game=g&metric=A_value")
      assert(code == 200)
      val expected = Serving.timeSeries(view, "g", "A_value")
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expected)
      assert(body.contains("\"A_value\":2.0")) // mean-of-means parity
      val (wc, wbody) = get(c, port,
        "/timeseries?game=g&metric=A_value&weighted=1")
      assert(wc == 200 && wbody.contains("\"A_value\":2.5")) // weighted
    }
  }

  test("GET /ranking cascades year/month slices like the dashboard") {
    withServer { (c, port) =>
      val (code, body) = get(c, port, "/ranking?metric=T_reviews")
      assert(code == 200)
      val expected = Serving.ranking(view, "T_reviews")
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expected)
      val (c2, b2) = get(c, port,
        "/ranking?metric=A_value&year=2024&month=2")
      assert(c2 == 200 && b2 ==
        """[{"app_name":"h","A_value":20.0}]""")
    }
  }

  test("input hygiene: unknown metric / bad int / missing param are 400s") {
    withServer { (c, port) =>
      val (c1, b1) = get(c, port, "/timeseries?game=g&metric=A_bogus")
      assert(c1 == 400 && b1.contains("unknown metric") &&
        b1.contains("A_value"))
      val (c2, b2) = get(c, port, "/ranking?metric=T_reviews&year=x")
      assert(c2 == 400 && b2.contains("year must be an integer"))
      val (c3, b3) = get(c, port, "/timeseries?metric=A_value")
      assert(c3 == 400 && b3.contains("game parameter is required"))
      val (c4, _) = get(c, port, "/health")
      assert(c4 == 200)
    }
  }

  test("empty view: health reports empty, queries 400 with a message") {
    val http = new ServingHttp(() => None)
    http.start()
    try {
      val c = HttpClient.newHttpClient()
      val (hc, hb) = get(c, http.boundPort, "/health")
      assert(hc == 200 && hb == """{"status":"empty"}""")
      val (qc, qb) = get(c, http.boundPort, "/games")
      assert(qc == 400 && qb.contains("not materialized"))
    } finally http.stop()
  }

  test("a slow data endpoint does not block /health (fixed pool, r17 #5)") {
    // the slowness lives where it does in production: in the Spark
    // JOB a data endpoint's collect() runs (a 2 s-per-row filter), NOT
    // in the supplier. /health reads only the schema — jobless — and
    // must answer from another pool thread while /games grinds.
    val s = spark
    import s.implicits._
    val slowCheck = org.apache.spark.sql.functions.udf(
      (x: String) => { Thread.sleep(2000); true })
    val v = view.filter(slowCheck($"app_name"))
    val http = new ServingHttp(() => Some(v))
    http.start()
    try {
      val c = HttpClient.newHttpClient()
      val slow = new Thread(() => get(c, http.boundPort, "/games"))
      slow.setDaemon(true); slow.start()
      Thread.sleep(200) // let /games occupy its dispatcher thread
      val t0 = System.nanoTime()
      val (hc, _) = get(c, http.boundPort, "/health")
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(hc == 200 && ms < 2000,
        s"/health blocked ${ms} ms behind a slow data request")
    } finally http.stop()
  }

  test("a request over the time budget answers 503, not a hang") {
    val v = view
    val http = new ServingHttp(() => { Thread.sleep(5000); Some(v) },
      requestBudgetMs = 300)
    http.start()
    try {
      val c = HttpClient.newHttpClient()
      val t0 = System.nanoTime()
      val (code, body) = get(c, http.boundPort, "/games")
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(code == 503 && body.contains("time budget"), s"$code $body")
      assert(ms < 3000, s"budget overrun took ${ms} ms to answer")
      // /health is budget-free and still fine
      assert(get(c, http.boundPort, "/health")._1 == 200)
    } finally http.stop()
  }

  test("a timed-out request cancels its Spark jobs (ADVICE r18)") {
    // The 503 alone is not enough: a Spark action that ignores the
    // thread interrupt kept its jobs running on the old cached pool.
    // Build a view whose scan sleeps 30 s per row — the request times
    // out at 500 ms, and the job-group cancel must drain the active
    // jobs within a few seconds, far below natural completion.
    val s = spark
    import org.apache.spark.sql.functions.{col, concat, lit, udf}
    val slow = udf((x: Long) => { Thread.sleep(30000); s"g$x" })
    val v = s.range(0, 4, 1, 4)
      .withColumn("app_name", slow(col("id")))
      .withColumn("A_value", col("id").cast("double"))
      .select(concat(col("app_name")).as("app_name"), col("A_value"))
    val http = new ServingHttp(() => Some(v), requestBudgetMs = 500)
    http.start()
    try {
      val c = HttpClient.newHttpClient()
      val t0 = System.nanoTime()
      val (code, body) = get(c, http.boundPort, "/games")
      assert(code == 503 && body.contains("time budget"), s"$code $body")
      assert((System.nanoTime() - t0) / 1000000L < 5000)
      val deadline = System.nanoTime() + 15L * 1000000000L
      var active = s.sparkContext.statusTracker.getActiveJobIds()
      while (active.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100)
        active = s.sparkContext.statusTracker.getActiveJobIds()
      }
      assert(active.isEmpty,
        s"jobs still running after cancel: ${active.mkString(",")}")
    } finally http.stop()
  }

  test("over a sharded-upsert serving view: requests see the newest merge") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_http_view_").toString
    val keys = Seq("app_name", "time_year", "time_month", "time_day")
    graft.streaming.ShardedUpsertSink.mergeBatch(spark, dir, keys,
      orderCols = Nil, shards = 2)(
      Seq(("g", 2024, 1, 1, 1.0, 1L))
        .toDF("app_name", "time_year", "time_month", "time_day",
          "A_value", "T_reviews"), batchId = 0L)
    val http = ServingHttp.overShardedView(spark, dir)
    http.start()
    try {
      val c = HttpClient.newHttpClient()
      val (c1, b1) = get(c, http.boundPort, "/games")
      assert(c1 == 200 && b1 == """[{"app_name":"g"}]""")
      // a new merge lands; the NEXT request must see it (no restart)
      graft.streaming.ShardedUpsertSink.mergeBatch(spark, dir, keys,
        orderCols = Nil, shards = 2)(
        Seq(("h", 2024, 2, 1, 20.0, 2L))
          .toDF("app_name", "time_year", "time_month", "time_day",
            "A_value", "T_reviews"), batchId = 1L)
      val (c2, b2) = get(c, http.boundPort, "/games")
      assert(c2 == 200 &&
        b2 == """[{"app_name":"g"},{"app_name":"h"}]""")
    } finally http.stop()
  }

  /** A 2-shard store of 20 games on one day, each merge rewriting both
    * shards with A_value = 100 * merge + game. */
  private def rewritingStore() = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_http_gc_").toString
    val merges = new java.util.concurrent.atomic.AtomicLong
    def merge(): Unit = {
      val b = merges.getAndIncrement()
      graft.streaming.ShardedUpsertSink.mergeBatch(s, dir,
        Seq("app_name", "time_year", "time_month", "time_day"),
        orderCols = Nil, shards = 2)(
        (0 until 20).map(i => (s"g$i", 2024, 1, 1, 100.0 * b + i, 1L))
          .toDF("app_name", "time_year", "time_month", "time_day",
            "A_value", "T_reviews"), b)
    }
    merge()
    (dir, () => merge())
  }

  test("a read whose files GC deleted reruns on a newly resolved view") {
    // Each of the supplier's first two calls resolves the view, then
    // two merges land (GC keeps two manifests, so every file of the
    // resolved frame is deleted), and the stale frame is returned. The
    // request must follow the store to its newest commit.
    val (dir, merge) = rewritingStore()
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val http = new ServingHttp(() => {
      val v = graft.streaming.ShardedUpsertSink.currentView(spark, dir)
      if (calls.incrementAndGet() <= 2) { merge(); merge() }
      v
    })
    http.start()
    try {
      val (code, body) = get(HttpClient.newHttpClient(), http.boundPort,
        "/ranking?metric=A_value")
      assert(code == 200, body)
      val newest = graft.streaming.ShardedUpsertSink.currentView(spark, dir).get
      assert(body == Serving.ranking(newest, "A_value")
        .toJSON.collect().mkString("[", ",", "]"))
      assert(body.contains("\"A_value\":419.0"), body) // merge 4, game 19
      assert(calls.get == 3)
    } finally http.stop()
  }

  test("a file lost from the newest version answers 500 after one re-resolve") {
    // No merge lands, so the re-resolved view reads nothing new: the
    // missing file is a real loss, not GC, and must not be served around.
    val (dir, _) = rewritingStore()
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val http = new ServingHttp(() => {
      val v = graft.streaming.ShardedUpsertSink.currentView(spark, dir)
      if (calls.incrementAndGet() == 1) {
        val shard = new java.io.File(s"$dir/v=0/shard=0")
        shard.listFiles().filter(_.getName.startsWith("part-"))
          .foreach(_.delete())
        shard.listFiles().filter(_.getName.startsWith(".part-"))
          .foreach(_.delete()) // checksum sidecars
      }
      v
    })
    http.start()
    try {
      val (code, body) = get(HttpClient.newHttpClient(), http.boundPort,
        "/games")
      assert(code == 500 && body.contains("FILE_NOT_EXIST"), s"$code $body")
      assert(calls.get == 2)
    } finally http.stop()
  }

  test("a newest version with no data file left answers 500 FILE_NOT_EXIST") {
    // Every shard loses its files after the view resolved: the re-resolve
    // finds no footer to take the schema from, which is the same loss as
    // the failed scan, so the scan's error answers.
    val (dir, _) = rewritingStore()
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val http = new ServingHttp(() => {
      val call = calls.incrementAndGet() // counted before resolving
      val v = graft.streaming.ShardedUpsertSink.currentView(spark, dir)
      if (call == 1)
        new java.io.File(s"$dir/v=0").listFiles()
          .filter(_.getName.startsWith("shard="))
          .flatMap(_.listFiles())
          .filter(_.getName.contains("part-"))
          .foreach(_.delete())
      v
    })
    http.start()
    try {
      val (code, body) = get(HttpClient.newHttpClient(), http.boundPort,
        "/games")
      assert(code == 500 && body.contains("FILE_NOT_EXIST"), s"$code $body")
      assert(calls.get == 2)
    } finally http.stop()
  }
}
