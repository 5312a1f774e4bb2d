package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Upsert
import graft.streaming.{Pipeline, ShardedUpsertSink}

/** End-to-end streaming semantics over MemoryStream (SURVEY §5.2.3):
  * update-mode emission per changed window, late-data acceptance without
  * watermark, and final-state equivalence with the batch plan — the same
  * `Pipeline.summarize` chain the Kafka job runs (source swapped only).
  */
class StreamingPipelineSpec extends AnyFunSuite with SparkTestSupport {

  private def review(appId: Long, name: String, ts: Long, sentiment: Float,
      recommended: Boolean): String =
    s"""{"index":1,"app_id":$appId,"app_name":"$name","review_id":$ts,
       |"timestamp_created":$ts,"recommended":$recommended,
       |"sentiment":$sentiment,"author_playtime_at_review":60.0}"""
      .stripMargin.replaceAll("\n", "")

  private def startQuery(stream: MemoryStream[String], sinkTable: String): StreamingQuery =
    Pipeline.summarize(stream.toDF())
      .writeStream.format("memory").queryName(sinkTable)
      .outputMode("update").start()

  test("update mode re-emits a window when late data lands in it") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val stream = MemoryStream[String]
    val q = startQuery(stream, "upd")
    try {
      stream.addData(review(1, "g", 100L, 0.5f, recommended = true))
      q.processAllAvailable()
      val after1 = spark.table("upd").collect()
      assert(after1.length == 1 && after1.head.getAs[Long]("T_reviews") == 1L)

      // Second batch: one row in the SAME 1-day window (late, no
      // watermark → accepted) + one in a new window.
      stream.addData(
        review(1, "g", 200L, -0.5f, recommended = false),
        review(1, "g", 86400L + 100L, 0.1f, recommended = true))
      q.processAllAvailable()
      val emissions = spark.table("upd").collect()
      // 1 (batch1) + 2 (batch2: updated old window + new window)
      assert(emissions.length == 3)
      val updated = emissions.filter(_.getAs[Long]("T_reviews") == 2L)
      assert(updated.length == 1)
      assert(updated.head.getAs[Long]("T_recommendations") == 1L)
    } finally q.stop()
  }

  test("final streaming state (keep-latest per key) equals the batch plan") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val rows = Seq(
      review(1, "g", 100L, 0.5f, recommended = true),
      review(1, "g", 200L, -0.2f, recommended = false),
      review(2, "h", 300L, 0.9f, recommended = true),
      review(1, "g", 86500L, 0.0f, recommended = true))
    val stream = MemoryStream[String]
    val q = startQuery(stream, "eq")
    try {
      rows.grouped(2).foreach { batch => stream.addData(batch: _*); q.processAllAvailable() }
      val streamed = Upsert.keepLatestPerKey(spark.table("eq"),
          keys = Seq("app_id", "time"), orderCols = Seq("T_reviews"))
        .select("app_id", "app_name", "time", "T_reviews", "T_recommendations",
          "T_pos_reviews", "T_neg_reviews")
      val batch = Pipeline.summarize(rows.toDF("value"))
        .select("app_id", "app_name", "time", "T_reviews", "T_recommendations",
          "T_pos_reviews", "T_neg_reviews")
      assert(streamed.collect().toSet == batch.collect().toSet)
    } finally q.stop()
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("maintainView foreachBatch merge is last-write-wins and idempotent") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val stream = MemoryStream[String]
    val dir = tmp("graft_view_")
    val q = Pipeline.maintainView(Pipeline.summarize(stream.toDF()), dir,
      tmp("graft_view_ck_"))
    try {
      stream.addData(review(1, "g", 100L, 0.5f, recommended = true))
      q.processAllAvailable()
      stream.addData(review(1, "g", 200L, 0.5f, recommended = true)) // same window → upsert
      q.processAllAvailable()
      val cur = ShardedUpsertSink.currentView(spark, dir).get.collect()
      assert(cur.length == 1)
      assert(cur.head.getAs[Long]("T_reviews") == 2L) // overwritten, not duplicated
      assert(cur.head.getAs[Int]("time_year") == 1970)
    } finally q.stop()
  }

  test("watermark knob bounds state without changing on-time results") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val stream = MemoryStream[String]
    val q = Pipeline.summarize(stream.toDF(), watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("wm")
      .outputMode("update").start()
    try {
      stream.addData(review(1, "g", 100L, 0.5f, recommended = true))
      q.processAllAvailable()
      assert(spark.table("wm").count() == 1)
    } finally q.stop()
  }
}
