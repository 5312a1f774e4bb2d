package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Pipeline, ShardedUpsertSink}

/** Durable serving snapshots across a restart: the view `Pipeline.maintainView`
  * keeps in the sharded store survives its query, a new query on the same
  * store and checkpoint serves the committed view before its first batch,
  * and later batches still merge last-write-wins. */
class ServingSnapshotSpec extends AnyFunSuite with SparkTestSupport {

  private def review(appId: Long, name: String, ts: Long, sentiment: Float): String =
    s"""{"index":1,"app_id":$appId,"app_name":"$name","review_id":$ts,
       |"timestamp_created":$ts,"recommended":true,
       |"sentiment":$sentiment,"author_playtime_at_review":60.0}"""
      .stripMargin.replaceAll("\n", "")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** (app_id, T_reviews) of the served view at `dir`. */
  private def served(dir: String): Set[(Long, Long)] =
    ShardedUpsertSink.currentView(spark, dir).get.collect()
      .map(r => (r.getAs[Long]("app_id"), r.getAs[Long]("T_reviews"))).toSet

  test("restart recovery: a fresh view on the same dir resumes reads") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val stream = MemoryStream[String]
    val dir = tmp("graft_view_rs_")
    val ckpt = tmp("graft_view_rs_ck_")
    def startView() =
      Pipeline.maintainView(Pipeline.summarize(stream.toDF()), dir, ckpt)
    val q1 = startView()
    try {
      stream.addData(review(1, "g", 100L, 0.1f), review(2, "h", 100L, 0.2f))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(served(dir) == Set((1L, 1L), (2L, 1L)))
    // "Kill the JVM, reopen": a new query on the same dirs serves the
    // committed view before its first batch...
    val q2 = startView()
    try {
      assert(served(dir) == Set((1L, 1L), (2L, 1L)))
      // ...and a later batch still wins: the aggregation state resumed
      // from the checkpoint, so app 1's window now counts two reviews.
      stream.addData(review(1, "g", 200L, 0.9f))
      q2.processAllAvailable()
      assert(served(dir) == Set((1L, 2L), (2L, 1L)))
    } finally q2.stop()
  }
}
