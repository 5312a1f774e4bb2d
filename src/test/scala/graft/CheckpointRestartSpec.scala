package graft

import java.nio.file.Files
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipeline

/** §2.10 checkpoint/recovery: the reference checkpoints to
  * `/tmp/spark_checkpoint_sentiment` (`summarizer.py:110`) and must resume
  * window state across restarts. Stop the query mid-stream, restart from
  * the same checkpoint, and assert the window aggregate CONTINUES (a
  * re-emission with the merged count) rather than restarting from zero.
  *
  * Run twice: under Spark's HDFS-backed in-memory state store and under
  * RocksDB — the product's streaming-state store, which every
  * [[GraftSession]] session (the suite's included) runs: watermark-free
  * reference semantics grow state without bound, which only RocksDB
  * survives at scale. */
class CheckpointRestartSpec extends AnyFunSuite with SparkTestSupport {

  private def review(ts: Long, sentiment: Float): String =
    s"""{"index":1,"app_id":1,"app_name":"g","review_id":$ts,
       |"timestamp_created":$ts,"recommended":true,
       |"sentiment":$sentiment,"author_playtime_at_review":60.0}"""
      .stripMargin.replaceAll("\n", "")

  private def runRestartScenario(): Unit = {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val emissions = mutable.ArrayBuffer.empty[(Long, Long)] // (T_reviews, T_pos)

    def start() = Pipeline.summarize(stream.toDF())
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        emissions.synchronized {
          emissions ++= batch.collect().map(r =>
            (r.getAs[Long]("T_reviews"), r.getAs[Long]("T_pos_reviews")))
        }
        ()
      }
      .start()

    val q1 = start()
    try {
      stream.addData(review(100L, 0.5f))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(emissions.toList == List((1L, 1L)))

    // Restart from the same checkpoint; a second review lands in the SAME
    // 1-day window — the resumed state must merge, not reset.
    val q2 = start()
    try {
      stream.addData(review(200L, -0.5f))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(emissions.last == ((2L, 1L)),
      s"state did not resume across restart: $emissions")
  }

  private def underProvider(provider: String): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      s"org.apache.spark.sql.execution.streaming.state.$provider")
    try runRestartScenario()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("window state survives a stop/restart from checkpoint") {
    underProvider("HDFSBackedStateStoreProvider")
  }

  test("window state survives restart under the RocksDB state store") {
    underProvider("RocksDBStateStoreProvider")
  }
}
