package graft

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

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
  * survives at scale. A third run checks that a checkpoint written
  * without RocksDB changelog checkpointing restarts under the product
  * session, which turns it on. */
class CheckpointRestartSpec extends AnyFunSuite with SparkTestSupport {

  private def review(ts: Long, sentiment: Float): String =
    s"""{"index":1,"app_id":1,"app_name":"g","review_id":$ts,
       |"timestamp_created":$ts,"recommended":true,
       |"sentiment":$sentiment,"author_playtime_at_review":60.0}"""
      .stripMargin.replaceAll("\n", "")

  /** Stop a window stream after one review, restart it from the same
    * checkpoint and add a second review to the same window: the resumed
    * state must merge, not reset. The first run sets the `first` confs
    * over the session's and the restart sets `second`; each is restored
    * afterwards. Returns the checkpoint directory. */
  private def runRestartScenario(first: Map[String, String],
      second: Map[String, String]): String = {
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

    withConf(first) {
      val q1 = start()
      try {
        stream.addData(review(100L, 0.5f))
        q1.processAllAvailable()
      } finally q1.stop()
    }
    assert(emissions.toList == List((1L, 1L)))

    // Restart from the same checkpoint; a second review lands in the SAME
    // 1-day window — the resumed state must merge, not reset.
    withConf(second) {
      val q2 = start()
      try {
        stream.addData(review(200L, -0.5f))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    assert(emissions.last == ((2L, 1L)),
      s"state did not resume across restart: $emissions")
    ckpt
  }

  private def withConf[T](confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def underProvider(provider: String): Unit = {
    val conf = Map("spark.sql.streaming.stateStore.providerClass" ->
      s"org.apache.spark.sql.execution.streaming.state.$provider")
    runRestartScenario(conf, conf)
  }

  test("window state survives a stop/restart from checkpoint") {
    underProvider("HDFSBackedStateStoreProvider")
  }

  test("window state survives restart under the RocksDB state store") {
    underProvider("RocksDBStateStoreProvider")
  }

  test("a checkpoint written without RocksDB changelogs restarts with them") {
    // the first run commits state version 1 as a snapshot (changelog
    // checkpointing off, Spark's default); the restart runs the product
    // session, whose commit of version 2 writes a changelog
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    assert(spark.conf.get(changelog) == "true")
    val ckpt = runRestartScenario(Map(changelog -> "false"), Map.empty)
    val stateFiles = {
      val s = Files.walk(java.nio.file.Paths.get(ckpt, "state"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toList
      finally s.close()
    }
    def changelogOf(version: Int) =
      stateFiles.exists(_.matches(s"$version(_.*)?\\.changelog"))
    assert(!changelogOf(1) && changelogOf(2), stateFiles.sorted.mkString(" "))
  }
}
