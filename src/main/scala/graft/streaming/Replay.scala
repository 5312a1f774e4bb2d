package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.codec.JsonCodec
import graft.sources.Sources

/** S4: the reference's rate-limited replay producer
  * (`stream_generator.py:53-58`), Spark-native.
  *
  * The reference iterates CSV rows in a single Python loop, JSON-encodes
  * each, and sleeps ~10.5 ms per record (≈95 rec/s design ceiling,
  * `stream_generator.py:10-11`). That per-record loop IS its scalability
  * ceiling; the Spark replacement emits time-ordered micro-slices with a
  * batched Kafka write per slice — each write is a distributed
  * `df.write.format("kafka")` job, so replay throughput scales with
  * executors instead of one producer thread.
  *
  * Requires the spark-sql-kafka connector on the classpath (not bundled in
  * this container — covered by construction tests only; the identical
  * encode path is MemoryStream-tested via [[Pipeline]]).
  */
object Replay {

  /** Kafka frame stream for one slice: the reference's JSON envelope,
    * keyed like the summary sink. */
  def encodeSlice(slice: DataFrame): DataFrame =
    JsonCodec.encode(slice, col("review_id"))

  /** Core replay loop with a pluggable slice sink: slice the corpus by
    * event-time residue, emit encoded slices in order, optionally paced.
    * The sink indirection exists because the Kafka writer jar is absent in
    * the test container — [[ReplaySpec]] drives THIS loop with a
    * collecting sink, so the slicing/ordering/once-each logic is tested
    * even though the wire write isn't. */
  def runWith(spark: SparkSession, csvPath: String,
      writeSlice: (DataFrame, Int) => Unit,
      slices: Int = 100, sliceMillis: Long = 0L): Unit = {
    val reviews = Sources.readReviewsCsv(spark, csvPath)
      .withColumn("__slice", pmod(col("timestamp_created"), lit(slices)))
      .persist()
    try {
      (0 until slices).foreach { s =>
        writeSlice(
          encodeSlice(reviews.filter(col("__slice") === s).drop("__slice")), s)
        if (sliceMillis > 0) Thread.sleep(sliceMillis)
      }
    } finally reviews.unpersist()
  }

  /** Replay `csvPath` to `out` in `slices` event-time-ordered batches,
    * sleeping `sliceMillis` between slices (0 = full-speed backfill). */
  def run(spark: SparkSession, csvPath: String, out: KafkaEndpoint,
      slices: Int = 100, sliceMillis: Long = 0L): Unit =
    runWith(spark, csvPath, (slice, _) =>
      slice.write.format("kafka")
        .option("kafka.bootstrap.servers", out.bootstrapServers)
        .option("topic", out.topic)
        .save(),
      slices, sliceMillis)

  def main(args: Array[String]): Unit = {
    val Array(csvPath, bootstrap, topic) = args.take(3)
    val spark = GraftSession.builder("graft-replay").getOrCreate()
    run(spark, csvPath, KafkaEndpoint(bootstrap, topic))
    spark.stop()
  }
}
