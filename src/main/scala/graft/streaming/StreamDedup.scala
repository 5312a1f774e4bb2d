package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming-native dedup and sessionization helpers — the streaming arm
  * of the training-data dedup story (`graft.ext.Dedup` is the batch arm).
  *
  * At ingest time exact dedup is a state-store lookup, not a join:
  * `dropDuplicates` keeps one row per key with per-key state;
  * `dropDuplicatesWithinWatermark` bounds that state for late-data streams
  * (state evicts once the watermark passes — mandatory at 100 TB/day
  * ingest, where unbounded dedup state would grow without limit).
  *
  * Sessionization uses the built-in `session_window` — gap-based windows
  * that merge as events arrive, the streaming dual of the reference's
  * fixed 1-day tumbling window (A1).
  */
object StreamDedup {

  /** Exact streaming dedup on `keys`. Unbounded state — reference-faithful
    * semantics (the reference never evicts either). */
  def exact(stream: DataFrame, keys: Seq[String]): DataFrame =
    stream.dropDuplicates(keys)

  /** Watermark-bounded streaming dedup: duplicates arriving within
    * `delay` of the max seen event time are dropped; state for older keys
    * is evicted. The production configuration. */
  def exactWithinWatermark(stream: DataFrame, eventTimeCol: String,
      delay: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Content-hash streaming dedup: exact-dup texts collapse at ingest by
    * md5 of the normalized text (same key as the batch
    * [[graft.ext.Dedup.fingerprintDedup]], so batch and stream agree on
    * what "duplicate" means). */
  def byFingerprint(stream: DataFrame, textCol: String): DataFrame =
    exact(stream.withColumn("__fp",
      md5(graft.ext.Dedup.normalizedText(col(textCol)))), Seq("__fp"))
      .drop("__fp")

  /** Dedup the stream AGAINST A STATIC REFERENCE CORPUS (the streaming
    * twin of [[graft.ext.Dedup.MinHash]]'s batch cross shape, at
    * exact-fingerprint granularity): incoming docs whose normalized-text
    * md5 already exists in `reference` are dropped via a stream-static
    * LEFT ANTI join. The static side is planned per micro-batch — Spark
    * broadcasts it when small; a corpus-sized reference should be a
    * compact (fp) projection or a bloom filter instead. Composes with
    * [[byFingerprint]] for within-stream dups (reference first, then
    * stream-local). */
  def againstReference(stream: DataFrame, reference: DataFrame,
      textCol: String): DataFrame = {
    val fp = (c: Column) => md5(graft.ext.Dedup.normalizedText(c))
    stream.withColumn("__fp", fp(col(textCol)))
      .join(reference.select(fp(col(textCol)).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Gap-based session aggregation: events within `gap` of each other (per
    * key) merge into one session row with count and span. */
  def sessionize(stream: DataFrame, eventTimeCol: String, gap: String,
      keys: Seq[Column]): DataFrame =
    stream
      .groupBy(session_window(col(eventTimeCol), gap) +: keys: _*)
      .agg(count(lit(1)).as("n_events"))
      .select((keys :+ col("session_window.start").as("session_start") :+
        col("session_window.end").as("session_end") :+ col("n_events")): _*)
}
