package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert semantics: last-write-wins per key.
  *
  * The reference's serving store overwrites the row matching
  * `(app_id, time_year, time_month, time_day)` and appends otherwise
  * (`visualizer.py:61-82`), making the update-mode Kafka stream effectively
  * an upsert feed. The batch-relational equivalent is "keep the latest row
  * per key", which is what [[keepLatestPerKey]] implements with a ranking
  * window — the idiomatic Spark dedup-keep-last.
  *
  * Scale note: `row_number()` over `partitionBy(keys)` is one hash
  * Exchange on the keys followed by a per-partition sort — no skew issue
  * as long as a single key's update history fits a partition (true here:
  * keys are per-game-per-day). An input already hash-partitioned on a
  * subset of `keys` is clustered enough, and the window then plans no
  * exchange of its own: [[graft.streaming.ShardedUpsertSink]]'s merge
  * hashes its union by `shard` and passes `shard +: keys`, so its one
  * exchange serves both the window and the shard-partitioned write.
  */
object Upsert {

  /** Keep exactly the newest row per key; `orderCols` are descending
    * recency tiebreakers (latest first), e.g. an ingest timestamp plus a
    * unique id to make the result deterministic under exact ts ties. */
  def keepLatestPerKey(df: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
