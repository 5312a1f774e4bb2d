package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loader for the driver-generated parquet (TESTDATA.md).
  *
  * The `events` fixture's `ts` column has shifted physical type across
  * driver regenerations, so we normalize every variant to a session-tz
  * TIMESTAMP here (all downstream ops assume instant semantics):
  *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
  *     ([PARQUET_TYPE_ILLEGAL]); read under
  *     `spark.sql.legacy.parquet.nanosAsLong` (nanos surface as LongType)
  *     and rebuild losslessly — values are microsecond-aligned, so
  *     `nanos div 1000` drops only trailing zeros.
  *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
  *     TIMESTAMP_NTZ, which `unix_micros`/numeric casts reject
  *     (DATATYPE_MISMATCH — the round-6 bench regression). Cast to
  *     TimestampType; under the engine-wide UTC session timezone the naive
  *     datetime maps to the identical epoch micros DuckDB reads.
  * The conf is a runtime SQLConf, so setting it here covers any session
  * (including the driver's own) without builder-time config.
  */
object Tables {

  /** Columns holding event-time in the fixture parquet, per table. */
  private val nanosCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"))

  // Memoized per (session, dir, table) through [[graft.sources.Pq]]:
  // `spark.read.parquet` pays a fresh file listing + footer schema read
  // on EVERY call, and the bench builds each of 188 query plans 2-3
  // times over the same ten immutable fixture files. Reusing the
  // analyzed DataFrame keeps one InMemoryFileIndex per table per
  // session, with no change to any plan shape. The "table" view keeps
  // the normalized frame apart from `Pq.read`'s raw one.
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    graft.sources.Pq.memo(spark, path, "table")(load(spark, path, name))
  }

  private def load(spark: SparkSession, path: String,
      name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path)
    nanosCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integer DIV, not `/`: Column `/` is DOUBLE division, and nanos
          // (~1.7e18) exceed double precision (ulp ≈ 256 ns) — the float
          // path lands ±1 µs off the exact value on some rows
          d.withColumn(c, timestamp_micros(expr(s"$c DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }
  }
}
