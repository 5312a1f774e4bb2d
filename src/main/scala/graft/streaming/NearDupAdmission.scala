package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ext.Dedup

/** Streaming NEAR-duplicate admission: the MinHash+LSH arm of the
  * streaming dedup story ([[StreamDedup]] covers exact/fingerprint).
  *
  * A doc's LSH band buckets ([[Dedup.lshBandKeys]] over
  * [[Dedup.minhashSignatures]]) are its near-dup identity: two docs with
  * signature-estimated Jaccard above the S-curve knee share ≥ 1 bucket
  * with high probability. Admission is therefore a BUCKET-SET lookup, and
  * the production shape is micro-batch (`foreachBatch`) against a
  * persistent bucket registry — NOT per-row state-store logic: a doc maps
  * to `bands` buckets, so a single-key `flatMapGroupsWithState` cannot
  * decide admission (the decision spans all of a doc's buckets), while a
  * per-batch join decides every doc in one shuffle.
  *
  * Semantics match the batch family: a doc is REJECTED iff it shares a
  * bucket with an already-admitted doc (history) or with a lower-id doc
  * of the same batch — the same keep-lowest-id, non-transitive convention
  * as `Dedup.dedupFromPairs` over MinHash pairs (docs − id_b closure). The
  * registry holds ADMITTED docs' buckets only: you dedup against the
  * corpus you KEPT, so near-dups of a rejected doc that match no admitted
  * doc still land.
  *
  * Scale shape (100 TB/day ingest): registry rows are (band, bucket)
  * longs — |admitted| × bands fixed-width rows, shard-partitioned on
  * hash(band, bucket), so per-trigger probe bytes PLATEAU at ≈ |batch| ×
  * bands × targetShardBytes + the uncompacted tail, constant in corpus
  * lifetime (measured in SURVEY §15.1). Persistence, replay, compaction
  * and the per-trigger protocol are [[AdmissionRegistry]]'s. */
class NearDupAdmission(stateDir: String, textCol: String, idCol: String,
    numHashes: Int = 32, bands: Int = 8,
    compactEvery: Int = 64, shards: Int = 16,
    targetShardBytes: Long = 16L << 20)
    extends AdmissionRegistry.Admission(idCol, compactEvery) {

  private[graft] val registry = new AdmissionRegistry(stateDir,
    StructType(Seq(StructField("band", IntegerType),
      StructField("bucket", LongType))),
    shardCols = Seq("band", "bucket"), shards = shards,
    targetShardBytes = targetShardBytes)

  /** (id, band, bucket) for every doc in `batch`. */
  protected def keyRows(batch: DataFrame, batchId: Long): DataFrame =
    Dedup.minhashSignatures(batch, textCol, idCol, numHashes, shingle = 1,
        Dedup.XxHash)
      .select(col("id"), explode(Dedup.lshBandKeys(col("sig"), numHashes,
        bands, Dedup.XxHash)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))

  override protected def driverForm =
    Some(AdmissionRegistry.DriverForm(length(col(textCol)), rejectDriver))

  /** Reject an id with a bucket in history (a semi join against the
    * pruned read), or whose bucket a lower id of this batch shares. The
    * in-batch gate is a WINDOW min over (band, bucket), not a groupBy +
    * self-join: one exchange inside the decide job instead of a separate
    * broadcast-build job per trigger. No per-branch distinct: the
    * union's covers both. */
  protected def rejectJobs(batch: DataFrame, keys: DataFrame,
      history: DataFrame): DataFrame = {
    val vsHistory = keys.join(history, Seq("band", "bucket"), "left_semi")
      .select(col("id"))
    val vsBatch = keys.withColumn("__keep",
        min(col("id")).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("id") =!= col("__keep"))
      .select(col("id"))
    vsHistory.union(vsBatch).distinct()
  }

  /** [[rejectJobs]] on the driver: the lowest id per bucket is kept. */
  private def rejectDriver(rows: Array[Row],
      inHistory: Row => Boolean): Set[Any] = {
    def id(r: Row) = r.getAs[Number](0).longValue
    val lowest = mutable.Map.empty[(Any, Any), Long]
    rows.foreach { r =>
      val key = (r.get(1), r.get(2))
      if (lowest.get(key).forall(id(r) < _)) lowest(key) = id(r)
    }
    rows.collect {
      case r if inHistory(r) || lowest((r.get(1), r.get(2))) != id(r) =>
        r.get(0)
    }.toSet
  }
}
