package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ext.{Dedup, Spans}

/** Streaming BOILERPLATE admission: the span-level arm of streaming
  * curation ([[StreamDedup]] = exact, [[NearDupAdmission]] = MinHash
  * near-dup). An incoming doc is rejected when ≥ `gatePct`% of its
  * tokens sit inside k-token spans ALREADY REGISTERED by admitted docs —
  * the micro-batch twin of [[Spans.coverage]]'s batch gate, aimed at the
  * web-crawl regime where new pages are mostly old navigation chrome
  * plus a sliver of fresh text.
  *
  * A doc's decision spans all its span keys, so per-key state-store
  * logic can't decide it; one per-batch join can. Docs within a batch
  * do not gate each other — their spans register on admission and gate
  * from the NEXT batch on (admission control, not retroactive dedup).
  *
  * Registry: DISTINCT span hashes of admitted docs — fixed-width longs,
  * one row per distinct span (the span-registry cost is O(distinct
  * spans), the price any substring-level structure pays), shard-
  * partitioned on hash(sh). Pruning honesty (the [[graft.ext.Sharded]]
  * selectivity note applies here hardest): a doc contributes MANY
  * distinct span hashes, so under a FIXED shard count the touched set
  * saturates instantly (the gram-index regime). The self-sized shard
  * count ([[AdmissionRegistry]] guarantee 2) is what still bounds the
  * probe: per-trigger bytes plateau at K × targetShardBytes, higher than
  * the near-dup family's (K is tokens-per-trigger here, not
  * bands-per-doc) — this family's honest price at any layout.
  * Persistence, replay, compaction and the per-trigger protocol are
  * [[AdmissionRegistry]]'s. */
class SpanAdmission(stateDir: String, textCol: String, idCol: String,
    k: Int = 8, gatePct: Int = 20,
    compactEvery: Int = 64, shards: Int = 16,
    targetShardBytes: Long = 16L << 20)
    extends AdmissionRegistry.Admission(idCol, compactEvery) {

  private[graft] val registry = new AdmissionRegistry(stateDir,
    StructType(Seq(StructField("sh", LongType))),
    shardCols = Seq("sh"), shards = shards,
    targetShardBytes = targetShardBytes, distinctRows = true)

  /** (id, sh, pos) for every k-token span of every doc. */
  protected def keyRows(batch: DataFrame, batchId: Long): DataFrame =
    Spans.positions(batch, textCol, idCol, k)
      .select(col("doc_id").as("id"), col("sh"), col("pos"))

  override protected def driverForm =
    Some(AdmissionRegistry.DriverForm(length(col(textCol)), rejectDriver))

  /** Only admitted docs with an id register their spans. */
  override protected def registered(kept: DataFrame): DataFrame =
    kept.filter(col("id").isNotNull)

  /** Reject a doc when its tokens covered by history-matched spans
    * reach `gatePct`% of its token count (an inner join: a doc with no
    * spans is never rejected). */
  protected def rejectJobs(batch: DataFrame, keys: DataFrame,
      history: DataFrame): DataFrame = {
    val covered = keys.join(history.distinct(), Seq("sh"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("j"))
      .distinct()
      .groupBy("id")
      .agg(count(lit(1)).as("__covered"))
    batch
      .select(col(idCol).as("id"),
        size(Dedup.tokens(col(textCol))).cast("long").as("__n"))
      .join(covered, Seq("id"))
      .filter(col("__covered") * 100 >= col("__n") * gatePct)
      .select(col("id"))
  }

  /** [[rejectJobs]] on the driver: covered token indices are the union
    * of [pos, pos+k-1] over a doc's history-matched spans, and its token
    * count is maxPos + k − 1 (positions are the n−k+1 sliding spans, so
    * this is exact for any doc that has positions). */
  private def rejectDriver(rows: Array[Row],
      inHistory: Row => Boolean): Set[Any] = {
    val covered = mutable.Map.empty[Any, mutable.BitSet]
    val maxPos = mutable.Map.empty[Any, Long]
    rows.foreach { r =>
      val id = r.get(0)
      val pos = r.getAs[Number](2).longValue() // posexplode emits int32
      maxPos(id) = math.max(maxPos.getOrElse(id, 0L), pos)
      if (inHistory(r)) {
        val bits = covered.getOrElseUpdate(id, new mutable.BitSet)
        var j = pos
        while (j < pos + k) { bits += j.toInt; j += 1 }
      }
    }
    covered.collect {
      case (id, bits)
          if bits.size.toLong * 100 >= (maxPos(id) + k - 1) * gatePct => id
    }.toSet
  }
}
