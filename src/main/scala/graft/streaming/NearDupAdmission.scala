package graft.streaming

import org.apache.spark.sql.DataFrame
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
  * as `Dedup.dedupFromPairs` over MinHash pairs (docs − id_b closure). The registry holds
  * ADMITTED docs' buckets only: you dedup against the corpus you KEPT,
  * so near-dups of a rejected doc that match no admitted doc still land.
  *
  * Scale shape (100 TB/day ingest): registry rows are (band, bucket)
  * longs — |admitted| × bands fixed-width rows, SHARD-PARTITIONED on
  * disk by hash(band, bucket) with a SELF-SIZED shard count (compaction
  * re-shards to constant shard SIZE as the registry grows — see
  * [[AdmissionRegistry]] guarantee 2), so a trigger's history probe
  * reads only the `shard=` directories its own buckets touch and
  * per-trigger bytes PLATEAU at ≈ |batch| × bands × targetShardBytes +
  * the uncompacted tail — constant in corpus lifetime, where any fixed
  * shard count saturates and degrades to the full registry read
  * (measured in SURVEY §15.1). The admission join then
  * hash-partitions batch buckets (|batch| × bands rows) against the
  * pruned read. Persistence goes through
  * [[AdmissionRegistry]]: per-batch overwrite appends + own-batch
  * exclusion on the history read make replay exactly-once (a replayed
  * batch recomputes identical admission decisions instead of
  * self-rejecting against its own prior append), registry read
  * failures fail closed, and batch directories compact on a schedule
  * (shard layout preserved through compaction). */
class NearDupAdmission(stateDir: String, textCol: String, idCol: String,
    numHashes: Int = 32, bands: Int = 8,
    compactEvery: Int = 64, shards: Int = 16,
    targetShardBytes: Long = 16L << 20) extends Serializable {

  private val registry = new AdmissionRegistry(stateDir, StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", LongType))),
    shardCols = Seq("band", "bucket"), shards = shards,
    targetShardBytes = targetShardBytes)

  /** (id, band, bucket) for every doc in `batch`. */
  private def buckets(batch: DataFrame): DataFrame =
    Dedup.minhashSignatures(batch, textCol, idCol, numHashes, shingle = 1,
        Dedup.XxHash)
      .select(col("id"), explode(Dedup.lshBandKeys(col("sig"), numHashes,
        bands, Dedup.XxHash)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))

  /** Admit one micro-batch: returns the admitted rows (original schema)
    * and appends their buckets to the registry under `batchId` (replay
    * of the same batchId recomputes identical decisions — history
    * excludes the batch's own earlier append). */
  def admit(batch: DataFrame, batchId: Long): DataFrame =
    admitInstrumented(batch, batchId, (_, _) => ())

  /** [[admit]] with a phase probe for `Run crawl-arrival`
    * ([[graft.tools.CrawlArrival]]): `probe(phaseName, elapsedMs)` fires
    * after each internal phase — zero overhead on the production path
    * (the default no-op). */
  def admitInstrumented(batch: DataFrame, batchId: Long,
      probe: (String, Long) => Unit): DataFrame = {
    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      probe(phase, (System.nanoTime() - t0) / 1000000)
      r
    }
    val spark = batch.sparkSession
    // every action below runs under fixed (non-adaptive) plans — see
    // AdmissionRegistry.withFixedPlans
    AdmissionRegistry.withFixedPlans(spark) {
    // Committed-watermark compaction (every `compactEvery` batches):
    // when this batch is handed to the sink, batch `batchId-1`'s output
    // is durably committed, so folding the directories below it is
    // replay-safe — see [[AdmissionRegistry.maybeCompact]]. Keeps the
    // registry's directory count bounded on an unbounded stream.
    timed("maybeCompact")(registry.maybeCompact(spark, batchId, compactEvery))
    if (AdmissionRegistry.smallTrigger(batch,
        NearDupAdmission.fastPathMaxInputBytes,
        // no-file-list sources qualify through the bounded size probe
        // (one job, longs only) — the family knows its payload column
        Some(org.apache.spark.sql.functions.length(col(textCol)))))
      admitSmall(batch, batchId, probe)
    else admitJobs(batch, batchId, probe)
    }
  }

  /** SMALL-TRIGGER fast path: ONE job collects the batch's bucket rows
    * (micro-batch-bounded by [[smallTrigger]]'s byte gate), then probe
    * tokens, the in-batch keep-lowest gate, the admission decisions,
    * and the registry append all run DRIVER-SIDE; the only other jobs
    * are the pruned history probe (a literal `band = b AND bucket IN
    * (…)` filter — row-group stats prune it below even the semi-join)
    * and whatever the caller's sink runs. 3 jobs/trigger vs 9-10 on
    * the distributed path, with DECISION-IDENTICAL results — the
    * equivalence is spec-locked (AdmissionRegistrySpec fast-vs-job
    * arm, ChainedStress exactness), and a driver-side blowup is
    * impossible: the byte gate bounds the collect, and a key set past
    * [[NearDupAdmission.literalCap]] falls back to the job path. */
  private def admitSmall(batch: DataFrame, batchId: Long,
      probe: (String, Long) => Unit): DataFrame = {
    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      probe(phase, (System.nanoTime() - t0) / 1000000)
      r
    }
    val spark = batch.sparkSession
    // one single-task pass computes the signatures and lands the
    // (id, band, bucket) rows on the driver — at ≤ fastPathMaxInput-
    // Bytes of input, serializing the minhash work costs less than a
    // second job launch would
    val rows = timed("probeTokens")(buckets(batch).coalesce(1).collect())
    // the fast path never approximates: null ids (the job path's join
    // semantics keep them), NON-INTEGRAL ids (Spark's min() over
    // strings is binary UTF-8 order, which diverges from any cheap
    // driver-side ordering on non-ASCII — a silent decision drift),
    // and oversized key sets all take the distributed path
    if (rows.exists(r => r.isNullAt(0) ||
        !(r.get(0).isInstanceOf[java.lang.Long] ||
          r.get(0).isInstanceOf[java.lang.Integer])))
      return admitJobs(batch, batchId, probe)
    val keys: Array[(Int, Long)] =
      rows.map(r => (r.getInt(1), r.getLong(2))).distinct
    if (keys.length > NearDupAdmission.literalCap)
      return admitJobs(batch, batchId, probe)
    val tokens = keys.map { case (b, k) =>
      registry.keyToken(org.apache.spark.sql.Row(b, k)) }.distinct
    val history = timed("historyPlan")(
      registry.historyTouched(spark, batchId, Some(tokens)))
    // which of the batch's keys exist in (pruned) history — a literal
    // per-band IN filter instead of a semi join: no shuffle, no
    // broadcast build job, and the bucket lists reach the parquet
    // row-group stats
    val matched: Set[(Int, Long)] = timed("decide") {
      if (keys.isEmpty) Set.empty
      else {
        val pred = keys.groupBy(_._1).map { case (b, ks) =>
          col("band") === lit(b) &&
            col("bucket").isin(ks.map(k => java.lang.Long.valueOf(k._2))
              .toSeq: _*)
        }.reduce(_ || _)
        history.filter(pred).select("band", "bucket").distinct()
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      }
    }
    // driver-side twin of the distributed decision: reject an id iff
    // one of its buckets is in admitted history OR a lower id of this
    // batch shares the bucket (keep-lowest, non-transitive — identical
    // to the job path's vsHistory ∪ vsBatch)
    val minId = scala.collection.mutable.Map.empty[(Int, Long), Any]
    rows.foreach { r =>
      val key = (r.getInt(1), r.getLong(2))
      val id = r.get(0)
      minId.get(key) match {
        case Some(m) if NearDupAdmission.idLt(m, id) => ()
        case _ => minId(key) = id
      }
    }
    val rejected = scala.collection.mutable.LinkedHashSet.empty[Any]
    rows.foreach { r =>
      val key = (r.getInt(1), r.getLong(2))
      if (matched(key) || minId(key) != r.get(0)) rejected += r.get(0)
    }
    timed("append") {
      val appendRows = rows.collect {
        case r if !rejected.contains(r.get(0)) =>
          org.apache.spark.sql.Row(r.getInt(1), r.getLong(2))
      }
      registry.appendCollected(spark, appendRows, batchId)
    }
    if (rejected.isEmpty) batch
    // null-SAFE keep predicate (ADVICE r18, medium): a null-id doc with
    // tokenless text has no bucket row, so the null-id fallback above
    // never sees it — and `!isin` alone would drop it via three-valued
    // logic (`!NULL` = NULL) while the job path's left_anti keeps it.
    else batch.filter(col(idCol).isNull ||
      !col(idCol).isin(rejected.toSeq: _*))
  }

  private def admitJobs(batch: DataFrame, batchId: Long,
      probe: (String, Long) => Unit): DataFrame = {
    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      probe(phase, (System.nanoTime() - t0) / 1000000)
      r
    }
    val spark = batch.sparkSession
    // bf feeds four consumers (touched-shard job, history probe,
    // in-batch gate, registry append) — cache it for the trigger so the
    // minhash signatures are computed once per batch, not four times.
    val bf = buckets(batch).persist()
    try {
      val tokens = timed("probeTokens")(registry.probeTokens(bf))
      val history = timed("historyPlan")(
        registry.historyTouched(spark, batchId, tokens))
      // no per-branch distinct: the union's own distinct below covers
      // both, and each inner distinct was a full extra exchange per
      // trigger (`Run crawl-arrival`'s per-phase split, r17)
      val vsHistory = bf.join(history,
        Seq("band", "bucket"), "left_semi").select(col("id"))
      // in-batch gate as a WINDOW min over (band, bucket), not a
      // groupBy + self-join: one exchange inside the decide job,
      // instead of a separate broadcast-build job per trigger
      // (`Run crawl-arrival`, r18 — each broadcast exchange is its own job
      // and ~40-50 ms of fixed launch cost)
      val vsBatch = bf.withColumn("__keep",
          min(col("id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bucket"))))
        .filter(col("id") =!= col("__keep"))
        .select(col("id"))
      // Eagerly materialize the (batch-bounded) rejected-id set into
      // the cache: the returned `admitted` frame is consumed by the
      // caller AFTER bf is unpersisted, and without this the
      // consumption re-ran the whole decision DAG (signatures, history
      // probe, joins) a second time per trigger. persist, not
      // localCheckpoint: lineage survives cache-block loss (an executor
      // decommission mid-trigger recomputes instead of failing the
      // micro-batch — review r13); the ContextCleaner reclaims the
      // blocks once the trigger's plans are unreachable.
      val rejected = vsHistory.union(vsBatch).distinct().persist()
      timed("decide")(rejected.count())
      val admitted = batch.join(
        rejected.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      // admitted buckets = bf anti-join the CACHED rejected set — the
      // earlier semi-join against admitted ids re-evaluated the whole
      // batch-vs-rejected join a second time inside the append
      timed("append")(registry.append(
        bf.join(rejected, Seq("id"), "left_anti")
          .select("band", "bucket"), batchId))
      admitted
    } finally bf.unpersist()
  }

  /** Fold committed batch directories ≤ `uptoBatchId` into one (see
    * [[AdmissionRegistry.compact]] for the replay-safety contract). */
  def compact(spark: org.apache.spark.sql.SparkSession,
      uptoBatchId: Long): Int = registry.compact(spark, uptoBatchId)

  /** `foreachBatch` adapter: admit, then hand the admitted rows to the
    * downstream writer. */
  def step(forward: (DataFrame, Long) => Unit)(
      batch: DataFrame, batchId: Long): Unit =
    // scope the plan-mode toggle over the DOWNSTREAM consumption too:
    // the admitted frame the sink materializes is as micro-batch-
    // bounded as the admission plans themselves
    AdmissionRegistry.withFixedPlans(batch.sparkSession) {
      forward(admit(batch, batchId), batchId)
    }
}

object NearDupAdmission {

  /** Input-bytes ceiling for the driver fast path: steady-state
    * arrival triggers sit orders of magnitude below; backlog-drain
    * mega-batches sit above and keep the distributed path (where the
    * job overhead the fast path avoids is amortized anyway). */
  val fastPathMaxInputBytes: Long = 4L << 20

  /** Distinct-key ceiling for the literal history predicate — above
    * it the IN-lists stop being a "small plan" and the job path's
    * semi join is the right shape. */
  val literalCap: Int = 4096

  /** Driver twin of the SQL `min(id)` ordering. Only INTEGRAL ids
    * reach here — the fast path falls back for anything else, because
    * a driver-side ordering cannot cheaply match Spark's binary
    * string/decimal orderings and a mismatch would silently change
    * keep-lowest decisions. */
  private[streaming] def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) =>
      x.longValue() < y.longValue()
    case (x: java.lang.Integer, y: java.lang.Integer) =>
      x.intValue() < y.intValue()
    case _ => throw new IllegalStateException(
      s"non-integral ids on the fast path: ${a.getClass}")
  }
}
