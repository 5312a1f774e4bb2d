package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

import graft.ext.{Dedup, Vectors}

/** Streaming SEMANTIC admission — the embedding arm of streaming
  * curation ([[StreamDedup]] = exact, [[NearDupAdmission]] = MinHash,
  * [[SpanAdmission]] = spans): an incoming vector is REJECTED iff its
  * EXACT COSINE to an already-admitted vector sharing a sign-sketch
  * bucket is ≥ `threshold` (the micro-batch twin of
  * [[Dedup.Embedding]] scheme's blocked-verify shape), or to
  * a lower-id vector of the same batch under the same rule — the
  * keep-lowest-id, non-transitive convention of the whole admission
  * family. You dedup against the corpus you KEPT: only admitted
  * vectors register.
  *
  * Registry rows carry (planes, t, bucket, id, embedding): sketch AND
  * vector ride together, so candidate blocking and the exact-cosine
  * verify read ONE registry (a bucket-only registry would reject on
  * sketch collision alone — cheap but precision-lossy; the vector
  * payload is the price of exact-threshold semantics).
  *
  * SELF-SIZED SKETCH WIDTH — the streaming twin of the batch tier's
  * footer-derived planes (SURVEY §14.4). A FIXED width is a scale bug:
  * expected bucket occupancy is |admitted| / 2^planes per table, so the
  * probe join's per-vector fanout (and the Σ bucket² term) grows
  * linearly with corpus lifetime — at 10⁹ admitted vectors and
  * planes=4, every probe key drags ~60 M history rows. Instead:
  *
  *   - Every width is a PREFIX of ONE `maxPlanes`-wide hyperplane
  *     family (plane p of table t is the same vector at every width —
  *     [[Dedup.embeddingBucketTableHyper]]'s contract), so buckets
  *     computed at different times under different widths are mutually
  *     consistent at equal width.
  *   - `planes` rides every registry row as DATA (and leads the shard
  *     key), so runs written under different widths coexist; the
  *     admission join matches on (planes, t, bucket) — a probe never
  *     collides across widths.
  *   - The WRITE width for a trigger is [[Dedup.sizedPlanes]] of the
  *     registered count from parquet FOOTERS
  *     ([[AdmissionRegistry.approxRows]] — no scan job), EXCLUDING the
  *     batch's own replayed append (width must be replay-deterministic
  *     or a replay would re-block under a different geometry and change
  *     decisions).
  *   - History converges to the current width FOR FREE: the registry's
  *     geometric folds rewrite runs anyway, and the `foldTransform`
  *     hook re-buckets the folded rows under the width sized to the
  *     fold's own row count (footer-free: the fold already scans what
  *     it rewrites). Old widths linger only in the O(log) small
  *     unfolded runs.
  *   - The probe computes the batch's buckets only at the widths
  *     actually PRESENT on disk (footer statistics, one value per run —
  *     O(log runs) levels), falling back to the full [planes,
  *     maxPlanes] ladder when statistics are unavailable: a bounded
  *     constant factor on probe keys, in exchange for bucket occupancy
  *     (the quadratic term) pinned ~constant for life.
  *
  * Persistence, replay, compaction and the per-trigger protocol are
  * [[AdmissionRegistry]]'s. The family has no driver form: its registry
  * rows carry vectors, and its decision is a cosine verify. */
class EmbeddingAdmission(stateDir: String, vecCol: String, idCol: String,
    threshold: Double, planes: Int = 4, tables: Int = 8, dim: Int = 64,
    seed: Long = 42L, compactEvery: Int = 64,
    shards: Int = 16,
    targetShardBytes: Long = 16L << 20,
    maxPlanes: Int = 20,
    /** corpus size at which the width starts growing (one extra sign
      * bit per doubling past it) — [[Dedup.sizedPlanes]]' n0. */
    sizeDatum: Long = 1000L)
    extends AdmissionRegistry.Admission(idCol, compactEvery) {

  require(planes >= 1 && planes <= maxPlanes && maxPlanes <= 62,
    s"need 1 <= planes($planes) <= maxPlanes($maxPlanes) <= 62")

  /** The one max-wide hyperplane family every width prefixes. */
  private val hyperMax = Vectors.hyperplanes(seed, tables, maxPlanes, dim)
  private def prefix(w: Int) = hyperMax.map(_.take(w))

  private def width(nAdmitted: Long): Int =
    Dedup.sizedPlanes(nAdmitted, base = planes, n0 = sizeDatum,
      max = maxPlanes)

  /** Row-wise bucket under width `w` for a row's OWN table (`tCol`) —
    * the fold-time re-bucket expression (tables is config-small, so a
    * CASE over t stays codegen-friendly). */
  private def bucketByTable(spark: SparkSession,
      vec: Column, tCol: Column, w: Int): Column = {
    val hp = prefix(w)
    (0 until tables).foldRight(lit(null).cast("long"): Column) {
      case (t, alt) => when(tCol === t,
        Vectors.signBucketNative(spark, vec, hp, t)).otherwise(alt)
    }
  }

  /** [[AdmissionRegistry]] fold hook: while a fold is rewriting runs
    * anyway, re-bucket every row under the width sized to the folded
    * row count — the zero-extra-write moment the self-sizing rides. */
  private def rebucket(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // DISTINCT ids, not raw rows/tables: an id can sit in more than one
    // folded run, and a count inflated by it would derive a too-wide
    // width.
    val w = width(df.select(col("id")).distinct().count())
    df.withColumn("bucket",
        bucketByTable(spark, col("embedding"), col("t"), w))
      .withColumn("planes", lit(w))
  }

  private[graft] val registry = new AdmissionRegistry(stateDir,
    StructType(Seq(StructField("planes", IntegerType),
    StructField("t", IntegerType), StructField("bucket", LongType),
    StructField("id", LongType),
    StructField("embedding", ArrayType(FloatType)))),
    shardCols = Seq("planes", "t", "bucket"), shards = shards,
    targetShardBytes = targetShardBytes,
    foldTransform = rebucket)

  /** (id, embedding) of the batch. */
  private def vecsOf(batch: DataFrame): DataFrame =
    batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("embedding"))

  /** The layout-pinning parameters: `maxPlanes` shifts every table's
    * hyperplane draws past table 0 (Array.fill draws sequentially), and
    * seed/tables/dim define the family outright — restarting a store
    * under ANY different value silently changes buckets and history
    * stops matching (the modulus-drift bug class; review r13). `planes`
    * and `sizeDatum` are pinned too (ADVICE r13): the probe's width
    * filter and the fail-safe ladder both start at this instance's
    * `planes`, so restarting an existing store with a LARGER base would
    * silently drop legitimate on-disk widths below it from the probe —
    * history at those widths would never match and near-dups of
    * already-admitted vectors re-admit until folds re-bucket; a drifted
    * `sizeDatum` likewise changes the size→width map and therefore
    * replay-recomputed decisions. Recorded once in `stateDir/_family`
    * and required equal ever after.
    *
    * LEGACY UPGRADE (ADVICE r14): stores created before `planes`/
    * `sizeDatum` joined the pin recorded only the 4-field prefix, and a
    * strict equality would fail every restart FOREVER — loud but
    * permanently unusable. A stored string that exactly matches the
    * old 4-field prefix of `want` is accepted and the `_family` file
    * rewritten with the current instance's planes/sizeDatum: they
    * define the store's existing layout by construction (this instance
    * is the one that has been operating it). */
  private def verifyFamilyParams(spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(stateDir, "_family")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val prefix = s"seed=$seed tables=$tables dim=$dim maxPlanes=$maxPlanes"
    val want = s"$prefix planes=$planes sizeDatum=$sizeDatum"
    def write(overwrite: Boolean): Unit = {
      val out = f.create(p, overwrite)
      try out.write(want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    if (f.exists(p)) {
      val in = f.open(p)
      val got = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim finally in.close()
      if (got == prefix) write(overwrite = true) // pre-r14 pin: upgrade
      else require(got == want,
        s"embedding admission family drift: store built with [$got], " +
          s"instance configured [$want] — refusing to admit against " +
          "history these buckets cannot match")
    } else write(overwrite = false)
  }

  override protected def open(spark: SparkSession): Unit =
    verifyFamilyParams(spark)

  /** (id, t, bucket, planes, embedding, __now): the batch's buckets at
    * every probed width; `__now` marks this trigger's WRITE width. ONE
    * footer walk (no scan job, own batch excluded for replay
    * determinism) yields both size-dependent inputs: the registered
    * count -> the write width, and the widths actually PRESENT on disk
    * -> the probe levels. History holds O(log runs) distinct widths (one
    * per run), so probing only those — instead of the whole [planes,
    * wNow] ladder — keeps the probe frame at the 1-3 levels that can
    * match. */
  protected def keyRows(batch: DataFrame, batchId: Long): DataFrame = {
    val (regRows, widthsSeen) =
      registry.footerStats(batch.sparkSession, batchId, Some("planes"))
    val wNow = width(regRows / tables)
    // Fail-safe ladder spans to maxPlanes, NOT wNow: widths are only
    // APPROXIMATELY monotone in registry size — rows registered in more
    // than one run inflate a count past a doubling boundary and leave a
    // run one width above what the deduplicated count later implies — so
    // when the run statistics are unavailable the probe must cover
    // everything a run could legally carry.
    val probeWidths = (widthsSeen
      .getOrElse((planes to maxPlanes).toSet)
      .filter(w => w >= planes && w <= maxPlanes) + wNow).toSeq.sorted
    val vecs = vecsOf(batch)
    probeWidths.map { w =>
      Dedup.embeddingBucketTableHyper(vecs, "embedding", "id", prefix(w))
        .withColumn("planes", lit(w)).withColumn("__now", lit(w == wNow))
    }.reduce(_ unionByName _)
      .join(vecs, Seq("id"))
  }

  /** Reject an id whose exact cosine to a bucket-sharing history vector
    * (any probed width), or to a lower id of this batch sharing a bucket
    * at the write width, reaches `threshold`. */
  protected def rejectJobs(batch: DataFrame, keys: DataFrame,
      history: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val cos = (a: Column, b: Column) => Vectors.cosineNative(spark, a, b)
    val hist = history.select(col("planes"), col("t"), col("bucket"),
      col("embedding").as("__he"))
    val vsHistory = keys.join(hist, Seq("planes", "t", "bucket"))
      .filter(cos(col("embedding"), col("__he")) >= threshold)
      .select(col("id")).distinct()
    // one width suffices within a batch (both sides under one prefix)
    val now = keys.filter(col("__now"))
    val vsBatch = now.select(col("t"), col("bucket"),
        col("id").as("__ka"), col("embedding").as("__ea"))
      .join(now.select(col("t"), col("bucket"), col("id"),
        col("embedding")), Seq("t", "bucket"))
      .filter(col("__ka") < col("id") &&
        cos(col("__ea"), col("embedding")) >= threshold)
      .select(col("id")).distinct()
    vsHistory.union(vsBatch).distinct()
  }

  /** Admitted vectors with an id register at the write width only. */
  override protected def registered(kept: DataFrame): DataFrame =
    kept.filter(col("__now") && col("id").isNotNull)

  /** Register `batch`'s vectors WITHOUT admission gating — the
    * backfill/seeding path: at 100 TB a new stream bootstraps its
    * registry from the batch tier's already-deduplicated corpus (its
    * vectors are admitted by definition), not by replaying history
    * through [[admit]]'s probe joins. Buckets are computed at the
    * size-derived write width for the registry AS IT STANDS (excluding
    * this batch's own replayed append — same replay determinism as
    * admit); fold cycles converge mixed widths exactly as for live
    * appends. Also the population path of the width-crossover
    * measurement (SURVEY §15.13a), where gating 10⁶ disjoint vectors
    * through admit() would only measure the probe being
    * admitted-anyway. */
  def bootstrap(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    verifyFamilyParams(spark)
    registry.maybeCompact(spark, batchId, compactEvery)
    val wNow = width(registry.approxRows(spark, batchId) / tables)
    val vecs = vecsOf(batch)
    registry.append(
      Dedup.embeddingBucketTableHyper(vecs, "embedding", "id", prefix(wNow))
        .withColumn("planes", lit(wNow))
        .join(vecs, Seq("id"))
        .select("planes", "t", "bucket", "id", "embedding"), batchId)
  }
}
