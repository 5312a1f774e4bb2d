package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators (north-star extension,
  * SURVEY §7.2 slice 3). Not present in the reference (its surface has no
  * dedup); designed Spark-first for the 100 TB regime:
  *
  *   - NOTHING here is O(n²) over the corpus. Candidate generation is
  *     always a hash-partitioned self-join on a blocking key (LSH band
  *     bucket, SimHash chunk, shared n-gram) — shuffle volume is bounded by
  *     Σ bucket², controlled by band/width parameters and a doc-frequency
  *     cap on blocking keys (hot-key guard against skew).
  *   - All signature computation is built-in higher-order functions
  *     (`transform`/`aggregate`/`zip_with` — codegen-free but
  *     whole-stage-adjacent, no Scala UDF serialization) evaluated
  *     per-partition in the scan stage; one pass over the text.
  *   - Dedup policy is "keep the smallest id per duplicate class" — the
  *     same keep-first convention as the exact path, so exact and fuzzy
  *     variants compose.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the first row (ascending `orderCols`) per key.
    * Plans to one hash Exchange on `keys` + per-partition sort — the dual
    * of [[graft.ops.Upsert.keepLatestPerKey]]. */
  def keepFirstPerKey(df: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col(_).asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Canonical text normalization: lowercase, strip non-alphanumerics to
    * single spaces, trim. Identical ANSI-SQL exists for the oracle. */
  def normalizedText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Exact dedup modulo formatting: key = md5 of normalized text.
    * (md5 rather than xxhash64 so the DuckDB oracle computes the identical
    * key — both engines implement standard MD5.) */
  def fingerprintDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    keepFirstPerKey(
      df.withColumn("__fp", md5(normalizedText(col(textCol)))),
      keys = Seq("__fp"), orderCols = Seq(idCol))
      .drop("__fp")

  // ------------------------------------------------------------- tokenize

  /** Spread CPU-heavy per-row stages across the cluster when the scan has
    * fewer splits than cores (a single small parquet file plans to ONE
    * task — at sf0.1 the whole signature build ran single-threaded). At
    * corpus scale inputs already have ≥|cores| splits and this is a no-op;
    * the guarded repartition only pays one raw-text shuffle when the
    * source is under-split.
    *
    * The fan-out target is SIZE-DERIVED, capped at the core count (r20,
    * guide §2 "derive the partitioning from the input"): one partition
    * per 64 KB of plan-estimated input. The divisor sits far below the
    * scan's 128 MB split size because bytes deliberately UNDERSTATE
    * per-row compute on these call sites (sign sketches, token votes,
    * argmax over centroids) — anything ≥ cores·64 KB still gets the full
    * core count, while a sub-MB under-split input stops paying |cores|
    * near-empty tasks in every downstream stage (r19 shipped the flat
    * |cores| target; the scaling block showed those stages are pure task
    * overhead at fixture scale). */
  private[graft] def parallelize(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // clamp in BigInt before narrowing: a join-estimate blowup must
    // saturate at the core count, not overflow toLong
    val target =
      ((est / (64L << 10)) + 1).min(BigInt(cores)).max(BigInt(1)).toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  // ------------------------------------------------ scale-aware cap sizing

  /** Scale-aware default for a HOT-KEY blocking cap (`maxDf`,
    * `maxBucket`): `base` below `baseN` docs, then sqrt(n/baseN) growth.
    * Rationale: a cap D bounds candidate-join work at D·Σdf ≈
    * D·n·keysPerDoc, so a CONSTANT cap keeps total work linear in the
    * corpus — but as the corpus grows, a constant cap silently drops ever
    * more honest duplicate clusters (a boilerplate page genuinely occurs
    * 10⁶ times at 100 TB, and collapsing it is the point of dedup). sqrt
    * growth is the recall-biased middle: worst-case candidate work
    * n·sqrt(n) — far from the uncapped n² — and the cap rises 10× per
    * 100× corpus. Size it from parquet footers
    * ([[graft.sources.ParquetMeta.rowCount]]; driver-side, no job) and
    * pass an explicit constant to pin either extreme. */
  def scaledCap(base: Int, nDocs: Long, baseN: Long = 10000L): Int =
    if (nDocs <= baseN) base
    else math.min(base * math.sqrt(nDocs.toDouble / baseN),
      Int.MaxValue.toDouble).round.toInt

  /** Scale-aware default for a CELL cap (SemDeDup `maxCell`): cells hold
    * ~n/cells docs on average, so a CONSTANT cap starts rejecting every
    * cell outright once mean occupancy passes it — the cap must track
    * occupancy. `slack` × mean, floored at `base` so small corpora keep
    * the fixture default. (Within-cell work is quadratic; at high
    * occupancy raise `cells` along with n rather than leaning on slack.) */
  def cellCap(base: Int, nDocs: Long, cells: Int, slack: Int = 8): Int = {
    val mean = nDocs / math.max(cells, 1)
    val scaled = // divide-before-multiply + saturation: no Long overflow
      if (mean > Int.MaxValue.toLong / slack) Int.MaxValue.toLong
      else slack.toLong * mean
    math.max(base.toLong, scaled).min(Int.MaxValue.toLong).toInt
  }

  /** Lowercase word tokens (distinct not applied).
    *
    * Pure codegen'd builtins: strip leading/trailing separator runs, then
    * split — interior runs collapse to single separators so no empty
    * tokens remain, and the empty/pure-punctuation case short-circuits to
    * []. Bit-identical to the HOF form [[tokensHof]] (asserted in
    * `NGramsExprSpec`) but keeps every projection that tokenizes inside
    * WholeStageCodegen — `filter(…, lambda)` is a `CodegenFallback`
    * expression and would kick the WHOLE projection out of codegen. */
  def tokens(c: Column): Column = {
    val cleaned = regexp_replace(lower(c), "^[^a-z0-9]+|[^a-z0-9]+$", "")
    when(length(cleaned) === 0, typedLit(Seq.empty[String]))
      .otherwise(split(cleaned, "[^a-z0-9]+"))
  }

  /** HOF reference form of [[tokens]] (kept for the bit-identity spec). */
  def tokensHof(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Distinct character k-shingles of the normalized text (alternative
    * shingling unit for [[minhashSignature]]; word tokens are the default). */
  def charShingles(c: Column, k: Int): Column = {
    val norm = normalizedText(c)
    array_distinct(transform(
      sequence(lit(0), greatest(length(norm) - k, lit(0))),
      i => norm.substr(i + 1, lit(k))))
  }

  // ------------------------------------------------------------- MinHash

  /** MinHash signature expression of the distinct word-token set:
    * signature[i] = min over tokens of `h1 + i*h2` (Kirsch–Mitzenmacher
    * double hashing — 2 real hash evals per token, the rest is integer
    * arithmetic). Per-row expression form; for corpus-scale signature
    * tables prefer [[minhashSignatures]] (codegen'd explode+groupBy). */
  def minhashSignature(text: Column, numHashes: Int): Column = {
    val toks = array_distinct(tokens(text))
    val hashes = transform(toks,
      t => struct(xxhash64(t).bitwiseAND(lit(0xFFFFFFFFL)).as("h1"),
        xxhash64(t, lit(1)).bitwiseAND(lit(0xFFFFFFFFL)).as("h2")))
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hashes,
        h => h.getField("h1") + i.cast("long") * h.getField("h2"))))
  }

  /** Corpus-scale MinHash signature table: explode tokens → two codegen'd
    * xxhash64 per token → `numHashes` `min` aggregates per doc. The whole
    * pipeline is whole-stage-codegen'd `HashAggregateExec` with map-side
    * partial min — shuffle volume is |docs| × numHashes longs regardless
    * of corpus token count. This is the shape that holds at 100 TB; the
    * per-row HOF variant above evaluates interpreted and doesn't.
    * Shingling: word unigrams by default; `shingle > 1` uses word
    * n-gram shingles (order-sensitive — discriminates reordered text). */
  def minhashSignatures(df0: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingle: Int = 1): DataFrame = {
    val df = parallelize(df0)
    val units = if (shingle <= 1) array_distinct(tokens(col(textCol)))
      else wordNgrams(col(textCol), shingle)
    // 32-bit masked double hashing: h1 + i*h2 must not overflow a signed
    // long under ANSI mode (Spark 4 default) — masked to 2^32, the worst
    // case is ~2^37. Min-wise uniformity in a 2^32 space is ample.
    val exploded = df.select(col(idCol).as("id"), explode(units).as("u"))
      .select(col("id"),
        xxhash64(col("u")).bitwiseAND(lit(0xFFFFFFFFL)).as("h1"),
        xxhash64(col("u"), lit(1)).bitwiseAND(lit(0xFFFFFFFFL)).as("h2"))
    val mins = (0 until numHashes).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    exploded.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Banded LSH keys: signature split into `bands` bands of
    * `numHashes/bands` rows; key = (band index, hash of that slice).
    * Docs agreeing on ANY band become candidates — standard S-curve
    * collision probability (1-(1-j^r)^b). */
  def lshBandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    require(bands * r == numHashes, "bands must divide numHashes")
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(b, slice(sig, b * lit(r) + 1, lit(r))).as("bucket")))
  }

  /** Near-duplicate candidate pairs by MinHash+LSH with signature-estimated
    * Jaccard ≥ `threshold`. Returns (idA, idB, est_jaccard), idA < idB.
    *
    * Scale shape: explode(bands) → self-join on the band key (hash
    * Exchange on (band, bucket)) → distinct pairs → estimate from
    * signatures. `maxBucket` caps pathological buckets (boilerplate spam
    * collapses into one bucket at corpus scale — count and drop oversized
    * buckets instead of letting one key quadratically dominate a task). */
  def minhashDupPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 1000, shingle: Int = 1): DataFrame =
    bandedSigPairs(
      minhashSignatures(df, textCol, idCol, numHashes, shingle),
      numHashes, bands, threshold, maxBucket,
      sig => lshBandKeys(sig, numHashes, bands))

  /** Shared MinHash+LSH candidate machinery over a signature table
    * (`id`, `sig: array<long>`): band-explode with `bandKeys`, bounded
    * self-join, exact signature-match estimate per distinct pair.
    *
    * Candidate generation carries ONLY (band, bucket, id): the candidate
    * set before pair-dedup is the explosion point (Σ bucket² rows × bands
    * duplication) — shuffling the signature arrays through it was 5×
    * slower than this ids-only join at sf0.1. Signatures are re-attached
    * per DISTINCT pair afterwards (two joins against the persisted
    * signature table — broadcast at test scale, shuffle-hash at corpus
    * scale). */
  private def bandedSigPairs(sigTable: DataFrame, numHashes: Int,
      bands: Int, threshold: Double, maxBucket: Int,
      bandKeys: Column => Column): DataFrame =
    bandedSigPairsCross(sigTable, None, numHashes, threshold, maxBucket,
      bandKeys)

  /** Self- OR cross-corpus banded candidate machinery. `sigsB0 = None` is
    * the self-join (canonical id_a < id_b pairs); `Some(sigsB0)` joins
    * corpus A's buckets against corpus B's — the "dedup incoming data
    * against the existing training set" shape, where A×B join pressure is
    * Σ cntA·cntB per bucket and each side's bucket count is capped
    * independently. Signature tables persist via [[graft.ops.Caches]]
    * (band explode + two signature-attach joins per side). */
  private def bandedSigPairsCross(sigTableA: DataFrame,
      sigsB0: Option[DataFrame], numHashes: Int, threshold: Double,
      maxBucket: Int, bandKeys: Column => Column): DataFrame = {
    // Persist the signature table(s): each feeds its band explode AND a
    // signature-attach join — without a barrier Spark recomputes it per
    // branch. Tracked: callers release via [[graft.ops.Caches.releaseAll]]
    // once results are materialized. parallelize (r20): a signature
    // INDEX artifact is a ~1-file parquet at fixture scale, so the band
    // explode + bucket census otherwise run single-task (no-op at corpus
    // scale, where the index has ≥ cores splits).
    val sigsA = graft.ops.Caches.track(parallelize(sigTableA))
    def boundedBuckets(sigs: DataFrame): DataFrame = {
      val buckets = sigs
        .select(col("id"), explode(bandKeys(col("sig"))).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.bucket"))
      val ok = buckets.groupBy("band", "bucket").count()
        .filter(col("count") <= maxBucket)
      buckets.join(ok.select("band", "bucket"), Seq("band", "bucket"))
    }
    val boundedA = boundedBuckets(sigsA)
    val (sigsB, boundedB) = sigsB0 match {
      case None     => (sigsA, boundedA)
      case Some(b0) =>
        val sb = graft.ops.Caches.track(parallelize(b0))
        (sb, boundedBuckets(sb))
    }

    val joined = pinned(boundedA
      .select(col("band"), col("bucket"), col("id").as("id_a")),
        col("band"), col("bucket"))
      .join(pinned(boundedB.select(col("band"), col("bucket"),
        col("id").as("id_b")), col("band"), col("bucket")),
        Seq("band", "bucket"))
    val pairs = (if (sigsB0.isEmpty) joined.filter(col("id_a") < col("id_b"))
      else joined)
      .select("id_a", "id_b")
      .distinct()

    pairs
      .join(sigsA.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsB.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          m => m)).cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** CROSS-CORPUS near-dup pairs: documents in `incoming` whose MinHash
    * estimate against some `existing` document is ≥ `threshold` — the
    * "dedup the new crawl against the training set" step, WITHOUT the
    * |A∪B|² self-join a naive union would pay. Returns (id_a from
    * `existing`, id_b from `incoming`, est_jaccard); a document present
    * in both corpora pairs with itself at estimate 1.0. Same hash family
    * on both sides, so buckets align; blocking/cap/estimate arguments as
    * [[minhashDupPairs]]. */
  def minhashCrossDupPairs(existing: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000,
      shingle: Int = 1): DataFrame =
    bandedSigPairsCross(
      minhashSignatures(existing, textCol, idCol, numHashes, shingle),
      Some(minhashSignatures(incoming, textCol, idCol, numHashes, shingle)),
      numHashes, threshold, maxBucket,
      sig => lshBandKeys(sig, numHashes, bands))

  /** [[minhashCrossDupPairs]] with the portable md5 hash family and
    * value-equality band keys (see the portable-variants note below) —
    * the oracle-checkable twin. */
  def minhashCrossDupPairsPortable(existing: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000,
      shingle: Int = 1): DataFrame =
    minhashCrossDupPairsPortableFromSignatures(
      minhashSignaturesPortable(existing, textCol, idCol, numHashes, shingle),
      minhashSignaturesPortable(incoming, textCol, idCol, numHashes, shingle),
      numHashes, bands, threshold, maxBucket)

  // ------------------------------------ portable (cross-engine) variants
  //
  // The default pipelines hash with xxhash64 (fastest codegen'd hash in
  // Spark) — engine-local, so the driver's DuckDB oracle can't recompute
  // them. These variants swap ONLY the hash family for one any md5-capable
  // engine reproduces bit-for-bit, making the whole approximate pipeline
  // oracle-checkable end-to-end:
  //
  //   h32(u)  = first 8 md5 hex chars as an integer
  //             Spark:  conv(substring(md5(u), 1, 8), 16, 10)::long
  //             DuckDB: ('0x' || substr(md5(u), 1, 8))::BIGINT
  //
  // Band keys use the raw signature-slice VALUES (portable equality)
  // instead of an engine hash of the slice. Same plan shapes, same scale
  // arguments; md5 costs ~2× xxhash64, so the default stays xxhash64.

  /** First 32 bits of md5 as a long (cross-engine reproducible hash). */
  def hex32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** [[minhashSignatures]] with the portable md5-derived double-hash
    * family: h1 = hex32(u), h2 = hex32(u || "|"). */
  def minhashSignaturesPortable(df0: DataFrame, textCol: String,
      idCol: String, numHashes: Int, shingle: Int = 1): DataFrame = {
    val df = parallelize(df0)
    val units = if (shingle <= 1) array_distinct(tokens(col(textCol)))
      else wordNgrams(col(textCol), shingle)
    val exploded = df.select(col(idCol).as("id"), explode(units).as("u"))
      .select(col("id"),
        hex32(col("u")).as("h1"),
        hex32(concat(col("u"), lit("|"))).as("h2"))
    val mins = (0 until numHashes).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    exploded.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** [[minhashDupPairs]] with the portable hash family and value-equality
    * band keys (bucket = comma-joined signature slice — no engine hash in
    * the blocking key, so an external engine derives identical candidate
    * sets, not just collision-equivalent ones). */
  def minhashDupPairsPortable(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 1000, shingle: Int = 1): DataFrame =
    minhashDupPairsPortableFromSignatures(
      minhashSignaturesPortable(df, textCol, idCol, numHashes, shingle),
      numHashes, bands, threshold, maxBucket)

  /** Value-equality band keys for the portable hash family (bucket =
    * comma-joined signature slice — no engine hash in the blocking key,
    * so an external engine derives identical candidate sets). */
  private def portableBandKeys(numHashes: Int, bands: Int): Column => Column = {
    val r = numHashes / bands
    require(bands * r == numHashes, "bands must divide numHashes")
    sig => transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        concat_ws(",",
          transform(slice(sig, b * lit(r) + 1, lit(r)),
            v => v.cast("string"))).as("bucket")))
  }

  /** [[minhashDupPairsPortable]] over a PRECOMPUTED (id, sig) signature
    * table — lets a persisted signature index feed pairs generation,
    * point probes ([[minhashProbeFromSignatures]]) and incremental
    * maintenance without re-hashing the corpus per consumer. */
  def minhashDupPairsPortableFromSignatures(sigs: DataFrame,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame =
    bandedSigPairs(sigs, numHashes, bands, threshold, maxBucket,
      portableBandKeys(numHashes, bands))

  /** [[minhashCrossDupPairsPortable]] over PRECOMPUTED signature tables. */
  def minhashCrossDupPairsPortableFromSignatures(existingSigs: DataFrame,
      incomingSigs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    bandedSigPairsCross(existingSigs, Some(incomingSigs), numHashes,
      threshold, maxBucket, portableBandKeys(numHashes, bands))

  /** INCREMENTAL near-dup pairs maintenance — the 100 TB operating mode:
    * never re-pair years of corpus to ingest a day. Given yesterday's
    * pairs artifact (`oldPairs`, over the docs of `oldSigs`) and today's
    * slice's signatures (`newSigs`, id-disjoint from the old corpus),
    * the updated whole-corpus pairs set is
    *
    *   oldPairs ∪ cross(old, new) ∪ self(new)
    *
    * which equals a from-scratch recompute over old ∪ new EXACTLY: with
    * value-equality band keys, a pair is a candidate iff its two
    * signatures share a band slice VALUE — a property of the pair alone,
    * independent of corpus composition — so the pair space partitions
    * cleanly by which side each doc lives on. (The one caveat is
    * `maxBucket`: per-slice bucket counts under-count the combined
    * bucket, so a cap that binds at combined scale but not per-slice
    * admits pairs a recompute would drop — the standard incremental-LSH
    * approximation; q_dedup_incremental's whole-corpus oracle proves
    * exactness in the unbound regime.)
    *
    * Scale shape: cross is an A×B bucket join (new slice's buckets
    * against the persisted index — |day| × bands rows against the
    * artifact, never |corpus|²), self(new) is a day-sized self-join, and
    * oldPairs is READ, not recomputed. The three parts are id-disjoint
    * by construction (old×old, old×new, new×new), so the union needs no
    * dedup pass. */
  def minhashPairsIncrementalPortable(oldPairs: DataFrame,
      oldSigs: DataFrame, newSigs: DataFrame, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val cross = minhashCrossDupPairsPortableFromSignatures(oldSigs, newSigs,
        numHashes, bands, threshold, maxBucket)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("est_jaccard"))
    val newSelf = minhashDupPairsPortableFromSignatures(newSigs,
      numHashes, bands, threshold, maxBucket)
    oldPairs.unionByName(cross).unionByName(newSelf)
  }

  /** MinHash point PROBE against a PRECOMPUTED signature table — the
    * serving-path primitive. `sigs` is (id, sig) from
    * [[minhashSignatures]] / [[minhashSignaturesPortable]] (the function
    * is hash-family-agnostic: it only compares signature values). The
    * query row's signature is collected (one bounded row), its band
    * slices become literal predicates, and candidacy is a scan-fused
    * FILTER over the signature table — no join, no shuffle; with the
    * signature table bucketed/partitioned by leading band values the
    * probe prunes to matching buckets at 100 TB.
    *
    * At scale the signature table is a MATERIALIZED corpus artifact
    * (computed once, stored as parquet, maintained incrementally) and a
    * probe is an index read — NOT a corpus re-hash per query. Returns
    * (doc_id, est_jaccard) for candidates with signature-match estimate
    * ≥ `threshold`, query row excluded. */
  def minhashProbeFromSignatures(sigs: DataFrame, queryId: Long,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val q = sigs.filter(col("id") === queryId)
      .select("sig").head().getSeq[Long](0)
    probeWithSignature(sigs, q, numHashes, bands, threshold,
      excludeId = Some(queryId))
  }

  /** Probe the signature index with a NEW document's RAW TEXT — the
    * ingest-time serving shape ("what near-duplicates this INCOMING
    * doc") where the query is NOT a corpus row. The query signature is
    * computed by the same engine pipeline over a 1-row frame (hash
    * semantics match the index bit-for-bit), then band slices become
    * literal scan predicates exactly as in
    * [[minhashProbeFromSignatures]]; no exclusion filter, so an exact
    * copy already in the corpus surfaces at estimate 1.0. A text too
    * short to shingle returns an empty result (nothing to match). */
  def minhashProbeTextPortable(sigs: DataFrame, text: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.25,
      shingle: Int = 1): DataFrame = {
    val spark = sigs.sparkSession
    val one = spark.range(1)
      .select(lit(-1L).as("qid"), lit(text).as("qtext"))
    val qRow = minhashSignaturesPortable(one, "qtext", "qid", numHashes,
      shingle).select("sig").collect().headOption
    qRow match {
      case Some(row) =>
        probeWithSignature(sigs, row.getSeq[Long](0), numHashes, bands,
          threshold, excludeId = None)
      case None => // no shingles in the query text
        sigs.select(col("id").as("doc_id"),
          lit(0.0).as("est_jaccard")).limit(0)
    }
  }

  /** Shared probe body: candidacy = any full band slice of `sigs`
    * equals the query signature's (scan-fused literal predicates);
    * estimate = signature-match fraction. */
  private def probeWithSignature(sigs: DataFrame, q: Seq[Long],
      numHashes: Int, bands: Int, threshold: Double,
      excludeId: Option[Long]): DataFrame = {
    val r = numHashes / bands
    require(bands * r == numHashes, "bands must divide numHashes")
    val anyBandMatches = (0 until bands).map { b =>
      (0 until r).map(i =>
        element_at(col("sig"), b * r + i + 1) === lit(q(b * r + i)))
        .reduce(_ && _)
    }.reduce(_ || _)
    val qLit = array(q.map(lit): _*)
    val base = excludeId.map(id => sigs.filter(col("id") =!= id))
      .getOrElse(sigs)
    base
      .filter(anyBandMatches)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig"), qLit, (x, y) => x === y),
          m => m)).cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id").as("doc_id"), col("est_jaccard"))
  }

  // --------------------- sharded band index (physical serving layout)

  /** Write the INVERTED BAND INDEX of a signature table as
    * shard-partitioned parquet — the physical layout the probe
    * docstrings promise at 100 TB: one row per (doc, band) carrying the
    * band's value-equality bucket string and the doc's full signature
    * (so a probe estimates similarity without a second lookup),
    * partitioned on disk by (band, shard) where
    * shard = pmod(xxhash64(bucket), shards). A probe then touches
    * exactly `bands` of the bands×shards directories — 1/`shards` of
    * the index — and the pruning happens AT THE SCAN (PartitionFilters
    * on literal band/shard), not as a post-read filter.
    * ShardedIndexSpec asserts both halves: every per-band scan selects
    * ≤ 1 partition, and the probe result is row-identical to the
    * unsharded [[minhashProbeFromSignatures]]. */
  def writeShardedBandIndex(sigs: DataFrame, path: String, numHashes: Int,
      bands: Int, shards: Int = 64, mode: String = "overwrite"): Unit = {
    val bk = portableBandKeys(numHashes, bands)
    sigs.select(col("id"), col("sig"), explode(bk(col("sig"))).as("bk"))
      .select(col("id"), col("sig"), col("bk.bucket").as("bucket"),
        col("bk.band").as("band"),
        pmod(xxhash64(col("bk.bucket")), lit(shards)).as("shard"))
      .repartition(col("band"), col("shard")) // one file per directory
      .write.partitionBy("band", "shard").mode(mode).parquet(path)
    graft.sources.Pq.invalidate(path)
  }

  /** Probe the sharded band index with a raw query signature: ONE scan
    * whose predicate is the OR over bands of
    * `band=b ∧ shard=s_b ∧ bucket=q_b` — Catalyst extracts the
    * partition-column weakening `∨_b (band=b ∧ shard=s_b)` from the
    * mixed disjunction (`extractPredicatesWithinOutputSet` handles
    * Or-of-And), so the scan still prunes to ≤ `bands` of the
    * bands×shards directories while the bucket equalities ride along as
    * scan-fused data filters. (Round 10: collapsed from `bands`
    * separate scans + union — identical pruning, one job instead of
    * eight, which is the difference between ~2 s and sub-second probe
    * latency at fixture scale.) Candidates dedup by id, then the
    * standard signature-overlap estimate. The query buckets' shard
    * values are computed by the ENGINE's own xxhash64 in one 1-row job,
    * so the driver never re-implements the hash. */
  def probeShardedBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String,
      q: Seq[Long], numHashes: Int, bands: Int, threshold: Double,
      shards: Int = 64, excludeId: Option[Long] = None): DataFrame = {
    val r = numHashes / bands
    require(bands * r == numHashes, "bands must divide numHashes")
    val qBuckets = (0 until bands).map(b =>
      (b * r until (b + 1) * r).map(q(_)).mkString(","))
    val qShards = spark.range(1)
      .select(qBuckets.map(bs =>
        pmod(xxhash64(lit(bs)), lit(shards))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val index = graft.sources.Pq.read(spark, path)
    val qLit = array(q.map(lit): _*)
    val candidates = index.filter((0 until bands).map { b =>
        col("band") === lit(b) && col("shard") === lit(qShards(b)) &&
          col("bucket") === lit(qBuckets(b))
      }.reduce(_ || _))
      .select("id", "sig").dropDuplicates("id")
    excludeId.map(id => candidates.filter(col("id") =!= id))
      .getOrElse(candidates)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig"), qLit, (x, y) => x === y),
          m => m)).cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id").as("doc_id"), col("est_jaccard"))
  }

  /** Ingest-time TEXT probe against the sharded band index
    * ([[probeShardedBandIndex]] with the query signature computed by
    * the engine over a 1-row frame, as in [[minhashProbeTextPortable]])
    * — the full serving stack: raw incoming text → signature → shard-
    * pruned index scans. No self-exclusion (an exact copy surfaces at
    * 1.0); unshingleable text returns the empty result. */
  def probeShardedBandIndexText(spark: org.apache.spark.sql.SparkSession,
      path: String, text: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.25, shards: Int = 64,
      shingle: Int = 1): DataFrame = {
    val one = spark.range(1)
      .select(lit(-1L).as("qid"), lit(text).as("qtext"))
    minhashSignaturesPortable(one, "qtext", "qid", numHashes, shingle)
      .select("sig").collect().headOption match {
      case Some(row) =>
        probeShardedBandIndex(spark, path, row.getSeq[Long](0), numHashes,
          bands, threshold, shards, excludeId = None)
      case None =>
        graft.sources.Pq.read(spark, path)
          .select(col("id").as("doc_id"), lit(0.0).as("est_jaccard"))
          .limit(0)
    }
  }

  /** Ingest-time MinHash DELTA (cross ∪ self) against the SHARDED BAND
    * INDEX — the slice-sized dual of [[probeShardedBandIndex]]: the
    * slice's signatures explode to their band buckets, the bounded
    * (≤ bands × `shards`) set of (band, shard) pairs they touch becomes
    * literal partition predicates over the index (a realistic ingest
    * slice has |slice| × bands bucket values — FEW keys per doc, so the
    * read prunes to a minority of directories; ShardedArtifactsSpec
    * locks the `PartitionFilters`), and candidates join on
    * (band, bucket). Index rows carry the full signature
    * ([[writeShardedBandIndex]]) so the estimate needs no second
    * old-corpus lookup. Semantics = the cross ∪ self arms of
    * [[minhashPairsIncrementalPortable]] exactly: per-side `maxBucket`
    * caps count within (band, bucket) — a bucket lives wholly inside
    * one shard, so counts over the pruned read are exact.
    *
    * Ingest ordering: the returned frame is a LAZY plan over
    * `indexPath`, and an append to that path invalidates (and
    * recomputes) plans over it (Spark's `recacheByPath`) — so a chained
    * ingest must COMMIT the delta (write it to the pairs artifact)
    * BEFORE appending the slice's rows to the index, or the delta
    * re-reads its own slice as "old" (self-pairs at 1.0).
    * ChainedAppendSpec locks the law under that ordering. */
  def minhashDeltaSharded(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newSigs0: DataFrame, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.5, maxBucket: Int = 1000,
      shards: Int = 16): DataFrame = {
    val bk = portableBandKeys(numHashes, bands)
    // parallelize: the slice's signatures come off a ~1-file artifact at
    // fixture scale (see bandedSigPairsCross note); no-op at corpus scale
    val newSigs = graft.ops.Caches.track(parallelize(newSigs0))
    val nb0 = newSigs
      .select(col("id"), col("sig"), explode(bk(col("sig"))).as("bk"))
      .select(col("id"), col("sig"), col("bk.bucket").as("bucket"),
        col("bk.band").as("band"),
        Sharded.shardOf(col("bk.bucket"), shards).as("shard"))
    val nb = graft.ops.Caches.track(nb0)
    val touched = nb.select("band", "shard").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).sortBy(identity)
    val pruned = graft.sources.Pq.read(spark, indexPath)
      .filter(touched.map { case (b, sh) =>
        col("band") === lit(b) && col("shard") === lit(sh)
      }.reduce(_ || _))
    def bounded(buckets: DataFrame): DataFrame = {
      val ok = buckets.groupBy("band", "bucket").count()
        .filter(col("count") <= maxBucket)
      buckets.join(ok.select("band", "bucket"), Seq("band", "bucket"))
    }
    // r20: cross and self share ONE slice-side bounded bucket table
    // (cached pinned by (band, bucket) so the cross probe and both
    // self-join sides reuse the layout — the self arm previously
    // re-exploded the slice signatures and re-ran the bucket census
    // through bandedSigPairs), and their candidate streams co-dedup
    // through ONE exchange: cross keys pair old×new ids, self keys pair
    // new×new with id_a < id_b — id-disjoint corpora, so the key spaces
    // never collide and per-stream dropDuplicates ∪ == one dropDuplicates
    // over the union. The per-side maxBucket censuses are byte-identical
    // to the separate-arm encoding (same slice bucket census both
    // times), and self rows already satisfy id_a < id_b, so the final
    // canonicalization is the identity on them.
    val boundedNb = graft.ops.Caches.track(pinned(
      bounded(nb.select("band", "bucket", "id", "sig")),
      col("band"), col("bucket")))
    val crossCands = pinned(bounded(
        pruned.select("band", "bucket", "id", "sig")),
        col("band"), col("bucket"))
      .select(col("band"), col("bucket"), col("id").as("id_a"),
        col("sig").as("sig_a"))
      .join(boundedNb.select(col("band"), col("bucket"),
        col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("band", "bucket"))
      .select("id_a", "sig_a", "id_b", "sig_b")
    val selfCands = boundedNb
      .select(col("band"), col("bucket"), col("id").as("id_a"),
        col("sig").as("sig_a"))
      .join(boundedNb.select(col("band"), col("bucket"),
        col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "sig_a", "id_b", "sig_b")
    crossCands.unionByName(selfCands)
      .dropDuplicates("id_a", "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          m => m)).cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("est_jaccard"))
  }

  /** [[minhashProbeFromSignatures]] with the signatures computed inline
    * from the corpus (portable md5 family, so the whole probe is
    * oracle-reproducible). Convenience for one-off probes; a serving
    * path should materialize the signature table once and call
    * [[minhashProbeFromSignatures]] directly. */
  def minhashProbePortable(df: DataFrame, textCol: String, idCol: String,
      queryId: Long, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.25, shingle: Int = 1): DataFrame =
    minhashProbeFromSignatures(
      minhashSignaturesPortable(df, textCol, idCol, numHashes, shingle),
      queryId, numHashes, bands, threshold)

  /** MinHash dedup: drop every doc that is a near-duplicate of a
    * smaller-id doc (greedy representative-by-min-id; the standard
    * single-pass approximation of connected-component dedup). */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      shingle: Int = 1): DataFrame =
    dedupFromPairs(df,
      minhashDupPairs(df, textCol, idCol, numHashes, bands, threshold,
        shingle = shingle), idCol)

  /** Dedup from an already-computed near-dup pairs table (id_a < id_b):
    * one anti-join. At corpus scale the pairs table is the expensive
    * artifact — materialize it ONCE and derive dedup, connected
    * components, and audits from it instead of re-running candidate
    * generation per consumer. */
  def dedupFromPairs(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Write a near-dup PAIRS table as a shard-partitioned ADJACENCY — one
    * row per DIRECTION ((doc, other, score) and (other, doc, score)),
    * partitioned by doc-id-hash shard: the serving layout for "what
    * duplicates THIS doc" over the pairs artifact. A canonical
    * (id_a < id_b) pairs table answers that query only with two scans or
    * an OR filter over the whole artifact; the exploded adjacency costs
    * 2× the (small) pairs bytes and prunes a probe to ONE directory.
    * Ingest appends the day's delta rows as new files — old partitions
    * are never rewritten. */
  def writeShardedAdjacency(pairs: DataFrame, path: String,
      scoreCol: String, shards: Int = 16): Unit = {
    val fwd = pairs.select(col("id_a").as("doc_id"),
      col("id_b").as("other"), col(scoreCol).as("score"))
    val rev = pairs.select(col("id_b").as("doc_id"),
      col("id_a").as("other"), col(scoreCol).as("score"))
    Sharded.writeByKey(fwd.unionByName(rev), path, "doc_id", shards)
  }

  /** Point probe over a [[writeShardedAdjacency]] artifact: the query
    * id's shard is computed by the ENGINE's own hash in one 1-row job
    * (as [[probeShardedBandIndex]] does), then the scan pins the literal
    * (shard, doc_id) — one directory of the index, no join. */
  def probeAdjacency(spark: org.apache.spark.sql.SparkSession,
      path: String, docId: Long, shards: Int = 16): DataFrame = {
    val qShard = spark.range(1)
      .select(Sharded.shardOf(lit(docId), shards)).head().getInt(0)
    graft.sources.Pq.read(spark, path)
      .filter(col("shard") === lit(qShard) && col("doc_id") === lit(docId))
      .select("other", "score")
  }

  // ------------------------------------------- connected-components dedup

  /** Connected components of an undirected near-dup pairs graph
    * (id_a, id_b): returns (id, component) where component = the MINIMUM
    * id reachable through any chain of pairs — the true duplicate-class
    * labeling that greedy drop-the-larger-id misses (for a~b, b~c the
    * greedy pass keeps {a} too, but for a~c, b~c it wrongly keeps b).
    *
    * Algorithm (r17 judge #4 — the pure min-propagation version was
    * O(diameter) rounds and topped the bench spread two rounds
    * running): each round HOOKS — every node takes min(own label,
    * neighbors' labels) — then SHORTCUTS by pointer jumping —
    * comp := min(comp, comp(comp)). Hooking alone moves the minimum
    * one hop per round; the shortcut squares the label's reach, so the
    * fixpoint lands in O(log diameter) rounds (the Shiloach–Vishkin
    * hook+jump scheme, the same round bound as large-star/small-star
    * but over the stable (id, comp) labels relation instead of a
    * rewired edge set). Both steps are monotone-decreasing within the
    * component (comp(u) is always the id of a node reachable from u),
    * so the fixpoint is exactly the per-component minimum — unchanged
    * labels, fewer rounds. The shortcut engages from ROUND 3 (dense
    * dedup clusters and star∪delta incremental merges converge in ≤ 2
    * hooks and must not pay the extra self-join — r18 bench) and
    * rides in the SAME job as the hook (one deeper plan, no extra
    * action); `localCheckpoint`
    * truncates the growing lineage so round N's plan doesn't replay
    * rounds 1..N−1. `maxIter` bounds the loop (log-scale: 20 covers
    * diameters to ~2^20); the driver-side per-round `count()` is the
    * convergence check, not a data collect. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithStats(pairs, maxIter)._1

  /** [[connectedComponents]] + the round count it took (spec hook: a
    * 64-node chain must converge in O(log) rounds, where hook-only
    * propagation needs 63 — past the default round cap, i.e. WRONG
    * labels, not just slow ones). */
  private[graft] def connectedComponentsWithStats(pairs: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {
    import graft.ops.Caches
    // No distinct() on the edge set: duplicate edges are harmless under
    // the per-node min aggregation below (idempotent), and the distinct
    // was a full shuffle of the corpus-sized edge relation on a key
    // (src,dst) no downstream join reuses — the per-round join keys on
    // dst alone, so the edges were reshuffled anyway (r19, guide §2.4).
    // Symmetrize by EXPLODE, not union-of-two-selects (r20): the union
    // form computed the whole `pairs` lineage twice in one stage AND
    // persisted 2×|pairs partitions| cache blocks — every round's join
    // then re-mapped all of them (measured on the incremental path: a
    // 160-task map stage per round for a KB-sized delta graph). One
    // explode pass = one computation, half the cached partitions.
    // coalesce to the core count before persisting: `pairs` is typically a
    // union of cached agg outputs whose partition counts ADD (measured 80
    // KB-sized partitions on the incremental path), and every round's join
    // re-maps every cached partition — coalesce merges them without a
    // shuffle and is a no-op when the input already has ≤ cores splits;
    // at cluster scale defaultParallelism is the cluster-core knob, so
    // per-round scheduling stays bounded by the hardware, not by how many
    // branches built the pairs relation.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .coalesce(pairs.sparkSession.sparkContext.defaultParallelism)
      .persist()
    // checkpoint storage lives outside the cache manager; capture each
    // round's backing RDDs so superseded rounds are unpersisted instead
    // of accumulating O(iterations) cached copies of the labels table.
    // localCheckpoint (not persist): each round's consumers then plan
    // against a materialized LogicalRDD with real size stats — joins on
    // top stay broadcast-eligible and AQE-coalescible, which a cached
    // deep plan is not (spark.sql.optimizer.canChangeCachedPlanOutput-
    // Partitioning=false pins cached subtrees to their static plan; the
    // r19 persist() experiment measured 3× slower rounds from exactly
    // that).
    var (labels, cpRdds) = Caches.localCheckpointTracked(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.select(col("src").as("id"), col("dst"))
        .join(labels.select(col("id").as("dst"), col("comp").as("nbrComp")),
          Seq("dst"))
        .groupBy("id").agg(min("nbrComp").as("nbrComp"))
      // `__old` rides along so convergence is a column comparison on the
      // round's own cached rows — one count job over cache, replacing
      // the former per-round shuffle join against the previous round
      // (2 actions + an exchange per round → 1 exchange-free action).
      val hooked = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"))
      // SHORTCUT: follow the label one more step — comp(comp(u)) is
      // reachable from comp(u), hence still inside u's component; the
      // left join covers nothing in practice (every comp value IS a
      // node id) but keeps the step total under adversarial input.
      // Engaged only from round 3 on: duplicate-class graphs (dense
      // clusters, star∪delta incremental merges) converge in ≤ 2 hook
      // rounds, and paying the extra self-join there made the common
      // case ~30% slower for zero round savings (r18 bench); a graph
      // still changing after two hooks has real chains, and the jump
      // then cuts the remaining rounds to O(log diameter).
      val jumped =
        if (iter < 2) hooked
        else hooked
          .join(hooked.select(col("id").as("comp"), col("comp").as("jump")),
            Seq("comp"), "left")
          .select(col("id"), col("__old"),
            least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp"))
      val (flagged, newRdds) = Caches.localCheckpointTracked(jumped
        .select(col("id"), col("comp"),
          (col("comp") < col("__old")).as("__chg")))
      // convergence = one exchange-free scan of the round's own
      // checkpoint — the former encoding joined the new labels back
      // against the previous round (an extra shuffle join per round).
      // Round 1's count is SKIPPED (r20): any edge (a,b), a≠b lowers
      // max(a,b)'s label in round 1, so a first-round "no change" can
      // only happen on an empty/self-loop-only graph — there the only
      // cost of assuming change is one extra (empty-frame) round, while
      // every real CC call saves one action per invocation.
      changed = if (iter == 0) 1L else flagged.filter(col("__chg")).count()
      cpRdds.foreach(_.unpersist(false))
      labels = flagged.select("id", "comp")
      cpRdds = newRdds
      iter += 1
    }
    edges.unpersist()
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      println(s"[cc] converged in $iter rounds")
    // the returned frame READS the final checkpoint (truncated lineage —
    // not recomputable): registered for release at the caller's next
    // Caches.releaseAll() batch boundary, after results materialize
    cpRdds.foreach(Caches.trackRdd)
    (labels, iter)
  }

  /** Component label for EVERY row of `df`: nodes absent from the pairs
    * graph are their own singleton component. */
  def assignComponents(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    df.select(col(idCol))
      .join(connectedComponents(pairs).withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("component"))

  /** INCREMENTAL connected-components maintenance — the merge law for
    * the LABEL artifact (the last dedup artifact that was still
    * recomputed from scratch per ingest): yesterday's labels
    * (id, component) are a STAR-EDGE summary of yesterday's pairs graph
    * (every member points at its representative), and a star preserves
    * exactly the old connectivity classes, so
    *
    *   CC(star(oldLabels) ∪ deltaPairs) = CC(oldPairs ∪ deltaPairs)
    *
    * — ingest never replays years of pairs: it loads the label artifact
    * (|corpus| star edges, not |pairs| edges — for dense duplicate
    * clusters that is the much smaller relation), adds the day's delta
    * (cross + self), and re-propagates. Because star edges have
    * diameter ≤ 2, the propagation rounds are bounded by the DELTA's
    * chain structure, not the historical graph's diameter.
    * q_dedup_cc_incremental hash-proves the law against the same
    * whole-corpus recursive-closure oracle as q_dedup_cc. */
  def assignComponentsIncremental(df: DataFrame, oldLabels: DataFrame,
      deltaPairs: DataFrame, idCol: String): DataFrame = {
    val starEdges = oldLabels
      .filter(col(idCol) =!= col("component"))
      .select(col(idCol).as("id_a"), col("component").as("id_b"))
    assignComponents(df,
      starEdges.unionByName(deltaPairs.select("id_a", "id_b")), idCol)
  }

  /** Write the CC LABEL artifact TWICE, partitioned by id-hash shard and
    * by component-hash shard — the two access paths label maintenance
    * needs: "labels of THESE delta-adjacent ids" (by id) and "full
    * membership of THESE touched components" (by component). The dual
    * copy is the standard adjacency trade (a graph artifact stored by
    * src and by dst); labels are one row per doc, so the duplication is
    * corpus-linear and tiny next to the pairs tables. */
  def writeShardedLabels(labels: DataFrame, pathById: String,
      pathByComp: String, idCol: String, shards: Int = 16): Unit = {
    Sharded.writeByKey(labels.select(col(idCol), col("component")),
      pathById, idCol, shards)
    Sharded.writeByKey(labels.select(col(idCol), col("component")),
      pathByComp, "component", shards)
  }

  /** INCREMENTAL connected components with the propagation PRUNED to the
    * components the delta actually touches — the sharded upgrade of
    * [[assignComponentsIncremental]], which re-propagates over star
    * edges of the WHOLE corpus:
    *
    *   1. delta-adjacent ids → pruned by-id read → their old labels →
    *      the TOUCHED component set (slice-proportional);
    *   2. pruned by-component read → full membership of touched
    *      components (their star edges are the only old edges that can
    *      interact with the delta);
    *   3. CC over (touched star edges ∪ delta) relabels exactly the
    *      affected docs — iteration cost bounded by the DELTA's chain
    *      structure over a slice-proportional subgraph, never the corpus;
    *   4. untouched labels re-enter by one scan + anti-join on the
    *      touched component set (on a real ingest those partitions stay
    *      on disk untouched — only affected rows are rewritten); slice
    *      docs in no delta pair are their own singleton components.
    *
    * Lossless: new edges only join delta-adjacent docs, so any component
    * whose labeling can change contains a delta endpoint and is in the
    * touched set; a touched component's new min can only come from a
    * component connected to it through delta edges — also touched. Old
    * labels are min-reachable ids, so star edges preserve classes AND
    * label values. */
  def assignComponentsIncrementalSharded(
      spark: org.apache.spark.sql.SparkSession, pathById: String,
      pathByComp: String, sliceDocs: DataFrame, deltaPairs: DataFrame,
      idCol: String, shards: Int = 16): DataFrame = {
    val delta = graft.ops.Caches.track(deltaPairs.select("id_a", "id_b"))
    // explode, not union-of-two-selects: one pass over the cached delta
    // instead of two map branches (r20; same rows — the union of the two
    // endpoint columns IS the exploded endpoint array)
    val deltaIds = graft.ops.Caches.track(
      delta.select(explode(array(col("id_a"), col("id_b"))).as(idCol))
        .distinct())
    val touchedComps = graft.ops.Caches.track(
      Sharded.fetchKeys(spark, pathById, deltaIds, idCol, shards)
        .select("component").distinct())
    val members = graft.ops.Caches.track(
      Sharded.fetchKeys(spark, pathByComp, touchedComps, "component",
        shards).select(col(idCol), col("component")))
    val star = members.filter(col(idCol) =!= col("component"))
      .select(col(idCol).as("id_a"), col("component").as("id_b"))
    val affectedDocs = members.select(col(idCol))
      .union(deltaIds.select(col(idCol))).distinct()
    val relabeled = assignComponents(affectedDocs,
      star.unionByName(delta), idCol)
    val untouchedOld = graft.sources.Pq.read(spark, pathById).drop("shard")
      .join(touchedComps, Seq("component"), "left_anti")
      .select(col(idCol), col("component"))
    val sliceSingletons = sliceDocs.select(col(idCol))
      .join(deltaIds, Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("component"))
    untouchedOld.unionByName(relabeled).unionByName(sliceSingletons)
  }

  /** Transitive dedup: keep one representative (the min id) per duplicate
    * CLASS — the closure of the pairs relation — rather than per pair. */
  def ccDedupFromPairs(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    df.join(assignComponents(df, pairs, idCol)
        .filter(col(idCol) =!= col("component"))
        .select(idCol),
      Seq(idCol), "left_anti")

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the word-token multiset: per token a 64-bit hash
    * votes ±1 per bit position; fingerprint bit j = sign of the vote sum.
    * Pure higher-order-function fold — one pass, no shuffle, no UDF. */
  def simhash64(text: Column): Column = {
    val toks = tokens(text)
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, j) => a + when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L))
      })
    aggregate(sequence(lit(0), lit(63)), lit(0L),
      (acc, j) => acc + when(element_at(votes, j + 1) > 0,
        call_function("shiftleft", lit(1L), j)).otherwise(0L))
  }

  /** Corpus-scale SimHash fingerprint table: explode tokens → one
    * codegen'd xxhash64 per token → 64 conditional-sum aggregates per doc
    * (±1 vote per bit) → fingerprint assembly. Same scaling argument as
    * [[minhashSignatures]]: whole-stage codegen, map-side partial sums,
    * shuffle bounded by |docs| × 64 longs. */
  def simhashFingerprints(df0: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val df = parallelize(df0)
    val exploded = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j"))
    val fp = (0 until 64).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    exploded.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), fp.as("fp"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    * Blocking by the pigeonhole principle: split the `bits`-wide
    * fingerprint into `maxHamming+1` chunks — any pair within distance k
    * agrees on at least one chunk, so the self-join on (chunk index,
    * chunk value) is lossless. Verification = `bit_count(a XOR b)`. */
  def simhashDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashFingerprints(df, textCol, idCol), 64, maxHamming)

  /** Pigeonhole chunk-join over a fingerprint table (`id`, `fp`). */
  private def hammingPairs(fpTable: DataFrame, bits: Int,
      maxHamming: Int): DataFrame =
    hammingPairsCross(fpTable, None, bits, maxHamming)

  /** Self- or cross-corpus pigeonhole chunk join over fingerprint tables
    * (`fpB0 = None` → canonical id_a < id_b self-pairs; `Some` → A×B).
    * Same shape as [[bandedSigPairsCross]] for the MinHash tier. */
  private def hammingPairsCross(fpA0: DataFrame, fpB0: Option[DataFrame],
      bits: Int, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val width = bits / chunks
    // parallelize: fingerprint tables read off a ~1-file artifact at
    // fixture scale (see bandedSigPairsCross note); no-op at corpus scale
    def chunked(t: DataFrame): DataFrame =
      graft.ops.Caches.track(parallelize(t))
      .withColumn("chunk", explode(transform(
        sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("ci"),
          call_function("shiftrightunsigned", col("fp"), c * lit(width))
            .bitwiseAND(lit((1L << width) - 1)).as("cv")))))
      .select(col("id"), col("fp"), col("chunk.ci"), col("chunk.cv"))
    val ca = chunked(fpA0)
    val cb = fpB0.map(chunked).getOrElse(ca)

    val joined = pinned(ca
      .select(col("ci"), col("cv"), col("id").as("id_a"),
        col("fp").as("fp_a")), col("ci"), col("cv"))
      .join(pinned(cb.select(col("ci"), col("cv"), col("id").as("id_b"),
        col("fp").as("fp_b")), col("ci"), col("cv")), Seq("ci", "cv"))
    (if (fpB0.isEmpty) joined.filter(col("id_a") < col("id_b")) else joined)
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** [[simhashDupPairsPortable]] over a PRECOMPUTED (id, fp) fingerprint
    * table — the persisted-artifact entry point (same discipline as
    * [[minhashDupPairsPortableFromSignatures]]). */
  def simhashDupPairsPortableFromFingerprints(fps: DataFrame,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(fps, 60, maxHamming)

  /** SimHash point PROBE against a PRECOMPUTED fingerprint table — the
    * fingerprint-tier twin of [[minhashProbeFromSignatures]]: the query
    * doc's fp is collected (one bounded row), its `maxHamming`+1
    * pigeonhole chunks become literal scan predicates (candidacy = ANY
    * chunk equal, lossless for distance ≤ maxHamming by the pigeonhole
    * principle), and verification is `bit_count(fp XOR q)` fused into
    * the same scan — no join, no shuffle, no per-probe corpus re-vote.
    * Returns (doc_id, hamming), query row excluded. */
  def simhashProbeFromFingerprints(fps: DataFrame, queryId: Long,
      maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val q = fps.filter(col("id") === queryId).select("fp").head().getLong(0)
    probeFingerprintTable(fps, q, bits, maxHamming,
      excludeId = Some(queryId))
  }

  /** [[simhashProbeFromFingerprints]] with the query FINGERPRINT given
    * directly (the incoming-doc serving shape — the query need not be a
    * corpus row): pigeonhole chunk candidacy as scan-fused literal
    * predicates over the flat fingerprint table, exact hamming verify. */
  def probeFingerprintTable(fps: DataFrame, queryFp: Long, bits: Int = 60,
      maxHamming: Int = 3, excludeId: Option[Long] = None): DataFrame = {
    val chunks = maxHamming + 1
    val width = bits / chunks
    val mask = (1L << width) - 1
    val anyChunk = (0 until chunks).map { c =>
      call_function("shiftrightunsigned", col("fp"), lit(c * width))
        .bitwiseAND(lit(mask)) === lit((queryFp >>> (c * width)) & mask)
    }.reduce(_ || _)
    excludeId.map(id => fps.filter(col("id") =!= id)).getOrElse(fps)
      .filter(anyChunk)
      .withColumn("hamming",
        bit_count(col("fp").bitwiseXOR(lit(queryFp))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id").as("doc_id"), col("hamming"))
  }

  /** Write the pigeonhole CHUNK INDEX of a fingerprint table as
    * shard-partitioned parquet — the SimHash analog of
    * [[writeShardedBandIndex]]: one row per (doc, chunk) carrying the
    * doc's full fingerprint (so verification needs no second lookup),
    * partitioned on disk by (ci, shard = xxhash64(cv) % shards). A doc
    * contributes exactly `maxHamming`+1 chunk values, so both probes and
    * realistic ingest slices touch few of the (chunks × shards)
    * directories and the old-corpus read prunes AT THE SCAN. */
  def writeShardedChunkIndex(fps: DataFrame, path: String, bits: Int = 60,
      maxHamming: Int = 3, shards: Int = 16,
      mode: String = "overwrite"): Unit = {
    val chunks = maxHamming + 1
    val width = bits / chunks
    fps.withColumn("chunk", explode(transform(
        sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("ci"),
          call_function("shiftrightunsigned", col("fp"), c * lit(width))
            .bitwiseAND(lit((1L << width) - 1)).as("cv")))))
      .select(col("id"), col("fp"), col("chunk.ci"), col("chunk.cv"),
        Sharded.shardOf(col("chunk.cv"), shards).as("shard"))
      .repartition(col("ci"), col("shard")) // one file per directory
      .write.partitionBy("ci", "shard").mode(mode).parquet(path)
    graft.sources.Pq.invalidate(path)
  }

  /** Point probe over a [[writeShardedChunkIndex]] artifact — the
    * simhash serving primitive the regime measurements say this layout
    * is FOR (SURVEY "Round-10 measurements": the chunk index loses to
    * the flat fingerprint scan for batch appends but a probe touches
    * ≤ `chunks` of the chunks×shards directories): the query fingerprint's chunk
    * values are bit slices computed in plain Scala, their shard values
    * by the ENGINE's own xxhash64 (one 1-row job), then ONE Or-of-And
    * scan prunes at the partition level and verifies exact hamming on
    * the carried fingerprint — no second lookup, no join. Result ≡
    * [[simhashProbeFromFingerprints]] row-for-row. */
  def probeShardedChunkIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queryFp: Long, bits: Int = 60, maxHamming: Int = 3,
      shards: Int = 16, excludeId: Option[Long] = None): DataFrame = {
    val chunks = maxHamming + 1
    val width = bits / chunks
    val mask = (1L << width) - 1
    val qcv = (0 until chunks).map(c => (c, (queryFp >>> (c * width)) & mask))
    val qShards = spark.range(1)
      .select(qcv.map { case (_, v) => Sharded.shardOf(lit(v), shards) }: _*)
      .head().toSeq.map(_.asInstanceOf[Int])
    val cands = graft.sources.Pq.read(spark, path)
      .filter(qcv.zipWithIndex.map { case ((c, v), i) =>
        col("ci") === lit(c) && col("shard") === lit(qShards(i)) &&
          col("cv") === lit(v)
      }.reduce(_ || _))
      .dropDuplicates("id")
    excludeId.map(id => cands.filter(col("id") =!= id)).getOrElse(cands)
      .withColumn("hamming",
        bit_count(col("fp").bitwiseXOR(lit(queryFp))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id").as("doc_id"), col("hamming"))
  }

  /** Ingest-time SimHash DELTA (cross ∪ self) against the SHARDED CHUNK
    * INDEX: the slice's fingerprints chunk to a bounded
    * (≤ chunks × `shards`) set of (ci, shard) pairs — literal partition
    * predicates over the index — and candidacy joins on (ci, cv).
    * Semantics = the cross ∪ self arms of
    * [[simhashPairsIncrementalPortable]] exactly (pigeonhole candidacy
    * is a per-pair property; no caps to approximate around). */
  def simhashDeltaSharded(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newFps0: DataFrame, bits: Int = 60,
      maxHamming: Int = 3, shards: Int = 16): DataFrame = {
    val chunks = maxHamming + 1
    val width = bits / chunks
    // parallelize: slice fingerprints off a ~1-file artifact at fixture
    // scale (see bandedSigPairsCross note); no-op at corpus scale
    val newFps = graft.ops.Caches.track(parallelize(newFps0))
    val nb = graft.ops.Caches.track(newFps
      .withColumn("chunk", explode(transform(
        sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("ci"),
          call_function("shiftrightunsigned", col("fp"), c * lit(width))
            .bitwiseAND(lit((1L << width) - 1)).as("cv")))))
      .select(col("id"), col("fp"), col("chunk.ci"), col("chunk.cv"),
        Sharded.shardOf(col("chunk.cv"), shards).as("shard")))
    val touched = nb.select("ci", "shard").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).sortBy(identity)
    val pruned = graft.sources.Pq.read(spark, indexPath)
      .filter(touched.map { case (ci, sh) =>
        col("ci") === lit(ci) && col("shard") === lit(sh)
      }.reduce(_ || _))
    val cross = pruned
      .select(col("ci"), col("cv"), col("id").as("id_a"),
        col("fp").as("fp_a"))
      .join(nb.select(col("ci"), col("cv"), col("id").as("id_b"),
        col("fp").as("fp_b")), Seq("ci", "cv"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
    val newSelf = hammingPairs(newFps, bits, maxHamming)
    cross.unionByName(newSelf)
  }

  /** CROSS-CORPUS SimHash pairs (portable 60-bit md5 family): incoming
    * docs within `maxHamming` of some existing doc — the SimHash twin of
    * [[minhashCrossDupPairsPortable]]. Returns (id_a from `existing`,
    * id_b from `incoming`, hamming). */
  def simhashCrossDupPairsPortable(existing: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3): DataFrame =
    hammingPairsCross(
      simhashFingerprintsPortable(existing, textCol, idCol),
      Some(simhashFingerprintsPortable(incoming, textCol, idCol)),
      60, maxHamming)

  /** INCREMENTAL SimHash pairs maintenance — the same merge law as
    * [[minhashPairsIncrementalPortable]]: oldPairs ∪ cross(old, new) ∪
    * self(new) over id-disjoint fingerprint tables equals a from-scratch
    * recompute EXACTLY (chunk-value candidacy is a per-pair property of
    * the two fingerprints; this pipeline has no bucket caps). */
  def simhashPairsIncrementalPortable(oldPairs: DataFrame,
      oldFps: DataFrame, newFps: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val cross = hammingPairsCross(oldFps, Some(newFps), 60, maxHamming)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
    val newSelf = hammingPairs(newFps, 60, maxHamming)
    oldPairs.unionByName(cross).unionByName(newSelf)
  }

  /** First 60 bits of md5 as a long (15 hex chars — stays inside the
    * signed-long budget both engines share; see [[hex32]]). */
  def hex60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[simhashFingerprints]] with the portable md5-derived 60-bit hash:
    * identical explode → 60 conditional-sum aggregates → fingerprint
    * assembly, reproducible in any md5-capable engine. */
  def simhashFingerprintsPortable(df0: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val df = parallelize(df0)
    val exploded = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("t"))
      .select(col("id"), hex60(col("t")).as("h"))
    val votes = (0 until 60).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j"))
    val fp = (0 until 60).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    exploded.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), fp.as("fp"))
  }

  /** [[simhashDupPairs]] over the portable 60-bit fingerprint family
    * (4 pigeonhole chunks of 15 bits at the default maxHamming=3). */
  def simhashDupPairsPortable(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashFingerprintsPortable(df, textCol, idCol), 60,
      maxHamming)

  // ------------------------------------------- exact n-gram Jaccard pairs

  /** Wrap the native [[graft.functions.NGramsExpr]] kernel as a Column
    * (no session/registry needed — the expression rides the plan
    * directly). */
  private def ngramsNative(text: Column, n: Int, distinct: Boolean): Column = {
    val shim = org.apache.spark.sql.graftshim.ColumnShim
    // coalesce: the HOF reference form yields [] (not NULL) for null text
    // (greatest() drops the null size inside the lambda) — preserve that
    // contract exactly so kernels are interchangeable.
    coalesce(
      shim.column(graft.functions.NGramsExpr(
        shim.expression(tokens(text)), shim.expression(lit(n)), distinct)),
      typedLit(Seq.empty[String]))
  }

  /** Word n-grams of the normalized text WITH multiplicity (repetition
    * metrics need duplicate grams; [[wordNgrams]] is the distinct form). */
  def wordNgramsAll(text: Column, n: Int): Column =
    ngramsNative(text, n, distinct = false)

  /** Word n-grams (distinct) of the normalized text: native compiled
    * kernel ([[graft.functions.NGramsExpr]] — one loop per row).
    * [[wordNgramsHof]] is the built-in-HOF reference form; the kernel is
    * asserted bit-identical to it in `NGramsExprSpec`, and every n-gram
    * pipeline's DuckDB oracle locks the semantics end-to-end. */
  def wordNgrams(text: Column, n: Int): Column =
    ngramsNative(text, n, distinct = true)

  /** Reference HOF form of [[wordNgrams]] (kept for the bit-identity
    * spec; interpreted — ~2.5× slower per gram-explode pass at sf0.1).
    *
    * The tokenization is BOUND ONCE via a singleton-array lambda
    * (`transform(array(tokens), toks -> ...)`): higher-order functions
    * evaluate interpreted, and an expression subtree referenced at every
    * gram position would re-run the regex split O(positions) times per row
    * — observed as a single 550 s task at sf0.1. A lambda variable
    * reference is O(1) against the already-evaluated array. */
  def wordNgramsHof(text: Column, n: Int, distinct: Boolean = true): Column = {
    val grams = transform(array(tokens(text)), toks =>
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => when(i <= size(toks) - n,
            concat_ws(" ", slice(toks, i + 1, lit(n))))),
        g => g.isNotNull))
    if (distinct) array_distinct(element_at(grams, 1))
    else element_at(grams, 1)
  }

  /** Exact n-gram Jaccard near-dup pairs, `jaccard ≥ threshold`.
    *
    * Threshold-adaptive set-similarity join. Both paths are exact and
    * count-based — J(a,b) = c / (|a| + |b| − c) needs only the shared-gram
    * COUNT c per pair, never the gram arrays (an earlier version shuffled
    * gram ARRAYS to every candidate and verified with interpreted
    * array_intersect: 50× slower at sf0.1). Path choice (`prefixFilter`,
    * default auto at threshold ≥ 0.3):
    *
    * DIRECT (low thresholds): explode distinct grams, attach each gram's
    * global doc-frequency with a window count (partitioned by gram — the
    * self-join on the gram key REUSES that hash partitioning, so the cap
    * costs no extra Exchange), self-join on the gram, count rows per
    * (id_a, id_b) — one codegen'd partial+final HashAggregate yields c for
    * every co-occurring pair directly. At low t nearly every co-occurring
    * pair must be counted anyway (prefixes are ~(1−t)·|g| long), so a
    * candidate/verify split would RE-join candidates against the gram
    * table and cost more than it saves — measured at sf0.1, t=0.1: 941 k
    * of 941 k co-occurring pairs survive prefix candidacy.
    *
    * PREFIX (high thresholds — All-Pairs/PPJoin family): rank each doc's
    * grams RAREST-FIRST by (global df, gram); candidate generation
    * self-joins ONLY each doc's prefix — its first |g| − ⌈t·|g|⌉ + 1 grams
    * in that order. Lossless for J ≥ t: a qualifying pair must share
    * ≥ ⌈t·|x|⌉ grams, and a set missing all of its prefix can share at
    * most ⌈t·|x|⌉ − 1. The grams EXCLUDED from prefixes are exactly the
    * hottest ones, so the Σ df² join blowup collapses superlinearly as t
    * grows. A min/max length-ratio filter (J ≤ min/max) prunes before
    * pair-dedup; exact c is then re-derived per candidate by joining back
    * to the full gram table on id_a then (id_b, gram).
    *
    * `maxDf` caps pathological blocking grams (boilerplate spam =
    * quadratic hot keys). On the prefix path it affects only CANDIDATE
    * RECALL (capped grams still count in c for surviving candidates); on
    * the direct path a capped gram is excluded from c too — pairs whose
    * ONLY shared grams are capped may slip below threshold (recall/cost
    * knob; maxDf=∞ is fully exact). Float care: prefix length and
    * length-ratio use ε-conservative ceil/compares so binary-float slop
    * can only widen the candidate set, never lose a qualifying pair. */
  def ngramJaccardPairs(df0: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.2, maxDf: Int = 1000,
      prefixFilter: Option[Boolean] = None): DataFrame =
    ngramJaccardPairsOverGrams(ngramGramTable(df0, textCol, idCol, n),
      threshold, maxDf, prefixFilter)

  /** SUMMABLE gram-census artifact: (g, df) global doc-frequencies over
    * a gram table. Per-slice censuses merge by addition
    * ([[mergeGramCensus]]), which is what makes the df blocking cap
    * maintainable at ingest time instead of re-counted per corpus pass:
    * the census is computed once per snapshot, persisted beside the gram
    * index, and a day's ingest touches |slice grams| + |changed census
    * rows|, never the corpus. */
  def ngramGramCensus(grams: DataFrame): DataFrame =
    grams.groupBy("g").agg(count(lit(1)).as("df"))

  /** Merge gram censuses by addition (doc-frequency of a gram in A ∪ B =
    * df_A + df_B for id-disjoint corpora). */
  def mergeGramCensus(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("g").agg(sum(col("df")).as("df"))

  /** Write the GRAM INDEX ([[ngramGramTable]] rows) as parquet
    * partitioned by gram-hash shard. Selectivity honesty (see
    * [[Sharded]]): a doc contributes HUNDREDS of distinct grams, so the
    * layout prunes for probes and small slices but degrades to a full
    * scan for large ingest slices — there the lever is the slice-side
    * bloom semi-join, not the directory layout. Both the layout and the
    * stress measurement carry that caveat. */
  def writeShardedGramIndex(grams: DataFrame, path: String,
      shards: Int = 16): Unit =
    Sharded.writeByKey(grams.select("id", "nsz", "g"), path, "g", shards)

  /** Write the summable GRAM CENSUS as parquet partitioned by the SAME
    * gram-hash shard function as [[writeShardedGramIndex]] — per-shard
    * censuses merge independently, and an append's census read prunes
    * with the same shard set as its postings read. */
  def writeShardedGramCensus(census: DataFrame, path: String,
      shards: Int = 16): Unit =
    Sharded.writeByKey(census.select("g", "df"), path, "g", shards)

  /** Ingest-time exact-Jaccard DELTA (cross ∪ self) over the SHARDED
    * gram index + census: the slice's grams touch a bounded (≤ `shards`)
    * shard set, which prunes BOTH old-corpus reads (postings + census)
    * at the scan; candidacy and blocking then proceed exactly as
    * [[ngramPairsIncrementalWithCensus]] — pruning is lossless because a
    * cross pair needs a SHARED gram (an old posting whose gram is not in
    * any slice shard cannot share a gram with the slice), and every
    * retained gram's census row lives in a retained shard. */
  def ngramDeltaSharded(spark: org.apache.spark.sql.SparkSession,
      gramIndexPath: String, censusPath: String, gramsNew0: DataFrame,
      threshold: Double, maxDf: Int = 1000, shards: Int = 16): DataFrame = {
    val gramsNew = graft.ops.Caches.track(gramsNew0)
    val sliceShards = Sharded.touchedShards(gramsNew, "g", shards)
    val gramsOld = Sharded.readTouched(spark, gramIndexPath, sliceShards)
      .select("id", "nsz", "g")
    val censusOld = Sharded.readTouched(spark, censusPath, sliceShards)
      .select("g", "df")
    val merged = graft.ops.Caches.track(
      mergeGramCensus(censusOld, ngramGramCensus(gramsNew)))
    // r19: shared-blocked delta — one census block + one cached slice
    // gram table feed cross AND self. Canonicalizing the whole union is
    // identical to canonicalizing only the cross rows (self pairs
    // already satisfy id_a < id_b).
    ngramJaccardDeltaFromGramsWithCensus(gramsOld, gramsNew, merged,
        threshold, maxDf)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
  }

  /** Direct count-join exact-Jaccard pairs with the df blocking cap read
    * from a PRECOMPUTED census artifact ([[ngramGramCensus]] output or a
    * merge of slices) instead of a fresh corpus-wide window count —
    * semantics identical to [[ngramJaccardPairsFromGrams]] when `census`
    * covers exactly the gram population of `grams`. */
  def ngramJaccardPairsFromGramsWithCensus(grams: DataFrame,
      census: DataFrame, threshold: Double, maxDf: Int = 1000): DataFrame =
    jaccardFromCounts(pairCountsBlocked(
      grams.join(census.filter(col("df") <= maxDf).select("g"), Seq("g"))),
      threshold)

  /** Cross(old, new) ∪ self(new) exact-Jaccard delta with the census
    * block applied ONCE per side: the slice's blocked gram table is
    * computed and cached once and feeds both branches — the separate
    * cross+self encoding read the slice grams and the census twice each
    * (r19, guide §2.4: two operations keyed the same way share one
    * pass). Row-identical to
    * [[ngramJaccardCrossPairsFromGramsWithCensus]] ∪
    * [[ngramJaccardPairsFromGramsWithCensus]] (cross side keeps its
    * A→id_a orientation; callers canonicalize if they need to). */
  def ngramJaccardDeltaFromGramsWithCensus(gramsOld: DataFrame,
      gramsNew: DataFrame, census: DataFrame, threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    val ok = census.filter(col("df") <= maxDf).select("g")
    val blockedNew = graft.ops.Caches.track(
      pinned(gramsNew.join(ok, Seq("g")), col("g")))
    // blockedNew is ALREADY pinned (and cached with that layout) — no
    // further exchange on either self-join side (r20). Cross and self
    // CO-AGGREGATE through one exchange: the two candidate streams'
    // (id_a, id_b) key spaces are disjoint (cross pairs old×new ids,
    // self pairs new×new — the corpora are id-disjoint by the merge-law
    // contract), so one groupBy over their union is row-identical to
    // unioning two separate groupBys, for one final-agg exchange + AQE
    // stage instead of two (r20, guide §2.4).
    val cols = Seq("id_a", "id_b", "na", "nb").map(col)
    val crossPairs = pinned(gramsOld.join(ok, Seq("g")), col("g"))
      .select(col("g"), col("id").as("id_a"), col("nsz").as("na"))
      .join(blockedNew.select(col("g"), col("id").as("id_b"),
        col("nsz").as("nb")), Seq("g"))
      .select(cols: _*)
    val selfPairs = blockedNew
      .select(col("g"), col("id").as("id_a"), col("nsz").as("na"))
      .join(blockedNew.select(col("g"), col("id").as("id_b"),
        col("nsz").as("nb")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select(cols: _*)
    jaccardFromCounts(
      crossPairs.unionByName(selfPairs)
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(count(lit(1)).as("c")),
      threshold)
  }

  /** Exchange pin for the COMPUTE-DENSE candidate joins: their per-key
    * work is quadratic in the posting-list length while their shuffle
    * BYTES stay small, so AQE's byte-based coalescing would collapse
    * exactly the stages that need the cores onto a handful of tasks
    * (r19, measured: the cc-incremental delta's pair-count stage ran 3
    * tasks × ~0.6 s). An explicit-numPartitions repartition is exempt
    * from AQE coalescing.
    *
    * The pin count is SIZE-DERIVED (r20; r19 pinned flat
    * numShufflePartitions, which put 32-task exchanges under KB-sized
    * incremental delta frames — pure task tax, q_dedup_ngram_pairs 0.77×
    * in the r19 verdict): one partition per 64 KB of plan-estimated
    * input, capped at the session's shuffle.partitions — the
    * cluster-sized knob. Bytes understate quadratic per-key work, which
    * is why the divisor sits ~1000× below a normal shuffle-partition
    * target: any input ≥ partitions·64 KB still pins the full cluster
    * width, only genuinely tiny frames stop fanning out. */
  private def pinned(df: DataFrame, keys: Column*): DataFrame = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((est / (64L << 10)) + 1).min(BigInt(cap)).max(BigInt(1)).toInt
    df.repartition(n, keys: _*)
  }

  private def pairCountsBlocked(blocked0: DataFrame): DataFrame =
    pairCountsPrePinned(pinned(blocked0, col("g")))

  /** [[pairCountsBlocked]] body for inputs the caller has ALREADY
    * pinned/partitioned by `g` — both self-join sides read the same
    * frame, so no further exchange is added here. */
  private def pairCountsPrePinned(blocked: DataFrame): DataFrame =
    blocked
      .select(col("g"), col("id").as("id_a"), col("nsz").as("na"))
      .join(blocked.select(col("g"), col("id").as("id_b"),
        col("nsz").as("nb")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("c"))

  private def jaccardFromCounts(counted: DataFrame,
      threshold: Double): DataFrame = counted
    .withColumn("jaccard",
      col("c").cast("double") / (col("na") + col("nb") - col("c")))
    .filter(col("jaccard") >= threshold)
    .select("id_a", "id_b", "jaccard")

  /** Full threshold-adaptive exact-Jaccard join (direct OR prefix-filter
    * path) over a PRECOMPUTED gram table — the artifact-consuming form
    * of [[ngramJaccardPairs]]. */
  def ngramJaccardPairsOverGrams(grams: DataFrame, threshold: Double,
      maxDf: Int = 1000,
      prefixFilter: Option[Boolean] = None): DataFrame = {
    val usePrefix = prefixFilter.getOrElse(threshold >= 0.3)
    val exploded = grams
      .pipe(graft.ops.Caches.track) // feeds candidate generation and the verify join sides
    val withDf = exploded
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))

    def pairCounts(blocked: DataFrame): DataFrame = blocked
      .select(col("g"), col("id").as("id_a"), col("nsz").as("na"))
      .join(blocked.select(col("g"), col("id").as("id_b"),
        col("nsz").as("nb")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("c"))

    val counted =
      if (!usePrefix) pairCounts(withDf.filter(col("df") <= maxDf))
      else {
        val prefixLen =
          col("nsz") - ceil(col("nsz") * lit(threshold) - lit(1e-9)) + 1
        val prefix = withDf
          .withColumn("pos", row_number().over(
            Window.partitionBy("id").orderBy(col("df"), col("g"))))
          .filter(col("pos") <= prefixLen && col("df") <= maxDf)
          .select("g", "id", "nsz")
        val candidates = prefix
          .select(col("g"), col("id").as("id_a"), col("nsz").as("na"))
          .join(prefix.select(col("g"), col("id").as("id_b"),
            col("nsz").as("nb")), Seq("g"))
          .filter(col("id_a") < col("id_b"))
          .filter(least(col("na"), col("nb")) >=
            greatest(col("na"), col("nb")) * lit(threshold) - lit(1e-9))
          .select("id_a", "id_b")
          .distinct()
        candidates
          .join(exploded.select(col("id").as("id_a"), col("nsz").as("na"),
            col("g")), Seq("id_a"))
          .join(exploded.select(col("id").as("id_b"), col("nsz").as("nb"),
            col("g")), Seq("id_b", "g"))
          .groupBy("id_a", "id_b", "na", "nb")
          .agg(count(lit(1)).as("c"))
      }

    counted
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** CROSS-CORPUS exact n-gram Jaccard pairs (direct count-join path):
    * pairs (a ∈ existing, b ∈ incoming) with J ≥ `threshold`. The df
    * blocking cap is computed over the MERGED gram census
    * (existing ∪ incoming) so candidacy matches a whole-corpus
    * recompute — at scale that census is the maintained artifact (per-
    * slice gram counts are summable), updated per ingest instead of
    * re-counted. */
  /** Exploded distinct word-n-gram table (id, nsz, g) — the GRAM INDEX
    * artifact of the exact-Jaccard tier (the analog of the MinHash
    * signature index): tokenize + n-gram the corpus ONCE, persist, and
    * let pairs / cross / incremental consumers filter the artifact
    * instead of re-exploding text per call. */
  def ngramGramTable(df0: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val df = parallelize(df0)
    df.select(col(idCol).as("id"), wordNgrams(col(textCol), n).as("grams"))
      .select(col("id"), size(col("grams")).as("nsz"),
        explode(col("grams")).as("g"))
  }

  /** Direct count-join exact-Jaccard pairs over a PRECOMPUTED gram
    * table ([[ngramGramTable]] output or a slice of it). */
  def ngramJaccardPairsFromGrams(grams: DataFrame, threshold: Double,
      maxDf: Int = 1000): DataFrame =
    ngramJaccardPairsOverGrams(grams, threshold, maxDf,
      prefixFilter = Some(false))

  /** [[ngramJaccardCrossPairs]] over PRECOMPUTED gram tables. The merged
    * census is re-counted inline here; the maintained-artifact form is
    * [[ngramJaccardCrossPairsFromGramsWithCensus]]. */
  def ngramJaccardCrossPairsFromGrams(gramsA: DataFrame, gramsB: DataFrame,
      threshold: Double, maxDf: Int = 1000): DataFrame = {
    val ea = graft.ops.Caches.track(gramsA)
    val eb = graft.ops.Caches.track(gramsB)
    ngramJaccardCrossPairsFromGramsWithCensus(ea, eb,
      ngramGramCensus(ea.select("id", "nsz", "g")
        .unionByName(eb.select("id", "nsz", "g"))),
      threshold, maxDf)
  }

  /** Cross-corpus exact-Jaccard pairs with the df cap read from a
    * PRECOMPUTED MERGED census ([[mergeGramCensus]] of the persisted
    * old-corpus census and the slice's census) — the ingest-time shape:
    * the old corpus contributes an artifact READ (gram postings + census
    * rows), never a re-count. `census` must cover the gram population of
    * `gramsA` ∪ `gramsB` for candidacy to match a whole-corpus
    * recompute. */
  def ngramJaccardCrossPairsFromGramsWithCensus(gramsA: DataFrame,
      gramsB: DataFrame, census: DataFrame, threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    val ok = census.filter(col("df") <= maxDf).select("g")
    gramsA.join(ok, Seq("g"))
      .select(col("g"), col("id").as("id_a"), col("nsz").as("na"))
      .join(gramsB.join(ok, Seq("g"))
        .select(col("g"), col("id").as("id_b"), col("nsz").as("nb")),
        Seq("g"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  def ngramJaccardCrossPairs(existing: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, n: Int = 3, threshold: Double = 0.2,
      maxDf: Int = 1000): DataFrame =
    ngramJaccardCrossPairsFromGrams(
      ngramGramTable(existing, textCol, idCol, n),
      ngramGramTable(incoming, textCol, idCol, n),
      threshold, maxDf)

  /** [[ngramPairsIncremental]] over PRECOMPUTED gram tables — the
    * artifact-consuming form: one materialized gram index feeds old
    * pairs, the cross step, and the new-slice self join. */
  def ngramPairsIncrementalFromGrams(oldPairs: DataFrame,
      gramsOld: DataFrame, gramsNew: DataFrame, threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    val cross = ngramJaccardCrossPairsFromGrams(gramsOld, gramsNew,
        threshold, maxDf)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
    val newSelf = ngramJaccardPairsFromGrams(gramsNew, threshold, maxDf)
    oldPairs.unionByName(cross).unionByName(newSelf)
  }

  /** [[ngramPairsIncrementalFromGrams]] with the census itself a
    * MAINTAINED artifact: `censusOld` is the persisted corpus census
    * ([[ngramGramCensus]], computed once per snapshot), merged by
    * ADDITION with the slice's census — the full ingest-time posture
    * where nothing about the old corpus is re-aggregated. The merged
    * census blocks the cross step AND the new-slice self step (the
    * self step must see corpus-wide df for candidacy to match a
    * whole-corpus recompute when the cap binds; in the cap-unbound
    * regime all forms agree exactly, which is what the stress harness
    * count-checks). */
  def ngramPairsIncrementalWithCensus(oldPairs: DataFrame,
      gramsOld: DataFrame, gramsNew: DataFrame, censusOld: DataFrame,
      threshold: Double, maxDf: Int = 1000): DataFrame = {
    val merged = graft.ops.Caches.track(
      mergeGramCensus(censusOld, ngramGramCensus(gramsNew)))
    val cross = ngramJaccardCrossPairsFromGramsWithCensus(gramsOld,
        gramsNew, merged, threshold, maxDf)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
    val newSelf = ngramJaccardPairsFromGramsWithCensus(gramsNew, merged,
      threshold, maxDf)
    oldPairs.unionByName(cross).unionByName(newSelf)
  }

  /** INCREMENTAL n-gram Jaccard maintenance — the same merge law as
    * [[minhashPairsIncrementalPortable]] for the exact-Jaccard tier:
    * oldPairs ∪ cross(old, new) ∪ self(new) over id-disjoint corpora
    * equals a from-scratch recompute in the df-cap-unbound regime
    * (shared-gram candidacy and the Jaccard value are per-pair
    * properties; the `maxDf` skew cap is the one corpus-dependent term —
    * the cross step already blocks on the MERGED census, and a bound cap
    * degrades exactly like the banded families' bucket caps). */
  def ngramPairsIncremental(oldPairs: DataFrame, existing: DataFrame,
      incoming: DataFrame, textCol: String, idCol: String, n: Int = 3,
      threshold: Double = 0.2, maxDf: Int = 1000): DataFrame =
    ngramPairsIncrementalFromGrams(oldPairs,
      ngramGramTable(existing, textCol, idCol, n),
      ngramGramTable(incoming, textCol, idCol, n),
      threshold, maxDf)

  // ------------------------------------- embedding cosine near-duplicates

  /** Embedding near-dup pairs: cosine ≥ `threshold`, candidates blocked by
    * random-hyperplane LSH (sign-bit sketch over `planes` hyperplanes per
    * table, `tables` independent tables — see [[Vectors.signBucket]]).
    * Recall grows with `tables`; cost is Σ bucket² per table. */
  def embeddingDupPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, planes: Int = 12, tables: Int = 4,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    // Same shape as minhashDupPairs: ids-only candidate self-join on the
    // sketch buckets, vectors re-attached per distinct pair for the exact
    // cosine verification (don't shuffle 64-float payloads through the
    // pre-dedup candidate explosion).
    // parallelize: the sign-sketch projection (tables × planes dot
    // products per row) is CPU-dense and a single-file vector fixture
    // plans to ONE scan task (no-op at corpus scale)
    val vecs = graft.ops.Caches.track(
      parallelize(df).select(col(idCol).as("id"), col(vecCol)))
    embeddingDupPairsFromBuckets(
      embeddingBucketTable(vecs, vecCol, "id", planes, tables, dim, seed),
      vecs, vecCol, threshold)
  }

  /** PRODUCTION sketch-width sizing rule: planes = `base` +
    * floor(log2(n / n0)), clamped to [base, max] — each corpus doubling
    * past `n0` adds one sign bit, keeping expected bucket occupancy
    * (and so the candidate join's Σ bucket², the quadratic term)
    * ~constant as the corpus grows. Integer-exact (bit-length, no
    * floating log) so an engine-independent oracle derives the SAME
    * width from its own count(*): DuckDB's
    * `least(max, base + length(bin(n // n0)) - 1)` is this function.
    * Feed `n` from [[graft.sources.ParquetMeta.rowCount]] (footer
    * metadata, no scan job). */
  def sizedPlanes(n: Long, base: Int = 4, n0: Long = 1000,
      max: Int = 16): Int = {
    val k = n / n0
    val extra =
      if (k >= 1) 63 - java.lang.Long.numberOfLeadingZeros(k) else 0
    math.min(max, base + extra)
  }

  /** [[embeddingBucketTable]] with an EXPLICIT hyperplane family — the
    * entry point for width-sized sketches drawn as a PREFIX of one
    * fixed `max`-wide family (`Vectors.hyperplanes(seed, tables, max,
    * dim).map(_.take(planes))`): plane p of table t is the same vector
    * at every width, so a width-parametric oracle can embed the full
    * family once and gate terms on `p < width`. (Generating a fresh
    * `planes`-wide family instead would shift every table's planes —
    * `Array.fill(tables, planes, dim)` draws sequentially.) */
  def embeddingBucketTableHyper(vecs0: DataFrame, vecCol: String,
      idCol: String, hyper: Array[Array[Array[Double]]]): DataFrame = {
    // parallelize: the sign-sketch projection (tables × planes dot
    // products per row) is CPU-dense and a single-file vector input
    // plans to ONE task (r20: applied at the sketch itself so every
    // caller — pairs, sized, cross, incremental — gets the fan-out;
    // no-op on already-split inputs and on pre-parallelized callers)
    val vecs = parallelize(vecs0)
    vecs
      .withColumn("tb", explode(array(hyper.indices.map(t =>
        struct(lit(t).as("t"),
          Vectors.signBucketNative(vecs.sparkSession, col(vecCol), hyper, t)
            .as("bucket"))): _*)))
      .select(col(idCol).as("id"), col("tb.t"), col("tb.bucket"))
  }

  /** Sign-sketch BUCKET TABLE (id, t, bucket) — the persisted artifact of
    * the embedding tier (the analog of the MinHash signature index):
    * bucket membership is a per-row property of the seeded hyperplane
    * family, so the table is computed once per corpus snapshot,
    * persisted, and consumed by pairs / cross / incremental without ever
    * re-sketching the corpus. `vecs` must carry (`idCol`, `vecCol`). */
  def embeddingBucketTable(vecs: DataFrame, vecCol: String, idCol: String,
      planes: Int = 12, tables: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame =
    embeddingBucketTableHyper(vecs, vecCol, idCol,
      Vectors.hyperplanes(seed, tables, planes, dim))

  /** [[embeddingDupPairs]] over a PRECOMPUTED bucket artifact — the
    * candidate join reads (id, t, bucket) rows, and only the exact-cosine
    * verify touches vectors (joined back by id from `vecs` = (id,
    * `vecCol`)). */
  def embeddingDupPairsFromBuckets(buckets0: DataFrame, vecs: DataFrame,
      vecCol: String, threshold: Double): DataFrame = {
    val buckets = pinned(buckets0, col("t"), col("bucket"))
    val pairs = buckets.select(col("t"), col("bucket"), col("id").as("id_a"))
      .join(buckets.select(col("t"), col("bucket"), col("id").as("id_b")),
        Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    verifyCosine(pairs, vecs, vecs, vecCol, threshold)
  }

  /** Cross-corpus pairs over PRECOMPUTED bucket artifacts (A = existing
    * corpus — an index READ at ingest time; B = the slice). */
  def embeddingCrossDupPairsFromBuckets(bucketsA: DataFrame,
      vecsA: DataFrame, bucketsB: DataFrame, vecsB: DataFrame,
      vecCol: String, threshold: Double): DataFrame = {
    val pairs = bucketsA.select(col("t"), col("bucket"), col("id").as("id_a"))
      .join(bucketsB.select(col("t"), col("bucket"), col("id").as("id_b")),
        Seq("t", "bucket"))
      .select("id_a", "id_b")
      .distinct()
    verifyCosine(pairs, vecsA, vecsB, vecCol, threshold)
  }

  /** Write the sign-sketch BUCKET TABLE ([[embeddingBucketTable]] rows)
    * as parquet partitioned by (t, shard = xxhash64(bucket) % shards) —
    * a vector contributes ONE bucket per table, so ingest slices and
    * probes touch few of the (tables × shards) directories. */
  def writeShardedBucketIndex(buckets: DataFrame, path: String,
      shards: Int = 16, mode: String = "overwrite"): Unit =
    Sharded.writeByKey(buckets.select("id", "t", "bucket"), path, "bucket",
      shards, extraPartitionCols = Seq("t"), mode = mode)

  /** Write a VECTOR table (id, vecCol) partitioned by id-hash shard —
    * the fetch-side artifact: candidate verification pulls only the
    * shards the candidate ids touch ([[Sharded.fetchKeys]]). */
  def writeShardedVectors(vecs: DataFrame, path: String,
      shards: Int = 16, mode: String = "overwrite"): Unit =
    Sharded.writeByKey(vecs, path, "id", shards, mode = mode)

  /** Ingest-time embedding DELTA (cross ∪ self) against the SHARDED
    * bucket index + sharded vector table: the slice's buckets touch a
    * bounded (≤ tables × `shards`) partition set (pruned candidate
    * join), and the exact-cosine verify fetches ONLY the old vectors the
    * candidates name — a two-phase pruned fetch (bounded shard-set job,
    * then a pruned scan + semi-join) instead of a full old-vector scan.
    * Semantics = the cross ∪ self arms of
    * [[embeddingPairsIncrementalFromBuckets]] exactly (bucket membership
    * is a per-row property of the seeded family; no caps). */
  def embeddingDeltaSharded(spark: org.apache.spark.sql.SparkSession,
      bucketIndexPath: String, vecsPath: String, bucketsNew0: DataFrame,
      vecsNew: DataFrame, vecCol: String, threshold: Double,
      shards: Int = 16): DataFrame = {
    val bucketsNew = graft.ops.Caches.track(bucketsNew0)
    val touched = bucketsNew
      .select(col("t"), Sharded.shardOf(col("bucket"), shards).as("shard"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
      .sortBy(identity)
    val pruned = graft.sources.Pq.read(spark, bucketIndexPath)
      .filter(touched.map { case (t, sh) =>
        col("t") === lit(t) && col("shard") === lit(sh)
      }.reduce(_ || _))
    val candidates = graft.ops.Caches.track(pruned
      .select(col("t"), col("bucket"), col("id").as("id_a"))
      .join(bucketsNew.select(col("t"), col("bucket"),
        col("id").as("id_b")), Seq("t", "bucket"))
      .select("id_a", "id_b")
      .distinct())
    val vecsOldNeeded = Sharded.fetchKeys(spark, vecsPath,
      candidates.select(col("id_a").as("id")), "id", shards)
    val cross = verifyCosine(candidates, vecsOldNeeded, vecsNew, vecCol,
        threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
    val newSelf = embeddingDupPairsFromBuckets(bucketsNew, vecsNew, vecCol,
      threshold)
    cross.unionByName(newSelf)
  }

  private def verifyCosine(pairs: DataFrame, vecsA: DataFrame,
      vecsB: DataFrame, vecCol: String, threshold: Double): DataFrame =
    pairs
      .join(vecsA.select(col("id").as("id_a"), col(vecCol).as("va")),
        Seq("id_a"))
      .join(vecsB.select(col("id").as("id_b"), col(vecCol).as("vb")),
        Seq("id_b"))
      .withColumn("cos",
        Vectors.cosineNative(pairs.sparkSession, col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")

  /** [[embeddingPairsIncremental]] with the old corpus's sketch read
    * from the PERSISTED bucket artifact — the full ingest-time posture:
    * the slice is sketched (slice-sized work), the old corpus
    * contributes bucket-table and vector READS only. */
  def embeddingPairsIncrementalFromBuckets(oldPairs: DataFrame,
      bucketsOld: DataFrame, vecsOld: DataFrame, bucketsNew: DataFrame,
      vecsNew: DataFrame, vecCol: String, threshold: Double): DataFrame = {
    val cross = embeddingCrossDupPairsFromBuckets(bucketsOld, vecsOld,
        bucketsNew, vecsNew, vecCol, threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
    val newSelf = embeddingDupPairsFromBuckets(bucketsNew, vecsNew,
      vecCol, threshold)
    oldPairs.unionByName(cross).unionByName(newSelf)
  }

  /** CROSS-CORPUS embedding near-dup pairs: vectors in `incoming` whose
    * cosine against some `existing` vector is ≥ `threshold` — the
    * embedding-tier twin of [[minhashCrossDupPairs]]. Same hyperplane
    * family (seeded) on both sides so sketch buckets align; candidates
    * are A-buckets × B-buckets per table, ids-only until the exact cosine
    * verify. Returns (id_a from `existing`, id_b from `incoming`, cos). */
  def embeddingCrossDupPairs(existing: DataFrame, incoming: DataFrame,
      vecCol: String, idCol: String, threshold: Double = 0.95,
      planes: Int = 12, tables: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val spark = existing.sparkSession
    val hyper = Vectors.hyperplanes(seed, tables, planes, dim)
    def side(df: DataFrame) = {
      val vecs = graft.ops.Caches.track(
        df.select(col(idCol).as("id"), col(vecCol)))
      val buckets = vecs
        .withColumn("tb", explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            Vectors.signBucketNative(spark, col(vecCol), hyper, t)
              .as("bucket"))): _*)))
        .select(col("id"), col("tb.t"), col("tb.bucket"))
      (vecs, buckets)
    }
    val (vecsA, bucketsA) = side(existing)
    val (vecsB, bucketsB) = side(incoming)
    bucketsA.select(col("t"), col("bucket"), col("id").as("id_a"))
      .join(bucketsB.select(col("t"), col("bucket"), col("id").as("id_b")),
        Seq("t", "bucket"))
      .select("id_a", "id_b")
      .distinct()
      .join(vecsA.select(col("id").as("id_a"), col(vecCol).as("va")), Seq("id_a"))
      .join(vecsB.select(col("id").as("id_b"), col(vecCol).as("vb")), Seq("id_b"))
      .withColumn("cos", Vectors.cosineNative(spark, col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** INCREMENTAL embedding near-dup maintenance — the same merge law as
    * [[minhashPairsIncrementalPortable]], for the vector tier: given
    * yesterday's pairs artifact over `existing` and today's id-disjoint
    * `incoming` slice,
    *
    *   oldPairs ∪ cross(existing, incoming) ∪ self(incoming)
    *
    * equals a from-scratch [[embeddingDupPairs]] over the union EXACTLY:
    * sketch-bucket membership is a per-row property of the seeded
    * hyperplane family (same `seed` on every side), so per-pair candidacy
    * is independent of corpus composition, and this pipeline has no
    * bucket caps to approximate around. The three parts are id-disjoint
    * (old×old, old×new, new×new) — no dedup pass needed. */
  def embeddingPairsIncremental(oldPairs: DataFrame, existing: DataFrame,
      incoming: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, planes: Int = 12, tables: Int = 4,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val cross = embeddingCrossDupPairs(existing, incoming, vecCol, idCol,
        threshold, planes, tables, dim, seed)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
    val newSelf = embeddingDupPairs(incoming, vecCol, idCol, threshold,
      planes, tables, dim, seed)
    oldPairs.unionByName(cross).unionByName(newSelf)
  }

  /** Semantic near-dup pairs (SemDeDup family, Abbas et al. 2023):
    * cluster the embedding space coarsely, then compare pairs ONLY within
    * a cluster — the clustering is the blocking key, exactly as LSH bands
    * are for [[minhashDupPairs]]. Returns (id_a, id_b, cos), id_a < id_b,
    * cosine ≥ `threshold`, for pairs assigned to the same centroid cell.
    *
    * Scale shape: one broadcast-argmax assignment pass (no shuffle — see
    * [[Similarity.ivfAssign]]), then a self-join on `cell` → cost is
    * Σ cell², controlled by the centroid count; `maxCell` drops
    * pathological mega-cells (near-constant embedding collapse) instead of
    * letting one cell quadratically dominate. Unlike the banded pipelines
    * a row lands in exactly ONE cell, so pairs need no dedup and the
    * vectors ride the single cell join directly (one shuffle of the
    * corpus, keyed by cell).
    *
    * Approximation note: same-cluster blocking can miss cross-cell
    * neighbors near cell boundaries — the standard SemDeDup trade; raise
    * recall with more-overlapping clustering (or [[embeddingDupPairs]]'s
    * multi-table LSH) when boundary pairs matter. */
  def semanticDupPairs(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[(Int, Array[Float])], threshold: Double,
      maxCell: Int = 10000): DataFrame = {
    // parallelize: the argmax-over-centroids assignment is the CPU-dense
    // stage and a single-file vector fixture plans to ONE scan task
    // (same under-split guard as the text tiers; no-op at corpus scale).
    // The cache is PINNED BY CELL up front (r20): the cell-size census
    // (groupBy cell), the bound join, and both self-join sides then all
    // reuse the cached hash(cell) layout — one exchange total where the
    // r19 shape paid the census agg exchange plus a separate post-join
    // pin.
    val cells = graft.ops.Caches.track(pinned(
      Similarity.ivfAssign(parallelize(df), vecCol, centroids)
        .select(col(idCol).as("id"), col(vecCol).as("v"), col("cell")),
      col("cell")))
    val okCells = cells.groupBy("cell").count()
      .filter(col("count") <= maxCell).select("cell")
    val bounded = cells.join(okCells, Seq("cell"))
    bounded.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
      .join(bounded.select(col("cell"), col("id").as("id_b"), col("v").as("vb")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Vectors.cosineNative(df.sparkSession, col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
