package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star extension). Three tiers:
  *
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     One scan + `TakeOrderedAndProject` (Spark's top-k physical operator:
  *     per-partition heaps, k rows to the driver — no full sort, no
  *     shuffle of the corpus).
  *   - [[lshTopK]]: random-hyperplane LSH — the scale path. The corpus is
  *     bucketed once (write-side, amortized over queries); a query probes
  *     only its own buckets across `tables` sketch tables, so the scan is
  *     |matching buckets| instead of |corpus|. With partition-or-bucket
  *     layout on `bucket` the probe becomes partition pruning at 100 TB.
  *   - [[ivfTopK]]: inverted-file index — coarse-quantize the corpus to
  *     `nlist` centroid cells (broadcast argmin assignment, one scan);
  *     queries probe the `nprobe` nearest cells. Centroids here are a
  *     deterministic corpus sample; a production build would k-means them
  *     (same plan shape — only centroid quality changes).
  */
object Similarity {

  private def asDoubleLit(v: Array[Float]): Column =
    array(v.map(x => lit(x.toDouble)): _*)

  /** Exact cosine top-k against a literal query vector. */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int): DataFrame = df
    .withColumn("score", Vectors.cosineNative(df.sparkSession, col(vecCol), asDoubleLit(query)))
    .select(col(idCol), col("score"))
    .orderBy(col("score").desc, col(idCol))
    .limit(k)

  /** Exact cosine top-k where the query is a row of the corpus itself
    * (self-search excludes the query row). Broadcasts the single query row
    * — no corpus shuffle. */
  def topKForId(df: DataFrame, vecCol: String, idCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    df.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .withColumn("score", Vectors.cosineNative(df.sparkSession, col(vecCol), col("__qvec")))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed ANN top-k: search only corpus rows sharing a sign-bucket
    * with the query in at least one of `tables` hyperplane tables.
    * Approximate — recall tunes with `tables`/`planes`. */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, planes: Int = 10, tables: Int = 6,
      seed: Long = 42L): DataFrame = {
    val dim = query.length
    val hyper = Vectors.hyperplanes(seed, tables, planes, dim)
    // Query buckets are plain Scala: evaluate the same sign sketch on the
    // literal query vector at plan time.
    val qBuckets: Seq[(Int, Long)] = (0 until tables).map { t =>
      val bucket = (0 until planes).map { p =>
        val proj = (0 until dim).map(d => query(d).toDouble * hyper(t)(p)(d)).sum
        if (proj > 0) 1L << p else 0L
      }.sum
      (t, bucket)
    }
    // A row is a candidate if its sketch matches the query's in any table.
    val isCandidate = qBuckets.map { case (t, bq) =>
      Vectors.signBucketNative(df.sparkSession, col(vecCol), hyper, t) === lit(bq)
    }.reduce(_ || _)
    df.filter(isCandidate)
      .withColumn("score", Vectors.cosineNative(df.sparkSession, col(vecCol), asDoubleLit(query)))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** [[lshTopK]] against the PHYSICAL sharded index — the ANN serving
    * posture at corpus scale: the corpus's sign-bucket table lives on
    * disk partitioned by (t, shard=h(bucket))
    * ([[Dedup.writeShardedBucketIndex]]) and its vectors by id-hash
    * shard ([[Dedup.writeShardedVectors]]); a probe evaluates the query
    * vector's bucket per table in plain Scala (plan-time, zero jobs),
    * then [[Dedup.pointRead]] computes the buckets' shard values with
    * the ENGINE's own xxhash64 (one 1-row job) and scans the index ONCE
    * with an Or-of-And predicate that prunes to ≤ `tables` of the
    * tables×shards directories;
    * candidate vectors are then fetched by the pruned two-phase
    * [[Sharded.fetchKeys]] read — the whole probe touches
    * O(bucket + candidates) bytes of the corpus artifacts, never the
    * corpus. Result ≡ [[lshTopK]] row-for-row (same family, same exact
    * cosine re-rank; plan-locked in ShardedArtifactsSpec). */
  def lshTopKSharded(spark: org.apache.spark.sql.SparkSession,
      bucketIdxPath: String, vecsPath: String, query: Array[Float],
      k: Int, planes: Int, tables: Int, seed: Long = 42L): DataFrame = {
    val dim = query.length
    val hyper = Vectors.hyperplanes(seed, tables, planes, dim)
    val qBuckets: Seq[(Int, Long)] = (0 until tables).map { t =>
      val bucket = (0 until planes).map { p =>
        val proj = (0 until dim).map(d =>
          query(d).toDouble * hyper(t)(p)(d)).sum
        if (proj > 0) 1L << p else 0L
      }.sum
      (t, bucket)
    }
    val cands = Dedup.pointRead(spark, bucketIdxPath, Seq("t", "bucket"),
        spark.range(1).select(explode(array(qBuckets.map { case (t, b) =>
          struct(lit(t).as("t"), lit(b).as("bucket"))
        }: _*)).as("k")).select("k.*"))
      .select("id").distinct()
    Sharded.fetchKeys(spark, vecsPath, cands, "id", Dedup.IndexShards)
      .withColumn("score",
        Vectors.cosineNative(spark, col("embedding"), asDoubleLit(query)))
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Assign every corpus row to its nearest centroid cell (broadcast
    * argmax over `centroids`, evaluated as one fused projection — the
    * IVF build pass). Returns df + `cell` column. */
  def ivfAssign(df: DataFrame, vecCol: String,
      centroids: Array[(Int, Array[Float])]): DataFrame = {
    val scored = centroids.map { case (cid, cvec) =>
      struct(Vectors.cosineNative(df.sparkSession, col(vecCol), asDoubleLit(cvec)).as("s"),
        lit(cid).as("cid"))
    }
    df.withColumn("cell", greatest(scored: _*).getField("cid"))
  }

  /** [[ivfAssign]] + the winning cosine (`cell_cos`): one fused
    * broadcast-argmax projection, no extra scan — the input to
    * centrality-ordered per-cell selection. */
  def ivfAssignScored(df: DataFrame, vecCol: String,
      centroids: Array[(Int, Array[Float])]): DataFrame = {
    val scored = centroids.map { case (cid, cvec) =>
      struct(Vectors.cosineNative(df.sparkSession, col(vecCol), asDoubleLit(cvec)).as("s"),
        lit(cid).as("cid"))
    }
    df.withColumn("__best", greatest(scored: _*))
      .withColumn("cell", col("__best.cid"))
      .withColumn("cell_cos", col("__best.s"))
      .drop("__best")
  }

  /** IVF ANN top-k: probe the `nprobe` cells whose centroids are nearest
    * the query; exact cosine within the probed cells only. `centroids` is
    * small (nlist entries) and rides the closure/broadcast — the corpus is
    * never shuffled; with the corpus bucketed by `cell` on disk the probe
    * prunes to nprobe/nlist of the data. */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, centroids: Array[(Int, Array[Float])],
      nprobe: Int = 4): DataFrame =
    ivfTopKFromIndex(ivfAssign(df, vecCol, centroids), vecCol, idCol,
      query, k, centroids, nprobe)

  /** IVF probe against a PRECOMPUTED assignment index — rows already
    * carrying their `cell` column (the [[ivfAssign]] build-pass output,
    * persisted once per corpus snapshot). The serving-path shape: a
    * top-k query is an INDEX READ (filter nprobe cells, exact cosine
    * within), never a per-query re-assignment of the corpus. At scale
    * the index is written partitioned/bucketed by `cell`, so the filter
    * prunes to nprobe/nlist of the data at the scan. */
  def ivfTopKFromIndex(index: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, centroids: Array[(Int, Array[Float])],
      nprobe: Int = 4): DataFrame = {
    val probeCells: Seq[Int] = centroids.map { case (cid, cvec) =>
      val dot = cvec.indices.map(d => cvec(d).toDouble * query(d).toDouble).sum
      val n = math.sqrt(cvec.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
      (cid, dot / n)
    }.sortBy(-_._2).take(nprobe).map(_._1).toSeq
    index
      .filter(col("cell").isin(probeCells: _*))
      .withColumn("score", Vectors.cosineNative(index.sparkSession, col(vecCol), asDoubleLit(query)))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Persist an IVF assignment index ([[ivfAssign]] output) partitioned
    * by `cell` — the on-disk layout the serving claim needs: a top-k
    * probe's `cell IN (…)` filter becomes PartitionFilters at the scan,
    * touching nprobe/nlist of the data. `mode="append"` is the ingest
    * cadence (q_similarity_ivf_maintained semantics): a new slice is
    * assigned with the FROZEN centroids and lands as new files inside
    * its cell directories, old files untouched; retraining centroids
    * rewrites with `mode="overwrite"`. One file per cell directory per
    * write (the repartition), so file count grows with ingest rounds,
    * not with parallelism. */
  def writeIvfIndex(index: DataFrame, path: String,
      mode: String = "overwrite"): Unit = {
    index.repartition(col("cell"))
      .write.partitionBy("cell").mode(mode).parquet(path)
    graft.sources.Pq.invalidate(path)
  }

  /** Deterministic centroid sample for IVF: the first `nlist` rows by id.
    * (k-means init and the SQL-oracle-reproducible centroid choice;
    * driver-side but bounded by nlist, not corpus size.) */
  def sampleCentroids(df: DataFrame, vecCol: String, idCol: String,
      nlist: Int): Array[(Int, Array[Float])] =
    df.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0).toArray) }

  /** Lloyd k-means centroids for IVF, as DataFrame jobs — the production
    * centroid builder ([[sampleCentroids]] is the init). Each iteration:
    * broadcast the current centroids into a fused argmax-assignment
    * projection ([[ivfAssign]] — no shuffle of the corpus), then
    * re-compute cell means with posexplode → groupBy(cell, dim) — one hash
    * Exchange of |corpus| × dim (cell, dim, component) triples with
    * map-side partial sums; only nlist × dim aggregated rows ever reach
    * the driver.
    *
    * Deterministic by construction: init = first-nlist-by-id, and means
    * use exact DECIMAL sums (order-independent — double summation would
    * make centroids vary run-to-run with shuffle order). Empty cells keep
    * their previous centroid. Similarity metric is cosine throughout,
    * matching the IVF probe/assignment metric.
    *
    * Mean form: the DECIMAL sum is cast to double BEFORE the division by
    * count (sum_decimal→double is a single deterministic rounding; the
    * double÷int division is exact IEEE) — decimal DIVISION result
    * scale/rounding is engine-specific, this form is not, which is what
    * lets the DuckDB oracle replay the Lloyd iterations bit-for-bit. */
  def kmeansCentroids(df: DataFrame, vecCol: String, idCol: String,
      nlist: Int, iterations: Int = 5): Array[(Int, Array[Float])] = {
    var cents = sampleCentroids(df, vecCol, idCol, nlist)
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    // parallelize once: every Lloyd iteration re-runs the CPU-dense
    // argmax assignment + posexplode over the corpus, and a single-file
    // vector fixture plans that to ONE task (no-op at corpus scale).
    // PERSISTED for the loop (r19 regression: parallelize() is lazy, so
    // every iteration re-executed the vector scan + repartition shuffle
    // — the centroids are collected per iteration, nothing lazy escapes,
    // so the cache is released right here after the loop). Projected to
    // the vector column only: the iterations never read ids.
    val pdf = graft.ext.Dedup.parallelize(df.select(col(vecCol))).persist()
    for (_ <- 0 until iterations) {
      val means = ivfAssign(pdf, vecCol, cents)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg((sum(col("x").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getAs[Int]("cell"))
        .map { case (cell, rows) =>
          val v = new Array[Float](dim)
          rows.foreach(r => v(r.getAs[Int]("d")) = r.getAs[Double]("m").toFloat)
          cell -> v
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    pdf.unpersist(false)
    cents
  }
}
