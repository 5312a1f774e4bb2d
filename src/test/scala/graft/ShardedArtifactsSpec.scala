package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Sharded}

/** Round-10 promotion (VERDICT r9 next-round #1): EVERY maintained
  * corpus artifact — not just the minhash band index — physically has
  * the shard-partitioned layout its 100 TB pruning argument relies on.
  * Each family gets the two ShardedIndexSpec locks: (a) the pruned
  * incremental path is ROW-IDENTICAL to its flat counterpart, and
  * (b) the old-corpus read prunes AT THE SCAN (`PartitionFilters`
  * present, selected partitions strictly fewer than the artifact's
  * total) for a realistic small ingest slice. */
class ShardedArtifactsSpec extends AnyFunSuite with SparkTestSupport {

  // Old corpus: 30 docs in 3 near-dup families + unique tails; slice:
  // 2 NEW docs near family 0 plus one unique doc — id-disjoint, small
  // relative to the corpus (the regime where pruning pays off).
  private def corpus = {
    val s = spark
    import s.implicits._
    (0 until 30).map { i =>
      val fam = i % 3
      val base = s"family $fam shares this long common phrase " +
        s"about topic $fam with tokens t$fam u$fam v$fam w$fam"
      (i.toLong, if (i < 6) base else base + s" unique tail $i x$i y$i z$i")
    }.toDF("doc_id", "text")
  }

  private def slice = {
    val s = spark
    import s.implicits._
    Seq(
      (100L, "family 0 shares this long common phrase about topic 0 " +
        "with tokens t0 u0 v0 w0"),
      (101L, "family 0 shares this long common phrase about topic 0 " +
        "with tokens t0 u0 v0 w0 unique tail q101"),
      (102L, "totally different content nothing shared here at all " +
        "qq ww ee rr tt yy"))
      .toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** All FileSourceScanExec nodes reachable from `p`, recursing through
    * the leaf-wrapping nodes that hide scans: InMemoryTableScanExec
    * (the delta functions persist intermediates via Caches.track, so
    * the artifact scan lives in the CACHED plan) and
    * AdaptiveSparkPlanExec (cached plans built while AQE was on). */
  private def allFileScans(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
    val hidden: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case _ => Nil
    }
    (p match {
      case f: FileSourceScanExec => Seq(f)
      case _ => Nil
    }) ++ (p.children ++ hidden).flatMap(allFileScans)
  }

  /** Collect the FileSourceScanExec nodes over `path` from `df`'s
    * executed plan with AQE off (AQE stage-wraps leaves). */
  private def scansOf(df: => DataFrame, path: String): Seq[FileSourceScanExec] = {
    val s = spark
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(aqeKey)
    try {
      s.conf.set(aqeKey, "false")
      val d = df
      d.collect()
      allFileScans(d.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(
          _.toString.contains(path)))
    } finally s.conf.set(aqeKey, prev)
  }

  private def totalPartitions(path: String): Long = {
    val idx = spark.read.parquet(path)
    idx.select(idx.columns.filter(c =>
      c == "shard" || c == "band" || c == "ci" || c == "t").map(col): _*)
      .distinct().count()
  }

  private def assertPruned(scans: Seq[FileSourceScanExec], total: Long,
      what: String): Unit = {
    assert(scans.nonEmpty, s"$what: no scan over the artifact found")
    scans.foreach { f =>
      val n = f.selectedPartitions.partitionCount
      assert(n < total, s"$what: scan selected $n of $total partitions " +
        "- no pruning")
      assert(f.toString.contains("PartitionFilters:") &&
        f.toString.matches("(?s).*PartitionFilters: \\[.*\\w.*\\].*"),
        s"$what: no PartitionFilters at the scan:\n$f")
    }
  }

  test("minhash delta over the sharded band index ≡ flat incremental; pruned at the scan") {
    val s = spark
    val mh = Dedup.MinHash(numHashes = 32, bands = 8, threshold = 0.2,
      shingle = 3)
    val sigs = mh.signatures(corpus, "text", "doc_id").cache()
    val newSigs = mh.signatures(slice, "text", "doc_id").cache()
    val dir = Files.createTempDirectory("graft-sh-band").toString
    mh.writeIndex(sigs, dir)
    val flat = mh.incremental(
      sigs.limit(0).select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("est_jaccard")).limit(0),
      sigs, newSigs)
    val sharded = mh.deltaSharded(s, dir, newSigs)
    assert(rows(sharded) == rows(flat) && rows(flat).nonEmpty)
    assertPruned(scansOf(mh.deltaSharded(s, dir, newSigs), dir),
      totalPartitions(dir), "band index")
  }

  test("simhash delta over the sharded chunk index ≡ flat incremental; pruned at the scan") {
    val s = spark
    val sh = Dedup.SimHash(maxHamming = 3)
    val fps = sh.signatures(corpus, "text", "doc_id").cache()
    val newFps = sh.signatures(slice, "text", "doc_id").cache()
    val dir = Files.createTempDirectory("graft-sh-chunk").toString
    sh.writeIndex(fps, dir)
    val flat = sh.incremental(
      fps.limit(0).select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0).as("hamming")).limit(0),
      fps, newFps)
    val sharded = sh.deltaSharded(s, dir, newFps)
    assert(rows(sharded) == rows(flat) && rows(flat).nonEmpty)
    assertPruned(scansOf(sh.deltaSharded(s, dir, newFps), dir),
      totalPartitions(dir), "chunk index")
  }

  test("ngram delta over the sharded gram index + census ≡ flat incremental; pruned at the scan") {
    val s = spark
    val grams = Dedup.ngramGramTable(corpus, "text", "doc_id", n = 3)
      .cache()
    val gramsNew = Dedup.ngramGramTable(slice, "text", "doc_id", n = 3)
      .cache()
    val gDir = Files.createTempDirectory("graft-sh-gram").toString
    val cDir = Files.createTempDirectory("graft-sh-census").toString
    Dedup.writeShardedGramIndex(grams, gDir)
    Dedup.writeShardedGramCensus(Dedup.ngramGramCensus(grams), cDir)
    val flat = Dedup.NGram.appending(threshold = 0.3,
        Dedup.ngramGramCensus(grams), gramsNew, maxDf = 1000).incremental(
      grams.limit(0).select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("jaccard")).limit(0),
      grams, gramsNew)
    val sharded = Dedup.ngramDeltaSharded(s, gDir, cDir, gramsNew,
      threshold = 0.3, maxDf = 1000)
    assert(rows(sharded) == rows(flat) && rows(flat).nonEmpty)
    // Gram keys are dense per doc (Sharded's selectivity-honesty note):
    // this 3-doc slice still leaves some shards untouched, which is
    // exactly what the strict `<` lock asserts; a corpus-scale slice
    // would saturate the shard set and fall back to the bloom regime.
    assertPruned(scansOf(Dedup.ngramDeltaSharded(s, gDir, cDir, gramsNew,
      threshold = 0.3, maxDf = 1000), gDir),
      totalPartitions(gDir), "gram index")
    assertPruned(scansOf(Dedup.ngramDeltaSharded(s, gDir, cDir, gramsNew,
      threshold = 0.3, maxDf = 1000), cDir),
      totalPartitions(cDir), "gram census")
  }

  test("embedding delta over the sharded bucket index ≡ flat incremental; bucket + vector reads pruned") {
    val s = spark
    import s.implicits._
    def vec(seedShift: Int): Array[Float] = {
      val r = new scala.util.Random(seedShift)
      Array.fill(8)(r.nextFloat() - 0.5f)
    }
    val oldVecs = (0 until 40)
      .map(i => (i.toLong, vec(i % 5).toSeq)).toDF("id", "embedding")
      .select(col("id"), col("embedding").cast("array<float>")
        .as("embedding")).cache()
    val newVecs = Seq((200L, vec(0).toSeq), (201L, vec(1).toSeq))
      .toDF("id", "embedding")
      .select(col("id"), col("embedding").cast("array<float>")
        .as("embedding")).cache()
    val oldB = Dedup.embeddingBucketTable(oldVecs, "embedding", "id",
      planes = 3, tables = 4, dim = 8).cache()
    val newB = Dedup.embeddingBucketTable(newVecs, "embedding", "id",
      planes = 3, tables = 4, dim = 8).cache()
    val bDir = Files.createTempDirectory("graft-sh-bucket").toString
    val vDir = Files.createTempDirectory("graft-sh-vecs").toString
    Dedup.writeShardedBucketIndex(oldB, bDir)
    Dedup.writeShardedVectors(oldVecs, vDir)
    val flat = Dedup.Embedding("embedding", threshold = 0.5,
        oldVecs.unionByName(newVecs)).incremental(
      oldB.limit(0).select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cos")).limit(0),
      oldB, newB)
    val sharded = Dedup.embeddingDeltaSharded(s, bDir, vDir, newB,
      newVecs, "embedding", threshold = 0.5)
    def r4(df: DataFrame) = rows(df.withColumn("cos",
      floor(col("cos") * 10000 + 0.5) / 10000))
    assert(r4(sharded) == r4(flat) && r4(flat).nonEmpty)
    assertPruned(scansOf(Dedup.embeddingDeltaSharded(s, bDir, vDir, newB,
      newVecs, "embedding", threshold = 0.5), bDir),
      totalPartitions(bDir), "bucket index")
    assertPruned(scansOf(Dedup.embeddingDeltaSharded(s, bDir, vDir, newB,
      newVecs, "embedding", threshold = 0.5), vDir),
      totalPartitions(vDir), "vector fetch")
  }

  test("sharded incremental CC ≡ whole-corpus CC; membership fetch pruned to touched components") {
    val s = spark
    val grams = Dedup.ngramGramTable(corpus, "text", "doc_id", n = 3)
      .cache()
    val oldPairs = Dedup.ngramJaccardPairsFromGrams(grams,
      threshold = 0.3, maxDf = 1000).cache()
    val oldLabels = Dedup.assignComponents(corpus, oldPairs, "doc_id")
      .cache()
    val root = Files.createTempDirectory("graft-sh-labels").toString
    Dedup.writeShardedLabels(oldLabels, s"$root/by_id", s"$root/by_comp",
      "doc_id", shards = 16)
    val sliceGrams = Dedup.ngramGramTable(slice, "text", "doc_id", n = 3)
    val delta = Dedup.NGram.appending(threshold = 0.3,
        Dedup.ngramGramCensus(grams), sliceGrams, maxDf = 1000)
      .cross(grams, sliceGrams).select("id_a", "id_b").cache()
    assert(delta.count() > 0, "fixture: slice must touch the corpus")
    val expected = Dedup.assignComponents(
      corpus.select("doc_id").unionByName(slice.select("doc_id")),
      oldPairs.select("id_a", "id_b").unionByName(delta), "doc_id")
    val got = Dedup.assignComponentsIncrementalSharded(s, s"$root/by_id",
      s"$root/by_comp", slice.select("doc_id"), delta, "doc_id",
      shards = 16)
    assert(rows(got) == rows(expected))
    // the by-component membership fetch prunes to the touched
    // components' shards (the by-id path is read twice: one pruned
    // fetch + the one full anti-join scan that re-emits untouched
    // labels — that scan is the designed linear term)
    assertPruned(scansOf(Dedup.assignComponentsIncrementalSharded(s,
      s"$root/by_id", s"$root/by_comp", slice.select("doc_id"), delta,
      "doc_id", shards = 16), s"$root/by_comp"),
      totalPartitions(s"$root/by_comp"), "labels by-component")
    val byIdScans = scansOf(Dedup.assignComponentsIncrementalSharded(s,
      s"$root/by_id", s"$root/by_comp", slice.select("doc_id"), delta,
      "doc_id", shards = 16), s"$root/by_id")
    val totalById = totalPartitions(s"$root/by_id")
    assert(byIdScans.exists(_.selectedPartitions.partitionCount < totalById),
      "labels by-id: the delta-adjacent label fetch did not prune")
  }

  test("sharded simhash point probe ≡ flat probe; one scan pruned to ≤ chunks partitions") {
    val s = spark
    val sh = Dedup.SimHash(maxHamming = 3)
    val fps = sh.signatures(corpus, "text", "doc_id").cache()
    val dir = Files.createTempDirectory("graft-sh-chunkprobe").toString
    sh.writeIndex(fps, dir)
    val qid = 0L
    val qfp = fps.filter(col("id") === qid).select("fp").head().getLong(0)
    val flat = sh.probeId(fps, qid)
    val sharded = sh.probeIndex(s, dir, qfp, excludeId = Some(qid))
    assert(rows(sharded) == rows(flat) && rows(flat).nonEmpty)
    val scans = scansOf(sh.probeIndex(s, dir, qfp, excludeId = Some(qid)),
      dir)
    assert(scans.size == 1, s"expected one probe scan, got ${scans.size}")
    scans.foreach { f =>
      assert(f.selectedPartitions.partitionCount <= 4,
        s"probe selected ${f.selectedPartitions.partitionCount} > chunks")
    }
  }

  test("sharded LSH ANN probe ≡ flat lshTopK; index scan pruned to ≤ tables partitions") {
    val s = spark
    import s.implicits._
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() - 0.5f)
    }
    val vecs = (0 until 60).map(i => (i.toLong, vec(i % 7).toSeq))
      .toDF("id", "embedding")
      .select(col("id"), col("embedding").cast("array<float>")
        .as("embedding")).cache()
    val buckets = graft.ext.Dedup.embeddingBucketTable(vecs, "embedding",
      "id", planes = 3, tables = 4, dim = 8, seed = 7L).cache()
    val bDir = Files.createTempDirectory("graft-sh-lshidx").toString
    val vDir = Files.createTempDirectory("graft-sh-lshvecs").toString
    graft.ext.Dedup.writeShardedBucketIndex(buckets, bDir)
    graft.ext.Dedup.writeShardedVectors(vecs, vDir)
    val q = vec(3)
    val flat = graft.ext.Similarity.lshTopK(
      vecs.withColumnRenamed("id", "vec_id"), "embedding", "vec_id", q,
      k = 5, planes = 3, tables = 4, seed = 7L)
      .select(col("vec_id").as("id"), col("score"))
    val sharded = graft.ext.Similarity.lshTopKSharded(s, bDir, vDir, q,
      k = 5, planes = 3, tables = 4, seed = 7L)
    def r4(df: DataFrame) = df.withColumn("score",
      floor(col("score") * 10000 + 0.5) / 10000).collect()
      .map(_.mkString("|")).toSeq
    assert(r4(sharded) == r4(flat) && r4(flat).nonEmpty)
    assertPruned(scansOf(graft.ext.Similarity.lshTopKSharded(s, bDir,
      vDir, q, k = 5, planes = 3, tables = 4, seed = 7L),
      bDir), totalPartitions(bDir), "LSH bucket index")
    scansOf(graft.ext.Similarity.lshTopKSharded(s, bDir, vDir, q, k = 5,
      planes = 3, tables = 4, seed = 7L), bDir).foreach { f =>
      assert(f.selectedPartitions.partitionCount <= 4,
        s"probe selected ${f.selectedPartitions.partitionCount} > tables")
    }
  }

  test("adjacency probe's bytes-touched footprint is a small fraction of the artifact") {
    // the metric that scales (Sharded.scanFootprint doc): partition
    // counts prove pruning happened; BYTES prove it matters — the probe
    // must touch a strict minority of the artifact's bytes even at
    // fixture scale, and the flat OR-filter must touch all of them
    val s = spark
    val mh = Dedup.MinHash(numHashes = 32, bands = 8, threshold = 0.2,
      shingle = 3)
    val pairs = mh.textPairs(corpus, "text", "doc_id").cache()
    val flatDir = Files.createTempDirectory("graft-fp-flat").toString
    pairs.write.mode("overwrite").parquet(flatDir)
    val adjDir = Files.createTempDirectory("graft-fp-adj").toString
    Dedup.writeShardedAdjacency(pairs, adjDir, "est_jaccard", shards = 16)
    val qid = pairs.agg(min("id_a")).head().getLong(0)
    val (flatBytes, _) = Sharded.scanFootprint(s, Seq(flatDir)) {
      s.read.parquet(flatDir)
        .filter(col("id_a") === qid || col("id_b") === qid)
    }
    val (probeBytes, probeFiles) = Sharded.scanFootprint(s, Seq(adjDir)) {
      Dedup.probeAdjacency(s, adjDir, qid, shards = 16)
    }
    val (totalBytes, _) = Sharded.scanFootprint(s, Seq(adjDir)) {
      s.read.parquet(adjDir)
    }
    assert(flatBytes > 0 && probeBytes > 0)
    assert(probeFiles == 1, s"probe touched $probeFiles files")
    // ≤ 2/16 of the adjacency artifact (one shard; slack for file-size
    // skew across shards at 30-doc fixture scale)
    assert(probeBytes * 8 <= totalBytes,
      s"probe read $probeBytes of $totalBytes artifact bytes")
  }

  test("adjacency probe reads one shard and matches the pairs rows") {
    val s = spark
    val mh = Dedup.MinHash(numHashes = 32, bands = 8, threshold = 0.2,
      shingle = 3)
    val pairs = mh.textPairs(corpus, "text", "doc_id").cache()
    assert(pairs.count() > 0)
    val dir = Files.createTempDirectory("graft-sh-adj").toString
    Dedup.writeShardedAdjacency(pairs, dir, "est_jaccard", shards = 16)
    val qid = pairs.agg(min("id_a")).head().getLong(0)
    val expected = pairs
      .filter(col("id_a") === qid || col("id_b") === qid)
      .select(when(col("id_a") === qid, col("id_b")).otherwise(col("id_a"))
        .as("other"), col("est_jaccard").as("score"))
    val got = Dedup.probeAdjacency(s, dir, qid, shards = 16)
    assert(rows(got) == rows(expected) && rows(expected).nonEmpty)
    val scans = scansOf(Dedup.probeAdjacency(s, dir, qid, shards = 16), dir)
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(f.selectedPartitions.partitionCount <= 1,
        s"probe selected ${f.selectedPartitions.partitionCount} partitions")
    }
  }

  test("a writeByKey rewrite clears the memoized row count of the directory") {
    val s = spark
    val dir = Files.createTempDirectory("graft-sh-count").toString
    Sharded.writeByKey(s.range(40).toDF("k"), dir, "k", shards = 4)
    assert(graft.sources.ParquetMeta.rowCount(s, dir) == 40)
    Sharded.writeByKey(s.range(70).toDF("k"), dir, "k", shards = 4)
    assert(graft.sources.ParquetMeta.rowCount(s, dir) == 70)
  }
}
