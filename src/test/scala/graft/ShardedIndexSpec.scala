package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

/** The shard-partitioned inverted band index: result-identical to the
  * unsharded probe, AND physically pruned at the scan. */
class ShardedIndexSpec extends AnyFunSuite with SparkTestSupport {

  private def sigs = {
    val s = spark
    import s.implicits._
    // three near-dup families + singletons, enough bucket variety to
    // spread across shards
    val docs = (0 until 30).map { i =>
      val fam = i % 3
      val base = s"family $fam shares this long common phrase " +
        s"about topic $fam with tokens t$fam u$fam v$fam w$fam"
      (i.toLong, if (i < 6) base else base + s" unique tail $i x$i y$i z$i")
    }.toDF("doc_id", "text")
    mh.signatures(docs, "text", "doc_id")
  }

  private val mh = Dedup.MinHash(numHashes = 32, bands = 8,
    threshold = 0.2, shingle = 3)

  test("sharded probe ≡ unsharded probe; every per-band scan prunes to ≤1 partition") {
    val s = spark
    val sg = sigs.cache()
    val dir = Files.createTempDirectory("graft-shardidx").toString
    mh.writeIndex(sg, dir)
    val q = sg.filter(col("id") === 0L).select("sig").head().getSeq[Long](0)
    val probe = mh.probeIndex(s, dir, q, excludeId = Some(0L))
    val reference = mh.probeId(sg, queryId = 0L)
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = reference.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == want && got.nonEmpty, s"sharded=$got unsharded=$want")

    // physical proof: the probe is ONE scan (round 10: collapsed from 8
    // per-band scans + union) whose Or-of-And predicate still prunes to
    // at most `bands` of the bands×shards directories — 1/shards of the
    // index — with the pruning visible as PartitionFilters at the scan.
    // AQE stage-wraps leaves, so inspect the plan with AQE off (the
    // pruning itself is static).
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = s.conf.get(aqeKey)
    val scans = try {
      s.conf.set(aqeKey, "false")
      val p2 = mh.probeIndex(s, dir, q, excludeId = Some(0L))
      p2.collect()
      p2.queryExecution.executedPlan.collectLeaves()
        .collect { case f: FileSourceScanExec => f }
    } finally s.conf.set(aqeKey, prevAqe)
    assert(scans.size == 1, s"expected one probe scan, got ${scans.size}")
    scans.foreach { f =>
      assert(f.selectedPartitions.partitionCount <= 8,
        s"scan selected ${f.selectedPartitions.partitionCount} partitions")
      val str = f.toString
      assert(str.contains("PartitionFilters:") && str.contains("band") &&
        str.contains("shard"), s"no band/shard partition filter:\n$str")
    }
  }

  test("index rows carry the signature so the probe needs no second lookup") {
    val s = spark
    val sg = sigs
    val dir = Files.createTempDirectory("graft-shardidx2").toString
    mh.writeIndex(sg, dir)
    val idx = s.read.parquet(dir)
    assert(idx.columns.toSet == Set("id", "sig", "bucket", "band", "shard"))
    // every doc appears once per band; shard is the engine hash of the
    // bucket string mod 16
    assert(idx.groupBy("id").count().filter(col("count") =!= 8).count() == 0)
    assert(idx.filter(
      col("shard") =!= pmod(xxhash64(col("bucket")), lit(16))).count() == 0)
  }
}
