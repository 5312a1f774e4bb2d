package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

/** Chained multi-slice append law (VERDICT r9 next-round #3), the unit
  * half — graft.tools.ChainedStress is the timing/scale half at sf0.1.
  * Three successive id-disjoint slices are appended and the END STATE
  * must equal the one-shot recompute over the union:
  *
  *   - minhash pairs, chained against the PHYSICAL sharded band index
  *     with each round APPENDING its band rows (mode=append — the
  *     on-disk ingest cadence; old partition files never rewritten);
  *   - the maintained gram census (keyed-addition merges);
  *   - CC labels under chained star-edge re-propagation — the
  *     non-obvious case: round s's labels are round s+1's star edges,
  *     so representative drift in ANY round would surface in the final
  *     labeling equality.
  */
class ChainedAppendSpec extends AnyFunSuite with SparkTestSupport {

  private def mkDocs(ids: Seq[Long], fam: Long => Long,
      tail: Long => String): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      val f = fam(i)
      (i, s"family $f shares this long common phrase about topic $f " +
        s"with tokens t$f u$f v$f w$f ${tail(i)}")
    }.toDF("doc_id", "text")
  }

  // Base corpus: 24 docs in 3 families; slice s (s=0,1,2): 4 docs that
  // extend family s plus one unique doc, ids disjoint per slice.
  private def base = mkDocs(0L until 24L, _ % 3,
    i => if (i < 6) "" else s"unique tail $i x$i y$i")
  private def slice(s: Int) = mkDocs(
    (100L * (s + 1)) until (100L * (s + 1) + 5L),
    i => if (i % 100 == 4) i else s.toLong,
    i => if (i % 100 == 4) s"totally different q$i w$i e$i r$i" else "")

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("3-slice chained appends ≡ one-shot recompute (pairs via physical index, census, CC labels)") {
    val s = spark
    val cap = 1 << 30
    val slices = (0 until 3).map(slice)
    val allDocs = slices.foldLeft(base)(_ unionByName _).cache()

    // --- minhash pairs against the sharded band index, appended per round
    val idxDir = Files.createTempDirectory("graft-chain-idx").toString
    val mh = Dedup.MinHash(numHashes = 32, bands = 8, threshold = 0.2,
      maxBucket = cap, shingle = 3)
    val baseSigs = mh.signatures(base, "text", "doc_id").cache()
    mh.writeIndex(baseSigs, idxDir)
    var pairs = mh.pairs(baseSigs).cache()
    var allSigs = baseSigs
    slices.foreach { sl =>
      val sliceSigs = mh.signatures(sl, "text", "doc_id").cache()
      // COMMIT the delta to disk BEFORE appending to the index: the
      // delta is a lazy plan over the index directory, and Spark's
      // append invalidates (and recomputes) cached plans over that
      // path (`recacheByPath`), so a merely-cached delta would re-read
      // the index AFTER the append and see the slice's own rows
      // (self-pairs at 1.0). Compute → commit delta → append index is
      // the ordering a real ingest must follow; the first version of
      // this spec relied on cache() and caught the hazard.
      val deltaDir = Files.createTempDirectory("graft-chain-delta")
        .toString
      mh.deltaSharded(s, idxDir, sliceSigs)
        .write.mode("overwrite").parquet(deltaDir)
      val delta = s.read.parquet(deltaDir)
      mh.writeIndex(sliceSigs, idxDir, mode = "append")
      pairs = pairs.unionByName(delta).cache()
      allSigs = allSigs.unionByName(sliceSigs).cache()
    }
    val oneshot = mh.pairs(allSigs)
    assert(rows(pairs) == rows(oneshot) && rows(oneshot).nonEmpty)
    // cross-slice pairs must exist (slice 0 extends family 0 which
    // slice 0..2 all touch via the base) — the chain is not trivially
    // independent rounds
    assert(pairs.filter(col("id_a") >= 100L).count() > 0)

    // --- maintained gram census
    val baseGrams = Dedup.ngramGramTable(base, "text", "doc_id", n = 3)
      .cache()
    var census = Dedup.ngramGramCensus(baseGrams).cache()
    var allGrams = baseGrams
    slices.foreach { sl =>
      val g = Dedup.ngramGramTable(sl, "text", "doc_id", n = 3).cache()
      census = Dedup.mergeGramCensus(census, Dedup.ngramGramCensus(g))
        .cache()
      allGrams = allGrams.unionByName(g).cache()
    }
    assert(rows(census) == rows(Dedup.ngramGramCensus(allGrams)))

    // --- CC labels under chained star-edge re-propagation (ngram tier)
    var ngPairs = Dedup.ngramJaccardPairsFromGrams(baseGrams,
      threshold = 0.3, maxDf = cap).cache()
    var labels = Dedup.assignComponents(base.select("doc_id"), ngPairs,
      "doc_id").cache()
    var docsSoFar = base.select("doc_id")
    var gramsSoFar = baseGrams
    slices.foreach { sl =>
      val g = Dedup.ngramGramTable(sl, "text", "doc_id", n = 3).cache()
      val delta = Dedup.NGram.appending(threshold = 0.3,
          Dedup.ngramGramCensus(gramsSoFar), g, maxDf = cap)
        .delta(gramsSoFar, g).cache()
      docsSoFar = docsSoFar.unionByName(sl.select("doc_id")).cache()
      labels = Dedup.assignComponentsIncremental(docsSoFar, labels,
        delta, "doc_id").cache()
      ngPairs = ngPairs.unionByName(delta).cache()
      gramsSoFar = gramsSoFar.unionByName(g).cache()
    }
    val oneshotLabels = Dedup.assignComponents(allDocs.select("doc_id"),
      Dedup.ngramJaccardPairsFromGrams(gramsSoFar, threshold = 0.3,
        maxDf = cap), "doc_id")
    assert(rows(labels) == rows(oneshotLabels))
    // non-trivial: some chained component spans base + a late slice
    assert(labels.filter(col("doc_id") >= 100L &&
      col("component") < 24L).count() > 0)
  }
}
