package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.ext.{Dedup, Similarity}

/** Corpus-growth stress for the INCREMENTAL maintenance paths — the
  * empirical half of the artifact-append ≡ recompute law: append cost must
  * scale with the SLICE, recompute with the CORPUS. For each factor k the
  * old corpus is the sf documents/embeddings replicated k× while the
  * ingest slice stays FIXED (1/4 of the base corpus), and each family
  * measures, from the same persisted artifacts,
  *
  *   append    = read(old pairs artifact) ∪ cross(old artifact, slice)
  *               ∪ self(slice)   — the incremental path
  *   recompute = whole-corpus pairs over old ∪ slice — what a
  *               non-incremental engine pays per ingest
  *
  * Both sides read the SAME persisted signature/fingerprint/gram
  * artifacts (signature build cost is excluded from both — it is linear
  * and amortized either way); the measured separation is the pairing
  * join itself. Two recompute arms take an independent path, so the
  * laws the append arm relies on are checked too: the n-gram recompute
  * recounts doc-frequencies by window over the merged gram table (merged
  * census ≡ recounted df), and the embedding recompute re-sketches the
  * union vectors (per-slice sketch ≡ whole-corpus sketch). Replicas are de-correlated from the originals (vowel
  * `translate` per replica for text, element rotation for vectors) so the
  * duplicate STRUCTURE stays constant per replica instead of every doc
  * acquiring k near-identical twins — the realistic "corpus grows, dup
  * rate stays" regime; with correlated replicas pair counts grow k² and
  * both sides degenerate into an adversarial blowup that measures the
  * fixture, not the maintenance law.
  *
  * Exactness rides along: append and recompute must produce the SAME
  * pair count at every factor (caps unbound at stress scale) — a count
  * mismatch fails the run loudly rather than reporting speed of a wrong
  * answer.
  *
  * Usage: runMain graft.tools.IncrementalStress [sfDir] [factors]
  */
object IncrementalStress {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factors = (if (args.length > 1) args(1) else "1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def persist(df: DataFrame, tag: String): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory(s"incstress_$tag")
        .toString
      df.repartition(32).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }

    /** min-of-`reps` wall clock of `body`, which must force the full
      * result. */
    def timed(body: => Long, reps: Int = 3): (Double, Long) = {
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        spark.catalog.clearCache()
        graft.ops.Caches.releaseAll()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (samples.map(_._1).min, samples.head._2)
    }

    /** Families whose two arms must produce the SAME value (checksum or
      * probe result) rather than additive counts. */
    def report2(family: String, k: Int, append: (Double, Long),
        recompute: (Double, Long)): Unit = {
      val ok = append._2 == recompute._2
      println(f"[incstress] family=$family%-11s k=${k}x " +
        f"append=${append._1}%6.2f s recompute=${recompute._1}%6.2f s " +
        f"check_append=${append._2} check_recompute=${recompute._2} " +
        (if (ok) "EXACT" else "CHECK-MISMATCH"))
      require(ok, s"$family at ${k}x: results differ")
    }

    /** The append arm measures the DELTA (cross ∪ self) — a real ingest
      * appends delta files to the pairs artifact, it never rewrites old
      * pairs — so exactness is count-additive: |old artifact| + |delta|
      * must equal the whole-corpus recompute (the three parts are
      * id-disjoint by construction; a mismatch fails the run). */
    def report(family: String, k: Int, oldCount: Long,
        append: (Double, Long), recompute: (Double, Long)): Unit = {
      val ok = oldCount + append._2 == recompute._2
      println(f"[incstress] family=$family%-10s k=${k}x " +
        f"append=${append._1}%6.2f s recompute=${recompute._1}%6.2f s " +
        f"pairs_old=$oldCount pairs_delta=${append._2} " +
        f"pairs_recompute=${recompute._2} " +
        (if (ok) "EXACT" else "COUNT-MISMATCH"))
      require(ok, s"$family at ${k}x: $oldCount + ${append._2} != ${recompute._2}")
    }

    // Fixed ingest slice: a quarter of the base corpus, ids moved to a
    // disjoint range, text/vectors de-correlated with their own mapping
    // (the slice is genuinely NEW content, not a copy of corpus rows).
    val docs0 = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val embs0 = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val vowelMaps = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
      "aeiuo", "eioau", "oiaue", "uoiea")
    def mangleDocs(df: DataFrame, i: Int, idOffset: Long): DataFrame =
      df.select((col("doc_id") + lit(idOffset)).as("doc_id"),
        (if (i == 0) col("text")
         else translate(col("text"), "aeiou", vowelMaps(i))).as("text"))
    def rotateEmbs(df: DataFrame, i: Int, idOffset: Long): DataFrame =
      df.select((col("vec_id") + lit(idOffset)).as("vec_id"),
        (if (i == 0) col("embedding")
         else concat(slice(col("embedding"), i + 1, 64 - i),
           slice(col("embedding"), 1, i)).cast("array<float>"))
          .as("embedding"))
    val sliceDocs = persist(
      mangleDocs(docs0.filter(col("doc_id") % 4 === 0), 8, 900000000L),
      "slice_docs")
    val sliceEmbs = persist(
      rotateEmbs(embs0.filter(col("vec_id") % 4 === 0), 8, 900000000L),
      "slice_embs")
    // Slice-side artifacts (computed once per ingest either way; slice-
    // sized, so excluded from the timed separation like the old-side
    // builds are).
    val cap = 1 << 30 // caps unbound: exactness regime (class doc)
    val mh = Dedup.MinHash(numHashes = 32, bands = 8, threshold = 0.5,
      maxBucket = cap)
    val sh = Dedup.SimHash(maxHamming = 3)
    val sliceSigs = persist(mh.signatures(sliceDocs, "text", "doc_id"),
      "slice_sigs")
    val sliceFps = persist(sh.signatures(sliceDocs, "text", "doc_id"),
      "slice_fps")
    val sliceGrams = persist(Dedup.ngramGramTable(
      sliceDocs, "text", "doc_id", n = 3), "slice_grams")

    factors.foreach { k =>
      val oldDocs = persist(
        (0 until k).map(i => mangleDocs(docs0, i, i * 10000000L))
          .reduce(_ unionByName _), s"old_docs_$k")
      val oldEmbs = persist(
        (0 until k).map(i => rotateEmbs(embs0, i, i * 10000000L))
          .reduce(_ unionByName _), s"old_embs_$k")
      println(s"[incstress] ===== factor ${k}x: old_docs=${oldDocs.count()} " +
        s"old_embs=${oldEmbs.count()} slice_docs=${sliceDocs.count()} =====")

      // Persisted old-corpus artifacts (the "computed once per snapshot"
      // side — build time reported once for context, charged to neither
      // arm).
      val tArt0 = System.nanoTime()
      val oldSigs = persist(mh.signatures(oldDocs, "text", "doc_id"),
        s"old_sigs_$k")
      val oldFps = persist(sh.signatures(oldDocs, "text", "doc_id"),
        s"old_fps_$k")
      val oldGrams = persist(Dedup.ngramGramTable(
        oldDocs, "text", "doc_id", n = 3), s"old_grams_$k")
      // Production plane sizing (embeddingDupPairs doc: planes ≈
      // log2(n/32)): grow the sign-sketch width with the corpus so
      // bucket sizes stay ~constant and Σ bucket² stays linear — with a
      // FIXED width, 8× data means 8× buckets and a 64× candidate blowup
      // that measures the mis-sizing, not the maintenance law. Both arms
      // and the old-pairs artifact share the family, so exactness holds.
      val planesK = 4 + (31 - Integer.numberOfLeadingZeros(k))
      // Maintained-census + bucket-table artifacts: the append arms read
      // these instead of re-aggregating the corpus census / re-sketching
      // the corpus per ingest. The n-gram scheme blocks on the census
      // merged by addition; the embedding scheme re-attaches vectors
      // from the old ∪ slice vector tables.
      val oldCensus = persist(Dedup.ngramGramCensus(oldGrams),
        s"old_census_$k")
      val oldVecs = oldEmbs.select(col("vec_id").as("id"), col("embedding"))
      val sliceVecs = sliceEmbs.select(col("vec_id").as("id"),
        col("embedding"))
      val oldBuckets = persist(Dedup.embeddingBucketTable(oldVecs,
        "embedding", "id", planes = planesK, tables = 8, dim = 64),
        s"old_buckets_$k")
      val sliceBuckets = persist(Dedup.embeddingBucketTable(sliceVecs,
        "embedding", "id", planes = planesK, tables = 8, dim = 64),
        s"slice_buckets_$k")
      val ng = Dedup.NGram.appending(threshold = 0.1, oldCensus, sliceGrams,
        maxDf = cap)
      val em = Dedup.Embedding("embedding", threshold = 0.4,
        oldVecs.unionByName(sliceVecs))
      // (family, scheme, old artifact, slice artifact, recompute over
      // old ∪ slice, old pairs artifact)
      val families = Seq[(String, Dedup.Scheme, DataFrame, DataFrame,
          () => DataFrame)](
        ("minhash", mh, oldSigs, sliceSigs,
          () => mh.pairs(oldSigs.unionByName(sliceSigs))),
        ("simhash", sh, oldFps, sliceFps,
          () => sh.pairs(oldFps.unionByName(sliceFps))),
        ("ngram", ng, oldGrams, sliceGrams,
          () => Dedup.ngramJaccardPairsFromGrams(
            oldGrams.unionByName(sliceGrams), threshold = 0.1, maxDf = cap)),
        ("embedding", em, oldBuckets, sliceBuckets,
          () => Dedup.embeddingDupPairs(oldEmbs.unionByName(sliceEmbs),
            "embedding", "vec_id", threshold = 0.4, planes = planesK,
            tables = 8, dim = 64)))
        .map { case (f, sc, o, sl, re) =>
          (f, sc, o, sl, re, persist(sc.pairs(o), s"old_pairs_${f}_$k")) }
      println(f"[incstress] artifacts ${k}x: build=${(System.nanoTime() - tArt0) / 1e9}%6.2f s " +
        s"(sigs+fps+grams+4 pair sets, charged to neither arm)")

      // Delta = the scheme's incremental law fed an EMPTY old-pairs
      // frame: exactly canon(cross(old artifact, slice)) ∪ self(slice),
      // the work a real ingest performs (the old pairs stay on disk
      // untouched).
      families.foreach { case (f, sc, o, sl, recompute, oldPairs) =>
        report(f, k, oldPairs.count(),
          timed(sc.incremental(oldPairs.limit(0), o, sl).count()),
          timed(recompute().count()))
      }
      val oldPairsMh = families.head._6

      // CC LABEL maintenance over the minhash pair tier (the largest
      // edge set): append arm = CC(star(old labels) ∪ PERSISTED delta) —
      // the labels artifact re-enters as |corpus| star edges and the
      // delta was already computed by the pairs-append step above;
      // recompute arm = CC over ALL old pairs ∪ delta. Exactness =
      // identical labelings, checked via an order-independent checksum
      // (sum of per-row hashes).
      val allDocIds = oldDocs.select("doc_id")
        .unionByName(sliceDocs.select("doc_id"))
      val oldLabels = persist(Dedup.assignComponents(
        oldDocs.select("doc_id"), oldPairsMh, "doc_id"), s"old_labels_$k")
      val deltaMh = persist(mh.incremental(oldPairsMh.limit(0), oldSigs,
        sliceSigs), s"delta_mh_$k")
      // XOR-fold checksum: order-independent and overflow-free under
      // ANSI arithmetic (labels are unique per doc, so XOR cancellation
      // cannot hide a discrepancy pair).
      def labelSum(labels: DataFrame): Long = labels
        .select(xxhash64(col("doc_id"), col("component")).as("h"))
        .agg(expr("bit_xor(h)"))
        .head().getLong(0)
      val ccInc = timed(labelSum(Dedup.assignComponentsIncremental(
        allDocIds, oldLabels, deltaMh, "doc_id")))
      val ccFull = timed(labelSum(Dedup.assignComponents(allDocIds,
        oldPairsMh.select("id_a", "id_b").unionByName(
          deltaMh.select("id_a", "id_b")), "doc_id")), reps = 2)
      val ccOk = ccInc._2 == ccFull._2
      println(f"[incstress] family=cc_labels  k=${k}x " +
        f"append=${ccInc._1}%6.2f s recompute=${ccFull._1}%6.2f s " +
        f"labelsum_inc=${ccInc._2} labelsum_full=${ccFull._2} " +
        (if (ccOk) "EXACT" else "LABEL-MISMATCH"))
      require(ccOk, s"cc_labels at ${k}x: labelings differ")

      // Span-census maintenance (the substring tier): the census is a
      // SUMMABLE artifact — append = merge(persisted old census, slice
      // census) by keyed addition; recompute = census over the merged
      // corpus. Equality checked by XOR-fold over full census rows.
      val oldSpanCensus = persist(graft.ext.Spans.spanCensus(
        oldDocs, "text", "doc_id", 8), s"old_spancensus_$k")
      def censusSum(c: DataFrame): Long = c
        .select(xxhash64(col("sh"), col("n_docs"), col("n_occ")).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
      report2("span_census", k,
        timed(censusSum(graft.ops.Maintenance.mergePartialAggregates(
          Seq(oldSpanCensus,
            graft.ext.Spans.spanCensus(sliceDocs, "text", "doc_id", 8)),
          Seq("sh"), Seq("n_docs", "n_occ")))),
        timed(censusSum(graft.ext.Spans.spanCensus(
          oldDocs.unionByName(sliceDocs), "text", "doc_id", 8))))

      // IVF index maintenance: frozen centroids (trained once on the 1×
      // base — the "retrain rarely" cadence), maintained index = persisted
      // assignment artifact ∪ assign(slice); rebuild = re-assign the whole
      // merged corpus. Probe result (top-10 ids for a fixed query) must
      // match between the two index forms.
      val cents = Similarity.sampleCentroids(embs0, "embedding", "vec_id",
        nlist = 16)
      val q = embs0.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      val oldIndex = persist(Similarity.ivfAssign(oldEmbs, "embedding",
        cents), s"old_ivf_$k")
      def probeSum(index: DataFrame): Long =
        Similarity.ivfTopKFromIndex(index, "embedding", "vec_id", q,
          k = 10, cents, nprobe = 4)
          .agg(sum(col("vec_id"))).head().getLong(0)
      // IVF is a QUERY-path comparison (probe the maintained index vs
      // re-assign the merged corpus then probe), so exactness is probe-
      // result equality rather than additive pair counts.
      val maintained = timed(probeSum(oldIndex.unionByName(
        Similarity.ivfAssign(sliceEmbs, "embedding", cents))))
      val rebuilt = timed(probeSum(Similarity.ivfAssign(
        oldEmbs.unionByName(sliceEmbs), "embedding", cents)))
      val ivfOk = maintained._2 == rebuilt._2
      println(f"[incstress] family=ivf_index  k=${k}x " +
        f"append=${maintained._1}%6.2f s recompute=${rebuilt._1}%6.2f s " +
        f"probe_maintained=${maintained._2} probe_rebuilt=${rebuilt._2} " +
        (if (ivfOk) "EXACT" else "PROBE-MISMATCH"))
      require(ivfOk, s"ivf at ${k}x: probe results differ")
    }
    spark.stop()
  }
}
