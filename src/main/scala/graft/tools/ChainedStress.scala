package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.ext.Dedup

/** CHAINED multi-slice append law — the missing half of
  * [[IncrementalStress]] (VERDICT r9 next-round #3): the single-slice
  * harness proves |old| + |delta| ≡ recompute for ONE ingest; real
  * pipelines apply appends DAILY, so errors that cancel in one round
  * could accumulate across rounds (label stability across chained
  * star-edge re-propagations is the non-obvious case — each round's
  * labels become the NEXT round's star edges, so a single round's
  * "right classes, shifted representatives" would poison every later
  * round). This harness applies k successive id-disjoint slices
  * (append ∘ append ∘ …) and asserts the END STATE equals the one-shot
  * recompute over the union, per maintained artifact family:
  *
  *   minhash pairs — chained against the PHYSICAL sharded band index
  *     ([[Dedup.Scheme.deltaSharded]]), each round APPENDING the
  *     slice's band rows as new files into the existing partition
  *     directories (old files never rewritten) — the on-disk ingest
  *     cadence itself, not a frame-level simulation of it;
  *   ngram pairs + gram census — delta blocked on the MAINTAINED
  *     census (merged, never recomputed), census checked against the
  *     whole-union recompute as well (a drifted census would silently
  *     mis-block later rounds long before pair counts diverge);
  *   CC labels — chained star-edge re-propagation
  *     ([[Dedup.assignComponentsIncremental]]), end labeling checked
  *     (XOR-fold of (id, component) hashes) against one-shot CC over
  *     the union of ALL pairs from ALL rounds;
  *   span census — chained keyed-addition merges vs whole-union census;
  *   simhash and embedding pairs — the same chain (one `chain` loop
  *     over the near-dup schemes) against the sharded chunk index and
  *     the sharded bucket index + vector table;
  *   ivf index — chained against the PHYSICAL cell-partitioned
  *     assignment index ([[graft.ext.Similarity.writeIvfIndex]]) with
  *     frozen base centroids (the maintained cadence), end state checked
  *     on the assignment table AND on a served top-k probe.
  *
  * With these two, all 7 IncrementalStress families carry the chained
  * multi-slice proof (VERDICT r10 next-round #2).
  *
  * Exactness is REQUIRED (a mismatch fails the run); per-round append
  * seconds are printed so the chain's cost profile (flat per round, not
  * growing with the accumulated corpus beyond the artifact scan) lands
  * in the same report. Slices are de-correlated replicas (vowel
  * translate, disjoint id ranges) for the same fixture-realism reasons
  * as IncrementalStress.
  *
  * Usage: runMain graft.tools.ChainedStress [sfDir] [nSlices]
  */
object ChainedStress {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nSlices = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def persist(df: DataFrame, tag: String): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory(s"chstress_$tag")
        .toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    def timed[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }
    /** Order-independent XOR-fold checksum over whole rows (unique per
      * (id, …) rows, so cancellation cannot hide a discrepancy pair). */
    def xorSum(df: DataFrame): Long = {
      val h = xxhash64(df.columns.map(col): _*)
      val r = df.select(h.as("h")).agg(expr("bit_xor(h)")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    def check(family: String, got: Long, want: Long, gotN: Long,
        wantN: Long): Unit = {
      val ok = got == want && gotN == wantN
      println(f"[chstress] family=$family%-12s slices=$nSlices " +
        f"chained_n=$gotN oneshot_n=$wantN chained_sum=$got " +
        f"oneshot_sum=$want " + (if (ok) "EXACT" else "CHAIN-MISMATCH"))
      require(ok, s"$family: chained end-state differs from one-shot")
    }

    val docs0 = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val vowelMaps = Seq("eioua", "iouae", "ouaei", "uaeio", "aeiuo",
      "eioau", "oiaue", "uoiea")
    // Slice s: a quarter of the base corpus, de-correlated per slice,
    // ids in per-slice disjoint ranges (none overlap the corpus range).
    def slice(s: Int): DataFrame =
      docs0.filter(col("doc_id") % 4 === (s % 4))
        .select((col("doc_id") + lit(900000000L * (s + 1))).as("doc_id"),
          translate(col("text"), "aeiou", vowelMaps(s % 8)).as("text"))
    val slices = (0 until nSlices)
      .map(s => persist(slice(s), s"slice_$s")).toIndexedSeq
    val allDocs = persist(slices.foldLeft(docs0)(_ unionByName _),
      "all_docs")
    println(s"[chstress] base=${docs0.count()} docs, $nSlices slices of " +
      s"${slices.head.count()} docs each")
    val cap = 1 << 30 // caps unbound: exactness regime

    /** One near-dup family chained against its PHYSICAL sharded index:
      * round s computes its delta from the index as rounds 0..s-1 left
      * it, COMMITS it to parquet, and only then appends the slice to the
      * index as new files (mode=append — old partition files untouched).
      * The end state must equal the one-shot pairs over the union
      * (`oneshot`, by default the base `pairs`). `P` is one corpus side
      * as the family consumes it. */
    def chain[P](family: String, base: P, slices: Seq[P],
        union: (P, P) => P, pairs: P => DataFrame,
        write: (P, String, String) => Unit, delta: (String, P) => DataFrame,
        round: DataFrame => DataFrame = identity)(
        oneshot: P => DataFrame = pairs): Unit = {
      val idx = java.nio.file.Files
        .createTempDirectory(s"chstress_${family}_idx").toString
      write(base, idx, "overwrite")
      var acc = persist(pairs(base), s"${family}_pairs_0")
      var all = base
      slices.zipWithIndex.foreach { case (sl, s) =>
        val (secs, d) = timed(persist(delta(idx, sl), s"${family}_delta_$s"))
        write(sl, idx, "append")
        acc = persist(acc.unionByName(d), s"${family}_pairs_${s + 1}")
        all = union(all, sl)
        println(f"[chstress] $family%-9s round ${s + 1}: append=$secs%6.2f s " +
          s"delta=${d.count()} pairs_total=${acc.count()}")
      }
      val once = persist(oneshot(all), s"${family}_oneshot")
      check(family, xorSum(round(acc)), xorSum(round(once)), acc.count(),
        once.count())
    }

    // ---------------------------------------------- minhash and simhash
    for ((family, scheme) <- Seq[(String, Dedup.TextScheme[_])](
        "minhash" -> Dedup.MinHash(numHashes = 32, bands = 8,
          threshold = 0.5, maxBucket = cap),
        "simhash" -> Dedup.SimHash(maxHamming = 3))) {
      def sigs(docs: DataFrame, tag: String) =
        persist(scheme.signatures(docs, "text", "doc_id"), s"${family}_$tag")
      chain[DataFrame](family, sigs(docs0, "base"),
        slices.zipWithIndex.map { case (sl, s) => sigs(sl, s"slice_$s") },
        (a, b) => persist(a.unionByName(b), s"${family}_acc"),
        scheme.pairs, (t, dir, mode) => scheme.writeIndex(t, dir, mode),
        (dir, t) => scheme.deltaSharded(spark, dir, t))()
    }

    // ---------------------------------------------- ngram pairs + census
    {
      val baseGrams = persist(Dedup.ngramGramTable(
        docs0, "text", "doc_id", n = 3), "grams_base")
      var census = persist(Dedup.ngramGramCensus(baseGrams), "census_0")
      var pairs = persist(Dedup.NGram(threshold = 0.1, census, maxDf = cap)
        .pairs(baseGrams), "ng_pairs_0")
      var allGrams = baseGrams
      slices.zipWithIndex.foreach { case (sl, s) =>
        val sliceGrams = persist(Dedup.ngramGramTable(
          sl, "text", "doc_id", n = 3), s"grams_$s")
        val ng = Dedup.NGram.appending(threshold = 0.1, census, sliceGrams,
          maxDf = cap)
        val (secs, delta) = timed(persist(ng.delta(allGrams, sliceGrams),
          s"ng_delta_$s"))
        census = persist(ng.census, s"census_${s + 1}")
        pairs = persist(pairs.unionByName(delta), s"ng_pairs_${s + 1}")
        allGrams = persist(allGrams.unionByName(sliceGrams),
          s"grams_acc_$s")
        println(f"[chstress] ngram   round ${s + 1}: append=$secs%6.2f s " +
          s"delta=${delta.count()} pairs_total=${pairs.count()}")
      }
      val oneshotPairs = persist(Dedup.ngramJaccardPairsFromGrams(
        allGrams, threshold = 0.1, maxDf = cap), "ng_oneshot")
      check("ngram", xorSum(pairs), xorSum(oneshotPairs), pairs.count(),
        oneshotPairs.count())
      val oneshotCensus = persist(Dedup.ngramGramCensus(allGrams),
        "census_oneshot")
      check("gram_census", xorSum(census), xorSum(oneshotCensus),
        census.count(), oneshotCensus.count())

      // ------------------------------------------------------ CC labels
      // Chained star-edge re-propagation over the ngram tier: round s's
      // labels are round s+1's star edges. One-shot = CC over the union
      // of every round's pairs (== oneshotPairs by the check above).
      val basePairs = persist(Dedup.NGram(threshold = 0.1,
        Dedup.ngramGramCensus(baseGrams), maxDf = cap).pairs(baseGrams),
        "cc_base_pairs")
      var labels = persist(Dedup.assignComponents(
        docs0.select("doc_id"), basePairs, "doc_id"), "labels_0")
      var docsSoFar = docs0.select("doc_id")
      var gramsSoFar = baseGrams
      var censusSoFar = persist(Dedup.ngramGramCensus(baseGrams),
        "cc_census_0")
      slices.zipWithIndex.foreach { case (sl, s) =>
        val sliceGrams = persist(Dedup.ngramGramTable(
          sl, "text", "doc_id", n = 3), s"cc_grams_$s")
        val ng = Dedup.NGram.appending(threshold = 0.1, censusSoFar,
          sliceGrams, maxDf = cap)
        val delta = persist(ng.delta(gramsSoFar, sliceGrams), s"cc_delta_$s")
        docsSoFar = persist(docsSoFar.unionByName(sl.select("doc_id")),
          s"cc_docs_$s")
        val (secs, nl) = timed(persist(Dedup.assignComponentsIncremental(
          docsSoFar, labels, delta, "doc_id"), s"labels_${s + 1}"))
        labels = nl
        gramsSoFar = persist(gramsSoFar.unionByName(sliceGrams),
          s"cc_grams_acc_$s")
        censusSoFar = persist(ng.census, s"cc_census_${s + 1}")
        println(f"[chstress] cc_labels round ${s + 1}: " +
          f"append=$secs%6.2f s")
      }
      val oneshotLabels = persist(Dedup.assignComponents(
        allDocs.select("doc_id"),
        oneshotPairs.select("id_a", "id_b"), "doc_id"), "labels_oneshot")
      check("cc_labels", xorSum(labels), xorSum(oneshotLabels),
        labels.count(), oneshotLabels.count())
    }

    // ------------------------------------------------ embedding pairs
    // Chained against BOTH physical artifacts (bucket index + vector
    // table, appended per round). A side is (vectors, bucket table).
    {
      val embs0 = Tables(spark, sfDir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      def rotate(df: DataFrame, i: Int, idOffset: Long): DataFrame =
        df.select((col("id") + lit(idOffset)).as("id"),
          (if (i == 0) col("embedding")
           else concat(
             org.apache.spark.sql.functions.slice(
               col("embedding"), i + 1, 64 - i),
             org.apache.spark.sql.functions.slice(
               col("embedding"), 1, i)).cast("array<float>"))
            .as("embedding"))
      def side(v: DataFrame, tag: String) = (v, persist(
        Dedup.embeddingBucketTable(v, "embedding", "id", planes = 4,
          tables = 8, dim = 64), s"eb_$tag"))
      val eSlices = (0 until nSlices).map(i => side(persist(
        rotate(embs0.filter(col("id") % 4 === (i % 4)), i + 1,
          900000000L * (i + 1)), s"eslice_$i"), s"slice_$i"))
      def r4(df: DataFrame) = df.withColumn("cos",
        floor(col("cos") * 10000 + 0.5) / 10000)
      chain[(DataFrame, DataFrame)]("embedding", side(embs0, "base"),
        eSlices,
        { case ((va, ba), (vb, bb)) => (persist(va.unionByName(vb),
            "evecs_acc"), persist(ba.unionByName(bb), "eb_acc")) },
        { case (v, b) => Dedup.Embedding("embedding", 0.4, v).pairs(b) },
        { case ((v, b), dir, mode) =>
          Dedup.writeShardedBucketIndex(b, s"$dir/buckets", mode)
          Dedup.writeShardedVectors(v, s"$dir/vecs", mode) },
        { case (dir, (v, b)) => Dedup.embeddingDeltaSharded(spark,
            s"$dir/buckets", s"$dir/vecs", b, v, "embedding", 0.4) },
        round = r4)(
        // re-sketch the union vectors: per-slice sketch ≡ whole-corpus
        { case (v, _) => Dedup.embeddingDupPairs(v, "embedding", "id",
            threshold = 0.4, planes = 4, tables = 8, dim = 64) })
    }

    // --------------------------------------------------------- ivf index
    // Chain against the PHYSICAL cell-partitioned assignment index
    // (the other family r10 left single-slice): centroids FROZEN from
    // the base corpus — the q_similarity_ivf_maintained cadence — each
    // round assigning its slice with those centroids and appending
    // into the cell directories. End state is checked twice: the full
    // (id, cell) assignment table against the one-shot assign over the
    // union, AND a top-k probe served from the chained physical index
    // against the same probe over the one-shot index (the serving
    // surface, where representative drift would actually bite).
    {
      val embs0 = Tables(spark, sfDir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      def rotate(df: DataFrame, i: Int, idOffset: Long): DataFrame =
        df.select((col("id") + lit(idOffset)).as("id"),
          (if (i == 0) col("embedding")
           else concat(
             org.apache.spark.sql.functions.slice(
               col("embedding"), i + 1, 64 - i),
             org.apache.spark.sql.functions.slice(
               col("embedding"), 1, i)).cast("array<float>"))
            .as("embedding"))
      val eSlices = (0 until nSlices).map(i => persist(
        rotate(embs0.filter(col("id") % 4 === (i % 4)), i + 1,
          900000000L * (i + 1)), s"ivf_slice_$i")).toIndexedSeq
      val cents = graft.ext.Similarity.kmeansCentroids(embs0, "embedding",
        "id", nlist = 16, iterations = 3)
      val iDir = java.nio.file.Files
        .createTempDirectory("chstress_ivfidx").toString
      graft.ext.Similarity.writeIvfIndex(
        graft.ext.Similarity.ivfAssign(embs0, "embedding", cents), iDir)
      var allVecs = embs0
      eSlices.zipWithIndex.foreach { case (sl, i) =>
        val (secs, _) = timed(graft.ext.Similarity.writeIvfIndex(
          graft.ext.Similarity.ivfAssign(sl, "embedding", cents), iDir,
          mode = "append"))
        allVecs = persist(allVecs.unionByName(sl), s"ivf_vecs_$i")
        println(f"[chstress] ivf_index round ${i + 1}: append=$secs%6.2f s")
      }
      val chained = spark.read.parquet(iDir)
      val oneshot = persist(graft.ext.Similarity.ivfAssign(
        allVecs, "embedding", cents)
        .select(col("id"), col("cell")), "ivf_oneshot")
      check("ivf_index", xorSum(chained.select("id", "cell")),
        xorSum(oneshot), chained.count(), oneshot.count())
      val q = embs0.orderBy("id").limit(1).select("embedding")
        .head().getSeq[Float](0).toArray
      def topk(idx: DataFrame): Seq[(Long, Double)] =
        graft.ext.Similarity.ivfTopKFromIndex(idx, "embedding", "id", q,
          k = 10, cents, nprobe = 4).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val (a, b) = (topk(chained),
        topk(graft.ext.Similarity.ivfAssign(allVecs, "embedding", cents)))
      println(s"[chstress] ivf probe chained==oneshot: ${a == b}")
      require(a == b, "ivf probe from chained physical index drifted")
    }

    // -------------------------------------------------------- span census
    {
      var census = persist(graft.ext.Spans.spanCensus(
        docs0, "text", "doc_id", 8), "spans_0")
      slices.zipWithIndex.foreach { case (sl, s) =>
        val (secs, merged) = timed(persist(
          graft.ops.Maintenance.mergePartialAggregates(
            Seq(census, graft.ext.Spans.spanCensus(sl, "text", "doc_id",
              8)), Seq("sh"), Seq("n_docs", "n_occ")),
          s"spans_${s + 1}"))
        census = merged
        println(f"[chstress] span_census round ${s + 1}: " +
          f"append=$secs%6.2f s rows=${census.count()}")
      }
      val oneshot = persist(graft.ext.Spans.spanCensus(
        allDocs, "text", "doc_id", 8), "spans_oneshot")
      check("span_census", xorSum(census), xorSum(oneshot),
        census.count(), oneshot.count())
    }

    // ----------------------------------- admission registry (streaming)
    // The streaming twin of the batch families (VERDICT r12 #5): chain
    // the SAME micro-batches through three NearDupAdmission instances
    // whose registries differ ONLY physically —
    //   interleaved: compaction after every batch (compactEvery=1),
    //   none:        no compaction at all,
    //   resharded:   compaction + tiny targetShardBytes (the self-sized
    //                re-shard arm: the fold rewrites history under a
    //                LARGER modulus between batches).
    // Law: admission decisions are a pure function of (batch, admitted
    // history) — compaction cadence and shard layout must change
    // NOTHING. Checked: per-batch admitted id sets identical across
    // arms, and the end-state registry CONTENT (distinct (band,bucket),
    // XOR + count) identical.
    {
      import graft.streaming.NearDupAdmission
      val admSlices = slices.zipWithIndex
        .map { case (sl, s) => persist(sl.limit(4000), s"adm_slice_$s") }
      def chain(tag: String, every: Int, tsb: Long)
          : (Seq[Set[Long]], DataFrame) = {
        val root = java.nio.file.Files
          .createTempDirectory(s"chstress_adm_$tag").toString
        val adm = new NearDupAdmission(s"$root/near", "text", "doc_id",
          compactEvery = every, targetShardBytes = tsb)
        val perBatch = admSlices.zipWithIndex.map { case (sl, s) =>
          val (secs, ids) = timed(adm.admit(sl, s.toLong)
            .select("doc_id").collect().map(_.getLong(0)).toSet)
          println(f"[chstress] admission($tag%-11s) round ${s + 1}: " +
            f"admit=$secs%6.2f s admitted=${ids.size}")
          ids
        }
        val end = spark.read.parquet(s"$root/near")
          .select("band", "bucket").distinct()
        (perBatch, persist(end, s"adm_end_$tag"))
      }
      val (idsA, endA) = chain("interleaved", every = 1, tsb = 16L << 20)
      val (idsB, endB) = chain("none", every = 0, tsb = 16L << 20)
      val (idsC, endC) = chain("resharded", every = 1, tsb = 8L << 10)
      require(idsA == idsB && idsA == idsC,
        "admission: per-batch admitted sets diverge across registry layouts")
      check("admission", xorSum(endA), xorSum(endB),
        endA.count(), endB.count())
      check("admission_rs", xorSum(endC), xorSum(endA),
        endC.count(), endA.count())
    }

    // --------------------------------------- sharded upsert sink (serving)
    // 10th family (VERDICT r13 #6): the SAME upsert stream through
    // ShardedUpsertSink stores that differ ONLY physically — shard
    // count, merge cadence (3-way vs 6-way batch split), and GC timing
    // (more merges = more GC cycles) — must yield an IDENTICAL final
    // view, which must also equal the one-shot keep-latest over the
    // whole stream (the layout-independence law the serving tier
    // inherits from the admission families). __batch is excluded from
    // the checksum: it records WHICH merge carried the winner — a
    // cadence artifact by construction, not view content.
    {
      import graft.streaming.ShardedUpsertSink
      val ev = persist(Tables(spark, sfDir, "events")
        .withColumn("day", col("ts").cast("date"))
        .select("user_id", "day", "event_type", "value", "event_id", "ts"),
        "upsert_stream")
      val payload = Seq("user_id", "day", "event_type", "value", "event_id")
      def store(tag: String, shards: Int, splits: Int,
          replayLast: Boolean, reshardMidway: Int = 0): DataFrame = {
        val dir = java.nio.file.Files
          .createTempDirectory(s"chstress_upsert_$tag").toString + "/store"
        val merge = ShardedUpsertSink.mergeBatch(spark, dir,
          keys = Seq("user_id", "day"), orderCols = Seq("ts", "event_id"),
          shards = shards) _
        (0 until splits).foreach { b =>
          val (secs, _) = timed(
            merge(ev.filter(col("event_id") % splits === b), b.toLong))
          println(f"[chstress] upsert($tag%-9s) merge ${b + 1}/$splits: " +
            f"$secs%6.2f s")
          if (reshardMidway > 0 && b == splits / 2)
            ShardedUpsertSink.reshard(spark, dir, Seq("user_id", "day"),
              reshardMidway)
        }
        if (replayLast) // crash-replay of the final batch: no-op change
          merge(ev.filter(col("event_id") % splits === (splits - 1)),
            (splits - 1).toLong)
        persist(ShardedUpsertSink.currentView(spark, dir).get
          .select(payload.map(col): _*), s"upsert_view_$tag")
      }
      val a = store("s4_c3", shards = 4, splits = 3, replayLast = false)
      val b = store("s32_c6", shards = 32, splits = 6, replayLast = false)
      val c = store("s8_replay", shards = 8, splits = 3, replayLast = true)
      val d = store("s4_rs32", shards = 4, splits = 3, replayLast = false,
        reshardMidway = 32) // modulus grows MID-CHAIN; later merges adopt
      val oneshot = persist(graft.ops.Upsert.keepLatestPerKey(
        ev, Seq("user_id", "day"), Seq("ts", "event_id"))
        .select(payload.map(col): _*), "upsert_oneshot")
      check("upsert_sharded", xorSum(a), xorSum(oneshot), a.count(),
        oneshot.count())
      check("upsert_rs", xorSum(b), xorSum(a), b.count(), a.count())
      check("upsert_replay", xorSum(c), xorSum(a), c.count(), a.count())
      check("upsert_grow", xorSum(d), xorSum(a), d.count(), a.count())
    }

    println(s"[chstress] all families EXACT across $nSlices chained slices")
    spark.stop()
  }
}
