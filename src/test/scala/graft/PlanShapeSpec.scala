package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression locks for the flagship queries: the scale
  * claims in SURVEY (§ scale design) are properties of the PLAN, not the
  * output — assert them so a refactor that silently de-optimizes (drops a
  * pushdown, loses a broadcast, sorts the full corpus for a top-k) fails
  * CI, not a 100 TB run. Uses the sf0.001 fixture. */
class PlanShapeSpec extends AnyFunSuite with SparkTestSupport {

  private val dir = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** Count HASH-shuffle exchanges in a FORMATTED plan. In formatted
    * mode the node line is bare "(n) Exchange" and the partitioning
    * lives on the detail block's "Arguments: hashpartitioning(…)" line
    * — the r10 locks counted the SIMPLE-mode spelling
    * "Exchange hashpartitioning", which never occurs in formatted
    * output, so those bounds were vacuously 0 ≤ N (caught in r11 by
    * a web-tier scale harness printing exchanges=0 for a chain with two
    * dedups, SURVEY §14.3).
    * Counted from the TREE section (before the shared detail blocks),
    * and for executed adaptive plans from the final-plan tree only —
    * the "== Initial Plan ==" tree would double-count every shuffle.
    * " Exchange (" matches the bare shuffle node; BroadcastExchange /
    * ReusedExchange spell it inside a longer word and don't. */
  private def nHashExchanges(plan: String): Int =
    " Exchange \\(".r
      .findAllIn(plan.split("== Initial Plan ==")(0)).length

  /** True iff the formatted plan contains a GLOBAL Sort node. Spark
    * has no node named "GlobalSort" — the r10 locks asserted
    * !contains("GlobalSort"), which is vacuously true of EVERY plan
    * (same audit as nHashExchanges). A formatted Sort detail block is
    * "(n) Sort" with "Arguments: [keys…], true, 0" where the boolean
    * is the global flag, so global sorts are detected from the
    * Arguments line shape. */
  private def hasGlobalSort(plan: String): Boolean =
    plan.linesIterator.exists(l => l.startsWith("Arguments: [") &&
      l.replaceAll("\\s+$", "").endsWith("], true, 0"))

  test("q_serving_timeseries pushes its equality filter into the scan") {
    val plan = formatted("q_serving_timeseries")
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(event_type"), plan.take(2000))
  }

  test("q_join_broadcast broadcasts the dimension side") {
    val plan = formatted("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_similarity_brute plans top-k, not a full sort") {
    val plan = formatted("q_similarity_brute")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!hasGlobalSort(plan), plan.take(2000))
  }

  test("q_sample_hash is a single pruned scan — no shuffle, no join") {
    val plan = formatted("q_sample_hash")
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan.take(2000))
  }

  test("q_decontam broadcasts the eval grams, never shuffles the corpus grams") {
    val plan = formatted("q_decontam")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_multimodal_decode reads only the projected columns") {
    val plan = formatted("q_multimodal_decode")
    // expression fast-path: no DeserializeToObject / mapPartitions stage
    assert(!plan.contains("DeserializeToObject"), plan.take(2000))
  }

  // The Census ops' range shuffle sits behind the shared-RDD barrier
  // (`Scan ExistingRDD` — see graft.ops.Census doc), so the registry
  // plan shows: barrier scan + per-range windows. The kill condition is
  // a partition-less window ORDERED BY the corpus sort key — that's the
  // single-task plan these operators exist to avoid. (The census window
  // over `__pid` is partition-less too, but it runs over ≤ `partitions`
  // rows, not the corpus.)
  test("q_shuffle_rank ranks per range — the corpus never sees a global window") {
    val plan = formatted("q_shuffle_rank")
    assert(plan.contains("Scan ExistingRDD"), plan.take(3000))
    assert(plan.contains("windowspecdefinition(__pid"), plan.take(3000))
    assert(!plan.contains("windowspecdefinition(__k"), plan.take(3000))
  }

  test("q_select_budget: distributed prefix sum, no corpus-wide window") {
    val plan = formatted("q_select_budget")
    assert(plan.contains("Scan ExistingRDD"), plan.take(3000))
    assert(plan.contains("windowspecdefinition(__pid"), plan.take(3000))
    assert(!plan.contains("windowspecdefinition(quality"), plan.take(3000))
  }

  test("q_ntile_difficulty bins from the distributed rank, no global ntile sort") {
    val plan = formatted("q_ntile_difficulty")
    assert(plan.contains("Scan ExistingRDD"), plan.take(3000))
    assert(plan.contains("windowspecdefinition(__pid"), plan.take(3000))
    assert(!plan.contains("windowspecdefinition(quality"), plan.take(3000))
    assert(!plan.contains("ntile("), plan.take(3000))
  }

  test("q_score_lm broadcasts the gram model — the corpus is never shuffle-joined") {
    val plan = formatted("q_score_lm")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(3000))
  }

  test("q_sessionize windows are partitioned by user — no global order") {
    val plan = formatted("q_sessionize")
    assert(plan.contains("windowspecdefinition(user_id"), plan.take(3000))
    // a partition-less window over ts would be the single-task plan
    assert(!plan.contains("windowspecdefinition(ts"), plan.take(3000))
  }

  test("q_funnel is keyed joins + aggregations — no nested-loop, no window") {
    val plan = formatted("q_funnel")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q_score_classifier is a single pruned scan — no shuffle") {
    val plan = formatted("q_score_classifier")
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan.take(2000))
  }

  test("q_sample_weighted plans top-k heaps, not a global sort") {
    val plan = formatted("q_sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // r13 audit: the former !contains("Sort [") was vacuous in
    // FormattedMode (node line is "(n) Sort"; the argument list lives
    // in a detail block) — the same disease as the r10 "GlobalSort"
    // and "Exchange hashpartitioning" spellings. Use the controlled
    // helper instead.
    assert(!hasGlobalSort(plan), plan.take(3000))
  }

  test("control arms: plan-lock helpers fire on real plans (not vacuous)") {
    // Every negative lock in this suite is only as good as its spelling
    // against FormattedMode output — three vacuous spellings have been
    // caught across r10–r13 ("GlobalSort", "Exchange hashpartitioning",
    // "Sort ["). These arms prove the helpers and the load-bearing
    // spellings MATCH real executed plans, so the negative assertions
    // above are falsifiable.
    val s = spark
    import org.apache.spark.sql.execution.FormattedMode
    val df = s.range(1000).select(org.apache.spark.sql.functions.col("id"),
      (org.apache.spark.sql.functions.col("id") % 7).as("k"))
    def fmtExecuted(d: org.apache.spark.sql.DataFrame): String = {
      d.collect() // lock the plan that actually ran (AQE-final)
      d.queryExecution.explainString(FormattedMode)
    }
    // 1. hasGlobalSort FIRES on a real executed global orderBy...
    val pSorted = fmtExecuted(df.orderBy(df("k").desc, df("id")))
    assert(hasGlobalSort(pSorted), pSorted.take(3000))
    // ...stays quiet on top-k (TakeOrderedAndProject, the shape the
    // locks at q_similarity_* / q_sample_weighted demand)...
    val pTopk = fmtExecuted(df.orderBy(df("k").desc).limit(5))
    assert(pTopk.contains("TakeOrderedAndProject"), pTopk.take(3000))
    assert(!hasGlobalSort(pTopk), pTopk.take(3000))
    // ...and on a partition-local sort (global flag false).
    val pLocal = fmtExecuted(df.sortWithinPartitions(df("k")))
    assert(!hasGlobalSort(pLocal), pLocal.take(3000))
    // 2. nHashExchanges counts a real shuffle (the q_pipeline_web lock
    // also keeps a >=1 arm; this one pins the exact count on a known
    // single-shuffle plan).
    val pAgg = fmtExecuted(df.groupBy("k").count())
    assert(nHashExchanges(pAgg) == 1, pAgg.take(3000))
    // 3. The window-absence locks' spelling: "windowspecdefinition("
    // and "Window" DO appear for a real window function in
    // FormattedMode, so asserting their absence is falsifiable.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("id")
    val pWin = fmtExecuted(df.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(w)))
    assert(pWin.contains("Window") &&
      pWin.contains("windowspecdefinition("), pWin.take(3000))
  }

  test("q_sample_stratified_joined broadcasts the rate table, never shuffles the corpus") {
    // The size-gated arm: 500 strata force the broadcast-join rate
    // lookup. The corpus side must stay shuffle-free — the rate table
    // is config-sized and broadcast, so the only acceptable join is a
    // BroadcastHashJoin with zero Exchange on the scan side.
    val plan = formatted("q_sample_stratified_joined")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(nHashExchanges(plan) == 0,
      s"corpus-side shuffle in a broadcast rate lookup\n" + plan.take(3000))
  }

  test("q_mix_temperature filter is a single pruned scan — no shuffle, no join") {
    // the per-source counts ran at plan-construction time (bounded
    // driver state); the RETURNED plan must be scan + CASE filter only
    val plan = formatted("q_mix_temperature")
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      plan.take(2000))
  }

  test("q_oov_rate broadcasts the vocab — token strings never shuffle-join") {
    val plan = formatted("q_oov_rate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q_curriculum ranks per range — no corpus-wide stage-ordered window") {
    val plan = formatted("q_curriculum")
    assert(plan.contains("Scan ExistingRDD"), plan.take(3000))
    assert(plan.contains("windowspecdefinition(__pid"), plan.take(3000))
    assert(!plan.contains("windowspecdefinition(__stage"), plan.take(3000))
  }

  test("q_interleave: census rank above the barrier, no global __r window") {
    // the per-source rank window runs UPSTREAM of the census `.rdd`
    // barrier (inside the pinned RDD lineage — ShufflingSpec covers its
    // behavior); the returned plan must be the census shape only
    val plan = formatted("q_interleave")
    assert(plan.contains("Scan ExistingRDD"), plan.take(4000))
    assert(plan.contains("windowspecdefinition(__pid"), plan.take(4000))
    assert(!plan.contains("windowspecdefinition(__r"), plan.take(4000))
  }

  test("q_cap_per_source windows are partitioned by source") {
    val plan = formatted("q_cap_per_source")
    assert(plan.contains("windowspecdefinition(source"), plan.take(3000))
    assert(!plan.contains("windowspecdefinition(__k"), plan.take(3000))
  }

  test("q_snapshot_diff joins hashes, not payloads") {
    val plan = formatted("q_snapshot_diff")
    // the text column must be consumed by the md5 projection below the
    // join — no plan node above the join may reference `text`
    val aboveJoin = plan.split("SortMergeJoin|ShuffledHashJoin").head
    assert(!aboveJoin.contains("text#"), plan.take(3000))
  }
  test("q_histogram broadcasts the 1-row extent — no shuffled join") {
    val plan = formatted("q_histogram")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q_outlier_mad: thresholds broadcast, corpus never sort-merge-joined") {
    val plan = formatted("q_outlier_mad")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q_fertility: one map-side-combined aggregation, no window") {
    val plan = formatted("q_fertility")
    assert(plan.contains("HashAggregate"), plan.take(4000))
    assert(!plan.contains("Window"), plan.take(4000))
  }

  test("q_union_evolve is a plain Union — zero shuffle") {
    val plan = formatted("q_union_evolve")
    assert(plan.contains("Union"), plan.take(4000))
    assert(!plan.contains("Exchange"), plan.take(4000))
  }
  test("q_key_heat plans a top-k heap over the aggregate, not a global sort") {
    val plan = formatted("q_key_heat")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
  }

  test("q_join_cardinality joins per-key COUNT frames, never row payloads") {
    // the key match happens between key-bounded aggregate frames, which
    // are small enough to broadcast — a SortMergeJoin here would mean
    // raw row payloads reached the join
    val plan = formatted("q_join_cardinality")
    assert(plan.contains("BroadcastHashJoin Inner"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q_span_repeated's corpus-wide explode emits hashed longs, not span strings") {
    val plan = formatted("q_span_repeated")
    // the census path's posexplode must produce a LONG key column (#..L)
    // — a string-emitting explode would ship every span text through the
    // corpus-wide census shuffle. (The post-prune report re-derive DOES
    // group matched span strings; that side is bounded by matches.)
    val gens = plan.split("\n").filter(_.contains("posexplode"))
    assert(gens.nonEmpty, plan.take(2000))
    assert(gens.forall(_.matches(""".*\[pos#\d+, col#\d+L\]""")),
      gens.mkString("\n"))
    // and the census aggregation shuffles on the hashed key
    assert(plan.contains("hashpartitioning(sh#"), plan.take(4000))
  }

  test("q_select_diverse's ranking window is partitioned (no global sort)") {
    val plan = formatted("q_select_diverse")
    assert(!plan.matches("(?s).*Window.*\\[\\].*"), plan.take(2000))
    // the argmax assignment is a fused projection: exactly one scan of
    // embeddings feeds one partitioned window
    assert(plan.contains("partitionBy") || plan.contains("PartitionSpec") ||
      plan.contains("windowspecdefinition(cell"), plan.take(4000))
  }

  test("q_join_bucketed joins two bucketed scans without a join-side Exchange") {
    val plan = formatted("q_join_bucketed")
    assert(plan.contains("SelectedBucketsCount"), plan.take(4000))
    // the only Exchange is the post-join aggregation's, keyed on the
    // GROUP columns — never on the join key
    val exchanges = plan.split("\n").filter(_.contains("hashpartitioning"))
    assert(!exchanges.exists(e =>
      e.contains("doc_id") || e.contains("vec_id")), exchanges.mkString("\n"))
  }

  test("q_dedup_probe is a shuffle-free filter over the signature index") {
    // The serving-path contract: a point probe reads the persisted
    // signature artifact (parquet scan + band-literal filter) — no join,
    // no Exchange, no corpus re-hash anywhere in the plan.
    val plan = formatted("q_dedup_probe")
    assert(!plan.contains("Exchange"), plan.take(4000))
    assert(!plan.contains("Join"), plan.take(4000))
  }

  test("q_dedup_probe_simhash is a shuffle-free filter over the fingerprint index") {
    // Fingerprint-tier probe parity: pigeonhole chunk predicates +
    // XOR-popcount verify, all fused into the index scan.
    val plan = formatted("q_dedup_probe_simhash")
    assert(!plan.contains("Exchange"), plan.take(4000))
    assert(!plan.contains("Join"), plan.take(4000))
  }

  test("incremental near-dup deltas fuse cross and self below one (id_a, id_b) aggregate") {
    // Every family's delta sends its cross(old, new) and self(new)
    // candidate streams through ONE Union into ONE pair reduction
    // (dedup or shared-key count) — one exchange and AQE stage instead
    // of one per stream, from the one blocked-pairs core.
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }) ++ p.children).flatMap(nodes)
    def unionBelow(p: SparkPlan): Boolean = p match {
      case _: UnionExec => true
      case q: QueryStageExec => unionBelow(q.plan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        unionBelow(m.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unionBelow(a.executedPlan)
      // a verify that re-attaches values joins them onto the candidate
      // stream, its left side
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        unionBelow(j.left)
      case x if x.children.size == 1 => unionBelow(x.children.head)
      case _ => false
    }
    for (q <- Seq("q_dedup_incremental", "q_dedup_incremental_simhash",
        "q_dedup_incremental_ngram", "q_dedup_incremental_embedding")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val fused = nodes(plan).exists {
        case a: BaseAggregateExec =>
          Set("id_a", "id_b").subsetOf(a.groupingExpressions.map(_.name).toSet) &&
            unionBelow(a.child)
        case _ => false
      }
      assert(fused, s"$q: no Union below an (id_a, id_b) aggregate\n" +
        plan.treeString.take(4000))
    }
  }

  test("q_similarity_ivf_indexed probes the persisted index with a top-k heap") {
    // Index read (cell-filtered scan of the materialized assignment
    // table) + TakeOrderedAndProject — never a global sort, never a
    // per-query re-assignment join of the corpus.
    val plan = formatted("q_similarity_ivf_indexed")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
    assert(!hasGlobalSort(plan), plan.take(4000))
    assert(!plan.contains("Join"), plan.take(4000))
  }

  test("q_text_boilerplate anti-join is size-gated, not hardwired") {
    // The (group, line) frequency table grows with the number of
    // groups (domains × boilerplate lines) — unconditional broadcast
    // is a web-scale killer, so the strategy is size-gated (default:
    // Catalyst/AQE decide). At THIS fixture size the gate must resolve
    // DOWN to a broadcast — proving the gate works, without mandating
    // the strategy at every size.
    val plan = formatted("q_text_boilerplate")
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
  }

  test("boilerplate forced-shuffle anti-join adds no corpus-side exchange") {
    // The at-scale invariant (the REAL lock, replacing the former
    // BroadcastHashJoin mandate): forcing the shuffle anti-join must
    // not add a corpus-side shuffle over the broadcast plan — the
    // pre-partitioned exploded corpus feeds BOTH the frequency agg and
    // the anti-join probe side, so the (group, line) exchange is
    // shared and the total hash-exchange count stays ≤ the broadcast
    // variant's (which pays its own agg-side shuffles).
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "d1", "NAV\nalpha\nFOOT\nbeta"),
      (2L, "d1", "NAV\ngamma\nFOOT"),
      (3L, "d2", "NAV\nsolo page"),
      (4L, "d1", "NAV\nFOOT")).toDF("doc_id", "group", "text")
    val bc = graft.ext.Boilerplate.stripRepeatedLines(s, docs, 2,
      broadcastBoiler = Some(true))
    val sh = graft.ext.Boilerplate.stripRepeatedLines(s, docs, 2,
      broadcastBoiler = Some(false))
    // execute both so AQE's final plans (post stage-reuse) are locked
    assert(bc.collect().toSet == sh.collect().toSet)
    def fmt(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    def nEx(p: String) = nHashExchanges(p)
    val pBc = fmt(bc)
    val pSh = fmt(sh)
    assert(pSh.contains("ShuffledHashJoin") && pSh.contains("LeftAnti"),
      pSh.take(4000))
    assert(!"BroadcastHashJoin[^\\n]*LeftAnti".r.findFirstIn(pSh).isDefined,
      pSh.take(4000))
    assert(nEx(pSh) <= nEx(pBc),
      s"shuffle-path exchanges ${nEx(pSh)} > broadcast-path ${nEx(pBc)}\n" +
        pSh.take(4000))
  }

  test("q_text_trigram_diversity is one scan of projects, no shuffle") {
    // transform(sequence)/array_distinct are expression-level: the
    // whole per-document signal rides the document scan as projects
    // (the HOF project itself interprets — higher-order lambdas don't
    // codegen — but nothing shuffles, joins, or aggregates).
    val plan = formatted("q_text_trigram_diversity")
    assert(!plan.contains("Exchange"), plan.take(4000))
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      plan.take(4000))
    assert(plan.contains("codegen id"), plan.take(4000))
  }

  test("q_warc_wet / q_warc_html / q_jsonl_zst are shuffle-free source passes") {
    // the ingest contract: archive/corpus-shard readers emit their
    // document projection in ONE per-file pass — a Join or Exchange in
    // any of these plans means the source tier started paying corpus
    // shuffles just to READ
    for (q <- Seq("q_warc_wet", "q_warc_html", "q_jsonl_zst")) {
      val plan = formatted(q)
      assert(!plan.contains("Exchange"), s"$q\n" + plan.take(3000))
      assert(!plan.contains("Join"), s"$q\n" + plan.take(3000))
    }
    // r16: the HTML extraction is a codegen'd expression riding the
    // scan projection — a DeserializeToObject means the crawl→text
    // recovery regressed to a typed-map row-object round trip
    assert(!formatted("q_warc_html").contains("DeserializeToObject"),
      formatted("q_warc_html").take(3000))
  }

  test("q_warc_hosts parses the crawl ONCE: no join, one agg exchange") {
    // the host census must not re-parse the archives to pair host with
    // bytes — canonicalization rides the parse, so the per-host
    // aggregation's exchange pair is the plan's only shuffle
    val plan = formatted("q_warc_hosts")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(nHashExchanges(plan) == 1, plan.take(3000))
    // r16: canonicalization is a codegen'd expression riding the parse
    // projection — a DeserializeToObject here means the census regressed
    // to paying a row-object round trip per crawl record (VERDICT r15 #5)
    assert(!plan.contains("DeserializeToObject"), plan.take(3000))
  }

  test("q_pipeline_web's two dedups are its only exchanges") {
    // canonical-URL dedup + content dedup: exactly the two documented
    // shuffles (each an Exchange pair around partial/final aggs plus
    // the join re-use), and the extraction/repair stages add none.
    val plan = formatted("q_pipeline_web")
    val n = nHashExchanges(plan)
    assert(n <= 6, s"exchange count $n\n" + plan.take(4000))
    assert(n >= 1, "counter broken: a two-dedup chain cannot be " +
      "exchange-free\n" + plan.take(2000))
    // r16: the four per-row cleanup stages are codegen'd expressions —
    // the typed-op form of this chain paid TEN DeserializeToObject
    // boundaries (PlanAudit); regression here means a cleanup stage
    // fell back to a typed map
    assert(!plan.contains("DeserializeToObject"), plan.take(4000))
  }
}
