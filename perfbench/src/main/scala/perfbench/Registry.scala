package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft._

/** One pass over a fixed slice of the `SparkEntry.queries` registry on
  * the generated tables, in a fresh JVM: what a user running the registry
  * sees, including JIT warm-up and the memoized corpus artifacts the
  * engine builds on first use. Set-up runs only the core queries, over a
  * small separate table set, so the pass does not start with the JVM's
  * first Spark job; it runs them Main.SetupRounds times, caches released
  * after each query as in the pass. Each query is timed from the
  * call that builds its DataFrame (`registry.plan`) through writing its
  * complete result as parquet (`registry.execute`): every column is
  * materialized, which `.count()` would let column pruning skip. run.py
  * then compares each result with the query's DuckDB oracle over the same
  * tables.
  *
  * The unit of work is the pass, so `--seconds` does not bound this
  * workload: a second pass in the same JVM would find the artifacts
  * built and measure something else. */
object Registry {

  /** The measured slice: four of the queries ROADMAP names as targets
    * plus cheap representatives, so that every family runs. A pass over
    * all 188 queries takes over three minutes on a 4-cpu host, longer
    * than a run may last. The fifth target, `q_dedup_cc_incremental`, is
    * left out: it costs 8-13 s per pass and its DuckDB oracle 24 s. */
  val Selected: Seq[String] = Seq(
    "q_daily_summary", "q_serving_ranking", "q_join_fact",      // core
    "q_dedup_minhash", "q_dedup_exact",                         // dedup
    "q_similarity_brute",                                       // similarity
    "q_keywords_tfidf", "q_pipeline_curate", "q_text_tokens",   // text
    "q_multimodal_decode",                                      // multimodal
    "q_warc_pipeline",                                          // sources
    "q_ntile_difficulty", "q_heavy_hitters")                    // ops

  /** ROADMAP targets reported one by one. */
  val Targets = Seq("q_pipeline_curate", "q_warc_pipeline", "q_keywords_tfidf",
    "q_ntile_difficulty")

  val Families = Seq("core", "dedup", "similarity", "text", "multimodal",
    "sources", "ops")

  private val core = (Queries.all ++ QueriesAnalytics.all ++ QueriesJoins.all ++
    QueriesRelational.all).map(_.name).toSet
  private val sources = QueriesWarc.all.map(_.name).toSet

  /** Family of a query: by declaring file, then by name prefix. */
  def family(q: String): String =
    if (core(q)) "core"
    else if (sources(q)) "sources"
    else if (q.startsWith("q_warc_")) "sources"
    else if (Seq("q_dedup_", "q_dup_", "q_span_").exists(q.startsWith)) "dedup"
    else if (q.startsWith("q_similarity_")) "similarity"
    else if (Seq("q_multimodal_", "q_archive_").exists(q.startsWith)) "multimodal"
    else if (Seq("q_text_", "q_bpe_", "q_keywords_", "q_vocab_", "q_oov_",
        "q_fuzzy_", "q_pipeline_curate", "q_score_", "q_dataset_card",
        "q_curation_", "q_filter_rules").exists(q.startsWith)) "text"
    else "ops"

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer,
      counters: Counters, r: Main.Result): Unit = {
    val tables = s"${a.dir}/tables"
    val results = s"${a.dir}/results"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val registry = SparkEntry.queries
    val unchecked = Selected.filterNot(SparkEntry.oracleSql.contains)
    require(unchecked.isEmpty, s"no oracle to check ${unchecked.mkString(",")}")
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(Tables(spark, tables, _))
    // set-up, Main.SetupRounds times: the core queries over a small
    // warm-up table set, so the pass does not start with the JVM's first
    // Spark job
    spark.sparkContext.setLocalProperty("perfbench.tag", "warm-up")
    val rounds = (1 to Main.SetupRounds).map { i =>
      val t0 = System.nanoTime()
      Selected.filter(family(_) == "core").foreach { q =>
        registry(q)(spark, s"${a.dir}/warm").write.mode("overwrite")
          .parquet(s"${a.dir}/warm-results/$q")
        spark.catalog.clearCache()
        graft.ops.Caches.releaseAll()
      }
      val s = (System.nanoTime() - t0) / 1e9
      r.report(s"setup_round_${i}_s") = s
      s
    }
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
    Main.setupDone(r, rounds)

    val times = mutable.LinkedHashMap.empty[String, Double]
    val planMs = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.LinkedHashMap.empty[String, String]
    var artifactS, artifacts = 0.0
    Selected.foreach { q =>
      spark.sparkContext.setLocalProperty("perfbench.tag", s"q:$q")
      val before = Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
      val t0 = System.nanoTime()
      try tracer.span("registry.query", q) {
        val df = tracer.span("registry.plan") { registry(q)(spark, tables) }
        planMs += (System.nanoTime() - t0) / 1e6
        tracer.span("registry.execute") {
          df.write.mode("overwrite").parquet(s"$results/$q")
        }
        times(q) = (System.nanoTime() - t0) / 1e9
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      } finally {
        spark.catalog.clearCache()
        graft.ops.Caches.releaseAll()
        spark.sparkContext.setLocalProperty("perfbench.tag", null)
      }
      // memoized artifacts live in new directories under the temp root
      val built = Option(tmp.list()).map(_.toSet).getOrElse(Set.empty) -- before
      if (built.nonEmpty) {
        artifacts += built.size
        artifactS += times.getOrElse(q, 0.0)
      }
      Main.phase(f"$q ${times.getOrElse(q, -1.0)}%.3f s")
    }

    val pass = times.values.sum
    r.e2e("latency_ms") = pass * 1e3
    r.report("registry_s") = pass
    r.report("query_p50_s") = Stats.p50(times.values)
    r.report("queries") = Selected.size
    times.foreach { case (q, s) => r.report(s"query_s.$q") = s }
    r.attempted = Selected.size
    r.failed = errors.size

    Main.drain(counters)
    Families.foreach { f =>
      val qs = Selected.filter(family(_) == f)
      val cs = qs.map(q => counters.get(s"q:$q"))
      def sum(k: String) = cs.map(_(k)).sum
      r.layers(s"registry.$f.s") = qs.flatMap(times.get).sum
      r.layers(s"registry.$f.jobs") = sum("jobs")
      r.layers(s"registry.$f.tasks") = sum("tasks")
      r.layers(s"registry.$f.shuffle_bytes") = sum("shuffle_bytes")
      r.layers(s"registry.$f.spill_bytes") = sum("spill_bytes")
    }
    r.layers("registry.plan_ms") = Stats.p50(planMs)
    // the calls that built a memoized artifact, whole
    r.layers("registry.artifact_build_s") = artifactS
    r.report("artifact_dirs_built") = artifacts
    Targets.foreach(q => r.layers(s"$q.s") = times.getOrElse(q, 0.0))

    val queries = Selected.filter(times.contains).map { q =>
      q -> Map("s" -> times(q), "family" -> family(q),
        "oracle" -> SparkEntry.oracleSql(q))
    }
    Files.write(Paths.get(s"${a.dir}/registry.json"), Json.obj(Seq(
      "queries" -> queries.toMap, "errors" -> errors.toMap)).getBytes(UTF_8))
    // run.py completes the verdict with the oracle comparison
    r.correct = errors.isEmpty
    r.check = s"${times.size}/${Selected.size} queries ran" +
      (if (errors.isEmpty) "" else "; errors: " + errors.keys.mkString(","))
  }
}
