package graft
import java.nio.file.{Files, Paths}

import graft.tools.Run
import graft.tools.Run.jstr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names — local targeted
    // re-dump while iterating (the driver always runs the full set).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the bench's session: results are partition-count invariant, and
    // this keeps the dumped plans the same shape the bench times
    val spark = Run.session(Some(sfDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // several operators persist() intermediates; don't let 25 queries'
      // worth accumulate in one JVM
      Run.release(spark)
    }
    // -------- structural invariants (self-contained re-reads) ---------
    // Since round 9 the xxhash64 twins (q_dedup_minhash_pairs /
    // q_dedup_minhash / q_dedup_simhash_pairs) fold their structural
    // contracts into BIGINT flag columns that the DuckDB oracle
    // hash-checks directly (all-1 expected, next to the portable twin's
    // exact counts) — the driver's CORRECTNESS gate is the primary
    // validation. This block re-reads those flags so the committed
    // structural report stays self-contained, and keeps the exact
    // twin/portable count-ratio drift telemetry (read from the
    // [[QueriesExt]] materialized artifacts, already built by the dump).
    if (only.isEmpty) try {
      import org.apache.spark.sql.functions.col
      def read(name: String) = spark.read.parquet(s"$outDir/$name")
      val checks = scala.collection.mutable.LinkedHashMap[String, Boolean]()
      def allOnes(name: String, flags: Seq[String]): Unit = {
        val df = read(name)
        flags.foreach { f =>
          checks(s"$name.$f") = df.filter(col(f) =!= 1L).count() == 0
        }
      }
      allOnes("q_dedup_minhash_pairs", Seq("canonical_order", "no_dup",
        "subset_of_corpus", "score_in_range", "ratio_within_2x"))
      allOnes("q_dedup_minhash", Seq("survivors_subset", "partition_ok",
        "dropped_within_2x"))
      allOnes("q_dedup_simhash_pairs", Seq("canonical_order", "no_dup",
        "subset_of_corpus", "score_in_range", "ratio_within_2x"))
      // Numeric drift telemetry beside the boolean bounds: the exact
      // twin/portable pair-count ratios, so cross-round trend (not just
      // the 2× flag) is visible in the committed artifact.
      val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
      QueriesExt.twinPortablePairCounts(spark, sfDir).foreach {
        case (fam, (twin, portable)) =>
          metrics(s"${fam}_pairs.twin_count") = twin.toDouble
          metrics(s"${fam}_pairs.portable_count") = portable.toDouble
          metrics(s"${fam}_pairs.twin_over_portable_ratio") =
            if (portable > 0) twin.toDouble / portable else -1.0
      }
      // q_distinct_sketch / q_freq_sketch now carry their sketch
      // contracts as BIGINT flag columns that the DuckDB oracle
      // hash-checks (all-1 expected), so the driver's CORRECTNESS gate
      // validates them directly; the flag re-reads here just keep the
      // structural report self-contained.
      val ds = read("q_distinct_sketch")
      checks("distinct_sketch.estimate_within_5pct_of_exact") =
        ds.filter(col("within_tol") =!= 1L).count() == 0
      checks("distinct_sketch.merge_within_1pct_of_whole") =
        ds.filter(col("merge_consistent") =!= 1L).count() == 0
      val fs = read("q_freq_sketch")
      checks("freq_sketch.never_underestimates") =
        fs.filter(col("never_under") =!= 1L).count() == 0
      checks("freq_sketch.overestimate_within_eps_n") =
        fs.filter(col("within_eps") =!= 1L).count() == 0
      checks("freq_sketch.merge_equals_whole") =
        fs.filter(col("merge_consistent") =!= 1L).count() == 0
      val sj = (checks.map { case (k, v) => s""""$k": $v""" } ++
        metrics.map { case (k, v) => s""""$k": ${f"$v%.4f"}""" })
        .mkString("{", ", ", "}")
      Files.writeString(Paths.get(s"$outDir/structural_checks.json"), sj)
      val failed = checks.collect { case (k, false) => k }
      if (failed.nonEmpty)
        System.err.println(
          s"[verify] STRUCTURAL CHECK FAILED: ${failed.mkString(", ")}")
      else println(s"[verify] structural checks: ${checks.size}/${checks.size} ok")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] structural checks errored: ${e.getMessage}")
    } // targeted runs (`only`) skip structural checks, not the SQL dump

    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
