package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Materialize an sf1-EQUIVALENT fixture set (VERDICT r9 next-round #7)
  * by replicating the driver's sf0.1 parquet `factor`× with
  * FK-CONSISTENT key offsets — the driver generates fixtures only up to
  * sf0.1, so the 10× point is derived, clearly labeled, and used for
  * BENCH ONLY (correctness stays gated on the driver's own fixtures at
  * sf0.01). Per-table treatment:
  *
  *   - region / nation: copied once (TPC-H's own scaling holds the
  *     small dimensions constant);
  *   - customer / supplier / part / orders / lineitem: every PK and FK
  *     offset by replica × 10^7, so joins resolve within a replica and
  *     fact/dim ratios scale exactly like TPC-H SF does;
  *   - events: event_id / user_id offset (key population grows, per-key
  *     span structure constant — how an event log actually scales);
  *   - documents: ids offset, replica texts vowel-translated so the
  *     DUPLICATE RATE stays constant instead of every doc gaining
  *     factor−1 exact twins (the IncrementalStress de-correlation
  *     argument); n_chars is length-preserved by translate;
  *   - embeddings: ids offset, vectors element-rotated per replica
  *     (norms and pairwise structure preserved within a replica).
  *
  * Scenario `scale-up` of [[Run]]; then
  * `SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench`.
  */
object ScaleUp {

  /** `scale-up <sfDir> <outDir> [factor]`: rows written per table. */
  def run(spark: SparkSession, a: Seq[String]): Run.Metrics = {
    val outDir = Run.arg(a, 1, "outDir")
    ListMap("out_dir" -> outDir, "rows" -> replicateTo(spark,
      Run.arg(a, 0, "sfDir"), outDir, Run.intArg(a, 2, 10)))
  }

  /** The replication itself, returning the rows written per table
    * (ScaleUpSpec locks FK consistency and duplicate-rate preservation
    * at factor 2). */
  def replicateTo(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): ListMap[String, Long] = {
    val off = 10000000L
    val vowelMaps = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
      "aeiuo", "eioau", "oiaue", "uoiea", "euoia", "ioeua", "oueai")

    def write(name: String, df: DataFrame): (String, Long) = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      name -> spark.read.parquet(s"$outDir/$name.parquet").count()
    }
    def replicate(name: String, keyCols: Seq[String])(
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d)
        : (String, Long) = {
      val base = Tables(spark, sfDir, name)
      write(name, (0 until factor).map { i =>
        val keyed = keyCols.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * off)))
        perReplica(keyed, i)
      }.reduce(_ unionByName _))
    }

    ListMap(
      write("region", Tables(spark, sfDir, "region")),
      write("nation", Tables(spark, sfDir, "nation")),
      replicate("customer", Seq("c_custkey"))(),
      replicate("supplier", Seq("s_suppkey"))(),
      replicate("part", Seq("p_partkey"))(),
      replicate("orders", Seq("o_orderkey", "o_custkey"))(),
      replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))(),
      replicate("events", Seq("event_id", "user_id"))(),
      replicate("documents", Seq("doc_id")) { (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
          translate(col("text"), "aeiou", vowelMaps(i % vowelMaps.size)))
      },
      replicate("embeddings", Seq("vec_id")) { (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding",
          concat(slice(col("embedding"), i % 64 + 1, 64 - i % 64),
            slice(col("embedding"), 1, i % 64)).cast("array<float>"))
      })
  }
}
