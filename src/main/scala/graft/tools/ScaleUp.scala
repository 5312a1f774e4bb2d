package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

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
  * Usage: runMain graft.tools.ScaleUp [sfDir] [outDir] [factor]
  * then:  SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1equiv"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    replicateTo(spark, sfDir, outDir, factor)
    spark.stop()
  }

  /** The replication itself (ScaleUpSpec locks FK consistency and
    * duplicate-rate preservation at factor 2). */
  def replicateTo(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val off = 10000000L
    val vowelMaps = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
      "aeiuo", "eioau", "oiaue", "uoiea", "euoia", "ioeua", "oueai")

    def write(name: String, df: DataFrame): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    def replicate(name: String, keyCols: Seq[String])(
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = Tables(spark, sfDir, name)
      write(name, (0 until factor).map { i =>
        val keyed = keyCols.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * off)))
        perReplica(keyed, i)
      }.reduce(_ unionByName _))
    }

    write("region", Tables(spark, sfDir, "region"))
    write("nation", Tables(spark, sfDir, "nation"))
    replicate("customer", Seq("c_custkey"))()
    replicate("supplier", Seq("s_suppkey"))()
    replicate("part", Seq("p_partkey"))()
    replicate("orders", Seq("o_orderkey", "o_custkey"))()
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    replicate("events", Seq("event_id", "user_id"))()
    replicate("documents", Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        translate(col("text"), "aeiou", vowelMaps(i % vowelMaps.size)))
    }
    replicate("embeddings", Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        concat(slice(col("embedding"), i % 64 + 1, 64 - i % 64),
          slice(col("embedding"), 1, i % 64)).cast("array<float>"))
    }
    println(s"[scaleup] wrote ${factor}x $sfDir → $outDir")
  }
}
