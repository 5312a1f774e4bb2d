package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Caches, Census}

/** The distributed prefix/rank primitive behind deterministicShuffle,
  * selectByBudget, and exact ntile binning. Two properties matter:
  * value-equality with the single-partition window encoding, and the
  * physical guarantee that census + rank read ONE materialized range
  * shuffle (the shared-RDD barrier) — that pin is what makes the
  * persist()-free design correct (the range partitioner samples its
  * boundaries; two independent executions could disagree). */
class CensusSpec extends AnyFunSuite with SparkTestSupport {

  private def corpus(n: Int) = {
    val s = spark
    import s.implicits._
    // pseudo-random but deterministic value column with ties
    (0 until n).map(i => (i.toLong, (i * 37 + 11) % 13, 1L + i % 5))
      .toDF("id", "v", "w")
  }

  test("prefix(value=1) equals the global row_number, any partition count") {
    val d = corpus(200)
    val order = Seq(col("v").desc, col("id").asc)
    val expected = d.withColumn("rank",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 3, 8)) {
      val got = Census.prefix(d, order, lit(1L), parts)
        .select(col("id"), (col("__off") + col("__run")).as("rank"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("prefix(value=w) equals the global running sum; __n is the total") {
    val d = corpus(150)
    val order = Seq(col("v").asc, col("id").asc)
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val expected = d.withColumn("cum", sum("w").over(w))
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Census.prefix(d, order, col("w"), 4)
      .select(col("id"), (col("__off") + col("__run")).as("cum"), col("__n"))
      .collect()
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    val total = d.agg(sum("w")).head.getLong(0)
    assert(rows.map(_.getLong(2)).distinct.toSeq == Seq(total))
  }

  test("census and rank passes read ONE pinned range shuffle (shared RDD)") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val res = Census.prefix(corpus(1000),
      Seq(col("v").desc, col("id").asc), lit(1L), 4)
    val qe = res.queryExecution
    qe.executedPlan.executeCollect() // finalize the AQE stage graph
    def scans(p: SparkPlan): Seq[RDDScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: RDDScanExec => Seq(s)
      case other =>
        (other.children ++ other.subqueries).flatMap(scans)
    }
    val rddIds = scans(qe.executedPlan).map(_.rdd.id)
    // both branches (census + rank) scan, and they scan the SAME RDD —
    // the barrier that pins one physical range partitioning
    assert(rddIds.size >= 2 && rddIds.distinct.size == 1, rddIds)
  }

  test("ntileBucket matches the ntile window function (sizes, ties, n<k)") {
    for (n <- Seq(1, 3, 4, 5, 17, 100); k <- Seq(2, 4, 7)) {
      val d = corpus(n)
      val order = Seq(col("v").desc, col("id").asc)
      val expected = d.withColumn("b",
          ntile(k).over(Window.orderBy(order: _*)))
        .select("id", "b").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = Census.prefix(d, order, lit(1L), 3)
        .withColumn("b",
          Census.ntileBucket(col("__off") + col("__run"), col("__n"), k))
        .select("id", "b").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == expected, s"n=$n k=$k")
    }
  }

  test("quantilesDisc equals sorted order statistics at rank ceil(q·n)") {
    val d = corpus(137) // value column has ties
    val sortedVals = d.select("v").collect().map(_.getInt(0)).sorted
    val qs = Seq(0.25, 0.5, 0.875)
    val got = Census.quantilesDisc(d.select(col("id"), col("v")), "v",
        col("id").asc, qs, 4)
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    for (q <- qs)
      assert(got(q) == sortedVals(math.ceil(q * 137).toInt - 1), s"q=$q")
  }

  test("census ops leave no cached RDDs behind (persist-free + releaseAll)") {
    import graft.ops.{Budget, Shuffling}
    spark.sharedState.cacheManager.clearCache()
    Caches.releaseAll() // drain tracked state from earlier suites
    Shuffling.deterministicShuffle(corpus(100), "id", "e0", 4).count()
    Budget.selectByBudget(corpus(100), "w", col("v").desc, "id", 50L, 4).count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // dedup family persists internally through Caches.track: drained by
    // one releaseAll once results are materialized
    val s = spark
    import s.implicits._
    val docs = (0 until 40).map(i => (i.toLong, s"some text $i " * 5))
      .toDF("doc_id", "text")
    graft.ext.Dedup.MinHash(numHashes = 8, bands = 4, threshold = 0.5,
        shingle = 3, family = graft.ext.Dedup.XxHash)
      .textPairs(docs, "text", "doc_id").count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty) // tracked, live
    Caches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("connectedComponents holds ONE checkpoint, drained by releaseAll") {
    val s = spark
    import s.implicits._
    Caches.releaseAll()
    // a 10-node chain forces several propagation rounds (one per hop)
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = graft.ext.Dedup.connectedComponents(pairs)
    assert(cc.collect().map(_.getLong(1)).toSet == Set(0L)) // one class
    // superseded rounds were unpersisted as the loop advanced: only the
    // final labels checkpoint (one RDD) may remain live
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.size <= 1, s"leaked ${live.size} checkpoint RDDs")
    Caches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
