package graft

import java.nio.file.Files
import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Serving
import graft.streaming.ShardedUpsertSink

/** Plan shapes of the live dashboard's path through the keyed serving
  * store: a merge plans ONE shuffle, on `shard`, under its write and
  * infers no schema with a job of its own; a view resolution launches
  * no Spark job; over a view that fits one advisory partition each
  * serving query runs ONE job of one task with no exchange; and a
  * trigger's merge and reads reuse generated code instead of compiling
  * it again. */
class ServingShapeSpec extends AnyFunSuite with SparkTestSupport {

  private val keys = Seq("app_name", "time_year", "time_month", "time_day")

  /** A 4-shard store of two versions: a wide first merge of 40 keys,
    * then a one-key update, so the view unions two owner versions. */
  private def store(): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-serving-shape").toString
    def merge(rows: Seq[(String, Int, Int, Int, Double, Long)], id: Long) =
      ShardedUpsertSink.mergeBatch(s, dir, keys, Nil, shards = 4)(
        rows.toDF(keys :+ "A_value" :+ "T_reviews": _*), id)
    merge((0 until 40).map(i =>
      (s"g${i % 8}", 2024, 1 + i % 3, 1 + i / 8, i.toDouble, i.toLong)), 0L)
    merge(Seq(("g3", 2024, 1, 1, 99.0, 7L)), 1L)
    dir
  }

  /** `body`'s result and the properties of the jobs it launched (stage
    * task counts under `tasks`). Jobs are told apart by a thread-local
    * tag; a sentinel job submitted afterwards flushes the listener queue,
    * whose events arrive in order. */
  private def jobsOf[T](body: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val tag = s"serving-shape-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("graft.test.tag")) match {
          case Some(t) if t == tag =>
            val p = new Properties()
            p.putAll(j.properties)
            p.setProperty("tasks", j.stageInfos.map(_.numTasks).sum.toString)
            jobs.add(p)
          case Some(t) if t == s"$tag-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      val out = try body finally sc.setLocalProperty("graft.test.tag", null)
      sc.setLocalProperty("graft.test.tag", s"$tag-flush")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.tag", null)
      assert(flushed.await(20, TimeUnit.SECONDS), "listener queue not flushed")
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Every node of an executed plan, through adaptive plans and their
    * query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  private def exchanges(p: SparkPlan): Seq[Exchange] =
    nodes(p).collect { case e: Exchange => e }

  private def withAdvisory[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The three dashboard reads, as `ServingHttp` runs them. */
  private def reads(view: DataFrame): Seq[(String, DataFrame)] = Seq(
    "timeSeries" -> Serving.timeSeries(view, "g3", "A_value"),
    "ranking" -> Serving.ranking(view, "T_reviews", Some(2024), Some(1)),
    "distinctGames" -> Serving.distinctGames(view)).map { case (n, q) =>
    n -> q.toJSON.toDF() }

  test("currentView resolves the view without a Spark job") {
    val dir = store()
    val (view, jobs) = jobsOf {
      val v = ShardedUpsertSink.currentView(spark, dir).get
      v.schema // what ServingHttp's metric check reads
      v
    }
    assert(jobs.isEmpty, s"view resolution launched ${jobs.size} job(s)")
    assert(view.count() == 40)
  }

  test("each serving read over a small view is one job of one task, no exchange") {
    val dir = store()
    val view = ShardedUpsertSink.currentView(spark, dir).get
    val expected = withAdvisory("1") {
      reads(ShardedUpsertSink.currentView(spark, dir).get)
        .map { case (n, q) => n -> q.collect().map(_.getString(0)).toSeq }
    }
    reads(view).zip(expected).foreach { case ((name, q), (_, want)) =>
      val (got, jobs) = jobsOf(q.collect().map(_.getString(0)).toSeq)
      assert(got == want, name)
      assert(jobs.size == 1, s"$name ran ${jobs.size} jobs")
      assert(jobs.head.getProperty("tasks") == "1", name)
      assert(exchanges(q.queryExecution.executedPlan).isEmpty,
        s"$name:\n${q.queryExecution.executedPlan}")
    }
  }

  test("a view above the advisory size keeps its scan partitions") {
    val dir = store()
    withAdvisory("1") {
      val view = ShardedUpsertSink.currentView(spark, dir).get
      assert(view.queryExecution.toRdd.getNumPartitions > 1)
      val (name, q) = reads(view).head
      q.collect()
      assert(exchanges(q.queryExecution.executedPlan).nonEmpty,
        s"$name:\n${q.queryExecution.executedPlan}")
    }
  }

  test("a merge plans one exchange, on shard, and infers no schema with a job") {
    val s = spark
    import s.implicits._
    val dir = store()
    val writes = new ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.nodeName.contains("InsertIntoHadoopFsRelation"))
          writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val (_, jobs) =
      try jobsOf {
        ShardedUpsertSink.mergeBatch(s, dir, keys, Nil, shards = 4)(
          Seq(("g5", 2024, 2, 2, 5.0, 1L), ("g9", 2024, 3, 3, 9.0, 1L))
            .toDF(keys :+ "A_value" :+ "T_reviews": _*), 2L)
      } finally spark.listenerManager.unregister(qel)
    // a schema-inference job runs outside any SQL execution
    val outside = jobs.filter(_.getProperty("spark.sql.execution.id") == null)
    assert(outside.isEmpty, s"${outside.size} job(s) outside a SQL execution")
    assert(writes.size == 1, s"${writes.size} writes")
    val ex = exchanges(writes.peek().executedPlan)
    assert(ex.size == 1, writes.peek().executedPlan.toString)
    ex.head match {
      case e: ShuffleExchangeLike =>
        e.outputPartitioning match {
          case HashPartitioning(Seq(a: AttributeReference), _) =>
            assert(a.name == "shard", e.toString)
          case other => fail(s"not hashed on shard alone: $other")
        }
      case other => fail(s"not a shuffle: $other")
    }
    assert(ShardedUpsertSink.currentView(spark, dir).get.count() == 41)
  }

  test("repeated merges and reads compile no new code") {
    // the batch is a computed plan, as a stream's micro-batch is: a
    // projection over it is whole-stage generated, where a local
    // relation would be folded on the driver
    val dir = store()
    def merge(id: Long): Unit =
      ShardedUpsertSink.mergeBatch(spark, dir, keys, Nil, shards = 4)(
        spark.range(40).select(
          concat(lit("g"), (col("id") % 8).cast("string")).as("app_name"),
          lit(2024).as("time_year"),
          (col("id") % 3 + 1).cast("int").as("time_month"),
          (col("id") / 8 + 1).cast("int").as("time_day"),
          (col("id") * 1.5).as("A_value"),
          col("id").as("T_reviews")), id)
    def readAll(): Unit =
      reads(ShardedUpsertSink.currentView(spark, dir).get)
        .foreach(_._2.collect())
    // warm: the first run of each plan compiles — the reads of the
    // store's view, which has two owner versions (its one-key update
    // left one shard to v=1), and merge 2, whose predecessor that view
    // is. Merge 2 touches all four shards, so from then on the view and
    // each merge's predecessor have one owner version, as on a dashboard
    // trigger: the move from two owners to one compiles nothing either
    readAll(); merge(2L)
    (3L to 5L).foreach { id =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      readAll()
      merge(id)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
        s"merge $id and the reads before it compiled new code")
    }
  }
}
