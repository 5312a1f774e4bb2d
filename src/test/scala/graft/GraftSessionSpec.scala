package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The suite, Bench, Verify and the tools all build their session
  * through [[GraftSession]], so what the specs check is what the
  * product runs. */
class GraftSessionSpec extends AnyFunSuite with SparkTestSupport {

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  test("the suite runs the product session") {
    val conf = spark.conf
    assert(conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      == "false")
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "2")
    assert(spark.sparkContext.master == "local[2]")
  }

  test("the sized local session sets the bench's AQE sizes for its input") {
    val sf = "/root/testdata/sf0.001"
    // the bench at sf0.001: a sub-MB footprint floors the advisory size
    // at 1 MB on any core count; coalesced partitions floor at 256 KB
    for (cores <- Seq(1, 4, 32))
      assert(GraftSession.fixtureSized(sf, cores).toMap ==
        Map(advisory -> "1048576", minSize -> "262144"))
    // the footprint term: 4 partitions per core, clamped to [1, 64] MB
    assert(GraftSession.advisoryPartitionBytes(64L << 20, 2) == (8L << 20))
    assert(GraftSession.advisoryPartitionBytes(1L << 40, 2) == (64L << 20))
    // the sized builder applies them: getOrCreate hands back the running
    // session (the suite's) with the runtime confs set; restore them
    val running = SparkSession.active
    val prev = Seq(advisory, minSize).map(k => k -> running.conf.getOption(k))
    try {
      val sized = GraftSession.local(2, sf)
      assert(sized eq running)
      assert(sized.conf.get(advisory) == "1048576")
      assert(sized.conf.get(minSize) == "262144")
    } finally prev.foreach {
      case (k, Some(v)) => running.conf.set(k, v)
      case (k, None) => running.conf.unset(k)
    }
  }
}
