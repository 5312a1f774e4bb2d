package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (JVM-singleton — Spark
  * reuses it via getOrCreate, so suites don't pay session startup each).
  * It is the product session ([[GraftSession.local]]), so the suite runs
  * the configuration that Bench, Verify and the tools run. */
object SparkTest {
  lazy val spark: SparkSession = GraftSession.local(2)
}

trait SparkTestSupport {
  lazy val spark: SparkSession = SparkTest.spark
}
