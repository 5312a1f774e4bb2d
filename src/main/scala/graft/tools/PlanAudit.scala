package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Registry-wide physical-plan audit: explains every SparkEntry query
  * at the given sf dir and reports, per query, the plan features that
  * matter at 100 TB — typed object boundaries (DeserializeToObject:
  * each one is a per-row InternalRow⇄JVM-object round trip),
  * hash-shuffle exchange count, sort-merge joins, and cartesian
  * products. The r16 expression-izing work (UrlPartExpr, HtmlTextExpr,
  * HttpBodyBytesExpr) was driven by exactly this signal; this tool
  * makes the remaining population a reviewable table instead of a
  * per-query spelunk, so a future regression (a typed map sneaking
  * into a hot census) is one diff away from visible.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir]
  *
  * Frozen as a REGRESSION GATE in r17 (VERDICT r16 #3): PlanAuditSpec
  * runs [[audit]] over the whole registry at sf0.001 inside `sbt test`
  * and fails on any NEW deser/SMJ/cartesian outside the adjudicated
  * whitelist it documents (SURVEY §18.11).
  */
object PlanAudit {

  /** One query's plan features: (deser boundaries, exchanges,
    * sort-merge joins, cartesian products); -1s = explain failed. */
  final case class Audit(name: String, deser: Int, exchanges: Int,
      smj: Int, cartesian: Int, error: Option[String])

  /** Explain every registry query at `sfDir` and extract the plan
    * features that matter at 100 TB. Plan-only — nothing executes —
    * but artifact-backed queries may build their (sf0.001-sized)
    * artifacts at construction time. */
  def audit(spark: SparkSession, sfDir: String): Seq[Audit] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val tree = plan.split("== Initial Plan ==")(0)
          val deser = " DeserializeToObject".r.findAllIn(tree).length
          val exch = " Exchange \\(".r.findAllIn(tree).length
          val smj = " SortMergeJoin".r.findAllIn(tree).length
          val cart = "CartesianProduct".r.findAllIn(tree).length
          spark.catalog.clearCache()
          graft.ops.Caches.releaseAll()
          Audit(name, deser, exch, smj, cart, None)
        } catch {
          case e: Throwable =>
            Audit(name, -1, -1, -1, -1,
              Some(String.valueOf(e.getMessage).take(200)))
        }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val rows = audit(spark, sfDir)
    rows.flatMap(a => a.error.map(a.name -> _)).foreach { case (n, e) =>
      System.err.println(s"[audit] $n failed: $e")
    }
    println("[audit] query deser exchanges smj cartesian")
    rows.foreach { a =>
      if (a.deser != 0 || a.smj > 0 || a.cartesian > 0)
        println(f"[audit] ${a.name}%-40s ${a.deser}%2d ${a.exchanges}%2d ${a.smj}%2d ${a.cartesian}%2d")
    }
    println(s"[audit] TOTAL queries=${rows.size} " +
      s"with_deser=${rows.count(_.deser > 0)} " +
      s"with_smj=${rows.count(_.smj > 0)} " +
      s"with_cartesian=${rows.count(_.cartesian > 0)} " +
      s"errors=${rows.count(_.error.isDefined)}")
    spark.stop()
  }
}
