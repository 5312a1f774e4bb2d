package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

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
  * Scenario `plan-audit` of [[Run]].
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
          Run.release(spark)
          Audit(name, deser, exch, smj, cart, None)
        } catch {
          case e: Throwable =>
            Audit(name, -1, -1, -1, -1,
              Some(String.valueOf(e.getMessage).take(200)))
        }
    }

  /** `plan-audit [sfDir]`: the audit's totals, and each query with a
    * deser boundary, sort-merge join or cartesian product. */
  def run(spark: SparkSession, a: Seq[String]): Run.Metrics = {
    val rows = audit(spark, Run.arg(a, 0, "sfDir"))
    def feature(a: Audit) = a.deser != 0 || a.smj > 0 || a.cartesian > 0
    ListMap("queries" -> rows.size,
      "with_deser" -> rows.count(_.deser > 0),
      "with_smj" -> rows.count(_.smj > 0),
      "with_cartesian" -> rows.count(_.cartesian > 0),
      "errors" -> ListMap(rows.flatMap(a => a.error.map(a.name -> _)): _*),
      "flagged" -> ListMap(rows.filter(feature).map(a => a.name ->
        ListMap("deser" -> a.deser, "exchanges" -> a.exchanges,
          "smj" -> a.smj, "cartesian" -> a.cartesian)): _*))
  }
}
