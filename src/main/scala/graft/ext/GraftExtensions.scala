package graft.ext

import graft.yelp.Transforms
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** UDF de-opacification (SURVEY.md §4.3): any registered Scala UDF
  * named `map_super_category` — the parity-exact form of the
  * reference's Python UDF (reference glue_job.py:72) — is rewritten to
  * the native [[SuperCategoryExpr]]. The UDF is a codegen and pushdown
  * barrier; the rewrite removes it from the plan entirely, which is
  * the difference between a serialization wall and whole-stage codegen
  * on a 100 TB scan.
  */
object UdfRewriteRule extends Rule[LogicalPlan] {
  val TargetUdfName = "map_super_category"

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case u: ScalaUDF if u.udfName.contains(TargetUdfName) &&
          u.children.size == 1 =>
        SuperCategoryExpr(u.children.head, Transforms.keywordOrder)
    }
}

/** Session extension installer: injects the optimizer rule and
  * registers `super_category` as a SQL function backed by the native
  * expression. Usable two ways:
  *
  *  - build time: `withExtensions(new GraftExtensions)` when the
  *    session is made (or `spark.sql.extensions=graft.ext.GraftExtensions`);
  *  - runtime: `GraftExtensions.install(spark)` for sessions the
  *    driver already created (uses experimental extraOptimizations +
  *    the function registry — same effect, no session rebuild).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => UdfRewriteRule)
    e.injectOptimizerRule(_ => GlobalWindowRewriteRule)
  }
}

object GraftExtensions {
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(UdfRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ UdfRewriteRule
    if (!spark.experimental.extraOptimizations
        .contains(GlobalWindowRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GlobalWindowRewriteRule
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "super_category",
      exprs => SuperCategoryExpr(exprs.head, Transforms.keywordOrder),
      "scala_udf")
    // the codegen expression library, exposed to SQL users too
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => DotProductExpr(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "zorder",
      exprs => ZOrderExpr(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "poly_hash",
      exprs => PolyHashExpr(exprs.head, 31L), "scala_udf")
  }

  /** The reference's UDF, verbatim semantics, as a Scala UDF — exists
    * so the rewrite rule has something real to rewrite and so the
    * parity spec can compare all three implementations. */
  val mapSuperCategoryUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((categories: String) => {
      if (categories == null) "Other"
      else Transforms.keywordOrder
        .collectFirst { case (kw, cat) if categories.contains(kw) => cat }
        .getOrElse("Other")
    }).withName(UdfRewriteRule.TargetUdfName)
}
