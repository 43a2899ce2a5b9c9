package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes the engine's custom Catalyst
  * expressions, optimizer rule and planner strategy available to any
  * session created with
  *
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (the cluster-wide registration path — no driver code changes needed on
  * a shared cluster). graft.GraftSession sets it for every engine session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductDouble].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductDouble(exprs.head, exprs(1))))
    // domain rewrite: jaccard >= t filters gain lossless O(1) size bounds
    // ahead of the O(|a|+|b|) intersection (see JaccardSizeBoundRule)
    ext.injectOptimizerRule(_ => JaccardSizeBoundRule)
    // whole-operator path: AsOfJoinNode plans to the sort-merge
    // AsOfJoinExec (see AsOfJoinPlan.scala)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
