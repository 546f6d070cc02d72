package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{CaseMapRewrite, CosineSimilarity, InnerProduct}
import graft.plans.AsOfJoinStrategy

/** Session extensions: installs graft's custom planner strategy
  * (native as-of join), optimizer rule and SQL functions into every
  * session built with `spark.sql.extensions=graft.GraftExtensions`
  * (set by [[GraftSession.configure]]). This is the supported,
  * catalog-free way to extend Catalyst — no forked Spark, no
  * reflection into the optimizer.
  *
  * The optimizer rule, [[CaseMapRewrite]], swaps Spark's `lower` and
  * `upper` on default-collation strings for graft expressions that
  * make the same ICU calls ([[graft.functions.CaseMap]]), so results
  * are byte-identical. It exists because Spark's own path loads
  * `CollationAwareUTF8String`, whose static initializer builds an
  * `initcap`-only title-case table over every code point: a
  * 1.4-1.5 s stall in the first lowercasing task of every JVM.
  *
  * The SQL functions are `graft_cosine` and `graft_dot`, the only
  * kernels callable from SQL. DataFrame code reaches every kernel,
  * these two included, through [[graft.functions.VectorFunctions]]'
  * column builders, which construct the expression nodes directly and
  * look nothing up in a function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => CaseMapRewrite)
    e.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[InnerProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        InnerProduct(exprs.head, exprs(1))))
  }
}
