package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's native expressions as SQL functions via the public
  * `SparkSessionExtensions` hook. [[graft.core.Session]] injects it, so
  * every graft session resolves them:
  *
  * {{{
  * spark.sql("SELECT graft_dot(a.v, b.v) FROM ...")
  * }}}
  *
  * (Usable equally through `spark.sql.extensions=graft.functions.GraftExtensions`
  * on a cluster — no code changes at the call site.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def binary(name: String, clazz: Class[_], mk: (Expression, Expression) => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (args: Seq[Expression]) => {
      require(args.size == 2, s"$name(a, b) takes two array<double> arguments")
      mk(args.head, args(1))
    })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    binary("graft_dot", classOf[DotProduct], DotProduct.apply),
    binary("graft_sqdist", classOf[SquaredDistance], SquaredDistance.apply))
}
