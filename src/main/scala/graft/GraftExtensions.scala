package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftfn.DotProductF64

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so plain `spark.sql` users get them too.
  * [[Session.local]] installs it on every graft session:
  *
  * {{{
  * val spark = graft.Session.local(cpus = 4)
  * spark.sql("SELECT graft_dot(a, b) FROM vectors")
  * }}}
  *
  * (DataFrame callers don't need the session extension —
  * [[graft.ext.Similarity.dot]] builds the expression directly.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductF64].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(arrA, arrB) takes 2 arguments")
        DotProductF64(children.head, children(1))
      }))
  }
}
