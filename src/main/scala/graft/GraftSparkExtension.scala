package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** One-line cluster wiring for the whole library:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftSparkExtension …
  * }}}
  *
  * injects every graft SQL function ([[graft.functions.SqlFunctions]])
  * into EVERY session of the application — no per-session install
  * calls. */
class GraftSparkExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.SqlFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.SqlFunctions", name),
        (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          builder(es)))
    }
  }
}
