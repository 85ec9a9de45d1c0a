package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Deployment-grade registration: inject the engine's functions through
  * SparkSessionExtensions so any session created with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) has them from birth — no
  * imperative register() call, which matters for SQL-only users
  * (thrift/connect) who never touch Scala. Installs the same
  * [[GraftFunctions.functions]] table as [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, usage, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        builder))
    }
}
