package graft.exprs

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark-native deployment entry point for graft's Catalyst expressions:
  *
  *   spark-submit --conf spark.sql.extensions=graft.exprs.GraftExtensions
  *
  * Injecting at session-build time (rather than the imperative
  * `GraftFunctions.register`) makes the functions available in EVERY
  * session created on the cluster — including SQL-only surfaces
  * (Thrift server, `spark.sql(...)` notebooks) that never touch graft's
  * Scala API. Both paths bind the same `GraftFunctions.builders` table,
  * so they cannot drift apart.
  *
  * It also injects the `graft.core.TerminalSort` planning rule, which
  * `graft.Tables` otherwise installs imperatively on first table load. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // the latest logical extension point: the rule wants the final size
    // estimates, as the imperative install's "User Provided Optimizers"
    // batch sees them
    ext.injectPreCBORule(_ => graft.core.TerminalSort)
  }
}
