package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL surface for the native functions: injects every entry of
  * [[GraftExpressions.table]] (`graft_fingerprint64`, `graft_minhash`,
  * `graft_dot`, …) into the session's function registry, with the same
  * builder the Column API applies, so `spark.sql` users get the same
  * codegen'd kernels and the same null and widening contracts.
  *
  * Deployment: `spark.sql.extensions=graft.functions.GraftExtensions` on a
  * cluster (the standard extensions hook), or implicitly via
  * [[graft.GraftSession]], whose builder wires these in for every engine
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExpressions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""),
        f.build))
    }
}
