package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: makes the engine's native expressions
  * first-class SQL functions in EVERY session of an application, via
  *
  * {{{
  * spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`), so
  * users never call `VectorFunctions.ensure` by hand. This is the
  * canonical deployment shape for a library shipping Catalyst extensions —
  * injection happens before any query is analyzed, and the functions
  * resolve from plain SQL text, JDBC/Thrift included.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorFunctions.injectable.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.VectorFunctions", name),
        builder))
    }
    // determinism lint: records order-dependent float aggregates on the
    // ANALYZED plan (mutates nothing — see DeterminismLint scaladoc)
    ext.injectPostHocResolutionRule(_ => graft.plans.DeterminismLint)
  }
}
