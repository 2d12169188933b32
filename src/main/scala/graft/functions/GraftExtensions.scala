package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.VectorColumns

/** SparkSessionExtensions installer exposing the native kernels to
  * SQL: `spark.sql.extensions=graft.functions.GraftExtensions` makes
  * `vec_dot(a, b)` / `vec_norm(a)` callable from `spark.sql(...)`.
  * The DataFrame API path ([[VectorColumns]]) needs no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // ONE builder list shared with VectorColumns.register — the
    // arity guards and the function set cannot drift between the
    // extensions path and the imperative path
    VectorColumns.sqlBuilders.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls, name), build))
    }
    // optimizer rule: nfc_normalize is idempotent — collapse nests
    ext.injectOptimizerRule(_ =>
      org.apache.spark.sql.graft.CollapseNfcNormalize)
  }
}
