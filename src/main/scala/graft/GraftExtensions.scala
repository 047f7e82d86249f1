package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.VectorFunctions

/** The one installation point for the engine's native functions.
  *
  * `GraftSession.local` installs it for the driver-owned entry points
  * and the tests; on a cluster
  * `spark.sql.extensions=graft.GraftExtensions` in spark-defaults makes
  * every function of [[VectorFunctions.sqlFunctions]] (the vector,
  * int8-quantized and PQ kernels) available to every session on the
  * cluster (SQL, thriftserver, notebooks) without any driver code, the
  * idiomatic Spark deployment for custom Catalyst expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in ANN rewrite: cosine top-k over a written IVF index ->
    // centroid-pruned scan (spark.graft.ivf.rewrite.enabled=true)
    ext.injectOptimizerRule(spark => graft.search.IvfTopKRewrite(spark))
    VectorFunctions.sqlFunctions.foreach { case (name, usage, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        VectorFunctions.checkedBuilder(name, arity, build)))
    }
  }
}
