package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import graft.functions.GraftFunctions

/** Engine extension point: registers graft's native expressions so
  * `expr("graft_dot(a, b)")` works in any query. Listed under
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so every session the builder creates while graft is on the driver
  * classpath gets it (and so do its `newSession()`/`cloneSession()`
  * children), with no conf and no caller involved; `spark-submit
  * --jars`/`--packages` puts it there. `spark.sql.extensions=graft.GraftExtensions`
  * still works and registers the same functions. A session built before
  * graft was on its classpath calls [[graft.functions.GraftFunctions.ensure]]
  * once instead.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
