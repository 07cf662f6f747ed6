package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** `SparkSessionExtensions` hook injecting [[GraftFunctions.sqlFunctions]] at
  * session build time — the deployment path for clusters
  * (`spark.sql.extensions=graft.functions.GraftExtensions`), the same
  * table [[GraftFunctions.register]] installs in a running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
}
