package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: injects every native Catalyst
  * function of [[functions.Kernels.all]]. Pure-SQL users opt in with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`); the library itself
  * puts the same list into each session it loads tables into
  * ([[functions.Kernels.register]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(extensions: SparkSessionExtensions): Unit =
    functions.Kernels.all.foreach(extensions.injectFunction)
}
