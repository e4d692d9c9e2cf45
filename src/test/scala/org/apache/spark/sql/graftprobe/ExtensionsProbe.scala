package org.apache.spark.sql.graftprobe

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.classic

/** Test access to the `spark.sql.extensions` route. The registry an
  * extension injects into and the builder's context setter are
  * `private[sql]`/`private[spark]`, hence this package. */
object ExtensionsProbe {

  /** The functions `ext` injects, registered into an empty registry. */
  def functions(ext: SparkSessionExtensions => Unit): FunctionRegistry = {
    val e = new SparkSessionExtensions
    ext(e)
    e.registerFunctions(new SimpleFunctionRegistry)
  }

  /** A fresh session on `parent`'s context, built with `withExtensions(ext)`:
    * its SQL functions are the built-ins plus what `ext` injects. */
  def session(parent: SparkSession, ext: SparkSessionExtensions => Unit): SparkSession = {
    val s = classic.SparkSession.builder().sparkContext(parent.sparkContext)
      .withExtensions(ext).create()
    // create() may take the default/active session slots; hand them back
    SparkSession.setDefaultSession(parent)
    SparkSession.setActiveSession(parent)
    s
  }
}
