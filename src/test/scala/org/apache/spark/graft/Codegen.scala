package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Number of classes Spark's code generator has compiled in this JVM so far
  * (`CodegenMetrics` is private to the `org.apache.spark` package).
  */
object Codegen {
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
