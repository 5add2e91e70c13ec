package org.apache.spark.perfbench

import org.apache.spark.metrics.source.CodegenMetrics

/** Number of classes Spark's whole-stage and expression code generator has
  * compiled in this JVM so far.
  */
object Codegen {
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
