package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The two Spark-internal reads the traced run needs, kept in one file
  * because they are only reachable from Spark's own package: draining
  * the listener bus before a query's span closes, and the codegen
  * compile counters. Neither touches the program under test. */
object PerfbenchBridge {

  /** Blocks until every listener event posted so far has been delivered,
    * so a query's jobs, stages and tasks are all recorded before its span
    * closes. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (compiles, summed compile nanoseconds) since the JVM started. Both
    * are running totals: the compile-time histogram's count, and the
    * code generator's compile-time accumulator. (The histogram's values
    * live in a sampling reservoir, so their sum is not a total.) */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
