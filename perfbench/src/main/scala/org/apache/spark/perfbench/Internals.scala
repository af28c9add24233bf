package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.util.AccumulatorContext

/** The two Spark internals the traced run needs, reached from inside the
  * `org.apache.spark` package because both are `private[spark]`.
  */
object Internals {
  /** Block until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** Name of a live accumulator (SQL metrics are named accumulators). */
  def accumulatorName(id: Long): Option[String] =
    AccumulatorContext.get(id).flatMap(_.name)
}
