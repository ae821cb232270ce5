package org.apache.spark.ldabench

import org.apache.spark.SparkContext

import scala.jdk.CollectionConverters._

/** The two listener-bus facts the benchmark's recorder needs. The bus is
  * `private[spark]`, so this object sits in Spark's package. */
object BusAccess {

  /** Blocks until every event posted so far has been delivered to every
    * listener; throws a TimeoutException after `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Events dropped by full listener queues since the context started. */
  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala
      .collect { case (name, c) if name.endsWith("numDroppedEvents") => c.getCount }
      .sum
}
