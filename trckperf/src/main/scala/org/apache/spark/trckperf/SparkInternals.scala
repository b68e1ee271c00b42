package org.apache.spark.trckperf

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.storage.RDDInfo

/** The Spark-private hooks the benchmark's tracer needs, reached from a
  * package inside `org.apache.spark`.
  */
object SparkInternals {

  /** Block until every event posted to the listener bus has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Name of the operator scope that created an RDD (for SQL plans, the
    * physical node name, e.g. "MapPartitions"); "" when it has none.
    */
  def scopeName(r: RDDInfo): String = r.scope.map(_.name).getOrElse("")

  /** A result stage (it ends a job) rather than a shuffle-map stage. */
  def isResultStage(info: StageInfo): Boolean = info.shuffleDepId.isEmpty
}
