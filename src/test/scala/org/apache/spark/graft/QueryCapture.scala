package org.apache.spark.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records every query a block executes on a session, through a
  * `QueryExecutionListener`. Listener events arrive asynchronously, so the
  * listener bus is drained (a Spark-private call, hence this package)
  * before registering and again before reading.
  */
object QueryCapture {

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
