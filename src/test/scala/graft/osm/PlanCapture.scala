package graft.osm

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Every query execution a block of code runs — the final query and
  * the plans behind its local checkpoints — collected through a
  * `QueryExecutionListener`. Marker queries order the asynchronous
  * listener events, which arrive in execution order: events before the
  * start marker's belong to earlier code (an earlier suite's last
  * query can still be in the queue), and once the end marker's event
  * is in, every event of the block is. */
object PlanCapture extends AdaptiveSparkPlanHelper {
  private val StartMarker = "osm-plan-capture-start"
  private val Marker = "osm-plan-capture-marker"

  def executions(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val markerSeen = new CountDownLatch(1)
    @volatile var started = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.logical.toString
        if (plan.contains(StartMarker)) started = true
        else if (plan.contains(Marker)) markerSeen.countDown()
        else if (started) seen.add(qe)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"SELECT '$StartMarker' AS m").collect()
      body
      spark.sql(s"SELECT '$Marker' AS m").collect()
      require(markerSeen.await(60, TimeUnit.SECONDS), "listener events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Every physical operator of an executed plan, adaptive query stages
    * included. */
  def operators(qe: QueryExecution): Seq[SparkPlan] = collect(qe.executedPlan) { case p => p }
}
