package osmbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds; `parent` is -1 at
  * the root. Spark job and stage spans are children of the benchmark
  * span that was open on the thread that submitted the job. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    counters: Map[String, Double] = Map.empty)

/** Per-stage task counters, summed in onTaskEnd. */
final class StageCounters {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var schedDelayMs = 0L
  def toMap: Map[String, Double] = Map(
    "tasks" -> tasks.toDouble,
    "executor_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1e6,
    "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6,
    "scheduler_delay_s" -> schedDelayMs / 1e3)
}

/** A plan the QueryExecutionListener saw: the scan nodes are kept so
  * their row metrics can be read after the jobs that run them (a lazy
  * localCheckpoint plans its scans in one execution and runs them in a
  * later job). */
final case class SeenPlan(executionId: Long, scans: Seq[BatchScanExec], broadcastJoins: Int)

/** Records spans from the benchmark's own calls and from Spark's public
  * listener APIs. When disabled, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val SpanProperty = "osmbench.span"
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var current = -1

  // filled from the listener bus thread
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]() // job -> (parent span, start)
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSpans = new ConcurrentHashMap[(Int, Int), (Long, Long)]()
  private val stageCounters = new ConcurrentHashMap[(Int, Int), StageCounters]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[SeenPlan]()
  // QueryExecution.id is not the SQL execution id, so a plan is paired
  // with the SparkListenerSQLExecutionEnd event delivered right after it
  @volatile private var pending: SeenPlan = null
  @volatile private var lastEventNs = System.nanoTime()

  private def mark(): Unit = lastEventNs = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      mark()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      jobSpan.put(e.jobId, (parent, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { mark(); jobEnd.put(e.jobId, e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      mark()
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        stageSpans.put((si.stageId, si.attemptNumber()), (s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      mark()
      val m = e.taskMetrics
      if (m != null) {
        val c = stageCounters.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageCounters)
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => mark(); execStart.put(s.executionId, s.time)
      case end: SparkListenerSQLExecutionEnd =>
        // the session's QueryExecutionListener bus sits earlier on the same
        // queue, so it has just handed over the plan of this execution
        mark()
        val p = pending
        pending = null
        if (p != null) plans.add(p.copy(executionId = end.executionId))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      mark()
      val plan = qe.executedPlan
      val scans = collectWithSubqueries(plan) { case b: BatchScanExec => b }
      val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }.size
      pending = SeenPlan(-1L, scans, bhj)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var attached = false
  /** Listeners are attached only while a traced section runs, so the
    * benchmark can interleave traced and untraced passes. */
  def attach(): Unit = if (enabled && !attached) {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(listener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Listener events arrive asynchronously; wait until the bus has been
    * quiet for a while. */
  def drain(): Unit = {
    Thread.sleep(100)
    while (System.nanoTime() - lastEventNs < 300L * 1000000L) Thread.sleep(50)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled || !attached) body
    else {
      val id = spans.synchronized { nextId += 1; nextId }
      val parent = current
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProperty)
      current = id
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = nowMs()
      try body
      finally {
        val end = nowMs()
        sc.setLocalProperty(SpanProperty, prevProp)
        current = parent
        spans.synchronized { spans += Span(id, parent, name, start, end) }
      }
    }

  /** Benchmark spans plus one span per Spark job and stage, the stage
    * spans carrying their task counters. Call after [[detach]]. */
  def allSpans(): Seq[Span] = {
    val base = spans.synchronized(spans.toVector)
    val jobIds = jobSpan.keySet().asScala.toSeq.sorted
    var id = (base.map(_.id) :+ 0).max
    val jobSpanIds = mutable.HashMap.empty[Int, Int]
    val jobs = jobIds.flatMap { j =>
      val (parent, start) = jobSpan.get(j)
      Option(jobEnd.get(j)).map { end =>
        id += 1
        jobSpanIds(j) = id
        Span(id, parent, s"job:$j", start.toDouble, end.toDouble)
      }
    }
    val stages = stageSpans.asScala.toSeq.sortBy(_._1).flatMap { case ((s, a), (start, end)) =>
      Option(stageJob.get(s)).flatMap(jobSpanIds.get).map { parent =>
        id += 1
        val c = Option(stageCounters.get((s, a))).map(_.toMap).getOrElse(Map.empty)
        Span(id, parent, s"stage:$s.$a", start.toDouble, end.toDouble, c)
      }
    }
    base ++ jobs ++ stages
  }

  /** Plans seen by the QueryExecutionListener, each attributed to the
    * benchmark span in which its execution started. */
  def seenPlans(): Seq[(SeenPlan, Double)] =
    plans.asScala.toSeq.flatMap(p => Option(execStart.get(p.executionId)).map(t => (p, t.toDouble)))

  /** Self time: duration minus the part of the interval its children
    * cover. */
  def selfTimes(all: Seq[Span]): Map[Int, Double] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val ivs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      ivs.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }
}
