package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev utility: per-STAGE cost breakdown for a query. TimeQuery's
  * end-to-end wall/CPU can't attribute cost inside a multi-job plan
  * (lazy localCheckpoint materializations each run as their own job,
  * invisible to final-plan metrics); a stage listener sees every stage
  * with its callsite, executor CPU and shuffle volume. It also prints
  * the classes Spark compiled and the compile seconds of each rep, and
  * the largest generated method of each whole-stage codegen stage the
  * recorded rep ran: one over [[ProbeRig.HugeMethodLimit]] bytes is
  * never JIT-compiled, so that stage runs interpreted.
  * sbt "runMain graft.PlanMetrics osm_big_buildings" */
object PlanMetrics {

  final case class StageRow(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleReadMB: Double,
      shuffleWriteMB: Double, inputMB: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ProbeRig.applyEnvConf(spark)

    val rows = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    @volatile var record = false
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = ev.stageInfo
          val m = si.taskMetrics
          // the stage "name" is an anonymous SQL-execution callsite;
          // the RDD lineage scopes/callsites inside the stage are what
          // identify it (scan, explode, mapPartitions walk, ...)
          val ops = si.rddInfos.sortBy(_.id).map { r =>
            val scope = r.scope.map(_.name).getOrElse("")
            if (scope.nonEmpty) scope else r.name
          }.distinct.mkString(" > ")
          rows += StageRow(si.stageId, ops.take(120), si.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // every query execution of the recorded rep, its local checkpoints'
    // plans included
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (record) executions.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    args.toSeq.foreach { name =>
      println(s"\n========== $name ==========")
      // warmup rep: JIT + codegen, excluded from the recorded breakdown
      val c0 = ProbeRig.codegen()
      SparkEntry.queries(name)(spark, sfDir).count()
      val coldCodegen = ProbeRig.codegen() - c0
      graft.operators.Checkpoints.unpersistUnpinned(spark, blocking = true)
      rows.clear()
      executions.clear()
      record = true
      val c1 = ProbeRig.codegen()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val warmCodegen = ProbeRig.codegen() - c1
      // let the listener bus deliver the rep's last stage and query
      // events before they stop counting
      Thread.sleep(500)
      record = false
      println(s"rows=$n")
      println(f"${"stage"}%-6s${"tasks"}%-7s${"run_s"}%-8s${"cpu_s"}%-8s${"gc_s"}%-7s${"shRd_MB"}%-9s${"shWr_MB"}%-9s${"in_MB"}%-8s name")
      rows.sortBy(-_.runMs).foreach { r =>
        println(f"${r.id}%-6d${r.tasks}%-7d${r.runMs / 1000.0}%-8.2f${r.cpuMs / 1000.0}%-8.2f${r.gcMs / 1000.0}%-7.2f${r.shuffleReadMB}%-9.1f${r.shuffleWriteMB}%-9.1f${r.inputMB}%-8.1f${r.name}")
      }
      val totCpu = rows.map(_.cpuMs).sum / 1000.0
      val totRun = rows.map(_.runMs).sum / 1000.0
      println(f"TOTAL executor run=$totRun%.2f s cpu=$totCpu%.2f s over ${rows.size} stages")
      // classes compiled: a warm rep that still compiles has overflowed
      // Spark's 100-class codegen cache
      println(f"codegen_compiles=${warmCodegen.compiles} codegen_s=${warmCodegen.seconds}%.2f " +
        f"(warmup rep: codegen_compiles=${coldCodegen.compiles} codegen_s=${coldCodegen.seconds}%.2f)")
      // stage ids restart at 1 in every execution (the query and each
      // of its checkpoints)
      executions.asScala.toSeq.zipWithIndex.foreach { case ((action, qe), i) =>
        ProbeRig.stageMethodSizes(qe.executedPlan).foreach { case (id, bytes) =>
          val jit = if (bytes > ProbeRig.HugeMethodLimit)
            s" — over ${ProbeRig.HugeMethodLimit} B, run interpreted by HotSpot" else ""
          println(s"execution $i ($action) codegen stage $id: largest method $bytes B$jit")
        }
      }
      graft.operators.Checkpoints.unpersistUnpinned(spark, blocking = true)
    }
    spark.stop()
  }
}
