package graft

/** Dev utility: per-STAGE cost breakdown for a query. BenchOne's
  * end-to-end wall/CPU can't attribute cost inside a multi-job plan
  * (lazy localCheckpoint materializations each run as their own job,
  * invisible to final-plan metrics); the rig's stage recorder sees
  * every stage with its callsite, executor CPU and shuffle volume. It
  * also prints the classes Spark compiled and the compile seconds of
  * each rep, and the largest generated method of each whole-stage
  * codegen stage the recorded rep ran: one over
  * [[ProbeRig.HugeMethodLimit]] bytes is never JIT-compiled, so that
  * stage runs interpreted.
  * sbt "runMain graft.PlanMetrics osm_big_buildings" */
object PlanMetrics {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ProbeRig.session()

    args.toSeq.foreach { name =>
      println(s"\n========== $name ==========")
      // warmup rep: JIT + codegen, excluded from the recorded breakdown
      val c0 = ProbeRig.codegen()
      SparkEntry.queries(name)(spark, sfDir).count()
      val coldCodegen = ProbeRig.codegen() - c0
      graft.operators.Checkpoints.unpersistUnpinned(spark, blocking = true)
      val c1 = ProbeRig.codegen()
      val rec = ProbeRig.recordStages(spark)(SparkEntry.queries(name)(spark, sfDir).count())
      val warmCodegen = ProbeRig.codegen() - c1
      val rows = rec.stages
      println(s"rows=${rec.result}")
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
      rec.executions.zipWithIndex.foreach { case ((action, qe), i) =>
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
