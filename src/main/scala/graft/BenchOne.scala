package graft

/** Times named queries in a fresh JVM, on the same session, warmup and
  * JVM meters as Bench ([[ProbeRig]]), so an in-run bench number and a
  * fresh-JVM one are the same protocol by construction.
  *
  * The headline bench forks ONE of these at END of run over every
  * churn-/growth-/2x-flagged row, so the committed record carries a
  * same-code fresh-JVM reading NEXT TO the in-run one — host JIT/state
  * artifacts that a fresh JVM contradicts (the r16/r17 phantom
  * regressions) self-adjudicate from the artifact alone.
  *
  * By hand, it is the isolated timing and A/B driver:
  * `SPARK_GRAFT_BENCHONE_REPS=10 runMain graft.BenchOne q1 set:k=v q1`
  * runs q1, sets the session conf `k` to `v`, and runs q1 again in the
  * SAME JVM (same warmup, same GC state). Each rep prints
  * `[wall,cpu,load,gc,jit,heapMB,persistedRdds,persistedMB,pinnedRdds]`
  * — the storage triple after each rep is what distinguishes in-JVM
  * block accumulation from host state. Judge on CPU when wall variance
  * is pathological: on a noisy host the wall clock swings with steal
  * while CPU-seconds of actual work stay comparable.
  *
  * Prints ONE JSON line per query (min-of-reps wall/cpu + the reps
  * array); the parent parses the `"benchone"` marker. Sweeps
  * unpinned blocks after each query's reps, exactly like Bench. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCHONE_REPS", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ProbeRig.session()
    ProbeRig.warmup(spark, sfDir)
    val qs = SparkEntry.queries
    args.foreach {
      case set if set.startsWith("set:") =>
        val (k, v) = ProbeRig.setConf(set)
        spark.conf.set(k, v)
        println(s"[benchone] -- $k=$v")
      case name if qs.contains(name) =>
        // one measure() call per rep so the storage snapshot lands
        // AFTER each rep (inside a 3-rep measure it could only be
        // sampled before/after the triple)
        val repRes = (1 to reps).map { _ =>
          val r = Bench.measure(name, 1, ProbeRig.loadAvg _,
            ProbeRig.procCpuNanos _, () => qs(name)(spark, sfDir).count(),
            () => (), ProbeRig.gcMillis _, ProbeRig.jitMillis _,
            ProbeRig.heapUsedMb _)
          (r.reps.head, ProbeRig.storageSnap(spark))
        }
        val ok = repRes.map(_._1).filterNot(_.failed)
        val wall = if (ok.nonEmpty) ok.map(_.wall).min else -1.0
        val cpu = if (ok.nonEmpty) ok.map(_.cpu).min else -1.0
        val rows = if (ok.nonEmpty) ok.head.rows else -1L
        val repJson = repRes.map { case (r, (n, mb, pin)) =>
          if (r.failed) "\"FAIL\""
          else f"[${r.wall}%.3f,${r.cpu}%.2f,${r.load}%.2f,${r.gc}%.2f," +
            f"${r.jit}%.2f,${r.heap}%.0f,$n%d,$mb%.0f,$pin%d]"
        }.mkString("[", ",", "]")
        println(f"""{"benchone":"$name","wall":$wall%.3f,"cpu":$cpu%.2f,"rows":$rows,"reps":$repJson}""")
        graft.operators.Checkpoints.unpersistUnpinned(spark)
      case name => System.err.println(s"[benchone] no query named '$name' — skipped")
    }
    spark.stop()
  }
}
