package graft

/** Shared scaffolding for standalone probe mains (review r19: the
  * ambient-load gate and the bench/ artifact writer were approaching a
  * fifth verbatim copy):
  *  - [[loadGate]] — the ScaleProbe quiet-host rule: refuse to start
  *    while the 1-min load exceeds SPARK_GRAFT_SCALE_MAX_LOAD (default
  *    2.0) or the 5-min load exceeds twice it (the 1-min figure alone
  *    once admitted a run that burned 2× CPU one minute after a
  *    stress kill), waiting up to 300 s; returns the start load and a
  *    `tainted` stamp if the host never quieted;
  *  - [[writeArtifact]] — the committed bench/<name> writer with the
  *    standard warn-don't-fail error path.
  * All six probe mains (ScaleProbe, VecScaleProbe, AnnBatchProbe,
  * SimhashCapProbe, CoordJoinProbe, FilteredAnnProbe) share it
  * (VERDICT r19 task 6 backfilled the four pre-r19 inline copies). */
private[graft] object ProbeRig {

  /** One sample of the (1-min, 5-min) load averages. Falls back to the
    * OperatingSystemMXBean 1-min figure (duplicated into both slots —
    * the bean exposes no 5-min average) on hosts without a readable
    * /proc/loadavg, so non-procfs platforms keep a usable quiet gate
    * (review r20 — the retired ScaleProbe inline gate had this
    * fallback and the first shared version lost it); None only when
    * neither source can produce a reading. */
  def loadsOpt(): Option[(Double, Double)] = {
    // the procfs read AND parse are guarded together, so an unparsable
    // /proc/loadavg (not just an absent one) still reaches the MXBean
    // fallback — review r20 pass 2: a parse throw inside a combined
    // try would skip the orElse and contradict the contract above
    val proc: Option[(Double, Double)] =
      try {
        scala.util.Using(scala.io.Source.fromFile("/proc/loadavg"))(
          _.mkString).toOption.map(_.trim.split("\\s+"))
          .collect { case p if p.length >= 2 =>
            (p(0).toDouble, p(1).toDouble) }
      } catch { case _: Exception => None }
    proc.orElse(
      try {
        val l = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        if (l >= 0) Some((l, l)) else None
      } catch { case _: Exception => None })
  }

  /** -1 sentinels when unreadable — "unknown", NEVER "noisy" (ADVICE
    * r19: the old '9 9' fallback made an unreadable loadavg read as an
    * infinitely contended host, stalling every probe the full wait and
    * then tainting it as contention that never existed). */
  def loads(): (Double, Double) = loadsOpt().getOrElse((-1.0, -1.0))

  /** Block until the host is quiet (bounded), then return
    * (loadAtStart, tainted). Both values come from ONE final sample
    * (ADVICE r19: reading loads() twice let the reported start load
    * and the verdict disagree about the same instant). An unreadable
    * loadavg proceeds immediately as (-1.0, true) — the explicit
    * "load unknown" taint: the measurement may be fine, but the
    * artifact cannot claim a quiet start it never observed. */
  def loadGate(maxWaitS: Int = 300, tag: String = "probe"): (Double, Boolean) = {
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_SCALE_MAX_LOAD", "2.0").toDouble
    def noisy(l: (Double, Double)): Boolean =
      l._1 > maxLoad || l._2 > 2 * maxLoad
    def unknown(why: String): (Double, Boolean) = {
      System.err.println(s"[$tag] WARNING: load average unreadable ($why) — " +
        "proceeding immediately, stamped tainted (load unknown)")
      (-1.0, true)
    }
    loadsOpt() match {
      // load never observed readable: proceed immediately as unknown
      // (the ADVICE r19 rule — never presume an unreadable host noisy)
      case None => unknown("at gate entry")
      case first @ Some(_) =>
        val t0 = System.nanoTime()
        var cur: Option[(Double, Double)] = first
        // a TRANSIENT mid-wait read failure keeps waiting (review r20:
        // the host was just OBSERVED noisy; one failed read is not
        // evidence it quieted) — Option.forall treats None as
        // still-possibly-noisy, so only a readable quiet sample or the
        // budget ends the wait
        while (cur.forall(noisy) && (System.nanoTime() - t0) / 1e9 < maxWaitS) {
          cur.foreach(l => System.err.println(
            f"[$tag] ambient load ${l._1}%.2f/${l._2}%.2f (1m/5m) > $maxLoad%.1f — waiting"))
          Thread.sleep(5000)
          cur = loadsOpt()
        }
        cur match {
          case Some(l) =>
            if (noisy(l)) System.err.println(
              f"[$tag] WARNING: starting TAINTED at load ${l._1}%.2f/${l._2}%.2f " +
                s"after ${maxWaitS}s wait — not a usable quiet baseline")
            (l._1, noisy(l))
          case None => unknown("readability lost mid-wait")
        }
    }
  }

  /** Apply `SPARK_GRAFT_CONF="k=v;k=v"` to the session — the shared
    * dev-only conf hook of the standalone mains (TimeQuery,
    * PlanMetrics, ScaleProbe, Explain): one parser, so the
    * split/trim rules cannot drift across copies (review r22). */
  def applyEnvConf(spark: org.apache.spark.sql.SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })

  /** Classes Spark's code generator has compiled in this JVM so far and
    * the seconds spent compiling them; the difference of two readings
    * is a phase's codegen churn. Spark's cache holds 100 classes, so a
    * phase that recompiles on every repetition shows up here. */
  final case class Codegen(compiles: Long, seconds: Double) {
    def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, seconds - o.seconds)
    def json(prefix: String): String =
      f""""${prefix}codegen_compiles":$compiles,"${prefix}codegen_s":$seconds%.2f"""
  }

  def codegen(): Codegen = Codegen(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)

  /** HotSpot never JIT-compiles a method of more than this many bytes
    * of bytecode (`-XX:+DontCompileHugeMethods`, on by default): a
    * whole-stage codegen stage whose largest method is bigger runs in
    * the bytecode interpreter on every pass. */
  val HugeMethodLimit = 8000

  /** (codegen stage id, largest generated method in bytes) of every
    * whole-stage codegen stage of an executed plan, adaptive query
    * stages included. The compile is served from Spark's codegen cache
    * when the stage ran. */
  def stageMethodSizes(plan: org.apache.spark.sql.execution.SparkPlan): Seq[(Int, Int)] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case w: WholeStageCodegenExec => w }
      .map(w => w.codegenStageId -> CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
  }

  /** `name` under `java.io.tmpdir`: where probes keep generated worlds. */
  def tmpPath(name: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"), name).getPath

  /** Write `json` to bench/<fileName> under the working directory (the
    * checkout sbt runs from); warn on stderr, never fail the probe, on
    * IO errors (`tag` prefixes the log lines). */
  def writeArtifact(fileName: String, json: String, tag: String): Unit =
    try {
      val dir = new java.io.File(System.getProperty("user.dir"), "bench")
      dir.mkdirs()
      val f = new java.io.File(dir, fileName)
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(json) finally w.close()
      System.err.println(s"[$tag] written to $f")
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] WARNING: could not write artifact: $e") }
}
