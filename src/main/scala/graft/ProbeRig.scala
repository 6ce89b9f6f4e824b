package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one harness of the probe and dev mains (Bench, BenchOne, Verify,
  * Explain, PlanMetrics and the scale probes):
  *  - [[session]] — the only session recipe;
  *  - the JVM meters (process CPU, GC, JIT, heap, load, storage
  *    snapshot) and the bench table [[warmup]];
  *  - [[timed]] — the rep timer: first result, cold and min wall, min
  *    CPU-seconds;
  *  - [[recordStages]] — the stage recorder: every stage and query
  *    execution one block of code runs;
  *  - [[loadGate]] — the quiet-host rule: refuse to start while the
  *    1-min load exceeds SPARK_GRAFT_SCALE_MAX_LOAD (default 2.0) or
  *    the 5-min load exceeds twice it, waiting up to 300 s; returns the
  *    start load and a `tainted` stamp if the host never quieted;
  *  - [[writeArtifact]] — the bench/<name> writer with the standard
  *    warn-don't-fail error path. */
private[graft] object ProbeRig {

  /** The session every main runs on: `GraftExtensions`,
    * `local[SPARK_GRAFT_CPUS]` (default `defaultCpus`) with as many
    * shuffle partitions, UI off, UTC, TIMESTAMP(NANOS) parquet read as
    * raw longs (an earlier testdata generation; `EventTime.tsUs` adapts
    * them), log level WARN, then the `SPARK_GRAFT_CONF="k=v;k=v"`
    * session confs. */
  def session(defaultCpus: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(envConf(_).foreach { case (k, v) =>
      spark.conf.set(k, v)
    })
    spark
  }

  private def keyValue(kv: String): Option[(String, String)] = kv.split("=", 2) match {
    case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
    case _ => None
  }

  /** `SPARK_GRAFT_CONF`'s `k=v;k=v` pairs, trimmed; an entry without a
    * key and `=` is skipped. */
  def envConf(raw: String): Seq[(String, String)] = raw.split(';').toSeq.flatMap(keyValue)

  /** The (key, value) of a `set:conf.key=value` argument. */
  def setConf(arg: String): (String, String) =
    keyValue(arg.stripPrefix("set:")).getOrElse(throw new IllegalArgumentException(
      s"malformed '$arg' — expected set:conf.key=value"))

  /** Untimed warmup: touch every table once so the timed loop measures
    * steady-state query latency, not file-index/codegen warmup, and
    * pre-generate the BigWorld extract (a stat call when it exists). */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
      "region", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    try graft.pbf.BigWorld.ensure(graft.queries.OsmQueries.BigPath, 2000000, 100000)
    catch { case _: Throwable => }
  }

  // the HotSpot-specific subinterface carries getProcessCpuTime; on a
  // JVM whose bean doesn't implement it, degrade to -1 CPU sentinels
  // rather than throwing (ADVICE r7)
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  def procCpuNanos(): Long = cpuBean.map(_.getProcessCpuTime).getOrElse(-1L)
  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  def gcMillis(): Long = {
    val ts = gcBeans.asScala.map(_.getCollectionTime).filter(_ >= 0)
    if (ts.isEmpty) -1L else ts.sum
  }
  private val compBean = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  def jitMillis(): Long = compBean.map(_.getTotalCompilationTime).getOrElse(-1L)
  val memBean = ManagementFactory.getMemoryMXBean
  def heapUsedMb(): Double = memBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** [persisted RDD count, persisted MB, pinned RDD count] right now —
    * names whether block accumulation tracks a degradation. */
  def storageSnap(spark: SparkSession): (Int, Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    val pinned = spark.sparkContext.getPersistentRDDs.keys
      .count(id => graft.operators.Checkpoints.isPinned(spark.sparkContext, id))
    (infos.length, infos.map(_.memSize).sum / 1048576.0, pinned)
  }

  /** `reps` runs of one body: the first run's result and wall seconds
    * (`coldS`), and the min wall and min process CPU-seconds over all
    * runs (`cpuS` is -1 where the JVM has no process-CPU bean). */
  final case class Timed[A](result: A, coldS: Double, wallS: Double, cpuS: Double)

  def timed[A](reps: Int)(body: => A): Timed[A] = {
    require(reps >= 1, s"timed needs at least one rep, got $reps")
    val runs = (1 to reps).map { _ =>
      val c0 = procCpuNanos()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      (r, wall, if (c0 < 0) -1.0 else (procCpuNanos() - c0) / 1e9)
    }
    Timed(runs.head._1, runs.head._2, runs.map(_._2).min, runs.map(_._3).min)
  }

  /** One completed stage. The stage "name" Spark gives is an anonymous
    * SQL-execution callsite; the RDD scopes inside the stage (scan,
    * explode, mapPartitions walk, ...) are what identify it. */
  final case class StageRow(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleReadMB: Double,
      shuffleWriteMB: Double, inputMB: Double)

  private def stageRow(si: StageInfo): StageRow = {
    val m = si.taskMetrics
    val ops = si.rddInfos.sortBy(_.id).map { r =>
      val scope = r.scope.map(_.name).getOrElse("")
      if (scope.nonEmpty) scope else r.name
    }.distinct.mkString(" > ")
    StageRow(si.stageId, ops.take(120), si.numTasks,
      m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead / 1e6,
      m.shuffleWriteMetrics.bytesWritten / 1e6,
      m.inputMetrics.bytesRead / 1e6)
  }

  /** What one [[recordStages]] block ran, in listener-bus order: every
    * completed stage, and every successful query execution with its
    * action name — lazy local checkpoints' plans and jobs included. */
  final case class Recorded[A](result: A, stages: Seq[StageRow],
      executions: Seq[(String, QueryExecution)])

  private val recorderIds = new AtomicLong()

  /** Run `body` and record the stages and query executions it runs.
    * Listener events arrive asynchronously, so two marker queries
    * (planned locally, no job) bound the block on the listener bus: the
    * session's query-execution listeners share the bus queue with
    * `addSparkListener`'s, so events before the opening marker's belong
    * to earlier code, and once the closing marker's event is in, every
    * event of the block is. */
  def recordStages[A](spark: SparkSession)(body: => A): Recorded[A] = {
    val id = recorderIds.incrementAndGet()
    val (open, close) = (s"probe_rig_open_$id", s"probe_rig_close_$id")
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val executions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val closed = new CountDownLatch(1)
    @volatile var on = false
    val stageListener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        if (on) stages.add(stageRow(ev.stageInfo))
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.schema.fieldNames match {
          case Array(`open`) => on = true
          case Array(`close`) => on = false; closed.countDown()
          case _ => if (on) executions.add(funcName -> qe)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def marker(name: String): Unit = spark.sql(s"SELECT 1 AS $name").collect()
    spark.sparkContext.addSparkListener(stageListener)
    spark.listenerManager.register(queryListener)
    try {
      marker(open)
      val result = body
      marker(close)
      require(closed.await(60, TimeUnit.SECONDS), "listener events did not arrive")
      Recorded(result, stages.asScala.toSeq, executions.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(queryListener)
      spark.sparkContext.removeSparkListener(stageListener)
    }
  }

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
        val l = loadAvg()
        if (l >= 0) Some((l, l)) else None
      } catch { case _: Exception => None })
  }

  /** Block until the host is quiet (bounded), then return
    * (loadAtStart, tainted). Both values come from ONE final sample
    * (ADVICE r19: reading the load twice let the reported start load
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
