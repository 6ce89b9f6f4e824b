package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time selected queries in an isolated JVM (the headline
  * bench runs 40 queries in one JVM, where GC/codegen pollution from
  * neighbors can masquerade as a per-query regression).
  * sbt "runMain graft.TimeQuery <reps> <name> [name ...]"
  * SPARK_GRAFT_CONF="k=v;k=v" applies session confs before timing
  * (e.g. spark.graft.fanout=false for a fan-out A/B). */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
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
    val qs = SparkEntry.queries
    // a `set:k=v` pseudo-name switches a session conf mid-list, so two
    // configurations A/B inside ONE JVM (same warmup, same GC state)
    names.foreach {
      case set if set.startsWith("set:") =>
        set.stripPrefix("set:").split("=", 2) match {
          case Array(k, v) =>
            spark.conf.set(k.trim, v.trim)
            println(s"[time] -- $k=$v")
          case _ => sys.error(s"malformed '$set' — expected set:conf.key=value")
        }
      case name =>
        (1 to reps).foreach { r =>
          // process CPU alongside wall: on a noisy/throttled host the
          // wall clock swings 10-20x with steal, while CPU-seconds of
          // actual work stay comparable — judge regressions on cpu when
          // wall variance is pathological
          val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
            .asInstanceOf[com.sun.management.OperatingSystemMXBean]
          val c0 = os.getProcessCpuTime
          val t0 = System.nanoTime()
          val n = qs(name)(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (os.getProcessCpuTime - c0) / 1e9
          println(f"[time] $name%-24s rep$r $wall%8.2fs cpu=$cpu%8.2fs rows=$n")
        }
    }
    spark.stop()
  }
}
