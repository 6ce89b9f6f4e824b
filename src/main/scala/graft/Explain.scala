package graft

/** Dev utility: dump formatted physical plans of selected queries
  * (all of them when none is named); `SPARK_GRAFT_CONF` session confs
  * apply, so conf-gated plan shapes can be dumped.
  * sbt "runMain graft.Explain q1_agg j1_ref_coord_join ..." */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = ProbeRig.session()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
