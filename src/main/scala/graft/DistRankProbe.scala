package graft

import org.apache.spark.sql.functions._

/** Isolated A/B of DistributedRank's per-row pass (VERDICT r17
  * task 2): the consumer queries (tpch_q22/ev_rfm at sf0.1) rank only
  * 10⁵-row inputs, where the pass is a few percent of the query and
  * an end-to-end A/B reads as noise. This probe ranks an N-row
  * synthetic frame (default 5M — the 100 TB-relevant regime where the
  * per-row cost IS the operator) under both implementations in one
  * JVM, interleaved A/B/A/B so JIT warmup cannot favor either side,
  * and prints one JSON line per timed run. Writes nothing; the round
  * artifact wraps its stdout. */
object DistRankProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val spark = BenchRig.buildSession()
    // input materialized once, off the clock; PINNED so the per-run
    // block sweep below cannot orphan it (lineage is truncated)
    val df = graft.operators.Checkpoints.pinCheckpointed(
      spark.range(n.toLong)
        .select(col("id"),
          (col("id") % 5).cast("string").as("key"),
          ((col("id") * 2654435761L) % 1000000).as("v"))
        .localCheckpoint(eager = true))
    def run(label: String, rowPass: Boolean): Unit = {
      spark.conf.set(graft.operators.DistributedRank.RowPassConf, rowPass.toString)
      val c0 = BenchRig.procCpuNanos()
      val t0 = System.nanoTime()
      val cnt = graft.operators.DistributedRank
        .withRank(df, Seq("key"), Seq(col("v"), col("id")))
        .filter(col("grank") === 1L).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (BenchRig.procCpuNanos() - c0) / 1e9
      println(f"""{"distrank_probe":"$label","row_pass":$rowPass,"n":$n,"wall":$wall%.3f,"cpu":$cpu%.2f,"rows":$cnt}""")
      graft.operators.Checkpoints.unpersistUnpinned(spark)
    }
    // interleaved, 3 pairs; rep1 of each is JIT warmup for that path
    (1 to 3).foreach { r =>
      run(s"legacy_rep$r", rowPass = true)
      run(s"fast_rep$r", rowPass = false)
    }
    spark.stop()
  }
}
