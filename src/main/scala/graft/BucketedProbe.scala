package graft

import org.apache.spark.sql.functions._

/** A/B probe for the bucketed curation corpus (VERDICT r17 task 8):
  * lands `documents` (SPARK_GRAFT_SF_DIR) twice — plain parquet and
  * BucketedSink on `doc_id` — then times the curation-family
  * drop-set ANTI JOIN (narrow drop set, the dedup-subtraction shape)
  * on each, broadcast disabled so both take the sort-merge path a
  * fact-sized corpus takes. Prints one JSON line per timed run with
  * the plan's Exchange count; the round artifact wraps stdout.
  * min-of-3 per side, interleaved so JIT warmup cannot favor either. */
object BucketedProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchRig.buildSession()
    val dir = java.nio.file.Files.createTempDirectory("graft_bprobe").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$dir/plain")
    graft.sinks.BucketedSink.writeBucketed(
      docs, "bp_docs", s"$dir/bucketed", "doc_id", 16)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def survivors(src: org.apache.spark.sql.DataFrame) = {
      val drop = src.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("did"))
      src.join(drop, src("doc_id") === drop("did"), "left_anti")
        .agg(count(lit(1)), sum(col("n_chars")))
    }
    def run(label: String, src: => org.apache.spark.sql.DataFrame): Unit = {
      val q = survivors(src)
      val exchanges = "Exchange".r
        .findAllIn(q.queryExecution.executedPlan.toString).size
      val c0 = BenchRig.procCpuNanos()
      val t0 = System.nanoTime()
      val r = q.collect()(0)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (BenchRig.procCpuNanos() - c0) / 1e9
      println(f"""{"bucketed_probe":"$label","wall":$wall%.3f,"cpu":$cpu%.2f,"exchanges":$exchanges,"rows":${r.getLong(0)}}""")
    }
    try (1 to 3).foreach { r =>
      run(s"plain_rep$r", spark.read.parquet(s"$dir/plain"))
      run(s"bucketed_rep$r", spark.table("bp_docs"))
    } finally spark.sql("DROP TABLE IF EXISTS bp_docs")
    spark.stop()
  }
}
