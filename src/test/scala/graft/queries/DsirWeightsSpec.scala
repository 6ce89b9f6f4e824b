package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Pins pipe_dsir_weights' semantics on a constructed target /
  * off-target fixture (VERDICT r16 #7): docs made of target-like
  * tokens must weigh strictly more than off-target docs, monotonically
  * in how many target-like tokens they carry, with the target-token
  * log-ratio positive and the off-target one negative. */
class DsirWeightsSpec extends AnyFunSuite {

  private lazy val dir: String = {
    val spark = graft.sources.SparkTestSession.spark
    import spark.implicits._
    // doc_id % 97 == 0 is the target subset (ids 0 and 97): targets
    // speak "zebra", the raw bulk speaks "yak"; probe docs 1-4 mix
    // them at increasing target-likeness with EQUAL token counts
    val docs = Seq(
      (0L, "zebra zebra zebra zebra"),
      (97L, "zebra zebra quill zebra"),
      (1L, "yak yak yak yak"),
      (2L, "yak yak yak zebra"),
      (3L, "yak zebra zebra zebra"),
      (4L, "zebra zebra zebra zebra")
    ).toDF("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("dsir_fixture").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("weights are monotone in target-likeness; target tokens score positive") {
    val spark = graft.sources.SparkTestSession.spark
    // the fixture's three words must land in distinct hash buckets or
    // the monotonicity probe is vacuous — fail loudly, pick new words
    val buckets = spark.range(1).selectExpr(
      s"pmod(fnv64('zebra'), ${PipelineOps.DsirBuckets}) AS z",
      s"pmod(fnv64('yak'), ${PipelineOps.DsirBuckets}) AS y",
      s"pmod(fnv64('quill'), ${PipelineOps.DsirBuckets}) AS q").collect()(0)
    assert(Set(buckets.getLong(0), buckets.getLong(1), buckets.getLong(2)).size === 3,
      "fixture words collide in the bucket hash — choose different words")

    val w = PipelineOps.dsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // equal token counts → raw lattice sums compare directly
    assert(w(1) < w(2) && w(2) < w(3) && w(3) < w(4),
      s"weights not monotone in target-likeness: $w")
    // independent reference: hand-counted bucket model (zebra 15 raw /
    // 7 target, yak 8/0, quill 1/1; totals 24 raw / 8 target, B=128)
    // through the same FixedLog kernel — pins the smoothed-ratio
    // plumbing end-to-end, not just the ordering
    import graft.functions.FixedLog.log2Fixed
    val B = PipelineOps.DsirBuckets
    def llr(ct: Long, cr: Long) =
      log2Fixed(BigInt(ct + 1) * BigInt(24 + B), BigInt(cr + 1) * BigInt(8 + B))
    val (z, y, q) = (llr(7, 15), llr(0, 8), llr(1, 1))
    assert(w === Map(0L -> 4 * z, 97L -> (3 * z + q), 1L -> 4 * y,
      2L -> (3 * y + z), 3L -> (y + 3 * z), 4L -> 4 * z))
    // target-spoken tokens must out-score never-target tokens
    assert(z > y && q > y)
  }
}
