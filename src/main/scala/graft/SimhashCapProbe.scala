package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus-scale probe of the simhash bucket-cap behavior (VERDICT r9
  * task 2): 1M synthetic documents with boilerplate-heavy duplicate
  * clusters (16 template clusters × 8192 docs vs the default cap of
  * 4096) plus unique background docs. Because each doc's 1-3 token
  * substitutions perturb simhash bits scattered across all four bands,
  * cluster members spread over many band values and only the hottest
  * buckets actually exceed the DEFAULT cap — the standing artifact
  * (bench/simhash_probe_r11.json) measures exactly ONE default-cap
  * sub-split at this corpus, so the default-cap run validates the
  * identity with the cap engaged, not widespread recursion. The probe
  * therefore runs the full text→simhash→banded-pairs path THREE times
  * — default cap (1 sub-split), a TIGHT cap (SPARK_GRAFT_PROBE_CAP,
  * default 512) that forces widespread overflow (233 sub-splits in
  * the artifact), and cap disabled (0) — and compares the pair sets
  * by count and order-independent checksum. With the recursive
  * sub-splitting fix (graft.operators.SimHashBuckets) all three runs
  * must be IDENTICAL (artifact: 46 181 511 pairs, equal checksums,
  * capped_equals_uncapped true): the cap engages but never costs
  * recall. Writes the committed artifact bench/simhash_probe_r{N}.json. */
object SimhashCapProbe {

  /** Deterministic 1M-doc corpus. Cluster docs share a 60-token
    * template with 1-3 seeded token substitutions (fingerprints
    * cluster within a few bits of the template's — the boilerplate
    * shape); background docs are fully random. */
  def corpus(spark: SparkSession, nDocs: Long, nClusters: Int,
      clusterSize: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val boiler = nClusters.toLong * clusterSize
    spark.range(0L, nDocs, 1L, 64).map { id =>
      val sb = new java.lang.StringBuilder(512)
      if (id < boiler) {
        val c = (id / clusterSize).toInt
        val tmpl = new scala.util.Random(0xB01L * (c + 1))
        val toks = Array.fill(60)("t" + tmpl.nextInt(50000))
        val rnd = new scala.util.Random(id * 2654435761L + 17)
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          toks(rnd.nextInt(60)) = "m" + rnd.nextInt(50000)
        }
        toks.foreach { t => if (sb.length > 0) sb.append(' '); sb.append(t) }
      } else {
        val rnd = new scala.util.Random(id * 6364136223846793005L + 1442695040888963407L)
        (0 until 60).foreach { i =>
          if (i > 0) sb.append(' '); sb.append("u").append(rnd.nextInt(5000000))
        }
      }
      (id, sb.toString)
    }.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = ProbeRig.session()

    val nDocs = sys.env.getOrElse("SPARK_GRAFT_PROBE_DOCS", "1000000").toLong
    val nClusters = 16
    val clusterSize = 8192
    val d = corpus(spark, nDocs, nClusters, clusterSize)
      .localCheckpoint() // one materialization; both runs read the same blocks

    /** (pairs, checksum, wall_s) of the banded pair path under `cap`. */
    def run(cap: String): (Long, java.math.BigDecimal, Double) = {
      spark.conf.set("spark.graft.lsh.maxBucketGroups", cap)
      try {
        val t0 = System.nanoTime()
        val row = graft.queries.TextOps.simhashPairs(d, 3)
          .agg(count(lit(1)).as("n"),
            // order-independent, overflow-proof set checksum
            sum(xxhash64(col("ida"), col("idb"), col("hamming"))
              .cast("decimal(38,0)")).as("chk"))
          .head()
        ((System.nanoTime() - t0) / 1e9, row) match {
          case (w, r) => (r.getLong(0), r.getDecimal(1), w)
        }
      } finally spark.conf.unset("spark.graft.lsh.maxBucketGroups")
    }

    val tightCap = sys.env.getOrElse("SPARK_GRAFT_PROBE_CAP", "512").toInt
    graft.operators.SimHashBuckets.subSplits.set(0L)
    val (nCap, chkCap, wCap) = run(graft.operators.LshBuckets.DefaultMaxBucketGroups.toString)
    val splitsCapped = graft.operators.SimHashBuckets.subSplits.get()
    val (nTight, chkTight, wTight) = run(tightCap.toString)
    val splitsTight = graft.operators.SimHashBuckets.subSplits.get() - splitsCapped
    val (nUn, chkUn, wUn) = run("0")
    val splitsUncapped =
      graft.operators.SimHashBuckets.subSplits.get() - splitsCapped - splitsTight

    val matches = nCap == nUn && chkCap == chkUn &&
      nTight == nUn && chkTight == chkUn
    val line =
      f"""{"round":${Bench.roundNumber},"n_docs":$nDocs,"clusters":$nClusters,"cluster_size":$clusterSize,"default_cap":${graft.operators.LshBuckets.DefaultMaxBucketGroups},"tight_cap":$tightCap,"cap_engaged":${splitsCapped > 0},"tight_cap_engaged":${splitsTight > 0},"sub_splits_capped":$splitsCapped,"sub_splits_tight":$splitsTight,"sub_splits_uncapped":$splitsUncapped,"pairs_capped":$nCap,"pairs_tight":$nTight,"pairs_uncapped":$nUn,"checksum_capped":$chkCap,"checksum_tight":$chkTight,"checksum_uncapped":$chkUn,"capped_equals_uncapped":$matches,"wall_capped_s":$wCap%.1f,"wall_tight_s":$wTight%.1f,"wall_uncapped_s":$wUn%.1f}"""
    println(line)
    ProbeRig.writeArtifact(s"simhash_probe_r${Bench.roundNumber}.json", line,
      "simhashprobe")
    if (!matches) {
      System.err.println(s"[simhashprobe] MISMATCH: capped run lost pairs")
      sys.exit(1)
    }
    spark.stop()
  }
}
