package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive scan fan-out (optimization guide §2.5 "input skew:
  * one huge unsplittable file → repartition immediately after the
  * read", made conditional so it is a no-op at scale).
  *
  * The bench corpus tables are single-row-group parquet files, so every
  * scan plans exactly ONE task regardless of `maxPartitionBytes` (a
  * split only owns the row groups whose midpoint falls inside it) — and
  * any expensive narrow kernel fused into that scan stage (MinHash
  * signatures, winnow fingerprints, codec decodes) runs single-threaded
  * while the other 31 cores idle. At 100 TB the same scan plans
  * thousands of splits and needs no help.
  *
  * Rule: repartition to the session's default parallelism IFF the
  * planned scan has fewer partitions — decided from the plan's OWN
  * partition count (file listing + split packing; no job runs), never
  * from a constant, so the exchange exists exactly when the input
  * cannot feed the cores and disappears exactly when a repartition
  * would be a full-corpus shuffle. When `keys` are given the exchange
  * hash-partitions on them (deterministic under task retry — guide
  * §2.5's rand-repartition caveat); otherwise round-robin (Spark's
  * sort-before-repartition keeps that retry-safe too).
  */
object FanOut {
  def apply(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }
}
