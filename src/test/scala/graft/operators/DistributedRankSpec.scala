package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** DistributedRank must be value-identical to the single-task window
  * forms it replaces — on randomized data with skewed low-cardinality
  * keys, duplicate order-values (complete order restored by the id
  * tiebreaker), and for the global no-keys case whose constant-key
  * join shape regressed once already (BroadcastNestedLoopJoin via
  * constant folding). */
class DistributedRankSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def fixture(seed: Int, n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, s"k${rnd.nextInt(3)}", rnd.nextInt(50).toDouble, 1L + rnd.nextInt(9))
    }.toDF("id", "key", "v", "w").repartition(7)
  }

  test("withRank == row_number window on skewed random data") {
    val df = fixture(0xA11CE, 2000)
    val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
    val expected = df
      .withColumn("grank", row_number().over(w).cast("long"))
      .withColumn("gcount", count(lit(1)).over(Window.partitionBy("key")))
      .select("id", "key", "grank", "gcount")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val got = DistributedRank.withRank(df, Seq("key"), Seq(col("v"), col("id")))
      .select("id", "key", "grank", "gcount")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
  }

  test("withRank global (no keys) == unpartitioned row_number window") {
    val df = fixture(0xBEE, 500)
    val expected = df
      .withColumn("grank", row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ranked = DistributedRank.withRank(df, Seq.empty, Seq(col("v"), col("id")))
    val got = ranked.select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(ranked.select("gcount").distinct().collect().map(_.getLong(0)).toSeq === Seq(500L))
    // the shape that regressed: a constant-folded join key degrades the
    // broadcast HASH join into a nested loop
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"global rank planned a BNLJ:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global rank planned a single-partition stage:\n$plan")
  }

  test("withNtile == ntile window across bucket counts") {
    val df = fixture(0xF0, 997) // prime size: uneven buckets in every n
    Seq(3, 4, 7).foreach { n =>
      val w = Window.orderBy(col("v").desc, col("id"))
      val expected = df.withColumn("nt", ntile(n).over(w))
        .select("id", "nt").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val got = DistributedRank.withNtile(df, Seq.empty, Seq(col("v").desc, col("id")), n)
        .select("id", "nt").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got === expected, s"ntile($n) mismatch")
    }
  }

  test("NULL key values rank within their own group, like PARTITION BY") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x7E57)
    val df = (0 until 600).map { i =>
      val key = rnd.nextInt(4) match {
        case 0 => null
        case n => s"k$n"
      }
      (i.toLong, key, rnd.nextInt(30).toDouble)
    }.toDF("id", "key", "v").repartition(5)
    val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
    val expected = df
      .withColumn("grank", row_number().over(w).cast("long"))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DistributedRank.withRank(df, Seq("key"), Seq(col("v"), col("id")))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === 600, "null-key rows were dropped")
    assert(got === expected)
  }

  test("withRunningSum == running-sum window, keyed and global") {
    val df = fixture(0xD15C, 1500)
    val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("runsum", sum(col("w")).over(w))
      .withColumn("ksum", sum(col("w")).over(Window.partitionBy("key")))
      .select("id", "runsum", "ksum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = DistributedRank
      .withRunningSum(df, Seq("key"), Seq(col("v"), col("id")), col("w"))
      .select("id", "runsum", "ksum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)

    val wg = Window.orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expGlobal = df.withColumn("runsum", sum(col("w")).over(wg))
      .select("id", "runsum")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotGlobal = DistributedRank
      .withRunningSum(df, Seq.empty, Seq(col("v"), col("id")), col("w"))
      .select("id", "runsum")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotGlobal === expGlobal)
  }

  test("all-NULL value group sums to 0, not NULL (documented contract)") {
    // ADVICE r12: the SUM window yields NULL for a key whose values
    // are all NULL; withRunningSum's long accumulator yields 0. The
    // scaladoc documents the divergence — this pins it (and pins that
    // NULL values inside a mixed group add nothing, matching SUM).
    import spark.implicits._
    val df = Seq(
      (0L, "allnull", Option.empty[Long]),
      (1L, "allnull", Option.empty[Long]),
      (2L, "mixed", Some(5L)),
      (3L, "mixed", Option.empty[Long]),
      (4L, "mixed", Some(2L))
    ).toDF("id", "key", "w")
    val got = DistributedRank
      .withRunningSum(df, Seq("key"), Seq(col("id")), col("w"))
      .select("id", "runsum", "ksum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (0L, 0L, 0L), (1L, 0L, 0L), // all-NULL group: 0, NOT null / dropped
      (2L, 5L, 7L), (3L, 5L, 7L), (4L, 7L, 7L)))
  }

  test("withRank == window rank()/count (string+NULL, NaN, -0.0 keys)") {
    // the reference is Spark's own window form over the same complete
    // order. String + NULL keys exercise the copied-previous-key probe
    // (the sort iterator reuses its buffer, so a stale UTF8String view
    // would corrupt group boundaries); NaN / ±0.0 keys must group the
    // way PARTITION BY normalizes them.
    import spark.implicits._
    def check(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
      val expected = df
        .withColumn("grank", rank().over(w).cast("long"))
        .withColumn("gcount", count(lit(1)).over(Window.partitionBy("key")))
        .select("id", "grank", "gcount").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = DistributedRank.withRank(df, Seq("key"), Seq(col("v"), col("id")))
        .select("id", "grank", "gcount").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.size === n)
      assert(got === expected)
    }
    val rnd = new scala.util.Random(0x0518)
    check((0 until 900).map { i =>
      val key = rnd.nextInt(4) match { case 0 => null; case n => s"k$n" }
      (i.toLong, key, rnd.nextInt(25).toDouble)
    }.toDF("id", "key", "v").repartition(7), 900)
    check((0 until 300).map { i =>
      val key = i % 4 match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => Double.NaN
        case _ => 3.25
      }
      (i.toLong, key, (i * 7 % 31).toDouble)
    }.toDF("id", "key", "v").repartition(5), 300)
  }

  test("signed-zero and NaN double keys group like PARTITION BY (one group each)") {
    // review r18: the specialized probe compares boxed key values with
    // equals (bitwise for doubles) — without normalization, −0.0 and
    // 0.0 split into separate run groups while the downstream groupBy
    // normalizes them into ONE key, emitting duplicate ranks. NaN must
    // also be one group (grouping treats NaN == NaN).
    import spark.implicits._
    val rnd = new scala.util.Random(0x0027)
    val rows = (0 until 400).map { i =>
      val key = i % 4 match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => Double.NaN
        case _ => 7.5
      }
      (i.toLong, key, rnd.nextInt(40).toDouble)
    }
    val df = rows.toDF("id", "key", "v").repartition(5)
    val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
    val expected = df
      .withColumn("grank", row_number().over(w).cast("long"))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DistributedRank.withRank(df, Seq("key"), Seq(col("v"), col("id")))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === 400, "rows dropped on float keys")
    assert(got === expected)
  }

  test("nested struct keys (float + binary leaves) group like PARTITION BY") {
    // review r18 pass 3: the comparable-tree converter must
    // canonicalize NaN leaves (Scala Vector equality is numeric —
    // boxed NaN != NaN) and wrap binary leaves (Array[Byte] equals is
    // by reference), or every such row starts its own run group
    import spark.implicits._
    val base = (0 until 240).map { i =>
      val d = i % 3 match {
        case 0 => 0.0
        case 1 => -0.0
        case _ => Double.NaN
      }
      (i.toLong, d, s"g${i % 2}", (i * 11 % 37).toDouble)
    }.toDF("id", "d", "tag", "v")
    val df = base.select(col("id"),
      struct(col("d"), encode(col("tag"), "UTF-8").as("b")).as("key"), col("v"))
    val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
    val expected = df.withColumn("grank", row_number().over(w).cast("long"))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DistributedRank.withRank(df, Seq("key"), Seq(col("v"), col("id")))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === 240)
    assert(got === expected)
  }

  test("top-level binary keys group by value, not array reference") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"k${i % 3}", (i * 13 % 41).toDouble))
      .toDF("id", "tag", "v")
      .select(col("id"), encode(col("tag"), "UTF-8").as("key"), col("v"))
    val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
    val expected = df.withColumn("grank", row_number().over(w).cast("long"))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DistributedRank.withRank(df, Seq("key"), Seq(col("v"), col("id")))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("ranks are invariant across shuffle-partition counts (P sensitivity)") {
    // VERDICT r12 #8: `p` comes from spark.sql.shuffle.partitions, so
    // partition boundaries, the P²×K fan-out and the prior-count
    // attach all change with P — the RESULT must not. Pin exact rank
    // equality at unusual P values incl. P=1 (degenerate single
    // slice) and P larger than the row count of some keys.
    val df = fixture(0x9A27, 800)
    val w = Window.partitionBy("key").orderBy(col("v"), col("id"))
    val expected = df
      .withColumn("grank", row_number().over(w).cast("long"))
      .select("id", "grank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val conf = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(conf)
    try {
      Seq("1", "7", "61").foreach { p =>
        spark.conf.set(conf, p)
        val got = DistributedRank.withRank(df, Seq("key"), Seq(col("v"), col("id")))
          .select("id", "grank")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === expected, s"rank drift at P=$p")
      }
    } finally spark.conf.set(conf, saved)
  }
}
