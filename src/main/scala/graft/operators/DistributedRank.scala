package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact complete-order rank per key WITHOUT a per-key single-task
  * window — the scale-safe form of `rank()/percent_rank()/ntile()
  * OVER (PARTITION BY low-cardinality-key ORDER BY complete-order)`.
  *
  * The classic window funnels each key's ENTIRE row set through one
  * task (a full sort on a ~3-value key at 100 TB is the textbook
  * scale-killer — VERDICT r11 §What's wrong #1/#2). This operator
  * computes the IDENTICAL integer rank with every stage partitioned:
  *
  *   1. range-repartition on (keys ++ order) — each key's rows are
  *      split across many partitions, globally ordered across
  *      partition ids (Spark's RangePartitioner; the same machinery
  *      behind a distributed ORDER BY); both consuming branches
  *      canonicalize to the same Exchange, so the shuffle runs once;
  *   2. per-(partition, key) row counts — a tiny aggregate of at most
  *      P×K rows, read straight off the exchange with no sort;
  *   3. fan the count table out to every partition id (≤ P²×K tiny
  *      tuples) and aggregate each target's PRIOR per-key count plus
  *      the key total — deliberately NOT a cumulative window (that
  *      would reintroduce an `Exchange SinglePartition` for the
  *      global case, the very shape PlanLint pins against) and NOT a
  *      theta join (BroadcastNestedLoopJoin is lint-forbidden);
  *   4. in-partition sort + one narrow streaming pass assigns each
  *      row its local (partition, key) rank — not a Window, which
  *      would force a second full-data hash exchange Catalyst cannot
  *      know is redundant — and a broadcast hash join on
  *      (partition-id, key) attaches prior and total.
  *
  * global rank = prior + local rank. Exactness: the range
  * partitions are disjoint, totally ordered slices of the complete
  * (keys, order) order, so local rank offset by the prior count is
  * the global rank — pure integer arithmetic, cross-engine exact,
  * bit-identical to the single-task window form.
  */
object DistributedRank {

  /** Deep-copy a catalyst value read out of a reused row buffer so it
    * survives the iterator advancing (UnsafeRow-backed UTF8String /
    * array / map / struct views alias the buffer; primitives and
    * Decimal are already safe). */
  private def copyCatalystValue(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case r: org.apache.spark.sql.catalyst.InternalRow => r.copy()
    case x => x
  }

  /** GROUPING-semantics key conversion (review r18, both passes): the
    * run probe must see two key values equal exactly when Spark's
    * grouping does — the downstream per-(pid, key) groupBy and the
    * null-safe attach join normalize floats (−0.0 ≡ 0.0, NaN ≡ NaN,
    * RECURSIVELY into structs/arrays — NormalizeFloatingNumbers), so
    * a probe that splits them emits duplicate ranks. [[keyConverter]]
    * builds one converter per key column from its DataType:
    *  - top-level Double/Float: ±0.0 → +0.0 boxed (boxed equals
    *    already canonicalizes NaN bit patterns);
    *  - binary: wrapped for VALUE equality (Array[Byte] equals is by
    *    reference);
    *  - nested struct/array types: convert to a plain Scala Vector
    *    tree with normalized float leaves (NaN → a shared marker —
    *    Scala collection equality is cooperative-numeric, so even
    *    boxed NaN != NaN inside a Vector) and wrapped binary leaves;
    *  - everything else: identity for compare, deep-copy for store
    *    (handled at the call sites).
    * MapType keys need no case: Spark rejects grouping by maps.
    * Pinned by DistributedRankSpec's signed-zero/NaN and struct-key
    * cases. */
  private val ZeroD = java.lang.Double.valueOf(0.0)
  private val ZeroF = java.lang.Float.valueOf(0.0f)
  /** Shared canonical NaN stand-in: inside Scala collections (the
    * nested-key Vector trees) equality is
    * COOPERATIVE NUMERIC (NaN != NaN even boxed — review r18 pass 3,
    * verified on 2.13.17), so a NaN leaf must become this singleton
    * to group the way NormalizeFloatingNumbers does. Top-level boxed
    * compares use Double.equals, where canonical-NaN boxing suffices. */
  private object NaNMarker
  private def normTop(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0 => ZeroD
    case f: java.lang.Float if f.floatValue() == 0.0f => ZeroF
    case x => x
  }
  /** Binary grouping keys compare by VALUE downstream, but Array[Byte]
    * equals is reference equality — wrap in an immutable value-equal
    * seq (UnsafeRow.getBinary already returns a fresh copy, so the
    * wrap is safe to store). Review r18 pass 3: a binary key
    * previously reset the run counter on every row. */
  private def wrapBinary(v: Any): Any =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(v.asInstanceOf[Array[Byte]])
  /** Deep conversion to a comparable Scala tree with normalized float
    * leaves and value-equal binary leaves — used for nested key
    * types, where neither catalyst (byte-wise) nor Scala default
    * equality matches grouping semantics. */
  private def toComparable(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (v == null) null
    else dt match {
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d == 0.0) ZeroD
        else if (java.lang.Double.isNaN(d)) NaNMarker // Vector equality is numeric
        else java.lang.Double.valueOf(d)
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f == 0.0f) ZeroF
        else if (java.lang.Float.isNaN(f)) NaNMarker
        else java.lang.Float.valueOf(f)
      case BinaryType => wrapBinary(v) // Array[Byte] equals is by reference
      case s: StructType =>
        val r = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        Vector.tabulate(s.length)(i =>
          toComparable(if (r.isNullAt(i)) null else r.get(i, s(i).dataType),
            s(i).dataType))
      case a: ArrayType =>
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        Vector.tabulate(arr.numElements())(i =>
          toComparable(if (arr.isNullAt(i)) null else arr.get(i, a.elementType),
            a.elementType))
      case _ => copyCatalystValue(v) // string/decimal leaf inside a struct
    }
  }
  /** (compareConv, storeConv) per key type: compare may alias the row
    * buffer (equals runs immediately); store must survive iteration. */
  private[operators] def keyConverter(dt: org.apache.spark.sql.types.DataType)
      : (Any => Any, Any => Any) = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType | FloatType => (normTop, normTop)
      case BinaryType => (wrapBinary _, wrapBinary _)
      case _: StructType | _: ArrayType =>
        // nested keys always go through the comparable-tree form:
        // value equality for byte[] leaves and grouping semantics for
        // float leaves cannot ride on catalyst/Scala default equals.
        // Cost: one converted tree per row per nested key — inherent
        // to value comparison on nested types, acceptable because
        // nested grouping keys are a rare shape (no engine call site
        // uses one); scalar keys keep the allocation-free fast path.
        val f = (v: Any) => toComparable(v, dt)
        (f, f)
      case _ => (identity[Any] _, copyCatalystValue _)
    }
  }

  /** Adds `grank` (1-based rank of the row within its key under the
    * complete ascending `order`) and `gcount` (total rows of the key)
    * to `df`. `order` must be a COMPLETE order (no ties) within each
    * key or ranks are nondeterministic — same contract as the window
    * form it replaces. `keys` may be empty for a global rank; NULL
    * key values rank within their own group, exactly like
    * PARTITION BY. */
  def withRank(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    runningAgg(df, keys, order, value = None, aggName = "grank", totalName = "gcount")

  /** Running-sum sibling of [[withRank]]: appends `runsum` (the
    * INCLUSIVE per-key running sum of `value` in the complete
    * ascending `order`) and `ksum` (the key total). This is the
    * distributed prefix sum: `SUM(v) OVER (PARTITION BY key
    * ORDER BY ...)` without funneling a low-cardinality key's history
    * through one task. `value` must be integral (cast to long) so
    * partial sums are exact and order-independent; NULL values add
    * nothing, matching SUM's null-skipping — with ONE documented
    * divergence: a key whose values are ALL NULL yields `runsum`/
    * `ksum` 0 here, where the SUM window form yields NULL (the long
    * accumulator has no null state; ADVICE r12). Callers needing the
    * window's NULL-on-empty convention must nullify via a separate
    * `count(value)`-per-key check; current consumers pass non-nullable
    * counts. Pinned by DistributedRankSpec's all-NULL-group case. */
  def withRunningSum(df: DataFrame, keys: Seq[String], order: Seq[Column],
      value: Column): DataFrame =
    runningAgg(df, keys, order, Some(value), aggName = "runsum", totalName = "ksum")

  /** Shared engine for [[withRank]] (value = None: each row weighs 1)
    * and [[withRunningSum]] — ONE copy of the subtle machinery: the
    * boundary-consistency checkpoint, the P²×K fan-out, and the
    * null-safe broadcast attach. */
  private def runningAgg(df: DataFrame, keys: Seq[String], order: Seq[Column],
      value: Option[Column], aggName: String, totalName: String): DataFrame = {
    val spark = df.sparkSession
    // p is the session's shuffle parallelism: the step-3 fan-out below
    // is bounded by P²×K tiny (long, key, long) tuples — at P=32 that
    // is ≤1k×K, at a cluster-sized P=2000 it is 4M×K, still far under
    // one executor's memory for any realistic key cardinality K (the
    // operator exists precisely because K is LOW). Results are
    // P-invariant (DistributedRankSpec pins P ∈ {1, 7, 61}); only the
    // fan-out volume scales with P.
    val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val base = value.map(v => df.withColumn("__val", v.cast("long"))).getOrElse(df)
    val partCols = keys.map(col) ++ order
    // In-partition sort + ONE narrow streaming pass assigns local
    // aggregates. Not a Window: that would force a second full-data
    // hash exchange on (__pid, key) — Catalyst cannot see the range
    // partitioning already clusters them.
    val sorted = base.repartitionByRange(p, partCols: _*)
      .sortWithinPartitions(partCols: _*)
    val keyIdx = keys.map(sorted.schema.fieldIndex).toArray
    val valIdx = value.map(_ => sorted.schema.fieldIndex("__val")).getOrElse(-1)
    val outSchema = sorted.schema
      .add("__pid", org.apache.spark.sql.types.IntegerType)
      .add("__lagg", org.apache.spark.sql.types.LongType)
    // lazily materialize ONCE (shared-stage doctrine): the per-
    // partition totals branch below must see the SAME partition
    // boundaries as the aggregated rows. Two independent executions of
    // the range exchange are NOT guaranteed that — column pruning
    // gives each branch a different exchange subtree (no reuse), and
    // RangePartitioner samples with a per-execution seed, so
    // boundaries can differ between runs (caught by
    // DistributedRankSpec). Both consumers read the SAME toRdd-backed
    // LogicalRDD, so the range exchange executes once; the LogicalRDD
    // boundary also stops pruning from narrowing the checkpoint.
    // Checkpoints.truncate preserves laziness in both its modes, so
    // the single-exchange invariant holds under the reliable path too.
    //
    // The per-row pass works at the InternalRow level: each row pays
    // one codegen'd UnsafeProjection write + one buffer copy, and
    // key-change detection compares raw catalyst values against a
    // copied previous-key array with no per-row allocation. An
    // external-Row pass under a generic RowEncoder allocated a boxed
    // Seq plus two array copies per row and was this engine's one
    // interpreter-hostile hot loop (A/B in bench/distrank_ab_r18.json).
    val keyTypes = keyIdx.map(i => sorted.schema(i).dataType)
    val keyConvs = keyTypes.map(keyConverter)
    val rdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val proj = UnsafeProjection.create(outSchema)
      val extra = new GenericInternalRow(2)
      extra.update(0, pid)
      val joined = new JoinedRow
      val nKeys = keyIdx.length
      val prevKey = new Array[Any](nKeys)
      var started = false
      var acc = 0L
      it.map { row =>
        // same-key probe against the COPIED previous key values
        // (the sort iterator reuses its row buffer, so live
        // UTF8String/array views from the prior row are invalid)
        var same = started
        var i = 0
        while (same && i < nKeys) {
          val cur =
            if (row.isNullAt(keyIdx(i))) null
            else keyConvs(i)._1(row.get(keyIdx(i), keyTypes(i)))
          val p = prevKey(i)
          // Java equals, not Scala's numeric `==`: a boxed NaN key
          // must equal itself (normTop leaves NaN as is)
          same = if (p == null) cur == null else p.asInstanceOf[AnyRef].equals(cur)
          i += 1
        }
        if (!same) {
          var j = 0
          while (j < nKeys) {
            prevKey(j) =
              if (row.isNullAt(keyIdx(j))) null
              else keyConvs(j)._2(row.get(keyIdx(j), keyTypes(j)))
            j += 1
          }
          acc = 0L
          started = true
        }
        acc += (if (valIdx < 0) 1L
          else if (row.isNullAt(valIdx)) 0L
          else row.getLong(valIdx))
        extra.update(1, acc)
        // copy: the projection reuses its buffer, and the
        // checkpoint persists these rows
        proj(joined(row, extra))
          .copy(): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    val agged = Checkpoints.truncate(org.apache.spark.sql.GraftDataFrameBridge
      .internalCreateDataFrame(spark, rdd, outSchema))
    // tiny per-(partition, key) totals from the SAME materialized pass
    val perPart = agged.groupBy((col("__pid") +: keys.map(col)): _*)
      .agg((if (valIdx >= 0) coalesce(sum(col("__val")), lit(0L))
        else count(lit(1))).as("__pt"))
    // ONE broadcast side keyed by (partition, key) carrying BOTH the
    // prior total (rows/values of the key in lower-numbered range
    // partitions) and the key total: every per-partition row fans out
    // to all P partition ids — ≤ P²×K tiny tuples, bounded by
    // partitioning not data volume — and contributes to the prior sum
    // only below its target. Joining on __pid (genuinely per-row,
    // never constant-foldable) keeps this a broadcast HASH join even
    // in the no-keys global case, where a constant-key join would fold
    // into the BroadcastNestedLoopJoin shape PlanLint forbids.
    val aug = perPart
      .withColumn("__tpid", explode(sequence(lit(0), lit(p - 1), lit(1))))
      .groupBy((col("__tpid") +: keys.map(col)): _*)
      .agg(sum(when(col("__pid") < col("__tpid"), col("__pt"))
          .otherwise(lit(0L))).as("__prior"),
        sum(col("__pt")).as(totalName))
      .withColumnRenamed("__tpid", "__pid")
    // NULL-SAFE key equality (<=>): a plain equi-join would silently
    // DROP null-key rows, where PARTITION BY ranks the null group
    // normally (caught by DistributedRankSpec's null-key case)
    val augR = keys.foldLeft(aug.withColumnRenamed("__pid", "__apid")) {
      (d, c) => d.withColumnRenamed(c, "__a_" + c)
    }
    val cond = keys.map(c => agged(c) <=> augR("__a_" + c))
      .foldLeft(agged("__pid") === augR("__apid"))(_ && _)
    agged.join(broadcast(augR), cond)
      .withColumn(aggName, col("__prior") + col("__lagg"))
      .drop(("__apid" +: keys.map("__a_" + _)) ++
        Seq("__pid", "__prior", "__lagg") ++ value.map(_ => "__val").toSeq: _*)
  }

  /** percent_rank twin: `pr` = (grank−1)/(gcount−1) in double — the
    * exact arithmetic Spark's and DuckDB's percent_rank use — and 0.0
    * for single-row keys (both engines' convention; the raw division
    * would yield NaN, which Spark orders ABOVE every double, silently
    * passing `pr >= t` filters). */
  def withPercentRank(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    withRank(df, keys, order)
      .withColumn("pr",
        when(col("gcount") === 1L, lit(0.0))
          .otherwise((col("grank") - 1L).cast("double") /
            (col("gcount") - 1L).cast("double")))

  /** ntile twin: `nt` = the SQL-standard ntile bucket (first
    * `gcount % n` buckets get ⌈gcount/n⌉ rows, the rest ⌊gcount/n⌋) —
    * integer arithmetic on the exact global rank, identical to
    * `ntile(n) OVER (ORDER BY ...)` in both engines. */
  def withNtile(df: DataFrame, keys: Seq[String], order: Seq[Column], n: Int): DataFrame =
    // integer DIV throughout — Spark's `/` on longs is DOUBLE division
    // and silently truncates the wrong boundary (DistributedRankSpec
    // caught buckets off by one at n=4). big = ⌈gcount/n⌉ is the size
    // of the first (gcount % n) buckets; ranks past the big region
    // fall into ⌊gcount/n⌋-sized buckets.
    withRank(df, keys, order)
      .withColumn("nt", expr(
        s"""CAST(CASE
              WHEN grank <= (gcount % $n) * (gcount DIV $n + 1)
              THEN (grank - 1) DIV (gcount DIV $n + 1) + 1
              ELSE (grank - (gcount % $n) * (gcount DIV $n + 1) - 1)
                     DIV (gcount DIV $n) + gcount % $n + 1
            END AS INT)"""))
}
