package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** Adversarial micro-batch boundary armor for the stateful streaming
  * twins (VERDICT r9 task 6). EventsStreamSpec proves batch/stream
  * parity on the fixture's natural single-batch split; here the SAME
  * events are re-chunked into randomized (seeded) micro-batch
  * boundaries — cutting the time-ordered stream at arbitrary points,
  * including a cut that splits a view from the click it must answer —
  * and the asofStream / sessionizeStream outputs must be invariant:
  * byte-equal to the batch twins no matter where the boundaries fall,
  * because GroupState carries exactly the information a boundary can
  * sever. A straggler older than committed state is separately pinned
  * to the documented drop rule. Seeds are fixed constants below so a
  * failure reproduces. */
class MicroBatchSplitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixtureDir = "/root/testdata/sf0.001"

  /** Fixture rows in the twins' canonical (ts_us, event_id) order. */
  private lazy val ordered: (Array[Row], org.apache.spark.sql.types.StructType) = {
    val df = spark.read.parquet(s"$fixtureDir/events.parquet")
    val rows = df.withColumn("__us", EventTime.tsUs(df))
      .orderBy("__us", "event_id").drop("__us").collect()
    (rows, df.schema)
  }

  /** Feed `chunks` as successive micro-batches (one parquet file +
    * processAllAvailable per chunk) through `twin`, return the sink. */
  private def runChunked(name: String, chunks: Seq[Seq[Row]],
      twin: DataFrame => DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = ordered._2
    val dir = java.nio.file.Files.createTempDirectory(s"mbs_$name").toString
    val sin = spark.readStream.schema(schema).parquet(s"$dir/*")
    val q = twin(sin).writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        spark.createDataFrame(chunk.asJava, schema)
          .coalesce(1).write.parquet(s"$dir/b$i")
        q.processAllAvailable()
      }
      spark.table(name)
    } finally q.stop()
  }

  private def cutAt(rows: Array[Row], cuts: Seq[Int]): Seq[Seq[Row]] = {
    val bounds = (0 +: cuts.distinct.sorted :+ rows.length).distinct
    bounds.sliding(2).map { case Seq(a, b) => rows.slice(a, b).toSeq }.toSeq
  }

  private def sessRows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def asofRows(df: DataFrame): Seq[String] =
    df.orderBy("click_id").collect().map(_.toString).toSeq

  test("seeded random micro-batch boundaries leave both stateful twins invariant") {
    val (rows, _) = ordered
    val batchDf = spark.read.parquet(s"$fixtureDir/events.parquet")
    val sessExpected = sessRows(EventsStream.sessionize(batchDf))
    val asofExpected = asofRows(
      graft.queries.PipelineOps.queries("ev_asof_join")(spark, fixtureDir)
        .select(col("click_id"), col("user_id"), col("view_id"), col("gap_us")))
    assert(sessExpected.nonEmpty && asofExpected.nonEmpty, "degenerate fixture")

    Seq(0xA11CE, 0xBEEF5, 0x5EED0).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nCuts = 3 + rnd.nextInt(4) // 4-7 micro-batches
      val chunks = cutAt(rows, Seq.fill(nCuts)(1 + rnd.nextInt(rows.length - 1)))
      val sess = sessRows(runChunked(s"mbs_sess_$seed", chunks,
        df => EventsStream.sessionizeStream(spark, df)))
      assert(sess === sessExpected, s"sessionizeStream not invariant under seed 0x${seed.toHexString}")
      val asof = asofRows(runChunked(s"mbs_asof_$seed", chunks,
        df => EventsStream.asofStream(spark, df)))
      assert(asof === asofExpected, s"asofStream not invariant under seed 0x${seed.toHexString}")
    }
  }

  test("a view and its answering click split across batches still join through state") {
    val (rows, _) = ordered
    // find a view whose user's NEXT event in stream order (not
    // necessarily adjacent globally) is a click — then cut the stream
    // immediately after the view, severing the pair across batches
    val cut = rows.indices.find { i =>
      val r = rows(i)
      r.getAs[String]("event_type") == "view" && {
        val uid = r.getAs[Long]("user_id")
        rows.drop(i + 1).find(_.getAs[Long]("user_id") == uid)
          .exists(_.getAs[String]("event_type") == "click")
      }
    }.map(_ + 1)
    assume(cut.isDefined, "fixture carries no view->click sequence")
    val viewRow = rows(cut.get - 1)
    val viewId = viewRow.getAs[Long]("event_id")
    val uid = viewRow.getAs[Long]("user_id")
    val clickId = rows.drop(cut.get).find(r =>
      r.getAs[Long]("user_id") == uid && r.getAs[String]("event_type") == "click")
      .get.getAs[Long]("event_id")

    val got = runChunked("mbs_split_pair", cutAt(rows, Seq(cut.get)),
      df => EventsStream.asofStream(spark, df))
      .filter(col("click_id") === clickId).collect()
    assert(got.length === 1)
    // the click's latest-view answer may be the severed view itself or
    // a LATER view arriving between them — recompute from the prefix
    val expectView = rows.slice(0, rows.indexWhere(
        r => r.getAs[Long]("event_id") == clickId))
      .filter(r => r.getAs[Long]("user_id") == uid &&
        r.getAs[String]("event_type") == "view")
      .last.getAs[Long]("event_id")
    assert(got.head.getAs[Long]("view_id") === expectView,
      s"cross-batch as-of lost the view committed before the boundary (view $viewId)")
  }

  test("a straggler older than committed state is dropped, everything else invariant") {
    val (rows, schema) = ordered
    val batchDf = spark.read.parquet(s"$fixtureDir/events.parquet")
    val sessExpected = sessRows(EventsStream.sessionize(batchDf))
    // pick a user with >= 2 DISTINCT event times in the µs domain the
    // drop rule compares in (ts < committed lastTs is STRICT, so a
    // user whose events all share one ts_us would let the cloned
    // straggler tie lastTs and leak through — ADVICE r10); the
    // straggler clones the user's FIRST event with a fresh id —
    // strictly older than the committed lastTs once every real event
    // has been processed
    val eventsDf = spark.read.parquet(s"$fixtureDir/events.parquet")
    val tsUsById = eventsDf
      .select(col("event_id"), EventTime.tsUs(eventsDf).as("__us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    val (uid, uRows) = byUser.find { case (_, rs) =>
      rs.map(r => tsUsById(r.getAs[Long]("event_id"))).distinct.length >= 2
    }.get
    val stragglerId = rows.map(_.getAs[Long]("event_id")).max + 1000L
    val straggler = Row.fromSeq(uRows.head.toSeq.updated(
      schema.fieldIndex("event_id"), stragglerId))

    val sess = runChunked("mbs_straggler",
      Seq(rows.toSeq, Seq(straggler)),
      df => EventsStream.sessionizeStream(spark, df))
    assert(!sess.collect().exists(_.getLong(0) == stragglerId),
      s"straggler $stragglerId (user $uid) leaked past committed state")
    assert(sessRows(sess) === sessExpected,
      "straggler processing disturbed the committed session assignment")
  }

  test("funnelStream advancement rows equal the batch funnel under random cuts") {
    val (rows, _) = ordered
    val batch = graft.queries.PipelineOps.queries("ev_funnel")(spark, fixtureDir)
    // unroll the batch result into advancement rows: stage k reached
    // at t_k ⟺ one (user, k, t_k) emission from the twin
    val expected = batch.collect().flatMap { r =>
      val u = r.getLong(0)
      Seq(2 -> 1, 3 -> 2, 4 -> 3).flatMap { case (idx, stage) =>
        Option(r.get(idx)).map(t => (u, stage, t.asInstanceOf[Long]))
      }
    }.sortBy(x => (x._1, x._2)).toSeq
    assert(expected.nonEmpty, "degenerate fixture: nobody enters the funnel")
    Seq(0xF00D1, 0xCAFE2).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nCuts = 3 + rnd.nextInt(4)
      val chunks = cutAt(rows, Seq.fill(nCuts)(1 + rnd.nextInt(rows.length - 1)))
      val got = runChunked(s"mbs_funnel_$seed", chunks,
          df => EventsStream.funnelStream(spark, df))
        .orderBy("user_id", "stage")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(got === expected,
        s"funnelStream not invariant under seed 0x${seed.toHexString}")
    }
  }

  test("quantileStream final sketch equals the batch sketch even under a SHUFFLED stream") {
    import graft.operators.QuantileSketch
    val (rows, _) = ordered
    val gamma = QuantileSketch.gammaFor(0.01)
    val batchDf = spark.read.parquet(s"$fixtureDir/events.parquet")
    val expected = QuantileSketch.groupSketch(batchDf, "event_type", "value")
      .map { case (k, dd) =>
        k -> (QuantileSketch.quantile(dd, 0.5, gamma),
          QuantileSketch.quantile(dd, 0.95, gamma), dd.n) }
    assert(expected.nonEmpty)
    def finals(df: DataFrame): Map[String, (Double, Double, Long)] =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
        .groupBy(_._1).map { case (k, rs) =>
          val last = rs.maxBy(_._2)
          k -> (last._3, last._4, last._5)
        }
    // ordered cuts AND a full shuffle: the histogram state is
    // order-independent, a stronger scope than the ordered twins'
    val rnd = new scala.util.Random(0xDD5)
    val shuffled = rnd.shuffle(rows.toSeq).toArray
    Seq(cutAt(rows, Seq.fill(4)(rnd.nextInt(rows.length))),
        cutAt(shuffled, Seq.fill(6)(rnd.nextInt(rows.length)))).zipWithIndex
      .foreach { case (chunks, i) =>
        val got = finals(runChunked(s"mbs_qs$i", chunks,
          df => EventsStream.quantileStream(spark, df)))
        assert(got === expected, s"quantileStream variant $i diverged")
      }
  }

  test("attributionStream credit rows equal the batch ev_attribution under random cuts") {
    val (rows, _) = ordered
    val expected = graft.queries.PipelineOps.queries("ev_attribution")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSeq.sorted
    assert(expected.nonEmpty, "degenerate fixture: no attributed conversions")
    Seq(0xA77B1, 0x40204).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nCuts = 3 + rnd.nextInt(4)
      val chunks = cutAt(rows, Seq.fill(nCuts)(1 + rnd.nextInt(rows.length - 1)))
      val got = runChunked(s"mbs_attr_$seed", chunks,
          df => EventsStream.attributionStream(spark, df))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
        .toSeq.sorted
      assert(got === expected,
        s"attributionStream not invariant under seed 0x${seed.toHexString}")
    }
  }

  test("locfStream grid rows equal the batch LOCF resample under random cuts") {
    val (rows, schema) = ordered
    val batch = graft.queries.PipelineOps.queries("ev_locf_resample")(spark, fixtureDir)
    val expected = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(expected.nonEmpty, "degenerate fixture: empty LOCF grid")
    // watermark-advancing sentinels: single-event users contribute no
    // grid rows of their own (h0 > h1), but their late timestamps push
    // the watermark past every real hour boundary so the tail hours
    // flush through the EventTimeTimeout path (two chunks because a
    // batch runs under the PREVIOUS batch's watermark)
    val iTs = schema.fieldIndex("ts")
    val iId = schema.fieldIndex("event_id")
    val iUser = schema.fieldIndex("user_id")
    val last = rows.last
    val maxId = rows.map(_.getLong(iId)).max
    def sentinel(i: Int): Row = {
      val vals = last.toSeq.toArray
      vals(iId) = maxId + 1 + i
      vals(iUser) = -1L - i
      vals(iTs) = last.get(iTs) match { // physical ts form varies (EventTimeSpec)
        case t: java.sql.Timestamp =>
          new java.sql.Timestamp(t.getTime + (i + 1) * 3L * 3600 * 1000)
        case t: java.time.LocalDateTime => t.plusHours((i + 1) * 3L)
        case t: java.lang.Long => java.lang.Long.valueOf(
          t + (i + 1) * 3L * 3600 * 1000000000L) // ns BIGINT
        case other => fail(s"unexpected ts type: ${other.getClass}")
      }
      Row.fromSeq(vals.toSeq)
    }
    Seq(0xBEEF1, 0xD00D2).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nCuts = 3 + rnd.nextInt(4)
      val chunks = cutAt(rows, Seq.fill(nCuts)(1 + rnd.nextInt(rows.length - 1))) ++
        Seq(Seq(sentinel(0)), Seq(sentinel(1)))
      val got = runChunked(s"mbs_locf_$seed", chunks,
          df => EventsStream.locfStream(spark, df))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      assert(got === expected,
        s"locfStream not invariant under seed 0x${seed.toHexString}")
    }
  }

  test("pathsStream trigrams equal the batch sliding window under random cuts") {
    val (rows, _) = ordered
    val eventsDf = spark.read.parquet(s"$fixtureDir/events.parquet")
    val tsUsById = eventsDf
      .select(col("event_id"), EventTime.tsUs(eventsDf).as("__us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch expectation: per-user consecutive triples in (ts, id) order
    val expected = rows.groupBy(_.getAs[Long]("user_id")).toSeq.flatMap {
      case (u, rs) =>
        val o = rs.sortBy(r => (
          tsUsById(r.getAs[Long]("event_id")), r.getAs[Long]("event_id")))
        o.sliding(3).filter(_.length == 3).map { t =>
          (u, t.map(_.getAs[String]("event_type")).mkString(">"),
            t.last.getAs[Long]("event_id"))
        }
    }.sortBy(x => (x._1, x._3, x._2))
    assert(expected.nonEmpty, "degenerate fixture: no user has 3 events")
    Seq(0xDADA3, 0xB00C4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nCuts = 3 + rnd.nextInt(4)
      val chunks = cutAt(rows, Seq.fill(nCuts)(1 + rnd.nextInt(rows.length - 1)))
      val got = runChunked(s"mbs_paths_$seed", chunks,
          df => EventsStream.pathsStream(spark, df))
        .select("user_id", "path", "event_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(x => (x._1, x._3, x._2)).toSeq
      assert(got === expected,
        s"pathsStream not invariant under seed 0x${seed.toHexString}")
    }
  }

  test("retentionStream emissions aggregate to the batch cohort table under random cuts") {
    val (rows, _) = ordered
    // batch expectation: ev_retention rows within the twin's 64-day
    // horizon (the bitmask state's documented bound)
    val expected = graft.queries.PipelineOps.queries("ev_retention")(spark, fixtureDir)
      .filter(col("day_offset") < 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(x => (x._1, x._2))
    assert(expected.nonEmpty, "degenerate fixture: no retention rows")
    Seq(0xFEED5, 0xD00D6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nCuts = 3 + rnd.nextInt(4)
      val chunks = cutAt(rows, Seq.fill(nCuts)(1 + rnd.nextInt(rows.length - 1)))
      val got = runChunked(s"mbs_ret_$seed", chunks,
          df => EventsStream.retentionStream(spark, df))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(x => (x._1, x._2))
      assert(got === expected,
        s"retentionStream not invariant under seed 0x${seed.toHexString}")
    }
  }

  test("an exact duplicate redelivery of the newest event fabricates no trigram") {
    val (rows, _) = ordered
    // expected trigrams from the clean stream
    val clean = runChunked("mbs_dup_clean", Seq(rows.toSeq),
        df => EventsStream.pathsStream(spark, df))
      .select("user_id", "path", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(clean.nonEmpty)
    // redeliver the globally LAST event verbatim (same event_id, same
    // ts — the at-least-once duplicate shape) in a second micro-batch
    val dup = rows.last
    val got = runChunked("mbs_dup_replay", Seq(rows.toSeq, Seq(dup)),
        df => EventsStream.pathsStream(spark, df))
      .select("user_id", "path", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(got === clean,
      "duplicate redelivery of the committed newest event changed the trigram set")
  }

  // ADVICE r11: pathsStream's straggler rule drops a genuinely NEW
  // equal-timestamp event whose event_id is smaller than the committed
  // (ts, id) mark when it arrives in a later micro-batch — a
  // documented divergence from the batch result under
  // non-order-preserving delivery (the price of the rule that blocks
  // at-least-once duplicates from fabricating X>X trigrams). This pins
  // the DOCUMENTED behavior: the dropped event contributes nothing,
  // and the output equals the batch order over the events the stream
  // actually kept.
  test("cross-batch equal-ts smaller-id arrival is dropped per the documented rule") {
    val schema = ordered._2
    val tsType = schema(schema.fieldIndex("ts")).dataType
    def tsVal(us: Long): Any = tsType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
      case org.apache.spark.sql.types.TimestampType =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000L))
      case org.apache.spark.sql.types.LongType => us * 1000L // ns BIGINT
      case other => fail(s"unexpected ts type: $other")
    }
    def ev(id: Long, us: Long, typ: String): Row =
      Row.fromSeq(schema.fields.map(_.name match {
        case "event_id" => id
        case "ts" => tsVal(us)
        case "user_id" => 777L
        case "event_type" => typ
        case "value" => 1.0
        case "props" => "{}"
        case other => fail(s"unexpected column: $other")
      }).toSeq)
    val t = 1700000000000000L
    val batch1 = Seq(ev(1, t, "a"), ev(2, t + 1000000, "b"),
      ev(10, t + 2000000, "c"))
    val late = ev(5, t + 2000000, "d") // equal ts, smaller id than committed 10
    val got = runChunked("mbs_equal_ts_drop", Seq(batch1, Seq(late)),
        df => EventsStream.pathsStream(spark, df))
      .select("user_id", "path", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // complete-data batch order would be a,b,d,c (id 5 sorts before 10
    // at the tied timestamp); the stream committed c first, so d drops
    assert(got === Seq((777L, "a>b>c", 10L)),
      s"equal-ts smaller-id straggler not handled per the documented rule: $got")
  }

  test("a fold that empties a bucket's summary emits the sentinel, not silence") {
    val schema = ordered._2
    val tsType = schema(schema.fieldIndex("ts")).dataType
    def tsVal(us: Long): Any = tsType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
      case org.apache.spark.sql.types.TimestampType =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000L))
      case org.apache.spark.sql.types.LongType => us * 1000L
      case other => fail(s"unexpected ts type: $other")
    }
    def ev(id: Long, us: Long): Row =
      Row.fromSeq(schema.fields.map(_.name match {
        case "event_id" => id
        case "ts" => tsVal(us)
        case "user_id" => 3L
        case "event_type" => "view"
        case "value" => 1.0
        case "props" => "{}"
        case other => fail(s"unexpected column: $other")
      }).toSeq)
    val K = 4
    val Buckets = 4
    // odd event ids -> unique tail keys; pick K+1 ids landing in ONE
    // bucket so batch 1 fills the counters with singletons and batch
    // 2's unseen key triggers the decrement-all that empties them
    val ids = Iterator.from(1, 2).map(_.toLong)
      .filter(id => EventsStream.hitterBucket(
        EventsStream.hitterKey(id, 3L), Buckets) == 0)
      .take(K + 1).toSeq
    val t0 = 1700000000000000L
    val batch1 = ids.take(K).zipWithIndex.map { case (id, i) => ev(id, t0 + i * 1000000L) }
    val batch2 = Seq(ev(ids.last, t0 + 10000000L))
    val out = runChunked("mbs_hh_sentinel", Seq(batch1, batch2),
        df => EventsStream.heavyHittersStream(spark, df, K, Buckets))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val b0 = out.filter(_._1 == 0)
    assert(b0.filter(_._2 == 0L).length === K, "batch 1 did not fill bucket 0")
    val last = b0.filter(_._2 == b0.map(_._2).max)
    assert(last.toSeq === Seq((0, 1L, EventsStream.EmptySummaryKey, 0L)),
      s"emptied summary did not emit the sentinel: ${last.toSeq}")
  }

  test("heavyHittersStream: cut-invariant candidates, MG guarantee, exact-verify == batch truth") {
    val (rows, _) = ordered
    val K = 8
    val Buckets = 4
    // batch-side ground truth over the sketched key, in stream order
    val keyedOrdered = rows.map(r => EventsStream.hitterKey(
      r.getAs[Long]("event_id"), r.getAs[Long]("user_id")))
    val counts = keyedOrdered.groupBy(identity)
      .map { case (k2, a) => k2 -> a.length.toLong }
    val bucketOf = (key: Long) => EventsStream.hitterBucket(key, Buckets)
    val bucketTotals = keyedOrdered.groupBy(bucketOf)
      .map { case (b, a) => b -> a.length.toLong }

    // final candidate set of a run = per bucket, the max-emit_seq rows
    def finals(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val out = df.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      out.groupBy(_._1).flatMap { case (b, rs) =>
        val latest = rs.filter(_._2 == rs.map(_._2).max)
        assert(latest.length <= K, s"bucket $b exceeded the k-entry bound")
        latest.map(_._3).filterNot(_ == EventsStream.EmptySummaryKey).toSeq
      }.toSet
    }
    val rnd = new scala.util.Random(0x4711)
    val runs = Seq(
      cutAt(rows, Seq.empty),
      cutAt(rows, Seq.fill(4)(rnd.nextInt(rows.length))),
      cutAt(rows, Seq.fill(9)(rnd.nextInt(rows.length)))
    ).zipWithIndex.map { case (chunks, i) =>
      finals(runChunked(s"mbs_hh$i", chunks,
        df => EventsStream.heavyHittersStream(spark, df, K, Buckets)))
    }
    // 1. invariance: the MG state machine depends only on stream order,
    //    which micro-batch cuts preserve
    assert(runs.tail.forall(_ === runs.head),
      s"candidate set varies with micro-batch cuts: $runs")
    // 2. equality with one reference MG pass per bucket over the
    //    ordered stream (the batch operator's per-partition shape)
    val ref = keyedOrdered.groupBy(bucketOf).flatMap { case (_, ks) =>
      graft.operators.HeavyHitters.misraGries(ks.iterator, K).keys
    }.toSet
    assert(runs.head === ref, "stream summary != one-pass reference")
    // 3. the sketch path is genuinely exercised: every bucket holds
    //    more distinct keys than counters
    keyedOrdered.groupBy(bucketOf).foreach { case (b, ks) =>
      assert(ks.distinct.length > K, s"bucket $b never hit the counter bound")
    }
    // 4. MG guarantee: every key with bucket-count > n_bucket/k survives
    val guaranteed = counts.collect {
      case (key, c) if c * K > bucketTotals(bucketOf(key)) => key
    }.toSet
    assert(guaranteed.nonEmpty, "fixture produced no guaranteed hitters")
    assert(guaranteed.subsetOf(runs.head),
      s"guaranteed hitters missing: ${guaranteed -- runs.head}")
    // 5. candidates-then-exact at the final boundary: exact counts over
    //    candidate keys only, thresholded, equal the full GROUP BY
    //    HAVING truth (threshold cnt*32 > N: the sketched key halves
    //    each user's volume to its even event ids, so the heavy users
    //    sit at ~3-4.5% of N — comfortably above 1/32, far above the
    //    per-bucket MG guarantee line)
    val n = keyedOrdered.length
    val truth = counts.collect { case (key, c) if c * 32 > n => key }.toSet
    val verified = runs.head.filter(key => counts.getOrElse(key, 0L) * 32 > n)
    assert(truth.nonEmpty, "degenerate truth set")
    assert(verified === truth,
      s"exact-verified candidates != batch truth: $verified vs $truth")
  }
}
