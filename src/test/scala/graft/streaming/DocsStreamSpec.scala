package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SparkTestSession

/** Streaming decontamination parity: the same broadcast-set filter
  * over a readStream source must keep exactly the docs the batch
  * `pipe_decontaminate` keeps (benchmark = doc_id % 97 == 0). */
class DocsStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("stream decontamination == batch pipe_decontaminate") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val benchFps = DocsStream.benchmarkFingerprints(
      docs.filter(col("doc_id") % 97 === 0))

    // batch reference: the gate query itself
    val expected = graft.queries.PipelineOps.queries("pipe_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    // batch form of the stream transform
    val batch = DocsStream.decontaminate(docs, benchFps)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch === expected)

    // streaming form over a file source + memory sink (the file source
    // needs a directory; the sf table is a single parquet file)
    val streamDir = java.nio.file.Files.createTempDirectory("docsstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("documents.parquet"))
    val streamIn = spark.readStream.schema(docs.schema)
      .parquet(s"$streamDir/*")
    val q = DocsStream.decontaminate(streamIn, benchFps)
      .writeStream.outputMode("append")
      .format("memory").queryName("decontaminated")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decontaminated")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed === expected)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream entropy == batch text_entropy, split across two micro-batches") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // batch reference: the DECLARATIVE aggregate form (explode +
    // broadcast LUT) — the gate query itself runs the kernel, so this
    // comparison is what proves the two independent arithmetic paths
    // match bit-for-bit (the gate row additionally checks against the
    // DuckDB oracle)
    val expected = graft.queries.TextOps.entropyAggregate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(expected.nonEmpty)
    val rows = docs.collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val streamDir = java.nio.file.Files.createTempDirectory("entropystream")
    val streamIn = spark.readStream.schema(docs.schema)
      .parquet(s"$streamDir/*")
    val q = DocsStream.entropyStream(streamIn)
      .writeStream.outputMode("append")
      .format("memory").queryName("entropied")
      .start()
    try {
      Seq(b1, b2).zipWithIndex.foreach { case (chunk, i) =>
        spark.createDataFrame(chunk.toSeq.asJava, docs.schema)
          .write.parquet(s"$streamDir/b$i")
        q.processAllAvailable()
      }
      val streamed = spark.table("entropied")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("stream blocklist gate == batch pipe_badwords_filter, split across two micro-batches") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val expected = graft.queries.PipelineOps.queries("pipe_badwords_filter")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3))).toSet
    assert(expected.nonEmpty && expected.exists(!_._4),
      "fixture must contain at least one dropped doc or the gate is vacuous")
    val rows = docs.collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val streamDir = java.nio.file.Files.createTempDirectory("badwordsstream")
    val streamIn = spark.readStream.schema(docs.schema).parquet(s"$streamDir/*")
    val q = DocsStream.badwordsStream(streamIn)
      .writeStream.outputMode("append").format("memory").queryName("badworded")
      .start()
    try {
      Seq(b1, b2).zipWithIndex.foreach { case (chunk, i) =>
        spark.createDataFrame(chunk.toSeq.asJava, docs.schema)
          .coalesce(1).write.parquet(s"$streamDir/b$i")
        q.processAllAvailable()
      }
      val streamed = spark.table("badworded")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3))).toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("stream URL keep-best converges to batch pipe_url_dedup under arbitrary micro-batch cuts") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // batch reference: the keep=true winners of the gate row
    val expected = graft.queries.PipelineOps.queries("pipe_url_dedup")(spark, dir)
      .filter(col("keep")).select("doc_id", "canon_url")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(expected.nonEmpty)
    // the corpus must actually contain URL collisions or the test is
    // vacuous (every doc its own winner)
    assert(expected.size < docs.count(),
      "fixture carries no canonical-URL collisions — keep-best untested")
    val rows = docs.collect()
    // two different randomized cut patterns (seeded): the straggler
    // shape — a group's BETTER doc arriving in a later batch than a
    // worse one — occurs whenever a collision pair is split
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(rows.toSeq)
      val cut1 = 1 + rnd.nextInt(rows.length - 2)
      val cut2 = cut1 + 1 + rnd.nextInt(rows.length - cut1 - 1)
      val batches = Seq(shuffled.slice(0, cut1), shuffled.slice(cut1, cut2),
        shuffled.slice(cut2, rows.length))
      val streamDir = java.nio.file.Files.createTempDirectory(s"urldedup$seed")
      val streamIn = spark.readStream.schema(docs.schema).parquet(s"$streamDir/*")
      val sink = s"urldeduped$seed"
      val q = DocsStream.urlDedupStream(streamIn)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try {
        batches.zipWithIndex.foreach { case (chunk, i) =>
          spark.createDataFrame(chunk.asJava, docs.schema)
            .coalesce(1).write.parquet(s"$streamDir/b$i")
          q.processAllAvailable()
        }
        val emitted = spark.table(sink)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        // latest emission per canonical URL = the best (n_chars desc,
        // id asc) ever emitted for it — must equal the batch winner
        val latest = emitted.groupBy(_._2).map { case (url, xs) =>
          val best = xs.maxBy(x => (x._3, -x._1))
          (best._1, url)
        }.toSet
        assert(latest === expected, s"seed $seed: convergence broken")
        // and the improving-sequence contract: per key, emissions are
        // strictly increasing under the batch order
        emitted.groupBy(_._2).foreach { case (url, xs) =>
          assert(xs.map(x => (x._3, -x._1)).distinct.length == xs.length,
            s"seed $seed: duplicate emission for $url")
        }
      } finally q.stop()
    }
  }

  test("entropy window binds: kernel == aggregate on long docs at w=64 and w=4096") {
    import spark.implicits._
    // synthetic corpus where the windows genuinely BIND (the fixture
    // docs are all < 1024 chars, so only this test exercises real
    // truncation at 4096): 6000-char docs with position-dependent
    // character mix — entropy of the first 64 differs from the first
    // 4096 differs from the whole doc
    val mk = (id: Long) => {
      val sb = new StringBuilder
      var i = 0
      while (i < 6000) { sb.append((('a' + ((i * (id + 3) + i / 97) % 26)).toChar)); i += 1 }
      (id, sb.toString, "en")
    }
    val synth = (0L until 20L).map(mk).toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("entropywin")
    synth.write.parquet(s"$tmp/documents.parquet")
    for (w <- Seq(64, 4096)) {
      val kernel = DocsStream.entropyStream(synth, w).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val agg = graft.queries.TextOps.entropyAggregate(spark, tmp.toString, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(kernel.toSeq === agg.toSeq, s"kernel/aggregate divergence at w=$w")
      // the window must BIND: every doc is 6000 chars, so n == w
      assert(kernel.forall(_._2 == w), s"window $w did not bind: ${kernel.take(3).toSeq}")
    }
    // and the two windows must actually measure different prefixes
    val e64 = DocsStream.entropyStream(synth, 64).collect().map(r => r.getDouble(3)).toSeq
    val e4096 = DocsStream.entropyStream(synth, 4096).collect().map(r => r.getDouble(3)).toSeq
    assert(e64 != e4096)
  }

  test("entropy window conf plumbs through the no-arg overload and validates") {
    import spark.implicits._
    val synth = Seq((1L, "a" * 500 + "b" * 500)).toDF("doc_id", "text")
    val prev = spark.conf.getOption(DocsStream.EntropyWindowConf)
    try {
      spark.conf.set(DocsStream.EntropyWindowConf, "64")
      val viaConf = DocsStream.entropyStream(synth).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      val explicit = DocsStream.entropyStream(synth, 64).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(viaConf === explicit)
      assert(viaConf.head._1 == 64L) // binds: doc is 1000 chars
      // out-of-range and non-integer windows fail LOUDLY at plan time
      spark.conf.set(DocsStream.EntropyWindowConf, "0")
      intercept[IllegalArgumentException](DocsStream.entropyStream(synth))
      spark.conf.set(DocsStream.EntropyWindowConf, "1048576")
      intercept[IllegalArgumentException](DocsStream.entropyStream(synth))
      spark.conf.set(DocsStream.EntropyWindowConf, "lots")
      intercept[IllegalArgumentException](DocsStream.entropyStream(synth))
    } finally prev match {
      case Some(v) => spark.conf.set(DocsStream.EntropyWindowConf, v)
      case None => spark.conf.unset(DocsStream.EntropyWindowConf)
    }
  }

  test("stream chunking == batch text_chunk, split across two micro-batches") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val expected = graft.queries.SearchOps.chunkDocs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(expected.nonEmpty)
    // two batches cut mid-corpus: chunking is stateless per doc, so
    // the union must equal the batch result regardless of the cut
    val rows = docs.collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val streamDir = java.nio.file.Files.createTempDirectory("chunkstream")
    val streamIn = spark.readStream.schema(docs.schema)
      .parquet(s"$streamDir/*")
    val q = DocsStream.chunkStream(streamIn)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunked")
      .start()
    try {
      Seq(b1, b2).zipWithIndex.foreach { case (chunk, i) =>
        spark.createDataFrame(chunk.toSeq.asJava, docs.schema)
          .coalesce(1).write.parquet(s"$streamDir/b$i")
        q.processAllAvailable()
      }
      val streamed = spark.table("chunked")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("stream phrase detection == batch search_phrase under a mid-corpus cut") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val expected = graft.queries.SearchOps.phraseSearch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty, "degenerate fixture: no phrase matches")
    // the same query-by-example phrase table the batch row derives:
    // each query doc's leading bigram
    val phrases = docs.filter(col("doc_id") < 5)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .collect { case (id, ts) if ts.length >= 2 => (id, ts(0), ts(1)) }
    val rows = docs.collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val streamDir = java.nio.file.Files.createTempDirectory("phrasestream")
    val streamIn = spark.readStream.schema(docs.schema).parquet(s"$streamDir/*")
    val q = DocsStream.phraseStream(streamIn, phrases)
      .writeStream.outputMode("append")
      .format("memory").queryName("phrased")
      .start()
    try {
      Seq(b1, b2).zipWithIndex.foreach { case (chunk, i) =>
        spark.createDataFrame(chunk.toSeq.asJava, docs.schema)
          .coalesce(1).write.parquet(s"$streamDir/b$i")
        q.processAllAvailable()
      }
      val streamed = spark.table("phrased")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("composed ingest: stage-0 keep-best → blocklist → curate converges to the batch composition under randomized cuts") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val benchFps = DocsStream.benchmarkFingerprints(
      docs.filter(col("doc_id") % 97 === 0))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getInt(5))
    // batch twin of the full composition: URL keep-best winners →
    // blocklist keep → curation tail (the "pipe_full_curation minus
    // batch-only stages 2-3, plus the blocklist" pipeline the
    // curate/urlDedupStream scaladoc documents)
    val winnersB = graft.queries.PipelineOps.queries("pipe_url_dedup")(spark, dir)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batchComposed = DocsStream.curateGated(
      docs.filter(col("doc_id").isin(winnersB.toSeq: _*)), benchFps)
      .collect().map(key).toSet
    assert(batchComposed.nonEmpty)
    // containment vs the batch integration row: pipe_full_curation
    // shares stage 0 + quality + decontamination + tail with the
    // composition, additionally drops chunk-exact/near-dup docs
    // (batch-only), and has NO blocklist stage — so every
    // full-curation row whose doc passes the blocklist must appear
    // IDENTICALLY in the composed output
    val badKeepIds = graft.queries.PipelineOps.queries("pipe_badwords_filter")(spark, dir)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val full = graft.queries.PipelineOps.queries("pipe_full_curation")(spark, dir)
      .collect().map(key).toSet
    val fullBadKept = full.filter(r => badKeepIds(r._1))
    assert(fullBadKept.nonEmpty, "vacuous containment: blocklist dropped every curated doc")
    assert(fullBadKept.subsetOf(batchComposed),
      "a full-curation row passing the blocklist must survive the composition identically")
    // and the composition must genuinely extend full curation (the
    // batch-only stages drop SOMEONE on this fixture, or the superset
    // claim is untested)
    assert((batchComposed -- full).nonEmpty,
      "fixture exercises no batch-only drop — composition == full curation, superset untested")
    // two randomized 3-cut splits over a seeded shuffle: stage 0 is
    // convergent (latest emission per key) and the gated tail is
    // stateless (union over cuts), so the composed result must be
    // cut-invariant
    for (seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val rows = rnd.shuffle(docs.collect().toSeq)
      val c1 = 1 + rnd.nextInt(rows.length - 2)
      val c2 = c1 + 1 + rnd.nextInt(rows.length - c1 - 1)
      val slices = Seq(rows.slice(0, c1), rows.slice(c1, c2),
        rows.slice(c2, rows.length))
      val streamDir = java.nio.file.Files.createTempDirectory(s"ingest$seed")
      val streamIn = spark.readStream.schema(docs.schema).parquet(s"$streamDir/*")
      val sinkUrl = s"ingest_url$seed"
      val sinkCur = s"ingest_cur$seed"
      val q0 = DocsStream.urlDedupStream(streamIn)
        .writeStream.outputMode("append").format("memory").queryName(sinkUrl)
        .start()
      val q1 = DocsStream.curateGated(streamIn, benchFps)
        .writeStream.outputMode("append").format("memory").queryName(sinkCur)
        .start()
      try {
        // per-batch emission snapshots: the documented consumer rule is
        // the LATEST emission per key, so winners must be derived from
        // ARRIVAL ORDER — re-applying the batch criterion (maxBy) would
        // mask a regression that re-emits a superseded worse row after
        // the true winner (review r20)
        // MULTISET per-batch snapshots (review r20 pass 2): a Set diff
        // would collapse a VERBATIM re-emission of an already-seen
        // superseded row — exactly the regression class a real
        // latest-per-key consumer of the append stream is broken by —
        // so fresh emissions are derived from occurrence-count deltas
        var seenCounts = Map.empty[(Long, String, Long), Int]
        val emissionBatch =
          scala.collection.mutable.Map.empty[(Long, String, Long), Int]
        slices.zipWithIndex.foreach { case (chunk, i) =>
          spark.createDataFrame(chunk.asJava, docs.schema)
            .coalesce(1).write.parquet(s"$streamDir/b$i")
          q0.processAllAvailable()
          q1.processAllAvailable()
          val nowCounts = spark.table(sinkUrl).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
            .groupBy(identity).map { case (k, v) => k -> v.size }
          val fresh = nowCounts.collect {
            case (k, n) if n > seenCounts.getOrElse(k, 0) =>
              // a row may only ever be emitted ONCE (equal is not
              // better → no re-emission): a count delta of 2+ is a
              // duplicate emitted WITHIN one micro-batch, which a
              // key-level check below cannot see (review r20 pass 3)
              assert(n - seenCounts.getOrElse(k, 0) == 1,
                s"seed $seed: row $k emitted ${n - seenCounts.getOrElse(k, 0)} times in batch $i")
              k
          }.toSeq
          // ... and never again in a LATER batch; the state fn reduces
          // each batch slice to its best first, so a key emits at most
          // once per batch
          fresh.foreach { e =>
            assert(!emissionBatch.contains(e),
              s"seed $seed: verbatim re-emission of $e in batch $i")
            emissionBatch(e) = i
          }
          assert(fresh.groupBy(_._2).forall(_._2.size == 1),
            s"seed $seed: multiple emissions for one key in batch $i")
          seenCounts = nowCounts
        }
        val winners = emissionBatch.keys.toSeq.groupBy(_._2).map { case (url, xs) =>
          // per key, emissions must strictly IMPROVE in batch order
          // under the keep-best total order — the convergence
          // mechanism itself, asserted on arrival order
          val ordered = xs.sortBy(emissionBatch)
          ordered.zip(ordered.drop(1)).foreach { case (a, b) =>
            assert(b._3 > a._3 || (b._3 == a._3 && b._1 < a._1),
              s"seed $seed: non-improving emission for $url: $a then $b")
          }
          ordered.last._1
        }.toSet
        assert(winners === winnersB,
          s"seed $seed: stage-0 latest-per-key winners diverge from batch keep-best")
        // composed output: the gated tail's rows for winner docs only
        val curated = spark.table(sinkCur).collect().map(key).toSet
        val composed = curated.filter(r => winners(r._1))
        assert(composed === batchComposed,
          s"seed $seed: composed ingest diverges from the batch composition")
      } finally { q0.stop(); q1.stop() }
    }
  }

  test("stream curation: cut-invariant, identical to batch composition, superset of pipe_full_curation") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val benchFps = DocsStream.benchmarkFingerprints(
      docs.filter(col("doc_id") % 97 === 0))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getInt(5))
    // batch form of the same composition — the cut-invariance target
    val batch = DocsStream.curate(docs, benchFps).collect().map(key).toSet
    assert(batch.nonEmpty)
    // containment vs the full batch integration row: curate skips the
    // batch-only global drop stages (URL keep-best, chunk-exact, near-dup), so its
    // output is a SUPERSET with identical rows on every shared doc
    val full = graft.queries.PipelineOps.queries("pipe_full_curation")(spark, dir)
      .collect().map(key).toSet
    assert(full.subsetOf(batch),
      "a doc the batch row keeps must stream through identically")
    // three RANDOM micro-batch cuts over a seeded shuffle: stateless
    // end-to-end, so the union must equal the batch composition
    val rnd = new scala.util.Random(20260815)
    val rows = rnd.shuffle(docs.collect().toSeq)
    val c1 = 1 + rnd.nextInt(rows.length - 2)
    val c2 = c1 + 1 + rnd.nextInt(rows.length - c1 - 1)
    val slices = Seq(rows.slice(0, c1), rows.slice(c1, c2), rows.slice(c2, rows.length))
    val streamDir = java.nio.file.Files.createTempDirectory("curatestream")
    val streamIn = spark.readStream.schema(docs.schema).parquet(s"$streamDir/*")
    val q = DocsStream.curate(streamIn, benchFps)
      .writeStream.outputMode("append")
      .format("memory").queryName("curated")
      .start()
    try {
      slices.zipWithIndex.foreach { case (chunk, i) =>
        spark.createDataFrame(chunk.asJava, docs.schema)
          .coalesce(1).write.parquet(s"$streamDir/b$i")
        q.processAllAvailable()
      }
      val streamed = spark.table("curated").collect().map(key).toSet
      assert(streamed === batch)
    } finally q.stop()
  }
}
