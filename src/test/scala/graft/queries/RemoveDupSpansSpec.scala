package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** The span-removal contract beyond the oracle gate (VERDICT r15 #1):
  * every span cut from a document occurs VERBATIM in a lower-id
  * document (the first-occurrence-keeps doctrine), removal composes
  * correctly on constructed duplicate layouts, and the boilerplate
  * df guard collapses the pair join when armed. */
class RemoveDupSpansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def collectRows(dir: String) =
    PipelineOps.queries("pipe_remove_dup_spans")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3)))

  /** Single-machine replica of the whole operator: per-position
    * 20-grams → lower-id matches → diagonal runs ≥ 31 → merged
    * intervals. Independent first-principles code (the oracle-SQL
    * prototype's Python twin), so a shared engine/oracle defect still
    * fails here. */
  private def replicaIntervals(docs: Map[Long, String]): Map[Long, Seq[(Int, Int)]] = {
    val occ = scala.collection.mutable.HashMap.empty[String,
      scala.collection.mutable.ArrayBuffer[(Long, Int)]]
    docs.foreach { case (id, t) =>
      if (t != null) (0 to t.length - 20).foreach { i =>
        occ.getOrElseUpdate(t.substring(i, i + 20),
          scala.collection.mutable.ArrayBuffer.empty) += ((id, i + 1))
      }
    }
    val diag = scala.collection.mutable.HashMap.empty[(Long, Long, Int),
      scala.collection.mutable.TreeSet[Int]]
    occ.values.foreach { ps =>
      for ((da, pa) <- ps; (db, pb) <- ps if da < db)
        diag.getOrElseUpdate((db, da, pb - pa),
          scala.collection.mutable.TreeSet.empty) += pb
    }
    val raw = scala.collection.mutable.HashMap.empty[Long,
      scala.collection.mutable.Set[(Int, Int)]]
    diag.foreach { case ((db, _, _), pbs) =>
      var run = List.empty[Int]
      def flush(): Unit = if (run.length >= 31)
        raw.getOrElseUpdate(db, scala.collection.mutable.Set.empty) +=
          ((run.last, run.head + 19))
      pbs.foreach { p =>
        if (run.isEmpty || p == run.head + 1) run ::= p
        else { flush(); run = List(p) }
      }
      flush()
    }
    raw.map { case (id, ivs) =>
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      ivs.toSeq.sorted.foreach { case (s, e) =>
        if (merged.nonEmpty && s <= merged.last._2 + 1)
          merged(merged.length - 1) =
            (merged.last._1, math.max(merged.last._2, e))
        else merged += ((s, e))
      }
      id -> merged.toSeq
    }.toMap
  }

  test("engine == replica on the fixture; every removed span is verbatim in a lower-id doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = replicaIntervals(docs)
    val rows = collectRows(sf)
    assert(rows.count(_._2 > 0) >= 10,
      s"only ${rows.count(_._2 > 0)} docs had removals — fixture degenerate")
    rows.foreach { case (id, nSpans, nRemoved, clean) =>
      val ivs = expect.getOrElse(id, Seq.empty)
      assert(nSpans === ivs.length.toLong, s"doc $id span count")
      assert(nRemoved === ivs.map { case (s, e) => e - s + 1 }.sum.toLong,
        s"doc $id removed-char ledger")
      val orig = docs(id)
      val expectedClean = {
        val sb = new StringBuilder
        var prev = 0
        ivs.foreach { case (s, e) => sb.append(orig.substring(prev, s - 1)); prev = e }
        sb.append(orig.substring(prev)).toString
      }
      assert(clean === expectedClean, s"doc $id clean text")
      // the VERDICT property: each removed span occurs verbatim in a
      // LOWER-id document (the kept first occurrence) — at span level,
      // pre-merge spans carry the guarantee; merged intervals are
      // unions of them, so check the raw spans via the replica's ivs
      // being built only from verbatim diagonal runs, and spot-check
      // the merged interval text appears piecewise: every 50-char
      // window of a merged interval is inside some lower-id doc
      ivs.foreach { case (s, e) =>
        val span = orig.substring(s - 1, e)
        (0 to span.length - 50).foreach { off =>
          val win = span.substring(off, off + 50)
          assert(docs.exists { case (oid, t) =>
              oid < id && t != null && t.contains(win) },
            s"doc $id: removed window not verbatim in any lower-id doc")
        }
      }
    }
  }

  test("constructed layouts: middle span cut, double copy merged, 49-char overlap kept") {
    import spark.implicits._
    val base = ('a' to 'z').mkString * 4 // 104 chars, unique-ish content
    val span60 = base.substring(0, 60)
    val span49 = base.substring(20, 69)
    val dir = java.nio.file.Files.createTempDirectory("dupspans").toString
    val docs = Seq(
      (0L, base),                                       // owner: untouched
      (1L, "XSTARTX " + span60 + " XENDXyz"),           // one 60-char copy
      (2L, "A" * 30 + span60 + "B" * 30 + span60 + "C" * 30), // two copies
      (3L, "QQQQ " + span49 + " PPPP"))                 // 49 chars: below threshold
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = collectRows(dir).map(r => r._1 -> r).toMap
    // owner keeps everything (only HIGHER-id docs cut)... but doc 0's
    // own content also appears in docs 1-3 — removal is one-way
    assert(rows(0L)._2 === 0L)
    assert(rows(0L)._4 === base)
    // doc 1: exactly the 60-char span goes; prefix/suffix survive.
    // NOTE the removed interval is the MAXIMAL verbatim overlap with
    // doc 0, which may extend past span60 by shared boundary chars —
    // assert the structural properties instead of exact equality
    assert(rows(1L)._2 === 1L, s"doc1: ${rows(1L)}")
    assert(rows(1L)._3 >= 60L)
    assert(rows(1L)._4.startsWith("XSTARTX"), s"doc1 clean: ${rows(1L)._4}")
    assert(!rows(1L)._4.contains(span60))
    // doc 2: both copies removed (merged or separate spans)
    assert(rows(2L)._2 >= 1L && rows(2L)._3 >= 120L, s"doc2: ${rows(2L)}")
    assert(!rows(2L)._4.contains(span60))
    assert(rows(2L)._4.contains("A" * 30) && rows(2L)._4.contains("C" * 30))
    // doc 3: 49-char overlap is BELOW the 50-char floor — untouched
    assert(rows(3L)._2 === 0L && rows(3L)._4 === docs.collect()(3).getString(1),
      s"doc3: ${rows(3L)}")
  }

  test("maxGramDf guard: df cap 1 drops every cross-doc gram, nothing is removed") {
    val conf = "spark.graft.dupspans.maxGramDf"
    try {
      spark.conf.set(conf, "1")
      // a gram shared across docs has df >= 2 by definition, so cap 1
      // removes every candidate before the pair join — the guard's
      // collapse semantics, pinned so the conf stays wired
      val rows = collectRows(sf)
      assert(rows.forall(_._2 == 0L), "guard did not suppress removals")
    } finally spark.conf.unset(conf)
    assert(collectRows(sf).exists(_._2 > 0L), "default (guard off) lost removals")
  }
}
