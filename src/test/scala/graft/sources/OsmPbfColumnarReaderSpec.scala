package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.OsmPbfWriter._

/** Direct coverage of the vectorized (ColumnarBatch) read path —
  * previously pinned only indirectly through osm_* oracle rows.
  *
  * Ground truth for every comparison is the ROW reader over the same
  * file: selecting a projection with `tags` forces the row path, and
  * the scalar columns are projected from the collected rows in the
  * test, so the two emitters are compared end-to-end for mixed
  * node/way/relation blocks, plain (non-dense) nodes, every scalar
  * schema permutation shape, and the id-filter / must-tag decode
  * gates. The decoder itself is checked against the writer's input in
  * `OsmPbfRoundTripSpec`.
  */
class OsmPbfColumnarReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** One MIXED block (plain node + ways + relation together — exercises
    * the nodesOnly=false null-fill branches), one dense-node block, one
    * block with info-free elements. */
  private def fixture(dense: Boolean): String = {
    val f = java.io.File.createTempFile(s"colpbf$dense", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq( // mixed types in a single primitive group sequence
        N(1, 43.51, 5.41, Seq("amenity" -> "cafe"), Some(Info(2, 1600000000L, 55))),
        N(2, -12.25, 101.5),
        W(10, Seq(1L, 2L), Seq("highway" -> "residential"), Some(Info(7, 1600000500L, 99))),
        W(11, Seq(2L, 1L), Nil),
        R(20, Seq(("outer", 10L, 1.toByte)), Seq("type" -> "multipolygon", "amenity" -> "x"),
          Some(Info(1, 1600001000L, 7)))),
      Seq( // node-only block
        N(30, 0.001, -0.002, Seq("shop" -> "bakery"), Some(Info(5, 1600002000L, 31))),
        N(31, 89.9, -179.9))), denseNodes = dense)
    f.getAbsolutePath
  }

  private val scalarCols =
    Seq("id", "type", "lat", "lon", "version", "timestamp", "changeset")

  /** Row-path ground truth: `tags` in the projection forces the row
    * reader; scalar columns extracted per row. */
  private def rowTruth(path: String, opts: Map[String, String] = Map.empty) = {
    val df = opts.foldLeft(spark.read.format("osmpbf"))((r, kv) => r.option(kv._1, kv._2))
      .load(path)
    val full = df.select(col("tags") +: scalarCols.map(col): _*)
    assert(!isColumnar(full), "ground-truth read must take the row path")
    full.collect().map { r =>
      (r.getLong(1), r.getByte(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Int]),
        Option(r.getAs[java.sql.Timestamp]("timestamp")).map(_.getTime),
        Option(r.get(7)).map(_.asInstanceOf[Long]))
    }.toSet
  }

  private def isColumnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  for (dense <- Seq(true, false)) {
    val label = if (dense) "dense nodes" else "plain nodes"

    test(s"columnar path activates for scalar projections and matches rows ($label)") {
      val path = fixture(dense)
      val truth = rowTruth(path)
      val colDf = spark.read.format("osmpbf").load(path).select(scalarCols.map(col): _*)
      assert(isColumnar(colDf),
        s"scalar-only projection must take the columnar path:\n${colDf.queryExecution.executedPlan}")
      val got = colDf.collect().map { r =>
        (r.getLong(0), r.getByte(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Int]),
          Option(r.getAs[java.sql.Timestamp]("timestamp")).map(_.getTime),
          Option(r.get(6)).map(_.asInstanceOf[Long]))
      }.toSet
      assert(got === truth)
      assert(got.size === 7)
      // ways/relations carry null coords, nodes real ones (mixed-block
      // null-fill branch)
      assert(got.filter(_._2 != 0.toByte).forall(t => t._3.isEmpty && t._4.isEmpty))
      assert(got.filter(_._2 == 0.toByte).forall(t => t._3.nonEmpty && t._4.nonEmpty))
      // info-free elements → null version/timestamp/changeset
      val w11 = got.find(_._1 == 11L).get
      assert(w11._5.isEmpty && w11._6.isEmpty && w11._7.isEmpty)
      val w10 = got.find(_._1 == 10L).get
      assert(w10._5 === Some(7) && w10._6 === Some(1600000500000L) && w10._7 === Some(99L))
    }

    test(s"scalar schema permutations agree with the row path ($label)") {
      val path = fixture(dense)
      val df = spark.read.format("osmpbf").load(path)
      val fullTruth = rowTruth(path)
      val perms = Seq(
        Seq("id"),
        Seq("type", "id"),
        Seq("lat", "lon", "id"),
        Seq("changeset", "version", "timestamp", "id"),
        Seq("lon", "type", "changeset", "id"),
        scalarCols.reverse)
      perms.foreach { cols =>
        val proj = df.select(cols.map(col): _*)
        assert(isColumnar(proj), s"projection $cols should be columnar")
        val ix = cols.zipWithIndex.toMap
        def grab(r: org.apache.spark.sql.Row, c: String): Option[Any] =
          ix.get(c).flatMap(i => Option(r.get(i))).map {
            case t: java.sql.Timestamp => t.getTime
            case v => v
          }
        val got = proj.collect().map(r =>
          (grab(r, "id"), grab(r, "type"), grab(r, "lat"), grab(r, "lon"),
            grab(r, "version"), grab(r, "timestamp"), grab(r, "changeset"))).toSet
        val want = fullTruth.map { case (id, t, la, lo, v, ts, cs) =>
          (ix.get("id").map(_ => id: Any), ix.get("type").map(_ => t: Any),
            if (ix.contains("lat")) la.map(x => x: Any) else None,
            if (ix.contains("lon")) lo.map(x => x: Any) else None,
            if (ix.contains("version")) v.map(x => x: Any) else None,
            if (ix.contains("timestamp")) ts.map(x => x: Any) else None,
            if (ix.contains("changeset")) cs.map(x => x: Any) else None)
        }
        assert(got === want, s"projection $cols diverged from the row path")
      }
    }

    test(s"pushed id and type filters inside the columnar decode ($label)") {
      val path = fixture(dense)
      val df = spark.read.format("osmpbf").load(path)
      val byId = df.filter(col("id").isin(1, 10, 30)).select("id", "type")
      assert(isColumnar(byId))
      assert(byId.collect().map(r => (r.getLong(0), r.getByte(1))).toSet ===
        Set((1L, 0.toByte), (10L, 1.toByte), (30L, 0.toByte)))
      val byType = df.filter(col("type") === 1).select("id")
      assert(isColumnar(byType))
      assert(byType.collect().map(_.getLong(0)).toSet === Set(10L, 11L))
      // combined: id-set restricted to ways only
      val both = df.filter(col("type") === 1 && col("id").isin(1, 11, 20)).select("id")
      assert(both.collect().map(_.getLong(0)).toSet === Set(11L))
    }

    test(s"array-bearing projections take the row path ($label)") {
      // refs/tags/members are row-path-only (a columnar refs/tags
      // tier was retired on warm-JVM parity) — the row reader
      // wraps decoded arrays zero-copy; a silent change that routes an
      // array column through the batch must fail here
      val path = fixture(dense)
      val df = spark.read.format("osmpbf").load(path)
      assert(!isColumnar(df.select("id", "refs")))
      assert(!isColumnar(df.select("id", "tags")))
      assert(!isColumnar(df.select("id", "members")))
      // scalar-only projections keep their columnar default
      assert(isColumnar(df.select("id", "type")))
      // row-path array semantics: ways keep ref ORDER (delta decode);
      // refs-free and tag-free elements get empty arrays/maps, not null
      val refs = df.select("id", "refs").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
      assert(refs(10L) === List(1L, 2L) && refs(11L) === List(2L, 1L))
      assert(refs(20L) === Nil && refs(1L) === Nil)
      val tags = df.select("id", "tags").collect()
        .map(r => (r.getLong(0), r.getMap[String, String](1).toMap)).toMap
      assert(tags(1L) === Map("amenity" -> "cafe"))
      assert(tags(20L) === Map("type" -> "multipolygon", "amenity" -> "x"))
      assert(tags(2L) === Map.empty[String, String])
    }

    test(s"mustTagKeys gate matches the row path under columnar reads ($label)") {
      val path = fixture(dense)
      val truthIds = rowTruth(path, Map("mustTagKeys" -> "amenity")).map(_._1)
      val colDf = spark.read.format("osmpbf").option("mustTagKeys", "amenity")
        .load(path).select("id")
      assert(isColumnar(colDf))
      assert(colDf.collect().map(_.getLong(0)).toSet === truthIds)
      assert(truthIds === Set(1L, 20L)) // node AND relation carry amenity
      // a key in no string table: zero rows through the same gate
      assert(spark.read.format("osmpbf").option("mustTagKeys", "nope")
        .load(path).select("id").count() === 0L)
    }
  }
}
