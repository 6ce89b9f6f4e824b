package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.OsmPbfWriter._

/** COUNT(*) aggregate pushdown (SupportsPushDownAggregates): per-type /
  * global counts answered on the driver from the cached blob summaries
  * ([[graft.pbf.BlobSummary]]) with no element decode. Ground truth is
  * the row path over the same file (projecting `id` keeps the pushdown
  * off). */
class OsmPbfCountPushdownSpec extends AnyFunSuite {
  import OsmPbfCountPushdownSpec.usesCountScan
  private lazy val spark = SparkTestSession.spark

  /** 3 nodes + 2 ways + 1 relation across three blocks, one of them
    * mixed-type (counts must come from group walks, not block kinds). */
  private def fixture(dense: Boolean): String = {
    val f = java.io.File.createTempFile(s"countpbf$dense", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(
        N(1, 43.51, 5.41, Seq("amenity" -> "cafe")),
        N(2, 43.52, 5.42),
        W(10, Seq(1L, 2L), Seq("highway" -> "residential"))),
      Seq(
        N(3, 43.53, 5.43, Seq("name" -> "x"), Some(Info(2, 1600000000L, 55))),
        W(11, Seq(2L, 1L, 2L)),
        R(20, Seq(("outer", 10L, 1.toByte)), Seq("type" -> "multipolygon"))),
      Seq(
        N(4, 1.0, 2.0))), denseNodes = dense)
    f.getAbsolutePath
  }

  for (dense <- Seq(true, false)) {
    val label = if (dense) "dense nodes" else "plain nodes"

    test(s"groupBy(type).count() pushes and matches the row path ($label)") {
      val path = fixture(dense)
      val pushed = spark.read.format("osmpbf").load(path).groupBy("type").count()
      assert(usesCountScan(pushed),
        s"expected the pushed count scan:\n${pushed.queryExecution.executedPlan}")
      // ground truth from raw row-path rows, grouped client-side (any
      // server-side count is itself eligible for the pushdown under test)
      val truthScan = spark.read.format("osmpbf").load(path).select("type", "id")
      assert(!usesCountScan(truthScan))
      val truth = truthScan.collect().groupBy(_.getByte(0))
        .map { case (t, rs) => t -> rs.length.toLong }
      val got = pushed.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap
      assert(got === truth)
      assert(got === Map(0.toByte -> 4L, 1.toByte -> 2L, 2.toByte -> 1L))
    }

    test(s"global count() pushes and matches ($label)") {
      val path = fixture(dense)
      val df = spark.read.format("osmpbf").load(path)
      // Dataset.count() plans COUNT(*) with no grouping
      assert(df.count() === 7L)
      val agg = df.agg(count(lit(1)).as("n"))
      assert(usesCountScan(agg),
        s"expected the pushed count scan:\n${agg.queryExecution.executedPlan}")
      assert(agg.collect().head.getLong(0) === 7L)
    }

    test(s"a residual filter keeps the row path ($label)") {
      val path = fixture(dense)
      val df = spark.read.format("osmpbf").load(path)
        .filter(col("type") === 1).groupBy("type").count()
      assert(!usesCountScan(df),
        "pushed filters are conservatively re-checked post-scan, which must block agg pushdown")
      assert(df.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap ===
        Map(1.toByte -> 2L))
    }

    test(s"count of a non-type grouping keeps the row path ($label)") {
      val path = fixture(dense)
      val df = spark.read.format("osmpbf").load(path).groupBy("id").count()
      assert(!usesCountScan(df))
      assert(df.count() === 7L)
    }

    // name kept from the walk's earlier, count-only form
    test(s"countTypes golden over every blob ($label)") {
      val path = fixture(dense)
      val conf = new org.apache.hadoop.conf.Configuration()
      val blobs = graft.pbf.OsmPbfFile.indexAll(path)
      val totals = blobs.map(b =>
        graft.pbf.BlobSummary.of(graft.pbf.OsmPbfFile.readBlob(b, conf)))
      val (n, w, r) = totals.foldLeft((0L, 0L, 0L)) {
        case ((a, b, c), s) => (a + s.count(0), b + s.count(1), c + s.count(2))
      }
      assert((n, w, r) === ((4L, 2L, 1L)))
    }
  }

  test("empty file (header only, zero data blobs): global count is 0, not null") {
    val f = java.io.File.createTempFile("emptypbf", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq.empty)
    val df = spark.read.format("osmpbf").load(f.getAbsolutePath)
    assert(df.count() === 0L)
    assert(df.groupBy("type").count().collect().isEmpty)
  }

  test("the osm_scan_counts twins take the intended paths (decode vs pushdown)") {
    val qs = graft.queries.OsmQueries.queries
    val decode = qs("osm_scan_counts")(spark, "")
    val pushed = qs("osm_scan_counts_pushdown")(spark, "")
    assert(!usesCountScan(decode),
      "osm_scan_counts must gate the element-decode path (cast-grouped)")
    assert(usesCountScan(pushed),
      s"osm_scan_counts_pushdown must use the count scan:\n${pushed.queryExecution.executedPlan}")
    assert(decode.collect().toSeq.map(_.toSeq) === pushed.collect().toSeq.map(_.toSeq))
  }

  test("must-tag pushdown scans never push aggregates") {
    val path = fixture(dense = true)
    val df = spark.read.format("osmpbf").option("mustTagKeys", "amenity")
      .load(path).groupBy("type").count()
    assert(!usesCountScan(df))
    // only elements whose keys intersect {amenity} survive the decode
    assert(df.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap ===
      Map(0.toByte -> 1L))
  }

  test("multi-file split dir: counts are deduped, not pushed") {
    // a border-overlapping split holds shared elements in two files; the
    // blob summaries would count both copies, so the count is declined
    // and comes from the deduped row scan, equal to the single file's
    val f = java.io.File.createTempFile("countsplit", ".osm.pbf")
    f.deleteOnExit()
    // 6 blocks so a 3-way split has two interior borders
    write(f.getAbsolutePath, Seq(
      Seq(N(1, 1.0, 1.0, Seq("amenity" -> "cafe")), N(2, 1.1, 1.1)),
      Seq(N(3, 1.2, 1.2), N(4, 1.3, 1.3)),
      Seq(N(5, 1.4, 1.4), N(6, 1.5, 1.5)),
      Seq(W(10, Seq(1L, 2L, 3L), Seq("highway" -> "residential"))),
      Seq(W(11, Seq(4L, 5L), Seq("highway" -> "service"))),
      Seq(R(20, Seq(("outer", 10L, 1.toByte)), Seq("type" -> "multipolygon")))))
    val dir = java.nio.file.Files.createTempDirectory("countsplitout").toString
    val dup = graft.ScaleProbe.splitPbf(f.getAbsolutePath, dir, 3, 1)
    assert(dup === 2)

    val dirGrouped = spark.read.format("osmpbf").load(dir).groupBy("type").count()
    val dirGlobal = spark.read.format("osmpbf").load(dir).agg(count(lit(1)))
    assert(!usesCountScan(dirGrouped) && !usesCountScan(dirGlobal),
      "overlapping files must not push the count")
    val singleGrouped = spark.read.format("osmpbf").load(f.getAbsolutePath).groupBy("type").count()
    assert(usesCountScan(singleGrouped))
    val single = singleGrouped.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap
    assert(dirGrouped.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap === single)
    assert(dirGlobal.collect().head.getLong(0) === single.values.sum)
    // the summaries count the duplicated blobs once per file
    val perFile = OsmPbfStats.summaries(dir).map(_._2.total).sum
    assert(perFile > single.values.sum)
    val infoM = new graft.osm.OsmFile(spark, dir).info()
    val infoS = new graft.osm.OsmFile(spark, f.getAbsolutePath).info()
    assert(infoM - "blobs" === infoS - "blobs")
  }
}

object OsmPbfCountPushdownSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}

  /** The osmpbf scans of the physical plan. */
  def osmpbfScans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec if b.scan.isInstanceOf[OsmPbfScan] => b }

  /** The pushed count's plan: the optimized plan reads an
    * [[OsmPbfCountScan]], which Spark plans as a local table scan, so
    * the physical plan holds no osmpbf scan at all. */
  def usesCountScan(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case r: DataSourceV2ScanRelation => r.scan.isInstanceOf[OsmPbfCountScan]
      case _ => false
    } && osmpbfScans(df).isEmpty
}
