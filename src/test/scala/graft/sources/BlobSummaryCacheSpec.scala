package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.{BlobSummary, OsmPbfFile}
import graft.pbf.OsmPbfWriter._

/** The blob summaries are cached with each file's framing index under
  * its (path, length, mtime) key: a file rewritten in place is pruned
  * and counted from its own blobs, never from the old version's
  * summaries; and once a file's summaries are cached, a pushed count
  * is answered on the driver without scanning the file. */
class BlobSummaryCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ways(path: String): Seq[Long] =
    spark.read.format("osmpbf").load(path).filter(col("type") === 1)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def counts(path: String): Map[Byte, Long] = {
    val df = spark.read.format("osmpbf").load(path).groupBy("type").count()
    assert(OsmPbfCountPushdownSpec.usesCountScan(df), df.queryExecution.executedPlan.toString)
    df.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap
  }

  // first version: nodes, ways, relation in three blobs
  private val v1 = Seq(
    Seq(N(1, 1.0, 1.0), N(2, 1.1, 1.1), N(3, 1.2, 1.2)),
    Seq(W(10, Seq(1L, 2L))),
    Seq(R(20, Seq(("outer", 10L, 1.toByte)))))
  // second version: a different blob layout and length — ways first
  private val v2 = Seq(
    Seq(W(30, Seq(5L, 6L)), W(31, Seq(6L, 7L))),
    Seq(N(5, 2.0, 2.0), N(6, 2.1, 2.1)),
    Seq(N(7, 2.2, 2.2), N(8, 2.3, 2.3)),
    Seq(R(40, Seq(("outer", 30L, 1.toByte)))))

  private def rewrite(path: String, blocks: Seq[Seq[Elem]]): Unit = {
    val before = new java.io.File(path).length()
    write(path, blocks)
    assert(new java.io.File(path).length() != before, "the rewrite must change the length")
  }

  test("a file rewritten in place is pruned and counted from its new blobs") {
    val f = java.io.File.createTempFile("rewrite", ".osm.pbf")
    f.deleteOnExit()
    val path = f.getAbsolutePath
    write(path, v1)
    assert(ways(path) === Seq(10L))
    assert(counts(path) === Map(0.toByte -> 3L, 1.toByte -> 1L, 2.toByte -> 1L))
    rewrite(path, v2)
    assert(ways(path) === Seq(30L, 31L))
    assert(counts(path) === Map(0.toByte -> 4L, 1.toByte -> 2L, 2.toByte -> 1L))
  }

  test("a directory with one file rewritten is pruned and counted from the new blobs") {
    val dir = java.nio.file.Files.createTempDirectory("rewritedir").toFile
    dir.deleteOnExit()
    val a = new java.io.File(dir, "a.osm.pbf").getAbsolutePath
    val b = new java.io.File(dir, "b.osm.pbf").getAbsolutePath
    write(a, Seq(Seq(N(100, 3.0, 3.0)), Seq(W(110, Seq(100L)))))
    write(b, v1)
    assert(ways(dir.getPath) === Seq(10L, 110L))
    assert(counts(dir.getPath) === Map(0.toByte -> 4L, 1.toByte -> 2L, 2.toByte -> 1L))
    rewrite(b, v2)
    assert(ways(dir.getPath) === Seq(30L, 31L, 110L))
    assert(counts(dir.getPath) === Map(0.toByte -> 5L, 1.toByte -> 3L, 2.toByte -> 1L))
    Seq(a, b).foreach(p => new java.io.File(p).delete())
  }

  test("after set-up a pushed count plans no osmpbf scan and walks no blob") {
    val f = java.io.File.createTempFile("summaryset", ".osm.pbf")
    f.deleteOnExit()
    val path = f.getAbsolutePath
    graft.osm.RandomWorld.write(path, 7L, clipped = true)
    // set-up: index and summarize the file (what osmbench does on open)
    val blobs = OsmPbfFile.indexAll(path)
    val sums = OsmPbfStats.ranges(path, blobs)
    assert(sums.size === blobs.size && blobs.size > 1)
    def noWalk(bs: Seq[graft.pbf.BlobInfo]): Seq[BlobSummary] =
      fail(s"summaries of ${bs.size} blobs were not cached")
    assert(OsmPbfFile.summarized(path, noWalk).map(_._1) === blobs)

    val pushed: DataFrame = spark.read.format("osmpbf").load(path).groupBy("type").count()
    assert(OsmPbfCountPushdownSpec.osmpbfScans(pushed).isEmpty, pushed.queryExecution.sparkPlan.toString)
    assert(pushed.queryExecution.sparkPlan.collect { case l: LocalTableScanExec => l }.nonEmpty)
    val got = pushed.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap
    // still cached: answering the count walked nothing
    OsmPbfFile.summarized(path, noWalk)
    val truth = spark.read.format("osmpbf").load(path).select("type", "id").collect()
      .groupBy(_.getByte(0)).map { case (t, rs) => t -> rs.length.toLong }
    assert(got === truth)
    assert(got === (0 to 2).map(t => t.toByte -> sums.map(_.count(t)).sum).toMap)
  }
}
