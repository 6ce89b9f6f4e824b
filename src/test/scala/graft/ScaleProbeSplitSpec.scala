package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.OsmPbfWriter._
import graft.sources.SparkTestSession

/** Pins the multi-file corpus contract at fixture scale: splitting one
  * extract into border-overlapping region files (ScaleProbe.splitPbf)
  * duplicates blobs on disk, and the osmpbf source reads each (type, id)
  * once, so every query sees each element exactly once — identical
  * results to the single file. */
class ScaleProbeSplitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("splitPbf duplicates border blobs; dedup restores single-file results") {
    val f = java.io.File.createTempFile("split", ".osm.pbf")
    f.deleteOnExit()
    // 6 blocks so a 3-way split has real interior borders
    write(f.getAbsolutePath, Seq(
      Seq(N(1, 1.0, 1.0, Seq("amenity" -> "cafe")), N(2, 1.1, 1.1)),
      Seq(N(3, 1.2, 1.2), N(4, 1.3, 1.3, Seq("amenity" -> "bar"))),
      Seq(N(5, 1.4, 1.4), N(6, 1.5, 1.5)),
      Seq(W(10, Seq(1L, 2L, 3L), Seq("highway" -> "residential"))),
      Seq(W(11, Seq(4L, 5L), Seq("highway" -> "service"))),
      Seq(R(20, Seq(("outer", 10L, 1.toByte)), Seq("type" -> "multipolygon")))))
    val dir = java.nio.file.Files.createTempDirectory("splitout").toString

    val dup = ScaleProbe.splitPbf(f.getAbsolutePath, dir, 3, 1)
    assert(dup === 2, "3 regions with overlap 1 duplicate exactly 2 border blobs")

    // the bare multi-file scan reads each duplicated element once...
    val raw = spark.read.format("osmpbf").load(dir)
    val single = spark.read.format("osmpbf").load(f.getAbsolutePath)
    assert(raw.count() === single.count())

    // ...and so do the OsmFile surface and the query path
    // ("blobs" is a physical stat: 6 + 2 duplicated border blobs)
    val infoM = new graft.osm.OsmFile(spark, dir).info()
    val infoS = new graft.osm.OsmFile(spark, f.getAbsolutePath).info()
    assert(infoM("blobs") === 8L && infoS("blobs") === 6L)
    assert(infoM - "blobs" === infoS - "blobs")
    def pois(p: String) = graft.osm.OsmQuery.pois.run(spark, p)
      .select("osmid").collect().map(_.getLong(0)).toSet
    assert(pois(dir) === pois(f.getAbsolutePath))
    def topo(p: String) = graft.osm.OsmQuery.highways
      .copy(geometry = true, topology = true).run(spark, p).count()
    assert(topo(dir) === topo(f.getAbsolutePath))
    // border-duplicated ways must not double their vertices: highway
    // geometry WKB identical across the two corpora
    def geomHash(p: String) = graft.osm.OsmQuery.highways.copy(geometry = true)
      .run(spark, p).select(col("osmid"), hex(col("geometry")).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(geomHash(dir) === geomHash(f.getAbsolutePath))
  }

  test("relation assembly is identical across a border-overlapping split") {
    // the multi-file hazard specific to relations: the relation, its
    // member ways and their nodes land in DIFFERENT region files, and
    // border-duplicated member ways (blobs 2 and 4 here) would double
    // their ring rows if the scan returned both copies.
    // The inner ring is itself building-tagged — the standalone/member
    // overlap must resolve the same way on both corpora.
    val f = java.io.File.createTempFile("splitrel", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(N(40, 0.0, 0.0), N(41, 0.0, 3.0), N(42, 3.0, 3.0), N(43, 3.0, 0.0)),
      Seq(N(44, 1.0, 1.0), N(45, 1.0, 2.0), N(46, 2.0, 2.0), N(47, 2.0, 1.0)),
      Seq(W(50, Seq(40L, 41L, 42L), Nil)),
      Seq(W(51, Seq(42L, 43L, 40L), Nil)),
      Seq(W(52, Seq(44L, 45L, 46L, 47L, 44L), Seq("building" -> "yes"))),
      Seq(R(60, Seq(("outer", 50L, 1.toByte), ("outer", 51L, 1.toByte),
        ("inner", 52L, 1.toByte)),
        Seq("type" -> "multipolygon", "building" -> "yes")))))
    val dir = java.nio.file.Files.createTempDirectory("splitrelout").toString
    ScaleProbe.splitPbf(f.getAbsolutePath, dir, 3, 1)

    def bld(p: String) = graft.osm.OsmQuery.buildings.copy(geometry = true)
      .run(spark, p)
      .select(col("osmid"), hex(col("geometry")).as("g"), col("geom_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val single = bld(f.getAbsolutePath)
    assert(bld(dir) === single)
    // truth: only the relation survives (member 52 anti-joined away),
    // assembled as one polygon with outer + inner ring
    assert(single.map(_._1) === Set(60L))
    assert(single.head._3 === "Polygon")
  }
}
