package graft.osm

import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.OsmPbfWriter._
import graft.sources.SparkTestSession

/** Pins the multi-file shadow planning: the blob summaries' id spans
  * agree with the decoder, and every cross-file duplicated key lies
  * inside the border interval of a blob and one of its shadows — the
  * correctness invariant of the source's multi-file read, which skips
  * only ids its shadows hold. */
class BorderDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkWorld(): (String, String) = {
    val f = java.io.File.createTempFile("border", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(N(1, 1.0, 1.0, Seq("amenity" -> "cafe")), N(2, 1.1, 1.1)),
      Seq(N(3, 1.2, 1.2), N(4, 1.3, 1.3, Seq("amenity" -> "bar"))),
      Seq(N(5, 1.4, 1.4), N(6, 1.5, 1.5)),
      Seq(W(10, Seq(1L, 2L, 3L), Seq("highway" -> "residential"))),
      Seq(W(11, Seq(4L, 5L), Seq("highway" -> "service"))),
      Seq(R(20, Seq(("outer", 10L, 1.toByte)), Seq("type" -> "multipolygon")))))
    val dir = java.nio.file.Files.createTempDirectory("borderout").toString
    graft.ScaleProbe.splitPbf(f.getAbsolutePath, dir, 3, 1)
    (f.getAbsolutePath, dir)
  }

  test("blob summary id spans agree with the decoded elements per blob") {
    val (single, _) = mkWorld()
    val blobs = graft.pbf.OsmPbfFile.indexAll(single)
    val conf = graft.pbf.OsmPbfFile.sharedConf
    blobs.foreach { b =>
      val block = graft.pbf.OsmPbfFile.readBlob(b, conf)
      val sum = graft.pbf.BlobSummary.of(block)
      // decoded truth via the raw scan restricted to this blob is
      // awkward; the writer's fixture is known: derive truth from the
      // full decode of the block
      val decoded = graft.pbf.BlockDecoder
        .decode(block, Array(true, true, true), graft.pbf.DecodeNeeds(
          tags = false, refs = false, members = false, info = false,
          coords = false))
        .map(d => (d.etype.toInt, d.id)).toSeq
      (0 to 2).foreach { t =>
        val ids = decoded.collect { case (`t`, id) => id }
        if (ids.isEmpty) {
          assert(sum.minId(t) > sum.maxId(t), s"type $t should be absent")
        } else {
          assert(sum.minId(t) === ids.min, s"type $t min")
          assert(sum.maxId(t) === ids.max, s"type $t max")
        }
      }
    }
  }

  test("every cross-file duplicated key lies inside a border interval") {
    val (_, dir) = mkWorld()
    assert(!spark.sparkContext.isStopped) // stats walk needs the active session
    val sums = graft.sources.OsmPbfStats.summaries(dir).toIndexedSeq
    val shadows = graft.sources.OsmPbfScan.shadowsOf(sums, Array(true, true, true))
    val conf = graft.pbf.OsmPbfFile.sharedConf
    // (type, id) -> the blobs holding it, in path order
    val holders = sums.indices.flatMap { i =>
      graft.pbf.BlockDecoder.decode(graft.pbf.OsmPbfFile.readBlob(sums(i)._1, conf),
        Array(true, true, true), graft.pbf.DecodeNeeds(tags = false, refs = false,
          members = false, info = false, coords = false))
        .map(d => ((d.etype.toInt, d.id), i))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val dups = holders.filter { case (_, bs) => bs.map(sums(_)._1.path).distinct.size > 1 }
    assert(dups.nonEmpty, "the split must duplicate border elements")
    dups.foreach { case ((t, id), bs) =>
      val first = bs.head
      bs.filter(sums(_)._1.path != sums(first)._1.path).foreach { later =>
        assert(shadows(later).contains(sums(first)._1),
          s"($t,$id): blob $later lacks shadow $first")
        val lo = math.max(sums(first)._2.minId(t), sums(later)._2.minId(t))
        val hi = math.min(sums(first)._2.maxId(t), sums(later)._2.maxId(t))
        assert(lo <= id && id <= hi, s"($t,$id) outside the border interval [$lo, $hi]")
      }
    }
  }
}
