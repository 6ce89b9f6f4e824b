package graft.osm

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, lit, map_contains_key}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.{BlobInfo, BlobSummary, OsmPbfFile, OsmPbfWriter, PbfWriter, Zlib}
import graft.pbf.OsmPbfWriter.Elem
import graft.sources.{OsmPbfBatches, OsmPbfCountPushdownSpec, OsmPbfPartition, OsmPbfScan,
  OsmPbfStats, SparkTestSession}

/** The osmpbf source's multi-file contract: a bare read of a path with
  * several files returns each (type, id) once, from the first file in
  * path order that holds it. Over random generated worlds, plain and
  * clipped, a directory read returns the single file's rows in three
  * layouts — a `ScaleProbe.splitPbf` split with duplicated border blobs,
  * three files with interleaved ids sharing about 1% of their elements,
  * and two files with disjoint ids — through both readers and under
  * type, id and must-tag pushdown; its counts equal the single file's
  * and are pushed only when the files are disjoint. */
class MultiFileReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val allTypes = Array(true, true, true)

  private def load(path: String): DataFrame = spark.read.format("osmpbf").load(path)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan.description() }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Element k of the world goes to file k % 3, and every hundredth
    * element also to the next file: interleaved ids in one id space,
    * as adjacent extracts have, with a few elements in two files. */
  private def writeInterleaved(elems: Seq[Elem], dir: String): Unit = {
    val files = Array.fill(3)(ArrayBuffer.empty[Elem])
    elems.zipWithIndex.foreach { case (e, k) =>
      files(k % 3) += e
      if (k % 100 == 7) files((k + 1) % 3) += e
    }
    files.zipWithIndex.foreach { case (es, f) =>
      OsmPbfWriter.write(s"$dir/part$f.osm.pbf", es.toSeq.grouped(23).toSeq)
    }
  }

  /** A world's single file and its three multi-file layouts. */
  private def layouts(seed: Long, clipped: Boolean): (String, Seq[(String, String)]) = {
    val blocks = RandomWorld.blocks(seed, clipped)
    val f = java.io.File.createTempFile("multiread", ".osm.pbf")
    f.deleteOnExit()
    OsmPbfWriter.write(f.getAbsolutePath, blocks)
    val split = tmpDir("multiread-split")
    graft.ScaleProbe.splitPbf(f.getAbsolutePath, split, 3, 1)
    val interleaved = tmpDir("multiread-interleaved")
    writeInterleaved(blocks.flatten, interleaved)
    val disjoint = tmpDir("multiread-disjoint")
    graft.ScaleProbe.splitPbf(f.getAbsolutePath, disjoint, 2, 0)
    (f.getAbsolutePath, Seq("split" -> split, "interleaved" -> interleaved, "disjoint" -> disjoint))
  }

  private def typeCounts(df: DataFrame): Map[Byte, Long] =
    df.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap

  /** Every mismatch between a directory read and the single file's. */
  private def mismatches(single: String, layout: String, dir: String,
      types: Seq[Int], ids: Seq[Long]): Seq[String] = {
    val filters: Seq[(String, DataFrame => DataFrame, String)] = Seq(
      ("bare", identity, ""),
      ("type IN", _.filter(col("type").isin(types: _*)),
        types.map(Seq("node", "way", "relation")).mkString("types=", ",", ", cols=")),
      ("id IN", _.filter(col("id").isin(ids: _*)), ""),
      ("must-tag", _.filter(map_contains_key(col("tags"), lit("amenity"))), "mustTags=amenity"))
    val projections: Seq[(String, DataFrame => DataFrame)] = Seq(
      "full rows" -> identity,
      "scalars" -> (_.select("id", "type", "lat", "lon")))
    val readBad = for {
      (fname, filter, planned) <- filters
      (pname, project) <- projections
      df = project(filter(load(dir)))
      if !scans(df).forall(_.contains(planned)) || rows(df) != rows(project(filter(load(single))))
    } yield s"$layout $fname $pname: ${scans(df)}"
    val columnar = PlanCapture.operators(load(dir).select("id", "type", "lat", "lon").queryExecution)
      .exists(_.isInstanceOf[ColumnarToRowExec])
    val truth = typeCounts(load(single).groupBy("type").count())
    val grouped = load(dir).groupBy("type").count()
    val global = load(dir).agg(count(lit(1)))
    val pushed = Seq(grouped, global).map(OsmPbfCountPushdownSpec.usesCountScan)
    val countBad =
      if (typeCounts(grouped) == truth && global.collect().head.getLong(0) == truth.values.sum &&
        load(dir).count() == truth.values.sum && pushed.forall(_ == (layout == "disjoint"))) Nil
      else Seq(s"$layout counts: pushed=$pushed ${typeCounts(grouped)} vs $truth")
    readBad ++ countBad ++ (if (columnar) Nil else Seq(s"$layout scalars read rows"))
  }

  test("property: a directory read returns the single file's rows and counts in every layout") {
    val prop = Prop.forAll(Gen.choose(1L, 1000000L), Gen.oneOf(false, true)) { (seed, clipped) =>
      val rnd = new scala.util.Random(seed)
      val types = rnd.shuffle(Seq(0, 1, 2)).take(1 + rnd.nextInt(2)).sorted
      val (single, dirs) = layouts(seed, clipped)
      val ids = rnd.shuffle(load(single).select("id").collect().map(_.getLong(0)).toSeq).take(12)
      val failures = dirs.flatMap { case (layout, dir) => mismatches(single, layout, dir, types, ids) }
      Prop(failures.isEmpty) :| s"seed $seed clipped $clipped:\n${failures.mkString("\n")}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("a split directory plans the single file's osmpbf scans: no added Union or (type, id) exchange") {
    val (single, dirs) = layouts(11L, clipped = false)
    val split = dirs.toMap.apply("split")
    val queries = Seq(
      "topology" -> OsmQuery.highways.copy(geometry = true, topology = true),
      "buildings" -> OsmQuery.buildings.copy(geometry = true))
    queries.foreach { case (name, q) =>
      val Seq(splitOps, singleOps) = Seq(split, single).map(p =>
        PlanCapture.executions(spark)(q.run(spark, p).collect()).flatMap(PlanCapture.operators))
      def osmScans(ops: Seq[SparkPlan]) = ops.count {
        case b: BatchScanExec => b.scan.isInstanceOf[OsmPbfScan]
        case _ => false
      }
      def unions(ops: Seq[SparkPlan]) = ops.count(_.isInstanceOf[UnionExec])
      val typeIdExchanges = splitOps.collect {
        case s: ShuffleExchangeExec => s.outputPartitioning
      }.collect {
        case h: HashPartitioning if h.expressions.flatMap(_.references.map(_.name)).toSet ==
          Set("type", "id") => h
      }
      assert(osmScans(splitOps) === osmScans(singleOps), name)
      assert(unions(splitOps) === unions(singleOps), name)
      assert(typeIdExchanges.isEmpty, s"$name: $typeIdExchanges")
    }
  }

  test("the scan description ends with shadows=N, N the split's duplicated blobs") {
    val f = java.io.File.createTempFile("multiread-shadows", ".osm.pbf")
    f.deleteOnExit()
    RandomWorld.write(f.getAbsolutePath, 23L, clipped = false)
    val dir = tmpDir("multiread-shadows")
    val dup = graft.ScaleProbe.splitPbf(f.getAbsolutePath, dir, 3, 1)
    assert(dup === 2)
    assert(scans(load(dir)).map(_.takeRight(s"shadows=$dup)".length)) === Seq(s"shadows=$dup)"))
    assert(scans(load(f.getAbsolutePath)).forall(!_.contains("shadows=")))
  }

  test("on interleaved files each blob skips exactly the ids earlier files hold, no more than its own") {
    val dir = tmpDir("multiread-bound")
    writeInterleaved(RandomWorld.blocks(5L, clipped = true).flatten, dir)
    val files = OsmPbfFile.expand(dir)
    val keysOf = files.map(p => p -> load(p).select("type", "id").collect()
      .map(r => (r.getByte(0).toInt, r.getLong(1))).toSet).toMap
    val sums = OsmPbfStats.summaries(dir).toIndexedSeq
    val shadows = OsmPbfScan.shadowsOf(sums, allTypes)
    assert(shadows.count(_.nonEmpty) > sums.size / 2, "interleaved ids overlap in most blobs")
    def read(b: BlobInfo) = OsmPbfFile.readBlob(b, OsmPbfFile.sharedConf)
    sums.zip(shadows).foreach { case ((b, s), sh) =>
      val skip = BlobSummary.shadowedIds(read(b), sh.iterator.map(read), allTypes)
      val skipped = (0 to 2).flatMap(t => Option(skip(t)).toSeq.flatten.map(t -> _)).toSet
      val own = scala.collection.mutable.Set.empty[(Int, Long)]
      BlobSummary.foreachId(read(b))((t, id) => own += (t -> id))
      val earlier = files.takeWhile(_ != b.path).flatMap(keysOf).toSet
      assert(skipped.size <= s.total)
      assert(skipped === (own.toSet intersect earlier), s"$b")
    }
  }

  test("duplicates inside one file are kept; every later-file copy of an earlier file's id is skipped") {
    val dir = tmpDir("multiread-dups")
    OsmPbfWriter.write(s"$dir/a.osm.pbf", Seq(Seq(OsmPbfWriter.N(1, 1.0, 1.0),
      OsmPbfWriter.N(1, 1.0, 1.0), OsmPbfWriter.N(3, 3.0, 3.0))))
    OsmPbfWriter.write(s"$dir/b.osm.pbf", Seq(Seq(OsmPbfWriter.N(2, 2.0, 2.0),
      OsmPbfWriter.N(2, 2.0, 2.0), OsmPbfWriter.N(3, 3.5, 3.5), OsmPbfWriter.N(3, 3.5, 3.5))))
    val got = load(dir).select("id", "lat").collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 10) / 10)).sorted
    assert(got.toSeq === Seq((1L, 1.0), (1L, 1.0), (2L, 2.0), (2L, 2.0), (3L, 3.0)))
  }

  test("a corrupt shadow raises the typed error naming its file and byte offset") {
    val dir = tmpDir("multiread-corrupt")
    val bad = s"$dir/a.osm.pbf"
    OsmPbfWriter.write(bad, Nil)
    val blob = new PbfWriter
    blob.writeVarintField(2, 48L << 20) // raw_size above the 32 MiB limit
    blob.writeBytes(3, Zlib.deflate(new Array[Byte](64)))
    val header = new PbfWriter
    header.writeString(1, "OSMData")
    header.writeVarintField(3, blob.toBytes.length)
    val out = new java.io.FileOutputStream(bad, true)
    try {
      out.write(java.nio.ByteBuffer.allocate(4).putInt(header.toBytes.length).array())
      out.write(header.toBytes)
      out.write(blob.toBytes)
    } finally out.close()
    val good = s"$dir/b.osm.pbf"
    OsmPbfWriter.write(good, Seq(Seq(OsmPbfWriter.N(1, 1.0, 1.0))))
    val shadow = OsmPbfFile.index(bad).head
    val part = OsmPbfPartition(OsmPbfFile.index(good).toArray, Array(Array(shadow)))
    val batches = new OsmPbfBatches(part, Array("id", "type"), allTypes, null, null)
    val e = try intercept[java.io.IOException](batches.next()) finally batches.close()
    assert(e.getMessage.contains(bad) && e.getMessage.contains(s"byte offset ${shadow.dataOffset}"),
      e.getMessage)
  }
}
