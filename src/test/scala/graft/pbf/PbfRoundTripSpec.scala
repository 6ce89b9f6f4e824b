package graft.pbf

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

class VarintSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)

  test("varint round-trip (boundaries + random)") {
    val cases = Seq(0L, 1L, 127L, 128L, 300L, Int.MaxValue.toLong,
      1L << 35, Long.MaxValue, -1L, Long.MinValue) ++
      (1 to 500).map(_ => rnd.nextLong())
    cases.foreach { v =>
      val w = new PbfWriter; w.writeVarint(v)
      assert(new PbfReader(w.toBytes).readVarint() === v, s"varint $v")
    }
  }

  test("zigzag round-trip") {
    val cases = Seq(0L, -1L, 1L, -2L, 2L, Int.MinValue.toLong,
      Int.MaxValue.toLong, Long.MaxValue, Long.MinValue + 1)
    cases.foreach { v =>
      val w = new PbfWriter; w.writeZigzag(v)
      assert(new PbfReader(w.toBytes).readZigzag() === v, s"zigzag $v")
    }
  }

  test("packed longs with zigzag+delta round-trip") {
    (0 to 100).foreach { n =>
      val vs = Seq.fill(n)(rnd.nextLong() % 1000000L)
      val w = new PbfWriter
      w.writePackedLongs(1, vs, zigzag = true, delta = true)
      val r = new PbfReader(w.toBytes)
      val tag = r.readTag()
      assert((tag >> 3) === 1)
      assert(r.readPackedLongs(zigzag = true, delta = true).toSeq === vs)
    }
  }

  test("skip over all wire types") {
    val w = new PbfWriter
    w.writeVarintField(1, 42)
    w.writeTag(2, 1); (1 to 8).foreach(_ => w.writeVarint(0).toBytes) // not 8 bytes; build manually below
    // build a clean message instead:
    val m = new PbfWriter
    m.writeVarintField(1, 42)
    m.writeString(2, "skipme")
    m.writeVarintField(3, 7)
    val r = new PbfReader(m.toBytes)
    var got7 = false
    while (r.hasMore) {
      val tag = r.readTag()
      if ((tag >> 3) == 3) got7 = r.readVarint() == 7L else r.skip(tag & 7)
    }
    assert(got7)
  }
}

object OsmPbfRoundTripSpec {
  /** What a decoded element must show for the fields it was asked to
    * decode: `coords` only for nodes under `needs.coords`, `info` as
    * (version, timestamp micros, changeset) when present. */
  final case class Row(id: Long, etype: Byte, coords: Option[(Double, Double)],
      tags: Seq[(String, String)], refs: Seq[Long], members: Seq[(String, Long, Byte)],
      info: Option[(Int, Long, Long)])

  /** One decoder property trial: the blocks written and the settings. */
  final case class Case(blocks: Seq[Seq[OsmPbfWriter.Elem]], dense: Boolean, gran: Long,
      off: Long, want: Seq[Boolean], needs: DecodeNeeds, must: Option[Seq[String]],
      ids: Option[Set[Long]])
}

class OsmPbfRoundTripSpec extends AnyFunSuite {
  import OsmPbfWriter._
  import OsmPbfRoundTripSpec.{Case, Row}

  private def roundTrip(blocks: Seq[Seq[Elem]], dense: Boolean = true): Seq[Decoded] = {
    val f = java.io.File.createTempFile("rtpbf", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, blocks, denseNodes = dense)
    val blobs = OsmPbfFile.index(f.getAbsolutePath)
    blobs.flatMap { b =>
      BlockDecoder.decode(
        OsmPbfFile.readBlob(b, new org.apache.hadoop.conf.Configuration()),
        Array(true, true, true), DecodeNeeds.all).toSeq
    }
  }

  test("dense nodes: ids, coords, tags, info round-trip") {
    val nodes = Seq(
      N(1, 43.51, 5.41, Seq("amenity" -> "cafe"), Some(Info(3, 1600000000L, 77))),
      N(5, 43.52, 5.42),
      N(9, -10.0, -120.5, Seq("amenity" -> "bench", "area" -> "yes")))
    val got = roundTrip(Seq(nodes))
    assert(got.map(_.id) === Seq(1L, 5L, 9L))
    assert(got.forall(_.etype == 0))
    assert(math.abs(got(0).lat - 43.51) < 1e-6 && math.abs(got(0).lon - 5.41) < 1e-6)
    assert(math.abs(got(2).lat + 10.0) < 1e-6 && math.abs(got(2).lon + 120.5) < 1e-6)
    assert(got(0).tagKeys.toSeq === Seq("amenity") && got(0).tagVals.toSeq === Seq("cafe"))
    assert(got(1).tagKeys.isEmpty)
    assert(got(2).tagKeys.toSeq === Seq("amenity", "area"))
    assert(got(0).version === 3 && got(0).timestampMs === 1600000000000L && got(0).changeset === 77L)
  }

  test("scalar (non-dense) node path matches dense semantics") {
    val nodes = Seq(N(2, 1.5, 2.5, Seq("k" -> "v")), N(4, -1.5, -2.5))
    val d = roundTrip(Seq(nodes), dense = true)
    val s = roundTrip(Seq(nodes), dense = false)
    assert(d.map(x => (x.id, x.lat, x.lon, x.tagKeys.toSeq, x.tagVals.toSeq)) ===
      s.map(x => (x.id, x.lat, x.lon, x.tagKeys.toSeq, x.tagVals.toSeq)))
  }

  test("ways: delta refs + tags round-trip") {
    val ways = Seq(
      W(100, Seq(1L, 5L, 9L, 1L), Seq("building" -> "yes")),
      W(101, Seq(9L, 5L), Seq("highway" -> "residential")))
    val got = roundTrip(Seq(ways))
    assert(got.map(_.id) === Seq(100L, 101L))
    assert(got.forall(_.etype == 1))
    assert(got(0).refs.toSeq === Seq(1L, 5L, 9L, 1L))
    assert(got(1).refs.toSeq === Seq(9L, 5L))
    assert(got(0).tagKeys.toSeq === Seq("building"))
  }

  test("relations: members round-trip") {
    val rels = Seq(R(500,
      Seq(("outer", 100L, 1.toByte), ("inner", 101L, 1.toByte), ("", 1L, 0.toByte)),
      Seq("type" -> "multipolygon")))
    val got = roundTrip(Seq(rels))
    assert(got.head.id === 500L && got.head.etype === 2)
    assert(got.head.memberRoles.toSeq === Seq("outer", "inner", ""))
    assert(got.head.memberRefs.toSeq === Seq(100L, 101L, 1L))
    assert(got.head.memberTypes.toSeq === Seq(1.toByte, 1.toByte, 0.toByte))
    assert(got.head.tagKeys.toSeq === Seq("type"))
  }

  test("raw/zlib/lz4/zstd blob codecs round-trip identically") {
    val blocks = Seq(Seq(
      N(1, 43.51, 5.41, Seq("amenity" -> "cafe")),
      N(2, 43.52, 5.42)),
      Seq(W(10, Seq(1L, 2L), Seq("highway" -> "path"))))
    val conf = new org.apache.hadoop.conf.Configuration()
    val byCodec = Seq("raw", "zlib", "lz4", "zstd").map { codec =>
      val f = java.io.File.createTempFile(s"codec-$codec", ".osm.pbf")
      f.deleteOnExit()
      write(f.getAbsolutePath, blocks, codec = codec)
      val decoded = OsmPbfFile.index(f.getAbsolutePath).flatMap { b =>
        BlockDecoder.decode(OsmPbfFile.readBlob(b, conf),
          Array(true, true, true), DecodeNeeds.all).toSeq
      }
      codec -> decoded.map(d => (d.id, d.etype, d.lat, d.lon,
        d.tagKeys.toSeq, d.tagVals.toSeq, d.refs.toSeq))
    }
    val expected = byCodec.head._2
    assert(expected.map(_._1) === Seq(1L, 2L, 10L))
    byCodec.tail.foreach { case (codec, got) =>
      assert(got === expected, s"codec $codec differs from raw")
    }
  }

  test("multi-block file + type pushdown skips groups") {
    val blocks = Seq(
      Seq(N(1, 0.0, 0.0), N(2, 1.0, 1.0)),
      Seq(W(10, Seq(1L, 2L))),
      Seq(R(20, Seq(("outer", 10L, 1.toByte)))))
    val f = java.io.File.createTempFile("mbpbf", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, blocks)
    val blobs = OsmPbfFile.index(f.getAbsolutePath)
    assert(blobs.size === 3)
    val conf = new org.apache.hadoop.conf.Configuration()
    val waysOnly = blobs.flatMap(b => BlockDecoder.decode(
      OsmPbfFile.readBlob(b, conf), Array(false, true, false), DecodeNeeds.all).toSeq)
    assert(waysOnly.map(_.id) === Seq(10L))
  }

  test("projection pushdown: tags/refs not decoded when not needed") {
    val got = roundTrip(Seq(Seq(W(7, Seq(1L, 2L, 3L), Seq("k" -> "v")))))
      .head
    assert(got.refs.nonEmpty)
    val f = java.io.File.createTempFile("pppbf", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(Seq(W(7, Seq(1L, 2L, 3L), Seq("k" -> "v")))))
    val b = OsmPbfFile.index(f.getAbsolutePath).head
    val pruned = BlockDecoder.decode(
      OsmPbfFile.readBlob(b, new org.apache.hadoop.conf.Configuration()),
      Array(true, true, true),
      DecodeNeeds(tags = false, refs = false, members = false, info = false, coords = false))
      .toSeq.head
    assert(pruned.id === 7L && pruned.tagKeys.isEmpty && pruned.refs.isEmpty)
  }

  // name kept from the walk's earlier, count-only form
  test("property: countTypes matches the full decoder on random blocks") {
    // the blob summary walk never decodes an element — its only ground
    // truth is agreement with the real decoder over arbitrary block
    // shapes (mixed groups, empty tag sets, optional info, 0-element
    // blocks, dense and plain encodings): per-type counts, min and max ids
    val rnd = new scala.util.Random(4242)
    (1 to 40).foreach { trial =>
      val dense = rnd.nextBoolean()
      val blocks = Seq.fill(1 + rnd.nextInt(3)) {
        Seq.fill(rnd.nextInt(12)) {
          rnd.nextInt(3) match {
            case 0 => N(rnd.nextInt(100000).toLong, rnd.nextDouble() * 80,
              rnd.nextDouble() * 170,
              if (rnd.nextBoolean()) Seq("k" -> "v") else Nil,
              if (rnd.nextBoolean()) Some(Info(1, 1600000000L, 9)) else None)
            case 1 => W(rnd.nextInt(100000).toLong,
              Seq.fill(2 + rnd.nextInt(5))(rnd.nextInt(1000).toLong),
              if (rnd.nextBoolean()) Seq("highway" -> "x") else Nil)
            case _ => R(rnd.nextInt(100000).toLong,
              Seq.fill(1 + rnd.nextInt(3))(("outer", rnd.nextInt(1000).toLong, 1.toByte)),
              if (rnd.nextBoolean()) Seq("type" -> "multipolygon") else Nil)
          }
        }
      }
      val f = java.io.File.createTempFile(s"ctprop$trial", ".osm.pbf")
      f.deleteOnExit()
      write(f.getAbsolutePath, blocks, denseNodes = dense)
      val conf = new org.apache.hadoop.conf.Configuration()
      OsmPbfFile.index(f.getAbsolutePath).foreach { b =>
        val block = OsmPbfFile.readBlob(b, conf)
        val decoded = BlockDecoder.decode(block, Array(true, true, true), DecodeNeeds.all).toSeq
        val want = (
          decoded.count(_.etype == 0).toLong,
          decoded.count(_.etype == 1).toLong,
          decoded.count(_.etype == 2).toLong)
        val sum = BlobSummary.of(block)
        val clue = s"trial $trial dense=$dense blocks=${blocks.map(_.size)} $sum"
        assert((sum.count(0), sum.count(1), sum.count(2)) === want, clue)
        (0 to 2).foreach { t =>
          val ids = decoded.filter(_.etype == t).map(_.id)
          assert(sum.minId(t) === (if (ids.isEmpty) Long.MaxValue else ids.min), clue)
          assert(sum.maxId(t) === (if (ids.isEmpty) Long.MinValue else ids.max), clue)
        }
      }
    }
  }

  // ---- decoder property: both views equal the writer's input model ----

  private val tagKeys = Seq("amenity", "highway", "building", "name")
  private val genId = Gen.choose(-1000L, 100000000L)
  private val genTags: Gen[Seq[(String, String)]] = for {
    ks <- Gen.someOf(tagKeys)
    vs <- Gen.listOfN(ks.size, Gen.oneOf("yes", "residential", "cafe", ""))
  } yield ks.toSeq.zip(vs)
  private val genInfo: Gen[Option[Info]] = Gen.option(for {
    v <- Gen.choose(1, 50)
    ts <- Gen.choose(0L, 2000000000L)
    cs <- Gen.choose(0L, 1L << 40)
  } yield Info(v, ts, cs))
  private val genElem: Gen[Elem] = Gen.frequency(
    3 -> (for {
      id <- genId; lat <- Gen.choose(-90.0, 90.0); lon <- Gen.choose(-180.0, 180.0)
      t <- genTags; i <- genInfo
    } yield N(id, lat, lon, t, i)),
    2 -> (for {
      id <- genId; n <- Gen.choose(0, 6); refs <- Gen.listOfN(n, genId)
      t <- genTags; i <- genInfo
    } yield W(id, refs, t, i)),
    1 -> (for {
      id <- genId; n <- Gen.choose(0, 4)
      ms <- Gen.listOfN(n, for {
        role <- Gen.oneOf("outer", "inner", ""); ref <- genId; mt <- Gen.choose(0, 2)
      } yield (role, ref, mt.toByte))
      t <- genTags; i <- genInfo
    } yield R(id, ms, t, i)))
  private val genCase: Gen[Case] = for {
    blocks <- Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 12).flatMap(m => Gen.listOfN(m, genElem))))
    dense <- Gen.oneOf(true, false)
    gran <- Gen.oneOf(100L, 1000L)
    off <- Gen.oneOf(0L, 123456L)
    want <- Gen.listOfN(3, Gen.frequency(3 -> true, 1 -> false))
    nb <- Gen.listOfN(5, Gen.oneOf(true, false))
    must <- Gen.option(Gen.nonEmptyListOf(Gen.oneOf(tagKeys :+ "nope")).map(_.distinct))
    ids <- Gen.option(Gen.someOf(blocks.flatten.map(_.id)).map(_.toSet + 42L))
  } yield Case(blocks, dense, gran, off, want,
    DecodeNeeds(tags = nb(0), refs = nb(1), members = nb(2), info = nb(3), coords = nb(4)),
    must, ids)

  private def etypeOf(e: Elem): Byte = e match {
    case _: N => 0
    case _: W => 1
    case _: R => 2
  }

  /** The input model filtered and projected by the decode settings; the
    * writer emits a block's nodes, then ways, then relations, and a
    * DenseNodes group carries info for every node once any node has it
    * (0 for the missing values). */
  private def model(es: Seq[Elem], c: Case, scalarOnly: Boolean, idFilter: Boolean): Seq[Row] = {
    val nodes = es.collect { case n: N => n }
    val denseInfo = c.dense && nodes.exists(_.info.isDefined)
    def q(x: Double): Double = 1e-9 * (c.off + c.gran * ((x / 1e-9 - c.off) / c.gran).round)
    val n = c.needs
    (nodes ++ es.collect { case w: W => w } ++ es.collect { case r: R => r })
      .filter(e => c.want(etypeOf(e)) &&
        c.must.forall(ks => e.tags.exists(t => ks.contains(t._1))) &&
        (!idFilter || c.ids.forall(_.contains(e.id))))
      .map { e =>
        val info =
          if (!n.info) None
          else if (c.dense && etypeOf(e) == 0) {
            if (denseInfo) Some(e.info.fold((0, 0L, 0L))(i =>
              (i.version, i.timestampSec * 1000000L, i.changeset)))
            else None
          } else e.info.map(i => (i.version, i.timestampSec * 1000000L, i.changeset))
        Row(e.id, etypeOf(e),
          e match { case nd: N if n.coords => Some((q(nd.lat), q(nd.lon))); case _ => None },
          if (n.tags && !scalarOnly) e.tags else Nil,
          e match { case w: W if n.refs && !scalarOnly => w.refs; case _ => Nil },
          e match { case r: R if n.members && !scalarOnly => r.members; case _ => Nil },
          info)
      }
  }

  test("property: decode and decodeScalars equal the writer's input under random settings") {
    val prop = Prop.forAll(genCase) { c =>
      val f = java.io.File.createTempFile("decprop", ".osm.pbf")
      try {
        write(f.getAbsolutePath, c.blocks, denseNodes = c.dense, granularity = c.gran,
          latOffset = c.off, lonOffset = c.off)
        val want = c.want.toArray
        val must = c.must.map(_.toArray).orNull
        val blobs = OsmPbfFile.index(f.getAbsolutePath)
        // every block is decoded here, inside the try: Prop's && is lazy
        val perBlock = blobs.zip(c.blocks).map { case (b, es) =>
          val block = OsmPbfFile.readBlob(b, OsmPbfFile.sharedConf)
          val rows = BlockDecoder.decode(block, want, c.needs, must).map { d =>
            Row(d.id, d.etype, if (c.needs.coords && d.etype == 0) Some((d.lat, d.lon)) else None,
              d.tagKeys.toSeq.zip(d.tagVals), d.refs.toSeq,
              d.memberRoles.indices.map(j => (d.memberRoles(j), d.memberRefs(j), d.memberTypes(j))),
              if (d.hasInfo) Some((d.version, d.timestampMs * 1000L, d.changeset)) else None)
          }.toSeq
          val sb = BlockDecoder.decodeScalars(block, want, c.needs, must, c.ids.orNull)
          val scalars = (0 until sb.n).map { i =>
            Row(sb.ids(i), sb.types(i),
              if (c.needs.coords && sb.types(i) == 0) Some((sb.lats(i), sb.lons(i))) else None,
              Nil, Nil, Nil,
              if (sb.hasInfo(i)) Some((sb.versions(i), sb.tsMicros(i), sb.changesets(i))) else None)
          }
          val wantRows = model(es, c, scalarOnly = false, idFilter = false)
          val wantScalars = model(es, c, scalarOnly = true, idFilter = true)
          ((rows == wantRows) :| s"decode: $rows != $wantRows") &&
            ((scalars == wantScalars) :| s"decodeScalars: $scalars != $wantScalars") &&
            ((sb.tagKeys == null && sb.refs == null && sb.memberRefs == null) :|
              "decodeScalars allocated an array column")
        }
        ((blobs.size == c.blocks.size) :| "one blob per block") && Prop.all(perBlock: _*)
      } finally f.delete()
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }
}
