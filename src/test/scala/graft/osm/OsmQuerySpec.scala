package graft.osm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.OsmPbfWriter._
import graft.geom.Wkb
import graft.sources.SparkTestSession

/** Golden end-to-end tests over synthetic fixtures (FIXTURES.md §B):
  * a mini world with POI nodes, open/closed ways, a multipolygon
  * relation (one outer ring chained from 3 ways incl. a reversed one +
  * one inner ring) and a highway junction for topology. */
class OsmQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ---- mini world ----
  // POI nodes 1-3; grid nodes 10-29 for ways
  private lazy val world: String = {
    val f = java.io.File.createTempFile("worldpbf", ".osm.pbf")
    f.deleteOnExit()
    val nodes = Seq(
      N(1, 43.500, 5.400, Seq("amenity" -> "cafe", "name" -> "c1")),
      N(2, 43.501, 5.401, Seq("amenity" -> "bench")),
      N(3, 43.502, 5.402, Seq("shop" -> "bakery")), // no amenity → not a POI
      // building square 10-13
      N(10, 0.0, 0.0), N(11, 0.0, 1.0), N(12, 1.0, 1.0), N(13, 1.0, 0.0),
      // highway chain nodes
      N(20, 10.0, 10.0), N(21, 10.0, 11.0), N(22, 10.0, 12.0),
      N(23, 11.0, 11.0), N(24, 12.0, 11.0),
      // multipolygon outer square 30-33, inner square 34-37
      N(30, 0.0, 0.0), N(31, 0.0, 4.0), N(32, 4.0, 4.0), N(33, 4.0, 0.0),
      N(34, 1.0, 1.0), N(35, 1.0, 2.0), N(36, 2.0, 2.0), N(37, 2.0, 1.0))
    val ways = Seq(
      // closed building way (area)
      W(100, Seq(10L, 11L, 12L, 13L, 10L), Seq("building" -> "yes")),
      // open highway through junction node 21
      W(101, Seq(20L, 21L, 22L), Seq("highway" -> "residential", "name" -> "A")),
      W(102, Seq(21L, 23L, 24L), Seq("highway" -> "service", "name" -> "B")),
      // excluded highway (area=yes)
      W(103, Seq(20L, 22L), Seq("highway" -> "residential", "area" -> "yes")),
      // multipolygon member ways: outer ring in 3 parts, one reversed
      W(110, Seq(30L, 31L), Nil),
      W(111, Seq(31L, 32L, 33L), Nil),
      W(112, Seq(30L, 33L), Nil), // tail-to-tail: needs reversal when chaining
      // inner ring as a single closed way
      W(113, Seq(34L, 35L, 36L, 37L, 34L), Nil),
      // a second standalone closed building (NOT a relation member —
      // it must survive the J6 anti-join; the member-overlap case has
      // its own dedicated world below)
      W(114, Seq(10L, 11L, 12L, 10L), Seq("building" -> "yes")))
    val rels = Seq(
      R(200, Seq(("outer", 110L, 1.toByte), ("outer", 111L, 1.toByte),
        ("outer", 112L, 1.toByte), ("inner", 113L, 1.toByte)),
        Seq("type" -> "multipolygon", "building" -> "yes")),
      // relation with a node member → no geometry (Q6)
      R(201, Seq(("", 1L, 0.toByte), ("outer", 110L, 1.toByte)),
        Seq("type" -> "multipolygon", "building" -> "yes")),
      // route relation over the two highways
      R(202, Seq(("", 101L, 1.toByte), ("", 102L, 1.toByte)),
        Seq("type" -> "route", "route" -> "bus")))
    write(f.getAbsolutePath, Seq(nodes, ways, rels))
    f.getAbsolutePath
  }

  test("pois: must_tags over nodes+ways, point geometry") {
    val df = OsmQuery.pois.copy(geometry = true).run(spark, world)
      .orderBy("osmid")
    val rows = df.collect()
    // nodes 1,2 have amenity; node 3 does not; no ways have amenity
    assert(rows.map(_.getAs[Long]("osmid")).toSeq === Seq(1L, 2L))
    assert(rows.forall(_.getAs[String]("geom_type") == "Point"))
    val p1 = Wkb.readPoint(rows(0).getAs[Array[Byte]]("geometry"))
    assert(math.abs(p1.x - 5.400) < 1e-6 && math.abs(p1.y - 43.500) < 1e-6)
    assert(rows(0).getAs[String]("amenity") === "cafe")
    assert(rows(1).getAs[String]("amenity") === "bench")
  }

  test("highways: exclude filter with keep_first=false, linestring geometry") {
    val df = OsmQuery.highways.copy(geometry = true).run(spark, world)
      .orderBy("osmid")
    val rows = df.collect()
    // way 103 excluded by area=yes; 101,102 kept
    assert(rows.map(_.getAs[Long]("osmid")).toSeq === Seq(101L, 102L))
    assert(rows.forall(_.getAs[String]("geom_type") == "LineString"))
    val l1 = Wkb.readLineString(rows(0).getAs[Array[Byte]]("geometry"))
    assert(l1 === Seq(Wkb.Coord(10.0, 10.0), Wkb.Coord(11.0, 10.0), Wkb.Coord(12.0, 10.0)))
    assert(rows(0).getAs[String]("highway") === "residential")
  }

  test("buildings: closed way → Polygon; multipolygon relation chained from parts; member way deduped") {
    val df = OsmQuery.buildings.copy(geometry = true).run(spark, world)
    val byId = df.collect().map(r => r.getAs[Long]("osmid") -> r).toMap
    // way 100: standalone closed building
    assert(byId(100L).getAs[String]("geom_type") === "Polygon")
    val shell = Wkb.readPolygon(byId(100L).getAs[Array[Byte]]("geometry")).head
    assert(shell.length === 5 && shell.head === shell.last)
    // way 114 is not a member of any relation → kept as standalone
    assert(byId.contains(114L))
    // relation 200: outer chained from 3 ways (one reversed) + inner ring
    assert(byId(200L).getAs[String]("geom_type") === "Polygon")
    val rings = Wkb.readPolygon(byId(200L).getAs[Array[Byte]]("geometry"))
    assert(rings.length === 2, "outer + inner ring")
    assert(rings(0).length === 5 && rings(0).head === rings(0).last)
    assert(rings(0).map(c => (c.x, c.y)).toSet ===
      Set((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)))
    assert(rings(1).length === 5)
    assert(rings(1).map(c => (c.x, c.y)).toSet ===
      Set((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0)))
    // relation 201 has a node member → no geometry → not in geometry output
    assert(!byId.contains(201L))
  }

  test("runPivotTags discovers occurring keys not listed in the query") {
    // pois' explicit tag list has no "name" or "shop" — the dynamic
    // pivot must still surface "name" (occurs on poi node 1) and must
    // NOT surface "shop" (node 3 has no amenity → filtered out)
    val df = OsmQuery.pois.runPivotTags(spark, world).orderBy("osmid")
    assert(df.columns.contains("name") && df.columns.contains("amenity"))
    assert(!df.columns.contains("shop"))
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("osmid")).toSeq === Seq(1L, 2L))
    assert(rows(0).getAs[String]("name") === "c1")
    assert(rows(1).getAs[String]("name") === null)
    assert(rows(1).getAs[String]("amenity") === "bench")
  }

  test("super-relation expansion: opt-in flattening, parity default, cycle-safe") {
    // relation-of-relations world: 400 (building) carries its outer
    // ring only through sub-relation 401 (untagged, so never a result
    // row itself) and its inner ring directly; 402/403 form a 2-cycle
    val f = java.io.File.createTempFile("superrel", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(N(30, 0.0, 0.0), N(31, 0.0, 4.0), N(32, 4.0, 4.0), N(33, 4.0, 0.0),
        N(34, 1.0, 1.0), N(35, 1.0, 2.0), N(36, 2.0, 2.0), N(37, 2.0, 1.0)),
      Seq(W(110, Seq(30L, 31L), Nil), W(111, Seq(31L, 32L, 33L), Nil),
        W(112, Seq(30L, 33L), Nil),
        W(113, Seq(34L, 35L, 36L, 37L, 34L), Nil)),
      Seq(
        R(400, Seq(("outer", 401L, 2.toByte), ("inner", 113L, 1.toByte)),
          Seq("type" -> "multipolygon", "building" -> "yes")),
        R(401, Seq(("outer", 110L, 1.toByte), ("outer", 111L, 1.toByte),
          ("outer", 112L, 1.toByte)), Seq("type" -> "multipolygon")),
        // 402 <-> 403 membership cycle; 403 also carries a real ring
        R(402, Seq(("outer", 403L, 2.toByte)),
          Seq("type" -> "multipolygon", "building" -> "yes")),
        R(403, Seq(("outer", 402L, 2.toByte), ("outer", 113L, 1.toByte)), Nil))))
    val q = OsmQuery.buildings.copy(geometry = true)
    // parity default: a relation member disqualifies geometry (Q6)
    val plain = q.run(spark, f.getAbsolutePath).collect()
    assert(!plain.map(_.getAs[Long]("osmid")).contains(400L),
      "default must keep reference parity: no super-relation geometry")
    // expanded: 400 assembles outer (via 401, sub-roles) + direct inner
    val exp = q.copy(expandSuperRelations = true).run(spark, f.getAbsolutePath)
      .collect().map(r => r.getAs[Long]("osmid") -> r).toMap
    assert(exp.contains(400L), "expanded super-relation must assemble")
    assert(exp(400L).getAs[String]("geom_type") === "Polygon")
    val rings = Wkb.readPolygon(exp(400L).getAs[Array[Byte]]("geometry"))
    assert(rings.length === 2, "outer ring from the sub-relation + direct inner ring")
    assert(rings(0).map(c => (c.x, c.y)).toSet ===
      Set((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)))
    assert(rings(1).map(c => (c.x, c.y)).toSet ===
      Set((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0)))
    // the 2-cycle terminates at the depth bound and the diamond dedup
    // keeps way 113 once: a single closed outer ring
    assert(exp.contains(402L), "cycle participant with a reachable ring must assemble")
    assert(Wkb.readPolygon(exp(402L).getAs[Array[Byte]]("geometry")).length === 1)
  }

  test("pivotTags fails loudly on a tag-key explosion instead of OOMing the driver") {
    // hostile/dirty-extract shape (VERDICT r10 task 4): 100k distinct
    // tag keys — real planet files carry tiger:*/gnis:* explosions.
    // The collect runs through limit(cap+1), so this test holds at
    // most 10,001 key strings on the driver, never 100k.
    val explosion = spark.range(0L, 100000L)
      .select(map(concat(lit("k"), col("id")), lit("v")).as("tags"))
    val e = intercept[IllegalStateException] {
      OsmQueryExec.pivotTags(explosion)
    }
    assert(e.getMessage.contains("distinct tag keys") &&
      e.getMessage.contains("spark.graft.pivot.maxKeys"))
    // an explicitly raised cap admits a wider frame; a lowered cap
    // rejects a frame the default admits — the conf is live
    spark.conf.set("spark.graft.pivot.maxKeys", "64")
    try {
      val mid = spark.range(0L, 65L)
        .select(lit(1L).as("osmid"),
          map(concat(lit("k"), format_string("%03d", col("id"))), lit("v")).as("tags"))
      intercept[IllegalStateException] { OsmQueryExec.pivotTags(mid) }
      spark.conf.set("spark.graft.pivot.maxKeys", "65")
      val cols = OsmQueryExec.pivotTags(mid).columns
      assert(cols.length === 66 && cols.head === "osmid" && cols.contains("k064"))
      assert(!cols.contains("tags"))
      // <= 0 disables the cap entirely (and must not overflow the
      // limit(cap + 1) probe)
      spark.conf.set("spark.graft.pivot.maxKeys", "0")
      assert(OsmQueryExec.pivotTags(mid).columns.length === 66)
    } finally spark.conf.unset("spark.graft.pivot.maxKeys")
  }

  test("tags = None keeps the tags MapType column — the planet-scale escape hatch") {
    // past spark.graft.pivot.maxKeys the pivot fails loudly; the plain
    // run/query with tags = None is the fallback — same rows, no key
    // discovery, no driver collect, the MapType column served as-is.
    // keepFirst = false: with only mustTags set, the reference truth
    // table (F4) resolves keepFirst=true to drop-all
    val q = OsmQuery(nodes = true, mustTags = Seq("amenity"), keepFirst = false)
    val pivoted = q.runPivotTags(spark, world)
    assert(pivoted.columns.contains("amenity") && !pivoted.columns.contains("tags"))
    val unpivoted = q.copy(tags = None).run(spark, world)
    assert(unpivoted.columns.contains("tags"),
      s"tags = None must keep the map column: ${unpivoted.columns.toSeq}")
    assert(!unpivoted.columns.contains("amenity"))
    // same rows, and element_at over the map equals the pivoted column
    val viaMap = unpivoted
      .select(col("osmid"), element_at(col("tags"), "amenity").as("amenity"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaPivot = pivoted.select(col("osmid"), col("amenity"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaMap === viaPivot && viaMap.nonEmpty)
    // and it is the escape hatch for real: a cap the pivoted form
    // trips does not touch the unpivoted one (no key discovery runs),
    // on both entry points
    spark.conf.set("spark.graft.pivot.maxKeys", "1")
    try {
      intercept[IllegalStateException] { q.runPivotTags(spark, world) }
      assert(q.copy(tags = None).run(spark, world).count() > 0)
      val ds = new OsmFile(spark, world)
      intercept[IllegalStateException] { ds.queryPivoted(q) }
      val viaDs = ds.query(q.copy(tags = None))
      assert(viaDs.columns.contains("tags") && viaDs.count() > 0)
    } finally spark.conf.unset("spark.graft.pivot.maxKeys")
  }

  test("a building-tagged MEMBER way is suppressed standalone (J6) yet assembles in its relation") {
    // way 113 qualifies the buildings filter on its own AND is the
    // georel's inner ring: it must appear exactly once in the output —
    // inside relation 200's polygon — never as a standalone row. This
    // is the el ∩ members overlap the shared sequence build dedups and
    // the anti-join then suppresses.
    val f = java.io.File.createTempFile("j6world", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(N(30, 0.0, 0.0), N(31, 0.0, 4.0), N(32, 4.0, 4.0), N(33, 4.0, 0.0),
        N(34, 1.0, 1.0), N(35, 1.0, 2.0), N(36, 2.0, 2.0), N(37, 2.0, 1.0)),
      Seq(
        W(110, Seq(30L, 31L), Nil),
        W(111, Seq(31L, 32L, 33L), Nil),
        W(112, Seq(30L, 33L), Nil),
        W(113, Seq(34L, 35L, 36L, 37L, 34L), Seq("building" -> "yes"))),
      Seq(R(200, Seq(("outer", 110L, 1.toByte), ("outer", 111L, 1.toByte),
        ("outer", 112L, 1.toByte), ("inner", 113L, 1.toByte)),
        Seq("type" -> "multipolygon", "building" -> "yes")))))
    val rows = OsmQuery.buildings.copy(geometry = true)
      .run(spark, f.getAbsolutePath).collect()
    val ids = rows.map(_.getAs[Long]("osmid")).toSet
    assert(ids === Set(200L), s"member way 113 must be anti-joined away, got $ids")
    val rings = Wkb.readPolygon(rows.head.getAs[Array[Byte]]("geometry"))
    assert(rings.length === 2, "outer + building-tagged inner ring")
    assert(rings(1).map(c => (c.x, c.y)).toSet ===
      Set((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0)))
  }

  test("route relation: members chained to a single LineString") {
    val q = OsmQuery(relations = true, mustTags = Seq("route"),
      keepFirst = false, geometry = true, tags = Some(Seq("route")))
    val rows = q.run(spark, world).collect()
    assert(rows.map(_.getAs[Long]("osmid")).toSeq === Seq(202L))
    val r = rows.head
    // ways 101 (20,21,22) and 102 (21,23,24) share only node 21 — the
    // chain cannot extend from 22, so two separate lines
    assert(r.getAs[String]("geom_type") === "MultiLineString")
    val parts = Wkb.readCollection(r.getAs[Array[Byte]]("geometry"))
    assert(parts.length === 2)
  }

  test("topology: ways split at junction node 21, source/target emitted") {
    val q = OsmQuery.highways.copy(geometry = true, topology = true)
    val df = q.run(spark, world).orderBy("osmid", "source")
    val rows = df.collect().map(r => (r.getAs[Long]("osmid"),
      r.getAs[Long]("source"), r.getAs[Long]("target")))
    // way 101 (20→21→22) splits at junction 21 into [20,21] and [21,22];
    // way 102 (21→23→24) starts at the junction → single segment
    assert(rows.toSet === Set((101L, 20L, 21L), (101L, 21L, 22L), (102L, 21L, 24L)))
  }

  test("topology: refs to nodes missing from the extract never bridge a junction") {
    val f = java.io.File.createTempFile("clippbf", ".osm.pbf")
    f.deleteOnExit()
    // node 9 is a junction (on ways 201 and 202) but ABSENT from the
    // extract (clipped); nodes 1,2,3 present
    write(f.getAbsolutePath, Seq(
      Seq(N(1, 0.0, 0.0), N(2, 0.0, 2.0), N(3, 1.0, 1.0)),
      Seq(
        W(201, Seq(1L, 9L, 2L), Seq("highway" -> "residential")),
        W(202, Seq(9L, 3L), Seq("highway" -> "residential")))))
    val q = OsmQuery.highways.copy(geometry = true, topology = true)
    val rows = q.run(spark, f.getAbsolutePath).collect()
      .map(r => (r.getAs[Long]("osmid"), r.getAs[Long]("source"), r.getAs[Long]("target")))
    // way 201 splits at missing junction 9: both halves have a single
    // present node -> dropped; way 202's only segment loses node 9 ->
    // single present node -> dropped. Crucially NO segment 1->2 exists
    // (that would fabricate an edge across the missing junction).
    assert(rows.isEmpty, s"expected no segments, got ${rows.mkString(",")}")
  }

  test("multi-file corpus dedups border elements shared by adjacent extracts") {
    val dir = java.nio.file.Files.createTempDirectory("borderpbf")
    // the border way 300 and its nodes appear in BOTH extracts
    val borderNodes = Seq(N(50, 0.0, 0.0), N(51, 0.0, 1.0), N(52, 1.0, 1.0))
    val borderWay = W(300, Seq(50L, 51L, 52L), Seq("highway" -> "residential"))
    write(dir.resolve("a.osm.pbf").toString,
      Seq(borderNodes :+ N(60, 2.0, 2.0), Seq(borderWay)))
    write(dir.resolve("b.osm.pbf").toString,
      Seq(borderNodes :+ N(61, 3.0, 3.0), Seq(borderWay)))
    // geometry: one linestring with 3 vertices, not 6
    val geo = OsmQuery.highways.copy(geometry = true)
      .run(spark, dir.toString).collect()
    assert(geo.map(_.getAs[Long]("osmid")).toSeq === Seq(300L))
    assert(Wkb.readLineString(geo.head.getAs[Array[Byte]]("geometry")).length === 3)
    // topology: interior node 51 is NOT a junction (degree comes from
    // the deduped way set), so the way stays one segment
    val topo = OsmQuery.highways.copy(geometry = true, topology = true)
      .run(spark, dir.toString).collect()
      .map(r => (r.getAs[Long]("osmid"), r.getAs[Long]("source"), r.getAs[Long]("target")))
    assert(topo.toSeq === Seq((300L, 50L, 52L)))
  }

  test("metadata columns surfaced when requested") {
    val f = java.io.File.createTempFile("metapbf", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(Seq(
      N(1, 1.0, 2.0, Seq("amenity" -> "cafe"), Some(Info(7, 1500000000L, 99))))))
    val q = OsmQuery(nodes = true, mustTags = Seq("amenity"), keepFirst = false,
      metadata = true)
    val r = q.run(spark, f.getAbsolutePath).collect().head
    assert(r.getAs[Int]("version") === 7)
    assert(r.getAs[java.sql.Timestamp]("timestamp").getTime === 1500000000000L)
    assert(r.getAs[Long]("changeset") === 99L)
  }

  test("keep/exclude truth table matches _validate_tagval semantics") {
    val f = java.io.File.createTempFile("ttpbf", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(Seq(
      N(1, 0, 0, Seq("highway" -> "residential")),
      N(2, 0, 0, Seq("highway" -> "abandoned")),
      N(3, 0, 0, Seq("building" -> "yes")),
      N(4, 0, 0, Nil),
      N(5, 0, 0, Seq("highway" -> "residential", "area" -> "yes")))))
    val path = f.getAbsolutePath
    def ids(q: OsmQuery): Seq[Long] =
      q.run(spark, path).orderBy("osmid").collect().map(_.getAs[Long]("osmid")).toSeq

    // keep_first=true: keep && !exclude
    assert(ids(OsmQuery(nodes = true,
      keep = Some(Map("highway" -> Nil)),
      exclude = Some(Map("highway" -> Seq("abandoned"), "area" -> Seq("yes"))),
      keepFirst = true)) === Seq(1L))
    // keep_first=false: !exclude || keep
    assert(ids(OsmQuery(nodes = true,
      keep = Some(Map("building" -> Nil)),
      exclude = Some(Map("highway" -> Nil)),
      keepFirst = false)) === Seq(3L, 4L))
    // no filters at all: keepFirst=false keeps everything (reference
    // no_tagval edge → `not keep_first`)
    assert(ids(OsmQuery(nodes = true, keepFirst = false)) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids(OsmQuery(nodes = true, keepFirst = true)) === Seq())
    // must_tags drops untagged elements
    assert(ids(OsmQuery(nodes = true, mustTags = Seq("highway"), keepFirst = false))
      === Seq(1L, 2L, 5L))
  }

  test("id-set lookup restricted per type") {
    val q = OsmQuery(nodes = true, ways = true, keepFirst = false,
      nodeIds = Some(Seq(1L, 2L)))
    val ids = q.run(spark, world).orderBy("osmid").collect()
      .map(r => (r.getAs[Long]("osmid"), r.getAs[Byte]("osmtype"))).toSeq
    // nodes restricted to {1,2}; ways unrestricted
    assert(ids.filter(_._2 == 0).map(_._1) === Seq(1L, 2L))
    assert(ids.count(_._2 == 1) === 9)
  }

  test("large id sets switch to the semi-join path with identical results") {
    // pad the set far past the isin threshold with nonexistent ids —
    // results must match the small-set literal path exactly
    val big = Seq(1L, 2L) ++ (1000000L to 1000000L + OsmQueryExec.LargeIdSetThreshold)
    val q = OsmQuery(nodes = true, ways = true, keepFirst = false,
      nodeIds = Some(big))
    val ids = q.run(spark, world).orderBy("osmid").collect()
      .map(r => (r.getAs[Long]("osmid"), r.getAs[Byte]("osmtype"))).toSeq
    assert(ids.filter(_._2 == 0).map(_._1) === Seq(1L, 2L))
    assert(ids.count(_._2 == 1) === 9) // ways stay unrestricted
  }
}

class WkbSpec extends AnyFunSuite {
  test("native point_wkb expression packs identically to Wkb.point") {
    for ((x, y) <- Seq((5.4, 43.5), (0.0, 0.0), (-1.25, 180.0),
        (Double.MinPositiveValue, -0.0))) {
      assert(graft.functions.PointWkb.pack(x, y).toSeq === Wkb.point(x, y).toSeq)
    }
    // and through SQL via the session extension
    val spark = graft.sources.SparkTestSession.spark
    val hex = spark.sql("SELECT hex(point_wkb(5.4d, 43.5d)) AS h")
      .collect().head.getString(0)
    assert(hex === Wkb.point(5.4, 43.5).map("%02X".format(_)).mkString)
  }

  test("point/linestring/polygon byte layout round-trips") {
    val p = Wkb.point(5.4, 43.5)
    assert(p.length === 21 && Wkb.geomType(p) === 1)
    assert(Wkb.readPoint(p) === Wkb.Coord(5.4, 43.5))
    // known-good WKB for POINT(1 2), little-endian
    assert(p.take(5).toSeq === Seq[Byte](1, 1, 0, 0, 0))
    val ls = Wkb.lineString(Seq(Wkb.Coord(0, 0), Wkb.Coord(1, 1)))
    assert(Wkb.geomType(ls) === 2 && Wkb.readLineString(ls).length === 2)
    val poly = Wkb.polygon(Seq(
      Seq(Wkb.Coord(0, 0), Wkb.Coord(0, 1), Wkb.Coord(1, 1), Wkb.Coord(0, 0))))
    assert(Wkb.geomType(poly) === 3 && Wkb.readPolygon(poly).head.length === 4)
    val mp = Wkb.multiPolygon(Seq(poly, poly))
    assert(Wkb.geomType(mp) === 6 && Wkb.readCollection(mp).length === 2)
  }
}
