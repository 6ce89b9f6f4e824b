package graft.osm

import graft.pbf.OsmPbfWriter._

/** Seeded small extracts for properties over generated worlds: a
  * jittered node grid (some nodes are POIs), highway chains sharing
  * junction nodes (including ones the default highway query excludes),
  * closed buildings (some with an amenity), multipolygon relations whose
  * outer ring is split into two open ways (one reversed) around a
  * building-tagged inner ring, a relation with a node member and a
  * route. A clipped world leaves out some of the nodes its ways
  * reference, as a city extract cut from a larger region does. */
object RandomWorld {

  def write(path: String, seed: Long, clipped: Boolean): Unit =
    graft.pbf.OsmPbfWriter.write(path, blocks(seed, clipped))

  /** The world's blocks: nodes in id order, then the ways, then the
    * relations. */
  def blocks(seed: Long, clipped: Boolean): Seq[Seq[Elem]] = {
    val rnd = new scala.util.Random(seed)
    val side = 12 + rnd.nextInt(10)
    def nid(r: Int, c: Int): Long = 1L + r * side + c
    val amenities = Array("cafe", "school", "parking", "bank")
    val nodes = for (r <- 0 until side; c <- 0 until side) yield {
      val tags =
        if (rnd.nextInt(12) == 0) Seq("amenity" -> amenities(rnd.nextInt(amenities.length)))
        else Nil
      N(nid(r, c), 43.0 + r * 1e-3 + rnd.nextDouble() * 2e-4,
        5.0 + c * 1e-3 + rnd.nextDouble() * 2e-4, tags)
    }
    var wid = 10000L
    def nextWay(): Long = { wid += 1; wid }

    val highwayKinds = Array("residential", "primary", "service", "platform", "footway")
    val highways = (0 until 6 + rnd.nextInt(10)).map { _ =>
      val r = rnd.nextInt(side)
      val c0 = rnd.nextInt(side - 3)
      val len = 2 + rnd.nextInt(side - c0 - 1)
      val refs = (c0 until c0 + len).map(c => nid(r, c))
      val cross = rnd.nextInt(side)
      val vertical = rnd.nextBoolean()
      val chain = if (vertical) (0 until side).map(rr => nid(rr, cross)).take(len) else refs
      val extra = if (rnd.nextInt(6) == 0) Seq("area" -> "yes") else Nil
      W(nextWay(), chain, Seq("highway" -> highwayKinds(rnd.nextInt(highwayKinds.length))) ++ extra)
    }

    def square(r: Int, c: Int, d: Int): Seq[Long] =
      Seq(nid(r, c), nid(r, c + d), nid(r + d, c + d), nid(r + d, c), nid(r, c))
    val buildings = (0 until 4 + rnd.nextInt(8)).map { _ =>
      val amenity = if (rnd.nextInt(3) == 0) Seq("amenity" -> "school") else Nil
      W(nextWay(), square(rnd.nextInt(side - 1), rnd.nextInt(side - 1), 1),
        Seq("building" -> "yes") ++ amenity)
    } :+ W(nextWay(), Seq(nid(0, 0)), Seq("building" -> "yes"))

    val rels = scala.collection.mutable.ArrayBuffer.empty[Elem]
    val ringWays = scala.collection.mutable.ArrayBuffer.empty[Elem]
    (0 until 1 + rnd.nextInt(3)).foreach { k =>
      val r = rnd.nextInt(side - 3)
      val c = rnd.nextInt(side - 3)
      val a = Seq(nid(r, c), nid(r, c + 1), nid(r, c + 2), nid(r, c + 3), nid(r + 1, c + 3),
        nid(r + 2, c + 3), nid(r + 3, c + 3))
      val b0 = Seq(nid(r + 3, c + 3), nid(r + 3, c + 2), nid(r + 3, c + 1), nid(r + 3, c),
        nid(r + 2, c), nid(r + 1, c), nid(r, c))
      val wa = W(nextWay(), a)
      val wb = W(nextWay(), if (k % 2 == 1) b0.reverse else b0)
      val wc = W(nextWay(), square(r + 1, c + 1, 1), Seq("building" -> "yes"))
      ringWays ++= Seq(wa, wb, wc)
      val kind = if (rnd.nextInt(4) == 0) "landuse" -> "forest" else "building" -> "yes"
      rels += R(20000L + k, Seq(("outer", wa.id, 1.toByte), ("outer", wb.id, 1.toByte),
        ("inner", wc.id, 1.toByte)), Seq("type" -> "multipolygon", kind))
    }
    rels += R(20100L, Seq(("", nid(0, 0), 0.toByte), ("outer", buildings.head.id, 1.toByte)),
      Seq("type" -> "multipolygon", "building" -> "yes"))
    rels += R(20101L, highways.take(2).map(h => ("", h.id, 1.toByte)),
      Seq("type" -> "route", "route" -> "bus"))

    val kept = if (clipped) nodes.filter(_ => rnd.nextInt(8) != 0) else nodes
    kept.grouped(97).toSeq ++ Seq(highways ++ buildings ++ ringWays, rels.toSeq)
  }
}
