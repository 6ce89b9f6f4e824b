package osmbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.pbf.OsmPbfWriter
import graft.pbf.OsmPbfWriter.{Elem, Info, N, R, W}

/** Result sizes the generator's own model predicts for one world. The
  * benchmark checks the engine's outputs against these, never against
  * numbers read back through the engine. */
final case class Expected(blobs: Long, nodes: Long, ways: Long, relations: Long,
    pois: Long, highways: Long, topology: Long, buildings: Long) {

  def count(query: String): Long = query match {
    case "info" => nodes + ways + relations
    case "geometry" => nodes
    case "pois" => pois
    case "highways" => highways
    case "topology" => topology
    case "buildings" => buildings
  }

  def elements: Long = nodes + ways + relations

  def render: String = Seq(blobs, nodes, ways, relations, pois, highways,
    topology, buildings).mkString(" ")
}

object Expected {
  def parse(s: String): Expected = {
    val v = s.trim.split(' ').map(_.toLong)
    Expected(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
  }
}

/** Seeded city extract in the shape of graft.pbf.BigWorld (grid nodes,
  * highway chains that share junction nodes, closed buildings, and
  * split-outer multipolygons, one in eight of them forest) plus what
  * real extracts carry and BigWorld lacks: jittered coordinates,
  * version/timestamp/changeset on every element, irregular id gaps and
  * a name vocabulary. Without those the blobs compress to ~0.5 B per
  * element and inflate costs nothing, which hides every change to the
  * inflate and decode layers.
  *
  * The file name carries generator version, seed and size, and a file
  * is never rewritten in place: the engine caches blob stats by path. */
object World {
  val Version = 1
  val Nodes = 500000
  /** street + building ways; multipolygons add Ways / 20 relations with
    * three ring ways each */
  val Ways = 25000
  val Rows = 4096
  val BlockSize = 8000

  private val Amenities = Array("cafe", "restaurant", "bench", "school",
    "fuel", "bank", "pharmacy", "parking", "post_office", "bar",
    "fast_food", "library")
  private val HighwayKinds = Array("residential", "residential", "residential",
    "service", "service", "tertiary", "secondary", "primary",
    "unclassified", "footway")
  private val BuildingKinds = Array("yes", "yes", "yes", "house",
    "apartments", "residential", "commercial", "retail")
  private val Surfaces = Array("asphalt", "paving_stones", "concrete", "sett")
  /** excluded by the default highway query's tag filter */
  private val ExcludedHighway = Array(
    Seq("highway" -> "platform"),
    Seq("highway" -> "footway", "area" -> "yes"),
    Seq("highway" -> "service", "service" -> "yard"),
    Seq("highway" -> "corridor"))

  private val Syllables = Array("mar", "sei", "lle", "ca", "nne", "bi", "ere",
    "pra", "do", "vi", "eux", "port", "bel", "air", "sa", "int", "lou",
    "jo", "li", "ette", "ro", "que", "fon", "tai", "ne", "mon", "te")

  /** A fixed vocabulary per seed: real extracts repeat a few thousand
    * street and shop names, so the per-block string tables stay small. */
  private def vocabulary(r: SplittableRandom, n: Int, prefix: Array[String]): Array[String] =
    Array.fill(n) {
      val parts = 2 + r.nextInt(3)
      val word = (0 until parts).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
      val head = prefix(r.nextInt(prefix.length))
      (if (head.isEmpty) "" else head + " ") + word.capitalize
    }

  def fileName(seed: Long): String = s"city-v$Version-s$seed-n$Nodes.osm.pbf"

  /** Path of the seed's extract under `dir`, generating it (and the
    * model's expectations beside it) when absent. */
  def ensure(dir: File, seed: Long): (File, Expected) = {
    val pbf = new File(dir, fileName(seed))
    val exp = new File(dir, fileName(seed) + ".expected")
    if (!(pbf.isFile && exp.isFile)) {
      dir.mkdirs()
      val tmp = new File(dir, s".${pbf.getName}.${ProcessHandle.current().pid()}")
      val expected = generate(tmp, seed)
      Files.write(exp.toPath, expected.render.getBytes("UTF-8"))
      Files.move(tmp.toPath, pbf.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    (pbf, Expected.parse(new String(Files.readAllBytes(exp.toPath), "UTF-8")))
  }

  /** Encodes and deflates the blocks on every core: each thread writes
    * a complete file, and the parts are joined dropping all but the
    * first OSMHeader frame (identical in every part). */
  private def writeParallel(out: File, blocks: Seq[Seq[Elem]]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val empty = new File(out.getPath + ".header")
    OsmPbfWriter.write(empty.getPath, Nil)
    val headerLen = empty.length()
    empty.delete()
    val n = Runtime.getRuntime.availableProcessors()
    val chunks = blocks.grouped((blocks.size + n - 1) / n).toSeq
    val parts = chunks.indices.map(i => new File(s"${out.getPath}.part$i"))
    Await.result(Future.sequence(chunks.zip(parts).map { case (c, f) =>
      Future(OsmPbfWriter.write(f.getPath, c))
    }), scala.concurrent.duration.Duration.Inf)
    val os = new java.io.FileOutputStream(out)
    try parts.zipWithIndex.foreach { case (f, i) =>
      val bytes = Files.readAllBytes(f.toPath)
      val skip = if (i == 0) 0 else headerLen.toInt
      os.write(bytes, skip, bytes.length - skip)
      f.delete()
    } finally os.close()
  }

  private def info(r: SplittableRandom): Option[Info] = {
    // changesets grow with time; versions are mostly low
    val changeset = 1000000L + r.nextLong(149000000L)
    val ts = 1199145600L + (changeset - 1000000L) * 505000000L / 149000000L +
      r.nextInt(86400)
    var version = 1
    while (version < 40 && r.nextInt(3) == 0) version += 1
    Some(Info(version, ts, changeset))
  }

  /** Builds the element model, writes it and returns what each default
    * query must return on it. */
  def generate(out: File, seed: Long): Expected = {
    val r = new SplittableRandom(seed)
    val streets = vocabulary(r, 3000, Array("Rue", "Avenue", "Boulevard", "Chemin", "Impasse"))
    val shops = vocabulary(r, 2000, Array("", "Le", "La", "Chez"))

    val nodeIds = new Array[Long](Nodes)
    var id = 30000000L
    var i = 0
    while (i < Nodes) {
      nodeIds(i) = id
      id += 1 + (if (r.nextInt(4) == 0) r.nextInt(40) else 0)
      i += 1
    }
    var pois = 0L
    val nodes = new ArrayBuffer[Elem](Nodes)
    i = 0
    while (i < Nodes) {
      val lat = 43.2 + (i % Rows) * 1e-4 + (r.nextDouble() - 0.5) * 0.8e-4
      val lon = 5.3 + (i / Rows) * 1e-4 + (r.nextDouble() - 0.5) * 0.8e-4
      val tags = r.nextInt(100) match {
        case k if k < 2 =>
          pois += 1
          val a = Amenities(r.nextInt(Amenities.length))
          Seq("amenity" -> a) ++
            (if (r.nextInt(10) < 7) Seq("name" -> shops(r.nextInt(shops.length))) else Nil) ++
            (if (r.nextInt(4) == 0) Seq("opening_hours" -> "Mo-Sa 08:00-19:00") else Nil)
        case 2 => Seq("highway" -> (if (r.nextBoolean()) "crossing" else "traffic_signals"))
        case _ => Nil
      }
      nodes += N(nodeIds(i), lat, lon, tags, info(r))
      i += 1
    }

    val ways = new ArrayBuffer[Elem](Ways + 3 * (Ways / 20))
    var wayId = 4000000L
    def nextWayId(): Long = { wayId += 1 + (if (r.nextInt(8) == 0) r.nextInt(20) else 0); wayId }
    val highwayRefs = ArrayBuffer.empty[Array[Int]] // node indices of ways the highway query keeps
    var buildingWays = 0L
    var lastEnd = -1
    var w = 0
    while (w < Ways) {
      if (w % 10 == 9) {
        // closed building square over four grid nodes
        val base = r.nextInt(Nodes - Rows - 2)
        val refs = Seq(base, base + 1, base + Rows + 1, base + Rows, base).map(k => nodeIds(k))
        val kind = BuildingKinds(r.nextInt(BuildingKinds.length))
        val amenity = if ((w / 10) % 8 == 0) {
          pois += 1
          Seq("amenity" -> (if (r.nextBoolean()) "school" else "parking"))
        } else Nil
        val tags = Seq("building" -> kind) ++ amenity ++
          (if (r.nextInt(10) < 3) Seq("building:levels" -> (1 + r.nextInt(9)).toString) else Nil) ++
          (if (r.nextBoolean()) Seq("addr:housenumber" -> (1 + r.nextInt(200)).toString,
            "addr:street" -> streets(r.nextInt(streets.length))) else Nil)
        buildingWays += 1
        ways += W(nextWayId(), refs, tags, info(r))
      } else {
        // street chain of consecutive grid nodes; half of them continue
        // from the previous street's end, sharing a junction node
        val len = 3 + r.nextInt(6)
        val start =
          if (lastEnd >= 0 && lastEnd + len < Nodes && r.nextBoolean()) lastEnd
          else r.nextInt(Nodes - len - 1)
        val idx = Array.tabulate(len + 1)(k => start + k)
        lastEnd = idx.last
        val excluded = r.nextInt(50) == 0
        val tags =
          if (excluded) ExcludedHighway(r.nextInt(ExcludedHighway.length))
          else {
            Seq("highway" -> HighwayKinds(r.nextInt(HighwayKinds.length))) ++
              (if (r.nextInt(10) < 7) Seq("name" -> streets(r.nextInt(streets.length))) else Nil) ++
              (if (r.nextInt(10) < 3) Seq("maxspeed" -> Seq("30", "50", "70")(r.nextInt(3))) else Nil) ++
              (if (r.nextInt(5) == 0) Seq("oneway" -> "yes") else Nil) ++
              (if (r.nextInt(5) == 0) Seq("surface" -> Surfaces(r.nextInt(Surfaces.length))) else Nil)
          }
        if (!excluded) highwayRefs += idx
        ways += W(nextWayId(), idx.toSeq.map(k => nodeIds(k)), tags, info(r))
      }
      w += 1
    }

    // multipolygons over 3x3 grid cells: the outer ring arrives as two
    // open untagged ways (odd relations carry the second half reversed),
    // the inner ring is a building-tagged closed way; every 8th relation
    // is landuse=forest, whose inner building stays a standalone result
    val nRels = Ways / 20
    val rels = new ArrayBuffer[Elem](nRels)
    var relId = 200000L
    var forests = 0L
    var rel = 0
    while (rel < nRels) {
      val base = r.nextInt(Nodes - 3 * Rows - 4)
      def nid(dr: Int, dc: Int): Long = nodeIds(base + dr + Rows * dc)
      val aRefs = Seq(nid(0, 0), nid(1, 0), nid(2, 0), nid(3, 0), nid(3, 1), nid(3, 2), nid(3, 3))
      val bRefs0 = Seq(nid(3, 3), nid(2, 3), nid(1, 3), nid(0, 3), nid(0, 2), nid(0, 1), nid(0, 0))
      val bRefs = if (rel % 2 == 1) bRefs0.reverse else bRefs0
      val forest = rel % 8 == 7
      val wa = W(nextWayId(), aRefs, Nil, info(r))
      val wb = W(nextWayId(), bRefs, Nil, info(r))
      val wc = W(nextWayId(), Seq(nid(1, 1), nid(2, 1), nid(2, 2), nid(1, 2), nid(1, 1)),
        Seq("building" -> BuildingKinds(r.nextInt(BuildingKinds.length))), info(r))
      ways += wa += wb += wc
      relId += 1 + r.nextInt(5)
      val name = if (r.nextInt(3) == 0) Seq("name" -> shops(r.nextInt(shops.length))) else Nil
      rels += R(relId,
        Seq(("outer", wa.id, 1.toByte), ("outer", wb.id, 1.toByte), ("inner", wc.id, 1.toByte)),
        (if (forest) Seq("type" -> "multipolygon", "landuse" -> "forest")
         else Seq("type" -> "multipolygon", "building" -> "yes")) ++ name,
        info(r))
      if (forest) forests += 1
      rel += 1
    }

    // topology: a street splits at every interior node that occurs more
    // than once across the kept streets' refs
    val occurrences = new Array[Byte](Nodes)
    highwayRefs.foreach(_.foreach(k => if (occurrences(k) < 2) occurrences(k) = (occurrences(k) + 1).toByte))
    val segments = highwayRefs.iterator.map { idx =>
      1L + (1 until idx.length - 1).count(p => occurrences(idx(p)) >= 2)
    }.sum

    val blocks = (nodes.grouped(BlockSize) ++ ways.grouped(BlockSize) ++
      rels.grouped(BlockSize)).map(_.toSeq).toSeq
    writeParallel(out, blocks)
    Expected(
      blobs = blocks.size, nodes = nodes.size, ways = ways.size, relations = rels.size,
      pois = pois, highways = highwayRefs.size, topology = segments,
      buildings = buildingWays + forests + (nRels - forests))
  }
}
