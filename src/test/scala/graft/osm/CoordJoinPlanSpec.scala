package graft.osm

import org.apache.spark.sql.functions.{col, posexplode}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession
import graft.pbf.OsmPbfWriter._

/** Pins BOTH strategies of the measured-size coordinate join
  * (GeometryBuilder.coordJoin): small exploded-ref sides broadcast
  * into the node table (no exchange on the multi-million-row side);
  * above the row threshold the scale-safe shuffle_hash plan returns.
  * Results must be identical either way. */
class CoordJoinPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val world: String = {
    val f = java.io.File.createTempFile("coordjoin", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(N(1, 0.0, 0.0), N(2, 0.0, 1.0), N(3, 1.0, 1.0), N(4, 1.0, 0.0),
        N(5, 2.0, 2.0), N(6, 2.0, 3.0), N(7, 3.0, 3.0)),
      Seq(
        W(10, Seq(1L, 2L, 3L, 4L, 1L), Seq("building" -> "yes")),
        W(11, Seq(5L, 6L, 7L), Seq("highway" -> "residential")))))
    f.getAbsolutePath
  }

  // the full buildings query hides the coordinate join behind the
  // waySeqs localCheckpoint (the final plan reads an ExistingRDD), so
  // both pins test coordJoin directly
  private def coordPlan(broadcastRows: Long): (String, Long) = {
    import spark.implicits._
    val exploded = Seq((10L, 0, 1L), (10L, 1, 2L), (11L, 0, 2L), (11L, 1, 3L))
      .toDF("wid", "pos", "ref")
    val nodes = Seq((1L, 0.0, 0.0), (2L, 0.0, 1.0), (3L, 1.0, 1.0))
      .toDF("nid", "lon", "lat")
    val joined = GeometryBuilder.coordJoin(exploded, nodes, broadcastRows)
    // INITIAL physical plan (the strategy coordJoin chose): at fixture
    // scale AQE's runtime re-planning converts any shuffled join to
    // broadcast, which would mask the choice under test
    (joined.queryExecution.executedPlan.toString, joined.count())
  }

  test("small refs side broadcasts; threshold 0 keeps shuffle_hash") {
    val (bPlan, bN) = coordPlan(GeometryBuilder.RefsBroadcastRows)
    assert(bN === 4)
    assert(bPlan.contains("BroadcastHashJoin"),
      s"expected the broadcast tier:\n$bPlan")
    assert(!bPlan.contains("ShuffledHashJoin"))
    val (sPlan, sN) = coordPlan(0L)
    assert(sN === 4)
    assert(sPlan.contains("ShuffledHashJoin"),
      s"expected the scale-safe shuffle_hash with threshold 0:\n$sPlan")
  }

  test("join strategy does not change the coordinate-join rows") {
    // the buildings query's input: every way's exploded refs against
    // the node table of the written world
    val all = spark.read.format("osmpbf").load(world)
    val exploded = all.filter(col("type") === 1)
      .select(col("id").as("wid"), posexplode(col("refs")).as(Seq("pos", "ref")))
    val nodes = all.filter(col("type") === 0)
      .select(col("id").as("nid"), col("lon"), col("lat"))
    def rows(broadcastRows: Long): Set[(Long, Int, Double, Double)] =
      GeometryBuilder.coordJoin(exploded, nodes, broadcastRows)
        .select("wid", "pos", "lon", "lat").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSet
    val b = rows(GeometryBuilder.RefsBroadcastRows)
    assert(b === rows(0L))
    assert(b.size === 8)
  }
}
