package graft.osm

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.pbf.OsmPbfWriter._
import graft.sources.SparkTestSession

/** One plan builder: a query run from a path and the same query over
  * `OsmFile`'s element table must read the same osmpbf scans, so the
  * decoder-level must-tag pushdown cannot differ between the two entry
  * points. Scans are collected from every query execution through a
  * `QueryExecutionListener`, so the plans behind the geometry path's
  * local checkpoints count too. */
class OsmPlanParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val world: String = {
    val f = java.io.File.createTempFile("planparity", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(N(1, 0.0, 0.0, Seq("amenity" -> "cafe")), N(2, 0.0, 1.0), N(3, 1.0, 1.0),
        N(4, 1.0, 0.0, Seq("amenity" -> "bench")), N(5, 2.0, 2.0), N(6, 2.0, 3.0)),
      Seq(
        W(10, Seq(1L, 2L, 3L), Seq("highway" -> "residential")),
        W(11, Seq(2L, 5L, 6L), Seq("highway" -> "service")),
        W(12, Seq(1L, 2L, 3L, 4L, 1L), Seq("building" -> "yes")),
        W(13, Seq(3L, 4L, 5L, 3L), Seq("amenity" -> "parking")),
        W(14, Seq(5L, 6L), Nil)),
      Seq(R(20, Seq(("outer", 13L, 1.toByte)),
        Seq("type" -> "multipolygon", "building" -> "yes")))))
    f.getAbsolutePath
  }

  private val Marker = "osm-plan-parity-marker"

  /** Sorted osmpbf scan descriptions, paths stripped, of every query
    * execution `body` runs. */
  private def scans(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.toString.contains(Marker)) markerSeen.countDown()
        else qe.optimizedPlan.foreach {
          case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[graft.sources.OsmPbfScan] =>
            seen.add(r.scan.description().replaceAll("path=[^,]*, ", ""))
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order on one bus: once the marker
      // query's event is in, every earlier execution has been seen
      spark.sql(s"SELECT '$Marker' AS m").collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.sorted
  }

  private val queries = Seq(
    "pois" -> OsmQuery.pois.copy(geometry = true),
    "highways" -> OsmQuery.highways.copy(geometry = true),
    "topology" -> OsmQuery.highways.copy(geometry = true, topology = true),
    "buildings" -> OsmQuery.buildings.copy(geometry = true))

  queries.foreach { case (name, q) =>
    test(s"$name: OsmQuery.run and OsmFile.query read the same osmpbf scans") {
      val viaPath = scans(q.run(spark, world).collect())
      val viaFile = scans(new OsmFile(spark, world).query(q).collect())
      assert(viaPath.nonEmpty)
      assert(viaPath === viaFile)
    }
  }

  test("topology's refs-free attribute scan carries the must-tag pushdown") {
    val q = OsmQuery.highways.copy(geometry = true, topology = true)
    Seq(
      "OsmQuery.run" -> scans(q.run(spark, world).collect()),
      "OsmFile.query" -> scans(new OsmFile(spark, world).query(q).collect())
    ).foreach { case (entry, descs) =>
      val cols = descs.map(d => d -> "cols=([^ )]*?)(, |\\))".r.findFirstMatchIn(d).get.group(1).split(',').toSet)
      val attrs = cols.collect { case (d, c) if c("tags") && !c("refs") => d }
      assert(attrs.nonEmpty, s"$entry: no refs-free tags scan in\n  ${descs.mkString("\n  ")}")
      assert(attrs.forall(_.contains("mustTags=highway")),
        s"$entry: attribute scan without must-tag pushdown:\n  ${attrs.mkString("\n  ")}")
    }
  }
}
