package graft.osm

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession
import graft.pbf.OsmPbfWriter._

/** Plan-shape pins for the topology dataflow: the expensive properties
  * (refs decoded on exactly one scan branch, coordinates joined by
  * the shared way-sequence assembly instead of a node-table shuffle)
  * are cheap to destroy with an
  * innocent-looking edit, and only visible at probe scale — so the
  * optimized shape is asserted here at fixture scale. */
class TopologyPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val world: String = {
    val f = java.io.File.createTempFile("topoplan", ".osm.pbf")
    f.deleteOnExit()
    write(f.getAbsolutePath, Seq(
      Seq(N(1, 0.0, 0.0), N(2, 0.0, 1.0), N(3, 1.0, 1.0), N(4, 1.0, 2.0)),
      Seq(
        W(10, Seq(1L, 2L, 3L), Seq("highway" -> "residential")),
        W(11, Seq(2L, 4L), Seq("highway" -> "service")))))
    f.getAbsolutePath
  }

  test("refs are decoded on exactly one scan branch (walk), not the attribute join") {
    // two pruned scans — measured at the 7M probe to beat a shared
    // near-corpus checkpoint (OPTIMIZATION_r22.md). The walk's scan sits
    // behind the way-sequence checkpoint, so scans are collected from
    // every execution the query runs.
    val scanCols = PlanCapture.executions(spark) {
      OsmQuery.highways.copy(geometry = true, topology = true).run(spark, world).collect()
    }.flatMap(_.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema().fieldNames.toSet
    })
    val withRefs = scanCols.filter(_.contains("refs"))
    assert(withRefs.size === 1,
      s"expected refs on exactly one scan (the chain walk); got:\n  ${scanCols.mkString("\n  ")}")
    // the attribute branch carries tags for the projection but no refs
    assert(scanCols.exists(c => c.contains("tags") && !c.contains("refs")),
      s"expected a refs-free attribute scan; got:\n  ${scanCols.mkString("\n  ")}")
  }

  test("coordinates come from the shared way sequences, not a node-table shuffle") {
    val plans = PlanCapture.executions(spark) {
      OsmQuery.highways.copy(geometry = true, topology = true).run(spark, world).collect()
    }.flatMap(PlanCapture.operators)
    // no sort-merge join against the node table, and none of the
    // aggregates that run outside whole-stage codegen
    val names = plans.map(_.nodeName).toSet
    Seq("SortMergeJoin", "ObjectHashAggregate", "SortAggregate").foreach { op =>
      assert(!names.contains(op), s"unexpected $op in the topology plans: $names")
    }
    // the coordinate join streams the node table into the broadcast refs
    assert(names.contains("BroadcastHashJoin"), s"no broadcast coordinate join: $names")
  }

  test("the shape change preserves results (segments + junction split)") {
    val rows = OsmQuery.highways.copy(geometry = true, topology = true)
      .run(spark, world)
      .select("osmid", "source", "target")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // node 2 is on both ways → junction: way 10 splits there
    assert(rows === Set((10L, 1L, 2L), (10L, 2L, 3L), (11L, 2L, 4L)))
  }
}
