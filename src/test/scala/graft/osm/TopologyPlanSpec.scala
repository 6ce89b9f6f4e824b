package graft.osm

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession
import graft.pbf.OsmPbfWriter._

/** Plan-shape pins for the topology dataflow: the expensive properties
  * (refs decoded on exactly one scan branch, the exploded table
  * aggregated before the coordinate join) are cheap to destroy with an
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
    // near-corpus checkpoint (OPTIMIZATION_r22.md)
    val df = OsmQuery.highways.copy(geometry = true, topology = true).run(spark, world)
    val scanCols = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema().fieldNames.toSet
    }
    val withRefs = scanCols.filter(_.contains("refs"))
    assert(withRefs.size === 1,
      s"expected refs on exactly one scan (the chain walk); got:\n  ${scanCols.mkString("\n  ")}")
    // the attribute branch carries tags for the projection but no refs
    assert(scanCols.exists(c => c.contains("tags") && !c.contains("refs")),
      s"expected a refs-free attribute scan; got:\n  ${scanCols.mkString("\n  ")}")
  }

  test("the coordinate join input aggregates exploded pairs per node (no join at exploded volume)") {
    val df = OsmQuery.highways.copy(geometry = true, topology = true).run(spark, world)
    val plan = df.queryExecution.optimizedPlan.toString
    // the per-node occurrence list must be built BELOW the node join:
    // collect_list appears as an aggregate whose result feeds the join
    assert(plan.contains("collect_list"),
      s"expected the per-node (way, pos) aggregation in the plan:\n$plan")
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
