package graft.osm

import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** `relGeomClass`' truth table (reference primitives.py:288-305): 0 no
  * geometry, 2 line, 3 area. Without super-relation expansion any
  * member that is not a way disqualifies; with it only node members
  * do. An empty member list never has geometry. */
class RelGeomClassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // member types per relation (0 node, 1 way, 2 relation) and its type tag
  private val cases: Seq[(Seq[Int], String, Int, Int)] = Seq(
    // (member types, type tag, class unexpanded, class expanded)
    (Nil, "multipolygon", 0, 0),
    (Seq(1, 1), "multipolygon", 3, 3),
    (Seq(1), "boundary", 3, 3),
    (Seq(1, 1), "route", 2, 2),
    (Seq(1, 1), "site", 0, 0),
    (Seq(1, 0), "multipolygon", 0, 0),
    (Seq(0), "route", 0, 0),
    (Seq(1, 2), "multipolygon", 0, 3),
    (Seq(2), "route", 0, 2),
    (Seq(2, 0, 1), "multipolygon", 0, 0))

  private lazy val rels = {
    import spark.implicits._
    cases.zipWithIndex.map { case ((ts, tag, _, _), i) => (i, tag, ts) }
      .toDF("i", "tag", "ts")
      .select(col("i"), map(lit("type"), col("tag")).as("tags"),
        transform(col("ts"), t => struct(lit("r").as("role"), lit(1L).as("ref"),
          t.cast("tinyint").as("mtype"))).as("members"))
      .localCheckpoint()
  }

  Seq(false, true).foreach { expand =>
    test(s"truth table, expandSuperRelations = $expand") {
      val got = rels.select(col("i"),
          OsmQueryExec.relGeomClass(col("tags"), col("members"), expand).as("c"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      cases.zipWithIndex.foreach { case ((ts, tag, plain, expanded), i) =>
        assert(got(i) === (if (expand) expanded else plain), s"members $ts, type=$tag")
      }
    }
  }

  test("compiles into whole-stage codegen (no interpreted lambda)") {
    Seq(false, true).foreach { expand =>
      val e = GraftExpressionBridge.expression(
        OsmQueryExec.relGeomClass(col("tags"), col("members"), expand))
      assert(e.find(_.isInstanceOf[CodegenFallback]).isEmpty, s"interpreted part in $e")
    }
  }
}
