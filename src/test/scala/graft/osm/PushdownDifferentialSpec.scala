package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** Must-tag pushdown is an optimization only: over random generated
  * worlds, clipped ones included (ways referencing nodes missing from
  * the extract), every default query returns the same rows with the
  * `MustTagPushdown` rule on and with it excluded through
  * `spark.sql.optimizer.excludedRules`. */
class PushdownDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val withoutPushdown: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", graft.plans.MustTagPushdown.ruleName)
    s
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  /** The six default queries of a session: info, the node geometry,
    * pois, highways, their topology and buildings. */
  private def results(s: SparkSession, path: String): Seq[(String, Seq[String])] = {
    val file = new OsmFile(s, path)
    Seq(
      "info" -> Seq(file.info().toSeq.sorted.mkString(",")),
      "geometry" -> rows(file.geometry()),
      "pois" -> rows(OsmQuery.pois.copy(geometry = true).run(s, path)),
      "highways" -> rows(OsmQuery.highways.copy(geometry = true).run(s, path)),
      "topology" -> rows(OsmQuery.highways.copy(geometry = true, topology = true).run(s, path)),
      "buildings" -> rows(OsmQuery.buildings.copy(geometry = true).run(s, path)))
  }

  private def world(seed: Long, clipped: Boolean): String = {
    val f = java.io.File.createTempFile("pushdiff", ".osm.pbf")
    f.deleteOnExit()
    RandomWorld.write(f.getAbsolutePath, seed, clipped)
    f.getAbsolutePath
  }

  test("the excluded rule really turns the pushdown off") {
    val path = world(1L, clipped = false)
    def scans(s: SparkSession): Seq[String] = PlanCapture.executions(s) {
      OsmQuery.buildings.copy(geometry = true).run(s, path).collect()
    }.flatMap(_.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan.description() })
    assert(scans(spark).exists(_.contains("mustTags=building")))
    assert(!scans(withoutPushdown).exists(_.contains("mustTags=")))
  }

  test("property: every default query returns the same rows with must-tag pushdown on and off") {
    val prop = Prop.forAll(Gen.choose(1L, 1000000L), Gen.oneOf(false, true)) { (seed, clipped) =>
      val path = world(seed, clipped)
      val on = results(spark, path)
      val off = results(withoutPushdown, path)
      Prop(on == off && on.exists(r => r._1 == "highways" && r._2.nonEmpty)) :|
        s"seed $seed clipped $clipped:\n${on.zip(off).filter(p => p._1 != p._2).mkString("\n")}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
