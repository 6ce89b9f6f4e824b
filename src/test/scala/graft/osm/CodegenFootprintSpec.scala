package graft.osm

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** The default queries' generated-code budget. Spark's codegen cache
  * holds 100 classes, and every whole-stage class is compiled once per
  * class loader; a session whose default queries need more recompiles
  * them on every pass. The geometry queries therefore share one way
  * assembly whose compiled stages are byte-identical across queries,
  * and keep every operator inside whole-stage codegen. Each stage's
  * largest generated method stays within HotSpot's 8,000-byte limit,
  * above which the JIT never compiles it. */
class CodegenFootprintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val world: String = {
    val f = java.io.File.createTempFile("codegen", ".osm.pbf")
    f.deleteOnExit()
    RandomWorld.write(f.getAbsolutePath, seed = 7, clipped = false)
    f.getAbsolutePath
  }

  private val geometryQueries = Seq(
    "pois" -> OsmQuery.pois.copy(geometry = true),
    "highways" -> OsmQuery.highways.copy(geometry = true),
    "topology" -> OsmQuery.highways.copy(geometry = true, topology = true),
    "buildings" -> OsmQuery.buildings.copy(geometry = true))

  /** Reads every output column, as a benchmark's timed action does. */
  private def consume(df: DataFrame): Unit = {
    val cols = df.columns.map(c => col(s"`$c`")).toIndexedSeq
    df.agg(count(lit(1)), sum(xxhash64(cols: _*).bitwiseAND(lit(0xFFFFFFFFL)))).head()
  }

  test("one run of the six default queries compiles at most 80 classes") {
    // an upper bound: classes that earlier suites left in the cache can
    // only lower the count
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val file = new OsmFile(spark, world)
    file.info()
    consume(file.geometry())
    geometryQueries.foreach { case (_, q) => consume(q.run(spark, world)) }
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    info(s"compiled $compiled classes")
    assert(compiled <= 80, s"the six default queries compiled $compiled classes")
  }

  test("every whole-stage codegen method of the six default queries stays JIT-compilable") {
    val file = new OsmFile(spark, world)
    val frames = ("geometry" -> (() => file.geometry())) +:
      geometryQueries.map { case (name, q) => name -> (() => q.run(spark, world)) }
    // each query read bare and under the checksum aggregate: the
    // caller's action is fused into the result stage's method
    val runs: Seq[(String, () => Unit)] = ("info" -> (() => { file.info(); () })) +:
      frames.flatMap { case (name, df) => Seq(
        s"$name collect" -> (() => { df().collect(); () }),
        s"$name consume" -> (() => consume(df()))) }
    val sizes = runs.map { case (name, body) =>
      name -> PlanCapture.executions(spark)(body())
        .flatMap(qe => graft.ProbeRig.stageMethodSizes(qe.executedPlan))
    }
    sizes.foreach { case (name, s) => info(s"$name: largest method ${s.map(_._2).max} bytes") }
    val huge = for ((name, s) <- sizes; (id, bytes) <- s if bytes > graft.ProbeRig.HugeMethodLimit)
      yield s"$name stage $id: $bytes bytes"
    assert(huge.isEmpty, s"stages HotSpot runs interpreted:\n${huge.mkString("\n")}")
  }

  /** Filters that run outside whole-stage codegen (interpreted, with a
    * predicate class of their own). */
  private def outsideCodegen(p: SparkPlan, inside: Boolean): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => outsideCodegen(a.executedPlan, inside = false)
    case s: QueryStageExec => outsideCodegen(s.plan, inside = false)
    case w: WholeStageCodegenExec => outsideCodegen(w.child, inside = true)
    case i: InputAdapter => outsideCodegen(i.child, inside = false)
    case f: FilterExec if !inside => f +: f.children.flatMap(outsideCodegen(_, inside))
    case other => other.children.flatMap(outsideCodegen(_, inside))
  }

  geometryQueries.foreach { case (name, q) =>
    test(s"$name: no object-hash or sort aggregate, no Filter outside whole-stage codegen") {
      val plans = PlanCapture.executions(spark)(q.run(spark, world).collect())
      val names = plans.flatMap(PlanCapture.operators).map(_.nodeName).toSet
      assert(!names.contains("ObjectHashAggregate") && !names.contains("SortAggregate"),
        s"$name plans an aggregate outside codegen: $names")
      val interpreted = plans.flatMap(qe => outsideCodegen(qe.executedPlan, inside = false))
      assert(interpreted.isEmpty,
        s"$name runs Filters outside whole-stage codegen:\n${interpreted.mkString("\n")}")
    }
  }
}
