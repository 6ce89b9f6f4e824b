package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.WayIsArea
import graft.pbf.OsmPbfWriter
import graft.sources.SparkTestSession

/** The native tag-table kernels ([[graft.functions.TagMatch]],
  * [[graft.functions.WayIsArea]]) against the `Column` cascades they
  * replaced, kept here as the oracle. Ways with random tags (duplicate
  * keys and the empty map included) and random refs are written to an
  * extract and read back through the osmpbf source, so the maps are
  * the ones the decoder builds; every row is compared on the codegen
  * and on the interpreted evaluation path. */
class TagKernelDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // --- the oracle: the former Column cascades ---

  private def cascadeMatch(tags: Column, spec: Map[String, Seq[String]]): Column =
    spec.foldLeft(lit(false)) { case (acc, (k, vs)) =>
      val hit =
        if (vs.isEmpty) map_contains_key(tags, lit(k))
        else coalesce(try_element_at(tags, lit(k)).isin(vs.map(v => v: Any): _*), lit(false))
      acc || hit
    }

  private def cascadePredicate(q: OsmQuery, tags: Column): Column = {
    val kps = q.keep.map(cascadeMatch(tags, _)).getOrElse(lit(false))
    val exs = q.exclude.map(cascadeMatch(tags, _)).getOrElse(lit(false))
    val noTagval = q.mustTags.isEmpty && q.keep.isEmpty && q.exclude.isEmpty
    val body =
      if (noTagval) lit(!q.keepFirst)
      else if (q.keepFirst) kps && !exs
      else !exs || kps
    val must =
      if (q.mustTags.isEmpty) lit(true)
      else arrays_overlap(map_keys(tags), array(q.mustTags.map(lit): _*))
    must && body
  }

  private def cascadeIsArea(tags: Column, refs: Column): Column = {
    val closed = element_at(refs, 1) === element_at(refs, -1)
    val areaNo = coalesce(try_element_at(tags, lit("area")) === "no", lit(false))
    val isAreaPair = cascadeMatch(tags, WayIsArea.IsArea)
    val notAreaPair = cascadeMatch(tags, WayIsArea.NotArea)
    val anyKey = arrays_overlap(map_keys(tags), array(WayIsArea.IsAreaKeyAnyValue.map(lit): _*))
    size(refs) >= 4 && closed && !areaNo && (isAreaPair || (!notAreaPair && anyKey))
  }

  // --- generators ---

  private val areaKeys = (WayIsArea.NotArea.keySet ++ WayIsArea.IsArea.keySet ++
    WayIsArea.IsAreaKeyAnyValue).toSeq.sorted
  private val areaValues = (WayIsArea.NotArea.values.flatten ++
    WayIsArea.IsArea.values.flatten).toSeq.distinct.sorted
  private val noiseKeys = Seq("area", "name", "shop", "highway", "service", "x")
  private val noiseValues = Seq("yes", "no", "residential", "cafe", "")

  private def tagsGen(keys: Seq[String], values: Seq[String]): Gen[Seq[(String, String)]] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.oneOf(keys), Gen.oneOf(values))))

  private val refsGen: Gen[Seq[Long]] = for {
    n <- Gen.choose(0, 6)
    refs <- Gen.listOfN(n, Gen.choose(1L, 4L))
    closed <- Gen.oneOf(false, true)
  } yield if (closed && n >= 2) refs.init :+ refs.head else refs

  private def waysGen(tags: Gen[Seq[(String, String)]]): Gen[Seq[(Seq[(String, String)], Seq[Long])]] =
    Gen.listOfN(40, Gen.zip(tags, refsGen))

  private val tableKeys = Seq("highway", "building", "amenity", "area", "service")
  private val tableValues = Seq("yes", "no", "residential", "cafe")
  private val tableGen: Gen[Map[String, Seq[String]]] = for {
    n <- Gen.choose(1, 4)
    keys <- Gen.pick(n, tableKeys)
    values <- Gen.listOfN(n, Gen.choose(0, 2).flatMap(m => Gen.pick(m, tableValues)))
  } yield keys.zip(values.map(_.toSeq)).toMap

  private val queryGen: Gen[OsmQuery] = for {
    keep <- Gen.option(tableGen)
    exclude <- Gen.option(tableGen)
    keepFirst <- Gen.oneOf(false, true)
    must <- Gen.oneOf(Nil, Seq("highway"), Seq("amenity", "shop"))
    if !(keepFirst && keep.isEmpty && exclude.nonEmpty) &&
      !(!keepFirst && exclude.isEmpty && keep.nonEmpty)
  } yield OsmQuery(ways = true, mustTags = must, keep = keep, exclude = exclude,
    keepFirst = keepFirst)

  // --- evaluation ---

  private def extract(ways: Seq[(Seq[(String, String)], Seq[Long])]): DataFrame = {
    val f = java.io.File.createTempFile("tagkernel", ".osm.pbf")
    f.deleteOnExit()
    OsmPbfWriter.write(f.getAbsolutePath, Seq(ways.zipWithIndex.map { case ((tags, refs), i) =>
      OsmPbfWriter.W(i + 1L, refs, tags)
    }))
    spark.read.format("osmpbf").load(f.getAbsolutePath)
  }

  private val interpreted = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** (path, column, oracle, kernel) per row and compared pair, on the
    * codegen path and then on the interpreted one. */
  private def outcomes(df: DataFrame, compared: Seq[(String, Column, Column)])
      : Seq[(String, String, Boolean, Boolean)] = {
    def read(path: String) = {
      val sel = df.select(compared.flatMap { case (_, o, k) => Seq(o, k) }: _*)
      val codegen = sel.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(codegen == (path == "codegen"), sel.queryExecution.executedPlan)
      sel.collect().toSeq.flatMap(r => compared.indices.map(i =>
        (path, compared(i)._1, r.getBoolean(2 * i), r.getBoolean(2 * i + 1))))
    }
    val generated = read("codegen")
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try generated ++ read("interpreted")
    finally interpreted.keys.foreach(spark.conf.unset)
  }

  private def agree(got: Seq[(String, String, Boolean, Boolean)], context: String): Prop =
    Prop(got.forall(p => p._3 == p._4)) :| (context +: got.filter(p => p._3 != p._4)).mkString("\n")

  private def check(prop: Prop, runs: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(runs), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: WayIsArea equals the former Column cascade, codegen and interpreted") {
    var seen = Set.empty[Boolean]
    val prop = Prop.forAll(waysGen(tagsGen(areaKeys ++ noiseKeys, areaValues ++ noiseValues))) { ways =>
      val got = outcomes(extract(ways), Seq(("isArea",
        cascadeIsArea(col("tags"), col("refs")), OsmQueryExec.wayIsArea(col("tags"), col("refs")))))
      seen ++= got.map(_._3)
      agree(got, "")
    }
    check(prop, 20)
    assert(seen == Set(false, true), "the generated ways never exercised both outcomes")
  }

  test("property: keep, exclude and tagPredicate kernels equal the former cascades") {
    var seen = Set.empty[(String, Boolean)]
    val tags = tagsGen(tableKeys ++ noiseKeys, tableValues ++ noiseValues)
    val prop = Prop.forAll(queryGen, waysGen(tags)) { (q, ways) =>
      def table(name: String, spec: Option[Map[String, Seq[String]]]) = spec.toSeq.map(t =>
        (name, cascadeMatch(col("tags"), t), OsmQueryExec.tagMatch(col("tags"), t)))
      val got = outcomes(extract(ways), table("keep", q.keep) ++ table("exclude", q.exclude) :+
        (("predicate", cascadePredicate(q, col("tags")), OsmQueryExec.tagPredicate(q, col("tags")))))
      seen ++= got.map(p => (p._2, p._3))
      agree(got, q.toString)
    }
    check(prop, 30)
    for (name <- Seq("keep", "exclude", "predicate"); outcome <- Seq(false, true))
      assert(seen((name, outcome)), s"the generated queries never made $name $outcome")
  }
}
