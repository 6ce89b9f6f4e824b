package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{OsmPbfCountPushdownSpec, SparkTestSession}

/** The osmpbf source's summary-driven pushdowns are optimizations
  * only. Over random generated worlds, plain and clipped, and their
  * three-file border-overlapping splits:
  *  - `count()` and `groupBy("type").count()` equal the row path's rows
  *    grouped on the client; they are pushed on the single file and
  *    not on the split, whose files share elements;
  *  - a type filter the source accepts returns the rows of one it
  *    cannot accept (`cast(type as string)`: Catalyst folds an
  *    integer cast plus 0 back into a pushable `type` predicate). */
class SourcePushdownDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def load(path: String): DataFrame = spark.read.format("osmpbf").load(path)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map(String.valueOf)
    .mkString("|")).toSeq.sorted

  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan.description() }

  /** A world and its three-file split (one duplicated blob per border). */
  private def inputs(seed: Long, clipped: Boolean): (String, String) = {
    val f = java.io.File.createTempFile("srcdiff", ".osm.pbf")
    f.deleteOnExit()
    RandomWorld.write(f.getAbsolutePath, seed, clipped)
    val dir = java.nio.file.Files.createTempDirectory("srcdiffsplit").toString
    graft.ScaleProbe.splitPbf(f.getAbsolutePath, dir, 3, 1)
    (f.getAbsolutePath, dir)
  }

  private def countsAgree(path: String, pushable: Boolean): Option[String] = {
    val truth = load(path).select("type", "id").collect()
      .groupBy(_.getByte(0)).map { case (t, rs) => t -> rs.length.toLong }
    val grouped = load(path).groupBy("type").count()
    val global = load(path).agg(count(lit(1)))
    val pushed = Seq(grouped, global).map(OsmPbfCountPushdownSpec.usesCountScan)
    val byType = grouped.collect().map(r => r.getByte(0) -> r.getLong(1)).toMap
    val total = global.collect().head.getLong(0)
    if (pushed.forall(_ == pushable) && byType == truth && total == truth.values.sum &&
      load(path).count() == total) None
    else Some(s"counts on $path: pushed=$pushed $byType / $total vs rows $truth")
  }

  private def typesAgree(path: String, types: Seq[Int]): Option[String] = {
    val accepted = load(path).filter(col("type").isin(types: _*))
    val refused = load(path).filter(col("type").cast("string").isin(types.map(_.toString): _*))
    def only(ts: Seq[Int]): String = ts.map(Seq("node", "way", "relation")).mkString("types=", ",", ", cols=")
    val planned = Seq(accepted -> only(types), refused -> only(Seq(0, 1, 2))).forall {
      case (df, want) => scans(df).nonEmpty && scans(df).forall(_.contains(want))
    }
    if (planned && rows(accepted) == rows(refused)) None
    else Some(s"types $types on $path: planned=$planned ${scans(accepted)} ${scans(refused)}")
  }

  test("property: count and type pushdowns equal unpushed scans") {
    val prop = Prop.forAll(Gen.choose(1L, 1000000L), Gen.oneOf(false, true)) { (seed, clipped) =>
      val rnd = new scala.util.Random(seed)
      val types = rnd.shuffle(Seq(0, 1, 2)).take(1 + rnd.nextInt(2)).sorted
      val (file, dir) = inputs(seed, clipped)
      val failures = Seq(countsAgree(file, pushable = true), countsAgree(dir, pushable = false),
        typesAgree(file, types), typesAgree(dir, types)).flatten
      Prop(failures.isEmpty) :| s"seed $seed clipped $clipped:\n${failures.mkString("\n")}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
