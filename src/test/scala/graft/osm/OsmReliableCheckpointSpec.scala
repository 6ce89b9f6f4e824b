package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Checkpoints
import graft.sources.SparkTestSession

/** The OSM plans truncate lineage through `Checkpoints.truncate`, so
  * `spark.graft.checkpoint.reliable=true` reaches them too: the six
  * default queries then write their checkpoints to the configured
  * directory and return the same rows as with executor-local ones. */
class OsmReliableCheckpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val world: String = {
    val f = java.io.File.createTempFile("reliable", ".osm.pbf")
    f.deleteOnExit()
    RandomWorld.write(f.getAbsolutePath, seed = 11, clipped = true)
    f.getAbsolutePath
  }

  private def withReliable[T](body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_osm_reliable").toFile
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.conf.set(Checkpoints.DirConf, dir.getAbsolutePath)
    try body(dir)
    finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      spark.conf.unset(Checkpoints.DirConf)
      // the directory stays: the context cannot unset its checkpoint
      // dir, and later reliable use in this JVM may still write there
    }
  }

  private def files(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(files).sum).getOrElse(0) else 1

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  private def results(): Seq[(String, Seq[String])] = {
    val file = new OsmFile(spark, world)
    Seq(
      "info" -> Seq(file.info().toSeq.sorted.mkString(",")),
      "geometry" -> rows(file.geometry()),
      "pois" -> rows(OsmQuery.pois.copy(geometry = true).run(spark, world)),
      "highways" -> rows(OsmQuery.highways.copy(geometry = true).run(spark, world)),
      "topology" -> rows(OsmQuery.highways.copy(geometry = true, topology = true).run(spark, world)),
      "buildings" -> rows(OsmQuery.buildings.copy(geometry = true).run(spark, world)))
  }

  test("a reliable checkpoint plans as a LogicalRDD, so the coordinate join still sizes itself by the RDD count") {
    val refs = spark.read.format("osmpbf").load(world).filter(col("type") === 1)
      .select(col("id"), posexplode(col("refs")))
    withReliable { _ =>
      val truncated = Checkpoints.truncate(refs)
      truncated.queryExecution.logical match {
        case r: LogicalRDD => assert(r.rdd.count() === refs.count())
        case other => fail(s"reliable checkpoint planned as ${other.nodeName}")
      }
    }
  }

  test("the six default queries return the same rows with reliable checkpoints") {
    val local = results()
    val reliable = withReliable { dir =>
      val got = results()
      assert(files(dir) > 0, "reliable mode wrote no checkpoint files")
      got
    }
    assert(local.exists(r => r._1 == "buildings" && r._2.nonEmpty))
    assert(reliable === local)
  }
}
