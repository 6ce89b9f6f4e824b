package graft.osm

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

class OsmDatasourceSpec extends AnyFunSuite {

  private val geofabrikJson =
    """{"features":[
      {"properties":{"name":"Marseille","urls":{"pbf":"https://x/marseille.osm.pbf"}}},
      {"properties":{"name":"Côte d'Azur","urls":{"pbf":"https://x/cote.osm.pbf"}}}
      ]}"""
  private val bbbikeCsv = "Marseille\nAachen\n"

  private def ds(content: Map[String, Array[Byte]]) = new OsmDatasource(
    fetch = url => content.getOrElse(url,
      throw new RuntimeException(s"fetch fail $url")),
    geofabrikIndexUrl = "idx.json", bbbikeCsvUrl = "cities.txt")

  private val indexContent = Map(
    "idx.json" -> geofabrikJson.getBytes("UTF-8"),
    "cities.txt" -> bbbikeCsv.getBytes("UTF-8"))

  test("index merges Geofabrik and BBBike with normalized names") {
    val d = ds(indexContent)
    assert(d.index("MARSEILLE") ===
      Seq("https://x/marseille.osm.pbf",
        "https://download.bbbike.org/osm/bbbike/Marseille/Marseille.osm.pbf"))
    // apostrophe stripped + NFC + upper
    assert(d.index.contains("CÔTE DAZUR"))
    assert(d.index("AACHEN").head.contains("Aachen"))
  }

  test("download falls back to the alternate URL") {
    val payload = "pbfbytes".getBytes("UTF-8")
    val d = ds(indexContent ++ Map(
      // Geofabrik URL missing → must fall back to BBBike mirror
      "https://download.bbbike.org/osm/bbbike/Marseille/Marseille.osm.pbf" -> payload))
    val tmp = java.nio.file.Files.createTempDirectory("dl").toString
    val got = d.download(tmp, Seq("Marseille"))
    assert(java.nio.file.Files.readAllBytes(got("Marseille")).toSeq === payload.toSeq)
  }

  test("name normalization matches reference semantics") {
    assert(OsmDatasource.normalizeName("Côte d'Azur") === "CÔTE DAZUR")
    assert(OsmDatasource.normalizeName("l’Aquila") === "LAQUILA")
  }
}

class OsmFileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("info/geometry/coords conveniences") {
    graft.pbf.MiniWorld.generate()
    val f = new OsmFile(spark, graft.pbf.MiniWorld.path)
    val info = f.info()
    assert(info("blobs") === 3 && info("nodes") === 20 &&
      info("ways") === 9 && info("relations") === 3)
    assert(f.geometry().count() === 20)
    val c = f.coords(Seq(1L)).collect().head
    assert(math.abs(c.getAs[Double]("lat") - 43.5) < 1e-6)
  }

  test("cached OsmFile answers queries from the persisted element table") {
    graft.pbf.MiniWorld.generate()
    val cached = new OsmFile(spark, graft.pbf.MiniWorld.path, cache = true)
    try {
      val viaCache = cached.query(OsmQuery.buildings.copy(geometry = true))
        .orderBy("osmid").collect().map(_.getAs[Long]("osmid")).toSeq
      val direct = OsmQuery.buildings.copy(geometry = true)
        .run(spark, graft.pbf.MiniWorld.path)
        .orderBy("osmid").collect().map(_.getAs[Long]("osmid")).toSeq
      assert(viaCache === direct && viaCache.nonEmpty)
      assert(cached.elements.storageLevel.useMemory)
    } finally cached.unpersist()
  }
}

class Fnv64Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("native fnv64 expression matches the reference implementation and runs codegen'd") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.Fnv64.register(spark)
    val df = Seq("", "a", "hello world", "graft").toDF("s")
      .withColumn("h", expr("fnv64(s)"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def fnvRef(s: String): Long = graft.functions.Fnv64.hash(s.getBytes("UTF-8"))
    assert(got("") === 0xcbf29ce484222325L)
    got.foreach { case (s, h) => assert(h === fnvRef(s), s"fnv64('$s')") }
  }
}

class SessionizeStreamSpec extends AnyFunSuite {
  import graft.streaming.EventsStream
  private lazy val spark = SparkTestSession.spark

  test("flatMapGroupsWithState sessionization matches the batch window form") {
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val expected = EventsStream.sessionize(batch)
      .orderBy("user_id", "event_id").collect().toSeq

    val streamDir = java.nio.file.Files.createTempDirectory("sessstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val sin = spark.readStream.schema(batch.schema).parquet(streamDir.toString)
    val q = EventsStream.sessionizeStream(spark, sin)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .orderBy("user_id", "event_id").collect().toSeq
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }
}
