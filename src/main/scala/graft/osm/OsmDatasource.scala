package graft.osm

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.text.Normalizer
import scala.concurrent.{ExecutionContext, Future}
import scala.util.Try

/** Driver-side extract acquisition utility — the Spark counterpart of
  * the reference's async downloader (reference
  * datasource/OSMdatasource.py:8-71, datasource/datasource.py:33-131):
  * place name → extract URL via the Geofabrik JSON index ∪ BBBike CSV,
  * parallel download with an alternate-URL fallback. Not a Spark
  * operator (SURVEY §2.1 S12) — plain JDK HTTP + Futures.
  *
  * `fetch` is injectable so index parsing and download logic are
  * testable without network access (and so callers can add auth,
  * retries or a proxy).
  */
class OsmDatasource(
    fetch: String => Array[Byte] = OsmDatasource.httpFetch,
    geofabrikIndexUrl: String = OsmDatasource.GeofabrikIndex,
    bbbikeCsvUrl: String = OsmDatasource.BbbikeIndex) {

  /** name (normalized) → candidate URLs, Geofabrik first. One source
    * failing is survivable (warned, the other still serves); BOTH
    * failing surfaces the underlying error instead of an empty index
    * that would misreport every place as unknown. */
  lazy val index: Map[String, Seq[String]] = {
    val geoT = Try(parseGeofabrik(new String(fetch(geofabrikIndexUrl), "UTF-8")))
    val bbT = Try(parseBbbike(new String(fetch(bbbikeCsvUrl), "UTF-8")))
    (geoT, bbT) match {
      case (scala.util.Failure(e1), scala.util.Failure(_)) =>
        throw new IllegalStateException("could not fetch any extract index", e1)
      case _ =>
        Seq(geoT, bbT).collect { case scala.util.Failure(e) =>
          System.err.println(s"[OsmDatasource] index source failed: ${e.getMessage}")
        }
        val geo = geoT.getOrElse(Map.empty[String, Seq[String]])
        val bb = bbT.getOrElse(Map.empty[String, Seq[String]])
        (geo.keySet ++ bb.keySet).map { k =>
          k -> (geo.getOrElse(k, Nil) ++ bb.getOrElse(k, Nil))
        }.toMap
    }
  }

  def places: Seq[String] = index.keys.toSeq.sorted

  /** Download extracts for the given place names into `dir`; tries each
    * candidate URL in order (reference datasource.py:33-50 fallback).
    * Places normalizing to the same key share ONE download (never two
    * concurrent writers on one file). Returns place → written file. */
  def download(dir: String, places: Seq[String],
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration.Inf)(
      implicit ec: ExecutionContext = ExecutionContext.global): Map[String, Path] = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val byKey = places.map(p => OsmDatasource.normalizeName(p) -> p)
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val futures = byKey.toSeq.map { case (key, ps) =>
      val urls = index.getOrElse(key,
        throw new NoSuchElementException(s"unknown place '${ps.head}'"))
      Future {
        val bytes = urls.view.map(u => Try(fetch(u))).collectFirst {
          case scala.util.Success(b) => b
        }.getOrElse(throw new RuntimeException(s"all URLs failed for '${ps.head}'"))
        val out = d.resolve(s"$key.osm.pbf")
        Files.write(out, bytes)
        ps.map(_ -> out)
      }
    }
    scala.concurrent.Await.result(Future.sequence(futures), timeout)
      .flatten.toMap
  }

  /** Geofabrik index.json: features[].properties.{name, urls.pbf}
    * (reference OSMdatasource.py:36-47) — minimal JSON field scrape,
    * no JSON library on the driver classpath needed. */
  private[osm] def parseGeofabrik(json: String): Map[String, Seq[String]] = {
    val entry = """"name"\s*:\s*"([^"]+)"|"pbf"\s*:\s*"([^"]+)"""".r
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var currentName: Option[String] = None
    entry.findAllMatchIn(json).foreach { m =>
      if (m.group(1) != null) currentName = Some(m.group(1))
      else currentName.foreach { n => pairs += ((OsmDatasource.normalizeName(n), m.group(2))) }
    }
    pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct.toSeq }
  }

  /** BBBike CSV: one city per line (reference OSMdatasource.py:49-57). */
  private[osm] def parseBbbike(csv: String,
      urlPattern: String = OsmDatasource.BbbikeUrlPattern): Map[String, Seq[String]] =
    csv.linesIterator
      .map(_.trim.split("[,;\t]")(0).trim)
      .filter(_.nonEmpty)
      .map(city => OsmDatasource.normalizeName(city) ->
        Seq(urlPattern.replace("{city}", city)))
      .toMap
}

object OsmDatasource {
  val GeofabrikIndex = "https://download.geofabrik.de/index-v1.json"
  val BbbikeIndex = "https://download.bbbike.org/osm/bbbike/cities.txt"
  val BbbikeUrlPattern = "https://download.bbbike.org/osm/bbbike/{city}/{city}.osm.pbf"

  /** upper + NFC + apostrophe strip (reference datasource.py:184-191).
    * Locale.ROOT: the default locale's casing (e.g. Turkish dotted İ)
    * must not change which index keys match. */
  def normalizeName(s: String): String =
    Normalizer.normalize(s.toUpperCase(java.util.Locale.ROOT), Normalizer.Form.NFC)
      .replace("'", "").replace("’", "")

  def httpFetch(url: String): Array[Byte] = {
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL).build()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    require(resp.statusCode() / 100 == 2, s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }
}

/** Convenience handle over one pbf file — the `OSM` object surface
  * (reference osmdata.py:41-90: info(), geometry(), coords()).
  *
  * With `cache = true` the decoded element table is persisted and every
  * query derives from it — the Spark analogue of the reference's
  * one-scan cache model (decode once, query many times in
  * milliseconds-to-seconds instead of re-scanning). */
class OsmFile(spark: org.apache.spark.sql.SparkSession, path: String,
    cache: Boolean = false) {
  import org.apache.spark.sql.functions._

  lazy val elements: org.apache.spark.sql.DataFrame = {
    // the osmpbf source reads a directory of adjacent extracts with each
    // element once, so this is the same table the query operators see
    val df = spark.read.format("osmpbf").load(path)
    if (cache) df.persist() else df
  }

  def unpersist(): Unit = if (cache) elements.unpersist()

  /** cache stats analogue: blob count + element counts per type. */
  def info(): Map[String, Long] = {
    val blobs = graft.pbf.OsmPbfFile.indexAll(path).size.toLong
    val counts = elements.groupBy("type").count().collect()
      .map(r => r.getByte(0) -> r.getLong(1)).toMap
    Map(
      "blobs" -> blobs,
      "nodes" -> counts.getOrElse(0, 0L),
      "ways" -> counts.getOrElse(1, 0L),
      "relations" -> counts.getOrElse(2, 0L))
  }

  /** full node coordinate table (reference osmdata.py:75-79). */
  def geometry(): org.apache.spark.sql.DataFrame =
    elements.filter(col("type") === 0)
      .select(col("id").as("nid"), col("lon"), col("lat"))

  /** coordinates of specific node ids (reference osmdata.py:81-84). */
  def coords(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    geometry().filter(col("nid").isin(ids.map(i => i: Any): _*))

  /** queries run against the (possibly persisted) element table. */
  def query(q: OsmQuery): org.apache.spark.sql.DataFrame =
    OsmQueryExec.run(spark, elements, q)

  /** query with the dynamic tag pivot (keys resolved at action time;
    * reference _frame.py:59-68) over the cached element table. */
  def queryPivoted(q: OsmQuery): org.apache.spark.sql.DataFrame =
    OsmQueryExec.pivotTags(query(q.copy(tags = None)))
}
