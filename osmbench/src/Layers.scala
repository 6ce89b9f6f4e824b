package osmbench

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.osm.OsmFile
import graft.pbf.{BlockDecoder, DecodeNeeds, OsmPbfFile}
import graft.sources.OsmPbfPartition

/** The traced run's per-layer measurements: each layer is timed from
  * outside, through its public entry points, and Spark's share comes
  * from the [[Tracer]]'s listener spans. */
final class Layers(spark: SparkSession, tracer: Tracer, w: Workload, access: Main.Access,
    expected: Expected, expectedBlobs: Long, aliases: Aliases) {
  import Main.{median, sec}

  private val values = mutable.LinkedHashMap.empty[String, Double]

  private def timedSpan[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    (r, sec(t0))
  }

  /** Every default query at least once, so each `<q>.*` metric exists on
    * every workload, and the geometry-off variants that separate
    * selection from geometry assembly. */
  def extraQueries(timed: (String, String) => Double): Unit = {
    Main.AllQueries.filterNot(w.queries.contains).foreach(q => timed("query:" + q, q))
    Seq("pois", "highways", "buildings").foreach { q =>
      val (_, t) = timedSpan("selection:" + q)(access.run(q, geometry = false))
      values(s"$q.selection_s") = t
    }
    values("topology.selection_s") = values("highways.selection_s")
  }

  /** Full-row and scalar-column scans of the raw source, and the same
    * scalar scan through the element table the queries see (which adds
    * the border dedup on region files). Each is run twice; the second,
    * warm run is kept. */
  def scanLayer(): Unit = {
    val raw = spark.read.format("osmpbf").load(access.path)
    val elements = new OsmFile(spark, access.path).elements
    def rowScan() = raw.agg(count(lit(1)), sum(size(col("tags"))), sum(size(col("refs"))),
      sum(size(col("members")))).head()
    def scalarScan(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)), sum(col("lat")),
      sum(col("lon")), sum(col("version")), max(col("timestamp")), sum(col("changeset"))).head().getLong(0)
    rowScan(); scalarScan(raw); scalarScan(elements)
    values("scan_row_s") = timedSpan("scan_row")(rowScan())._2
    val (rawRows, tRaw) = timedSpan("scan_columnar")(scalarScan(raw))
    val (rows, tDedup) = timedSpan("dedup_scan")(scalarScan(elements))
    values("scan_columnar_s") = tRaw
    values("dedup_s") = tDedup - tRaw
    values("border_rows") = (rawRows - rows).toDouble
  }

  /** The persisted element table (`OsmFile(cache = true)`) built on a
    * fresh path, with every default query then read through it once by
    * `run`, which checks the results like any other. */
  def cacheLayer(run: (String, Main.Access) => Double): Map[String, Double] = {
    val path = aliases.next()
    Main.setup(spark, tracer, path, cached = false)
    // only RDDs persisted by this build count: checkpoint blocks of
    // earlier queries may be freed meanwhile
    val before = storageBytes().keySet
    val (f, m) = Main.setup(spark, tracer, path, cached = true)
    val bytes = storageBytes().collect { case (id, b) if !before(id) => b }.sum
    if (m("cached_rows") != expected.elements)
      throw new IllegalStateException(s"cache holds ${m("cached_rows")} rows, model has ${expected.elements}")
    val cached = new Main.Access(spark, path, f, cached = true, expectedBlobs)
    Main.AllQueries.foreach(q => run(q, cached))
    f.elements.unpersist(blocking = true)
    Map("cache_build_s" -> m("cache"), "cache_mb" -> bytes / 1e6)
  }

  /** Bytes Spark's block manager holds, per persisted RDD id. */
  private def storageBytes(): Map[Int, Long] =
    spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap

  /** Framing index, inflate and the three block decoders, single
    * threaded over the workload's blobs, with no Spark involved. */
  def sweep(): Map[String, Double] = {
    val path = aliases.next()
    val (blobs, indexS) = timedSpan("sweep:index")(OsmPbfFile.indexAll(path))
    val raw = blobs.map { b =>
      val f = new RandomAccessFile(new org.apache.hadoop.fs.Path(b.path).toUri.getPath, "r")
      try {
        val buf = new Array[Byte](b.dataLen)
        f.seek(b.dataOffset)
        f.readFully(buf)
        buf
      } finally f.close()
    }
    val all = Array(true, true, true)
    val scalars = DecodeNeeds(tags = false, refs = false, members = false, info = true, coords = true)
    val must = Array("amenity")
    // warm the decoders on a few blobs of each kind before timing
    (raw.take(8) ++ raw.takeRight(8)).foreach { r =>
      val b = OsmPbfFile.decodeBlob(r)
      BlockDecoder.decode(b, all, DecodeNeeds.all).size
      BlockDecoder.decodeScalars(b, all, scalars, null, null)
      BlockDecoder.decode(b, all, DecodeNeeds.all, must).size
    }
    val (blocks, inflateS) = timedSpan("sweep:inflate")(raw.map(OsmPbfFile.decodeBlob))
    val (elems, rowS) = timedSpan("sweep:decode_row")(
      blocks.map(b => BlockDecoder.decode(b, all, DecodeNeeds.all).size.toLong).sum)
    val (_, scalarS) = timedSpan("sweep:decode_scalar")(
      blocks.map(b => BlockDecoder.decodeScalars(b, all, scalars, null, null).n.toLong).sum)
    val (_, mustS) = timedSpan("sweep:decode_musttag")(
      blocks.map(b => BlockDecoder.decode(b, all, DecodeNeeds.all, must).size.toLong).sum)
    val inflatedMb = blocks.map(_.length.toLong).sum / 1e6
    Map(
      "index_s" -> indexS,
      "index_blobs" -> blobs.size.toDouble,
      "inflate_s" -> inflateS,
      "compressed_mb" -> raw.map(_.length.toLong).sum / 1e6,
      "inflated_mb" -> inflatedMb,
      "inflate_mb_per_s" -> inflatedMb / inflateS,
      "decode_row_elems_per_s" -> elems / rowS,
      "decode_scalar_elems_per_s" -> elems / scalarS,
      "decode_musttag_elems_per_s" -> elems / mustS)
  }

  private lazy val spans = tracer.allSpans()
  private lazy val children = spans.groupBy(_.parent)

  private def jobsUnder(s: Span): Seq[Span] = children.getOrElse(s.id, Nil).flatMap { c =>
    if (c.name.startsWith("job:")) Seq(c) else if (c.name.startsWith("stage:")) Nil else jobsUnder(c)
  }
  private def stagesUnder(s: Span): Seq[Span] =
    jobsUnder(s).flatMap(j => children.getOrElse(j.id, Nil))

  private val StageCounterNames = Seq("tasks", "shuffle_write_mb", "shuffle_read_mb",
    "executor_cpu_s", "gc_s", "scheduler_delay_s", "spill_mb")

  /** Per-query metrics: medians over the query's traced executions. */
  def metrics(perQuery: Map[String, Seq[Double]]): Map[String, Double] = {
    val plans = tracer.seenPlans()
    val out = mutable.LinkedHashMap.empty[String, Double]
    Main.AllQueries.foreach { q =>
      val qs = spans.filter(_.name == s"query:$q")
      def med(f: Span => Double): Double = median(qs.map(f))
      def scansIn(s: Span) = plans.collect {
        case (p, t) if t >= s.start && t <= s.end => p
      }.flatMap(_.scans).filter(rows(_) > 0)
      out(s"${q}_s") = perQuery.get(q).map(median).getOrElse(med(s => (s.end - s.start) / 1e3))
      out(s"$q.jobs") = med(s => jobsUnder(s).size)
      out(s"$q.stages") = med(s => stagesUnder(s).size)
      StageCounterNames.foreach { c =>
        out(s"$q.$c") = med(s => stagesUnder(s).map(_.counters.getOrElse(c, 0.0)).sum)
      }
      out(s"$q.scans") = med(s => scansIn(s).size)
      out(s"$q.scan_rows") = med(s => scansIn(s).map(rows).sum.toDouble)
      out(s"$q.blob_inflates") = med(s => scansIn(s).map(blobCount).sum.toDouble)
      out(s"$q.inflates_per_blob") = out(s"$q.blob_inflates") / expectedBlobs
      out(s"$q.broadcast_joins") = med(s => plans.collect {
        case (p, t) if t >= s.start && t <= s.end => p.broadcastJoins
      }.sum)
    }
    out ++= values
    out("highways.geometry_build_s") = out("highways_s") - out("highways.selection_s")
    out("buildings.geometry_build_s") = out("buildings_s") - out("buildings.selection_s")
    out("topology.topology_build_s") = out("topology_s") - out("topology.selection_s")
    // result rows per row the scans emitted; 0 when the query read no
    // scan (a persisted table)
    out("pois.musttag_yield") =
      if (out("pois.scan_rows") > 0) expected.pois / out("pois.scan_rows") else 0.0
    def shuffleWrite(name: String) = spans.filter(_.name == name)
      .map(s => stagesUnder(s).map(_.counters.getOrElse("shuffle_write_mb", 0.0)).sum).sum
    out("border_shuffle_mb") = shuffleWrite("dedup_scan") - shuffleWrite("scan_columnar")
    out.toMap
  }

  private def rows(b: BatchScanExec): Long =
    b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  private def blobCount(b: BatchScanExec): Int =
    b.inputPartitions.collect { case p: OsmPbfPartition => p.blobs.length }.sum

  /** Spans as JSON lines, then one accounting line per traced query:
    * wall time against the time Spark jobs cover and the Spark driver's own
    * share (planning and the eager checkpoint counts between jobs). */
  def writeTrace(dir: File, workload: String, seed: Long): Unit = {
    dir.mkdirs()
    val self = tracer.selfTimes(spans)
    val lines = spans.map { s =>
      val counters = s.counters.map { case (k, v) => s""", "$k": ${Json.num(v)}""" }.mkString
      s"""{"run": "${tracer.runId}", "id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, "self_ms": ${Json.num(self(s.id))}$counters}"""
    } ++ spans.filter(s => s.name.startsWith("query:") || s.name.startsWith("first:")).map { s =>
      val wall = s.end - s.start
      val jobs = jobsUnder(s)
      val jobMs = wall - tracer.selfTimes(s +: jobs)(s.id)
      s"""{"run": "${tracer.runId}", "accounting": ${Json.str(s.name)}, "span": ${s.id}, "wall_ms": ${Json.num(wall)}, """ +
        s""""spark_jobs_ms": ${Json.num(jobMs)}, "driver_self_ms": ${Json.num(wall - jobMs)}, """ +
        s""""stage_ms": ${Json.num(stagesUnder(s).map(st => st.end - st.start).sum)}}"""
    }
    Files.write(new File(dir, s"$workload-s$seed-${tracer.runId}.jsonl").toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
