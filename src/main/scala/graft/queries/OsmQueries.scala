package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.osm.OsmQuery

/** The reference's user-facing query surface exercised end-to-end over
  * the committed fixture pbf (fixtures/mini.pbf). DuckDB cannot read
  * PBF, so each query's oracle ([[OsmOracle]]) runs over parquet
  * fixture tables derived from the same generator models — selection
  * and topology re-derived in SQL, geometry bytes from hand-derived
  * expectations (mirroring OsmQuerySpec's golden assertions). */
object OsmQueries {

  private val fixture = graft.pbf.MiniWorld.path

  private def ensureFixture(s: SparkSession): Unit = {
    val f = new java.io.File(fixture)
    if (!f.exists()) graft.pbf.MiniWorld.generate()
    OsmOracle.ensureMini(s)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // raw DSv2 scan: elements per type (S1-S11)
    "osm_scan_counts" -> ((s, _) => {
      ensureFixture(s)
      // grouping on a CAST keeps the COUNT(*) pushdown off: this row
      // gates the full element-decode path (S1-S11) — its pushdown
      // twin below shares the oracle
      s.read.format("osmpbf").load(fixture)
        .groupBy(col("type").cast("int").as("type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("type")
    }),

    // same counts served by the COUNT(*) aggregate pushdown (blob
    // summaries, no element decode) — both paths stay oracle-gated
    "osm_scan_counts_pushdown" -> ((s, _) => {
      ensureFixture(s)
      s.read.format("osmpbf").load(fixture)
        .groupBy(col("type"))
        .agg(count(lit(1)).as("n"))
        .select(col("type").cast("int").as("type"), col("n"))
        .orderBy("type")
    }),

    // default POI query with point geometry (F3, G1)
    "osm_pois" -> ((s, _) => {
      ensureFixture(s)
      OsmQuery.pois.copy(geometry = true).run(s, fixture)
        .select(col("osmid"), col("osmtype").cast("int").as("osmtype"), col("amenity"),
          hex(col("geometry")).as("wkb_hex"), col("geom_type"))
        .orderBy("osmid")
    }),

    // default highway query, linestrings (F4 exclude, G2)
    "osm_highways" -> ((s, _) => {
      ensureFixture(s)
      OsmQuery.highways.copy(geometry = true).run(s, fixture)
        .select(col("osmid"), col("highway"),
          hex(col("geometry")).as("wkb_hex"), col("geom_type"))
        .orderBy("osmid")
    }),

    // buildings incl. multipolygon relation assembly (G3-G8, J3/J6)
    "osm_buildings" -> ((s, _) => {
      ensureFixture(s)
      OsmQuery.buildings.copy(geometry = true).run(s, fixture)
        .select(col("osmid"), col("osmtype").cast("int").as("osmtype"), col("building"),
          hex(col("geometry")).as("wkb_hex"), col("geom_type"))
        .orderBy("osmid")
    }),

    // highway topology: source/target per junction-split segment (G10/G11)
    "osm_topology" -> ((s, _) => {
      ensureFixture(s)
      OsmQuery.highways.copy(geometry = true, topology = true).run(s, fixture)
        .select(col("osmid"), col("source"), col("target"), col("geom_type"))
        .orderBy("osmid", "source")
    }),

    // scale probes over a 2M-node / 100k-way synthetic extract (~250
    // blobs → 250 input partitions): parallel decode + POI tag filter
    "osm_big_pois" -> ((s, _) => {
      val p = graft.pbf.BigWorld.ensure(BigPath, 2000000, 100000)
      OsmOracle.ensureBig(s)
      OsmQuery.pois.copy(geometry = true).run(s, p)
        .groupBy("amenity").agg(count(lit(1)).as("n"))
        .orderBy("amenity")
    }),

    // scale probe: highway extraction + junction topology end-to-end
    "osm_big_topology" -> ((s, _) => {
      val p = graft.pbf.BigWorld.ensure(BigPath, 2000000, 100000)
      OsmOracle.ensureBig(s)
      OsmQuery.highways.copy(geometry = true, topology = true).run(s, p)
        .groupBy("geom_type").agg(count(lit(1)).as("n_segments"))
    }),

    // scale probe: the SAME topology workload over the BigWorld split
    // into two border-overlapping region files (adjacent real-world
    // extracts carry border elements verbatim in both files). Gated by
    // the IDENTICAL oracle as osm_big_topology: the osmpbf source's
    // multi-file read (each element once, from the first file holding
    // it) must make the split world's result byte-equal to the single
    // file's, and the bench row gives its shadow reads a
    // round-over-round signal (VERDICT r9 task 7;
    // ScaleProbeSplitSpec pins the same identity at mini scale, the
    // 7M three-shard form lives in ScaleProbe's mf_* phases)
    "osm_split_topology" -> ((s, _) => {
      val p = ensureSplit()
      OsmOracle.ensureBig(s)
      OsmQuery.highways.copy(geometry = true, topology = true).run(s, p)
        .groupBy("geom_type").agg(count(lit(1)).as("n_segments"))
    }),

    // scale probe: building extraction incl. multipolygon relation
    // assembly — the per-relation sequential ring-chaining path (G6)
    // under 5k relations + 10k closed ways; oracle re-derives the
    // selection in SQL and the count gates assembly success
    "osm_big_buildings" -> ((s, _) => {
      val p = graft.pbf.BigWorld.ensure(BigPath, 2000000, 100000)
      OsmOracle.ensureBig(s)
      OsmQuery.buildings.copy(geometry = true).run(s, p)
        .groupBy(col("osmtype").cast("int").as("osmtype"), col("geom_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("osmtype", "geom_type")
    })
  )

  def oracle: Map[String, String] = OsmOracle.oracle

  // _v3: building-tagged inner rings + non-building (landuse=forest)
  // multipolygons exercising both J6 suppression directions (round 8);
  // _v2 gained multipolygon relations (round 7). ensure() only checks
  // existence, so a model change MUST version the path or a stale
  // cached extract from an earlier build silently disagrees with the
  // freshly derived oracle tables
  val BigPath = "/tmp/graft_bigworld_v3.osm.pbf"

  /** Two-shard border-overlapping split of [[BigPath]] (same _v3
    * versioning rule). Idempotent: re-split only when the shards are
    * missing or older than the source extract. */
  val SplitDir = "/tmp/graft_bigworld_split_v3"

  def ensureSplit(): String = synchronized {
    val src = graft.pbf.BigWorld.ensure(BigPath, 2000000, 100000)
    val dir = new java.io.File(SplitDir)
    val shards = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".osm.pbf"))
    val srcMtime = new java.io.File(src).lastModified()
    if (shards.length != 2 || shards.exists(_.lastModified() < srcMtime))
      graft.ScaleProbe.splitPbf(src, SplitDir, 2, 2)
    SplitDir
  }
}
