package graft.osm

/** Declarative, composable OSM query — the Spark counterpart of the
  * reference's `Query` (reference osmquery.py:8-73): osm-type selection,
  * must-tags, keep/exclude pair+key filters with `keepFirst` precedence,
  * id sets, tag projection, metadata, geometry and topology flags.
  *
  * Tag projection (reference osmquery.py:107-114 setter semantics):
  *   tags = None      → all tags (the `tags` map column is kept)
  *   tags = Some(ks)  → one result column per requested key
  *   tags = Some(Nil) → no tag columns
  *
  * `expandSuperRelations` (opt-in; default preserves parity with the
  * reference, whose super-relation expansion is a documented TODO at
  * osmdata.py:192): geometry relations whose members are themselves
  * relations are recursively flattened to their member ways, up to
  * `superRelationDepth` levels (cycle-safe by the bound). See
  * OsmQueryExec.expandMembers for ordering/role semantics.
  */
final case class OsmQuery(
    nodes: Boolean = false,
    ways: Boolean = false,
    relations: Boolean = false,
    mustTags: Seq[String] = Nil,
    keep: Option[Map[String, Seq[String]]] = None,
    exclude: Option[Map[String, Seq[String]]] = None,
    keepFirst: Boolean = true,
    tags: Option[Seq[String]] = None,
    nodeIds: Option[Seq[Long]] = None,
    wayIds: Option[Seq[Long]] = None,
    relationType: Option[Seq[String]] = None,
    metadata: Boolean = false,
    geometry: Boolean = false,
    topology: Boolean = false,
    expandSuperRelations: Boolean = false,
    superRelationDepth: Int = 3) {

  // validation mirroring reference osmquery.py:148-160
  require(!topology || (geometry && ways),
    "topology = true must be associated with geometry = true and ways = true")
  require(superRelationDepth >= 1 && superRelationDepth <= 8,
    s"superRelationDepth must be in [1, 8], got $superRelationDepth")
  require(!(keepFirst && keep.isEmpty && exclude.nonEmpty),
    "keep cannot be None if keepFirst is true and exclude is set")
  require(!(!keepFirst && exclude.isEmpty && keep.nonEmpty),
    "exclude cannot be None if keepFirst is false and keep is set")

  // composition (reference osmquery.py:165-209; appendRelationType
  // implements the documented intent — the reference assigns
  // `list.extend`'s None return, quirk Q4 in SURVEY §7.3)
  def appendTags(ts: Seq[String]): OsmQuery =
    copy(tags = Some((tags.getOrElse(Nil) ++ ts).distinct))
  def appendMustTags(ts: Seq[String]): OsmQuery =
    copy(mustTags = (mustTags ++ ts).distinct)
  def appendKeep(m: Map[String, Seq[String]]): OsmQuery =
    copy(keep = Some(merge(keep.getOrElse(Map.empty), m)))
  def appendExclude(m: Map[String, Seq[String]]): OsmQuery =
    copy(exclude = Some(merge(exclude.getOrElse(Map.empty), m)))
  def appendRelationType(ts: Seq[String]): OsmQuery =
    copy(relationType = Some((relationType.getOrElse(Nil) ++ ts).distinct))
  def appendNodeIds(ids: Seq[Long]): OsmQuery =
    copy(nodeIds = Some((nodeIds.getOrElse(Nil) ++ ids).distinct))
  def appendWayIds(ids: Seq[Long]): OsmQuery =
    copy(wayIds = Some((wayIds.getOrElse(Nil) ++ ids).distinct))

  private def merge(a: Map[String, Seq[String]], b: Map[String, Seq[String]]) =
    (a.keySet ++ b.keySet).map { k =>
      val va = a.getOrElse(k, Nil)
      val vb = b.getOrElse(k, Nil)
      // an empty list means "any value" — merging with it stays any-value
      k -> (if ((a.contains(k) && va.isEmpty) || (b.contains(k) && vb.isEmpty)) Nil
            else (va ++ vb).distinct)
    }.toMap

  def run(spark: org.apache.spark.sql.SparkSession, path: String): org.apache.spark.sql.DataFrame =
    OsmQueryExec.run(spark, path, this)

  /** Dynamic tag pivot (reference _frame.py:59-68 unstack semantics):
    * run with the full tags map, discover the keys that actually occur
    * in the FILTERED result at action time, and project one column per
    * key (sorted) — so keys the caller did not anticipate still become
    * columns. The driver-side collect is of distinct key STRINGS of the
    * filtered selection only (bounded by the tag vocabulary, not the
    * corpus — OSM has ~10⁴ keys in active use), mirroring how the
    * reference materializes whatever keys the block decode produced.
    * Past `spark.graft.pivot.maxKeys` distinct keys, run with
    * `tags = None` instead and read `element_at(tags, 'key')`. */
  def runPivotTags(spark: org.apache.spark.sql.SparkSession, path: String): org.apache.spark.sql.DataFrame =
    OsmQueryExec.pivotTags(copy(tags = None).run(spark, path))
}

object OsmQuery {

  /** Default highway query (reference defaults.py:67-109). */
  val highways: OsmQuery = OsmQuery(
    ways = true,
    mustTags = Seq("highway"),
    keepFirst = false,
    exclude = Some(Map(
      "highway" -> Seq("abandoned", "disused", "virtual", "no", "corridor",
        "elevator", "escalator", "bus_stop", "platform"),
      "service" -> Seq("crossover", "yard", "spur", "siding", "irrigation", "slipway"),
      "area" -> Seq("yes"),
      "type" -> Seq("multipolygon"))),
    tags = Some(Seq("access", "amenity", "area", "highway", "junction", "maxspeed",
      "motorcar", "motor_vehicle", "oneway", "service", "vehicle")))

  /** Default building query (reference defaults.py:111-137). */
  val buildings: OsmQuery = OsmQuery(
    ways = true, relations = true,
    keepFirst = false,
    mustTags = Seq("building"),
    tags = Some(Seq("building", "amenity", "building:flats", "building:levels",
      "building:material", "building:max_level", "building:min_level",
      "building:fireproof", "building:use", "craft", "height", "landuse",
      "levels", "office", "operator", "shop")))

  /** Default POI query (reference defaults.py:140-206; tag list truncated
    * to the structurally distinct ones — the full list is data, not logic). */
  val pois: OsmQuery = OsmQuery(
    nodes = true, ways = true,
    keepFirst = false,
    mustTags = Seq("amenity"),
    tags = Some(Seq("amenity", "atm", "bank", "bar", "cafe", "clinic", "college",
      "fast_food", "fuel", "hospital", "landuse", "library", "office", "operator",
      "parking", "pharmacy", "police", "post_office", "pub", "restaurant",
      "school", "source", "taxi", "theatre", "university")))

  def default(name: String): OsmQuery = name match {
    case "highways" => highways
    case "buildings" => buildings
    case "pois" => pois
    case other => throw new IllegalArgumentException(
      s"Default must be highways, buildings or pois, got '$other'")
  }
}
