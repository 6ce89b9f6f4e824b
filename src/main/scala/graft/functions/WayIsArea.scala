package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, MapType, StringType}

/** The way line/area heuristic (SURVEY §2.7 R7; reference
  * primitives.py:260-285 `_way_geotype`, intended semantics — the
  * reference's `_is_area` has dead branches from `if not <set>`
  * confusion): a way is an area when it has at least 4 refs, its ring
  * is closed and it is not tagged `area=no`, and then it carries an
  * IS_AREA pair, or else no NOT_AREA pair and an IS_AREA_KEY key.
  *
  * A native codegen'd expression over [[TagTable]]s, like [[WayWkb]]:
  * one static call per row instead of a cascade of ~50 map lookups
  * fused into the stage's generated method. */
case class WayIsArea(tags: Expression, refs: Expression) extends BinaryExpression {

  override def left: Expression = tags
  override def right: Expression = refs
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (tags.dataType, refs.dataType) match {
      case (MapType(StringType, StringType, _), ArrayType(LongType, _)) => TypeCheckSuccess
      case (t, r) => TypeCheckFailure(
        s"way_is_area requires (map<string, string>, array<bigint>), got ($t, $r)")
    }
  }

  override def nullSafeEval(t: Any, r: Any): Any =
    WayIsArea.isArea(t.asInstanceOf[MapData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, r) => s"graft.functions.WayIsArea.isArea($t, $r)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): WayIsArea = copy(tags = newLeft, refs = newRight)

  override def prettyName: String = "way_is_area"
}

object WayIsArea {

  // --- area heuristic tag tables (reference defaults.py:5-62) ---
  val NotArea: Map[String, Seq[String]] = Map(
    "area:highway" -> Seq("no"),
    "aeroway" -> Seq("no", "taxiway"),
    "amenity" -> Seq("no"),
    "boundary" -> Seq("no"),
    "building:part" -> Seq("no"),
    "building" -> Seq("no"),
    "craft" -> Seq("no"),
    "golf" -> Seq("no"),
    "historic" -> Seq("no"),
    "indoor" -> Seq("no"),
    "landuse" -> Seq("no"),
    "leisure" -> Seq("no"),
    "man_made" -> Seq("no", "cutline", "embankment", "pipeline"),
    "natural" -> Seq("no", "coastline", "cliff", "ridge", "arete", "tree_row"),
    "office" -> Seq("no"),
    "place" -> Seq("no"),
    "public_transport" -> Seq("no"),
    "ruins" -> Seq("no"),
    // "shops" (not "shop") is faithful to the reference table
    // (defaults.py:24 has "shops" in NOT_AREA while defaults.py:54 has
    // "shop" in IS_AREA_KEY) — the shop=no demotion never fires there
    // either; kept for parity.
    "shops" -> Seq("no"),
    "tourism" -> Seq("no"))

  val IsArea: Map[String, Seq[String]] = Map(
    "barrier" -> Seq("city_wall", "ditch", "hedge", "retaining_wall", "wall", "spikes"),
    "highway" -> Seq("services", "rest_area", "escape", "elevator"),
    "power" -> Seq("plant", "substation", "generator", "transformer"),
    "railway" -> Seq("station", "turntable", "roundhouse", "platform"),
    "waterway" -> Seq("riverbank", "dock", "boatyard", "dam"))

  val IsAreaKeyAnyValue: Seq[String] = Seq(
    "area", "area:highway", "aeroway", "amenity", "boundary", "building",
    "building:part", "craft", "golf", "historic", "indoor", "landuse",
    "leisure", "man_made", "natural", "office", "place", "public_transport",
    "ruins", "shop", "tourism")

  private val areaNo = TagTable(Map("area" -> Seq("no")))
  private val isAreaPair = TagTable(IsArea)
  private val notAreaPair = TagTable(NotArea)
  private val isAreaKey = TagTable(IsAreaKeyAnyValue.map(_ -> Nil).toMap)

  def isArea(tags: MapData, refs: ArrayData): Boolean = {
    val n = refs.numElements()
    n >= 4 && refs.getLong(0) == refs.getLong(n - 1) && !areaNo.matches(tags) &&
      (isAreaPair.matches(tags) || (!notAreaPair.matches(tags) && isAreaKey.matches(tags)))
  }
}
