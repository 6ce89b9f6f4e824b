package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType}

/** WKB of one way from its assembled coordinate sequences — a
  * `LineString`, or a one-ring `Polygon` when `area` is true (the ring
  * is closed by repeating its first vertex if needed). Positions whose
  * node is missing from the extract carry NaN and are skipped; a way
  * with no present vertex has no geometry (null). A native codegen'd
  * expression like [[PointWkb]], so the per-way WKB build stays inside
  * whole-stage codegen.
  *
  * Byte layout identical to graft.geom.Wkb.lineString / polygon. */
case class WayWkb(xs: Expression, ys: Expression, area: Expression) extends TernaryExpression {

  override def first: Expression = xs
  override def second: Expression = ys
  override def third: Expression = area

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    def doubles(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (doubles(xs) && doubles(ys) && area.dataType == BooleanType) TypeCheckSuccess
    else TypeCheckFailure(
      s"way_wkb requires (array<double>, array<double>, boolean), got " +
        s"(${xs.dataType}, ${ys.dataType}, ${area.dataType})")
  }

  override def nullSafeEval(x: Any, y: Any, a: Any): Any =
    WayWkb.pack(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData], a.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, a) =>
      s"""${ev.value} = graft.functions.WayWkb.pack($x, $y, $a);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): WayWkb =
    copy(xs = newFirst, ys = newSecond, area = newThird)

  override def prettyName: String = "way_wkb"
}

object WayWkb {
  def pack(xs: ArrayData, ys: ArrayData, area: Boolean): Array[Byte] = {
    val n = xs.numElements()
    var present = 0
    var first = -1
    var last = -1
    var i = 0
    while (i < n) {
      if (!xs.getDouble(i).isNaN) {
        present += 1
        if (first < 0) first = i
        last = i
      }
      i += 1
    }
    if (present == 0) return null
    val close = area &&
      !(xs.getDouble(first) == xs.getDouble(last) && ys.getDouble(first) == ys.getDouble(last))
    val points = present + (if (close) 1 else 0)
    val header = if (area) 13 else 9
    val b = java.nio.ByteBuffer.allocate(header + 16 * points)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte)
    if (area) b.putInt(3).putInt(1) else b.putInt(2)
    b.putInt(points)
    i = 0
    while (i < n) {
      val x = xs.getDouble(i)
      if (!x.isNaN) b.putDouble(x).putDouble(ys.getDouble(i))
      i += 1
    }
    if (close) b.putDouble(xs.getDouble(first)).putDouble(ys.getDouble(first))
    b.array()
  }
}
