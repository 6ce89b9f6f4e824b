package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{BooleanType, DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A `key → values` tag table, tested against a `map<string, string>`
  * in one pass over the map with lookups hashed on `UTF8String`.
  *
  * The map matches when one of the table's keys matches:
  *  - a key with an empty value list matches on any occurrence of the
  *    key, as `map_contains_key` and `map_keys` do;
  *  - a key with values matches when the value of its FIRST occurrence
  *    is one of them, as `try_element_at` reads a map with duplicate
  *    keys. */
final case class TagTable(spec: Map[String, Seq[String]]) {

  // key → accepted values; an empty set accepts any value
  @transient private lazy val index: java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]] = {
    val m = new java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]]()
    spec.foreach { case (k, vs) =>
      val set = new java.util.HashSet[UTF8String]()
      vs.foreach(v => set.add(UTF8String.fromString(v)))
      m.put(UTF8String.fromString(k), set)
    }
    m
  }

  def matches(tags: MapData): Boolean = {
    val keys = tags.keyArray()
    val values = tags.valueArray()
    val n = tags.numElements()
    var i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      val accepted = index.get(k)
      if (accepted != null && (accepted.isEmpty ||
          (!values.isNullAt(i) && accepted.contains(values.getUTF8String(i)) &&
            firstOccurrence(keys, k, i)))) return true
      i += 1
    }
    false
  }

  private def firstOccurrence(keys: ArrayData, k: UTF8String, at: Int): Boolean = {
    var j = 0
    while (j < at && keys.getUTF8String(j) != k) j += 1
    j == at
  }

  override def toString: String = spec.toSeq.sortBy(_._1).map { case (k, vs) =>
    if (vs.isEmpty) s"$k=*" else vs.mkString(s"$k=", "|", "")
  }.mkString("{", ", ", "}")
}

/** Whether `tags` matches a [[TagTable]] — a native codegen'd
  * expression: each use generates one call into the table instead of
  * one map lookup per table entry, so the stage's generated method
  * stays small. */
case class TagMatch(tags: Expression, table: TagTable) extends UnaryExpression {

  override def child: Expression = tags
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    tags.dataType match {
      case MapType(StringType, StringType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(s"tag_match requires map<string, string>, got $other")
    }
  }

  override def nullSafeEval(t: Any): Any = table.matches(t.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("tagTable", table)
    defineCodeGen(ctx, ev, m => s"$t.matches($m)")
  }

  override protected def withNewChildInternal(newChild: Expression): TagMatch =
    copy(tags = newChild)

  override def prettyName: String = "tag_match"
}
