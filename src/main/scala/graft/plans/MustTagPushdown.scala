package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule (SURVEY §7.2 extension point c): when a Filter above
  * an `osmpbf` relation contains a conjunct that IMPLIES "the element
  * carries some tag key ∈ K" — `arrays_overlap(map_keys(tags), …)`,
  * `map_contains_key(tags, k)`, `tags['k'] IS NOT NULL`,
  * `tags['k'] = v`, `element_at(tags,'k') …` — inject the
  * `mustTagKeys` scan option so the blob decoder drops non-matching
  * elements before string materialization and skips blobs whose string
  * table lacks every key. This rule is the only place the pushdown is
  * decided: `OsmQueryExec` states a query's must set as such a conjunct,
  * and plain DataFrame/SQL filters get it the same way.
  * The Filter itself is kept — the scan-side check is a superset
  * condition, never a replacement.
  *
  * Registered via [[graft.functions.GraftExtensions]]
  * (`injectOptimizerRule`); runs inside the operator-optimization
  * batch, before V2 scan building, so the rewritten relation options
  * reach `newScanBuilder`. Idempotent by the options-key guard.
  */
object MustTagPushdown extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, rel: DataSourceV2Relation)
        if rel.table.isInstanceOf[graft.sources.OsmPbfTable] &&
          !rel.options.containsKey("mustTagKeys") =>
      rel.output.find(_.name == "tags") match {
        case None => f
        case Some(tags) =>
          val keySets = splitConjunctivePredicates(cond)
            .flatMap(c => requiredKeys(c, tags))
          if (keySets.isEmpty) f
          else {
            // one conjunct suffices (it is a necessary condition);
            // the smallest key set is the most selective
            val best = keySets.minBy(_.size)
            val m = new java.util.HashMap[String, String](rel.options.asCaseSensitiveMap())
            m.put("mustTagKeys", best.mkString("\u0001"))
            f.copy(child = rel.copy(options = new CaseInsensitiveStringMap(m)))
          }
      }
  }

  /** Keys K such that conjunct `c` implies the element has a tag key in
    * K. Conservative: unknown shapes return None (no pushdown). Note
    * `tags` is valueContainsNull=false, so a non-null / compared value
    * implies key presence; EqualNullSafe is deliberately NOT matched
    * (it can be true for an absent key). */
  private def requiredKeys(c: Expression, tags: Attribute): Option[Seq[String]] = c match {
    case ArraysOverlap(MapKeys(t), arr) if t.semanticEquals(tags) => literalStrings(arr)
    case ArraysOverlap(arr, MapKeys(t)) if t.semanticEquals(tags) => literalStrings(arr)
    case ArrayContains(MapKeys(t), Literal(k: UTF8String, StringType))
        if t.semanticEquals(tags) => Some(Seq(k.toString))
    case IsNotNull(mv) => mapKeyOf(mv, tags).map(Seq(_))
    case EqualTo(mv, _) if mapKeyOf(mv, tags).isDefined =>
      mapKeyOf(mv, tags).map(Seq(_))
    case EqualTo(_, mv) if mapKeyOf(mv, tags).isDefined =>
      mapKeyOf(mv, tags).map(Seq(_))
    case In(mv, _) if mapKeyOf(mv, tags).isDefined => mapKeyOf(mv, tags).map(Seq(_))
    case InSet(mv, _) if mapKeyOf(mv, tags).isDefined => mapKeyOf(mv, tags).map(Seq(_))
    case _ => None
  }

  /** `tags['k']` in either its GetMapValue or ElementAt form. ElementAt
    * is only matched when failOnError=false (try_element_at / non-ANSI):
    * under ANSI mode element_at throws MAP_KEY_DOES_NOT_EXIST for
    * elements lacking the key, and the scan-side pre-filter would
    * silence that error — an observable semantics divergence. */
  private def mapKeyOf(e: Expression, tags: Attribute): Option[String] = e match {
    case GetMapValue(t, Literal(k: UTF8String, StringType)) if t.semanticEquals(tags) =>
      Some(k.toString)
    case ElementAt(t, Literal(k: UTF8String, StringType), _, false)
        if t.dataType.isInstanceOf[MapType] && t.semanticEquals(tags) =>
      Some(k.toString)
    case _ => None
  }

  private def literalStrings(e: Expression): Option[Seq[String]] = e match {
    case CreateArray(elems, _) if elems.nonEmpty && elems.forall(_.isInstanceOf[Literal]) =>
      Some(elems.collect { case Literal(s: UTF8String, StringType) => s.toString })
        .filter(_.size == elems.size)
    case Literal(a: ArrayData, ArrayType(StringType, _)) if a.numElements() > 0 =>
      // a folded array literal may carry null slots — drop them (a null
      // key matches nothing, so it cannot be a required key)
      val ss = (0 until a.numElements())
        .map(a.getUTF8String).filter(_ != null).map(_.toString)
      if (ss.nonEmpty) Some(ss) else None
    case _ => None
  }
}
