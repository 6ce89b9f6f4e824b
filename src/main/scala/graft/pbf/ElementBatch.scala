package graft.pbf

/** Struct-of-arrays buffer for one decoded PrimitiveBlock — the single
  * decode target of both osmpbf read paths (reference dense.py:83-180
  * keeps the same per-block arrays). The scalar columns (`id, type,
  * lat, lon, version, timestamp, changeset`) always exist; the
  * per-element `tags`/`refs`/`members` columns are allocated only when
  * the [[DecodeNeeds]] the block is decoded with asks for them (null
  * otherwise), and within an allocated column a null slot is an empty
  * array. Timestamps are epoch micros, Spark's TimestampType unit.
  *
  * One instance per PrimitiveBlock, so capacity is bounded by the
  * ~8k-element blocks PBF writers emit, never by the file. Slots are
  * written at most once (`n` is monotone), so the zero-fill that
  * `Arrays.copyOf` gives freshly grown tails is a valid "not yet
  * written" state.
  */
final class ElementBatch(needs: DecodeNeeds, initial: Int = 8192) {
  var n: Int = 0
  var ids: Array[Long] = new Array[Long](initial)
  var types: Array[Byte] = new Array[Byte](initial)
  var lats: Array[Double] = new Array[Double](initial)
  var lons: Array[Double] = new Array[Double](initial)
  var versions: Array[Int] = new Array[Int](initial)
  var tsMicros: Array[Long] = new Array[Long](initial)
  var changesets: Array[Long] = new Array[Long](initial)
  var hasInfo: Array[Boolean] = new Array[Boolean](initial)
  var tagKeys: Array[Array[String]] = if (needs.tags) new Array(initial) else null
  var tagVals: Array[Array[String]] = if (needs.tags) new Array(initial) else null
  var refs: Array[Array[Long]] = if (needs.refs) new Array(initial) else null
  var memberRoles: Array[Array[String]] = if (needs.members) new Array(initial) else null
  var memberRefs: Array[Array[Long]] = if (needs.members) new Array(initial) else null
  var memberTypes: Array[Array[Byte]] = if (needs.members) new Array(initial) else null

  private def grow[A <: AnyRef](col: Array[A], cap: Int): Array[A] =
    if (col == null) null else java.util.Arrays.copyOf[A](col, cap)

  def ensure(extra: Int): Unit = {
    val need = n + extra
    if (need > ids.length) {
      var cap = ids.length
      while (cap < need) cap *= 2
      ids = java.util.Arrays.copyOf(ids, cap)
      types = java.util.Arrays.copyOf(types, cap)
      lats = java.util.Arrays.copyOf(lats, cap)
      lons = java.util.Arrays.copyOf(lons, cap)
      versions = java.util.Arrays.copyOf(versions, cap)
      tsMicros = java.util.Arrays.copyOf(tsMicros, cap)
      changesets = java.util.Arrays.copyOf(changesets, cap)
      hasInfo = java.util.Arrays.copyOf(hasInfo, cap)
      tagKeys = grow(tagKeys, cap)
      tagVals = grow(tagVals, cap)
      refs = grow(refs, cap)
      memberRoles = grow(memberRoles, cap)
      memberRefs = grow(memberRefs, cap)
      memberTypes = grow(memberTypes, cap)
    }
  }

  /** Appends one element's scalar columns; returns its slot, where the
    * decoder then fills any allocated array column. */
  def add(id: Long, etype: Byte, lat: Double, lon: Double,
      version: Int, tsMicro: Long, changeset: Long, info: Boolean): Int = {
    ensure(1)
    ids(n) = id
    types(n) = etype
    lats(n) = lat
    lons(n) = lon
    versions(n) = version
    tsMicros(n) = tsMicro
    changesets(n) = changeset
    hasInfo(n) = info
    n += 1
    n - 1
  }
}
