package graft.pbf

/** Per-type element count and id span of one OSMData blob: the per-blob
  * facts of the reference's first-pass cache (headers.py:124-201), read
  * by a field-tag walk with no element decode. Type presence drives
  * partition pruning, the id spans decide which blobs of earlier files
  * shadow a blob in a multi-file read, the counts answer COUNT(*)
  * pushdown.
  * Types are node 0, way 1, relation 2; an absent type has count 0 and
  * the empty span (Long.MaxValue, Long.MinValue). */
final class BlobSummary private (private val a: Array[Long]) extends Serializable {
  // per type t: a(3t) count, a(3t + 1) min id, a(3t + 2) max id

  def count(t: Int): Long = a(3 * t)
  def minId(t: Int): Long = a(3 * t + 1)
  def maxId(t: Int): Long = a(3 * t + 2)
  def total: Long = count(0) + count(1) + count(2)

  /** Counts summed and spans widened: the summary of both blobs'
    * elements together. */
  def +(o: BlobSummary): BlobSummary = {
    val out = a.clone()
    var t = 0
    while (t < 3) {
      out(3 * t) += o.count(t)
      out(3 * t + 1) = math.min(minId(t), o.minId(t))
      out(3 * t + 2) = math.max(maxId(t), o.maxId(t))
      t += 1
    }
    new BlobSummary(out)
  }

  override def toString: String =
    (0 to 2).map(t => s"$t:${count(t)}[${minId(t)},${maxId(t)}]").mkString("BlobSummary(", " ", ")")
}

object BlobSummary {
  val empty: BlobSummary = new BlobSummary(Array(
    0L, Long.MaxValue, Long.MinValue, 0L, Long.MaxValue, Long.MinValue,
    0L, Long.MaxValue, Long.MinValue))

  /** The summary of an inflated PrimitiveBlock, from [[foreachId]]. */
  def of(block: Array[Byte]): BlobSummary = {
    val a = empty.a.clone()
    foreachId(block) { (t, id) =>
      a(3 * t) += 1
      if (id < a(3 * t + 1)) a(3 * t + 1) = id
      if (id > a(3 * t + 2)) a(3 * t + 2) = id
    }
    new BlobSummary(a)
  }

  /** The one id walk over an inflated PrimitiveBlock: field tags only,
    * plus each element's id field (plain Node ids are zigzag,
    * Way/Relation ids plain varints, DenseNodes ids packed zigzag
    * deltas, as in the decoder); `f` gets each element's type and id in
    * block order. Every group and element must be length-delimited:
    * unlike the skip-driven decoder walks, a different wire type here
    * would be misread into wrong counts, spans and shadow ids, and
    * those silently drop blobs from pruned scans or rows from
    * multi-file reads. */
  def foreachId(block: Array[Byte])(f: (Int, Long) => Unit): Unit = {
    def elemId(g: PbfReader, zig: Boolean): Long = {
      var id = 0L
      while (g.hasMore) {
        val t = g.readTag()
        if ((t >> 3) == 1 && (t & 7) == 0) id = if (zig) g.readZigzag() else g.readVarint()
        else g.skip(t & 7)
      }
      id
    }
    val root = new PbfReader(block)
    while (root.hasMore) {
      val tag = root.readTag()
      if ((tag >> 3) == 2) {
        requireWire(tag, "primitivegroup")
        val g = root.readMessage()
        while (g.hasMore) {
          val t2 = g.readTag()
          (t2 >> 3) match {
            case 1 =>
              requireWire(t2, "Node")
              f(0, elemId(g.readMessage(), zig = true))
            case 2 =>
              requireWire(t2, "DenseNodes")
              val d = g.readMessage()
              while (d.hasMore) {
                val t3 = d.readTag()
                if ((t3 >> 3) == 1) {
                  requireWire(t3, "DenseNodes.id")
                  val ids = d.readPackedLongs(zigzag = true, delta = true)
                  var i = 0
                  while (i < ids.length) { f(0, ids(i)); i += 1 }
                } else d.skip(t3 & 7)
              }
            case 3 =>
              requireWire(t2, "Way")
              f(1, elemId(g.readMessage(), zig = false))
            case 4 =>
              requireWire(t2, "Relation")
              f(2, elemId(g.readMessage(), zig = false))
            case _ => g.skip(t2 & 7)
          }
        }
      } else root.skip(tag & 7)
    }
  }

  /** The ids of `block` that also occur in any of `shadows` (inflated
    * blocks of earlier files), per wanted type as a sorted array, null
    * for a type with none: the ids a multi-file read skips in this
    * blob because an earlier file holds them. The shadows are walked
    * with [[foreachId]] and never decoded; only this block's own ids
    * are held, so the result is no larger than its element count. */
  def shadowedIds(block: Array[Byte], shadows: Iterator[Array[Byte]],
      wantTypes: Array[Boolean]): Array[Array[Long]] = {
    val own = Array.fill(3)(new scala.collection.mutable.ArrayBuilder.ofLong)
    foreachId(block)((t, id) => if (wantTypes(t)) own(t) += id)
    val ids = own.map { b => val a = b.result(); java.util.Arrays.sort(a); a }
    val hit = ids.map(a => new Array[Boolean](a.length))
    shadows.foreach(foreachId(_) { (t, id) =>
      val k = java.util.Arrays.binarySearch(ids(t), id)
      if (k >= 0) hit(t)(k) = true
    })
    Array.tabulate(3) { t =>
      val skip = ids(t).indices.filter(hit(t)).map(ids(t)).toArray
      if (skip.isEmpty) null else skip
    }
  }

  private def requireWire(tag: Int, field: String): Unit =
    if ((tag & 7) != 2)
      throw new java.io.IOException(
        s"malformed PrimitiveBlock: $field must be length-delimited (wire type 2), " +
          s"got wire type ${tag & 7}: unpacked/non-message encoding is not supported " +
          "by the blob id walk (type pruning, multi-file shadows, COUNT pushdown)")
}
