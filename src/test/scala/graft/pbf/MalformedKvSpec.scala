package graft.pbf

import org.scalatest.funsuite.AnyFunSuite

/** A corrupt PrimitiveBlock whose tag key/val arrays are truncated or
  * mismatched must raise java.io.IOException("malformed PrimitiveBlock
  * ...") — the same fail-loudly doctrine as requireWire/mustIx — never
  * a raw ArrayIndexOutOfBoundsException (ADVICE r7). Covers the row
  * decode (which materializes tags) and the scalar path's must-key
  * span walk (which reads key ids without materializing). */
class MalformedKvSpec extends AnyFunSuite {

  private val allTypes = Array(true, true, true)

  /** PrimitiveBlock{ stringtable["", "k", "v"], group } */
  private def block(group: PbfWriter): Array[Byte] = {
    val st = new PbfWriter
    st.writeString(1, "")
    st.writeString(1, "k")
    st.writeString(1, "v")
    val b = new PbfWriter
    b.writeMessage(1, st)
    b.writeMessage(2, group)
    b.toBytes
  }

  /** DenseNodes with one node whose keys_vals is a lone key id — no
    * value, no 0 delimiter. */
  private def denseTruncated: Array[Byte] = {
    val dn = new PbfWriter
    dn.writePackedLongs(1, Seq(7L), zigzag = true, delta = true) // ids
    dn.writePackedLongs(10, Seq(1L), zigzag = false, delta = false) // keys_vals: key, no val
    val g = new PbfWriter
    g.writeMessage(2, dn)
    block(g)
  }

  /** A Way carrying one key id and an empty vals array. */
  private def wayMismatched: Array[Byte] = {
    val w = new PbfWriter
    w.writeVarintField(1, 7L)
    w.writePackedLongs(2, Seq(1L), zigzag = false, delta = false) // keys
    // field 3 (vals) deliberately absent
    val g = new PbfWriter
    g.writeMessage(3, w)
    block(g)
  }

  test("scalar dense decode rejects a truncated keys_vals span on the must-key walk") {
    val e = intercept[java.io.IOException] {
      BlockDecoder.decodeScalars(denseTruncated, allTypes, DecodeNeeds.all,
        mustTagKeys = Array("k"), idFilter = null)
    }
    assert(e.getMessage.contains("malformed PrimitiveBlock"))
  }

  test("row dense decode rejects a truncated keys_vals span") {
    val e = intercept[java.io.IOException] {
      BlockDecoder.decode(denseTruncated, allTypes, DecodeNeeds.all,
        mustTagKeys = null).toArray
    }
    assert(e.getMessage.contains("malformed PrimitiveBlock"))
  }

  test("row way decode rejects vals shorter than keys") {
    val e = intercept[java.io.IOException] {
      BlockDecoder.decode(wayMismatched, allTypes, DecodeNeeds.all,
        mustTagKeys = null).toArray
    }
    assert(e.getMessage.contains("malformed PrimitiveBlock"))
  }

  test("well-formed blocks still decode on both paths after the guards") {
    val dn = new PbfWriter
    dn.writePackedLongs(1, Seq(7L), zigzag = true, delta = true)
    dn.writePackedLongs(10, Seq(1L, 2L, 0L), zigzag = false, delta = false)
    val g = new PbfWriter
    g.writeMessage(2, dn)
    val batch = BlockDecoder.decodeScalars(block(g), allTypes, DecodeNeeds.all,
      mustTagKeys = Array("k"), idFilter = null)
    assert(batch.n === 1)
    val rows = BlockDecoder.decode(block(g), allTypes, DecodeNeeds.all,
      mustTagKeys = null).toArray
    assert(rows.length === 1 && rows.head.tagKeys.toSeq === Seq("k"))
  }

  test("a tag string id outside the string table is rejected on both node encodings") {
    val dn = new PbfWriter
    dn.writePackedLongs(1, Seq(7L), zigzag = true, delta = true)
    dn.writePackedLongs(10, Seq(1L, 9L, 0L), zigzag = false, delta = false) // val id 9
    val dense = new PbfWriter
    dense.writeMessage(2, dn)
    val n = new PbfWriter
    n.writeTag(1, 0); n.writeZigzag(7L)
    n.writePackedLongs(2, Seq(9L), zigzag = false, delta = false) // key id 9
    n.writePackedLongs(3, Seq(2L), zigzag = false, delta = false)
    val plain = new PbfWriter
    plain.writeMessage(1, n)
    Seq(dense, plain).foreach { g =>
      val e = intercept[java.io.IOException] {
        BlockDecoder.decode(block(g), allTypes, DecodeNeeds.all).toArray
      }
      assert(e.getMessage.contains("malformed PrimitiveBlock"))
    }
  }

  test("relation member arrays of different lengths are rejected") {
    val r = new PbfWriter
    r.writeVarintField(1, 5L)
    r.writePackedLongs(8, Seq(1L), zigzag = false, delta = false) // one role
    r.writePackedLongs(9, Seq(10L, 11L), zigzag = true, delta = true) // two memids
    r.writePackedLongs(10, Seq(1L, 1L), zigzag = false, delta = false)
    val g = new PbfWriter
    g.writeMessage(4, r)
    val e = intercept[java.io.IOException] {
      BlockDecoder.decode(block(g), allTypes, DecodeNeeds.all).toArray
    }
    assert(e.getMessage.contains("malformed PrimitiveBlock"))
  }
}
