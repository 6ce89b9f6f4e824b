package graft.pbf

import java.io.ByteArrayOutputStream

/** Protobuf wire-format kernels for the OSM PBF reader/writer.
  *
  * Equivalent in role to the reference's Cython kernels
  * (reference protobuf.pyx:132-423: varint/zigzag/delta scalar decode,
  * packed repeated decode) but written as plain JVM loops — JIT-compiled,
  * no boxing, decoding straight into primitive arrays.
  */
final class PbfReader(val buf: Array[Byte], var pos: Int, val end: Int) {

  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  @inline def hasMore: Boolean = pos < end

  @inline private def overrun(what: String): Nothing =
    throw new IllegalArgumentException(
      s"malformed pbf: $what runs past the message boundary (pos=$pos, end=$end)")

  /** varint64 (reference protobuf.pyx:320-360); a truncated varint is a
    * framing error, not a silent read into sibling bytes. */
  def readVarint(): Long = {
    var shift = 0
    var result = 0L
    var b = 0L
    do {
      if (pos >= end) overrun("varint")
      b = buf(pos) & 0xffL
      result |= (b & 0x7fL) << shift
      shift += 7
      pos += 1
    } while ((b & 0x80L) != 0)
    result
  }

  /** zigzag-decoded sint64 (reference protobuf.pyx:362-380). */
  def readZigzag(): Long = {
    val v = readVarint()
    (v >>> 1) ^ -(v & 1)
  }

  /** field tag: (fieldNumber, wireType). */
  def readTag(): Int = readVarint().toInt

  /** skip a field of the given wire type (reference protobuf.pyx:293-317). */
  def skip(wireType: Int): Unit = wireType match {
    case 0 => readVarint()
    case 1 => if (pos + 8 > end) overrun("fixed64"); pos += 8
    case 2 =>
      val len = readVarint().toInt
      checkLen(len, "skipped field")
      pos += len
    case 5 => if (pos + 4 > end) overrun("fixed32"); pos += 4
    case w => throw new IllegalArgumentException(s"unsupported wire type $w at $pos")
  }

  @inline private def checkLen(len: Int, what: String): Unit =
    if (len < 0 || pos + len > end) overrun(s"$what of length $len")

  /** length-delimited payload: returns a sub-reader over the span. */
  def readMessage(): PbfReader = {
    val len = readVarint().toInt
    checkLen(len, "sub-message")
    val r = new PbfReader(buf, pos, pos + len)
    pos += len
    r
  }

  def readBytes(): Array[Byte] = {
    val len = readVarint().toInt
    checkLen(len, "bytes field")
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
    pos += len
    out
  }

  def readString(): String = {
    val len = readVarint().toInt
    checkLen(len, "string field")
    val s = new String(buf, pos, len, "UTF-8")
    pos += len
    s
  }

  /** packed repeated int64, optionally zigzag and/or delta-cumulative
    * (reference protobuf.pyx:177-287 `packed`/`large_packed`). */
  def readPackedLongs(zigzag: Boolean, delta: Boolean): Array[Long] = {
    val len = readVarint().toInt
    checkLen(len, "packed field")
    val limit = pos + len
    var n = 0
    // count first (varints are self-delimiting; quick scan of high bits)
    var p = pos
    while (p < limit) { if ((buf(p) & 0x80) == 0) n += 1; p += 1 }
    val out = new Array[Long](n)
    var i = 0
    var acc = 0L
    while (pos < limit) {
      var shift = 0
      var v = 0L
      var b = 0L
      do {
        if (pos >= limit) overrun("packed varint")
        b = buf(pos) & 0xffL
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80L) != 0)
      if (zigzag) v = (v >>> 1) ^ -(v & 1)
      if (delta) { acc += v; v = acc }
      out(i) = v
      i += 1
    }
    out
  }

  /** packed repeated int32 (no zigzag). */
  def readPackedInts(): Array[Int] = {
    val longs = readPackedLongs(zigzag = false, delta = false)
    val out = new Array[Int](longs.length)
    var i = 0
    while (i < longs.length) { out(i) = longs(i).toInt; i += 1 }
    out
  }
}

/** Protobuf writer — used by the synthetic `.osm.pbf` fixture generator
  * (FIXTURES.md §B) and round-trip property tests. */
final class PbfWriter {
  private val out = new ByteArrayOutputStream()

  def toBytes: Array[Byte] = out.toByteArray

  def writeVarint(v0: Long): this.type = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
    this
  }

  def writeZigzag(v: Long): this.type = writeVarint((v << 1) ^ (v >> 63))

  def writeTag(field: Int, wire: Int): this.type = writeVarint((field << 3) | wire)

  def writeBytes(field: Int, b: Array[Byte]): this.type = {
    writeTag(field, 2); writeVarint(b.length); out.write(b, 0, b.length); this
  }

  def writeString(field: Int, s: String): this.type = writeBytes(field, s.getBytes("UTF-8"))

  def writeMessage(field: Int, m: PbfWriter): this.type = writeBytes(field, m.toBytes)

  def writeVarintField(field: Int, v: Long): this.type = { writeTag(field, 0); writeVarint(v) }

  def writePackedLongs(field: Int, vs: Seq[Long], zigzag: Boolean, delta: Boolean): this.type = {
    val p = new PbfWriter
    var prev = 0L
    vs.foreach { v =>
      val d = if (delta) { val x = v - prev; prev = v; x } else v
      if (zigzag) p.writeZigzag(d) else p.writeVarint(d)
    }
    writeBytes(field, p.toBytes)
  }
}

object Zlib {
  def inflate(data: Array[Byte], rawSize: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new Array[Byte](rawSize)
    var off = 0
    while (off < rawSize && !inf.finished()) {
      val n = inf.inflate(out, off, rawSize - off)
      if (n == 0 && (inf.needsInput() || inf.needsDictionary())) {
        // truncated stream: no more input but not finished — fail
        // instead of spinning forever / silently zero-padding
        inf.end()
        throw new IllegalArgumentException(
          s"truncated zlib stream: got $off of $rawSize declared bytes")
      }
      off += n
    }
    val short = off < rawSize && inf.finished()
    inf.end()
    if (short)
      throw new IllegalArgumentException(
        s"zlib stream ended early: got $off of $rawSize declared bytes")
    out
  }

  def deflate(data: Array[Byte]): Array[Byte] = {
    val def_ = new java.util.zip.Deflater()
    def_.setInput(data)
    def_.finish()
    val buf = new Array[Byte](data.length + 64)
    val bos = new ByteArrayOutputStream()
    while (!def_.finished()) {
      val n = def_.deflate(buf)
      bos.write(buf, 0, n)
    }
    def_.end()
    bos.toByteArray
  }
}
