package graft.pbf

import org.scalatest.funsuite.AnyFunSuite

/** Framing/codec error semantics (reference headers.py:33-121:
  * unsupported codecs and features raise). We extend Q5: raw/zlib/lz4/
  * zstd supported, lzma(4) + obsolete bzip2(5) rejected. */
class ErrorPathSpec extends AnyFunSuite {

  test("unsupported blob compression (lzma, bzip2) is rejected") {
    Seq(4, 5).foreach { field =>
      val blob = new PbfWriter
      blob.writeVarintField(2, 10) // raw_size
      blob.writeBytes(field, Array[Byte](1, 2, 3))
      val e = intercept[UnsupportedOperationException] {
        OsmPbfFile.decodeBlob(blob.toBytes)
      }
      assert(e.getMessage.contains("compression"))
    }
  }

  test("truncated zlib stream errors instead of hanging or zero-padding") {
    val full = Zlib.deflate("hello pbf world, have some bytes".getBytes("UTF-8"))
    val truncated = java.util.Arrays.copyOf(full, full.length / 2)
    val e = intercept[IllegalArgumentException] {
      Zlib.inflate(truncated, 32)
    }
    assert(e.getMessage.contains("zlib"))
  }

  test("reader enforces message bounds on malformed input") {
    // varint whose continuation bit never clears within the buffer
    intercept[IllegalArgumentException] {
      new PbfReader(Array[Byte](0x80.toByte, 0x80.toByte)).readVarint()
    }
    // length-delimited field longer than the remaining buffer
    val w = new PbfWriter
    w.writeTag(1, 2)
    w.writeVarint(100) // declared length >> actual
    w.writeVarint(7)
    val r = new PbfReader(w.toBytes)
    r.readTag()
    intercept[IllegalArgumentException] { r.readBytes() }
  }

  test("empty blob is rejected") {
    val blob = new PbfWriter
    blob.writeVarintField(2, 10)
    intercept[IllegalArgumentException] {
      OsmPbfFile.decodeBlob(blob.toBytes)
    }
  }

  test("unknown required feature in OSMHeader is rejected") {
    val hb = new PbfWriter
    hb.writeString(4, "OsmSchema-V0.6")
    hb.writeString(4, "HistoricalInformation")
    val e = intercept[UnsupportedOperationException] {
      OsmPbfFile.validateHeader(hb.toBytes)
    }
    assert(e.getMessage.contains("HistoricalInformation"))
  }

  test("file without an OSMHeader blob is rejected") {
    val f = java.io.File.createTempFile("nohdr", ".osm.pbf")
    f.deleteOnExit()
    // write a file whose only blob is OSMData
    OsmPbfWriter.write(f.getAbsolutePath, Seq(Seq(OsmPbfWriter.N(1, 0, 0))))
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // strip the header frame: find the second frame start
    val headerLen = ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) |
      ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    // parse BlobHeader to get datasize
    val r = new PbfReader(java.util.Arrays.copyOfRange(bytes, 4, 4 + headerLen))
    var dataSize = 0
    while (r.hasMore) {
      val tag = r.readTag()
      if ((tag >> 3) == 3) dataSize = r.readVarint().toInt else r.skip(tag & 7)
    }
    val rest = java.util.Arrays.copyOfRange(bytes, 4 + headerLen + dataSize, bytes.length)
    val f2 = java.io.File.createTempFile("nohdr2", ".osm.pbf")
    f2.deleteOnExit()
    java.nio.file.Files.write(f2.toPath, rest)
    intercept[IllegalArgumentException] {
      OsmPbfFile.index(f2.getAbsolutePath)
    }
  }

  test("unknown blob type is rejected") {
    val f = java.io.File.createTempFile("badtype", ".osm.pbf")
    f.deleteOnExit()
    val out = new java.io.FileOutputStream(f)
    val header = new PbfWriter
    header.writeString(1, "OSMWeird")
    header.writeVarintField(3, 0)
    val hb = header.toBytes
    out.write(Array[Byte](0, 0, 0, hb.length.toByte))
    out.write(hb)
    out.close()
    val e = intercept[IllegalArgumentException] {
      OsmPbfFile.index(f.getAbsolutePath)
    }
    assert(e.getMessage.contains("OSMWeird"))
  }

  // name kept from the walk's earlier, count-only form
  test("countTypes rejects non-length-delimited encodings loudly") {
    // an UNPACKED repeated DenseNodes.id (wire type 0 per element) is
    // legal protobuf but violates the packed assumption the summary
    // walk (and the full decoder) share — a packed read would misread
    // the varint as a byte length. Hand-craft:
    // PrimitiveBlock { group(2,len) { DenseNodes(2,len) { id tag=0x08 varint } } }
    val block = Array[Byte](0x12, 0x04, 0x12, 0x02, 0x08, 0x05)
    val e = intercept[java.io.IOException] { BlobSummary.of(block) }
    assert(e.getMessage.contains("wire type") && e.getMessage.contains("DenseNodes.id"))
  }

  // Framing lengths are bounded by the PBF spec limits (BlobHeader
  // <= 64 KiB, Blob datasize and raw_size <= 32 MiB, no frame past the
  // end of the file): a corrupt length field raises an IOException
  // naming the file and the frame's byte offset before anything is
  // allocated, not an OutOfMemoryError, a NegativeArraySizeException, a
  // nameless EOFException or a silently truncated index.
  private def be32(n: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(n).array()

  private def blobHeader(blobType: String, dataSize: Long): Array[Byte] = {
    val h = new PbfWriter
    h.writeString(1, blobType)
    h.writeVarintField(3, dataSize)
    val hb = h.toBytes
    be32(hb.length) ++ hb
  }

  /** A valid header-only file followed by `tail`; returns the path and
    * the byte offset at which `tail` starts. */
  private def headerThen(tail: Array[Byte]): (String, Long) = {
    val f = java.io.File.createTempFile("framing", ".osm.pbf")
    f.deleteOnExit()
    OsmPbfWriter.write(f.getAbsolutePath, Nil)
    val off = f.length()
    val out = new java.io.FileOutputStream(f, true)
    try out.write(tail) finally out.close()
    (f.getAbsolutePath, off)
  }

  private def assertFrameError(path: String, off: Long)(f: => Any): Unit = {
    val e = intercept[java.io.IOException](f)
    assert(e.getMessage.contains(path) && e.getMessage.contains(s"byte offset $off"),
      e.getMessage)
  }

  test("a BlobHeader length outside [0, 64 KiB] or past the end of the file is rejected") {
    val pad = new Array[Byte](16)
    Seq(be32(1 << 20) ++ pad, be32(-1) ++ pad, be32(1000) ++ pad, Array[Byte](0, 0)).foreach {
      tail =>
        val (path, off) = headerThen(tail)
        assertFrameError(path, off)(OsmPbfFile.index(path))
    }
  }

  test("a Blob datasize outside [0, 32 MiB] is rejected") {
    val (path, off) = headerThen(blobHeader("OSMData", 64L << 20) ++ new Array[Byte](16))
    assertFrameError(path, off)(OsmPbfFile.index(path))
  }

  test("a Blob running past the end of the file is rejected at index time") {
    val (path, off) = headerThen(blobHeader("OSMData", 100) ++ new Array[Byte](10))
    assertFrameError(path, off)(OsmPbfFile.index(path))
  }

  test("a raw_size outside [0, 32 MiB] is rejected before inflating") {
    val blob = new PbfWriter
    blob.writeVarintField(2, 48L << 20)
    blob.writeBytes(3, Zlib.deflate(new Array[Byte](64)))
    val bytes = blob.toBytes
    val (path, _) = headerThen(blobHeader("OSMData", bytes.length) ++ bytes)
    val info = OsmPbfFile.index(path).head
    assertFrameError(path, info.dataOffset)(
      OsmPbfFile.readBlob(info, OsmPbfFile.sharedConf))
  }
}
