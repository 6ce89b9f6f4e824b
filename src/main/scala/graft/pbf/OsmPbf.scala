package graft.pbf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import scala.collection.mutable.ArrayBuffer

/** One OSMData blob = one Spark input partition (the unit of parallel
  * decode — the parallelism the single-threaded reference lacks;
  * reference osmdata.py:213-227 processes these sequentially). */
final case class BlobInfo(path: String, dataOffset: Long, dataLen: Int)

/** One decoded OSM element: the row view [[BlockDecoder.decode]] gives
  * of an [[ElementBatch]] slot. */
final case class Decoded(
    id: Long,
    etype: Byte, // 0 node, 1 way, 2 relation (reference block.py:29-33)
    lat: Double,
    lon: Double,
    tagKeys: Array[String],
    tagVals: Array[String],
    refs: Array[Long],
    memberRoles: Array[String],
    memberRefs: Array[Long],
    memberTypes: Array[Byte],
    version: Int,
    timestampMs: Long,
    changeset: Long,
    hasInfo: Boolean)

/** Which element fields a scan needs — projection pushdown into the
  * protobuf decode (reference lazily decodes tags/refs/info the same
  * way: osmquery.py:325-333, primitives.py:23,61,73,31). */
final case class DecodeNeeds(
    tags: Boolean, refs: Boolean, members: Boolean,
    info: Boolean, coords: Boolean)

object DecodeNeeds {
  val all: DecodeNeeds = DecodeNeeds(tags = true, refs = true,
    members = true, info = true, coords = true)
}

/** File framing + HeaderBlock validation
  * (reference headers.py:9-121, osmdata.py:95-125). */
object OsmPbfFile {

  /** Shared read-only Hadoop configuration: `new Configuration()`
    * parses the default XML resources per INSTANCE, and the old code
    * built one per planning call / partition reader / stats-job blob —
    * pure constant overhead multiplied by task count. One lazy
    * instance per JVM serves every read-only `getFileSystem` lookup
    * (the driver's planning walks and the executors' blob readers
    * never mutate it). */
  lazy val sharedConf: Configuration = new Configuration()

  /** Expand a path / directory / glob into concrete `.osm.pbf` files —
    * a 100 TB corpus is a directory of extracts, not one file.
    * Directories matched by a glob contribute their `.pbf` files (one
    * level; no silent drop); an empty directory is a clean error. */
  def expand(pathStr: String, conf: Configuration = sharedConf): Seq[String] = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    def pbfFilesUnder(dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.toString)
        .filter(_.endsWith(".pbf"))
    val files =
      if (fs.isDirectory(path)) pbfFilesUnder(path)
      else {
        val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Nil)
        if (matched.isEmpty) Seq(pathStr) // plain single file (any extension)
        else if (matched.size == 1 && matched.head.isFile)
          Seq(matched.head.getPath.toString) // exact single-file match
        else matched.flatMap { st =>
          if (st.isFile) Seq(st.getPath.toString).filter(_.endsWith(".pbf"))
          else pbfFilesUnder(st.getPath)
        }
      }
    require(files.nonEmpty, s"no .pbf files under $pathStr")
    files.sorted
  }

  /** Index every file under the path/glob (one framing pass each). */
  def indexAll(pathStr: String, conf: Configuration = sharedConf): Seq[BlobInfo] =
    expand(pathStr, conf).flatMap(f => index(f, conf))

  /** One version of a file: its framing index and, once walked, the
    * [[BlobSummary]] of each of its blobs, in index order. */
  private final class Indexed(val blobs: Seq[BlobInfo]) {
    @volatile var summaries: Seq[BlobSummary] = _
  }

  /** Per-JVM file cache keyed by (path, length, mtime): one query plans
    * the SAME scan several times (estimateStatistics, partition
    * planning, and 2-3 scan branches per OSM query), and each planning
    * walk re-read every frame header — ~500 positioned reads per
    * 250-blob extract, multiplied into ~1 s of pure driver planning per
    * osm_big_* row (and at 100 TB, ~3 MB of header reads per 100 GB
    * file per plan). A rewritten file gets a new key, so neither its
    * index nor its summaries can be served from the old version — the
    * same freshness contract as Spark's own file-index cache (guide
    * §6); the old version's entry is dropped. */
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Indexed]()

  private def indexed(pathStr: String, conf: Configuration): Indexed = {
    val path = new Path(pathStr)
    val st = path.getFileSystem(conf).getFileStatus(path)
    val key = (pathStr, st.getLen, st.getModificationTime)
    var fresh = false
    val e = indexCache.computeIfAbsent(key, _ => {
      fresh = true
      new Indexed(indexUncached(pathStr, conf, st.getLen))
    })
    if (fresh) indexCache.keySet.removeIf(k => k._1 == pathStr && k != key)
    e
  }

  /** Scan `[len:int32-BE][BlobHeader][Blob]` frames; validate the
    * OSMHeader; return one BlobInfo per OSMData blob. Only reads the
    * small header messages + the header blob — ~50 bytes per data blob,
    * so driver-side planning over a 100 TB corpus stays cheap; repeat
    * plans of an unchanged file are served from [[indexCache]]. */
  def index(pathStr: String, conf: Configuration = sharedConf): Seq[BlobInfo] =
    indexed(pathStr, conf).blobs

  /** Every blob under the path/glob paired with its [[BlobSummary]], in
    * [[indexAll]] order. Summaries are cached with each file's index;
    * the blobs of files not summarized yet go to `walk` in one call,
    * which must return their summaries in the same order (the osmpbf
    * source walks them in one parallel Spark job). */
  def summarized(pathStr: String, walk: Seq[BlobInfo] => Seq[BlobSummary],
      conf: Configuration = sharedConf): Seq[(BlobInfo, BlobSummary)] = {
    val files = expand(pathStr, conf).map(indexed(_, conf))
    val missing = files.filter(_.summaries == null)
    if (missing.nonEmpty) {
      val blobs = missing.flatMap(_.blobs)
      val sums = walk(blobs)
      require(sums.size == blobs.size, s"summary walk returned ${sums.size} of ${blobs.size} blobs")
      val it = sums.iterator
      missing.foreach(f => f.summaries = f.blobs.map(_ => it.next()))
    }
    files.flatMap(f => f.blobs.zip(f.summaries))
  }

  /** PBF spec limits (wiki.openstreetmap.org/wiki/PBF_Format): a
    * BlobHeader is at most 64 KiB, a Blob and its inflated payload at
    * most 32 MiB. Framing lengths are checked against them before
    * anything is allocated, so a corrupt length field is a typed error
    * naming the file and offset, never a multi-GB executor allocation. */
  private val MaxHeaderSize = 64 * 1024
  private val MaxBlobSize = 32 * 1024 * 1024

  private def frameError(where: String, what: String): Nothing =
    throw new java.io.IOException(s"malformed pbf frame in $where: $what")

  private def indexUncached(pathStr: String, conf: Configuration,
      fileLen: Long): Seq[BlobInfo] = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      val blobs = ArrayBuffer.empty[BlobInfo]
      var off = 0L
      var sawHeader = false
      val lenBuf = new Array[Byte](4)
      while (off < fileLen) {
        val where = s"$pathStr at byte offset $off"
        if (off + 4 > fileLen) frameError(where, "truncated BlobHeader length")
        in.readFully(off, lenBuf, 0, 4)
        val headerLen = ((lenBuf(0) & 0xff) << 24) | ((lenBuf(1) & 0xff) << 16) |
          ((lenBuf(2) & 0xff) << 8) | (lenBuf(3) & 0xff)
        if (headerLen < 0 || headerLen > MaxHeaderSize)
          frameError(where, s"BlobHeader length $headerLen outside [0, $MaxHeaderSize]")
        if (off + 4 + headerLen > fileLen)
          frameError(where, s"BlobHeader of $headerLen bytes runs past the end of the file")
        val headerBytes = new Array[Byte](headerLen)
        in.readFully(off + 4, headerBytes, 0, headerLen)
        // BlobHeader: type=1 string, indexdata=2, datasize=3 int32
        var blobType = ""
        var dataSize = 0L
        val r = new PbfReader(headerBytes)
        while (r.hasMore) {
          val tag = r.readTag()
          (tag >> 3) match {
            case 1 => blobType = r.readString()
            case 3 => dataSize = r.readVarint()
            case _ => r.skip(tag & 7)
          }
        }
        if (dataSize < 0 || dataSize > MaxBlobSize)
          frameError(where, s"Blob datasize $dataSize outside [0, $MaxBlobSize]")
        val dataOff = off + 4 + headerLen
        if (dataOff + dataSize > fileLen)
          frameError(where, s"Blob of $dataSize bytes runs past the end of the file ($fileLen bytes)")
        blobType match {
          case "OSMHeader" =>
            val hb = new Array[Byte](dataSize.toInt)
            in.readFully(dataOff, hb, 0, dataSize.toInt)
            validateHeader(decodeBlobAt(hb, where))
            sawHeader = true
          case "OSMData" =>
            blobs += BlobInfo(pathStr, dataOff, dataSize.toInt)
          case other =>
            throw new IllegalArgumentException(s"unknown blob type '$other'")
        }
        off = dataOff + dataSize
      }
      require(sawHeader, s"$pathStr: no OSMHeader blob")
      blobs.toSeq
    } finally in.close()
  }

  /** Blob payload extraction: raw(1) / raw_size(2) / zlib_data(3) /
    * lz4_data(6) / zstd_data(7). The reference detects but only
    * implements zlib (headers.py:33-78, block.py:20-23, quirk Q5); we
    * additionally support lz4 + zstd via the JVM codecs Spark already
    * ships (lz4-java, zstd-jni). lzma(4) / obsolete bzip2(5) rejected.
    * A `raw_size` outside [0, 32 MiB] raises before anything is
    * allocated; [[decodeBlobAt]] names the file and offset in it. */
  def decodeBlob(blob: Array[Byte]): Array[Byte] = decodeBlobAt(blob, "blob")

  private[pbf] def decodeBlobAt(blob: Array[Byte], where: String): Array[Byte] = {
    val r = new PbfReader(blob)
    var raw: Array[Byte] = null
    var rawSize = -1L
    var zlib: Array[Byte] = null
    var lz4: Array[Byte] = null
    var zstd: Array[Byte] = null
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => raw = r.readBytes()
        case 2 => rawSize = r.readVarint()
        case 3 => zlib = r.readBytes()
        case 6 => lz4 = r.readBytes()
        case 7 => zstd = r.readBytes()
        case f if f == 4 || f == 5 =>
          throw new UnsupportedOperationException(
            s"unsupported blob compression (field $f); only raw/zlib/lz4/zstd")
        case _ => r.skip(tag & 7)
      }
    }
    if (raw != null) return raw
    if (rawSize == -1L)
      throw new IllegalArgumentException(
        "compressed blob is missing its raw_size field")
    if (rawSize < 0 || rawSize > MaxBlobSize)
      frameError(where, s"Blob raw_size $rawSize outside [0, $MaxBlobSize]")
    val size = rawSize.toInt
    if (zlib != null) Zlib.inflate(zlib, size)
    else if (zstd != null) com.github.luben.zstd.Zstd.decompress(zstd, size)
    else if (lz4 != null)
      net.jpountz.lz4.LZ4Factory.fastestInstance()
        .fastDecompressor().decompress(lz4, size)
    else throw new IllegalArgumentException("empty blob")
  }

  /** Required-features check: OsmSchema-V0.6 + DenseNodes only
    * (reference headers.py:81-121). */
  def validateHeader(headerBlock: Array[Byte]): Unit = {
    val supported = Set("OsmSchema-V0.6", "DenseNodes")
    val r = new PbfReader(headerBlock)
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 4 =>
          val feat = r.readString()
          if (!supported.contains(feat))
            throw new UnsupportedOperationException(s"required feature '$feat' not supported")
        case _ => r.skip(tag & 7)
      }
    }
  }

  def readBlob(info: BlobInfo, conf: Configuration): Array[Byte] = {
    val reader = new BlobReader(conf)
    try reader.read(info) finally reader.close()
  }
}

/** Per-partition blob reader: one open stream per FILE for the
  * partition's lifetime, with positioned reads per blob —
  * [[OsmPbfFile.readBlob]] opens and closes per BLOB, which is noise
  * on a local filesystem but a metadata round-trip (HEAD + GET) per
  * 8k-element block on the object stores a 100 TB corpus lives on.
  * A partition's blobs are consecutive within a file (split packing
  * preserves index order), so the map holds at most a handful of
  * streams. Not thread-safe; each Spark task owns its reader. */
final class BlobReader(conf: Configuration) extends AutoCloseable {
  private val streams =
    scala.collection.mutable.HashMap.empty[String, org.apache.hadoop.fs.FSDataInputStream]

  def read(info: BlobInfo): Array[Byte] = {
    val in = streams.getOrElseUpdate(info.path, {
      val p = new Path(info.path)
      p.getFileSystem(conf).open(p)
    })
    val buf = new Array[Byte](info.dataLen)
    in.readFully(info.dataOffset, buf, 0, info.dataLen)
    OsmPbfFile.decodeBlobAt(buf, s"${info.path} at byte offset ${info.dataOffset}")
  }

  override def close(): Unit = {
    streams.values.foreach(s => try s.close() catch { case _: java.io.IOException => })
    streams.clear()
  }
}

/** PrimitiveBlock → elements decoder (reference block.py:8-130,
  * primitives.py:9-147, dense.py:8-80 — but emitting real strings
  * immediately; the reference's global string dictionary is
  * deliberately dropped, SURVEY §4.3). One walker, [[decodeBatch]],
  * feeds both osmpbf read paths: the columnar reader copies the
  * batch's scalar columns into vectors, the row reader emits rows
  * straight from it. */
object BlockDecoder {

  private val emptyS = Array.empty[String]
  private val emptyL = Array.empty[Long]
  private val emptyB = Array.empty[Byte]

  /** Block-wide decode state shared by the per-element walkers. */
  private final class Block(val strs: Array[String], val isMust: Array[Boolean],
      val needs: DecodeNeeds, val idFilter: Set[Long], val skip: Array[Array[Long]],
      val gran: Long, val latOff: Long, val lonOff: Long, val dateGran: Long,
      val out: ElementBatch)

  /** Decodes one PrimitiveBlock into an [[ElementBatch]].
    *
    * @param wantTypes which of node(0)/way(1)/relation(2) to emit —
    *   type pushdown skips decoding whole primitive groups
    *   (reference osmquery.py:242-247).
    * @param needs which fields to decode; the batch allocates its
    *   tags/refs/members columns only when asked for them.
    * @param mustTagKeys when non-null, emit only elements whose tag-key
    *   set intersects these keys (F3 ∃ semantics). The check runs on
    *   block-local string IDS before any string materialization, and
    *   whether or not tags are materialized — the reference's
    *   abort-parse-on-tag-mismatch pushdown (primitives.py:23-27) plus
    *   its unsatisfiable-filter block skip (osmquery.py:311-323) when no
    *   key occurs in the string table.
    * @param idFilter when non-null, only elements with these ids are
    *   emitted (reference osmquery.py:262-276).
    * @param skip when non-null, per type a sorted array (or null) of
    *   ids not to emit: the ids an earlier file of a multi-file read
    *   holds ([[BlobSummary.shadowedIds]]). */
  def decodeBatch(block: Array[Byte], wantTypes: Array[Boolean], needs: DecodeNeeds,
      mustTagKeys: Array[String], idFilter: Set[Long],
      skip: Array[Array[Long]] = null): ElementBatch = {
    val out = new ElementBatch(needs)
    val root = new PbfReader(block)
    var strs = emptyS
    val groupSpans = ArrayBuffer.empty[(Int, Int)]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    var dateGranularity = 1000L
    while (root.hasMore) {
      val tag = root.readTag()
      (tag >> 3) match {
        case 1 => // stringtable
          val st = root.readMessage()
          val buf = ArrayBuffer.empty[String]
          while (st.hasMore) {
            val t2 = st.readTag()
            if ((t2 >> 3) == 1) buf += st.readString() else st.skip(t2 & 7)
          }
          strs = buf.toArray
        case 2 =>
          val m = root.readMessage()
          groupSpans += ((m.pos, m.end))
        case 17 => granularity = root.readVarint()
        case 18 => dateGranularity = root.readVarint()
        case 19 => latOffset = root.readVarint()
        case 20 => lonOffset = root.readVarint()
        case _ => root.skip(tag & 7)
      }
    }
    // must-tag keys → block-local string-id membership (the reference's
    // strmap, osmquery.py:249-251); no flagged id means no element in
    // this block can match — skip the whole block
    var isMust: Array[Boolean] = null
    if (mustTagKeys != null) {
      val keySet = mustTagKeys.toSet
      isMust = strs.map(keySet.contains)
      if (!isMust.contains(true)) return out
    }
    val b = new Block(strs, isMust, needs, idFilter, skip, granularity, latOffset, lonOffset,
      dateGranularity, out)
    groupSpans.foreach { case (s, e) =>
      val g = new PbfReader(root.buf, s, e)
      while (g.hasMore) {
        val tag = g.readTag()
        (tag >> 3) match {
          case 1 if wantTypes(0) => decodeElement(g.readMessage(), 0, b)
          case 2 if wantTypes(0) => decodeDense(g.readMessage(), b)
          case 3 if wantTypes(1) => decodeElement(g.readMessage(), 1, b)
          case 4 if wantTypes(2) => decodeElement(g.readMessage(), 2, b)
          case _ => g.skip(tag & 7)
        }
      }
    }
    out
  }

  /** Row view of [[decodeBatch]] with no id filter: one [[Decoded]]
    * per element. */
  def decode(block: Array[Byte], wantTypes: Array[Boolean],
             needs: DecodeNeeds, mustTagKeys: Array[String] = null): Iterator[Decoded] = {
    val b = decodeBatch(block, wantTypes, needs, mustTagKeys, null)
    def at[A](col: Array[Array[A]], i: Int, empty: Array[A]): Array[A] =
      if (col == null || col(i) == null) empty else col(i)
    Iterator.range(0, b.n).map { i =>
      Decoded(b.ids(i), b.types(i), b.lats(i), b.lons(i),
        at(b.tagKeys, i, emptyS), at(b.tagVals, i, emptyS), at(b.refs, i, emptyL),
        at(b.memberRoles, i, emptyS), at(b.memberRefs, i, emptyL),
        at(b.memberTypes, i, emptyB),
        b.versions(i), b.tsMicros(i) / 1000L, b.changesets(i), b.hasInfo(i))
    }
  }

  /** Scalar-column view of [[decodeBatch]]: `needs` is restricted to
    * the scalar columns (`id, type, lat, lon, version, timestamp,
    * changeset`), so no tags/refs/members column is decoded. */
  def decodeScalars(block: Array[Byte], wantTypes: Array[Boolean],
      needs: DecodeNeeds, mustTagKeys: Array[String],
      idFilter: Set[Long]): ElementBatch =
    decodeBatch(block, wantTypes, needs.copy(tags = false, refs = false, members = false),
      mustTagKeys, idFilter)

  /** Plain Node / Way / Relation. The three share id(1), keys(2),
    * vals(3) and info(4) — a Node's id is zigzag, the others' plain —
    * and differ after that: a Node carries zigzag lat(8)/lon(9), a Way
    * delta refs(8), a Relation roles(8)/memids(9)/types(10). Tag keys
    * are read for the must-key test even when tags are not
    * materialized. */
  private def decodeElement(r: PbfReader, etype: Byte, b: Block): Unit = {
    val needs = b.needs
    var id = 0L
    var lat = 0L
    var lon = 0L
    var keys = emptyL
    var vals = emptyL
    var refs = emptyL
    var roles = emptyL
    var memids = emptyL
    var mtypes = emptyL
    var version = -1
    var ts = 0L
    var cs = 0L
    var hasInfo = false
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => id = if (etype == 0) r.readZigzag() else r.readVarint()
        case 2 if needs.tags || b.isMust != null =>
          keys = r.readPackedLongs(zigzag = false, delta = false)
        case 3 if needs.tags => vals = r.readPackedLongs(zigzag = false, delta = false)
        case 4 if needs.info =>
          val info = r.readMessage()
          hasInfo = true
          while (info.hasMore) {
            val t2 = info.readTag()
            (t2 >> 3) match {
              case 1 => version = info.readVarint().toInt
              case 2 => ts = info.readVarint()
              case 3 => cs = info.readVarint()
              case _ => info.skip(t2 & 7)
            }
          }
        case 8 if etype == 0 => lat = r.readZigzag()
        case 9 if etype == 0 => lon = r.readZigzag()
        case 8 if etype == 1 && needs.refs => refs = r.readPackedLongs(zigzag = true, delta = true)
        case 8 if etype == 2 && needs.members => roles = r.readPackedLongs(zigzag = false, delta = false)
        case 9 if etype == 2 && needs.members => memids = r.readPackedLongs(zigzag = true, delta = true)
        case 10 if etype == 2 && needs.members => mtypes = r.readPackedLongs(zigzag = false, delta = false)
        case _ => r.skip(tag & 7)
      }
    }
    if (!anyMust(b.isMust, keys, 0, keys.length, 1) ||
      (b.idFilter != null && !b.idFilter.contains(id)) || skipped(b, etype, id)) return
    val out = b.out
    val i = out.add(id, etype,
      if (etype == 0) 1e-9 * (b.latOff + b.gran * lat) else 0.0,
      if (etype == 0) 1e-9 * (b.lonOff + b.gran * lon) else 0.0,
      version, ts * b.dateGran * 1000L, cs, hasInfo)
    if (out.tagKeys != null && keys.nonEmpty) {
      if (vals.length < keys.length) badKvSpan("Node/Way/Relation vals shorter than keys")
      putTags(b, i, keys, 0, vals, 0, 1, keys.length)
    }
    if (out.refs != null) out.refs(i) = refs
    if (out.memberRefs != null && memids.nonEmpty) {
      if (roles.length != memids.length || mtypes.length != memids.length)
        throw new java.io.IOException(
          "malformed PrimitiveBlock: Relation roles/memids/types lengths differ")
      out.memberRoles(i) = roles.map(s => str(b.strs, s))
      out.memberRefs(i) = memids
      out.memberTypes(i) = mtypes.map(_.toByte)
    }
  }

  /** Vectorized DenseNodes incl. the 0-delimited keys_vals splitter
    * (reference dense.py:8-50, protobuf.pyx:74-106). With no tags,
    * must-key, id filter or skipped node ids the packed arrays convert
    * to columns in tight loops with no per-element allocation (reference
    * dense.py:83-180); otherwise each node's kv span is walked. */
  private def decodeDense(r: PbfReader, b: Block): Unit = {
    val needs = b.needs
    var ids = emptyL
    var lats = emptyL
    var lons = emptyL
    var kvs = emptyL
    var versions = emptyL
    var tss = emptyL
    var css = emptyL
    var hasInfo = false
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => ids = r.readPackedLongs(zigzag = true, delta = true)
        case 5 if needs.info =>
          val di = r.readMessage()
          hasInfo = true
          while (di.hasMore) {
            val t2 = di.readTag()
            (t2 >> 3) match {
              case 1 => versions = di.readPackedLongs(zigzag = false, delta = false)
              case 2 => tss = di.readPackedLongs(zigzag = true, delta = true)
              case 3 => css = di.readPackedLongs(zigzag = true, delta = true)
              case _ => di.skip(t2 & 7)
            }
          }
        case 8 if needs.coords => lats = r.readPackedLongs(zigzag = true, delta = true)
        case 9 if needs.coords => lons = r.readPackedLongs(zigzag = true, delta = true)
        case 10 if needs.tags || b.isMust != null =>
          kvs = r.readPackedLongs(zigzag = false, delta = false)
        case _ => r.skip(tag & 7)
      }
    }
    val m = ids.length
    val tsScale = b.dateGran * 1000L // DenseInfo timestamp units → epoch micros
    val out = b.out
    if (b.isMust == null && b.idFilter == null && (b.skip == null || b.skip(0) == null) &&
      !needs.tags) {
      out.ensure(m)
      val base = out.n
      System.arraycopy(ids, 0, out.ids, base, m)
      // types stay 0 (node): fresh ElementBatch slots are zero-filled
      if (lats.nonEmpty) {
        var i = 0
        while (i < m) { out.lats(base + i) = 1e-9 * (b.latOff + b.gran * lats(i)); i += 1 }
      }
      if (lons.nonEmpty) {
        var i = 0
        while (i < m) { out.lons(base + i) = 1e-9 * (b.lonOff + b.gran * lons(i)); i += 1 }
      }
      if (versions.nonEmpty) {
        var i = 0
        while (i < m) { out.versions(base + i) = versions(i).toInt; i += 1 }
      } else if (hasInfo) java.util.Arrays.fill(out.versions, base, base + m, -1)
      if (tss.nonEmpty) {
        var i = 0
        while (i < m) { out.tsMicros(base + i) = tss(i) * tsScale; i += 1 }
      }
      if (css.nonEmpty) System.arraycopy(css, 0, out.changesets, base, m)
      if (hasInfo) java.util.Arrays.fill(out.hasInfo, base, base + m, true)
      out.n = base + m
    } else {
      var kvPos = 0
      var i = 0
      while (i < m) {
        // bound the node's kv span first (the must check and the tag
        // lookup read it; the delimiter is consumed exactly once per node)
        val spanStart = kvPos
        var p = kvPos
        while (p < kvs.length && kvs(p) != 0L) p += 2
        if (p > kvs.length) badKvSpan("DenseNodes keys_vals key without value")
        kvPos = if (p < kvs.length) p + 1 else p
        if (anyMust(b.isMust, kvs, spanStart, p, 2) &&
          (b.idFilter == null || b.idFilter.contains(ids(i))) && !skipped(b, 0, ids(i))) {
          val j = out.add(ids(i), 0,
            if (lats.isEmpty) 0.0 else 1e-9 * (b.latOff + b.gran * lats(i)),
            if (lons.isEmpty) 0.0 else 1e-9 * (b.lonOff + b.gran * lons(i)),
            if (versions.nonEmpty) versions(i).toInt else -1,
            if (tss.nonEmpty) tss(i) * tsScale else 0L,
            if (css.nonEmpty) css(i) else 0L,
            hasInfo)
          if (out.tagKeys != null && p > spanStart)
            putTags(b, j, kvs, spanStart, kvs, spanStart + 1, 2, (p - spanStart) / 2)
        }
        i += 1
      }
    }
  }

  /** Is `id` of type `t` among the block's skipped ids? */
  private def skipped(b: Block, t: Int, id: Long): Boolean =
    b.skip != null && b.skip(t) != null && java.util.Arrays.binarySearch(b.skip(t), id) >= 0

  /** Any key id in `keys(from until until by step)` flagged in isMust?
    * (integer check, pre-materialization; true when no must-key test) */
  private def anyMust(isMust: Array[Boolean], keys: Array[Long],
      from: Int, until: Int, step: Int): Boolean = {
    if (isMust == null) return true
    var q = from
    while (q < until) {
      if (isMust(mustIx(keys(q), isMust.length))) return true
      q += step
    }
    false
  }

  /** Materializes `n` tags of slot `i`: key/value string ids at
    * `ks(k0 + step * j)` / `vs(v0 + step * j)`. */
  private def putTags(b: Block, i: Int, ks: Array[Long], k0: Int,
      vs: Array[Long], v0: Int, step: Int, n: Int): Unit = {
    val tk = new Array[String](n)
    val tv = new Array[String](n)
    var j = 0
    while (j < n) {
      tk(j) = str(b.strs, ks(k0 + step * j))
      tv(j) = str(b.strs, vs(v0 + step * j))
      j += 1
    }
    b.out.tagKeys(i) = tk
    b.out.tagVals(i) = tv
  }

  /** Fail-loudly guard for tag key/val wire arrays: a truncated or
    * odd-length span in a corrupt block must raise the same
    * 'malformed PrimitiveBlock' IOException as the
    * [[BlobSummary]] walk / [[mustIx]], never a raw
    * ArrayIndexOutOfBoundsException. */
  private def badKvSpan(what: String): Nothing =
    throw new java.io.IOException(
      s"malformed PrimitiveBlock: truncated tag key/val span ($what)")

  /** Bounds-checked string-table lookup for tag and role strings. */
  private def str(strs: Array[String], id: Long): String = {
    if (id < 0L || id >= strs.length)
      throw new java.io.IOException(
        s"malformed PrimitiveBlock: string id $id outside string table (size=${strs.length})")
    strs(id.toInt)
  }

  /** bounds-checked string-table id for the must-key test: a corrupt
    * block with a key id outside the string table raises the same
    * 'malformed pbf' framing error as the Proto.scala overrun guards
    * instead of an ArrayIndexOutOfBoundsException. */
  private def mustIx(id: Long, n: Int): Int = {
    if (id < 0L || id >= n)
      throw new IllegalArgumentException(
        s"malformed pbf: tag key id $id outside string table (size=$n)")
    id.toInt
  }
}
