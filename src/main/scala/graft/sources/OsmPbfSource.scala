package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.pbf._

/** Spark DataSource V2 for `.osm.pbf` files:
  * `spark.read.format("graft.sources.osmpbf").load(path)`.
  *
  * Design (SURVEY §1.4, §3.1): the reference reads blobs sequentially on
  * one thread (reference osmdata.py:95-125); here the driver only frames
  * the file (4-byte length + ~50-byte BlobHeader per 1-32 MB blob, via
  * seeks) and OSMData blobs are packed into InputPartitions with
  * Spark's FilePartition split formula (maxPartitionBytes cap,
  * openCost padding, bytes-per-core floor), so decompression + decode
  * run fully parallel across executors without creating one task per
  * blob — a 100 TB corpus plans ~128 MB splits, not ~6M tasks.
  * At 100 TB the framing pass reads ~3 MB per 100 GB file.
  *
  * Multi-file reads: a path with several files reads as one table
  * holding each (type, id) once, taken from the first file in path
  * order that holds it — adjacent region extracts share one global id
  * space and carry their border elements in both files. A blob's
  * shadows are the blobs of earlier files whose id span for a wanted
  * type overlaps its own ([[OsmPbfScan.shadowsOf]]); the reader walks
  * their ids (no element decode) and the decoder skips the ones the
  * blob also holds, so both readers and every pushdown below see the
  * one deduped stream. Duplicates inside one file are kept, as on a
  * single-file read.
  *
  * Pushdown:
  *  - `SupportsPushDownRequiredColumns` — skips protobuf field decode for
  *    unrequested columns (tags/refs/members/info), mirroring the
  *    reference's lazy decode (reference osmquery.py:325-333).
  *  - `SupportsPushDownFilters` — `type IN/= (...)` skips whole primitive
  *    groups before any element parse (reference osmquery.py:242-247);
  *    `id IN (...)` drops elements during decode, before row build
  *    (reference osmquery.py:262-276).
  */
object OsmPbfSource {
  val TypeNode: Byte = 0
  val TypeWay: Byte = 1
  val TypeRelation: Byte = 2

  /** Columns the vectorized (ColumnarBatch) read path emits; a scan
    * whose projection is a subset of these reads columnar, any other
    * reads rows. Both readers emit from the same decoded
    * [[graft.pbf.ElementBatch]]. Array columns (`refs`/`tags`/`members`)
    * are row-path-only: the row reader wraps each decoded array
    * zero-copy in a GenericArrayData, while a batch would pay
    * flat-buffer → vector → unsafe-row copies per element when
    * downstream operators (explode, map access) pull the arrays back
    * out — a columnar refs/tags tier was measured at parity at best and
    * retired (README "Columnar refs/tags tier"). */
  val scalarCols: Set[String] =
    Set("id", "type", "lat", "lon", "version", "timestamp", "changeset")

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("type", ByteType, nullable = false),
    StructField("lat", DoubleType, nullable = true),
    StructField("lon", DoubleType, nullable = true),
    StructField("tags", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("refs", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("members", ArrayType(StructType(Seq(
      StructField("role", StringType, nullable = false),
      StructField("ref", LongType, nullable = false),
      StructField("mtype", ByteType, nullable = false))), containsNull = false), nullable = false),
    StructField("version", IntegerType, nullable = true),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("changeset", LongType, nullable = true)))
}

class OsmPbfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osmpbf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = OsmPbfSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OsmPbfTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

class OsmPbfTable(path: String) extends Table with SupportsRead {
  require(path != null, "osm.pbf source requires .load(path)")
  override def name(): String = s"osmpbf:$path"
  override def schema(): StructType = OsmPbfSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OsmPbfScanBuilder(path,
      Option(options.get("mustTagKeys"))
        .map(_.split('\u0001').filter(_.nonEmpty)).orNull)
}

class OsmPbfScanBuilder(path: String, mustTagKeys: Array[String] = null)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = OsmPbfSource.schema
  private var wantTypes: Array[Boolean] = Array(true, true, true)
  private var idFilter: Option[Set[Long]] = None
  private var pushed: Array[Filter] = Array.empty
  // (groupByType, number of COUNT(*) columns) once an agg is pushed
  private var pushedCounts: Option[(Boolean, Int)] = None

  /** Partial COUNT(*) [GROUP BY type] pushdown, answered on the driver
    * from the cached blob summaries ([[OsmPbfCountScan]]); Spark plans
    * the final merge agg on top. Only COUNT(*) with no grouping or
    * grouped exactly by `type` qualifies; any pushed filter keeps the
    * row path (Spark only offers aggregates when no post-scan filter
    * remains, and this source conservatively re-checks every pushed
    * filter post-scan). A path whose planned blobs have shadows is
    * counted by the deduped row scan instead: the summaries count every
    * file's copy of a shared element. */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (idFilter.nonEmpty || mustTagKeys != null || !wantTypes.forall(identity)) return false
    val groupOk = aggregation.groupByExpressions.forall {
      case f: org.apache.spark.sql.connector.expressions.NamedReference =>
        f.fieldNames.length == 1 && f.fieldNames()(0) == "type"
      case _ => false
    }
    val aggs = aggregation.aggregateExpressions
    val aggsOk = aggs.nonEmpty && aggs.forall(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar])
    if (!groupOk || !aggsOk || OsmPbfScan.plan(path, wantTypes).exists(_._2.nonEmpty))
      return false
    pushedCounts = Some((aggregation.groupByExpressions.nonEmpty, aggs.length))
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("type", _) | In("type", _) => true
      case In("id", _) | EqualTo("id", _) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo("type", v: Any) =>
        val t = anyToByte(v)
        wantTypes = Array(t == 0, t == 1, t == 2)
      case In("type", vs) =>
        val ts = vs.map(anyToByte).toSet
        wantTypes = Array(ts.contains(0), ts.contains(1), ts.contains(2))
      case EqualTo("id", v: Any) => idFilter = Some(Set(anyToLong(v)))
      case In("id", vs) => idFilter = Some(vs.map(anyToLong).toSet)
      case _ =>
    }
    pushed = accepted
    // Conservatively keep pushed filters in the Spark plan too (exact
    // re-check is cheap; the win is skipped decode inside the scan).
    rest ++ accepted
  }

  private def anyToByte(v: Any): Byte = v match {
    case b: Byte => b
    case i: Int => i.toByte
    case l: Long => l.toByte
    case s: Short => s.toByte
    case other => other.toString.toByte
  }
  private def anyToLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => other.toString.toLong
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = pushedCounts match {
    case Some((groupByType, nCounts)) => new OsmPbfCountScan(path, groupByType, nCounts)
    case None =>
      new OsmPbfScan(path, required, wantTypes, idFilter, mustTagKeys)
  }
}

/** Scan produced when a COUNT(*) [GROUP BY type] aggregate is pushed:
  * a `LocalScan`, so Spark plans it as a `LocalTableScanExec` whose
  * rows are computed on the driver from the blob summaries of the
  * files under the path. No task reads a blob once the summaries are
  * cached; otherwise the one summary walk runs first and caches them.
  * Schema `[type?] ++ count(*) ...` (group columns first, as the
  * pushdown contract requires); Spark's rewritten final aggregate sums
  * them. A global count always has one row, so an empty file counts 0,
  * not null; a grouped count has no row for an absent type.
  *
  * On a multi-file path it is planned only when no blob has a shadow
  * (the files' id spans are disjoint), so no element is counted twice;
  * a path with overlapping files is counted by the deduped row scan. */
class OsmPbfCountScan(path: String, groupByType: Boolean, nCounts: Int)
    extends LocalScan {

  override def readSchema(): StructType = StructType(
    (if (groupByType) Seq(StructField("type", ByteType, nullable = false)) else Nil) ++
      (1 to nCounts).map(i => StructField(s"count_$i", LongType, nullable = false)))

  override def description(): String =
    s"OsmPbfCountScan(path=$path, groupBy=${if (groupByType) "type" else "<global>"})"

  override def rows(): Array[InternalRow] = {
    val total = OsmPbfStats.summaries(path).foldLeft(BlobSummary.empty)(_ + _._2)
    def row(lead: Seq[Any], c: Long): InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        (lead ++ Seq.fill(nCounts)(c)).toArray)
    if (groupByType)
      (0 to 2).filter(total.count(_) > 0).map(t => row(Seq(t.toByte), total.count(t))).toArray
    else Array(row(Nil, total.total))
  }
}

class OsmPbfScan(path: String, required: StructType,
    wantTypes: Array[Boolean], idFilter: Option[Set[Long]],
    mustTagKeys: Array[String] = null)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val planned = OsmPbfScan.plan(path, wantTypes)

  /** Planner statistics from the blob index: without them a DSv2 scan
    * sizes as `defaultSizeInBytes` (effectively infinite) and Catalyst
    * can NEVER choose a broadcast join over this source — so a tiny
    * city extract's node table was shuffle-joined like a 100 TB one.
    * The estimate is the type-pruned compressed byte count times a
    * deliberately HIGH expansion factor: overestimation only costs a
    * broadcast opportunity, underestimation could broadcast something
    * enormous. Row count stays unknown (computing it costs a decode
    * pass; sizeInBytes is what the join planner keys on). */
  override def estimateStatistics(): Statistics = {
    val bytes = math.max(1L,
      planned.map(_._1.dataLen.toLong).sum *
        OsmPbfScan.RowBytesPerCompressedByte)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows: java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
  override def description(): String = {
    val types = Seq("node", "way", "relation").zip(wantTypes)
      .collect { case (n, true) => n }.mkString(",")
    val must = if (mustTagKeys == null) ""
      else s", mustTags=${mustTagKeys.mkString("|")}"
    val nShadows = planned.map(_._2.length).sum
    val shadows = if (nShadows == 0) "" else s", shadows=$nShadows"
    s"OsmPbfScan(path=$path, types=$types, cols=${required.fieldNames.mkString(",")}$must$shadows)"
  }

  override def planInputPartitions(): Array[InputPartition] =
    OsmPbfScan.planPartitions(planned)

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmPbfReaderFactory(required, wantTypes,
      idFilter.map(_.toArray).orNull, mustTagKeys,
      columnar = required.fieldNames.forall(OsmPbfSource.scalarCols.contains))
}

object OsmPbfScan {
  /** UnsafeRow bytes per COMPRESSED blob byte assumed by the planner
    * statistics — deliberately conservative (high): zlib compresses the
    * delta-packed wire format ~2-4x on real extracts and the wire
    * format expands another ~3-6x when decoded into rows, so real
    * expansion is ~8-20x; synthetic grids compress far harder, but
    * overestimating only suppresses a broadcast (safe) while
    * underestimating could broadcast a huge side. */
  val RowBytesPerCompressedByte = 24L

  /** F10 — blob-level pruning: when a type filter is pushed, consult
    * (and lazily build, one parallel pass per file) the blob summaries
    * and drop blobs that hold no wanted type (reference
    * osmquery.py:242-247; the reference's first-pass cache plays this
    * role, SURVEY §4.1). */
  def prunedBlobs(path: String, wantTypes: Array[Boolean]): Seq[BlobInfo] =
    if (wantTypes.forall(identity)) OsmPbfFile.indexAll(path)
    else OsmPbfStats.summaries(path).collect { case (b, s) if holdsWanted(s, wantTypes) => b }

  private def holdsWanted(s: BlobSummary, wantTypes: Array[Boolean]): Boolean =
    (0 to 2).exists(t => wantTypes(t) && s.count(t) > 0)

  private val NoShadows = Array.empty[BlobInfo]

  /** The blobs a scan reads, in path order, each with its shadows. A
    * single file has none and plans from [[prunedBlobs]]; several files
    * need every blob's summary. Shared by partition planning, the
    * planner statistics, the description and the COUNT pushdown. */
  def plan(path: String, wantTypes: Array[Boolean]): Seq[(BlobInfo, Array[BlobInfo])] =
    if (OsmPbfFile.expand(path).size <= 1) prunedBlobs(path, wantTypes).map(_ -> NoShadows)
    else {
      val sums = OsmPbfStats.summaries(path).toIndexedSeq
      sums.zip(shadowsOf(sums, wantTypes)).collect {
        case ((b, s), sh) if holdsWanted(s, wantTypes) => b -> sh
      }
    }

  /** Per blob of `sums` (every blob under a path, in path order), its
    * shadows: the blobs of earlier files whose id span for a wanted type
    * overlaps the blob's own span for that type, in path order. One
    * sweep per type over the blobs sorted by span start: a blob leaves
    * the active set once its span ends before the next start, so the
    * work is the sort plus the overlapping pairs, never all pairs. */
  def shadowsOf(sums: IndexedSeq[(BlobInfo, BlobSummary)],
      wantTypes: Array[Boolean]): Array[Array[BlobInfo]] = {
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    (0 to 2).filter(wantTypes(_)).foreach { t =>
      val active = scala.collection.mutable.ArrayBuffer.empty[Int]
      sums.indices.filter(sums(_)._2.count(t) > 0).sortBy(sums(_)._2.minId(t)).foreach { i =>
        val lo = sums(i)._2.minId(t)
        active.filterInPlace(sums(_)._2.maxId(t) >= lo)
        // files come in path order, so of two files the later has the higher index
        active.foreach { j =>
          if (sums(j)._1.path != sums(i)._1.path) pairs += ((math.max(i, j), math.min(i, j)))
        }
        active += i
      }
    }
    val out = Array.fill(sums.size)(NoShadows)
    pairs.distinct.groupBy(_._1).foreach { case (i, ps) =>
      out(i) = ps.map(_._2).sorted.map(sums(_)._1).toArray
    }
    out
  }

  /** Pack the planned blobs into input partitions for the row and
    * columnar reads. */
  def planPartitions(planned: Seq[(BlobInfo, Array[BlobInfo])]): Array[InputPartition] = {
    val blobs = planned.map(_._1)
    // Pack blobs into splits with Spark's FilePartition formula: a
    // 100 TB corpus is ~6M blobs — one task per blob would swamp the
    // scheduler, so consecutive blobs coalesce up to maxSplitBytes,
    // while the openCost padding keeps small files on separate tasks
    // (full parallelism for a single city extract on local[32]).
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val bytesPerCore =
      blobs.map(_.dataLen.toLong + openCost).sum /
        math.max(org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism, 1)
    val maxSplit = math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
    val shadows = planned.iterator.map(_._2)
    packBlobs(blobs, maxSplit, openCost)
      .map(bs => OsmPbfPartition(bs.toArray, bs.map(_ => shadows.next()).toArray): InputPartition)
      .toArray
  }

  /** Greedy split packing, same semantics as Spark's
    * `FilePartition.getFilePartitions`: close the current split when
    * the next blob would exceed maxSplit; each blob contributes its
    * length plus openCost (so many tiny blobs don't collapse into one
    * task, and large ones coalesce toward maxSplit). */
  def packBlobs(blobs: Seq[BlobInfo], maxSplit: Long, openCost: Long): Seq[Seq[BlobInfo]] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[BlobInfo]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[BlobInfo]
    var size = 0L
    blobs.foreach { b =>
      if (cur.nonEmpty && size + b.dataLen > maxSplit) {
        parts += cur.toSeq
        cur = scala.collection.mutable.ArrayBuffer.empty[BlobInfo]
        size = 0L
      }
      cur += b
      size += b.dataLen + openCost
    }
    if (cur.nonEmpty) parts += cur.toSeq
    parts.toSeq
  }
}

/** A read task's blobs, and per blob its shadows (see [[OsmPbfScan.shadowsOf]]). */
case class OsmPbfPartition(blobs: Array[BlobInfo], shadows: Array[Array[BlobInfo]])
    extends InputPartition

/** The osmpbf source's summary walk: the [[graft.pbf.BlobSummary]] of
  * every blob under a path, cached per file version with its framing
  * index ([[graft.pbf.OsmPbfFile.summarized]]). Files not summarized
  * yet are walked by one parallel Spark job (inflate + field-tag walk,
  * no element decode); later type-pruned, multi-file and counted scans
  * read the cache. */
object OsmPbfStats {
  def summaries(path: String): Seq[(BlobInfo, BlobSummary)] =
    OsmPbfFile.summarized(path, blobs =>
      org.apache.spark.sql.SparkSession.active.sparkContext
        .parallelize(blobs, math.min(blobs.size, 64).max(1))
        .map(b => BlobSummary.of(OsmPbfFile.readBlob(b, OsmPbfFile.sharedConf)))
        .collect().toSeq)

  /** The summaries of `blobs`, an index of the files under `path` (as
    * from `OsmPbfFile.indexAll(path)`), summarizing any file not
    * summarized yet. */
  def ranges(path: String, blobs: Seq[BlobInfo]): Seq[BlobSummary] = {
    val byBlob = summaries(path).toMap
    blobs.map(byBlob)
  }
}

class OsmPbfReaderFactory(schema: StructType, wantTypes: Array[Boolean],
    idFilterArr: Array[Long], mustTagKeys: Array[String] = null,
    columnar: Boolean = false)
    extends PartitionReaderFactory {

  // Constant across partitions, so Spark's all-or-nothing columnar
  // requirement (Scan.ColumnarSupportMode.PARTITION_DEFINED) holds.
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  private def batches(partition: InputPartition): OsmPbfBatches =
    new OsmPbfBatches(partition.asInstanceOf[OsmPbfPartition], schema.fieldNames, wantTypes,
      if (idFilterArr == null) null else idFilterArr.toSet, mustTagKeys)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OsmPbfPartitionReader(batches(partition), schema.fieldNames)

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new OsmPbfColumnarReader(batches(partition), schema)
}

/** A partition's blobs, read and decoded one PrimitiveBlock at a time
  * into [[graft.pbf.ElementBatch]]es — the one decode both readers
  * emit from. Only the columns the scan requires are decoded; blocks
  * the type, id or must-key filters empty out are skipped. A blob with
  * shadows first reads them through the same [[graft.pbf.BlobReader]]
  * and skips the ids they hold. */
final class OsmPbfBatches(p: OsmPbfPartition, fieldNames: Array[String],
    wantTypes: Array[Boolean], idFilter: Set[Long], mustTagKeys: Array[String])
    extends AutoCloseable {

  private val needs = DecodeNeeds(
    tags = fieldNames.contains("tags"),
    refs = fieldNames.contains("refs"),
    members = fieldNames.contains("members"),
    info = fieldNames.exists(f => f == "version" || f == "timestamp" || f == "changeset"),
    coords = fieldNames.exists(f => f == "lat" || f == "lon"))

  private val blobReader = new BlobReader(OsmPbfFile.sharedConf)
  private var i = 0

  /** The next non-empty batch, or null once the partition is done. */
  def next(): ElementBatch = {
    while (i < p.blobs.length) {
      val block = blobReader.read(p.blobs(i))
      val shadows = p.shadows(i)
      val skip = if (shadows.isEmpty) null
        else BlobSummary.shadowedIds(block, shadows.iterator.map(blobReader.read), wantTypes)
      i += 1
      val b = BlockDecoder.decodeBatch(block, wantTypes, needs, mustTagKeys, idFilter, skip)
      if (b.n > 0) return b
    }
    null
  }

  override def close(): Unit = blobReader.close()
}

/** Vectorized read path: one `ColumnarBatch` per PrimitiveBlock, columns
  * bulk-copied from the [[graft.pbf.ElementBatch]] scalar arrays
  * (scalar columns only — see [[OsmPbfSource.scalarCols]] for why
  * array columns stay on the row path). Saves the row path's
  * per-element `InternalRow` construction on the scalar scans that
  * dominate OSM work (the 7M-row node coordinate table, type counts);
  * downstream operators read the vectors through Spark's codegen'd
  * ColumnarToRow. The reference's equivalent is its vectorized
  * dense-node parser (reference dense.py:83-180). */
class OsmPbfColumnarReader(batches: OsmPbfBatches, schema: StructType)
    extends PartitionReader[ColumnarBatch] {

  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    val eb = batches.next()
    if (eb != null) batch = toBatch(eb)
    batch != null
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    if (batch != null) { batch.close(); batch = null }
    batches.close()
  }

  private def toBatch(sb: ElementBatch): ColumnarBatch = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val n = sb.n
    var nodesOnly = true
    var i = 0
    while (i < n && nodesOnly) { nodesOnly = sb.types(i) == OsmPbfSource.TypeNode; i += 1 }
    val vecs = OnHeapColumnVector.allocateColumns(n, schema)
    var c = 0
    while (c < vecs.length) {
      val v = vecs(c)
      schema.fields(c).name match {
        case "id" => v.putLongs(0, n, sb.ids, 0)
        case "type" => v.putBytes(0, n, sb.types, 0)
        case "lat" =>
          if (nodesOnly) v.putDoubles(0, n, sb.lats, 0)
          else {
            var r = 0
            while (r < n) {
              if (sb.types(r) == OsmPbfSource.TypeNode) v.putDouble(r, sb.lats(r))
              else v.putNull(r)
              r += 1
            }
          }
        case "lon" =>
          if (nodesOnly) v.putDoubles(0, n, sb.lons, 0)
          else {
            var r = 0
            while (r < n) {
              if (sb.types(r) == OsmPbfSource.TypeNode) v.putDouble(r, sb.lons(r))
              else v.putNull(r)
              r += 1
            }
          }
        case "version" =>
          var r = 0
          while (r < n) {
            if (sb.hasInfo(r)) v.putInt(r, sb.versions(r)) else v.putNull(r)
            r += 1
          }
        case "timestamp" =>
          var r = 0
          while (r < n) {
            if (sb.hasInfo(r)) v.putLong(r, sb.tsMicros(r)) else v.putNull(r)
            r += 1
          }
        case "changeset" =>
          var r = 0
          while (r < n) {
            if (sb.hasInfo(r)) v.putLong(r, sb.changesets(r)) else v.putNull(r)
            r += 1
          }
        case other => throw new IllegalArgumentException(s"unknown columnar column $other")
      }
      c += 1
    }
    new ColumnarBatch(vecs.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]], n)
  }
}

/** Row read path: one `InternalRow` per [[graft.pbf.ElementBatch]]
  * slot. Decoded arrays wrap zero-copy into GenericArrayData. */
class OsmPbfPartitionReader(batches: OsmPbfBatches, fieldNames: Array[String])
    extends PartitionReader[InternalRow] {

  private var b: ElementBatch = _
  private var i = 0

  override def next(): Boolean = {
    i += 1
    if (b == null || i >= b.n) { b = batches.next(); i = 0 }
    b != null
  }

  // column → small int code once per reader, not a string match per row
  private val colCodes: Array[Int] = fieldNames.map {
    case "id" => 0
    case "type" => 1
    case "lat" => 2
    case "lon" => 3
    case "tags" => 4
    case "refs" => 5
    case "members" => 6
    case "version" => 7
    case "timestamp" => 8
    case "changeset" => 9
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  private def utf8(ss: Array[String]): GenericArrayData =
    new GenericArrayData(if (ss == null) Array.empty[Any] else ss.map(s => UTF8String.fromString(s): Any))

  override def get(): InternalRow = {
    val node = b.types(i) == OsmPbfSource.TypeNode
    val info = b.hasInfo(i)
    val row = new Array[Any](colCodes.length)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case 0 => b.ids(i)
        case 1 => b.types(i)
        case 2 => if (node) b.lats(i) else null
        case 3 => if (node) b.lons(i) else null
        case 4 => new ArrayBasedMapData(utf8(b.tagKeys(i)), utf8(b.tagVals(i)))
        case 5 => new GenericArrayData(if (b.refs(i) == null) Array.empty[Long] else b.refs(i))
        case 6 =>
          val refs = b.memberRefs(i)
          new GenericArrayData(if (refs == null) Array.empty[Any] else refs.indices.map { j =>
            InternalRow(UTF8String.fromString(b.memberRoles(i)(j)), refs(j), b.memberTypes(i)(j))
          }.toArray[Any])
        case 7 => if (info) b.versions(i) else null
        case 8 => if (info) b.tsMicros(i) else null
        case 9 => if (info) b.changesets(i) else null
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(row)
  }

  override def close(): Unit = batches.close()
}
