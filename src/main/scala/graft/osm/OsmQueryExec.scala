package graft.osm

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.Wkb
import graft.geom.Wkb.Coord
import graft.operators.Checkpoints

/** Compiles an [[OsmQuery]] into a Spark dataflow over the osmpbf
  * DataSource (SURVEY §3.2): one declarative plan instead of the
  * reference's per-block compile/execute/merge loop
  * (reference osmdata.py:183-259) — Catalyst handles pushdown and AQE
  * picks join strategies; blob-granular partitions replace per-block
  * skipping.
  *
  * Scale notes (the node-coordinate join is THE critical join, SURVEY
  * §7.3 risk 1): every geometry query assembles its ways through one
  * shared plan ([[GeometryBuilder.waySequences]]) that joins the
  * exploded refs to the node table with a measured broadcast vs
  * shuffle_hash choice; per-way and per-relation walks then run over
  * key-sorted partitions, whose groups are bounded by OSM data (ways
  * ≤ 2000 nodes, relation member lists are small), so no group can
  * blow an executor.
  */
object OsmQueryExec {

  import graft.sources.OsmPbfSource.{TypeNode, TypeRelation, TypeWay}

  val RelationLine: Seq[String] = Seq("route")
  val RelationArea: Seq[String] = Seq("multipolygon", "boundary")

  /** Above this many ids, F2 id-set lookup switches from literal
    * `isin` (scan-pushable, but a plan-exploding In expression at
    * scale) to a broadcast left-semi join. */
  private[osm] val LargeIdSetThreshold = 1000

  // ------------------------------------------------------------------

  /** Splits a key-sorted iterator into runs of equal key, each run
    * buffered in input order — the per-way / per-relation walks below
    * hold one run at a time (OSM bounds a way at 2000 nodes and a
    * relation's member list is small). */
  private[osm] def keyRuns[T](it: Iterator[T])(key: T => Long): Iterator[ArrayBuffer[T]] = {
    val in = it.buffered
    new Iterator[ArrayBuffer[T]] {
      override def hasNext: Boolean = in.hasNext
      override def next(): ArrayBuffer[T] = {
        val k = key(in.head)
        val run = ArrayBuffer.empty[T]
        while (in.hasNext && key(in.head) == k) run += in.next()
        run
      }
    }
  }

  /** keep/exclude pair+key match over the tags map — one side of the
    * `_validate_tagval` truth table (reference primitives.py:186-215),
    * as one native [[graft.functions.TagMatch]] call. Empty value list =
    * any value (key-only match). */
  private[osm] def tagMatch(tags: Column, spec: Map[String, Seq[String]]): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    column(graft.functions.TagMatch(expression(tags), graft.functions.TagTable(spec)))
  }

  /** Full element-keep predicate, exactly the reference formula:
    * keepFirst ? (kps && !exs) : (!exs || kps)
    * — including the documented edge case that an element with no
    * matching information resolves to `!keepFirst`
    * (reference primitives.py:186-215). */
  def tagPredicate(q: OsmQuery, tags: Column): Column = {
    val kps = q.keep.map(tagMatch(tags, _)).getOrElse(lit(false))
    val exs = q.exclude.map(tagMatch(tags, _)).getOrElse(lit(false))
    val noTagval = q.mustTags.isEmpty && q.keep.isEmpty && q.exclude.isEmpty
    val body =
      if (noTagval) lit(!q.keepFirst)
      else if (q.keepFirst) kps && !exs
      else !exs || kps
    mustPredicate(q, tags) && body
  }

  /** The must-tag conjunct (F3): the element carries at least one of
    * the query's must keys. Over an osmpbf scan, the `MustTagPushdown`
    * optimizer rule turns it into the decoder's `mustTagKeys` option. */
  private def mustPredicate(q: OsmQuery, tags: Column): Column =
    if (q.mustTags.isEmpty) lit(true)
    else arrays_overlap(map_keys(tags), array(q.mustTags.map(lit): _*))

  /** Way line/area heuristic (SURVEY §2.7 R7) — the native
    * [[graft.functions.WayIsArea]] expression, which holds the
    * reference's tag tables. */
  def wayIsArea(tags: Column, refs: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    column(graft.functions.WayIsArea(expression(tags), expression(refs)))
  }

  /** Relation geometry dispatch (reference primitives.py:288-305):
    * 0 none / 2 line / 3 area; relations with node or relation members
    * get no geometry (documented limitation Q6, super-relations are not
    * expanded — reference osmdata.py:192 TODO). With
    * `expandSuperRelations` on, only NODE members disqualify: relation
    * members are legal because [[expandMembers]] flattens them to ways
    * before assembly. */
  def relGeomClass(tags: Column, members: Column,
      expandSuperRelations: Boolean = false): Column = {
    // min/max and array_contains over the member types instead of a
    // higher-order `exists`: that lambda is interpreted (CodegenFallback)
    // and would take the whole relation Filter out of whole-stage codegen
    val mtypes = members.getField("mtype")
    val disqualified =
      if (expandSuperRelations) array_contains(mtypes, lit(TypeNode))
      else array_min(mtypes) =!= TypeWay || array_max(mtypes) =!= TypeWay
    val t = try_element_at(tags, lit("type"))
    when(size(members) === 0 || disqualified, 0)
      .when(t.isin(RelationLine.map(v => v: Any): _*), 2)
      .when(t.isin(RelationArea.map(v => v: Any): _*), 3)
      .otherwise(0)
  }

  /** Opt-in super-relation expansion (the reference's documented TODO,
    * osmdata.py:192): relation members of a geometry relation are
    * recursively replaced by THEIR members, `depth` joins against the
    * unfiltered relation pass. Semantics:
    *  - member ORDER is hierarchical: a zero-padded position path
    *    ("00003.00001.00007") sorts expanded members where the
    *    sub-relation sat in its parent, then renumbers to a dense
    *    integer mpos for the assembler;
    *  - member ways take the SUB-relation's roles (a sub-boundary's
    *    inner/outer assignment is authoritative; its own membership
    *    role in the parent is not);
    *  - node members are ignored at every level, like the unexpanded
    *    path; relations deeper than `depth` are dropped (bounded work,
    *    and the bound also terminates membership cycles, which exist
    *    in real planet files);
    *  - a way or sub-relation reachable through MULTIPLE paths (diamond
    *    membership, cycles) is kept once per (root, ref) at its
    *    smallest path — without this, a 2-cycle would duplicate every
    *    ring below it.
    * Scale: each level is one equi-join of the (small) frontier against
    * the relation table plus a posexplode — no driver recursion; the
    * final renumbering window partitions by root relation id whose
    * groups are member lists, bounded like every other per-relation
    * structure. */
  private[osm] def expandMembers(exploded: DataFrame, all: DataFrame,
      depth: Int): DataFrame = {
    val allRels = all.filter(col("type") === TypeRelation)
      .select(col("id").as("sub_id"), col("members").as("sub_members"))
    val withPath = exploded.select(col("rel_id"), col("gclass"),
      format_string("%05d", col("mpos")).as("path"),
      col("m.role").as("role"), col("m.mtype").as("mtype"), col("m.ref").as("ref"))
    // keep one row per (root, ref), at the smallest path; struct min is
    // deterministic (path, then role)
    def dedup(df: DataFrame): DataFrame = df
      .groupBy(col("rel_id"), col("gclass"), col("ref"))
      .agg(min(struct(col("path"), col("role"))).as("pr"))
      .select(col("rel_id"), col("gclass"), col("pr.path").as("path"),
        col("pr.role").as("role"), col("ref"))
    var ways = withPath.filter(col("mtype") === TypeWay)
      .select(col("rel_id"), col("gclass"), col("path"), col("role"), col("ref"))
    var frontier = dedup(withPath.filter(col("mtype") === TypeRelation))
    (1 to depth).foreach { _ =>
      val sub = frontier
        .join(allRels, col("ref") === col("sub_id"))
        .select(col("rel_id"), col("gclass"), col("path").as("ppath"),
          posexplode(col("sub_members")).as(Seq("sub_pos", "sm")))
        .select(col("rel_id"), col("gclass"),
          concat(col("ppath"), lit("."),
            format_string("%05d", col("sub_pos"))).as("path"),
          col("sm.role").as("role"), col("sm.mtype").as("mtype"),
          col("sm.ref").as("ref"))
      ways = ways.union(sub.filter(col("mtype") === TypeWay)
        .select(col("rel_id"), col("gclass"), col("path"), col("role"), col("ref")))
      frontier = dedup(sub.filter(col("mtype") === TypeRelation))
    }
    import org.apache.spark.sql.expressions.Window
    // Duplicate DIRECT membership (the same way listed at two
    // positions, e.g. an out-and-back route) is legal and preserved —
    // the unexpanded path keeps both rows, so expansion must not
    // rewrite relations that have no sub-relations at all. The
    // (root, ref) dedup is the diamond/cycle guard and applies only to
    // rows reached THROUGH expansion (path contains '.'); an expanded
    // ref already present as a direct member is suppressed entirely.
    val direct = ways.filter(!col("path").contains("."))
    val expanded = dedup(ways.filter(col("path").contains(".")))
      .join(direct.select(col("rel_id").as("d_rel"), col("ref").as("d_ref"))
          .distinct(),
        col("rel_id") === col("d_rel") && col("ref") === col("d_ref"),
        "left_anti")
    direct.unionByName(expanded)
      .withColumn("mpos", row_number().over(
        Window.partitionBy("rel_id").orderBy("path")) - 1)
      .select(col("rel_id"), col("gclass"), col("mpos"), col("role"),
        col("ref").as("wref"))
  }

  // ------------------------------------------------------------------

  def run(spark: SparkSession, path: String, q: OsmQuery): DataFrame =
    run(spark, spark.read.format("osmpbf").load(path), q)

  /** The one OSM plan builder: every branch (filtered elements, node
    * coordinates, member ways, topology attributes) derives from
    * `all`. Pass a `.persist()`ed scan to get the reference's cache
    * semantics (one decode, many queries; reference osmdata.py caches,
    * SURVEY §4.3 delta 2). Must-tag pushdown is not wired here: the
    * query's must set is a Filter conjunct on the element and
    * attribute branches, and the `MustTagPushdown` rule registered by
    * `GraftExtensions` pushes it into the decoder wherever that Filter
    * sits on an osmpbf scan. A session without the extension gets the
    * same rows, decoded without the pruning. */
  def run(spark: SparkSession, all: DataFrame, q: OsmQuery): DataFrame = {

    val typeCond = {
      val wanted = Seq(TypeNode -> q.nodes, TypeWay -> q.ways, TypeRelation -> q.relations)
        .collect { case (t, true) => t }
      require(wanted.nonEmpty, "query must select at least one of nodes/ways/relations")
      col("type").isin(wanted.map(t => t: Any): _*)
    }
    val idSets = Seq(q.nodeIds.map(TypeNode -> _), q.wayIds.map(TypeWay -> _)).flatten
    val smallIdSets = idSets.forall(_._2.size <= LargeIdSetThreshold)
    val idCond = {
      // F2 small-set path: literal isin, pushed into the scan. Large
      // sets switch to a broadcast semi-join below (a million-literal
      // In expression explodes the plan; SURVEY §2.2 F2).
      if (idSets.isEmpty || !smallIdSets) lit(true)
      else {
        val conds = idSets.map { case (t, ids) =>
          col("type") === t && col("id").isin(ids.map(i => i: Any): _*)
        }
        // element types without an id set stay unrestricted
        conds.reduce(_ || _) || !col("type").isin(idSets.map(_._1: Any): _*)
      }
    }
    val relTypeCond = q.relationType match {
      case Some(ts) => col("type") =!= TypeRelation ||
        coalesce(try_element_at(col("tags"), lit("type")).isin(ts.map(v => v: Any): _*), lit(false))
      case None => lit(true)
    }

    var el = all.filter(typeCond && idCond && relTypeCond && tagPredicate(q, col("tags")))
    if (idSets.nonEmpty && !smallIdSets) {
      // F2 large-set path: broadcast left-semi join on (type, id) for
      // the restricted types; unrestricted types pass through
      import spark.implicits._
      val idsDf = broadcast(
        idSets.flatMap { case (t, ids) => ids.map(id => (id, t)) }
          .toDF("id", "type"))
      val restrictedTypes = idSets.map(_._1)
      val restricted = el
        .filter(col("type").isin(restrictedTypes.map(t => t: Any): _*))
        .join(idsDf, Seq("id", "type"), "left_semi")
      val unrestricted = el
        .filter(!col("type").isin(restrictedTypes.map(t => t: Any): _*))
      el = restricted.unionByName(unrestricted)
    }
    // min-points way filter (reference primitives.py:76-78) — geometry
    // queries drop degenerate ways before the coordinate join
    if (q.geometry) el = el.filter(col("type") =!= TypeWay || size(col("refs")) >= 2)

    val nodes = all.filter(col("type") === TypeNode)
      .select(col("id").as("nid"), col("lon"), col("lat"))
    // topology's attribute rows come from a second, refs-free scan of
    // the ways passing the tag predicate: sharing one checkpoint of the
    // filtered ways was measured 2x slower at 7M nodes
    // (OPTIMIZATION_r22.md)
    val result =
      if (q.topology) Topology.build(spark, el,
        all.filter(col("type") === TypeWay && tagPredicate(q, col("tags"))), nodes)
      else if (q.geometry) GeometryBuilder.build(spark, all, el, q, nodes)
      else el

    project(result, q)
  }

  /** Hard ceiling on the number of distinct tag keys [[pivotTags]] will
    * collect to the driver, configurable via
    * `spark.graft.pivot.maxKeys`. The vocabulary-bounded argument below
    * holds for curated queries, but a hostile or dirty extract
    * (real planet files carry `tiger:*`/`gnis:*` per-element key
    * explosions) can make distinct-key cardinality O(elements); the cap
    * turns a silent driver OOM into a loud, actionable error
    * (VERDICT r10 task 4). */
  private[graft] val DefaultPivotMaxKeys = 10000

  /** Dynamic tag pivot (reference _frame.py:59-68 unstack semantics):
    * discover the keys occurring in a result's `tags` map at action
    * time and project one column per key (sorted) in the map column's
    * place. The driver-side collect is of distinct key STRINGS of the
    * already-filtered result only — bounded by the tag vocabulary
    * (~10⁴ keys in active OSM use), not the corpus — and defensively
    * capped at `spark.graft.pivot.maxKeys` (default 10k): keys are
    * collected through a `limit(cap + 1)`, so a key-explosion extract
    * fails fast with at most cap+1 strings on the driver instead of
    * OOMing it. */
  def pivotTags(base: DataFrame): DataFrame = {
    require(base.columns.contains("tags"), "pivotTags needs a `tags` map column")
    val maxKeys = {
      val raw = base.sparkSession.conf
        .get("spark.graft.pivot.maxKeys", DefaultPivotMaxKeys.toString)
      val v =
        try raw.trim.toInt
        catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.pivot.maxKeys must be an integer, got '$raw'", e)
        }
      if (v <= 0) Int.MaxValue else v
    }
    // collect THROUGH a limit of maxKeys+1: driver memory stays bounded
    // by the cap even when the extract carries millions of distinct
    // keys, and overflow detection costs no second job (guard the +1
    // against Int overflow when the cap is disabled)
    val probeLimit = if (maxKeys == Int.MaxValue) Int.MaxValue else maxKeys + 1
    val collected = base.select(explode(map_keys(col("tags"))).as("k"))
      .distinct().limit(probeLimit).collect()
    if (collected.length > maxKeys) throw new IllegalStateException(
      s"pivotTags: result has more than $maxKeys distinct tag keys — " +
        "pivoting would create that many columns and collect every key " +
        "string to the driver. Filter tags first (keep/exclude/tag " +
        "projection) or raise spark.graft.pivot.maxKeys explicitly.")
    val keys = collected.map(_.getString(0)).sorted
    val cols = base.columns.toSeq.flatMap {
      case "tags" => keys.map(k => try_element_at(col("tags"), lit(k)).as(k))
      case c => Seq(col(c))
    }
    base.select(cols: _*)
  }

  /** Result-shape projection (reference _frame.py:8-57 to_dataframe):
    * osmid, osmtype, tag columns per the projection mode, optional
    * metadata, optional geometry/topology columns. */
  private def project(df: DataFrame, q: OsmQuery): DataFrame = {
    val base = Seq(col("id").as("osmid"), col("type").as("osmtype"))
    val tagCols = q.tags match {
      case None => Seq(col("tags"))
      case Some(ks) => ks.map(k => try_element_at(col("tags"), lit(k)).as(k))
    }
    val metaCols =
      if (q.metadata) Seq(col("version"), col("timestamp"), col("changeset"))
      else Nil
    val geomCols =
      if (q.topology) Seq(col("source"), col("target"), col("geometry"), col("geom_type"))
      else if (q.geometry) Seq(col("geometry"), col("geom_type"))
      else Nil
    df.select(base ++ tagCols ++ metaCols ++ geomCols: _*)
  }
}

/** Geometry assembly: points (G1), way linestrings/polygons (G2/G3 via
  * the R7 heuristic), relation multipolygon/route assembly
  * (G5-G8, J3-J6). */
object GeometryBuilder {

  import OsmQueryExec._
  import graft.sources.OsmPbfSource.{TypeNode, TypeRelation, TypeWay}

  private[osm] case class GeomRow(id: Long, geometry: Array[Byte], geom_type: String)

  /** [[coordJoin]] broadcasts the exploded way-ref rows when their
    * MEASURED count is at or below this (≈ 200 MB hashed). */
  private[graft] val RefsBroadcastRows = 4000000L

  /** Attach node coordinates to exploded (…, ref) way-ref rows —
    * the geometry path's one big join — choosing the strategy from the
    * MEASURED exploded size, not an estimate. The exploded rows are
    * lazily checkpointed through [[graft.operators.Checkpoints.truncate]]
    * (counting the checkpointed RDD is the materializing action, and
    * the join consumes the same blocks — with the default local
    * checkpoint nothing runs twice), then:
    *  - small side (≤ `broadcastRows`, default [[RefsBroadcastRows]]):
    *    BROADCAST the refs. This removes BOTH exchanges — the
    *    multi-million-row node table streams straight
    *    out of the pruned scan with no shuffle at all (measured at the
    *    2M-node world: 12.8 → 2.7 CPU-s steady state for the join
    *    stage). The reference's workload is exactly this shape: a city
    *    extract whose wanted-way refs are a few MB.
    *  - large side: scale-safe SHUFFLE_HASH, unchanged — a
    *    planet-scale corpus exceeds any sane broadcast and pays the
    *    two exchanges it genuinely needs (no sort of either side; the
    *    per-way walk repartitions by way id right after).
    * The scan's own planner statistics cannot drive this choice: they
    * deliberately overestimate (safe for suppressing broadcasts of the
    * whole scan) and say nothing about the post-filter ref volume.
    *
    * Observed crossover (round 19, CoordJoinProbe — VERDICT r18
    * task 8, bench/coordjoin_probe_r19.json; per-rep min-wall
    * shuffle, strategy read from the POST-execution adaptive plan):
    * at the 2M-node / 100k-way BigWorld the highways-geometry
    * workload explodes ~0.6M refs → broadcast tier, ~2.3 s wall,
    * ~8 MB shuffle (the per-way walk's repartition; the join itself
    * exchanges nothing). At the 10× world (20M nodes / 1M ways) the
    * ~6M exploded refs cross the 4M threshold → SHUFFLE_HASH holds
    * (AQE does not convert it back at runtime), ~6.7 s wall, ~413 MB
    * shuffle — 10× the data at ~3× the wall, the sublinear scaling
    * the threshold design predicts. The probe exits 1 if either side
    * of the crossover ever plans the other strategy.
    *
    * @param broadcastRows tests pass 0 to force the shuffle_hash side */
  private[osm] def coordJoin(exploded: DataFrame, nodes: DataFrame,
      broadcastRows: Long = RefsBroadcastRows): DataFrame =
    measuredCoordJoin(exploded, nodes, broadcastRows)._1

  /** [[coordJoin]], plus the checkpointed exploded rows it joined and
    * whether it took the broadcast side. */
  private def measuredCoordJoin(exploded: DataFrame, nodes: DataFrame,
      broadcastRows: Long): (DataFrame, DataFrame, Boolean) = {
    val expC = Checkpoints.truncate(exploded)
    // count the checkpointed RDD itself: a `count()` query would plan
    // (and compile) two aggregation stages just to size the join. Local
    // and reliable checkpoints both plan as a LogicalRDD
    val rows = expC.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.count()
      case _ => expC.count()
    }
    val small = rows <= broadcastRows
    val joined =
      if (small) broadcast(expC).join(nodes, col("ref") === col("nid"))
      else expC.hint("shuffle_hash").join(nodes, col("ref") === col("nid"))
    (joined, expC, small)
  }

  /** The way-sequence assembly every geometry consumer shares (pois,
    * highways, buildings and topology): `(id, refs)` in, one
    * `(wid, refs, xs, ys)` row per input way with refs out, where
    * `xs(i)`/`ys(i)`
    * are the coordinates of node `refs(i)`, NaN where that node is
    * missing from the extract.
    *
    * Its input is cut off by [[coordJoin]]'s narrow checkpoint of
    * the exploded `(wid, pos, ref)` rows, so every plan above it (the
    * coordinate join and the per-way walk) reads the same three-column
    * RDD whatever query feeds it: their generated classes are
    * byte-identical across queries and Spark's codegen cache compiles
    * them once per session. The walk takes the refs from the exploded
    * rows and the coordinates from the joined ones, so a ref whose node
    * the inner coordinate join dropped still keeps its position. The
    * result is a lazy checkpoint too: buildings reads it twice.
    *
    * @return the sequences and whether they are small enough (by the
    *   measured exploded-ref count) to broadcast into a consumer join */
  private[osm] def waySequences(ways: DataFrame, nodes: DataFrame,
      broadcastRows: Long = RefsBroadcastRows): (DataFrame, Boolean) = {
    val spark = ways.sparkSession
    import spark.implicits._
    val (joined, expC, small) = measuredCoordJoin(
      ways.select(col("id").as("wid"), posexplode(col("refs")).as(Seq("pos", "ref"))),
      nodes, broadcastRows)
    val refRows = expC.select(col("wid"), col("pos"), col("ref"),
      lit(Double.NaN).as("lon"), lit(Double.NaN).as("lat"))
    val seqs = refRows.union(joined.select(col("wid"), col("pos"), col("ref"), col("lon"), col("lat")))
      .repartition(col("wid"))
      .sortWithinPartitions("wid", "pos")
      .as[(Long, Int, Long, Double, Double)]
      .mapPartitions(it => keyRuns(it)(_._1).map { rows =>
        // every position has its ref row; a present node adds one
        // coordinate row at the same position
        val n = rows.last._2 + 1
        val refs = new Array[Long](n)
        val xs = Array.fill(n)(Double.NaN)
        val ys = Array.fill(n)(Double.NaN)
        rows.foreach { r =>
          refs(r._2) = r._3
          if (!r._4.isNaN) { xs(r._2) = r._4; ys(r._2) = r._5 }
        }
        (rows.head._1, refs, xs, ys)
      })
      .toDF("wid", "refs", "xs", "ys")
    (Checkpoints.truncate(seqs), small)
  }

  /** Points (G1), way linestrings/polygons (G2/G3) and relation
    * geometry (G5-G8) in ONE final plan: the filtered elements
    * left-join the way sequences and the assembled relations on
    * (type, id), and one codegen'd expression per type builds the WKB.
    * One scan branch and one join, instead of a union of per-type
    * branches, keeps the query-specific plan to a few compiled stages.
    *
    * @param el filtered elements (nodes/ways/relations per query)
    * @param nodes full node coordinate table (nid, lon, lat) */
  def build(spark: SparkSession, all: DataFrame, el: DataFrame, q: OsmQuery,
      nodes: DataFrame): DataFrame = {
    import spark.implicits._

    val out = Seq("id", "type", "tags", "version", "timestamp", "changeset").map(col) :+
      col("geometry") :+ col("geom_type")
    val isNode = col("type") === TypeNode
    val isWay = col("type") === TypeWay

    // G1 alone: a pure expression, no join at all
    if (!q.ways && !q.relations) return el
      .withColumn("geometry", pointWkb(col("lon"), col("lat")))
      .withColumn("geom_type", lit("Point"))
      .select(out: _*)

    // the relation path consumes the filtered elements several times;
    // they are small by construction (elements passing the query's
    // must filter), so a lazy checkpoint decodes them once
    val elG = if (q.relations) Checkpoints.truncate(el) else el
    val elWays = elG.filter(isWay)

    // G5-G8 member ways of the geometry relations (J3: a second pruned
    // scan of all ways replaces the reference's second query pass,
    // reference osmdata.py:194-206)
    val members: Option[DataFrame] = if (!q.relations) None else Some {
      val exploded = elG.filter(col("type") === TypeRelation)
        .withColumn("gclass",
          relGeomClass(col("tags"), col("members"), q.expandSuperRelations))
        .filter(col("gclass").isin(2, 3))
        .select(col("id").as("rel_id"), col("gclass"),
          posexplode(col("members")).as(Seq("mpos", "m")))
      if (!q.expandSuperRelations)
        exploded.filter(col("m.mtype") === TypeWay)
          .select(col("rel_id"), col("gclass"), col("mpos"),
            col("m.role").as("role"), col("m.ref").as("wref"))
      else expandMembers(exploded, all, q.superRelationDepth)
    }

    // ONE sequence build serves the standalone ways and the relation
    // members; member ways may be outside the filtered set, so their
    // refs come from an unfiltered way pass over the same source
    val wayRefs = members match {
      case None => elWays.select(col("id"), col("refs"))
      case Some(ms) =>
        // the wanted way ids in one pass over the elements when the
        // members are the direct ones: each way itself, each geometry
        // relation's way members
        val wanted =
          if (q.expandSuperRelations) ms.select(col("wref").as("wanted"))
            .union(elWays.select(col("id").as("wanted")))
          else elG.select(col("type"), col("id"), explode_outer(col("members")).as("m"),
              relGeomClass(col("tags"), col("members")).as("gclass"))
            .filter(isWay || (col("gclass").isin(2, 3) && col("m.mtype") === TypeWay))
            .select(when(isWay, col("id")).otherwise(col("m.ref")).as("wanted"))
        all.filter(isWay).select(col("id"), col("refs"))
          .join(wanted, col("id") === col("wanted"), "left_semi")
    }
    val (seqsRaw, small) = waySequences(wayRefs, nodes)
    // renamed once so the way and member joins broadcast the very same
    // plan (one reused exchange) without clashing with the elements' refs
    val seqs = seqsRaw.withColumnRenamed("refs", "seq_refs")
    def maybeBroadcast(df: DataFrame) = if (small) broadcast(df) else df

    // G5-G8 per-relation assembly over the member ways' sequences. Per
    // relation the walk emits its geometry row (gtype relation) and one
    // J6 row per member way (gtype way, no geometry): a way that is a
    // member of a result geometry relation is not a standalone result
    // (reference _frame.py:27-28 anti-join), so a way row matching one
    // is dropped below — the member set is never built twice
    val relRows = members.map { ms =>
      ms.join(maybeBroadcast(seqs), col("wref") === col("wid"))
        .select(col("rel_id"), col("gclass"), col("mpos"), col("role"),
          col("wref"), col("seq_refs"), col("xs"), col("ys"))
        .as[(Long, Int, Int, String, Long, Array[Long], Array[Double], Array[Double])]
        .repartition(col("rel_id"))
        .sortWithinPartitions("rel_id", "mpos")
        .mapPartitions(it => keyRuns(it)(_._1).flatMap { ms =>
          // members whose nodes are all missing from the extract
          // contribute nothing; a relation left without members has no
          // geometry
          val present = ms.iterator.map(m => presentMember(m._4, m._6, m._7, m._8))
            .filter(_.nodeIds.nonEmpty).toArray
          val rel = if (present.isEmpty) None else {
            val g = assembleRelation(ms.head._1, ms.head._2, present)
            Some((TypeRelation, g.id, g.geometry, g.geom_type))
          }
          rel.iterator ++ ms.iterator.map(m => (TypeWay, m._5, null: Array[Byte], null: String))
        })
        .toDF("gtype", "gid", "rgeom", "rtype")
    }

    val withWays = elG.join(maybeBroadcast(seqs), isWay && col("id") === col("wid"), "left")
    val joined = relRows.fold(withWays)(rr => withWays.join(maybeBroadcast(rr),
      col("type") === col("gtype") && col("id") === col("gid"), "left"))
    val (rgeom, rtype, standalone) =
      if (q.relations) (col("rgeom"), col("rtype"), col("gid").isNull)
      else (lit(null).cast("binary"), lit(null).cast("string"), lit(true))
    // a way none of whose nodes is in the extract has no geometry
    // (array_min is NaN only when every coordinate is)
    val firstX = array_min(col("xs"))
    // the sequence's refs are the way's own: reading them here (not the
    // elements' refs) keeps both broadcasts of `seqs` one plan
    val isArea = wayIsArea(col("tags"), col("seq_refs"))
    joined
      .filter(isNode || (isWay && standalone && firstX.isNotNull && !isnan(firstX)) ||
        rgeom.isNotNull)
      .withColumn("geometry", when(isNode, pointWkb(col("lon"), col("lat")))
        .when(isWay, wayWkb(col("xs"), col("ys"), isArea))
        .otherwise(rgeom))
      .withColumn("geom_type", when(isNode, lit("Point"))
        .when(isWay, when(isArea, lit("Polygon")).otherwise(lit("LineString")))
        .otherwise(rtype))
      .select(out: _*)
  }

  /** A relation member's vertices with the nodes missing from the
    * extract dropped. */
  private def presentMember(role: String, refs: Array[Long], xs: Array[Double],
      ys: Array[Double]): Member = {
    val keep = xs.indices.filter(i => !xs(i).isNaN).toArray
    Member(role, keep.map(refs), keep.map(xs), keep.map(ys))
  }

  private def wayWkb(xs: Column, ys: Column, area: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    column(graft.functions.WayWkb(expression(xs), expression(ys), expression(area)))
  }

  /** WKB point via the native codegen'd [[graft.functions.PointWkb]]
    * expression — per-node work (millions of rows on a city extract)
    * stays inside whole-stage codegen; ways/relations assemble inside
    * typed mapGroups instead. */
  private def pointWkb(lon: Column, lat: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.functions.PointWkb(
      GraftExpressionBridge.expression(lon), GraftExpressionBridge.expression(lat)))
  }

  private[osm] case class Member(role: String, nodeIds: Array[Long],
      xs: Array[Double], ys: Array[Double])

  /** Greedy ring chaining per relation (G6, reference _frame.py:181-215)
    * + simple-area expansion (G5), ring closure (G8), duplicate junction
    * drop (G9), complex-ring drop (G7), polygon/multipolygon assembly
    * (G3/G4). Runs per relation group — member counts are small. */
  private[osm] def assembleRelation(relId: Long, gclass: Int, ms: Array[Member]): GeomRow = {
    if (gclass == 2) {
      // route: chain members into lines (no closure)
      val chains = chain(ms, close = false)
      val lines = chains.map(c => Wkb.lineString(c.map(p => Coord(p._2, p._3))))
      if (lines.length == 1) GeomRow(relId, lines.head, "LineString")
      else GeomRow(relId, Wkb.multiLineString(lines), "MultiLineString")
    } else {
      // area: simple-role members are their own rings (G5); outer/inner
      // chained within role (G6)
      val (simple, complex) = ms.partition(m => m.role != "outer" && m.role != "inner")
      val simpleRings = simple.map(m => closeRing(m.nodeIds.zip(m.xs.zip(m.ys))
        .map { case (n, (x, y)) => (n, x, y) }.toSeq))
      val outerRings = chain(complex.filter(_.role == "outer"), close = true)
      val innerRings = chain(complex.filter(_.role == "inner"), close = true)
      val outers = (simpleRings ++ outerRings).map(r => r.map(p => Coord(p._2, p._3)))
      val inners = innerRings.map(r => r.map(p => Coord(p._2, p._3)))
      if (outers.isEmpty) GeomRow(relId, Wkb.multiPolygon(Nil), "MultiPolygon")
      else if (outers.length == 1)
        GeomRow(relId, Wkb.polygon(outers.head +: inners), "Polygon")
      else
        // >1 outer: inner rings dropped (documented limitation G7,
        // reference _frame.py:234-244, README.md:31)
        GeomRow(relId, Wkb.multiPolygon(outers.map(o => Wkb.polygon(Seq(o)))), "MultiPolygon")
    }
  }

  private[osm] def closeRing(pts: Seq[(Long, Double, Double)]): Seq[(Long, Double, Double)] =
    if (pts.length >= 2 && pts.head._1 == pts.last._1) pts else pts :+ pts.head

  /** Greedy end-to-end chaining with reversal (reference _frame.py:181-215):
    * matching is by node id; the shared junction node of consecutive
    * ways is emitted once (G9). Like the reference, the chain extends
    * only at the TAIL (forward `_s == node` or reversed `_t == node`)
    * — complete for closed rings; an open route whose member order
    * starts mid-route may split into extra parts, exactly as the
    * reference's greedy does.
    *
    * Each greedy pick is "the first still-unused member (in original
    * member order) whose HEAD matches the chain tail, else the first
    * whose TAIL matches". Endpoint indexes (node id → ordered unused
    * member indices) make that pick O(log k) instead of an O(k) scan,
    * so a pathological 5-10k-member boundary relation — real OSM
    * admin boundaries get this big — costs O(nodes + k log k) per
    * relation group rather than O(k²); output order is byte-identical
    * to the scan form (pinned by RingChainSpec's equivalence
    * property). The per-relation group remains sequential by
    * necessity, exactly as the reference's per-relation loop. */
  private[osm] def chain(ms: Array[Member], close: Boolean): Seq[Seq[(Long, Double, Double)]] = {
    val seqs: Array[Seq[(Long, Double, Double)]] = ms.map(m =>
      m.nodeIds.zip(m.xs.zip(m.ys)).map { case (n, (x, y)) => (n, x, y) }.toSeq)
    val used = new Array[Boolean](seqs.length)
    val byHead = new java.util.HashMap[Long, java.util.TreeSet[Integer]]()
    val byLast = new java.util.HashMap[Long, java.util.TreeSet[Integer]]()
    def put(m: java.util.HashMap[Long, java.util.TreeSet[Integer]], k: Long, i: Int): Unit =
      m.computeIfAbsent(k, _ => new java.util.TreeSet[Integer]()).add(i)
    seqs.indices.foreach { i =>
      if (seqs(i).nonEmpty) { put(byHead, seqs(i).head._1, i); put(byLast, seqs(i).last._1, i) }
    }
    // smallest unused index under `k`, pruning spent entries lazily
    // (an index stays in the OTHER endpoint's set after use)
    def take(m: java.util.HashMap[Long, java.util.TreeSet[Integer]], k: Long): Int = {
      val ts = m.get(k)
      if (ts == null) return -1
      while (!ts.isEmpty && used(ts.first())) ts.pollFirst()
      if (ts.isEmpty) { m.remove(k); -1 } else ts.first()
    }
    val rings = ArrayBuffer.empty[Seq[(Long, Double, Double)]]
    var start = 0
    while (start < seqs.length) {
      if (!used(start)) {
        used(start) = true
        val ring = ArrayBuffer.empty[(Long, Double, Double)]
        ring ++= seqs(start)
        var extended = true
        while (extended && ring.nonEmpty && ring.head._1 != ring.last._1) {
          extended = false
          val endId = ring.last._1
          val hi = take(byHead, endId)
          if (hi >= 0) {
            used(hi) = true; ring ++= seqs(hi).tail; extended = true
          } else {
            val li = take(byLast, endId)
            if (li >= 0) {
              used(li) = true; ring ++= seqs(li).reverse.tail; extended = true
            }
          }
        }
        rings += (if (close) closeRing(ring.toSeq) else ring.toSeq)
      }
      start += 1
    }
    rings.toSeq
  }
}

/** G10/G11 — highway topology: split way node chains at shared nodes,
  * emit per-segment source/target + linestring geometry
  * (reference _frame.py:261-296). */
object Topology {

  /** @param el filtered elements — the ways whose chains are walked
    * @param attrs attribute rows for the final per-segment projection:
    *   a SUPERSET of el's ways from the same scan — the ways passing the
    *   query's tag predicate, without the size/id predicates (the inner
    *   join on segment way ids re-implies them exactly). Leaving `refs`
    *   unused there lets Catalyst prune it off that second pbf scan —
    *   only the walk branch decodes refs. Since the tag predicate is the
    *   walk's own, a second copy of a way id that fails it (malformed
    *   input) is not attached either, so no dedup aggregate is needed.
    * @param nodes full node coordinate table (nid, lon, lat) */
  def build(spark: SparkSession, el: DataFrame, attrs: DataFrame,
      nodes: DataFrame): DataFrame = {
    import spark.implicits._

    // coordinates from the sequence assembly every geometry query
    // shares: missing nodes are NaN at their position, so they keep
    // their rows — and their junction flag — and the walk splits at
    // them but drops them from segment geometry: no segment ever spans
    // a missing junction
    val (seqs, small) = GeometryBuilder.waySequences(
      el.filter(col("type") === graft.sources.OsmPbfSource.TypeWay), nodes)

    // junction = node occurring more than once across all the ways'
    // refs (reference _frame.py:272 pandas duplicated(keep=False)): a
    // per-node count, joined back onto the exploded sequences (a
    // broadcast when the measured sequences are: there are at most half
    // as many junctions as refs)
    val junctions = seqs.select(explode(col("refs")).as("jnode"))
      .groupBy("jnode").count()
      .filter(col("count") >= 2)
      .select(col("jnode"))
    val rows = seqs
      .select(col("wid").as("way"),
        posexplode(arrays_zip(col("refs"), col("xs"), col("ys"))).as(Seq("pos", "v")))
      .join(if (small) broadcast(junctions) else junctions,
        col("v.refs") === col("jnode"), "left")
      .select(col("way"), col("pos"), col("v.refs").as("node"),
        col("v.xs").as("lon"), col("v.ys").as("lat"), col("jnode").isNotNull.as("junction"))

    // One shuffle on `way` replaces the former window + junction-row
    // explode + per-segment regroup: a way is ≤ 2000 nodes (OSM cap),
    // so the whole chain walks in memory — interior junctions close
    // the running segment and start the next one at the same node
    // (reference _frame.py:267-296 semantics; segments with < 2 nodes
    // dropped as before). repartition+sortWithinPartitions then a
    // streaming per-way walk does the same grouping as groupByKey with
    // one sort and no per-group iterator machinery (~20M rows at the
    // 7M-node scale — object overhead is the binding cost here).
    val segGeoms = rows
      .repartition(col("way"))
      .sortWithinPartitions("way", "pos")
      .as[(Long, Int, Long, Double, Double, Boolean)]
      .mapPartitions(it => OsmQueryExec.keyRuns(it)(_._1).flatMap { ns =>
        val way = ns.head._1
        val out = Seq.newBuilder[(Long, Long, Long, Long, Array[Byte], String)]
        var segIx = 0L
        var start = 0
        var i = 1
        while (i < ns.length) {
          val boundary = i == ns.length - 1 || ns(i)._6 // last node or interior junction
          if (boundary) {
            if (i > start) {
              // nodes missing from the extract (NaN coords) are
              // dropped from the geometry; a segment needs >= 2
              // present nodes to exist
              val present = (start to i).filter(j => !ns(j)._4.isNaN)
              if (present.length >= 2) {
                val coords = present.map(j => Coord(ns(j)._4, ns(j)._5))
                out += ((way, segIx, ns(present.head)._3, ns(present.last)._3,
                  Wkb.lineString(coords), "LineString"))
                segIx += 1
              }
            }
            start = i
          }
          i += 1
        }
        out.result()
      })
      .toDF("way", "seg_ix", "source", "target", "geometry", "geom_type")

    attrs.join(segGeoms, attrs("id") === segGeoms("way")).drop("way")
  }
}
