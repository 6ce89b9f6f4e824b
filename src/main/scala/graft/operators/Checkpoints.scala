package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative operators
  * ([[ConnectedComponents]], [[graft.queries.GraphOps]].pagerank,
  * [[DistributedRank]]) and the OSM geometry plans
  * ([[graft.osm.GeometryBuilder]]), with an opt-in RELIABLE mode.
  *
  * Default (`spark.graft.checkpoint.reliable` unset/false):
  * `localCheckpoint` — blocks live in EXECUTOR-LOCAL storage. That is
  * the right trade on a stable cluster (no HDFS/object-store write per
  * iteration), but executor loss invalidates the blocks and Spark
  * must recompute from lineage that truncation deliberately discarded
  * — at 100 TB on spot/preemptible executors that means a failed job,
  * not a slow one (VERDICT r12 §What's wrong #1).
  *
  * `spark.graft.checkpoint.reliable=true` routes the same call sites
  * to `Dataset.checkpoint`, which writes the materialized partitions
  * to the fault-tolerant directory configured via
  * `SparkContext.setCheckpointDir` (or, if unset, the
  * `spark.graft.checkpoint.dir` conf — HDFS/S3 on a real cluster).
  * Executor loss then re-reads surviving replicas from block storage's
  * backing files instead of recomputing. Costs: each truncation
  * re-executes its plan once more to write the files (shuffle outputs
  * are reused, scans are not), and checkpoint files accumulate until
  * context stop unless `spark.cleaner.referenceTracking.cleanCheckpoints`
  * is on — the explicit block-freeing done by ConnectedComponents only
  * applies to the local path (reliable files are the cleaner's job).
  *
  * Laziness is PRESERVED in both modes: `truncate(df)` defaults to
  * eager=false, so the first consuming action materializes the data —
  * both DistributedRank consumers still see one range exchange with
  * one set of sampled boundaries (DistributedRankSpec invariant 1).
  */
object Checkpoints {
  val ReliableConf = "spark.graft.checkpoint.reliable"
  val DirConf = "spark.graft.checkpoint.dir"

  // what this object last applied via setCheckpointDir: the raw conf
  // value AND the context's resolved per-context subpath it produced
  // (getCheckpointDir returns the resolved subpath, so the raw value
  // alone cannot detect an external setCheckpointDir override — review
  // r13: without the resolved check, a later sc.setCheckpointDir from
  // other code would silently re-route "reliable" checkpoints away
  // from the conf's fault-tolerant directory)
  @volatile private var applied: Option[(String, Option[String])] = None

  /** Truncate `df`'s lineage per the session's checkpoint doctrine.
    * In reliable mode the `spark.graft.checkpoint.dir` conf, when set,
    * is authoritative (a changed value re-routes the context); with no
    * conf, a caller-set `SparkContext.setCheckpointDir` is honored;
    * with neither, fail loudly — silently falling back to the local
    * path would void the reliability the caller asked for. */
  def truncate(df: DataFrame, eager: Boolean = false): DataFrame = {
    val s = df.sparkSession
    if (s.conf.get(ReliableConf, "false").toBoolean) {
      val sc = s.sparkContext
      s.conf.getOption(DirConf) match {
        case Some(dir) =>
          // re-apply when the conf value changed OR the context's
          // resolved dir no longer matches what we applied (an external
          // setCheckpointDir must not hijack the conf's directory)
          def stale = !applied.exists { case (raw, resolved) =>
            raw == dir && resolved == sc.getCheckpointDir
          }
          if (stale) synchronized {
            if (stale) {
              sc.setCheckpointDir(dir)
              applied = Some((dir, sc.getCheckpointDir))
            }
          }
        case None =>
          requireReliableDir(sc.getCheckpointDir)
      }
      df.checkpoint(eager = eager)
    } else df.localCheckpoint(eager = eager)
  }

  /** PINNED persisted-RDD ids: session-scoped SHARED stages (e.g.
    * SearchOps.tfStage's memoized tf checkpoint) register here so a
    * blanket persisted-block sweep ([[unpersistUnpinned]], used by
    * Bench's per-query cleanup and PlanMetrics) skips them. A lazily
    * localCheckpointed dataset whose blocks are dropped is
    * UNRECOVERABLE — the lineage was truncated by design — so
    * sweeping a memoized stage doesn't slow the next consumer, it
    * FAILS it (round-15 bench: search_hybrid_rrf / text_keyword_topk
    * all-FAIL after the bm25 row's sweep dropped the shared tf).
    *
    * Keys are (applicationId, rddId), NOT bare ids: RDD ids are
    * per-SparkContext counters from 0, so a bare-id pin from a
    * stopped context would permanently exempt an arbitrary RDD of
    * the next context from every sweep (review r15 pass 2). */
  private val pinnedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  /** Pin the persisted RDD BACKING a just-checkpointed dataset —
    * extracted from its LogicalRDD plan leaf, so exactly the intended
    * RDD is pinned (a persisted-set snapshot diff would race with any
    * other thread persisting concurrently). `Dataset.checkpoint` /
    * `localCheckpoint` register the persisted RDD and wrap it in
    * LogicalRDD at the CALL, eager or lazy, which is what makes this
    * exact. Returns `df` for inline use. */
  def pinCheckpointed(df: DataFrame): DataFrame = {
    val app = df.sparkSession.sparkContext.applicationId
    checkpointRdds(df).foreach(r => pinnedIds.add(app -> r.id))
    df
  }

  def isPinned(sc: org.apache.spark.SparkContext, id: Int): Boolean =
    pinnedIds.contains(sc.applicationId -> id)

  /** THE LogicalRDD-leaf extraction — the single place the "which
    * RDDs back this checkpoint" rule lives; pinning, the id probe and
    * the staleness probe all derive from it so they cannot drift
    * (review r16 pass 2: three verbatim copies). */
  private def checkpointRdds(
      df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** The persisted-RDD ids backing `df`'s checkpoint (its LogicalRDD
    * plan leaves) — the same extraction [[pinCheckpointed]] pins. */
  def checkpointRddIds(df: DataFrame): Seq[Int] =
    checkpointRdds(df).map(_.id)

  /** Staleness probe for a memoized pinned checkpoint: true when any
    * of its backing LOCAL-checkpoint RDD registrations is gone (raw
    * `rdd.unpersist` by external code) — the entry is then
    * unrecoverable (lineage truncated) and must be evicted + rebuilt,
    * not served (ADVICE r15). Shared by SearchOps.tfStage and
    * GraphOps' community-label memo so the probe rule cannot drift.
    *
    * ALSO stale (VERDICT r16 task 5c — consumer-failure eviction): a
    * registration that survives but reports FEWER cached partitions
    * than the RDD has. Every memo builder fully materializes its
    * checkpoint before storing the entry ([[buildPinned]] bodies run
    * an action), so a later partial cache means executor/preemption
    * BLOCK LOSS — the exact failure the r15 scaladoc deferred to a
    * manual evict; now the next access detects it and rebuilds instead
    * of serving a frame whose first action will die on a missing
    * block. (Valid only because builders materialize eagerly: a
    * never-materialized lazy checkpoint also reads 0 cached
    * partitions, and this probe would rebuild it spuriously.)
    *
    * RELIABLE checkpoints are exempt by `isLocallyCheckpointed`:
    * `Dataset.checkpoint`'s RDD never enters `getPersistentRDDs` (the
    * files, not blocks, are the source of truth — a block sweep
    * cannot orphan it, and lost blocks re-read from the files), so the
    * old registry-membership test declared EVERY reliable memo stale
    * and silently defeated memoization in exactly the spot-executor
    * mode that recommends it (review r16 pass 1, verified against
    * Spark 4.1.2). */
  def stale(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    val live = sc.getPersistentRDDs
    checkpointRdds(df).exists(r =>
      org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(r) &&
        (!live.contains(r.id) ||
          // block-loss probe against the block-manager MASTER's
          // synchronous map, NOT getRDDStorageInfo — the status store
          // is listener-bus-fed and lags block events, which would let
          // a just-broken entry serve one more doomed consumer
          org.apache.spark.rdd.GraftRddBridge.masterCachedPartitions(
            sc, r.id, r.getNumPartitions) < r.getNumPartitions))
  }

  /** Build-and-materialize guard for a pinned memo entry: run `body`
    * (the materializing action AND any scalar extraction — the whole
    * builder tail) and on ANY failure unpin/release `df` before
    * rethrowing the ORIGINAL error. Cleanup failures (context
    * stopping, block-manager RPC down — the likeliest reasons
    * materialization fails in the first place) are suppressed onto it
    * rather than masking it. ONE shared rule for every memo builder
    * (review r16 pass 3: two hand-rolled copies existed, one with its
    * scalar extraction outside the guard — a NULL aggregate there
    * orphaned the pin the guard was added to protect).
    *
    * After `body` succeeds, the [[stale]] precondition is ENFORCED,
    * not just documented (ADVICE r17): every local-checkpoint RDD
    * behind `df` must report fully cached partitions, or publishing
    * the entry would hand later [[stale]] probes a 0-blocks reading
    * indistinguishable from block loss — silent rebuild-per-access.
    * A violating builder (body forgot its action, or materialized a
    * different frame) fails HERE, loudly, with the pin released. */
  def buildPinned[T](df: DataFrame)(body: => T): T =
    try {
      val r = body
      val sc = df.sparkSession.sparkContext
      checkpointRdds(df).foreach { rd =>
        if (org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(rd)) {
          val cached = org.apache.spark.rdd.GraftRddBridge
            .masterCachedPartitions(sc, rd.id, rd.getNumPartitions)
          if (cached < rd.getNumPartitions) throw new IllegalStateException(
            s"buildPinned: body completed but checkpoint RDD ${rd.id} has " +
              s"$cached/${rd.getNumPartitions} cached partitions — the memo " +
              "entry would read as stale on every probe. Materialize the " +
              "pinned frame itself (count/collect) inside the body.")
        }
      }
      r
    }
    catch { case t: Throwable =>
      try unpinAndUnpersist(df)
      catch { case c: Throwable => t.addSuppressed(c) }
      throw t
    }

  /** UNPIN a shared stage and release its persisted blocks — the
    * explicit end-of-life hook for a session-scoped memoized
    * checkpoint (ADVICE r15: pins were otherwise unremovable while
    * the context lived, so a long-lived host querying many dirs
    * accumulated pinned blocks no sweep could reclaim). Memo owners
    * (e.g. SearchOps.evictTfStage) remove their map entry FIRST, then
    * call this — order matters: a concurrent consumer that grabbed
    * the dying entry fails once, and the next call rebuilds. */
  def unpinAndUnpersist(df: DataFrame, blocking: Boolean = false): Unit = {
    val sc = df.sparkSession.sparkContext
    checkpointRddIds(df).foreach { id =>
      pinnedIds.remove(sc.applicationId -> id)
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking))
    }
  }

  /** THE sweep: unpersist every persisted RDD of the session except
    * pinned shared stages. All blanket cleanups must come through
    * here so pin semantics live in one place. */
  def unpersistUnpinned(s: org.apache.spark.sql.SparkSession,
      blocking: Boolean = false): Unit =
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!isPinned(s.sparkContext, id)) rdd.unpersist(blocking)
    }

  /** Drop memo entries whose session is stopped — the shared purge
    * rule of every session-keyed cache (tfStage, trainedCents,
    * memoBooks), factored so the three cannot drift (review r15
    * pass 2). */
  def purgeStopped[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V])(
      session: K => org.apache.spark.sql.SparkSession): Unit =
    m.entrySet().removeIf(e => session(e.getKey).sparkContext.isStopped)

  /** The no-directory guard of reliable mode, factored out so its
    * error path is unit-testable regardless of whether earlier suites
    * already set the shared context's checkpoint dir (ADVICE r13 #4):
    * with no `spark.graft.checkpoint.dir` conf and no context-level
    * dir, fail loudly — silently falling back to localCheckpoint
    * would void the reliability the caller asked for. */
  private[graft] def requireReliableDir(contextDir: Option[String]): Unit =
    if (contextDir.isEmpty) throw new IllegalStateException(
      s"$ReliableConf=true needs SparkContext.setCheckpointDir(...) " +
        s"or the $DirConf conf to name a fault-tolerant directory")
}
