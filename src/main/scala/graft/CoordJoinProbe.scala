package graft

/** Coordinate-join 10× scale probe (VERDICT r18 task 8 — SURVEY §7.3
  * risk #1): the geometry path's one big join (`GeometryBuilder.coordJoin`
  * — exploded way refs ⋈ node coords) measured at the standard 2M-node
  * / 100k-way BigWorld AND at a 10× world (20M nodes / 1M ways),
  * recording wall, per-phase shuffle read/write bytes, and WHICH join
  * strategy planned — the 2M world's exploded refs (~0.6M rows) sit
  * under the `GeometryBuilder.RefsBroadcastRows` threshold (4M) and
  * must take the zero-exchange BROADCAST tier, while the 10× world
  * (~6M exploded rows) must cross it and hold the scale-safe
  * SHUFFLE_HASH plan (AQE is left on; a silent conversion back to
  * broadcast at 6M rows would be a regression in the threshold's
  * honesty, and a SortMergeJoin would mean the hint was dropped).
  *
  * Workload: `OsmQuery.highways.copy(geometry = true)` — way filter +
  * ref explode + coordJoin + per-way linestring walk, the J1/G2 path
  * every osm_big_* row exercises, with relations out of the way.
  *
  * Self-checked (exit 1): broadcast at 2M, shuffle_hash at 20M, both
  * row counts > 0, and the 10× wall within 30× of the 1× wall (the
  * join is linear-ish; a super-linear blowup flags a plan problem —
  * the generous bound absorbs host noise, not quadratic behavior).
  * Writes bench/coordjoin_probe_r{N}.json. Load-gated like ScaleProbe.
  *
  * Observed (round 19, quiet local[32]): see the committed artifact —
  * the scaladoc note on the measured crossover lives at
  * [[graft.osm.GeometryBuilder.coordJoin]]. */
object CoordJoinProbe {

  private val Big1xPath = graft.queries.OsmQueries.BigPath // 2M/100k, shared
  private val Big10xPath = "/tmp/graft_bigworld20m_v1.osm.pbf"

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (loadStart, tainted) = ProbeRig.loadGate(tag = "coordjoin")

    val spark = ProbeRig.session()

    System.err.println("[coordjoin] ensuring worlds (the 10x generation is ~2 min one-off)")
    val genT0 = System.nanoTime()
    graft.pbf.BigWorld.ensure(Big1xPath, 2000000, 100000)
    graft.pbf.BigWorld.ensure(Big10xPath, 20000000, 1000000)
    val genS = (System.nanoTime() - genT0) / 1e9

    final case class Phase(name: String, wall: Double, rows: Long,
        shReadMB: Double, shWriteMB: Double, broadcast: Boolean,
        shuffleHash: Boolean, sortMerge: Boolean)

    def run(name: String, path: String, reps: Int): Phase = {
      val q = graft.osm.OsmQuery.highways.copy(geometry = true)
      // untimed warmup (JIT/codegen/file index) — its plan is NOT the
      // one asserted on: the gated strategy must come from a TIMED
      // execution's own QueryExecution (ADVICE r19 — a separate
      // warmup plan could in principle differ from the measured one)
      q.run(spark, path).foreach(_ => ())
      // per-rep shuffle totals + plans, reported from the MIN-WALL rep:
      // a cross-rep sum would mix multipliers between phases with
      // different rep counts (review r19). Each rep executes
      // through ITS df's QueryExecution (foreach + row accumulator —
      // count() would spawn a fresh QE whose pruned plan is not the
      // one measured), and under AQE the adaptive plan mutates in
      // place, so the post-execution string carries the RUNTIME
      // strategy of exactly the execution the wall number came from.
      // The recording starts before the plan is built: building it
      // runs the checkpoints' shuffle stages. The coordJoin sits under
      // the way-sequence checkpoint, a query execution of its own, so
      // the strategy is read from every execution the rep ran.
      val p = (1 to reps).map { _ =>
        val acc = spark.sparkContext.longAccumulator
        val rec = ProbeRig.recordStages(spark) {
          val df = q.run(spark, path)
          ProbeRig.timed(1)(df.foreach(_ => acc.add(1)))
        }
        val t = rec.result
        val plan = rec.executions.map(_._2.executedPlan.toString).mkString("\n")
        Phase(name, t.wallS, acc.value, rec.stages.map(_.shuffleReadMB).sum,
          rec.stages.map(_.shuffleWriteMB).sum,
          broadcast = plan.contains("BroadcastHashJoin"),
          shuffleHash = plan.contains("ShuffledHashJoin"),
          sortMerge = plan.contains("SortMergeJoin"))
      }.minBy(_.wall)
      System.err.println(f"[coordjoin] $name: wall=${p.wall}%.2fs rows=${p.rows} " +
        f"shRd=${p.shReadMB}%.0fMB shWr=${p.shWriteMB}%.0fMB " +
        s"bcast=${p.broadcast} shash=${p.shuffleHash} smj=${p.sortMerge}")
      p
    }

    val p1 = run("2m", Big1xPath, reps = 3)
    val p10 = run("20m", Big10xPath, reps = 2)

    // NOTE on the flags: the geometry path plans several joins (member
    // attach, J6 anti-join, ...) that legitimately SortMergeJoin, so
    // `sort_merge` is recorded as information only. The coordJoin is
    // the ONLY shuffle_hash-hinted join on this path and the only
    // broadcast whose side is the exploded refs, so the two
    // discriminating assertions are: no ShuffledHashJoin anywhere at
    // 2M (coordJoin broadcast), and ShuffledHashJoin present at 20M
    // (the hint held — AQE did not silently convert it back).
    val viol = scala.collection.mutable.ListBuffer.empty[String]
    if (!p1.broadcast || p1.shuffleHash)
      viol += s"2M phase must take the broadcast tier (bcast=${p1.broadcast}, shash=${p1.shuffleHash})"
    if (!p10.shuffleHash)
      viol += s"20M phase must hold the shuffle_hash plan (shash=${p10.shuffleHash})"
    if (p1.rows <= 0 || p10.rows <= 0)
      viol += s"empty result (rows ${p1.rows} / ${p10.rows})"
    if (p1.wall > 0 && p10.wall > 30 * p1.wall)
      viol += f"10x data took ${p10.wall / p1.wall}%.1fx the wall — super-linear"

    val round = Bench.roundNumber
    def pj(p: Phase): String =
      f"""{"name":"${p.name}","wall_s":${p.wall}%.3f,"rows":${p.rows},"shuffle_read_mb":${p.shReadMB}%.1f,"shuffle_write_mb":${p.shWriteMB}%.1f,"broadcast":${p.broadcast},"shuffle_hash":${p.shuffleHash},"sort_merge":${p.sortMerge}}"""
    // measured_action names WHAT the wall/shuffle numbers time:
    // round ≤ 19 artifacts used count() (column-pruned plan), round
    // 20+ materialize full rows through the asserted plan itself — a
    // deliberate discontinuity (review r20); cross-round comparisons
    // must not read the r19→r20 wall delta as a regression
    val json =
      s"""{"probe":"coordjoin_10x","round":$round,"measured_action":"materialize_rows","gen_s":${f"$genS%.1f"},"load_start":$loadStart,"tainted":$tainted,"threshold_rows":${graft.osm.GeometryBuilder.RefsBroadcastRows},"phases":[${pj(p1)},${pj(p10)}],"wall_ratio":${f"${p10.wall / p1.wall}%.2f"},"violations":${viol.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    println(json)
    ProbeRig.writeArtifact(s"coordjoin_probe_r$round.json", json, "coordjoin")
    spark.stop()
    if (viol.nonEmpty) {
      viol.foreach(v => System.err.println(s"[coordjoin] VIOLATION: $v"))
      sys.exit(1)
    }
  }
}
