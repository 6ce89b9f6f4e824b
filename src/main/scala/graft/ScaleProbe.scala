package graft

/** One-off throughput probe at the reference's demo scale (Marseille ≈
  * 6.97M cached nodes, BASELINE.md): generates a 7M-node / 700k-way
  * synthetic extract, then times full-scan info(), the node coordinate
  * table build (the reference's "geometry cache"), the POI query and
  * highway topology. A second phase splits the same world into 3
  * region files with duplicated border blobs (the adjacent-extract
  * corpus shape) and re-runs the headliners on the directory — results
  * must be IDENTICAL to single-file (the osmpbf source reads each
  * element once across the files). Prints one JSON line. */
object ScaleProbe {

  /** Split a single-file extract into `nFiles` adjacent "region" files
    * at blob granularity, duplicating the first `overlap` blobs of each
    * region into the previous one — adjacent real-world extracts carry
    * border elements verbatim in both files. Frames are copied
    * byte-identical (no re-encode); every file gets the OSMHeader.
    * Returns the number of duplicated blobs. */
  def splitPbf(src: String, outDir: String, nFiles: Int, overlap: Int): Int = {
    val dir = new java.io.File(outDir)
    if (dir.isFile) require(dir.delete(), s"$outDir exists as a file and could not be removed")
    if (dir.exists()) {
      val leftover = Option(dir.listFiles()).getOrElse(Array.empty)
      leftover.foreach { f =>
        require(f.isFile && f.delete(),
          s"could not clear $outDir: ${f.getName} (stale entries would pollute the multi-file identity check)")
      }
    } else require(dir.mkdirs(), s"could not create $outDir")
    val in = new java.io.RandomAccessFile(src, "r")
    try {
      final case class Frame(off: Long, len: Long, isHeader: Boolean)
      val frames = scala.collection.mutable.ArrayBuffer.empty[Frame]
      var off = 0L
      val fileLen = in.length()
      val lenBuf = new Array[Byte](4)
      while (off < fileLen) {
        in.seek(off)
        in.readFully(lenBuf)
        val hl = ((lenBuf(0) & 0xff) << 24) | ((lenBuf(1) & 0xff) << 16) |
          ((lenBuf(2) & 0xff) << 8) | (lenBuf(3) & 0xff)
        val hb = new Array[Byte](hl)
        in.readFully(hb)
        var btype = ""
        var dataSize = 0
        val r = new graft.pbf.PbfReader(hb)
        while (r.hasMore) {
          val t = r.readTag()
          (t >> 3) match {
            case 1 => btype = r.readString()
            case 3 => dataSize = r.readVarint().toInt
            case _ => r.skip(t & 7)
          }
        }
        frames += Frame(off, 4L + hl + dataSize, btype == "OSMHeader")
        off += 4L + hl + dataSize
      }
      require(frames.nonEmpty && frames.head.isHeader, s"$src: no leading OSMHeader")
      val data = frames.tail.toSeq
      def copy(out: java.io.OutputStream, f: Frame): Unit = {
        in.seek(f.off)
        val buf = new Array[Byte](64 * 1024)
        var remaining = f.len
        while (remaining > 0) {
          val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
          require(n > 0, s"unexpected EOF copying frame at ${f.off}")
          out.write(buf, 0, n)
          remaining -= n
        }
      }
      val outs = (0 until nFiles).map { k =>
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(
          new java.io.File(dir, f"part$k%02d.osm.pbf")))
      }
      try {
        outs.foreach(copy(_, frames.head))
        val assign = data.indices.map(i => (i.toLong * nFiles / data.size).toInt)
        val starts = assign.zipWithIndex.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).min }
        var dup = 0
        data.zipWithIndex.foreach { case (f, i) =>
          val k = assign(i)
          copy(outs(k), f)
          if (k > 0 && i - starts(k) < overlap) { copy(outs(k - 1), f); dup += 1 }
        }
        dup
      } finally outs.foreach(_.close())
    } finally in.close()
  }
  /** Ambient-load gate (VERDICT r10 task 2): scale_r10.json was taken
    * at load 17 and its parity_total_s / cpu_total_s were unusable as
    * a round-over-round baseline. The probe refuses to START while the
    * 1-min load exceeds `SPARK_GRAFT_SCALE_MAX_LOAD` (default 2.0) or
    * the 5-min average exceeds twice it — polling for up to
    * `SPARK_GRAFT_SCALE_WAIT_S` (default 300) — and if the host never
    * quiets down it still runs but stamps the artifact
    * `"tainted":true`, so a contended record can never be mistaken
    * for a scale regression ([[ProbeRig.loadGate]]). */
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_SCALE_MAX_LOAD", "2.0").toDouble
    val (loadStart, loadTainted) = ProbeRig.loadGate(
      maxWaitS = sys.env.getOrElse("SPARK_GRAFT_SCALE_WAIT_S", "300").toInt,
      tag = "scaleprobe")
    val spark = ProbeRig.session()

    // _v3: building-tagged inner rings + forest multipolygons — same
    // versioning rule as OsmQueries.BigPath (ensure() only checks
    // existence)
    val path = ProbeRig.tmpPath("graft_marseille_scale_v3.osm.pbf")
    val t0 = System.nanoTime()
    graft.pbf.BigWorld.ensure(path, 7000000, 700000)
    val tGen = (System.nanoTime() - t0) / 1e9

    // min-of-3 per phase (steady-state convention, one rep deeper than
    // Bench): the heavy per-way walk phases JIT-compile across the
    // first TWO executions when the file pre-exists — measured on the
    // 7M topology phase: 13.6 → 4.9 → 4.0 s across reps in a cold JVM,
    // converging to ~3.3 s; a min-of-2 run whose generation step was
    // skipped (warm file cache) reported 7.5 s for a plan whose steady
    // state is 3.5 s. A long-lived cluster never re-pays this warmup,
    // so the first rep is reported apart as `<phase>_cold_s`, next to
    // the min process CPU-seconds as `<phase>_cpu_s`.
    // Per-phase codegen churn over all of a phase's repetitions, in
    // phase order, for the record.
    val churn = scala.collection.mutable.LinkedHashMap.empty[String, ProbeRig.Codegen]
    def phase[A](name: String)(f: => A): ProbeRig.Timed[A] = {
      val c0 = ProbeRig.codegen()
      val r = ProbeRig.timed(3)(f)
      churn(name) = ProbeRig.codegen() - c0
      r
    }
    def times(key: String, t: ProbeRig.Timed[_]): String =
      f""""${key}_s":${t.wallS}%.1f,"${key}_cold_s":${t.coldS}%.1f,"${key}_cpu_s":${t.cpuS}%.1f"""

    // process CPU-seconds across the whole probe (same doctrine as
    // Bench: on a contended host wall swings with steal while CPU of
    // actual work stays comparable)
    val cpu0 = ProbeRig.procCpuNanos()

    val f = new graft.osm.OsmFile(spark, path)
    val info = phase("info_")(f.info())
    val geo = phase("geometry_cache_")(f.geometry().count())
    val pois = phase("pois_")(
      graft.osm.OsmQuery.pois.copy(geometry = true).run(spark, path).count())
    val topo = phase("topology_")(
      graft.osm.OsmQuery.highways.copy(geometry = true, topology = true)
        .run(spark, path).count())
    // buildings incl. multipolygon assembly: the per-relation
    // sequential ring-chaining path (G3-G8) — 35k relations + 70k
    // closed ways at this scale, the one per-group-sequential operator
    // family that previously had no scale datapoint
    val bldg = phase("buildings_")(
      graft.osm.OsmQuery.buildings.copy(geometry = true).run(spark, path).count())

    // multi-file phase: same world as 3 border-overlapping region files.
    // The split is timed once: a raw file copy has no plan/codegen
    // warmup for a min to strip, and a second run would only report
    // the page-cache-warm rerun
    val mfDir = ProbeRig.tmpPath("graft_marseille_multifile_v3")
    val split = ProbeRig.timed(1)(splitPbf(path, mfDir, 3, 2))
    val fm = new graft.osm.OsmFile(spark, mfDir)
    val infoM = phase("mf_info_")(fm.info())
    val poisM = phase("mf_pois_")(
      graft.osm.OsmQuery.pois.copy(geometry = true).run(spark, mfDir).count())
    val topoM = phase("mf_topology_")(
      graft.osm.OsmQuery.highways.copy(geometry = true, topology = true)
        .run(spark, mfDir).count())
    // relation assembly across a border-overlapping split: the source
    // must read exactly one copy of every member way / relation that
    // two files hold, or the per-relation chainer sees duplicate or
    // missing members — ScaleProbeSplitSpec pins this at mini scale
    // only; this is the at-volume gate (VERDICT r7 task 3)
    val bldgM = phase("mf_buildings_")(
      graft.osm.OsmQuery.buildings.copy(geometry = true).run(spark, mfDir).count())
    val (inf, infM) = (info.result, infoM.result)
    val mfMatch = infM("nodes") == inf("nodes") && infM("ways") == inf("ways") &&
      poisM.result == pois.result && topoM.result == topo.result &&
      bldgM.result == bldg.result
    // parity_total_s: the reference's Marseille demo workload (info +
    // geometry cache + POIs + topology + buildings) as ONE tracked
    // number, consumed by the README scale table (VERDICT r7 task 7)
    val parityTotal = Seq(info, geo, pois, topo, bldg).map(_.wallS).sum
    val cpuTotal = if (cpu0 < 0) -1.0 else (ProbeRig.procCpuNanos() - cpu0) / 1e9
    val load = ProbeRig.loadAvg()

    // end-of-probe load includes this JVM's own 32 threads, so taint is
    // judged on the gated START load only; "load" stays in the record
    // as raw context
    val line = f"""{"round":${Bench.roundNumber},"tainted":$loadTainted,"load_start":$loadStart%.2f,"max_load":$maxLoad%.1f,"gen_s":$tGen%.1f,"blobs":${inf("blobs")},"nodes":${inf("nodes")},"ways":${inf("ways")},${times("info", info)},"geometry_cache_rows":${geo.result},${times("geometry_cache", geo)},"pois_rows":${pois.result},${times("pois", pois)},"topology_rows":${topo.result},${times("topology", topo)},"buildings_rows":${bldg.result},${times("buildings", bldg)},"parity_total_s":$parityTotal%.1f,"cpu_total_s":$cpuTotal%.1f,"load":$load%.2f,"mf_files":3,"mf_dup_blobs":${split.result},"mf_split_s":${split.wallS}%.1f,"mf_split_cpu_s":${split.cpuS}%.1f,${times("mf_info", infoM)},${times("mf_pois", poisM)},${times("mf_topology", topoM)},${times("mf_buildings", bldgM)},"mf_results_match":$mfMatch,${churn.map { case (k, c) => c.json(k) }.mkString(",")}}"""
    println(line)
    // committed per-round artifact (VERDICT r9 task 3): scale tracking
    // must not depend on README prose diffs or the stdout window —
    // bench/scale_r{N}.json is the durable record, same convention as
    // bench_r{N}.json. mf_results_match IS the oracle-gate bit at this
    // scale (single-file vs border-overlapping multi-file identity).
    ProbeRig.writeArtifact(s"scale_r${Bench.roundNumber}.json", line, "scaleprobe")
    if (!mfMatch)
      System.err.println(s"[scaleprobe] MULTI-FILE MISMATCH: " +
        s"nodes ${infM("nodes")} vs ${inf("nodes")}, ways ${infM("ways")} vs ${inf("ways")}, " +
        s"pois ${poisM.result} vs ${pois.result}, topo ${topoM.result} vs ${topo.result}, " +
        s"buildings ${bldgM.result} vs ${bldg.result}")
    spark.stop()
  }
}
