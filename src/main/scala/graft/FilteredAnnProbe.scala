package graft

/** Filtered-ANN selectivity sweep (VERDICT r18 task 3): measures, at a
  * corpus size where list pruning is real (default 100k × 64-dim, the
  * VecScaleProbe clustered model, ~√N coarse lists), how recall@10
  * against the FILTERED brute-force truth behaves as the metadata
  * predicate's selectivity drops 50% → 5% → 1% → 0.1% — the canonical
  * post-filter-in-index failure mode — for
  *  - the FIXED base nprobe (4) the gate row uses, and
  *  - the ADAPTIVE rule `VectorOps.adaptiveNprobe` (widen until the
  *    expected qualifying candidates reach safety·k; fall back to
  *    exact filtered brute force past 30% of the lists or when the
  *    corpus is too thin overall).
  *
  * Self-checked bounds (exit 1 on violation):
  *  - adaptive recall ≥ fixed recall at every selectivity;
  *  - adaptive recall ≥ 0.9 at every selectivity (fallback rows are
  *    1.0 by construction — the point is the INDEXED rows);
  *  - at 50% the decision must stay indexed with ≤ 10% of lists
  *    probed (the rule must not destroy pruning where the predicate
  *    is abundant);
  *  - at 0.1% the decision must be the brute-force fallback (95 of
  *    316 lists would be needed — past the probe-fraction cap).
  *
  * Writes bench/filtered_ann_probe_r{N}.json. Ambient-load-gated like
  * ScaleProbe; SPARK_GRAFT_FILTPROBE_N overrides the corpus size (the
  * decision-SHAPE assertions — indexed at 50%, fallback at 0.1% — are
  * enforced only at the default size: the rule legitimately decides
  * differently at other corpus geometries, e.g. at N=1M the 0.1%
  * predicate is indexable; the recall bounds hold at every size). */
object FilteredAnnProbe {

  import VecScaleProbe.{vec, l2, nearestIdx, mix, unit}

  private val TopK = 10
  private val BaseNprobe = 4
  private val Selectivities = Seq(0.5, 0.05, 0.01, 0.001)

  /** Deterministic pseudo-random keep predicate with selectivity s —
    * id-hash uniform, independent of the cluster structure (metadata
    * rarely correlates with geometry; the independent case is the
    * HARD one for post-filtering). */
  private def kept(id: Long, s: Double): Boolean =
    unit(mix(id * 7919L + 13L)) < s

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (loadStart, tainted) = ProbeRig.loadGate(tag = "filtprobe")

    val spark = ProbeRig.session()
    import spark.implicits._

    val n = sys.env.getOrElse("SPARK_GRAFT_FILTPROBE_N", "100000").toLong
    val nLists = 316 // ≈ √N at the default size
    val step = math.max(1L, n / nLists) | 1L // odd: coprime to the 64-cluster cycle
    val cents: Array[Array[Double]] = (0L until n by step).take(nLists).map(vec).toArray
    val k = cents.length
    val avgList = n.toDouble / k
    val bcC = spark.sparkContext.broadcast(cents)

    val qn = 16
    val qids = (0L until qn.toLong).toArray
    val qvecs = qids.map(q => q -> vec(q)).toMap
    val bcQ = spark.sparkContext.broadcast(qvecs)

    /** One pass over the corpus: per-query top-K among KEPT ids whose
      * list is in that query's probe set (None = no list restriction —
      * the filtered truth). Per-partition bounded heaps, driver merge. */
    def topk(sel: Double, probes: Option[Map[Long, Set[Int]]]): Map[Long, Seq[Long]] = {
      val bcP = spark.sparkContext.broadcast(probes)
      val partials = spark.range(n).mapPartitions { it =>
        val qs = bcQ.value
        val cs = bcC.value
        val pr = bcP.value
        // per-query max-heap of (dist, id), capped at TopK
        val heaps = qs.keys.map(q => q -> new java.util.PriorityQueue[(Double, Long)](
          TopK + 1, (a: (Double, Long), b: (Double, Long)) =>
            java.lang.Double.compare(b._1, a._1))).toMap
        it.foreach { id =>
          if (kept(id, sel) && !qs.contains(id)) {
            val v = vec(id)
            val cid = if (pr.isEmpty) -1 else nearestIdx(v, cs)
            qs.foreach { case (q, qv) =>
              if (pr.forall(_(q).contains(cid))) {
                val d = l2(qv, v)
                val h = heaps(q)
                if (h.size < TopK) h.add((d, id))
                else if (h.peek()._1 > d) { h.poll(); h.add((d, id)) }
              }
            }
          }
        }
        heaps.iterator.flatMap { case (q, h) =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(h.iterator()).asScala
            .map { case (d, id) => (q, id, d) }
        }
      }.collect()
      partials.groupBy(_._1).map { case (q, xs) =>
        // deterministic order: distance asc, id asc
        q -> xs.sortBy(t => (t._3, t._2)).take(TopK).map(_._2).toSeq
      }
    }

    def probeSets(p: Int): Map[Long, Set[Int]] =
      qids.map { q =>
        val v = qvecs(q)
        q -> cents.indices.sortBy(i => l2(v, cents(i))).take(p).toSet
      }.toMap

    def recall(truth: Map[Long, Seq[Long]], ann: Map[Long, Seq[Long]]): Double =
      if (truth.isEmpty) 1.0
      else truth.map { case (q, t) =>
        if (t.isEmpty) 1.0
        else ann.getOrElse(q, Nil).toSet.intersect(t.toSet).size.toDouble / t.size
      }.sum / truth.size

    val rows = Selectivities.map { sel =>
      val truth = topk(sel, None)
      val fixed = topk(sel, Some(probeSets(BaseNprobe)))
      val decision = graft.queries.VectorOps.adaptiveNprobe(
        sel, avgList, k, BaseNprobe, TopK)
      val (adaptive, scannedFrac) = decision match {
        case Some(p) => (topk(sel, Some(probeSets(p))), p.toDouble / k)
        case None => (truth, 1.0) // exact filtered brute force
      }
      val rFixed = recall(truth, fixed)
      val rAdaptive = recall(truth, adaptive)
      System.err.println(f"[filtprobe] sel=$sel%.4f decision=$decision " +
        f"recall_fixed=$rFixed%.3f recall_adaptive=$rAdaptive%.3f " +
        f"scanned=$scannedFrac%.3f")
      (sel, decision, rFixed, rAdaptive, scannedFrac)
    }

    // the decision-shape assertions are geometry-dependent — valid at
    // the DEFAULT corpus size only (review r19: at N=1M the 0.1%
    // predicate holds 1000 qualifying vectors and the rule correctly
    // indexes it; a size override must not turn that into a violation)
    val defaultSize = n == 100000L
    val viol = scala.collection.mutable.ListBuffer.empty[String]
    rows.foreach { case (sel, decision, rF, rA, frac) =>
      if (rA + 1e-9 < rF) viol += f"sel=$sel: adaptive $rA%.3f < fixed $rF%.3f"
      if (rA < 0.9) viol += f"sel=$sel: adaptive recall $rA%.3f < 0.9"
      if (defaultSize && sel == 0.5 && (decision.isEmpty || frac > 0.1))
        viol += f"sel=0.5 must stay indexed with <=10%% lists probed (got $decision, $frac%.3f)"
      if (defaultSize && sel == 0.001 && decision.nonEmpty)
        viol += s"sel=0.001 must fall back to brute force (got $decision)"
    }

    val round = Bench.roundNumber
    val rowsJson = rows.map { case (sel, decision, rF, rA, frac) =>
      f"""{"selectivity":$sel%.4f,"decision":"${decision.map(_.toString).getOrElse("bruteforce")}","nprobe":${decision.getOrElse(-1)},"recall_fixed":$rF%.4f,"recall_adaptive":$rA%.4f,"scanned_frac":$frac%.4f}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"probe":"filtered_ann","round":$round,"n":$n,"n_lists":$k,"avg_list":$avgList,"base_nprobe":$BaseNprobe,"top_k":$TopK,"qn":$qn,"load_start":$loadStart,"tainted":$tainted,"rows":$rowsJson,"violations":${viol.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    println(json)
    ProbeRig.writeArtifact(s"filtered_ann_probe_r$round.json", json, "filtprobe")
    spark.stop()
    if (viol.nonEmpty) {
      viol.foreach(v => System.err.println(s"[filtprobe] VIOLATION: $v"))
      sys.exit(1)
    }
  }
}
