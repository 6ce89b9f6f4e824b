package graft

import org.apache.spark.sql.functions._

/** Vector-index scale probe — turns the IVF-PQ layout's scale claims
  * into MEASURED, self-checked numbers (the ZOrderSpec doctrine:
  * skipping is asserted from metrics, not prose), at a corpus size
  * where the pruning is visible (default 200k × 64-dim, clustered):
  *
  *   A. ADC scan pruning: the probed (IVF-PQ) scan must score at most
  *      a few percent of the query×code pairs the flat-PQ scan
  *      scores, and after the shared exact re-rank its recall@10 must
  *      not trail the flat scan's by more than 0.05 — "composition
  *      does not cost recall", the r13 acceptance bar, re-proven at
  *      400× the gate fixture's size.
  *   B. source pruning: the code table is written to parquet
  *      PARTITIONED BY list id (the deployment layout the VectorOps
  *      scaladoc names); one query's nprobe-list scan must READ only
  *      those partitions — asserted from the scan's own numOutputRows
  *      metric against the full-scan row count.
  *
  * Quantizer/codebooks are deliberately cheap (id-sampled coarse
  * centroids; per-subspace Lloyd on a driver-side sample): the probe
  * measures SCAN economics, not quantizer quality — recall floors are
  * carried by the clustered corpus + exact re-rank, exactly as in the
  * oracle-gated engine path. Exits 1 when any bound fails; writes
  * bench/vecscale_r{N}.json. Ambient-load-gated like ScaleProbe.
  */
object VecScaleProbe {

  val Dim = 64
  val Clusters = 64

  // splitmix64 — the repo's standard deterministic generator
  private[graft] def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[graft] def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Deterministic two-level clustered corpus: 64 well-separated
    * coarse centers (the IVF structure), each split into 32
    * micro-groups at ±0.12 with ±0.02 residual noise — so every
    * vector has ~n/2048 genuinely NEAR neighbors (its micro-group)
    * that a working index must return. A single-level cloud would
    * make all cluster members near-equidistant and recall@10 a coin
    * flip for ANY index — the probe must measure pruning, not an
    * unanswerable query. */
  val Micro = 32
  def vec(id: Long): Array[Double] = {
    val c = (id % Clusters).toInt
    val g = ((id / Clusters) % Micro).toInt
    val a = new Array[Double](Dim)
    var d = 0
    while (d < Dim) {
      val center = unit(mix(c.toLong * 1000003L + d)) * 2 - 1
      val micro = (unit(mix((c.toLong * 37L + g) * 2654435761L + d)) * 2 - 1) * 0.12
      val noise = (unit(mix(id * 709L + d * 31L + 7L)) * 2 - 1) * 0.02
      a(d) = center + micro + noise
      d += 1
    }
    a
  }

  private[graft] def l2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var d = 0
    while (d < a.length) { val t = a(d) - b(d); acc += t * t; d += 1 }
    acc
  }

  private[graft] def nearestIdx(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var bi = 0
    var bd = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      val d = l2(v, cs(i))
      if (d < bd) { bd = d; bi = i }
      i += 1
    }
    bi
  }

  /** Tiny driver-side Lloyd per subspace over a sampled slice set. */
  private[graft] def trainBooks(sampleIds: Range, m: Int, subK: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val sub = Dim / m
    val samples = sampleIds.map(i => vec(i.toLong)).toArray
    (0 until m).map { j =>
      val slices = samples.map(_.slice(j * sub, (j + 1) * sub))
      var cents = slices.take(subK).map(_.clone())
      (1 until iters).foreach { _ =>
        val sums = Array.fill(subK)(new Array[Double](sub))
        val cnts = new Array[Long](subK)
        slices.foreach { s =>
          val bi = nearestIdx(s, cents)
          var d = 0
          while (d < sub) { sums(bi)(d) += s(d); d += 1 }
          cnts(bi) += 1
        }
        cents = cents.indices.map { i =>
          if (cnts(i) == 0) cents(i)
          else sums(i).map(_ / cnts(i))
        }.toArray
      }
      cents
    }.toArray
  }

  /** mean recall@10 of `ann` (query → matches) against `truth`. */
  private def recall(truth: Map[Long, Set[Long]],
      ann: Map[Long, Set[Long]]): Double =
    truth.map { case (q, t) =>
      ann.getOrElse(q, Set.empty).count(t).toDouble / t.size
    }.sum / truth.size

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // shared quiet-host gate (VERDICT r19 task 6 — this file's inline
    // copy had both ADVICE-r19 defects: the '9 9' unreadable-loadavg
    // sentinel that stalls forever, and a double-sample disagreement
    // between loadStart and the taint verdict)
    val (loadStart, tainted) = ProbeRig.loadGate(tag = "vecscaleprobe")

    val spark = ProbeRig.session()
    import spark.implicits._

    val n = sys.env.getOrElse("SPARK_GRAFT_VECPROBE_N", "200000").toLong
    val k = 448 // coarse lists (≈√N at the default size)
    val nprobe = 8
    // standard 8-bit PQ (m=8 × 256 codewords = 8 bytes/vector): 16
    // codewords per subspace cannot separate this corpus' 2048
    // micro-patterns and recall collapses to shortlist/cluster-size
    // shortlist must exceed the ADC tie-class size: PQ resolves the
    // micro-groups but not the ±0.02 noise inside one, so a group's
    // ~n/2048 members share one code and tie — a shortlist smaller
    // than the group caps recall at shortlist/group regardless of
    // index quality (measured: 50 of ~97 → 0.43)
    val (m, subK, shortlist, topK, qn) = (8, 256, 150, 10, 16)

    // coarse quantizer: id-sampled centroids. The step is forced ODD:
    // ids cycle clusters as id % 64, so an even step visits only
    // gcd(step, 64)-spaced residues (review r13: step 446 sampled the
    // 32 even clusters only, leaving odd clusters assigned to remote
    // near-tied lists); an odd step is coprime to 64 and cycles all.
    val step = math.max(1L, n / k) | 1L
    val cents: Array[Array[Double]] =
      (0L until n by step).take(k).map(vec).toArray
    val books = trainBooks(0 until 8192, m, subK, iters = 3)
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(books)

    // one narrow pass: (id, list, codes) — the IVF-PQ build
    val sub = Dim / m
    val encoded = spark.range(n).mapPartitions { it =>
      val cs = bcC.value
      val bs = bcB.value
      it.map { id =>
        val v = vec(id)
        val cid = nearestIdx(v, cs)
        val codes = new Array[Int](bs.length)
        var j = 0
        while (j < bs.length) {
          codes(j) = nearestIdx(v.slice(j * sub, (j + 1) * sub), bs(j))
          j += 1
        }
        (id, cid, codes)
      }
    }.toDF("vec_id", "cid", "codes")
      .localCheckpoint(eager = true)

    // query batch + per-query ADC tables + probe lists
    val qids = (0L until qn.toLong).toArray
    val qvecs = qids.map(q => q -> vec(q)).toMap
    val probes: Map[Long, Set[Int]] = qids.map { q =>
      val v = qvecs(q)
      q -> cents.indices.sortBy(i => l2(v, cents(i))).take(nprobe).toSet
    }.toMap
    val tables: Map[Long, Array[Array[Double]]] = qids.map { q =>
      val v = qvecs(q)
      q -> (0 until m).map { j =>
        val sv = v.slice(j * sub, (j + 1) * sub)
        books(j).map(cv => l2(sv, cv))
      }.toArray
    }.toMap
    val bcT = spark.sparkContext.broadcast(tables)
    val bcP = spark.sparkContext.broadcast(probes)

    // exact truth: brute-force L2 top-10 per query (bounded heap)
    val bcQ = spark.sparkContext.broadcast(qvecs)
    def bruteTop(): Map[Long, Set[Long]] =
      spark.range(n).mapPartitions { it =>
        val qs = bcQ.value
        val heaps = scala.collection.mutable.Map.empty[Long,
          scala.collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { id =>
          val v = vec(id)
          qs.foreach { case (q, qv) =>
            if (q != id) {
              val d = l2(v, qv)
              val h = heaps.getOrElseUpdate(q,
                scala.collection.mutable.PriorityQueue.empty[(Double, Long)])
              if (h.size < 10) h.enqueue((d, id))
              // tie rule mirrors the final (d, id) window order: an
              // equal-distance smaller id must displace the boundary
              // (the rankTopK lesson — a strict < silently drops it)
              else if (d < h.head._1 || (d == h.head._1 && id < h.head._2)) {
                h.dequeue(); h.enqueue((d, id))
              }
            }
          }
        }
        heaps.iterator.flatMap { case (q, h) => h.iterator.map { case (d, id) => (q, id, d) } }
      }.toDF("q", "id", "d")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q")
            .orderBy(col("d"), col("id"))))
        .filter(col("rk") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val brute = ProbeRig.timed(3)(bruteTop())
    val truth = brute.result

    // ADC scoring: flat (every code) vs probed (nprobe lists only)
    def adcScored(pruned: Boolean) =
      encoded.as[(Long, Int, Array[Int])].mapPartitions { it =>
        val ts = bcT.value
        val ps = bcP.value
        it.flatMap { case (id, cid, codes) =>
          ts.iterator.collect {
            case (q, tabs) if q != id && (!pruned || ps(q)(cid)) =>
              var adq = 0.0
              var j = 0
              while (j < codes.length) { adq += tabs(j)(codes(j)); j += 1 }
              (q, id, adq)
          }
        }
      }.toDF("q", "id", "adq")

    def annTop(pruned: Boolean): Map[Long, Set[Long]] = {
      val sl = adcScored(pruned)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q")
            .orderBy(col("adq"), col("id"))))
        .filter(col("rk") <= shortlist)
        .select("q", "id")
      // exact re-rank of the shortlist — driver-side over the collected
      // map (a broadcast here would ship bytes no executor ever reads)
      val short = sl.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, a) => q -> a.map(_._2).toSet }
      short.map { case (q, ids) =>
        val qv = bcQ.value(q)
        q -> ids.toSeq.map(id => (l2(vec(id), qv), id)).sorted.take(topK)
          .map(_._2).toSet
      }
    }

    val pairsFlat = ProbeRig.timed(3)(adcScored(pruned = false).count())
    val pairsIvf = ProbeRig.timed(3)(adcScored(pruned = true).count())
    val annFlat = ProbeRig.timed(3)(annTop(pruned = false))
    val annIvf = ProbeRig.timed(3)(annTop(pruned = true))
    val rFlat = recall(truth, annFlat.result)
    val rIvf = recall(truth, annIvf.result)
    val scanFrac = pairsIvf.result.toDouble / pairsFlat.result

    // B: write the code table PARTITIONED BY list id, then measure the
    // rows a one-query probed scan actually reads from the source
    // always rewritten: a cache keyed on the path would silently serve
    // STALE assignments after any change to k/vec()/centroid sampling
    // and every self-check would still pass (review r13); the write is
    // seconds at this scale
    val dir = s"/tmp/graft_vecprobe_$n"
    encoded.write.mode("overwrite").partitionBy("cid").parquet(dir)
    def scanRead(filterLists: Option[Set[Int]]): (Long, Long) = {
      val base = spark.read.parquet(dir)
      val proj = (filterLists match {
        case Some(ls) => base.filter(col("cid").isin(ls.toSeq: _*))
        case None => base
      }).select("vec_id")
      // collect() executes THIS queryExecution; metrics must be read
      // from the same one (the ZOrderSpec lesson)
      val got = proj.collect().length.toLong
      val plan = proj.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val read = plan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      (got, read)
    }
    val (fullRows, fullRead) = scanRead(None)
    val probedLists = probes(qids.head)
    val (probedRows, probedRead) = scanRead(Some(probedLists))
    val sourceFrac = probedRead.toDouble / math.max(1L, fullRead)

    val rec = Seq(
      "round" -> Bench.roundNumber.toString,
      "tainted" -> tainted.toString,
      "load_start" -> f"$loadStart%.2f",
      "n" -> n.toString, "k" -> k.toString, "nprobe" -> nprobe.toString,
      "m" -> m.toString, "sub_k" -> subK.toString,
      "brute_s" -> f"${brute.wallS}%.1f",
      "pairs_flat" -> pairsFlat.result.toString,
      "pairs_ivfpq" -> pairsIvf.result.toString,
      "adc_scan_frac" -> f"$scanFrac%.4f",
      "pairs_flat_s" -> f"${pairsFlat.wallS}%.1f",
      "pairs_ivfpq_s" -> f"${pairsIvf.wallS}%.1f",
      "flat_topk_s" -> f"${annFlat.wallS}%.1f",
      "ivfpq_topk_s" -> f"${annIvf.wallS}%.1f",
      "recall_flat" -> f"$rFlat%.3f",
      "recall_ivfpq" -> f"$rIvf%.3f",
      "source_full_rows" -> fullRead.toString,
      "source_probed_rows" -> probedRead.toString,
      "source_scan_frac" -> f"$sourceFrac%.4f",
      "probed_result_rows" -> probedRows.toString)
    val json = rec.map { case (kk, v) => "\"" + kk + "\":" + v }
      .mkString("{", ",", "}")
    println(json)
    ProbeRig.writeArtifact(s"vecscale_r${Bench.roundNumber}.json", json,
      "vecscaleprobe")

    // self-checks: the probe IS the assertion (exit 1 on any violated
    // bound so a regression cannot ship a green-looking artifact)
    var fail = List.empty[String]
    if (fullRows != n || fullRead != n) fail ::= s"full scan read $fullRead of $n"
    if (scanFrac > 0.05) fail ::= f"ADC pruning too weak: $scanFrac%.4f > 0.05"
    if (sourceFrac > 0.05) fail ::= f"source pruning too weak: $sourceFrac%.4f > 0.05"
    if (probedRows != probedRead) fail ::= "probed scan read rows it then discarded (no partition pruning)"
    if (rIvf + 0.05 < rFlat) fail ::= f"composition cost recall: $rIvf%.3f vs flat $rFlat%.3f"
    if (rIvf < 0.8) fail ::= f"IVF-PQ recall collapsed: $rIvf%.3f"
    spark.stop()
    if (fail.nonEmpty) {
      fail.foreach(f => System.err.println(s"[vecscaleprobe] FAIL: $f"))
      sys.exit(1)
    }
  }
}
