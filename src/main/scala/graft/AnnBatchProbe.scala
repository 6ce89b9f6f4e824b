package graft

/** ANN batch-scale probe — the MEASURED proof that the cid-indexed
  * probe layout ([[graft.queries.VectorOps.tablesByList]]) keeps
  * per-corpus-row scorer work proportional to the queries PROBING that
  * row's list, never to the total query batch (VERDICT r14 #1, closed
  * in r15; ProbeIndexSpec pins the inversion at 1k — this probe runs
  * the real ADC scoring pass at 1k AND 10k queries over the
  * VecScaleProbe 200k clustered corpus and counts the inner loop).
  *
  * Three self-checked bounds (exit 1 on violation, the VecScaleProbe
  * doctrine — a regression cannot ship a green-looking artifact):
  *   1. EXACTNESS: inner-loop visits == emitted candidate pairs at
  *      every batch size — the scorer never touches a (row, query)
  *      pair the probe assignment didn't create (a flat per-row
  *      membership scan pays batch-size checks per row: at 10k×200k
  *      that is 2e9 visits for the same 36M pairs). Visits are counted
  *      by PER-PARTITION TALLY ROWS summed in the same aggregation
  *      that counts pairs — not a LongAccumulator, whose updates
  *      inside a transformation are at-least-once under task retry /
  *      speculation and would over-count exactly when a task reran
  *      (ADVICE r16; a recomputed partition REPLACES its tally row, so
  *      the column sum stays exactly-once in any environment).
  *   2. SPREAD: mean per-row visits ≤ 2 × batch·nprobe/k — the
  *      indexed work matches the assignment's load, no hot-list
  *      degeneration.
  *   3. FLATNESS: per-PAIR wall cost at 10k ≤ 2 × the 1k cost — i.e.
  *      work-per-row grows only with the pairs the batch genuinely
  *      creates (10× batch → ~10× pairs at ~constant pair rate), with
  *      no superlinear batch term.
  *
  * Writes bench/annbatch_r{N}.json. Ambient-load-gated like the other
  * probes. */
object AnnBatchProbe {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // shared quiet-host gate (VERDICT r19 task 6 — retires this file's
    // inline copy and its ADVICE-r19 '9 9' / double-sample defects)
    val (loadStart, tainted) = ProbeRig.loadGate(tag = "annbatchprobe")

    val spark = ProbeRig.session()
    import spark.implicits._

    val n = sys.env.getOrElse("SPARK_GRAFT_VECPROBE_N", "200000").toLong
    val k = 448
    val nprobe = 8
    val (m, subK) = (8, 256)
    val sub = VecScaleProbe.Dim / m

    // the VecScaleProbe IVF-PQ build: id-sampled coarse centroids
    // (odd step — coprime to the 64-cluster id cycle), driver Lloyd
    // codebooks, one narrow encode pass
    val step = math.max(1L, n / k) | 1L
    val cents: Array[Array[Double]] =
      (0L until n by step).take(k).map(VecScaleProbe.vec).toArray
    val books = VecScaleProbe.trainBooks(0 until 8192, m, subK, iters = 3)
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(books)
    val encoded = spark.range(n).mapPartitions { it =>
      val cs = bcC.value
      val bs = bcB.value
      it.map { id =>
        val v = VecScaleProbe.vec(id)
        val cid = VecScaleProbe.nearestIdx(v, cs)
        val codes = new Array[Int](bs.length)
        var j = 0
        while (j < bs.length) {
          codes(j) = VecScaleProbe.nearestIdx(
            v.slice(j * sub, (j + 1) * sub), bs(j))
          j += 1
        }
        (id, cid.toLong, codes)
      }
    }.toDF("vec_id", "cid", "codes")
      .localCheckpoint(eager = true)

    /** One measured batch: build probes + ADC tables for `bn` queries,
      * invert via tablesByList, run the indexed scoring pass with a
      * tally of the inner loop. Returns (pairs, visits, bestWall). */
    def runBatch(bn: Int): (Long, Long, Double) = {
      val qids = (0L until bn.toLong).toArray
      val probes: Map[Long, Seq[Long]] = qids.map { q =>
        val v = VecScaleProbe.vec(q)
        q -> cents.indices.sortBy(i => VecScaleProbe.l2(v, cents(i)))
          .take(nprobe).map(_.toLong).toSeq
      }.toMap
      val tables: Map[Long, Array[Array[Double]]] = qids.map { q =>
        val v = VecScaleProbe.vec(q)
        q -> (0 until m).map { j =>
          val sv = v.slice(j * sub, (j + 1) * sub)
          books(j).map(cv => VecScaleProbe.l2(sv, cv))
        }.toArray
      }.toMap
      val byList = graft.queries.VectorOps.tablesByList(probes, (qid, _) => tables(qid))
      val bcIdx = spark.sparkContext.broadcast(byList)

      // retry-safe visit counting (ADVICE r16): each partition appends
      // ONE tally row (q = -1, id = its inner-loop visit count) after
      // its data rows drain — `++`'s by-name argument evaluates only
      // once the data iterator is exhausted, so the tally sees the
      // final count. pairs and visits come out of the SAME aggregation
      // action; a retried/speculative task replaces its partition's
      // rows, tally included, so neither can over-count.
      def scorePass(): (Long, Long) = {
        val r = encoded.as[(Long, Long, Array[Int])].mapPartitions { it =>
          val idx = bcIdx.value
          var visits = 0L
          val data = it.flatMap { case (id, cid, codes) =>
            // THE contract under test: per-row work is |byList(cid)|
            idx.getOrElse(cid, Array.empty[(Long, Array[Array[Double]])])
              .iterator.map { case (q, tabs) =>
                visits += 1
                var adq = 0.0
                var j = 0
                while (j < codes.length) { adq += tabs(j)(codes(j)); j += 1 }
                (q, id, adq)
              }
          }
          data ++ Iterator((-1L, visits, 0.0))
        }.toDF("q", "id", "adq")
          .selectExpr(
            "sum(CASE WHEN q >= 0 THEN 1 ELSE 0 END) AS pairs",
            "sum(CASE WHEN q = -1 THEN id ELSE 0 END) AS visits")
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }

      val t = ProbeRig.timed(3)(scorePass())
      (t.result._1, t.result._2, t.wallS)
    }

    val batches = Seq(1000, 10000)
    val results = batches.map(bn => bn -> runBatch(bn)).toMap
    val (p1, v1, t1) = results(1000)
    val (p10, v10, t10) = results(10000)
    val perPair1 = t1 / p1
    val perPair10 = t10 / p10
    val perRow1 = v1.toDouble / n
    val perRow10 = v10.toDouble / n
    val expect1 = 1000.0 * nprobe / k
    val expect10 = 10000.0 * nprobe / k

    val rec = Seq(
      "round" -> Bench.roundNumber.toString,
      "tainted" -> tainted.toString,
      "load_start" -> f"$loadStart%.2f",
      "n" -> n.toString, "k" -> k.toString, "nprobe" -> nprobe.toString,
      "pairs_1k" -> p1.toString, "visits_1k" -> v1.toString,
      "wall_1k_s" -> f"$t1%.2f",
      "pairs_10k" -> p10.toString, "visits_10k" -> v10.toString,
      "wall_10k_s" -> f"$t10%.2f",
      "per_row_visits_1k" -> f"$perRow1%.2f",
      "per_row_visits_10k" -> f"$perRow10%.2f",
      "per_row_expected_1k" -> f"$expect1%.2f",
      "per_row_expected_10k" -> f"$expect10%.2f",
      "ns_per_pair_1k" -> f"${perPair1 * 1e9}%.1f",
      "ns_per_pair_10k" -> f"${perPair10 * 1e9}%.1f",
      "pair_cost_ratio_10k_vs_1k" -> f"${perPair10 / perPair1}%.3f",
      "flat_layout_visits_10k" -> (n * 10000L).toString)
    val json = rec.map { case (kk, v) => "\"" + kk + "\":" + v }
      .mkString("{", ",", "}")
    println(json)
    ProbeRig.writeArtifact(s"annbatch_r${Bench.roundNumber}.json", json,
      "annbatchprobe")

    var fail = List.empty[String]
    if (v1 != p1) fail ::= s"1k: $v1 visits for $p1 pairs — scorer touched non-probing pairs"
    if (v10 != p10) fail ::= s"10k: $v10 visits for $p10 pairs — scorer touched non-probing pairs"
    if (perRow1 > 2 * expect1) fail ::= f"1k per-row work $perRow1%.1f > 2x spread expectation $expect1%.1f"
    if (perRow10 > 2 * expect10) fail ::= f"10k per-row work $perRow10%.1f > 2x spread expectation $expect10%.1f"
    if (perPair10 > 2 * perPair1) fail ::= f"per-pair cost grew ${perPair10 / perPair1}%.2fx from 1k to 10k — superlinear batch term"
    spark.stop()
    if (fail.nonEmpty) {
      fail.foreach(f => System.err.println(s"[annbatchprobe] FAIL: $f"))
      sys.exit(1)
    }
  }
}
