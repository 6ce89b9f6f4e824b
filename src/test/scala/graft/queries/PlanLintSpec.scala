package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** Physical-plan lint over the ENTIRE query surface: every
  * SparkEntry.queries entry is planned at sf0.001 and its executed
  * plan is checked for operators that should never appear —
  * CartesianProduct (an unconditioned shuffled cross join) and
  * BatchEvalPython (a Python UDF). BroadcastNestedLoopJoin is allowed
  * only where a small broadcast batch against the corpus is the
  * intended shape (the brute-force scorer). This is the automated form
  * of the explain-and-iterate discipline: a future edit that
  * accidentally plans a cross join fails here, not in a 100 TB run. */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // broadcast query-batch × corpus (brute-force scorer) and the
  // documented exact all-pairs baseline are the designed plans here
  // (vec_recall_eval embeds the brute-force scorer as its truth side)
  private val nestedLoopAllowed =
    Set("vec_topk_bruteforce", "vec_neardup_pairs",
      "vec_recall_eval", "vec_recall_eval_ivf", "vec_recall_eval_trained",
      "vec_recall_eval_ivfpq", "vec_recall_eval_ivfpq_res",
      // SQ8 is deliberately a FLAT scan over decoded codes (the
      // brute-force shape at 8× compression); its recall eval embeds
      // both it and the brute-force truth
      "vec_ann_sq8", "vec_recall_eval_sq8", "vec_recall_eval_ivfsq8",
      // the filtered recall eval embeds the (filtered) brute-force truth
      "vec_recall_eval_filtered",
      // the adaptive SPARSE gate row IS the exact filtered brute force
      // (the None dispatch branch — recall 1.0 by construction), and
      // the adaptive recall eval embeds the filtered truth; the
      // moderate vec_ann_adaptive row takes the IVF branch and is
      // deliberately NOT whitelisted — a dispatch regression that
      // flips it to brute force would fail this lint
      "vec_ann_adaptive_sparse", "vec_recall_eval_adaptive")
  // the 2M-node scale probes generate their extract on first touch —
  // too heavy for a lint pass that only inspects plans
  private val skip = Set("osm_big_pois", "osm_big_topology", "osm_big_buildings")

  test("no CartesianProduct or Python UDF in any query plan") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        try {
          val plan = fn(spark, dir).queryExecution.executedPlan.toString
          if (plan.contains("CartesianProduct"))
            failures += s"$name: CartesianProduct"
          if (plan.contains("BatchEvalPython") || plan.contains("PythonUDF"))
            failures += s"$name: Python UDF"
          if (plan.contains("BroadcastNestedLoopJoin") && !nestedLoopAllowed(name))
            failures += s"$name: BroadcastNestedLoopJoin (not whitelisted)"
        } catch {
          case e: Throwable => failures += s"$name: planning failed: ${e.getMessage}"
        }
      }
    }
    assert(failures.isEmpty, s"plan lint failures:\n  ${failures.mkString("\n  ")}")
  }

  // VERDICT r11 #1/#3: the two queries that used to ship a
  // single-task exact-rank window (percent_rank PARTITION BY a
  // ~3-value key; unpartitioned ntile) now compute the identical rank
  // via DistributedRank — pin that NO stage of either plan funnels
  // through one partition. `SinglePartition` is the physical marker
  // of both an unpartitioned window/sort and an `Exchange
  // SinglePartition`; a regression back to the window form (or a new
  // global agg without groupBy) re-introduces it and fails here.
  test("ev_anomaly and tpch_q22_idle_rich plan no single-partition stage") {
    Seq("ev_anomaly", "tpch_q22_idle_rich", "pipe_pack_sequences").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"$name plans a single-partition stage:\n$plan")
    }
  }

  // tpch_q21_waiting is the double-EXISTS shape: the physical plan
  // must carry BOTH a semi and an anti join against the fact table
  // (plus the orders-F semi). A rewrite into distinct-count aggregates
  // would still be hash-correct but lose the plan shape this query
  // exists to exercise.
  test("tpch_q21_waiting plans both a semi and an anti join stage") {
    val plan = graft.SparkEntry.queries("tpch_q21_waiting")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi join stage:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti join stage:\n$plan")
  }

  // plan-shape pins for the COUNT(*) aggregate pushdown twins
  // (TopologyPlanSpec doctrine): a silent pushdown regression in EITHER
  // direction — the pushdown twin falling back to full element decode,
  // or the decode twin being silently served by the framing walk and
  // losing its oracle power over S1-S11 — must fail CI, not surface as
  // an unexplained bench shift (or an unguarded decode path) later.

  // The pushed count plans as a local table scan over the blob
  // summaries, so neither plan string names the scan: both twins are
  // told apart by the scan the optimized plan reads and by the
  // presence of an osmpbf BatchScanExec.
  test("osm_scan_counts_pushdown is served by OsmPbfCountScan") {
    val df = graft.SparkEntry.queries("osm_scan_counts_pushdown")(spark, dir)
    assert(graft.sources.OsmPbfCountPushdownSpec.usesCountScan(df),
      s"COUNT pushdown did not engage on the pushdown twin:\n${df.queryExecution.executedPlan}")
  }

  test("osm_scan_counts keeps the full element-decode scan (no OsmPbfCountScan)") {
    val df = graft.SparkEntry.queries("osm_scan_counts")(spark, dir)
    assert(!graft.sources.OsmPbfCountPushdownSpec.usesCountScan(df) &&
      graft.sources.OsmPbfCountPushdownSpec.osmpbfScans(df).nonEmpty,
      s"the decode-path twin was unexpectedly served by the count pushdown:\n${df.queryExecution.executedPlan}")
  }
}
