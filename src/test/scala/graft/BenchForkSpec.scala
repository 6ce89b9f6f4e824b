package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives the REAL fresh-JVM requeue path end-to-end: forks a
  * graft.BenchOne child with this JVM's own classpath/options (the
  * exact mechanism Bench.main uses at end of run), waits for its
  * per-query JSON line, and checks the parsed values. This is the
  * one test that can catch a classpath/add-opens/env regression in
  * the fork recipe — the regex/flag logic is unit-pinned in
  * BenchFlagsSpec, but a child that dies on startup would otherwise
  * only surface as a silently empty `requeued` block in the round's
  * committed record.
  *
  * Round 19 additions (VERDICT r18 task 1): the SIGKILL drill — a
  * fake child that kills ITSELF with signal 9 mid-run, proving the
  * two-phase emit commits the full record BEFORE the fork and the
  * requeue degrades to a loud `requeue_failed` marker plus whatever
  * partial lines the child flushed, never to a lost record — and the
  * child resource bounds (heap/agent-arg filtering, local[8] pin). */
class BenchForkSpec extends AnyFunSuite {

  test("freshJvmMeasure forks a child that measures one query") {
    // pin the child to the cheapest fixture via the fork's env
    // override (review r18 pass 2) — the spec pays JVM+session
    // startup, never sf0.1 query time — and gate on that exact dir
    val childDir = "/root/testdata/sf0.001"
    assume(new java.io.File(childDir).isDirectory,
      s"child SF dir $childDir absent on this host")
    val out = Bench.freshJvmMeasure(Seq("q1_agg"),
      extraEnv = Map("SPARK_GRAFT_SF_DIR" -> childDir))
    assert(out.vals.contains("q1_agg"),
      s"child produced no parsable line; detail=${out.detail} " +
        s"fail=${out.failReason}")
    val (wall, cpu, rows) = out.vals("q1_agg")
    assert(wall >= 0.0, s"child rep failed: wall=$wall")
    assert(rows > 0L, s"q1_agg returned no rows in the child: $rows")
    assert(cpu != 0.0) // either a real reading or the -1 sentinel
    assert(out.detail("q1_agg").contains("\"reps\":["))
    assert(out.failReason.isEmpty, s"clean run flagged: ${out.failReason}")
  }

  test("SIGKILLed child degrades to requeue_failed + partial output, record already committed") {
    // the r18 failure mode: the requeue died (exit 137) AFTER all
    // measurements existed and the round record was lost because it
    // was only emitted after the fork. Drive the REAL twoPhaseEmit +
    // freshJvmMeasure path with a child that SIGKILLs itself and
    // assert (a) phase 1's record is committed BEFORE the fork runs,
    // (b) the kill surfaces as a failReason instead of an exception,
    // (c) the line the child flushed pre-kill is kept.
    val events = scala.collection.mutable.ListBuffer.empty[String]
    val outcome = Bench.twoPhaseEmit(
      Seq("fake_row"),
      emitPhase1 = () => events += "phase1-committed",
      fork = names => {
        events += "fork"
        Bench.freshJvmMeasure(names, mainClass = "graft.BenchOneKillSelf")
      },
      emitPhase2 = o => events += s"phase2:failed=${o.failReason.isDefined}")
    assert(events.toList ==
      List("phase1-committed", "fork", "phase2:failed=true"),
      s"emit ordering broken: $events")
    assert(outcome.failReason.isDefined, "SIGKILL must surface a reason")
    assert(outcome.failReason.get.contains("137"),
      s"reason should name the kill exit: ${outcome.failReason}")
    // the line flushed before the kill is a real measurement — kept
    assert(outcome.vals.get("fake_row").contains((0.123, 0.10, 7L)),
      s"partial child output lost: ${outcome.vals}")
  }

  test("clean exit with an all-FAIL sentinel row is flagged, not read as adjudicated") {
    // review r19: a row whose every child rep threw comes back as a
    // well-formed wall=-1 line and exit 0 — no adjudicating
    // measurement exists, so the committed record must say so
    val out = Bench.freshJvmMeasure(Seq("fake_row"),
      mainClass = "graft.BenchOneAllFail")
    assert(out.failReason.isDefined, "all-FAIL sentinel must flag")
    assert(out.failReason.get.contains("fake_row"))
  }

  test("clean exit with only a wrongly-named row is flagged (count cannot mask a dropped name)") {
    val out = Bench.freshJvmMeasure(Seq("fake_row"),
      mainClass = "graft.BenchOneWrongName")
    assert(out.failReason.isDefined,
      s"missing requested name must flag even at matching row count: $out")
    assert(out.failReason.get.contains("fake_row"))
  }

  test("twoPhaseEmit with no requeue names never forks") {
    var forked = false
    Bench.twoPhaseEmit(Nil, () => (),
      _ => { forked = true; Bench.RequeueOutcome.empty }, _ => ())
    assert(!forked)
  }

  test("child JVM args drop heap pins, pre-touch and agent/port-binding args") {
    val parent = Seq(
      "--add-opens", "java.base/java.lang=ALL-UNNAMED",
      "-Xms8g", "-Xmx8g", "-XX:+AlwaysPreTouch",
      "-agentlib:jdwp=transport=dt_socket,address=5005",
      "-javaagent:/tmp/profiler.jar",
      "-agentpath:/tmp/native.so",
      "-Dcom.sun.management.jmxremote.port=9999",
      "-XX:StartFlightRecording=filename=/tmp/r.jfr",
      "-XX:FlightRecorderOptions=repository=/tmp",
      "-Dspark.ui.enabled=false")
    val child = Bench.childJvmArgs(parent, "4g")
    // kept: add-opens + harmless -D props
    assert(child.contains("--add-opens"))
    assert(child.contains("-Dspark.ui.enabled=false"))
    // dropped: every fixed-resource / heap arg
    for (bad <- Seq("-Xms8g", "-Xmx8g", "-XX:+AlwaysPreTouch"))
      assert(!child.contains(bad), s"$bad must be dropped")
    assert(!child.exists(_.startsWith("-agentlib")), "jdwp port binding")
    assert(!child.exists(_.startsWith("-javaagent")))
    assert(!child.exists(_.startsWith("-agentpath")))
    assert(!child.exists(_.startsWith("-Dcom.sun.management.jmxremote")))
    assert(!child.exists(_.startsWith("-XX:StartFlightRecording")))
    assert(!child.exists(_.startsWith("-XX:FlightRecorderOptions")))
    // re-bounded heap is the LAST arg (wins over any survivor)
    assert(child.last == "-Xmx4g")
  }

  test("requeue selection is severity-ranked: worst candidates first, dropped names returned") {
    // VERDICT r19 task 1: with more candidates than MaxRequeue, the
    // old run-order .take(8) cut the over2x TAIL — in the driver's r19
    // record the 16.4×/13.4×/12.8× outliers went un-requeued while a
    // 2.0× row got a slot, and the artifact never said so. Eleven
    // candidates, severities chosen so run order and severity order
    // disagree hard: the three worst arrive LAST.
    val cands = Seq(
      "early_mild_a" -> 2.0, "early_mild_b" -> 2.1, "early_mild_c" -> 2.2,
      "mid_d" -> 2.5, "mid_e" -> 2.6, "mid_f" -> 2.7, "mid_g" -> 2.8,
      "mid_h" -> 2.9,
      "late_worst_x" -> 16.4, "late_worst_y" -> 13.4, "late_worst_z" -> 12.8)
    val (selected, dropped) = Bench.rankRequeue(cands)
    assert(selected.size == Bench.MaxRequeue)
    // the three late heavy outliers MUST be in, and in worst-first order
    assert(selected.take(3) == Seq("late_worst_x", "late_worst_y", "late_worst_z"),
      s"worst-first selection broken: $selected")
    // the cut falls on the MILDEST candidates, and they are named
    assert(dropped.toSet == Set("early_mild_a", "early_mild_b", "early_mild_c"),
      s"dropped names wrong: $dropped")
    // a name flagged by several sources ranks by its MAX severity, and
    // appears once
    val (sel2, _) = Bench.rankRequeue(
      Seq("dual" -> 1.1, "dual" -> 9.9, "solo" -> 5.0), max = 2)
    assert(sel2 == Seq("dual", "solo"))
    // equal severities break ties alphabetically (deterministic record)
    val (sel3, drop3) = Bench.rankRequeue(
      Seq("zeta" -> 3.0, "alpha" -> 3.0, "mu" -> 3.0), max = 2)
    assert(sel3 == Seq("alpha", "mu") && drop3 == Seq("zeta"))
    // under-cap: everything selected, nothing dropped
    val (sel4, drop4) = Bench.rankRequeue(Seq("only" -> 2.5))
    assert(sel4 == Seq("only") && drop4.isEmpty)
  }

  test("default record path refuses to overwrite a committed same-round record") {
    // VERDICT r19 task 5: the driver's run overwrote the builder's
    // committed bench_r19.json in the worktree. The default target now
    // steps to the first free round-suffixed sibling, and the suffix
    // stays inside prevRecord's committed-record pattern so next
    // round's quietest-of selection sees every record of the round.
    val dir = java.nio.file.Files.createTempDirectory("benchout").toFile
    val first = Bench.resolveBenchOut(dir, 20)
    assert(first.getName == "bench_r20.json")
    java.nio.file.Files.writeString(first.toPath, "{}")
    val second = Bench.resolveBenchOut(dir, 20)
    assert(second.getName == "bench_r20_2.json")
    java.nio.file.Files.writeString(second.toPath, "{}")
    val third = Bench.resolveBenchOut(dir, 20)
    assert(third.getName == "bench_r20_3.json")
    val pat = "^(?:bench|judge_probe)_r(\\d+)(?:_[A-Za-z0-9]+)?\\.json$".r
    for (f <- Seq(first, second, third))
      assert(pat.findFirstIn(f.getName).isDefined,
        s"${f.getName} would be invisible to prevRecord")
  }

  test("requeue child session is pinned to the bounded thread count") {
    // ProbeRig.session reads SPARK_GRAFT_CPUS; freshJvmMeasure
    // sets it to requeueChildCpus before the caller's overrides. The
    // default bound must stay single-digit-ish: the child runs NEXT
    // TO the parent's local[32] session.
    assert(Bench.requeueChildCpus.toInt <= 16)
    assert(Bench.requeueChildHeap.matches("\\d+[gGmM]"))
  }
}
