package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SparkTestSession

/** The probe harness: the rep timer, the stage recorder, the `set:` and
  * `SPARK_GRAFT_CONF` parsers, and the rule that no other main-code
  * file builds a session or registers a Spark listener. */
class ProbeRigSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def spin(seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {}
  }

  test("timed runs the body n times: first result, first-rep wall, min wall and min CPU") {
    var calls = 0
    val t = ProbeRig.timed(3) {
      calls += 1
      calls match {
        case 1 => spin(0.4) // cold: the longest wall and the most CPU
        case 2 => Thread.sleep(200)
        case _ => Thread.sleep(60) // the min wall
      }
      calls
    }
    assert(calls === 3)
    assert(t.result === 1)
    assert(t.coldS >= 0.4)
    assert(t.wallS >= 0.06 && t.wallS < 0.2, s"min wall ${t.wallS}")
    // the min CPU comes from a sleeping rep, not from the spinning one
    assert(t.cpuS >= 0.0 && t.cpuS < 0.3, s"min cpu ${t.cpuS}")
    intercept[IllegalArgumentException](ProbeRig.timed(0)(1))
  }

  test("the stage recorder records only inside its block, lazy checkpoint jobs included") {
    // a shuffle just before the block, whose events may still be queued
    // on the listener bus when the block opens
    assert(spark.range(0, 10000, 1, 4).repartition(3).collect().length === 10000)
    val quiet = ProbeRig.recordStages(spark)(spark.range(0, 100, 1, 2).collect().length)
    assert(quiet.result === 100)
    assert(quiet.stages.nonEmpty)
    assert(quiet.stages.map(_.shuffleWriteMB).sum === 0.0, quiet.stages)
    assert(quiet.executions.map(_._1) === Seq("collect"))

    val cp = ProbeRig.recordStages(spark) {
      spark.range(0, 10000, 1, 4).repartition(3).localCheckpoint(eager = false)
        .collect().length
    }
    assert(cp.result === 10000)
    // the repartition runs only in the job that materializes the checkpoint
    assert(cp.stages.map(_.shuffleWriteMB).sum > 0.0, cp.stages)
    assert(cp.executions.map(_._1).toSet === Set("localCheckpoint", "collect"))
  }

  test("set: arguments parse to a session conf; a malformed one raises an error naming it") {
    assert(ProbeRig.setConf("set:spark.sql.shuffle.partitions = 8") ===
      ("spark.sql.shuffle.partitions" -> "8"))
    assert(ProbeRig.setConf("set:k=a=b") === ("k" -> "a=b"))
    Seq("set:spark.graft.x", "set:=1", "set:").foreach { bad =>
      val e = intercept[IllegalArgumentException](ProbeRig.setConf(bad))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_CONF parses to trimmed k=v pairs, skipping entries without a key and '='") {
    assert(ProbeRig.envConf(" a.b = 1 ;c=x=y;;junk; =v;d=") ===
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    assert(ProbeRig.envConf("") === Seq.empty)
  }

  test("only ProbeRig.scala builds a SparkSession or registers a Spark listener in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val rig = new java.io.File(root, "graft/ProbeRig.scala").getCanonicalFile
    val offenders = files(root).filter(f => f.getName.endsWith(".scala") && f.getCanonicalFile != rig)
      .filter { f =>
        val src = java.nio.file.Files.readString(f.toPath)
        src.contains("SparkSession.builder") || src.contains("addSparkListener")
      }
    assert(offenders.isEmpty, s"use ProbeRig.session / ProbeRig.recordStages in: ${offenders.mkString(", ")}")
  }
}
