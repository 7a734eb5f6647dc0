package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import graft.tools.Probe

/** Every `graft.tools.Probe` mode runs end to end on the shared session. */
class ProbeSpec extends SparkSpec {

  private def output(f: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(f)
    buf.toString("UTF-8")
  }

  private val q = Seq("tpch_q6")

  test("q prints Bench's reading") {
    val out = output(Probe.q(spark, sfDir, q))
    assert(out.contains("[probe-q] tpch_q6") && out.contains("med="), out)
    assert(!out.contains("FAILED"), out)
  }

  test("phases splits a query's cost") {
    val out = output(Probe.phases(spark, sfDir, q))
    assert(out.linesIterator.exists(_.startsWith("[phases] tpch_q6")), out)
    assert(!out.contains("FAILED"), out)
  }

  test("stages lists a warm run's stages") {
    val out = output(Probe.stages(spark, sfDir, q))
    assert(out.contains("[stages] tpch_q6 cores="), out)
  }

  test("task times trivial jobs") {
    val out = output(Probe.task(spark, sfDir))
    assert(out.linesIterator.count(_.startsWith("[task] ")) == 12, out)
  }

  test("read times table resolution") {
    val out = output(Probe.read(spark, sfDir))
    assert(out.linesIterator.count(_.startsWith("[read] ")) == 6, out)
  }

  test("plan writes each query's formatted plan") {
    val dir = Files.createTempDirectory("graft-probe-plan").toString
    output(Probe.plan(spark, sfDir, dir, q))
    val txt = Files.readString(Paths.get(s"$dir/tpch_q6.txt"))
    assert(txt.contains("== Physical Plan =="), txt)
  }

  test("an unknown query is reported, not thrown") {
    val out = output(Probe.q(spark, sfDir, Seq("no_such_query")))
    assert(out.contains("unknown query 'no_such_query'"), out)
  }
}
