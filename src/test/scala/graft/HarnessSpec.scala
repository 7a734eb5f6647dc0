package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The shared session/timing harness: a throwing query is a failure, never
  * a time; the per-query reset really clears pinned blocks and leaked
  * knobs; session tuning is installed once and then leaves caller confs
  * alone; and nothing but Harness builds a session. */
class HarnessSpec extends SparkSpec {

  test("measure: a build that throws records a failure, not a duration") {
    val m = Harness.measure(spark, "boom", 3)(throw new IllegalStateException("boom"))
    assert(m.failed)
    assert(m.error.exists(_.contains("boom")))
    assert(m.repsS.isEmpty && m.med == 0.0 && m.min == 0.0)
  }

  test("measure: a run that throws during execution records a failure") {
    val m = Harness.measure(spark, "assert", 3)(
      spark.range(10).selectExpr("assert_true(id < 0)"))
    assert(m.failed)
    assert(m.repsS.isEmpty)
  }

  test("measure: a timed rep that throws is not timed") {
    var runs = 0
    val m = Harness.measure(spark, "flaky", 3) {
      runs += 1
      if (runs >= 3) throw new IllegalStateException("third run")
      spark.range(10).toDF()
    }
    assert(m.failed)
    assert(m.repsS.size < 3, s"the throwing rep must not be timed: ${m.repsS}")
  }

  test("measure: a clean query reports its reps") {
    val m = Harness.measure(spark, "ok", 2)(spark.range(1000).toDF())
    assert(!m.failed)
    assert(m.repsS.size >= 2 && m.min > 0.0 && m.min <= m.med)
  }

  test("resetState unpersists pinned checkpoints and unsets spark.graft.* keys") {
    val sc = spark.sparkContext
    spark.range(100).localCheckpoint(true).count()
    spark.conf.set("spark.graft.leakedKnob", "1")
    assert(sc.getPersistentRDDs.nonEmpty)
    Harness.resetState(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(spark.conf.getOption("spark.graft.leakedKnob").isEmpty)
  }

  test("Tables.table leaves a conf set after the session was tuned") {
    val key = "spark.sql.adaptive.enabled"
    Tables.tune(spark)
    try {
      spark.conf.set(key, "false")
      Tables.table(spark, sfDir, "region")
      assert(spark.conf.get(key) == "false")
    } finally spark.conf.set(key, "true")
  }

  test("only Harness builds a session") {
    // Scans the engine's sources and tests; perfbench/ builds its own
    // session on purpose and is not scanned.
    val needle = "SparkSession" + ".builder"
    val hits = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(needle))
        .map((p: Path) => p.getFileName.toString)
    }
    assert(hits == Seq("Harness.scala"))
  }
}
