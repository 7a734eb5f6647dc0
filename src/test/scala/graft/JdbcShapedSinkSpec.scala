package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.JdbcShapedSink

/** T8/database.py sink semantics: exactly-once into a keyed table-like
  * target across every replay mode foreachBatch can produce — same-id
  * replay (ledger), new-id re-delivery after checkpoint loss (MERGE
  * idempotence), and genuine new versions (upsert wins). */
class JdbcShapedSinkSpec extends SparkSpec {
  import spark.implicits._

  private var lastDir: String = _

  private def mkSink(): (JdbcShapedSink, () => Map[Long, (Long, String)]) = {
    val dir = Files.createTempDirectory("graft-jdbc-sink").toString
    lastDir = dir
    val sink = new JdbcShapedSink(dir, Seq("job_id"), "scraped_at")
    val read = () => sink.table(spark).map(
      _.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap)
      .getOrElse(Map.empty)
    (sink, read)
  }

  test("replayed batchId is skipped; new-id re-delivery converges; newer version wins") {
    val (sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // foreachBatch at-least-once: the SAME batch id arrives again
    sink.writeBatch(b0, 0L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // checkpoint loss: same rows re-delivered under a NEW id — the MERGE
    // itself must be idempotent
    sink.writeBatch(b0, 1L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // a real new version for key 2 plus a new key 3
    val b2 = Seq((2L, 20L, "b2"), (3L, 10L, "c")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b2, 2L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b2")), 3L -> ((10L, "c"))))
  }

  test("crash mid-write leaves prior committed state intact; replay completes the batch") {
    val (sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)
    val committed = read()

    // simulate a process death mid-parquet-write of batch 1: a partial,
    // uncommitted data directory exists but no marker points at it
    val dir = Files.createDirectories(
      java.nio.file.Paths.get(lastDir, "data-b1"))
    Files.write(dir.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(read() == committed, "partial write must not be visible")

    // the replay of batch 1 overwrites the partial dir and commits
    val b1 = Seq((2L, 20L, "b2")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b1, 1L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b2"))))
  }

  test("crashed attempt dirs are swept by the next successful commit") {
    val (sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)

    // a same-or-earlier-id attempt that died after its parquet write but
    // before its marker move: unreferenced data-b dir, no ledger entry
    val orphan = Files.createDirectories(
      java.nio.file.Paths.get(lastDir, "data-b0-deadbeef"))
    Files.write(orphan.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    // an in-flight attempt of a FUTURE batch must NOT be touched
    val future = Files.createDirectories(
      java.nio.file.Paths.get(lastDir, "data-b9-cafebabe"))

    val b1 = Seq((2L, 20L, "b")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b1, 1L)
    assert(!Files.exists(orphan), "committed-range orphan must be swept")
    assert(Files.exists(future), "higher-id in-flight dir must survive")
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b"))))
  }

  /** Jobs `f` runs under a fresh job group. A sentinel job started after
    * `f` is seen by the status store only once every earlier job start has
    * been delivered, so the count is complete when it is read. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group, false)
    try f finally sc.clearJobGroup()
    sc.setJobGroup(group + "-sentinel", "sentinel", false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(group + "-sentinel").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("a non-first batch runs 2 jobs (shuffle map + write) and pins no RDD") {
    val (sink, read) = mkSink()
    sink.writeBatch(
      Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("job_id", "scraped_at", "payload"), 0L)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val b1 = Seq((2L, 20L, "b2"), (3L, 10L, "c")).toDF("job_id", "scraped_at", "payload")
    assert(jobsOf(sink.writeBatch(b1, 1L)) == 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b2")), 3L -> ((10L, "c"))))
  }

  test("a fresh sink over another instance's commits reads the same table " +
      "and merges on top of it") {
    val (sink, read) = mkSink()
    sink.writeBatch(
      Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("job_id", "scraped_at", "payload"), 0L)
    val own = sink.table(spark).get
    val fresh = new JdbcShapedSink(lastDir, Seq("job_id"), "scraped_at")
    val inferred = fresh.table(spark).get
    assert(inferred.schema == own.schema)
    assert(inferred.collect().toSet == own.collect().toSet)
    fresh.writeBatch(
      Seq((1L, 20L, "a2"), (3L, 10L, "c")).toDF("job_id", "scraped_at", "payload"), 1L)
    assert(read() == Map(1L -> ((20L, "a2")), 2L -> ((10L, "b")), 3L -> ((10L, "c"))))
    assert(fresh.table(spark).get.schema == own.schema)
  }

  test("attached to a real stream: full source replay on a fresh checkpoint adds nothing") {
    val (sink, read) = mkSink()
    val rows = Seq((1L, 10L, "a"), (2L, 10L, "b"), (2L, 10L, "b"), (3L, 10L, "c"))

    def runOnce(): Unit = {
      val mem = MemoryStream[(Long, Long, String)](spark)
      mem.addData(rows: _*)
      val q = mem.toDF().toDF("job_id", "scraped_at", "payload")
        .writeStream.foreachBatch(sink.writeBatch _)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }

    runOnce()
    val first = read()
    assert(first.keySet == Set(1L, 2L, 3L))
    // a fresh query (new checkpoint) replays the whole source — only the
    // sink's idempotence prevents duplicates, mirroring StreamDemoSpec
    runOnce()
    assert(read() == first)
  }
}
