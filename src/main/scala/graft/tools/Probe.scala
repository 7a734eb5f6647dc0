package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.FormattedMode

import graft.{Harness, JitQuiesce, Q, Queries, Tables}

/** Dev instruments, one mode per question, all on one session:
  *
  *   - `q`      Bench's per-query reading (Harness.measure) in isolation —
  *              the adjudication instrument for a flagged bench query.
  *   - `phases` a query's warm cost split into build / Catalyst analysis /
  *              optimization / physical planning / execution, plus jobs.
  *   - `stages` per-stage anatomy of one warm run: tasks, wall, executor
  *              run/CPU time, shuffle bytes (the inverse-core-scaling probe).
  *   - `task`   per-job and per-task fixed costs of trivial jobs.
  *   - `read`   what one `spark.read.parquet` costs at build time.
  *   - `plan`   `explain("formatted")` of each query to `<outDir>/<query>.txt`
  *              (the fixture is `SPARK_GRAFT_SF_DIR`, which must be set).
  *
  * Usage: tools/run_graft.sh graft.tools.Probe <mode> <sfDir|outDir> [query ...]
  * (`phases` with no query sweeps the whole registry).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val modes = Seq("q", "phases", "stages", "task", "read", "plan")
    if (args.length < 2 || !modes.contains(args(0))) {
      System.err.println(
        s"usage: Probe <${modes.mkString("|")}> <sfDir|outDir> [query ...]")
      sys.exit(2)
    }
    val (mode, dir, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = Harness.session()
    try mode match {
      case "q" => q(spark, dir, names)
      case "phases" => phases(spark, dir, names)
      case "stages" => stages(spark, dir, names)
      case "task" => task(spark, dir)
      case "read" => read(spark, dir)
      case "plan" =>
        val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          sys.error("plan: set SPARK_GRAFT_SF_DIR to the fixture directory"))
        plan(spark, sf, dir, names)
    } finally spark.stop()
  }

  private def lookup(names: Seq[String]): Seq[(String, Q)] = names.flatMap { n =>
    val q = Queries.byName.get(n)
    if (q.isEmpty) println(s"[probe] unknown query '$n'")
    q.map(n -> _)
  }

  def q(spark: SparkSession, d: String, names: Seq[String]): Unit =
    lookup(names).foreach { case (n, q) =>
      val m = Harness.measure(spark, n, Harness.reps)(q.build(spark, d))
      val reps = m.repsS.map(t => f"$t%.3f").mkString("[", ",", "]")
      println(f"[probe-q] $n%-28s med=${m.med}%6.3f s  min=${m.min}%6.3f s  " +
        s"reps_s=$reps jit_wait_ms=${m.jitWaitMs}" +
        (if (m.contended) " contended" else "") +
        m.error.fold("")(e => s" FAILED: $e"))
    }

  def phases(spark: SparkSession, d: String, names: Seq[String]): Unit = {
    val sweep = if (names.nonEmpty) names else Queries.byName.keys.toSeq.sorted
    println("[phases] query                          total_s  build_ms  anal_ms  opt_ms  phys_ms  exec_s  jobs")
    lookup(sweep).foreach { case (n, q) =>
      Harness.resetState(spark)
      // a failing query is reported and skipped, never aborts the sweep
      val warmed =
        try { Harness.run(q.build(spark, d)); true }
        catch { case e: Throwable => println(s"[phases] $n FAILED: $e"); false }
      if (warmed) {
        JitQuiesce.await()
        // planning phases over 3 fresh builds: buildMs covers the query fn
        // itself (DSL construction + any eager jobs the build runs, e.g.
        // localCheckpoint/observe counts); the tracker splits analysis /
        // optimization / physical planning
        val ph = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val df = q.build(spark, d)
          val buildMs = (System.nanoTime() - t0) / 1e6
          df.queryExecution.executedPlan // forces analysis+opt+planning
          val tr = df.queryExecution.tracker.phases
          def p(k: String): Double =
            tr.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
          Seq(buildMs, p(QueryPlanningTracker.ANALYSIS),
            p(QueryPlanningTracker.OPTIMIZATION), p(QueryPlanningTracker.PLANNING))
        }
        val Seq(buildMs, analMs, optMs, physMs) =
          ph.transpose.map(Harness.median)
        // end-to-end (Bench's timed unit), and jobs triggered
        val tracker = spark.sparkContext.statusTracker
        val before = tracker.getJobIdsForGroup(null).length
        val totalS = Harness.median((1 to 3).map { _ =>
          val t0 = System.nanoTime()
          Harness.run(q.build(spark, d))
          (System.nanoTime() - t0) / 1e9
        })
        val jobs = (tracker.getJobIdsForGroup(null).length - before) / 3.0
        val execS = totalS - (buildMs + analMs + optMs + physMs) / 1000.0
        println(f"[phases] $n%-32s $totalS%7.3f $buildMs%9.1f $analMs%8.1f $optMs%7.1f $physMs%8.1f $execS%7.3f $jobs%5.1f")
      }
    }
  }

  private case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, shufReadB: Long, shufWriteB: Long)

  def stages(spark: SparkSession, d: String, names: Seq[String]): Unit = {
    val sc = spark.sparkContext
    val seen = scala.collection.mutable.ArrayBuffer.empty[Stage]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.synchronized { jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        seen.synchronized {
          val i = e.stageInfo
          val m = i.taskMetrics
          seen += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(60),
            i.numTasks,
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
    }
    lookup(names).foreach { case (n, q) =>
      Harness.run(q.build(spark, d)) // warm (codegen, JIT)
      JitQuiesce.await()
      seen.synchronized { seen.clear(); jobs = 0 }
      sc.addSparkListener(listener)
      val t0 = System.nanoTime()
      Harness.run(q.build(spark, d))
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async — wait until the stage stream settles
      // (listenerBus.waitUntilEmpty is private[spark])
      var settled = false
      var last = -1
      while (!settled) {
        Thread.sleep(200)
        val now = seen.synchronized(seen.size)
        settled = now == last
        last = now
      }
      sc.removeSparkListener(listener)
      val st = seen.synchronized(seen.toList)
      println(f"[stages] $n cores=${sc.defaultParallelism} wall=$wall%.3f s jobs=$jobs stages=${st.size} tasks=${st.map(_.tasks).sum}")
      println(f"[stages]   sum(stage wall)=${st.map(_.wallMs).sum}%d ms  sum(run)=${st.map(_.runMs).sum}%d ms  sum(cpu)=${st.map(_.cpuMs).sum}%d ms")
      st.sortBy(-_.wallMs).take(18).foreach { s =>
        println(f"[stages]   id=${s.id}%4d tasks=${s.tasks}%4d wall=${s.wallMs}%6d run=${s.runMs}%7d cpu=${s.cpuMs}%7d shufR=${s.shufReadB}%9d shufW=${s.shufWriteB}%9d  ${s.name}")
      }
    }
  }

  /** Fixed costs behind the suite's per-job floor (r15: sub-0.5 s queries
    * average ~230 ms of execution over ~4 jobs; planning is ~11 ms). */
  def task(spark: SparkSession, d: String): Unit = {
    val sc = spark.sparkContext
    def time(label: String)(f: => Unit): Unit = {
      f; f // warm
      JitQuiesce.await()
      val ts = (1 to 7).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }
      println(f"[task] $label%-46s med=${Harness.median(ts)}%8.2f ms  min=${ts.min}%8.2f ms")
    }
    time("rdd job, 1 task") { sc.parallelize(1 to 1, 1).count() }
    time("rdd job, 8 tasks") { sc.parallelize(1 to 8, 8).count() }
    time("rdd job, 32 tasks") { sc.parallelize(1 to 32, 32).count() }
    time("rdd job, 128 tasks") { sc.parallelize(1 to 128, 128).count() }
    time("sql range(1k) 1 part count") {
      spark.range(1000, 1000 + 1000, 1, 1).selectExpr("sum(id)").collect() }
    time("sql range(1k) 32 part count") {
      spark.range(2000, 2000 + 1000, 1, 32).selectExpr("sum(id)").collect() }
    time("sql shuffle 1k rows grpBy (AQE)") {
      spark.range(3000, 3000 + 1000, 1, 32)
        .selectExpr("id % 100 as k", "id as v")
        .groupBy("k").sum("v").collect() }
    time("sql repartition(32)+agg") {
      spark.range(4000, 4000 + 1000, 1, 1).repartition(32)
        .selectExpr("sum(id)").collect() }
    time("parquet scan count (orders)") {
      Harness.run(Tables.orders(spark, d)) }
    time("parquet scan fanOut count (orders)") {
      Harness.run(Tables.fanOut(Tables.orders(spark, d))) }
    time("localCheckpoint eager 32p of 1k rows") {
      spark.range(5000, 5000 + 1000, 1, 32).localCheckpoint(true).count() }
    time("table() build only") { Tables.orders(spark, d) }
  }

  /** Build-time cost of one table reference: schema inference vs file
    * listing vs logical-plan construction (the evidence behind Tables'
    * resolved-relation cache). */
  def read(spark: SparkSession, d: String): Unit = {
    def time(label: String)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => f)
      println(f"[read] $label%-42s ${(System.nanoTime() - t0) / 1e6 / 20}%8.2f ms/call")
    }
    val p = s"$d/lineitem.parquet"
    val schema = spark.read.parquet(p).schema
    time("read.parquet (inference)") { spark.read.parquet(p) }
    time("read.schema(...).parquet") { spark.read.schema(schema).parquet(p) }
    time("read.parquet + .schema touch") { spark.read.parquet(p).schema }
    time("Tables.table (tune + cache)") { Tables.table(spark, d, "lineitem") }
    time("Tables.tune only") { Tables.tune(spark) }
    time("analyze only (fresh df)") {
      spark.read.schema(schema).parquet(p).queryExecution.analyzed }
  }

  /** The before/after plan evidence of a plan-shape change. */
  def plan(spark: SparkSession, d: String, outDir: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    lookup(names).foreach { case (n, q) =>
      val txt = q.build(spark, d).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$n.txt"), txt)
      println(s"[plan] wrote $outDir/$n.txt (${txt.length} chars)")
    }
  }
}
