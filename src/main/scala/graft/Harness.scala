package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JIT-quiescence protocol behind every timed rep ([[Harness.measure]]):
  * one implementation, so Bench's numbers and `Probe q`'s isolated
  * adjudication readings can never drift apart. */
private[graft] object JitQuiesce {
  def jitMillis(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else -1L
  }

  /** Sleep until the compiler goes quiet (compilation-time delta < 15 ms
    * over a 100 ms window; capped). Returns waited ms — spent only while
    * the JIT is actually active, and always OUTSIDE timed regions. */
  def await(capMs: Long = 3000L): Long = {
    val start = System.nanoTime()
    var prev = jitMillis()
    if (prev < 0) return 0L // not monitorable on this JVM
    var waited = 0L
    var quiet = false
    while (!quiet && waited < capMs) {
      Thread.sleep(100)
      waited = (System.nanoTime() - start) / 1000000L
      val now = jitMillis()
      quiet = now - prev < 15
      prev = now
    }
    waited
  }
}

/** One query's warm → quiesce → timed-reps reading, as Bench records it.
  * `repsS` keeps execution order; `error` is set when any run of the query
  * threw — such a reading carries no time for the throwing run, is never
  * `contended`, and its `med`/`min` cover only the reps that finished
  * before it (0 if none). */
final case class Measurement(
    name: String, med: Double, min: Double, repsS: Seq[Double],
    ccMb: Long, gcMs: Long, jitMs: Long, jitWaitMs: Long,
    contended: Boolean, error: Option[String]) {
  def failed: Boolean = error.isDefined
}

/** The single install point for the engine's own sessions and timing
  * protocol: every main (Bench, Verify, the tools) and the test suite build
  * their session here, reset cross-query state here, and time queries
  * here. */
object Harness {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(4)

  /** Timed reps per query (`SPARK_GRAFT_REPS`, default 3). */
  def reps: Int = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_REPS", "3").trim.toInt)
    .getOrElse(3).max(1)

  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: stray WARN lines around Bench's final JSON line can
    // push it out of a bounded output-tail capture.
    spark.sparkContext.setLogLevel("ERROR")
    Tables.tune(spark)
  }

  /** Reset cross-query state so every query runs from the same
    * block-manager baseline (r07 protocol; see BENCH_HISTORY.md).
    * Build-time localCheckpoints (CC loops, layout pins) leave their
    * blocks pinned until the ContextCleaner's next GC-driven sweep, so in
    * a 164-query sequential run the late-alphabet dedup/CC/vector family
    * inherited up to 163 predecessors' worth of retained blocks — the
    * likely cause of the r06 full-suite 5.6x on knn_q8_rescore while
    * the same commit ran 0.4s in isolation. Unpersist synchronously,
    * clear any cached plans, drop leaked spark.graft.* optimizer knobs
    * (no query's result may depend on which queries ran before it), and
    * give the cleaner one GC tick. */
  def resetState(spark: SparkSession): Unit = {
    try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      spark.conf.getAll.keys.filter(_.startsWith("spark.graft."))
        .foreach(spark.conf.unset)
      System.gc()
    } catch { case _: Throwable => }
  }

  /** Materialize FULL rows of the query's own plan (toRdd.count), not
    * df.count(): count() plans a new aggregate through which Catalyst
    * prunes every unconsumed column — a projection-heavy query could
    * "run" without ever evaluating its payload expressions (quality_gate
    * measured 0.3s under count() vs ~6s when its output was actually
    * consumed; r06). toRdd executes the exact optimized plan and writes
    * every output column into UnsafeRows, which is what a real consumer
    * pays. */
  def run(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** JIT code-cache (used, max) bytes. The r07 full-suite bench showed 25-30x
    * in-context inflation on interpreted-expression-heavy queries — the
    * signature of a full code cache (compilation stops, everything runs
    * interpreted) — so every reading records occupancy. */
  def codeCache(): (Long, Long) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("CodeCache"))
    (pools.map(_.getUsage.getUsed).sum, pools.map(_.getUsage.getMax).sum)
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  private def spread(ts: Seq[Double]): Double =
    if (ts.min > 1e-9) ts.max / ts.min else 1.0

  /** Bench's per-query protocol: reset state, one untimed warm run (a
    * second one when it provoked > 1 s of JIT), wait for JIT quiescence,
    * then `reps` timed runs of `build` — plus up to 2 extra when the reps
    * spread > 1.5x over a 0.15 s floor (external contention). A run that
    * throws ends the reading: it records the failure, never a time. Any
    * Throwable counts (a StackOverflowError from a deep plan must fail one
    * query, not the whole bench). */
  def measure(spark: SparkSession, name: String, reps: Int)
      (build: => DataFrame): Measurement = {
    resetState(spark)
    var error: Option[String] = None
    def attempt(): Option[Double] = {
      val t0 = System.nanoTime()
      try { run(build); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        error = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        None
      }
    }
    val jitBeforeWarm = JitQuiesce.jitMillis()
    var jitWaitMs = 0L
    if (attempt().isDefined) {
      // the warm run provokes the compilation; quiescing keeps C2 threads
      // from stealing cores from the timed reps (r09)
      jitWaitMs = JitQuiesce.await()
      // compile-heavy queries (3-6 s of JIT thread time inside 1-2 s reps)
      // get a SECOND untimed warm run against the already-compiled methods
      if (JitQuiesce.jitMillis() - jitBeforeWarm > 1000 && attempt().isDefined)
        jitWaitMs += JitQuiesce.await()
    }
    val (gc0, jit0) = (gcMillis(), JitQuiesce.jitMillis())
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (error.isEmpty && times.size < reps.max(1)) attempt().foreach(times += _)
    // contention detector (r10): an over-floor spread > 1.5x is the
    // external-load signature; extra reps let the median come from a
    // majority of uncontended readings (minima only ever refine)
    def contention: Boolean =
      error.isEmpty && times.min > 0.15 && spread(times.toSeq) > 1.5
    val contended = contention
    var extra = 0
    while (extra < 2 && contention) {
      attempt().foreach(times += _)
      extra += 1
    }
    Measurement(name, median(times.toSeq), if (times.isEmpty) 0.0 else times.min,
      times.toSeq, codeCache()._1 >> 20, gcMillis() - gc0,
      JitQuiesce.jitMillis() - jit0, jitWaitMs, contended && error.isEmpty, error)
  }
}
