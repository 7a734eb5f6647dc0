package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** The timed phase shared by all workloads, and the metrics made from it. */
object Timed {
  /** Lets lazy set-up finish before timing: collect garbage, then wait
    * (capped) until the JIT compiler has gone quiet, so its backlog from
    * the parallel check pass does not compete with the timed ops. */
  def settle(ctx: Ctx): Unit = {
    ctx.sampleHeap()
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      var prev = jit.getTotalCompilationTime
      var quietFor = 0
      while (quietFor < 3 && System.nanoTime() - t0 < 15e9) {
        Thread.sleep(100)
        val now = jit.getTotalCompilationTime
        quietFor = if (now - prev < 10) quietFor + 1 else 0
        prev = now
      }
    }
    ctx.report("settle_s") = Json.num((System.nanoTime() - t0) / 1e9)
  }

  /** Runs the timed phase: whole passes `pass(0), pass(1), ...`, as many
    * as `--seconds` holds at the workload's nominal pass length, so every
    * run (and the parent and the child of a change) times the same ops.
    * Op ids count up from `firstId`. Untraced, it fills the end-to-end
    * metrics. Traced, it runs an even number of passes, at least two, half
    * of them untraced, and reports the tracing overhead as traced minus
    * untraced time per op. Returns every timed sample. */
  def run(ctx: Ctx, pass: Int => Seq[Op], firstId: Int, nominalPassS: Double): Seq[Sample] = {
    settle(ctx)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sc = ctx.spark.sparkContext
    val passes = math.max(1, math.round(ctx.seconds / nominalPassS).toInt)
    ctx.report("passes") = passes.toString
    if (!ctx.tracer.enabled) {
      sc.removeSparkListener(ctx.stats)
      val (samples, wallNs) = Loop.closed((0 until passes).flatMap(pass), firstId, ctx.tracer)
      endToEnd(ctx, samples, wallNs, setupS)
      samples
    } else {
      val off = new Tracer(false)
      val plain = mutable.ArrayBuffer.empty[Sample]
      val traced = mutable.ArrayBuffer.empty[Sample]
      var id = firstId
      val t0 = System.nanoTime()
      (0 until math.max(2, passes + passes % 2)).foreach { p =>
        // untraced, traced, traced, untraced, ...: a trend over the run
        // (the ingest tables grow) falls on both sides alike
        val t = if (p % 4 == 1 || p % 4 == 2) ctx.tracer else off
        pass(p).foreach { op =>
          val s = Loop.attempt(op, id, t)
          id += 1
          (if (t.enabled) traced else plain) += s
        }
      }
      val wallNs = System.nanoTime() - t0
      ctx.stats.drain(sc)
      ctx.report("setup_s") = Json.num(setupS)
      ctx.report("timed_ops") = (plain.size + traced.size).toString
      ctx.report("timed_failed") = (plain ++ traced).count(!_.ok).toString
      ctx.report("timed_s") = Json.num(wallNs / 1e9)
      def meanMs(ss: Seq[Sample]) =
        ss.filter(_.ok).map(_.wallNs / 1e6).sum / math.max(1, ss.count(_.ok))
      val overhead = meanMs(traced.toSeq) - meanMs(plain.toSeq)
      ctx.layers("trace.overhead_ms") = (overhead, "ms")
      ctx.layers("trace.overhead_pct") =
        (100 * overhead / math.max(1e-9, meanMs(plain.toSeq)), "%")
      (plain ++ traced).sortBy(_.id).toSeq
    }
  }

  private def endToEnd(ctx: Ctx, samples: Seq[Sample], wallNs: Long,
      setupS: Double): Unit = {
    val (m, rep) = figures(samples, wallNs, setupS)
    m.values.foreach { case (k, v) => ctx.e2e(k) = v }
    ctx.report ++= rep
    samples.filterNot(_.ok).take(5).foreach(s => ctx.problems += s"${s.key}: ${s.error}")
  }

  /** The end-to-end metrics of a timed phase, and the report figures that
    * go with them. Failed samples count in `timed_failed` and `fail_ratio`
    * and in nothing else: not in the throughput, not in any latency. */
  def figures(samples: Seq[Sample], wallNs: Long,
      setupS: Double): (Metrics, mutable.LinkedHashMap[String, String]) = {
    val m = new Metrics
    val rep = mutable.LinkedHashMap.empty[String, String]
    val ok = samples.filter(_.ok)
    val ms = ok.map(_.wallNs / 1e6)
    val secs = wallNs / 1e9
    val (tailP, tailV, beyond) = if (ms.isEmpty) (50.0, 0.0, 0) else Stats.tail(ms)
    m("setup_s") = (setupS, "s")
    m("ops_per_s") = (ok.size / secs, "1/s")
    m("op_p50_ms") = (if (ms.isEmpty) 0.0 else Stats.hd(ms, 50), "ms")
    m("op_tail_ms") = (tailV, "ms")
    rep("op_tail_pct") = Json.num(tailP)
    rep("op_tail_beyond") = beyond.toString
    rep("timed_ops") = samples.size.toString
    rep("timed_failed") = (samples.size - ok.size).toString
    rep("fail_ratio") = Json.num((samples.size - ok.size).toDouble / math.max(1, samples.size))
    rep("timed_s") = Json.num(secs)
    rep("rows_out") = ok.map(_.rows).sum.toString
    val byKey = ok.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, ss) =>
      s""""$k": ${Json.num(Stats.median(ss.map(_.wallNs / 1e6)))}"""
    }
    rep("op_p50_ms_by_key") = byKey.mkString("{", ", ", "}")
    rep("op_ms") = samples.map(s => s""""${s.key}:${Json.num(s.wallNs / 1e6)}"""")
      .mkString("[", ", ", "]")
    (m, rep)
  }

  /** Heap figure, taken last: it forces a full collection. */
  def heap(ctx: Ctx): Unit = {
    ctx.e2e("heap_peak_mb") = (ctx.heapPeakMb, "MB")
    ctx.report("heap_samples_mb") = ctx.heapSamplesMb.map(Json.num).mkString("[", ", ", "]")
  }
}
