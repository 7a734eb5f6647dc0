package perfbench

/** Per-layer metrics of a traced run. Every name is printed for every
  * workload; a layer the workload does not exercise reads 0. */
object Layers {
  val spanLayers: Seq[String] = Seq("tables", "ops", "plans", "exec", "streaming")

  /** What the streaming layer measured (ingest only). */
  final case class StreamFigures(writeAmp: Double, replaySkips: Int)

  def fill(ctx: Ctx, samples: Seq[Sample], plans: Map[Int, PlanTrace],
      coldMs: Seq[Double], warmMs: Seq[Double], kernelNs: Map[String, Double],
      stream: Option[StreamFigures]): Unit = {
    val spans = ctx.tracer.spans.groupBy(_.op)
    val ok = samples.filter(s => s.ok && spans.contains(s.id))
    val n = math.max(1, ok.size)
    def mean(f: Sample => Double): Double = ok.map(f).sum / n
    def spanMs(s: Sample, name: String): Double =
      spans.getOrElse(s.id, Nil).filter(_.name == name).map(_.ns).sum / 1e6
    val plan = ok.map(s => s.id -> plans.get(s.id)).toMap
    // analysis runs while `Q.build` constructs the DataFrame, inside the
    // `ops` span; it is moved to `plans` using the planning tracker
    val self = ok.map { s =>
      val raw = ctx.tracer.selfNs(s.id).map { case (k, v) => k -> v / 1e6 }
      val a = plan(s.id).map(_.analysisMs).getOrElse(0.0)
      s.id -> (raw.updated("ops", raw.getOrElse("ops", 0.0) - a)
        .updated("plans", raw.getOrElse("plans", 0.0) + a))
    }.toMap
    val all = ok.map(s => s.id -> ctx.stats.sum(s"op${s.id}:")).toMap
    val build = ok.map(s => s.id -> ctx.stats.sum(s"op${s.id}:build")).toMap
    val exec = ok.map(s => s.id -> ctx.stats.sum(s"op${s.id}:exec")).toMap
    def p(f: PlanTrace => Double)(s: Sample) = plan(s.id).map(f).getOrElse(0.0)
    def selfMs(layer: String)(s: Sample) = self(s.id).getOrElse(layer, 0.0)
    val L = ctx.layers

    L("tables.resolve_cold_ms") = (if (coldMs.isEmpty) 0.0 else coldMs.sum / coldMs.size, "ms")
    L("tables.resolve_warm_ms") = (Stats.median(warmMs), "ms")
    L("tables.self_ms") = (mean(selfMs("tables")), "ms")
    L("plans.analysis_ms") = (mean(p(_.analysisMs)), "ms")
    L("plans.optimize_ms") = (mean(p(_.optimizeMs)), "ms")
    L("plans.physical_ms") = (mean(p(_.physicalMs)), "ms")
    L("plans.nodes") = (mean(p(_.nodes)), "count")
    L("plans.exchanges") = (mean(p(_.exchanges)), "count")
    L("plans.self_ms") = (mean(selfMs("plans")), "ms")
    L("ops.build_ms") = (mean(spanMs(_, "ops")), "ms")
    L("ops.build_jobs") = (mean(s => build(s.id).jobs), "count")
    L("ops.self_ms") = (mean(selfMs("ops")), "ms")
    L("exec.ms") = (mean(spanMs(_, "exec")), "ms")
    L("exec.jobs") = (mean(s => all(s.id).jobs), "count")
    L("exec.stages") = (mean(s => all(s.id).stages), "count")
    L("exec.tasks") = (mean(s => all(s.id).tasks), "count")
    L("exec.task_run_ms") = (mean(s => all(s.id).runMs), "ms")
    L("exec.task_cpu_ms") = (mean(s => all(s.id).cpuNs / 1e6), "ms")
    L("exec.sched_delay_ms") = (mean(s => all(s.id).schedMs), "ms")
    // busy task time over the slots the exec span had; an op without an
    // exec span (ingest) runs its jobs inside ops and streaming instead
    L("exec.slot_util") = (mean { s =>
      val e = spanMs(s, "exec")
      if (e > 0) exec(s.id).runMs / (e * ctx.cores)
      else all(s.id).runMs / (s.wallNs / 1e6 * ctx.cores)
    }, "ratio")
    L("exec.shuffle_read_bytes") = (mean(s => all(s.id).shuffleRead), "B")
    L("exec.shuffle_write_bytes") = (mean(s => all(s.id).shuffleWrite), "B")
    L("exec.spill_bytes") = (mean(s => all(s.id).spill), "B")
    L("exec.gc_ms") = (mean(s => all(s.id).gcMs), "ms")
    L("exec.task_failures") = (ok.map(s => all(s.id).taskFailures).sum.toDouble, "count")
    L("exec.self_ms") = (mean(selfMs("exec")), "ms")
    Kernels.all.foreach { k =>
      L(s"functions.${k.name}.ns_per_row") = (kernelNs.getOrElse(k.name, 0.0), "ns")
    }
    L("streaming.jdbc_commit_ms") = (mean(spanMs(_, "streaming.jdbc_commit")), "ms")
    L("streaming.jdbc_append_ms") = (mean(spanMs(_, "streaming.jdbc_append")), "ms")
    L("streaming.fs_commit_ms") = (mean(spanMs(_, "streaming.fs_commit")), "ms")
    L("streaming.write_amp") = (stream.map(_.writeAmp).getOrElse(0.0), "ratio")
    L("streaming.replay_skips") = (stream.map(_.replaySkips.toDouble).getOrElse(0.0), "count")
    L("streaming.self_ms") = (mean(selfMs("streaming")), "ms")
    // share of each op's wall time that no layer span accounts for
    val gaps = ok.map { s =>
      val wall = spans(s.id).filter(_.name == "op").map(_.ns).sum / 1e6
      val covered = spanLayers.map(self(s.id).getOrElse(_, 0.0)).sum
      100 * math.abs(wall - covered) / math.max(1e-9, wall)
    }
    L("trace.reconcile_max_pct") = (if (gaps.isEmpty) 0.0 else gaps.max, "%")
    ctx.report("traced_ops") = ok.size.toString
    ctx.report("spans") = ctx.tracer.spans.size.toString
  }
}
