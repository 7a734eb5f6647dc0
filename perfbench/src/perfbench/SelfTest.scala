package perfbench

/** Checks of the benchmark's own bookkeeping, without Spark: an op that
  * throws and an op with a wrong outcome both count as failed, and the
  * end-to-end figures the timed phase reports ([[Timed.figures]]) leave
  * them out of every latency and throughput metric; layer self times
  * subtract children. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private final class Fixed(val key: String, f: () => Outcome) extends Op {
    def run(id: Int, t: Tracer): Outcome = t.span(id, "exec")(f())
  }

  def run(): Int = {
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }

    val good = new Fixed("good", () => { Thread.sleep(20); Outcome(1, ok = true) })
    val boom = new Fixed("boom", () => throw new IllegalStateException("deliberate"))
    val wrong = new Fixed("wrong", () => Outcome(7, ok = false, "rows 7, expected 8"))
    val t = new Tracer(true)
    val (samples, wallNs) = Loop.closed(Seq(good, boom, wrong, good), 1, t)
    expect(samples.size == 4, "every op of the pass is attempted")
    val failed = samples.filterNot(_.ok).map(_.key).toSet
    expect(failed == Set("boom", "wrong"), s"throwing and wrong ops fail (failed: $failed)")
    expect(samples.find(_.key == "boom").exists(_.error.contains("deliberate")),
      "the exception is kept with the failed sample")

    // the metrics the timed phase reports, made from these samples
    val (m, rep) = Timed.figures(samples, wallNs, setupS = 1.0)
    def metric(k: String) = m.values(k)._1
    expect(math.abs(metric("ops_per_s") - 2 / (wallNs / 1e9)) < 1e-9,
      s"throughput counts only the completed ops (ops_per_s ${metric("ops_per_s")})")
    expect(metric("op_p50_ms") >= 20.0,
      s"fast failures cannot pull the median down (op_p50_ms ${metric("op_p50_ms")})")
    expect(metric("op_tail_ms") >= 20.0,
      s"the tail holds only completed ops (op_tail_ms ${metric("op_tail_ms")})")
    expect(rep("timed_ops") == "4" && rep("timed_failed") == "2" && rep("fail_ratio") == "0.5",
      s"failures are counted (${rep("timed_failed")} of ${rep("timed_ops")})")
    expect(rep("op_p50_ms_by_key").startsWith("{\"good\":") && !rep("op_p50_ms_by_key").contains("boom"),
      s"per-query medians hold only completed ops: ${rep("op_p50_ms_by_key")}")

    val self = t.selfNs(samples.head.id)
    expect(self.keySet == Set("op", "exec"), s"spans per layer: ${self.keySet}")
    val wall = t.spans.filter(s => s.op == samples.head.id && s.name == "op").map(_.ns).sum
    expect(self.values.sum == wall, "layer self times add up to the op's wall time")

    val (p, v, beyond) = Stats.tail((1 to 100).map(_.toDouble))
    expect(p == 90.0 && beyond == 10 && v > 89.5 && v < 91.5,
      s"tail of 100 samples is p90 with 10 beyond (p$p = $v, $beyond beyond)")
    expect(Stats.tail((1 to 12).map(_.toDouble))._1 == 90.0,
      "from 10 to 100 samples the tail is p90, a tenth of them beyond")
    expect(Stats.tail((1 to 5).map(_.toDouble))._1 == 75.0, "five samples leave one beyond p75")
    expect(Stats.tail((1 to 1000).map(_.toDouble))._1 == 99.0, "1000 samples: p99, ten beyond")
    expect(math.abs(Stats.hd((1 to 9).map(_.toDouble), 50) - 5) < 1e-9,
      "the median estimate of a symmetric sample is its centre")

    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
