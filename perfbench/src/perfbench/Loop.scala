package perfbench

import scala.util.control.NonFatal

/** What an op reports: the rows it produced and whether they are right. */
final case class Outcome(rows: Long, ok: Boolean, why: String = "")

/** One unit of client work: a query fully materialized, or one ingest
  * batch committed. */
trait Op {
  def key: String
  /** Runs once as op `id`, recording its layer spans in `t`. */
  def run(id: Int, t: Tracer): Outcome
}

/** One op as the client saw it. */
final case class Sample(key: String, id: Int, wallNs: Long, ok: Boolean,
    rows: Long, error: String)

object Loop {
  /** Runs one op. An exception or a wrong outcome makes a failed sample;
    * failed samples are kept out of every latency and throughput figure. */
  def attempt(op: Op, id: Int, t: Tracer): Sample = {
    val t0 = System.nanoTime()
    val (ok, rows, why) =
      try {
        val o = t.span(id, "op")(op.run(id, t))
        (o.ok, o.rows, o.why)
      } catch { case NonFatal(e) => (false, 0L, e.toString) }
    Sample(op.key, id, System.nanoTime() - t0, ok, rows, why)
  }

  /** Closed loop, one client: each op starts when the previous one has
    * ended. Op ids count up from `firstId`. Returns the samples and the
    * wall time in ns. */
  def closed(ops: Seq[Op], firstId: Int, t: Tracer): (Seq[Sample], Long) = {
    val t0 = System.nanoTime()
    val out = ops.zipWithIndex.map { case (op, i) => attempt(op, firstId + i, t) }
    (out, System.nanoTime() - t0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Harrell-Davis estimate of the p-th percentile: a weighted mean of all
    * order statistics with Beta(p(n+1), (1-p)(n+1)) weights. An op mix is
    * a few samples each of very different queries, and a plain median is
    * then the latency of whichever single query sits in the middle; this
    * estimate moves smoothly with all of them. */
  def hd(xs: Seq[Double], p: Double): Double = {
    import org.apache.commons.math3.special.Beta.regularizedBeta
    val s = xs.sorted
    val n = s.size
    if (n == 1) return s.head
    val a = p / 100 * (n + 1)
    val b = (1 - p / 100) * (n + 1)
    val cdf = (0 to n).map(i => if (i == 0) 0.0 else if (i == n) 1.0
      else regularizedBeta(i.toDouble / n, a, b))
    s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
  }

  /** The tail percentile of `xs`, as (percentile, Harrell-Davis value,
    * samples beyond): the highest of p50..p99.9 with at least ten samples
    * beyond it, or, below 100 samples, with at least a tenth of them
    * beyond it (p90 from 10 to 100 samples). A run times tens of ops, too
    * few for ten beyond any percentile above the median; a tenth keeps the
    * figure on the slowest ops instead of falling back to the median. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val need = math.min(10, math.max(1, n / 10))
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => n - math.ceil(p * n / 100) >= need).getOrElse(50.0)
    val v = hd(xs, p)
    (p, v, xs.count(_ > v))
  }
}
