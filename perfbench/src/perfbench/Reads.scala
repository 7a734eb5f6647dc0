package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Queries, Tables}

/** Row count plus an order-insensitive hash of every output row. */
final case class Digest(rows: Long, hash: String)

object Digest {
  /** Hashes each row's JSON form (columns by position, so duplicate or odd
    * names cannot collide) and sums the hashes as an exact decimal. */
  def of(df: DataFrame): Digest = {
    val cols = df.columns.indices.map(i => s"c$i")
    val h = xxhash64(to_json(struct(cols.map(col): _*))).cast(DecimalType(38, 0))
    val r = df.toDF(cols: _*).agg(count(lit(1)), sum(h)).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }
}

/** What the traced run records per read op, besides its spans. */
final case class PlanTrace(analysisMs: Double, optimizeMs: Double,
    physicalMs: Double, nodes: Int, exchanges: Int)

private object PlanShape extends AdaptiveSparkPlanHelper

/** One registered query: built through `Queries.byName(key).build`, then
  * fully materialized through `toRdd` (every output column computed). The
  * row count is checked on every run of the op. */
final class ReadOp(spark: SparkSession, dir: String, val key: String,
    expectedRows: Option[Long], tables: => Seq[String],
    traces: mutable.Map[Int, PlanTrace]) extends Op {
  private val q: Q = Queries.byName(key)

  def run(id: Int, t: Tracer): Outcome = {
    val sc = spark.sparkContext
    // `Q.build` resolves its own tables; the traced run resolves them
    // first, at the `tables` boundary, so that layer is timed on its own
    if (t.enabled) t.span(id, "tables")(tables.foreach(Tables.table(spark, dir, _)))
    sc.setJobGroup(s"op$id:build", key, false)
    val df = t.span(id, "ops")(q.build(spark, dir))
    val qe = df.queryExecution
    if (t.enabled) t.span(id, "plans") { qe.optimizedPlan; qe.executedPlan }
    sc.setJobGroup(s"op$id:exec", key, false)
    val rows = try t.span(id, "exec")(qe.toRdd.count()) finally sc.clearJobGroup()
    if (t.enabled) {
      def phase(p: String) =
        qe.tracker.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val nodes = PlanShape.collectWithSubqueries(qe.executedPlan) { case p => p }
      traces(id) = PlanTrace(phase(QueryPlanningTracker.ANALYSIS),
        phase(QueryPlanningTracker.OPTIMIZATION), phase(QueryPlanningTracker.PLANNING),
        nodes.size, nodes.count(_.isInstanceOf[Exchange]))
    }
    expectedRows match {
      case Some(e) if e != rows => Outcome(rows, ok = false, s"rows $rows, expected $e")
      case _ => Outcome(rows, ok = true)
    }
  }
}

/** The two read workloads: which registered queries they run. */
object Reads {
  val dashboard: Seq[String] = Seq(
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q18",
    "agg_salary_stats", "agg_percentiles", "skill_category_counts",
    "window_rank_topn", "join_sixway_regions", "cohort_retention",
    "funnel_steps", "ref_daily_e2e")

  val corpus: Seq[String] = Seq(
    "dedup_minhash", "dedup_simhash", "dedup_pipeline", "knn_cosine_topk",
    "knn_ann_lsh", "search_bm25", "text_token_stats", "decontam_verbatim",
    "dict_term_match")

  /** Seconds of `--seconds` per timed pass of either read workload:
    * `--seconds 10` times two passes, each query twice. A pass lasts 12 to
    * 18 s on 4 cores; one pass alone gave each query a single sample. */
  val NominalPassS = 5.0

  def queries(workload: String): Option[Seq[String]] = workload match {
    case "dashboard" => Some(dashboard)
    case "corpus" => Some(corpus)
    case _ => None
  }
}

/** The read workloads: resolve tables, check every query's digest and warm
  * it on an untimed pass, then time shuffled passes. */
object ReadBench {
  val WarmResolves = 20

  /** Times the first `Tables.table` call per table, then [[WarmResolves]]
    * repeat calls each: (cold ms per table, warm ms per call). */
  def resolve(ctx: Ctx, tables: Seq[String]): (Seq[Double], Seq[Double]) = {
    def timeMs(n: String): Double = {
      val t0 = System.nanoTime()
      Tables.table(ctx.spark, ctx.dir, n)
      (System.nanoTime() - t0) / 1e6
    }
    val cold = tables.map(timeMs)
    (cold, for (_ <- 1 to WarmResolves; n <- tables) yield timeMs(n))
  }

  def run(ctx: Ctx, workload: String): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val keys = Reads.queries(workload).get
    val known = keys.map(k => k -> ctx.expected.queries.get(k)).toMap
    keys.filterNot(known(_).isDefined).foreach(k => ctx.check(false, s"$k: no recorded digest"))
    val tablesOf = keys.map(k => k -> known(k).map(_.tables).getOrElse(Tables.names)).toMap
    val tables = keys.flatMap(tablesOf).distinct

    ctx.mark("session")
    val (coldMs, warmMs) = resolve(ctx, tables)

    ctx.mark("resolved")
    val plans = mutable.Map.empty[Int, PlanTrace]
    val ops = keys.map(k => new ReadOp(spark, ctx.dir, k, ctx.expected.rows(k), tablesOf(k), plans))
    // The check pass is untimed and mostly waits on code generation and
    // per-job latency, so its queries run `cores` at a time. Each query is
    // checked, then run once as the timed op runs it, to warm the JIT.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val off = new Tracer(false)
    val checks = try {
      ops.zipWithIndex.map { case (op, i) =>
        pool.submit(() => {
          sc.setJobGroup(s"check:${op.key}:", op.key, false)
          val got = try Right(Digest.of(Queries.byName(op.key).build(spark, ctx.dir)))
            catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
            finally sc.clearJobGroup()
          (got, Loop.attempt(op, -1 - i, off))
        })
      }.map(_.get)
    } finally pool.shutdown()
    ops.zip(checks).foreach { case (op, (got, warm)) =>
      val want = known(op.key).map(_.digest)
      ctx.check(want.isEmpty || got == Right(want.get), s"${op.key}: digest $got, expected $want")
      ctx.check(warm.ok, s"warm ${op.key}: ${warm.error}")
    }
    ctx.mark("checked")

    val samples = Timed.run(ctx, p => ctx.rng(p).shuffle(ops), firstId = 1,
      Reads.NominalPassS)
    if (ctx.tracer.enabled) {
      val kernels = keys.flatMap(known(_).map(_.kernels).getOrElse(Nil)).distinct
      val ns = Kernels.measure(ctx, kernels, Tables.documents(spark, ctx.dir).select("text")) ++
        Kernels.measure(ctx, kernels, Tables.embeddings(spark, ctx.dir).select("embedding"))
      Layers.fill(ctx, samples, plans.toMap, coldMs, warmMs, ns, None)
    } else Timed.heap(ctx)
  }
}
