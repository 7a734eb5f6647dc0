package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Metrics in print order: name -> (value, unit). */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, v: (Double, String)): Unit = values(name) = v
  def json: String = values.map { case (k, (v, u)) =>
    s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Everything one run needs. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String,
    val seed: Long, val seconds: Double, val tracer: Tracer,
    val stats: JobStats, val expected: Expected) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val e2e = new Metrics
  val layers = new Metrics
  /** Extra figures printed beside the metrics, for a human reader. */
  val report = mutable.LinkedHashMap.empty[String, String]
  /** Untimed ops: checks and warm passes. */
  var checks = 0
  var checkFailures = 0
  val problems = mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) { checkFailures += 1; problems += what }
  }

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  /** Forces a full collection and keeps the largest old-generation
    * occupancy seen right after one. Taken at the end of set-up and at the
    * end of the run: occupancy after young collections also holds garbage
    * not yet collected, and varies with GC timing rather than with the code. */
  def sampleHeap(): Unit = {
    // collect until the figure holds still: Spark's ContextCleaner releases
    // blocks only after a collection has cleared their weak references
    def afterGc(): Double = {
      System.gc()
      oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var prev = afterGc()
    var now = prev
    var tries = 0
    do {
      Thread.sleep(200)
      prev = now
      now = afterGc()
      tries += 1
    } while (math.abs(now - prev) > 1.0 && tries < 8)
    heapSamplesMb += now
  }
  val heapSamplesMb = mutable.ArrayBuffer.empty[Double]
  def heapPeakMb: Double = { sampleHeap(); heapSamplesMb.max }

  /** Records the process uptime at a set-up milestone. */
  def mark(milestone: String): Unit =
    report(s"at_${milestone}_s") = Json.num(ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)

  /** A fresh seeded stream for pass `p`. */
  def rng(p: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + p)
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload dashboard|corpus|ingest " +
      "--seed N --seconds S --trace 0|1 --data DIR --work DIR --expected FILE [--record]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--selftest"))) sys.exit(SelfTest.run())
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val record = argv.contains("--record")
    def arg(k: String) = a.getOrElse(k, usage())
    val workload = arg("--workload")
    if (!Set("dashboard", "corpus", "ingest").contains(workload)) usage()
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = arg("--work")
    val expected = Expected.load(arg("--expected"))

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val ctx = new Ctx(spark, arg("--data"), work, seed, seconds,
      new Tracer(trace), stats, expected)
    val code =
      try {
        if (workload == "ingest") Ingest.run(ctx)
        else if (record) Expected.record(ctx, workload, arg("--expected"))
        else ReadBench.run(ctx, workload)
        if (trace) ctx.tracer.write(s"$work/spans.csv")
        emit(ctx, workload, trace)
      } finally spark.stop()
    sys.exit(code)
  }

  /** Prints the report line, then the result line, and returns the exit
    * code: 0 when the run finished, whatever it measured. */
  private def emit(ctx: Ctx, workload: String, trace: Boolean): Int = {
    val rep = ctx.report.map { case (k, v) => s""""$k": $v""" }
    val problems = ctx.problems.take(20).map(Json.str).mkString("[", ", ", "]")
    println(s"""{"report": {"workload": "$workload", "trace": $trace, ${rep.mkString(", ")}, "problems": $problems}}""")
    val m = if (trace) ctx.layers else ctx.e2e
    val timed = ctx.report.get("timed_ops").map(_.toInt).getOrElse(0)
    val timedFailed = ctx.report.get("timed_failed").map(_.toInt).getOrElse(0)
    val attempted = timed + ctx.checks
    val failed = timedFailed + ctx.checkFailures
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${m.json}}""")
    0
  }
}
