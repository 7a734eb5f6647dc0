package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet testdata (TESTDATA.md / FIXTURES.md §A).
  *
  * Schemas are fixed by the generator (seed=42); we read the parquet footer
  * schema directly (explicit, stable) rather than inferring anything. The
  * session is expected to run with `spark.sql.session.timeZone=UTC` so
  * timestamp columns (`o_orderdate`, `l_shipdate`, `events.ts`) are stable
  * against the DuckDB oracle.
  *
  * At 100 TB these reads stay scan-shaped: every query selects/filters before
  * any shuffle so Parquet column pruning + predicate pushdown apply (verify
  * with `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache (r15, extending the r14 footer-schema cache;
    * guide §6/§1.2): `spark.read.parquet` re-infers the footer schema
    * (90-100 ms) AND re-resolves the DataSource — file listing, relation
    * and Dataset construction, analysis — on every call (~13 ms even with
    * an explicit schema; `graft.tools.Probe read`), paid per table reference
    * per timed rep across all 346 bench queries. A production table is
    * resolved ONCE in a catalog and referenced by name; this cache is that
    * catalog behavior for the path-based testdata: it holds the analyzed
    * DataFrame (a logical plan — METADATA; no data, no results), so every
    * invocation still scans and computes from the parquet. Keyed by
    * (session, path, file mtime, file size): different sf dirs never
    * collide, a regenerated fixture at the same path invalidates via
    * mtime/size (the r14 ADVICE staleness item), and a new SparkSession
    * never sees another session's plans. Self-joins of the same cached
    * object are the documented `df.as("a").join(df.as("b"))` shape —
    * DeduplicateRelations re-ids one side (and no call site uses the
    * ambiguous `df1(col) === df2(col)` form; grepped r15). */
  private val relationCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, Long), DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    tune(spark)
    val path = s"$sfDir/$name.parquet"
    val f = new java.io.File(path)
    relationCache.computeIfAbsent((spark, path, f.lastModified, f.length),
      _ => {
        val schema = spark.read.parquet(path).schema
        spark.read.schema(schema).parquet(path)
      })
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` must come out as a session-TZ TIMESTAMP (UTC) whatever the
    * generator wrote. The driver has shipped two encodings across rounds:
    * TIMESTAMP(NANOS) (unreadable by the vectorized reader — [[tune]]'s
    * legacy conf surfaces it as a nanos long, truncated here to micros with
    * integer `DIV`, since 2024 epoch-nanos ≈ 1.7e18 overflows double), and
    * plain TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark infers
    * as TIMESTAMP_NTZ — cast to TIMESTAMP under the pinned UTC session, the
    * identical instants. Dispatch on the footer schema so both keep working
    * and both land on the same micros values DuckDB reads. */
  def events(s: SparkSession, d: String): DataFrame =
    convertEventTs(table(s, d, "events"))

  /** The ts normalization of [[events]], exposed for readers that build the
    * events DataFrame themselves (e.g. the streaming file source). */
  def convertEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already session-TZ TIMESTAMP
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Sessions [[tune]] has installed into. Weak keys (the Boolean values
    * hold no reference back), so a stopped session can be collected. */
  private val tuned = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Runtime confs and native functions every entry point needs, installed
    * ONCE per session (every [[table]] call reaches it, so sessions built
    * outside [[Harness]] get it too). Kept here so Verify/Bench/tests all
    * execute with identical semantics; a conf the caller sets after the
    * install is left alone. */
  def tune(spark: SparkSession): SparkSession = tuned.synchronized {
    if (!tuned.contains(spark)) { install(spark); tuned.add(spark) }
    spark
  }

  private def install(spark: SparkSession): Unit = {
    // Oracle comparisons read our written parquet with DuckDB/pyarrow:
    // INT96 is legacy — write standard micros.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // AQE re-plans shuffles at runtime (coalesce small partitions, split
    // skewed ones) — essential at 100 TB, harmless at sf0.01.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // events.ts is TIMESTAMP(NANOS,false) — read as long, converted in events().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Native functions for sessions built without spark.sql.extensions —
    // the SAME GraftFunctions.all list the extensions entry point consumes
    // (r10: two hand-maintained lists had drifted; extension sessions
    // lacked four functions). Register-once guard: the registry may
    // already hold them (an extensions session), and a blind re-register
    // logs a "replaced a previously registered function" WARN.
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    // Custom whole-operator extension (as-of join): strategy plans the
    // logical node, rules rewrite the SQL marker join and push left-side
    // filters / prune columns through it. experimental methods are the
    // runtime-session analog of GraftExtensions' inject*.
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!exp.extraOptimizations.contains(graft.plans.RewriteAsOfMarkerJoin))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.RewriteAsOfMarkerJoin
    if (!exp.extraOptimizations.contains(graft.plans.PushFilterThroughAsOfJoin))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.PushFilterThroughAsOfJoin
    if (!exp.extraOptimizations.contains(graft.plans.PruneColumnsThroughAsOfJoin))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.PruneColumnsThroughAsOfJoin
    if (!exp.extraOptimizations.contains(graft.plans.RewriteBinnedRangeJoin))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.RewriteBinnedRangeJoin
  }

  /** The safety blocklist behind `blocklist_match` — deliberately tiny:
    * one common token, one absent token (the no-match path), one phrase
    * (the Aho-Corasick tier). */
  val BlocklistTerms: Seq[String] = Seq("slow", "broken", "slow merge")

  /** Fan a small scan out to the session's parallelism before a per-row
    * compute-bound stage (regex chains, minhash/simhash folds). The testdata
    * parquet is written as ONE row group, which Spark cannot split — without
    * this, every signature/regex pass runs in a single task no matter how
    * many cores the session has. At real scale, multi-row-group files split
    * by `spark.sql.files.maxPartitionBytes` and this shuffle would be a
    * no-op to remove; the 5000-row exchange here costs microseconds and buys
    * cores× parallelism. Apply AFTER pushable filters, never between a scan
    * and its predicate. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
