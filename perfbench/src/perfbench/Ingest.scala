package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{ParseOps, SkillOps, UpsertOps}
import graft.sources.PageSource
import graft.streaming.{JdbcShapedSink, JdbcUpsertSink}

/** Seeded listing pages, shaped after the reference's daily scrape
  * (BASELINE.md): one micro-batch is one search page of
  * [[PageSource.PerPage]] = 60 listings (`EXPECTED_PER_PAGE`,
  * pracuj_scraper.py:16), and a daily run is [[Listings.PagesPerRun]] = 5
  * pages, 300 listings, the top of the 100-300 jobs a run handles. From
  * the second page on, [[Listings.Rescrapes]] of a page's listings are
  * re-scrapes of keys seen on earlier pages, each carrying version `b + 1`
  * so a re-scrape is always newer; the rest are never-seen keys. No source
  * gives a re-scrape share: 12 of 60 (20%) is a chosen value. The seed
  * picks which keys are re-scraped. Text comes from a fixed pool of
  * `documents` texts, new keys taking them in order, so seeds differ in
  * re-scrapes, not in the texts every run ingests; a re-scrape takes
  * another text, as an edited listing would. A text is cut to its first
  * [[Listings.TextWords]] words, which match about 10 dictionary skills,
  * the ~10 skill rows per job BASELINE.md records; whole texts of the
  * skill-dense fixture match about 20. Salary strings come from
  * `PageSource`. A page is a pure function of (seed, b), so the final
  * state can be recomputed from scratch. */
final class Listings(docs: IndexedSeq[String], seed: Long) {
  import Listings._

  private val pool = docs.take(PoolSize).map(_.split(' ').take(TextWords).mkString(" "))

  def rows(b: Int): Seq[Row] = {
    val rng = new scala.util.Random(seed * 7919L + b)
    val seen = firstFresh(b)
    val again = if (seen == 0) Seq.empty
      else Iterator.continually(rng.nextInt(seen)).distinct.take(math.min(Rescrapes, seen)).toSeq
    val fresh = seen until seen + PageSource.PerPage - again.size
    (fresh ++ again).map { g =>
      val text = pool((g + 7 * (b - page(g))) % pool.size)
      Row(PageSource.jobId(g), b + 1L, PageSource.title(g), text, PageSource.salaryText(g + b))
    }
  }

  def raw(spark: SparkSession, bs: Seq[Int]): DataFrame =
    spark.createDataFrame(bs.flatMap(rows).asJava, RawSchema)
}

object Listings {
  val PagesPerRun = 5
  val Rescrapes = 12
  val PoolSize = 600
  val TextWords = 15
  private val FreshPerPage = PageSource.PerPage - Rescrapes

  /** The first never-seen key of page `b`: page 0 is all new. */
  def firstFresh(b: Int): Int = if (b == 0) 0 else PageSource.PerPage + (b - 1) * FreshPerPage

  /** The page on which key `g` was first seen. */
  def page(g: Int): Int = if (g < PageSource.PerPage) 0 else 1 + (g - PageSource.PerPage) / FreshPerPage

  val RawSchema: StructType = StructType(Seq(
    StructField("job_id", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("salary_text", StringType, nullable = false)))

  /** Parse and match, the listing path before persistence. */
  def parsed(raw: DataFrame): DataFrame =
    ParseOps.withSalaryParsed(raw, col("salary_text"), "salary_min", "salary_max")
      .withColumn("yoe", ParseOps.yoeExtract(col("text")))
      .withColumn("skills", SkillOps.textMatchArray(col("text")))
      .select("job_id", "version", "title", "salary_min", "salary_max", "yoe", "skills")

  def listings(p: DataFrame): DataFrame =
    p.withColumn("skills", array_join(col("skills"), ","))

  def facts(p: DataFrame): DataFrame =
    p.select(col("job_id"), explode(col("skills")).as("skill"))

  val ListingCols: Seq[String] =
    Seq("job_id", "version", "title", "salary_min", "salary_max", "yoe", "skills")
}

/** The three sinks of one ingest target: keyed upsert over JDBC (in-memory
  * Derby), the same upsert on the filesystem, and the dup-tolerant append
  * of skill facts. */
final class Sinks(val name: String, work: String) {
  val url = s"jdbc:derby:memory:$name;create=true"
  val jdbc = new JdbcUpsertSink(url, "listings", Seq("job_id"), "version")
  val skills = new JdbcUpsertSink(url, "job_skills", Seq("job_id", "skill"), "job_id")
  val dir: Path = Paths.get(work, name, "listings")
  val fs = new JdbcShapedSink(dir.toString, Seq("job_id"), "version")

  def drop(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: SQLException => () } // Derby reports a completed drop as 08006
}

/** One ingest op: parse and match one batch, then commit it to all sinks. */
final class BatchOp(spark: SparkSession, gen: Listings, sinks: Sinks, b: Int,
    plans: mutable.Map[Int, PlanTrace], written: mutable.Map[Int, Long]) extends Op {
  val key = "batch"

  def run(id: Int, t: Tracer): Outcome = {
    val sc = spark.sparkContext
    try {
      sc.setJobGroup(s"op$id:build", key, false)
      val p = t.span(id, "ops") {
        val df = Listings.parsed(gen.raw(spark, Seq(b)))
        val cp = df.localCheckpoint()
        if (t.enabled) {
          val qe = df.queryExecution
          def phase(n: String) = qe.tracker.phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
          plans(id) = PlanTrace(phase("analysis"), phase("optimization"), phase("planning"),
            PlanShape.collectWithSubqueries(qe.executedPlan) { case x => x }.size, 0)
        }
        cp
      }
      val rows = Listings.listings(p)
      sc.setJobGroup(s"op$id:jdbc_commit", key, false)
      t.span(id, "streaming.jdbc_commit")(sinks.jdbc.writeBatch(rows, b))
      sc.setJobGroup(s"op$id:fs_commit", key, false)
      t.span(id, "streaming.fs_commit")(sinks.fs.writeBatch(rows, b))
      sc.setJobGroup(s"op$id:jdbc_append", key, false)
      t.span(id, "streaming.jdbc_append")(
        sinks.skills.appendIgnoreDupes(Listings.facts(p), Seq("job_id", "skill")))
      if (t.enabled) written(id) = Ingest.dataDirBytes(sinks.dir, b)
      Outcome(gen.rows(b).size, ok = true)
    } finally sc.clearJobGroup()
  }
}

object Ingest {
  val ReplayIds = 3
  /** Seconds a page is taken to last: `--seconds 10` commits one daily run,
    * five pages. */
  val NominalPageS = 2.0

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes of the data directory the filesystem sink wrote for batch `b`. */
  def dataDirBytes(dir: Path, b: Int): Long = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.startsWith(s"data-b$b-"))
      .map(bytesUnder).sum
    finally s.close()
  }

  private def digest(df: DataFrame, cols: Seq[String]): Digest =
    Digest.of(df.select(cols.map(c => col(c).cast("string")): _*))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    System.setProperty("derby.stream.error.file", s"${ctx.work}/derby.log")
    ctx.mark("session")
    val (coldMs, warmMs) = ReadBench.resolve(ctx, Seq("documents"))
    val docs = Tables.documents(spark, ctx.dir).orderBy("doc_id").select("text")
      .collect().map(_.getString(0)).toIndexedSeq
    val gen = new Listings(docs, ctx.seed)
    val plans = mutable.Map.empty[Int, PlanTrace]
    val written = mutable.Map.empty[Int, Long]

    // set-up commits yesterday's daily run, untimed; the timed phase then
    // commits today's pages on top of it
    val sinks = new Sinks("perfbench_run", ctx.work)
    (0 until Listings.PagesPerRun).foreach { b =>
      val s = Loop.attempt(new BatchOp(spark, gen, sinks, b, plans, written), -1 - b,
        new Tracer(false))
      ctx.check(s.ok, s"yesterday's page $b: ${s.error}")
    }
    ctx.mark("warmed")

    val samples = Timed.run(ctx,
      p => Seq(new BatchOp(spark, gen, sinks, Listings.PagesPerRun + p, plans, written)),
      firstId = 1, NominalPageS)
    // pass p of the loop was page PagesPerRun + p, run as op p + 1
    val today = samples.map(Listings.PagesPerRun + _.id - 1).sorted
    val committed = (0 until Listings.PagesPerRun) ++ today
    verify(ctx, gen, sinks, committed)
    val liveFiles = sinks.fs.table(spark).toSeq.flatMap(_.inputFiles)
    val live = liveFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    val rowsOk = samples.filter(_.ok).map(_.rows).sum
    ctx.report("rows_per_s") = Json.num(rowsOk / (ctx.report("timed_s").toDouble))
    ctx.report("space_amp") = Json.num(bytesUnder(sinks.dir).toDouble / math.max(1L, live))
    ctx.report("pages") = today.size.toString
    ctx.report("listings") = today.map(gen.rows(_).size).sum.toString
    if (ctx.tracer.enabled) {
      val one = s"${ctx.work}/batch-parquet"
      Listings.listings(Listings.parsed(gen.raw(spark, Seq(committed.last))))
        .write.mode("overwrite").parquet(one)
      val batchBytes = bytesUnder(Paths.get(one)).toDouble
      val amp = samples.filter(_.ok).flatMap(s => written.get(s.id)).map(_ / batchBytes)
      val skips = replays(ctx, gen, sinks, today)
      ctx.stats.drain(sc)
      Layers.fill(ctx, samples, plans.toMap, coldMs, warmMs,
        Kernels.measure(ctx, Seq("term_match_array"),
          gen.raw(spark, committed.take(5)).select("text")),
        Some(Layers.StreamFigures(if (amp.isEmpty) 0.0 else amp.sum / amp.size, skips)))
    } else {
      replays(ctx, gen, sinks, today)
      Timed.heap(ctx)
    }
    sinks.drop()
  }

  /** The final tables must equal `UpsertOps.upsertLatest` applied once to
    * every generated batch, and the skill facts their distinct union. */
  private def verify(ctx: Ctx, gen: Listings, sinks: Sinks, bs: Seq[Int]): Unit = {
    val spark = ctx.spark
    val all = Listings.parsed(gen.raw(spark, bs))
    val lst = Listings.listings(all)
    val want = digest(UpsertOps.upsertLatest(lst.filter(lit(false)), lst,
      Seq("job_id"), "version"), Listings.ListingCols)
    val jdbc = digest(sinks.jdbc.table(spark), Listings.ListingCols)
    ctx.check(jdbc == want, s"jdbc listings $jdbc, expected $want")
    val fs = sinks.fs.table(spark).map(digest(_, Listings.ListingCols))
    ctx.check(fs.contains(want), s"fs listings $fs, expected $want")
    val wantFacts = digest(Listings.facts(all).distinct(), Seq("job_id", "skill"))
    val facts = digest(sinks.skills.table(spark), Seq("job_id", "skill"))
    ctx.check(facts == wantFacts, s"skill facts $facts, expected $wantFacts")
    ctx.report("skills_per_listing") =
      Json.num(all.agg(avg(size(col("skills")))).head().getDouble(0))
  }

  /** Re-delivers a few committed batch ids. Each must be skipped by both
    * keyed sinks (no job runs) and leave every table unchanged. Returns the
    * number of skipped deliveries. */
  private def replays(ctx: Ctx, gen: Listings, sinks: Sinks, bs: Seq[Int]): Int = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    if (!ctx.tracer.enabled) sc.addSparkListener(ctx.stats)
    def state() = (digest(sinks.jdbc.table(spark), Listings.ListingCols),
      sinks.fs.table(spark).map(digest(_, Listings.ListingCols)),
      digest(sinks.skills.table(spark), Seq("job_id", "skill")))
    val before = state()
    val ids = Seq(bs.head, bs(bs.size / 2), bs.last).distinct.take(ReplayIds)
    ids.foreach { b =>
      val p = Listings.parsed(gen.raw(spark, Seq(b))).localCheckpoint()
      val rows = Listings.listings(p)
      sc.setJobGroup(s"replay:$b:jdbc", "replay", false)
      sinks.jdbc.writeBatch(rows, b)
      sc.setJobGroup(s"replay:$b:fs", "replay", false)
      sinks.fs.writeBatch(rows, b)
      sc.setJobGroup(s"replay:$b:append", "replay", false)
      sinks.skills.appendIgnoreDupes(Listings.facts(p), Seq("job_id", "skill"))
      sc.clearJobGroup()
    }
    ctx.stats.drain(sc)
    val skips = ids.map(b => Seq("jdbc", "fs").count(s => ctx.stats.sum(s"replay:$b:$s").jobs == 0)).sum
    ctx.check(skips == 2 * ids.size, s"replayed ${2 * ids.size} deliveries, $skips skipped")
    val after = state()
    ctx.check(after == before, s"replays changed the tables: $before -> $after")
    if (!ctx.tracer.enabled) sc.removeSparkListener(ctx.stats)
    skips
  }
}
