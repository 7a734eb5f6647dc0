package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.SkewOps

/** Storage-layout behaviors that matter at 100 TB: partitioned writes with
  * partition pruning, bucketed tables giving shuffle-free joins, CSV/JSON
  * format round-trips (SURVEY §2.1 S7/S8), and salted skew aggregation. */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("partitioned parquet write; reader prunes partitions on the filter") {
    val dir = tmp("graft-part")
    Tables.orders(spark, sfDir)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("order_year") === 1997)
    back.collect()
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(order_year"),
      s"partition filter must prune directories:\n$plan")
    val expected = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(back.count() == expected)
  }

  test("data skipping: footer index prunes to a strict subset; pruned read touches only kept files") {
    import graft.ops.LayoutOps
    val dir = tmp("graft-skip")
    Tables.lineitem(spark, sfDir)
      .repartitionByRange(16, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dir)
    val index = LayoutOps.footerRangeIndex(spark, dir, "l_shipdate")
    assert(index.size >= 8, s"range layout should produce many files, got ${index.size}")
    assert(index.forall { case (_, mn, mx) =>
      mn != Long.MinValue && mx != Long.MaxValue && mn <= mx },
      "every footer must carry real min/max stats for the cluster column")
    def micros(iso: String): Long =
      java.time.LocalDate.parse(iso).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli * 1000L
    val kept = LayoutOps.pruneByRange(index,
      micros("1995-06-01"), micros("1995-09-01") - 1L)
    assert(kept.nonEmpty && kept.size < index.size,
      s"a 3-month box over 7 years must skip files: kept ${kept.size}/${index.size}")
    // the pruned read really only opens the kept files
    val pruned = spark.read.parquet(kept: _*)
      .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-09-01").cast("timestamp"))
    def norm(p: String) = p.replaceFirst("^file:/+", "/")
    assert(pruned.inputFiles.map(norm).toSet.subsetOf(kept.map(norm).toSet),
      s"pruned read must open only kept files:\n${pruned.inputFiles.mkString("\n")}")
    // lossless: pruned result == full-scan result
    val full = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-09-01").cast("timestamp")).count()
    assert(pruned.count() == full, "skipping must be lossless")
  }

  test("idempotent DDL: CREATE TABLE IF NOT EXISTS + mode(ignore) writes") {
    val dir = tmp("graft-ddl")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    df.write.mode("overwrite").parquet(dir)
    // second write with ignore is the reference's IF NOT EXISTS (database.py:39)
    Seq((9L, "z")).toDF("id", "v").write.mode("ignore").parquet(dir)
    assert(spark.read.parquet(dir).count() == 2, "ignore-mode write must not clobber")
  }

  test("bucketed tables join without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables across JVMs but the warehouse
    // directories persist — clear them or CREATE fails on location-exists
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    for (t <- Seq("b_orders", "b_lineitem")) {
      val p = new java.io.File(warehouse, t)
      if (p.exists()) {
        java.nio.file.Files.walk(p.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side:\n$plan")
  }

  test("CSV and JSON round-trip with explicit schemas (no inferSchema)") {
    val dir = tmp("graft-fmt")
    val docs = Tables.documents(spark, sfDir).limit(50)
      .select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    docs.write.mode("overwrite").json(s"$dir/json")
    val csvBack = spark.read.schema(docs.schema).option("header", "true")
      .csv(s"$dir/csv")
    val jsonBack = spark.read.schema(docs.schema).json(s"$dir/json")
    val want = docs.collect().map(_.toString).sorted.toSeq
    assert(csvBack.collect().map(_.toString).sorted.toSeq == want)
    assert(jsonBack.collect().map(_.toString).sorted.toSeq == want)
  }

  test("ORC round-trip with predicate pushdown reaching the ORC reader") {
    val dir = tmp("graft-orc")
    val orders = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    orders.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).filter(col("o_totalprice") > 300000.0)
    back.collect()
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,300000.0)]"),
      s"ORC scan must receive the pushed predicate:\n$plan")
    assert(back.count() ==
      orders.filter(col("o_totalprice") > 300000.0).count())
  }

  test("salted aggregation equals direct aggregation on a skewed frame") {
    // 90% of rows share one key — the classic hot-key shape
    val skewed = spark.range(10000)
      .select(when(col("id") % 10 < 9, lit("hot")).otherwise(lit("cold")).as("k"),
        (col("id") % 97).cast("double").as("v"))
    val direct = skewed.groupBy("k")
      .agg(sum(col("v")).as("total"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedSumCount(skewed, col("k"), 16, col("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("custom DSv2 source: partition-per-page, column pruning reaches the reader") {
    val df = spark.read.format("graft.sources.PageSource")
      .option("pages", "5").load()
    assert(df.count() == 300)
    assert(df.rdd.getNumPartitions == 5, "one InputPartition per page")
    val pruned = df.select("page")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("cols=page"), s"pruneColumns must reach the scan:\n$plan")
  }

  test("custom DSv2 source: page predicates prune InputPartitions at planning") {
    val df = spark.read.format("graft.sources.PageSource")
      .option("pages", "10").load()
    val one = df.filter(col("page") === 7)
    assert(one.rdd.getNumPartitions == 1, "equality must plan exactly one page")
    assert(one.count() == 60)
    val range = df.filter(col("page") >= 2 && col("page") < 5)
    assert(range.rdd.getNumPartitions == 3, "range must plan only its pages")
    assert(range.count() == 180)
    range.collect()
    val plan = range.queryExecution.executedPlan.toString
    assert(plan.contains("pages=2..4"), s"pruned page range must reach the scan:\n$plan")
    // residual predicates on other columns still work post-scan
    assert(df.filter(col("page") === 7 && col("idx") < 10).count() == 10)
  }

  test("schema evolution: mergeSchema reads old and new writer generations together") {
    // the 100 TB lake reality: a column added mid-corpus. Old files must
    // surface NULL for it, new files their values, under one schema.
    val dir = tmp("graft-evolve")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/gen=1")
    Seq((2L, "b", 0.5)).toDF("id", "v", "score").write.parquet(s"$dir/gen=2")
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.columns.toSet == Set("id", "v", "score", "gen"))
    val rows = back.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(0.5)),
      "pre-evolution files must read the new column as NULL")
  }

  test("output sizing: maxRecordsPerFile bounds file size on write") {
    // small-files/giant-files control for the write path: a 1000-row
    // partition with maxRecordsPerFile=300 must split into ceil(1000/300)
    // files, so downstream scan parallelism is bounded by config, not luck
    val dir = tmp("graft-sizing")
    spark.range(1000).toDF("id").coalesce(1)
      .write.option("maxRecordsPerFile", 300).mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 4, s"expected 4 files of <=300 records, got $files")
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("custom DSv2 source: out-of-Int-range page predicates are not absorbed") {
    val df = spark.read.format("graft.sources.PageSource")
      .option("pages", "10").load()
    // 4294967298L truncates to int 2 — an absorbed-but-truncated filter
    // would wrongly plan pages 3..9; the source must decline it so Spark
    // evaluates the comparison itself (no page exceeds it → zero rows)
    assert(df.filter(col("page") > 4294967298L).count() == 0)
    assert(df.filter(col("page") <= 5000000000L).count() == 600,
      "declined upper bound keeps all pages")
    // fractional comparisons likewise stay with Spark, evaluated exactly
    assert(df.filter(col("page") > 2.5).count() == 7 * 60)
  }
}
